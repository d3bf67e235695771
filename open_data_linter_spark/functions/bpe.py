"""Distributed BPE tokenizer training + encoding.

Byte-pair-encoding merge learning (Sennrich et al., "Neural Machine
Translation of Rare Words with Subword Units", arXiv 1508.07909 §3.2) is
the corpus-level pass every tokenizer build starts from. The classic
implementation trick makes it tractable at 100 TB: BPE statistics depend
only on the WORD-FREQUENCY TABLE, so the corpus is touched exactly ONCE
(the same one-shuffle word count as functions/vocab.py) and every merge
round after that runs over the distinct-word table — millions of rows,
not trillions.

After the word count, training runs on ONE of two paths:

- **Driver-side (the default whenever the distinct-word table fits,
  probed with a short-circuiting ``limit(cap+1).count()``)**: collect
  (word, cnt) once and run the classic incremental merge loop in pure
  Python — a lazy max-heap over pair counts plus a pair→words index, so
  each merge touches only the words that contain the winning pair.
  Real-vocab trains (32k merges) are then one Spark shuffle + one collect
  + CPU-bound driver work, NOT 32k sequential Spark jobs. This is how
  every production BPE trainer works precisely because the statistics
  live on the distinct-word table, which is million-scale even when the
  corpus is 100 TB.
- **Distributed fallback (word table above the cap)**, per merge round:
  pair counts via ``arrays_zip`` of two slices, explode, one
  ``groupBy(left, right)`` shuffle with map-side partial aggregation over
  the WORD table only; winner by ``orderBy(count desc, left asc, right
  asc).limit(1)`` collected to the driver (one row; total tie-break makes
  training deterministic); merge application as a Catalyst ``F.aggregate``
  fold with a (out, pending) struct accumulator — whole-stage JVM, no
  UDF. ("aaa" with merge (a,a) -> ["aa","a"]; a merged symbol does not
  re-pair within its own round, the standard greedy semantics.) Lineage
  discipline: the evolving word table feeds two consumers per round, so a
  lazy persist doubles the plan tree per round and Catalyst re-analysis
  explodes — ``localCheckpoint`` per round with materialize-then-release
  generation handoff, the standard iterative-operator lesson.

Both paths are exactly equivalent (same weighted pair statistics, same
count-desc/left-asc/right-asc total order, same greedy merge semantics;
UTF-8 binary string order == code-point order, so Spark's asc and
Python's ``<`` agree) — tests/test_bpe.py pins driver == distributed ==
an independent pure-Python reference on the same corpus.

Words are symbolized as their characters plus a terminal end-of-word
marker ``</w>`` (the Sennrich formulation), so merges learned here never
cross word boundaries and frequent whole words eventually become single
symbols ending in ``</w>``.

Training is fully deterministic (total order on winners), so the driver
query pins the merge table as an engine-deterministic VALUES oracle
(fleet/HLL-matrix convention); tests/test_bpe.py additionally replays
training and encoding against an independent pure-Python BPE and asserts
byte equality.

The reference (volare-all/open-data-linter) has no tokenizer training;
this extends the engine per the training-data-pipeline mandate.
"""

from __future__ import annotations

# module-top pd/np: function-local imports break @pandas_udf type-hint
# resolution under `from __future__ import annotations` (CLAUDE.md)
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from open_data_linter_spark.functions.text import ws_tokens

EOW = "</w>"  # terminal end-of-word symbol (Sennrich formulation)


def _word_counts(df: DataFrame, text_col: str) -> DataFrame:
    """One corpus shuffle: whitespace word -> count (the vocab.py
    tokenize contract: trim/lower/split, empty docs contribute nothing)."""
    c = F.col(text_col)
    toks = ws_tokens(c)
    return (
        df.select(F.explode(toks).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def _merge_fold(syms: Column, left: str, right: str) -> Column:
    """Greedy left-to-right non-overlapping merge of adjacent (left,
    right) into left+right, as a pure Catalyst aggregate fold."""
    merged = F.lit(left + right)
    acc0 = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("pend"),
    )

    def step(acc, s):
        hit = acc["pend"].eqNullSafe(F.lit(left)) & (s == F.lit(right))
        return F.struct(
            F.when(hit, F.concat(acc["out"], F.array(merged)))
            .otherwise(
                F.when(
                    acc["pend"].isNull(), acc["out"]
                ).otherwise(F.concat(acc["out"], F.array(acc["pend"])))
            )
            .alias("out"),
            F.when(hit, F.lit(None).cast("string")).otherwise(s).alias("pend"),
        )

    def finish(acc):
        return F.when(
            acc["pend"].isNull(), acc["out"]
        ).otherwise(F.concat(acc["out"], F.array(acc["pend"])))

    return F.aggregate(syms, acc0, step, finish)


# driver-side training is the default up to this many DISTINCT words
# (the driver holds symbols + pair index for them; ~1 GB at the cap).
# Distinct words, not corpus rows: a 100 TB corpus still fits.
DRIVER_WORD_CAP = 1_000_000


def _train_driver_side(
    word_counts: list[tuple[str, int]],
    n_merges: int,
    min_pair_count: int,
) -> list[tuple[int, str, str, int]]:
    """Incremental merge loop over a collected word-frequency table.

    Lazy max-heap over weighted pair counts: every count change pushes a
    fresh (-count, left, right) entry; a popped entry is a valid winner
    iff it still equals the pair's live count (the last push for any pair
    always does, so no positive-count pair is ever lost). The pair→word
    index plus neighbor-delta accounting (a merge occurrence only touches
    the destroyed pair and its two neighbor adjacencies) keeps per-merge
    work proportional to occurrences of the winning pair, not vocab size;
    heap pushes are batched once per round per changed pair."""
    import heapq

    words: list[tuple[list[str], int]] = [
        (list(w) + [EOW], int(c)) for w, c in word_counts
    ]
    pair_counts: dict[tuple[str, str], int] = {}
    occurs: dict[tuple[str, str], set[int]] = {}
    for i, (syms, cnt) in enumerate(words):
        for p in zip(syms, syms[1:]):
            pair_counts[p] = pair_counts.get(p, 0) + cnt
            occurs.setdefault(p, set()).add(i)
    heap = [(-c, l, r) for (l, r), c in pair_counts.items()]
    heapq.heapify(heap)
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        best = None
        while heap:
            negc, l, r = heap[0]
            live = pair_counts.get((l, r), 0)
            if live > 0 and live == -negc:
                best = (l, r, live)
                break
            heapq.heappop(heap)  # stale entry (count has changed since push)
        if best is None or best[2] < min_pair_count:
            break
        l, r, c = best
        merges.append((rank, l, r, c))
        lr = l + r
        deltas: dict[tuple[str, str], int] = {}
        # occurs may hold stale indices (word changed since insertion) —
        # the containment pre-filter and the scan both no-op on those
        for i in occurs.pop((l, r), ()):
            syms, cnt = words[i]
            if l not in syms:
                continue
            out: list[str] = []
            j, n = 0, len(syms)
            changed = False
            while j < n:
                if j + 1 < n and syms[j] == l and syms[j + 1] == r:
                    # greedy merge at j: the destroyed adjacencies are
                    # (out[-1], l) — out[-1] is the LIVE left neighbor,
                    # counted either originally or by a previous round-
                    # local increment — (l, r) itself, and (r, syms[j+2])
                    if out:
                        prev = out[-1]
                        deltas[(prev, l)] = deltas.get((prev, l), 0) - cnt
                        p = (prev, lr)
                        deltas[p] = deltas.get(p, 0) + cnt
                        occurs.setdefault(p, set()).add(i)
                    deltas[(l, r)] = deltas.get((l, r), 0) - cnt
                    if j + 2 < n:
                        nxt = syms[j + 2]
                        deltas[(r, nxt)] = deltas.get((r, nxt), 0) - cnt
                        p = (lr, nxt)
                        deltas[p] = deltas.get(p, 0) + cnt
                        occurs.setdefault(p, set()).add(i)
                    out.append(lr)
                    changed = True
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            if changed:
                words[i] = (out, cnt)
        for p, d in deltas.items():
            if d == 0:
                continue
            nc = pair_counts.get(p, 0) + d
            pair_counts[p] = nc
            if nc > 0 and p != (l, r):
                heapq.heappush(heap, (-nc, p[0], p[1]))
    return merges


def bpe_train(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_pair_count: int = 2,
    driver_word_cap: int = DRIVER_WORD_CAP,
) -> list[tuple[int, str, str, int]]:
    """Learn ``n_merges`` BPE merges; returns [(rank, left, right,
    pair_count)] in learned order. Stops early when the best remaining
    pair's weighted count drops below ``min_pair_count``.

    When the distinct-word table holds at most ``driver_word_cap`` rows
    (probed with a short-circuiting ``limit``-count), the merge loop runs
    driver-side over the collected table — one corpus shuffle + one
    collect total, so 32k-merge trains don't become 32k sequential Spark
    jobs. Pass ``driver_word_cap=0`` to force the distributed per-round
    loop."""
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    from open_data_linter_spark.dedup._cache import nudge_context_cleaner

    spark = df.sparkSession
    wc = _word_counts(df, text_col)
    if (
        driver_word_cap
        and wc.limit(driver_word_cap + 1).count() <= driver_word_cap
    ):
        rows = wc.collect()
        return _train_driver_side(
            [(r["word"], r["cnt"]) for r in rows], n_merges, min_pair_count
        )
    words = wc.select(
        "cnt",
        # split("", word) yields exactly the characters in Spark 4 (no
        # trailing empty element — probed); append the terminal marker
        F.concat(F.split(F.col("word"), ""), F.array(F.lit(EOW))).alias(
            "syms"
        ),
    )
    # one generation per round; materialize-then-release handoff so round
    # r+1 never recomputes rounds 1..r (lineage stays one round deep)
    cur = words.localCheckpoint(eager=True)
    merges: list[tuple[int, str, str, int]] = []
    try:
        for rank in range(1, n_merges + 1):
            n = F.size(F.col("syms"))
            pairs = (
                cur.where(n >= 2)
                .select(
                    "cnt",
                    F.explode(
                        F.arrays_zip(
                            F.slice(F.col("syms"), 1, n - 1).alias("l"),
                            F.slice(F.col("syms"), 2, n - 1).alias("r"),
                        )
                    ).alias("p"),
                )
                .groupBy(
                    F.col("p.l").alias("left"), F.col("p.r").alias("right")
                )
                .agg(F.sum("cnt").alias("pair_count"))
            )
            top = pairs.orderBy(
                F.desc("pair_count"), F.asc("left"), F.asc("right")
            ).limit(1).collect()
            if not top or top[0].pair_count < min_pair_count:
                break
            l, r, c = top[0].left, top[0].right, int(top[0].pair_count)
            merges.append((rank, l, r, c))
            nxt = cur.select(
                "cnt", _merge_fold(F.col("syms"), l, r).alias("syms")
            ).localCheckpoint(eager=True)
            # drop-and-nudge, NOT unpersist: checkpoint blocks are not in
            # the CacheManager, so unpersist() is a no-op on them —
            # ContextCleaner (weak refs + GC) is the release path
            cur = nxt
            nudge_context_cleaner(spark)
    finally:
        del cur
        nudge_context_cleaner(spark)
    return merges


def bpe_merges_df(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_pair_count: int = 2,
) -> DataFrame:
    """``bpe_train`` as a DataFrame (merge_rank, left, right, pair_count)
    — the driver-query surface."""
    spark = df.sparkSession
    rows = bpe_train(df, n_merges, text_col, min_pair_count)
    return spark.createDataFrame(
        rows, "merge_rank int, left string, right string, pair_count long"
    ).orderBy("merge_rank")


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[int, str, str, int]] | list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Apply a learned merge list: per word, replay merges in rank order
    (greedy left-to-right within each rank — the exact training
    semantics, so encoding the training corpus reproduces the final
    training symbolization). Arrow-batched pandas UDF with a per-batch
    distinct-word cache — the corpus is never shuffled; encoding is an
    embarrassingly parallel projection."""
    ranked = [
        (m[1], m[2]) if len(m) >= 4 else (m[0], m[1]) for m in merges  # type: ignore[misc]
    ]
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def _enc(texts: pd.Series) -> pd.Series:
        cache: dict[str, list[str]] = {}

        def enc_word(w: str) -> list[str]:
            got = cache.get(w)
            if got is None:
                got = cache[w] = apply_merges(list(w) + [EOW], ranked)
            return got

        from open_data_linter_spark.functions.text import java_ws_tokens

        out = []
        for t in texts:
            toks: list[str] = []
            # java_ws_tokens, NOT str.split(): training tokenizes with
            # Java \s+ (ASCII); Python's Unicode split would cut words
            # at NBSP/ideographic spaces training treated as symbols,
            # breaking encode(train corpus) == training symbolization
            for w in java_ws_tokens(t):
                toks.extend(enc_word(w))
            out.append(toks)
        return pd.Series(out)

    return df.withColumn(out_col, _enc(F.col(text_col)))


def apply_merges(
    syms: list[str], ranked: list[tuple[str, str]]
) -> list[str]:
    """Pure-Python single-word merge replay (shared by the encode UDF and
    tests): for each (left, right) in rank order, greedy left-to-right
    non-overlapping replacement — byte-identical to ``_merge_fold``."""
    for left, right in ranked:
        out: list[str] = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                out.append(left + right)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms
