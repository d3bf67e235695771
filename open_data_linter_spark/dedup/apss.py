"""All-pairs similarity search (APSS) with prefix filtering — exact Jaccard.

The inverted-index join in ``dedup/jaccard.py`` indexes EVERY token, so its
join size is bounded only by the hot-token cap (which makes it lossy).
Prefix filtering (Chaudhuri/Ganti/Kaushik SSJoin'06; Bayardo/Ma/Srikant
WWW'07) keeps exactness while shrinking the index: order all tokens by a
global rarity rank (ascending document frequency, token as tie-break) and
index only each document's first ``|d| - ceil(t*|d|) + 1`` tokens. Any pair
with Jaccard >= t must share at least one token inside BOTH prefixes:

  J(A,B) >= t  =>  |A∩B| >= ceil(t*(|A|+|B|)/(1+t)) >= ceil(t*max(|A|,|B|))
  (the last step needs min >= t*max, which every pair meeting the threshold
  satisfies), and an overlap of a forces the (|d|-a+1)-prefixes to intersect.

So the candidate join touches only the RAREST tokens of each document — the
index is naturally skew-resistant (the near-universal tokens that create hot
keys in the full inverted index never enter a low-threshold prefix), and no
df cap / bucket cap is needed for correctness. Candidates then pass a length
filter (min >= t*max) and exact hashed-set verification.

Output is byte-identical to exact all-pairs Jaccard over the distinct
whitespace token sets — the driver oracle recomputes it as a full DuckDB
all-pairs twin (no pin).

Scale: the expensive stages are (1) the token-df aggregation (one shuffle,
map-side partials), (2) the per-doc rarity sort (one shuffle on id), (3) the
prefix join over DISTINCT token sets (round 6: docs sharing a token set are
grouped first — Jaccard is a set function, so candidate generation +
verification run once per distinct set and member ids are expanded back at
the end; verification happens INSIDE the candidate join's condition, after
a length filter and the exact ppjoin positional filter (Xiao/Wang/Lin/Yu
WWW'08), so raw candidates are never materialized or shuffled), (4) the
final member expansion (narrow rows, generated in place).
The reference (volare-all/open-data-linter) has no similarity ops at all;
this extends the engine per the training-data-pipeline mandate, sharing the
tokenization contract with ``functions/text.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from open_data_linter_spark.dedup._cache import persist_scoped, spread_and_pin
from open_data_linter_spark.functions.text import ws_tokens

# Small-vocabulary bitmask path cap (4 x 64-bit words): above this the
# hashed-array representation is used (bit positions stop paying for
# themselves and the mask columns stop being a handful of longs).
_V_CAP = 256


def apss_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard pairs (id_a < id_b, jaccard >= threshold) over distinct
    lowercased whitespace tokens, via prefix-filtered candidate generation.

    ``threshold`` must be in (0, 1]; lower thresholds lengthen the prefix
    (t -> 0 degenerates to the full inverted index), so this shape is most
    effective at t >= ~0.4.

    Input contract: ``id_col`` is unique (same as dedup/minhash.py) —
    duplicate id rows would merge their token sets in the per-doc groupBy.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    src = spread_and_pin(
        "apss.src",
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t")),
    )
    toks = src.select(
        "id", F.array_distinct(ws_tokens(F.col("__t"))).alias("toks")
    ).where(F.size("toks") > 0)
    exploded = toks.select("id", F.explode("toks").alias("tok"))
    # Global rarity order: ascending document frequency, token string as the
    # deterministic tie-break. No materialized rank column (a global
    # row_number would serialize on one partition) — the (tdf, tok) struct
    # IS the sort key.
    dfc = exploded.groupBy("tok").agg(F.count(F.lit(1)).alias("tdf"))
    # explicit fixed-count width under the sort-fold: the (id, tdf, tok)
    # rows are tiny, so AQE byte-coalescing would run the per-doc
    # array_sort(collect_list) on ONE task; collect_list partials reduce
    # nothing, so the pinned repartition shuffles the same bytes the
    # groupBy would have
    par = df.sparkSession.sparkContext.defaultParallelism
    t_lit = F.lit(float(threshold))

    # ---- round 6: vocabulary-adaptive representation. A tiny global
    # vocabulary (the regime that ALSO makes prefix tokens hot) lets every
    # token set live as <= _V_CAP/64 bitmask words: set intersection
    # becomes bit_count(a & b) — pure codegen, ~100x cheaper per enumerated
    # candidate than an array_intersect hash-set build — and the per-doc
    # state is 4 longs instead of a string array. The probe is one
    # limit(cap+1) head collect (the rate.robust_z auto-probe pattern);
    # above the cap the general hashed-array path below runs unchanged.
    # Rank order (tdf asc, tok asc) is the same rarity order the general
    # path sorts by, so prefixes — and therefore candidates — are
    # identical; correctness needs only SOME consistent global order.
    head = dfc.limit(_V_CAP + 1).collect()
    if len(head) <= _V_CAP:
        vocab = sorted((row["tdf"], row["tok"]) for row in head)
        mapping = df.sparkSession.createDataFrame(
            [(tok, i) for i, (_tdf, tok) in enumerate(vocab)],
            "tok string, rank int",
        )
        ranked = (
            exploded.join(F.broadcast(mapping), "tok")
            .repartition(par, "id")
            .groupBy("id")
            .agg(F.sort_array(F.collect_list("rank")).alias("ranks"))
        )
        sets = ranked.groupBy("ranks").agg(
            F.sort_array(F.collect_list("id")).alias("ids")
        )
        n = F.size("ranks")
        prefix_len = (n - F.ceil(t_lit * n) + 1).cast("int")
        words = max(1, (len(head) + 63) // 64)
        # power-of-two lookup: F.shiftleft takes only a LITERAL shift, so
        # the per-rank bit comes from a 64-literal array (bit 63 = sign)
        pow2 = F.array(
            *[F.lit((1 << b) if b < 63 else -(1 << 63)) for b in range(64)]
        )

        def mask_word(w: int):
            return F.aggregate(
                F.filter(
                    F.col("ranks"), lambda rk: F.shiftright(rk, 6) == F.lit(w)
                ),
                F.lit(0).cast("long"),
                lambda acc, rk: acc.bitwiseOR(
                    F.element_at(pow2, rk.bitwiseAND(F.lit(63)) + 1)
                ),
            )

        pref = sets.select(
            F.element_at("ids", 1).alias("gid"),
            "ids",
            n.alias("n_toks"),
            *[mask_word(w).alias(f"m{w}") for w in range(words)],
            F.slice("ranks", F.lit(1), prefix_len).alias("prefix"),
        )
        pref = persist_scoped("apss.pref", pref)
        index = pref.select(
            "gid",
            "n_toks",
            *[f"m{w}" for w in range(words)],
            F.posexplode("prefix").alias("pos", "tok"),
        )
        l, r = index.alias("l"), index.alias("r")
        inter_g = sum(
            F.bit_count(
                F.col(f"l.m{w}").bitwiseAND(F.col(f"r.m{w}"))
            )
            for w in range(words)
        ).cast("double")
        return _prefix_join_and_expand(l, r, inter_g, pref, t_lit, par)

    ordered = (
        exploded.join(dfc, "tok")
        .repartition(par, "id")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("tdf", "tok"))).alias("st"))
    )
    # ---- round 6: identical-token-set grouping (guide §2.3 "shuffle keys
    # and metadata instead of payloads", §1.2 "fix the algorithm first").
    # Jaccard is a function of the token SET alone, and real corpora (and
    # this one: 50k docs -> 33.9k distinct sets at sf1.0, one set shared
    # by 2,512 docs) repeat sets heavily — so every stage from candidate
    # generation to verification runs once per DISTINCT set, and doc-level
    # pairs are restored by expanding group members at the very end.
    # Grouping is by the full rarity-sorted (tdf, tok) array — exact, no
    # hash-collision caveat (tdf is a global token function, so equal sets
    # always build equal arrays).
    sets = ordered.groupBy("st").agg(
        F.sort_array(F.collect_list("id")).alias("ids")
    )
    n = F.size("st")
    # prefix length |d| - ceil(t*|d|) + 1 (>= 1 for t <= 1)
    prefix_len = (n - F.ceil(F.lit(float(threshold)) * n) + 1).cast("int")
    pref = sets.select(
        F.element_at("ids", 1).alias("gid"),  # group id = min member id
        "ids",
        n.alias("n_toks"),
        # hashed token set for verification — only array<long> is persisted
        # and shuffled past this point (same rationale as minhash.py)
        F.transform(F.col("st"), lambda x: F.xxhash64(x["tok"])).alias("hs"),
        F.slice(
            F.transform(F.col("st"), lambda x: x["tok"]), F.lit(1), prefix_len
        ).alias("prefix"),
    )
    pref = persist_scoped("apss.pref", pref)  # index sides + expansion
    # The index rows CARRY the hashed set, so verification happens INSIDE
    # the candidate join's condition: a candidate enumerated by the prefix
    # join is length-filtered and exact-verified before it is ever
    # materialized — the former shape shuffled every raw candidate through
    # a dropDuplicates and two verify joins (at sf1.0: ~360M raw candidate
    # rows from the 31-token vocabulary's hot prefix keys). Duplicate
    # candidates (pairs sharing several prefix tokens, <= prefix_len of
    # them) are deduped AFTER the filter, when only true pairs remain.
    index = pref.select(
        "gid", "n_toks", "hs", F.posexplode("prefix").alias("pos", "tok")
    )
    l, r = index.alias("l"), index.alias("r")
    inter_g = F.size(F.array_intersect(F.col("l.hs"), F.col("r.hs"))).cast(
        "double"
    )
    return _prefix_join_and_expand(l, r, inter_g, pref, t_lit, par)


def _prefix_join_and_expand(l, r, inter_g, pref, t_lit, par: int) -> DataFrame:
    """Shared candidate join + verification + member expansion over a
    distinct-set prefix index: ``l``/``r`` are the (gid, n_toks, <set
    repr>, pos, tok) index sides, ``inter_g`` the exact intersection-size
    expression over one (l, r) pair, ``pref`` the persisted distinct-set
    frame carrying (gid, ids)."""
    # |A∪B| = |A| + |B| − |A∩B| exactly (the set representations are
    # distinct-token sets; within-doc xxhash64 collisions are already
    # excluded by the oracle-parity argument) — deriving it saves the
    # second hash-set build per enumerated candidate that array_union
    # would cost
    union_g = (
        F.col("l.n_toks") + F.col("r.n_toks") - inter_g
    ).cast("double")
    # ppjoin positional filter (Xiao/Wang/Lin/Yu WWW'08, exact): for the
    # pair's FIRST common token, sitting at prefix positions (i, j), the
    # achievable overlap is at most 1 + min(|A|-i-1, |B|-j-1); a true
    # match needs overlap >= t(|A|+|B|)/(1+t), so occurrences that cannot
    # reach it are pruned BEFORE the array_intersect. Safe per occurrence:
    # a qualifying pair always survives via its first-common-token
    # occurrence (dedup below collapses the rest). The 1e-9 slack only
    # ever WEAKENS pruning (float-boundary safety).
    pos_bound = (
        (
            F.lit(1)
            + F.least(
                F.col("l.n_toks") - F.col("l.pos") - 1,
                F.col("r.n_toks") - F.col("r.pos") - 1,
            )
        ).cast("double")
        * (F.lit(1.0) + t_lit)
        >= t_lit * (F.col("l.n_toks") + F.col("r.n_toks")) - F.lit(1e-9)
    )
    # The build side is the DISTINCT-SET prefix index (reps, not docs —
    # 33.9k sets / ~100k rows / ~30MB with the hashed sets at sf1.0), so
    # broadcasting it keeps the probe side on its balanced round-robin
    # partitioning instead of hash-exchanging both sides on the prefix
    # tokens — which in a small-vocabulary corpus are a handful of hot
    # keys that would funnel the whole enumeration into a few tasks
    # (guide §3.1). At a scale where the distinct-set index outgrows the
    # broadcast limit, drop the hint: the equi-join + AQE skew split is
    # the fallback shape.
    cand = (
        l.repartition(par)
        .join(
            F.broadcast(r),
            on=[
                F.col("l.tok") == F.col("r.tok"),
                F.col("l.gid") < F.col("r.gid"),
                # length filter: J >= t forces min >= t * max
                F.least(F.col("l.n_toks"), F.col("r.n_toks"))
                >= t_lit * F.greatest(F.col("l.n_toks"), F.col("r.n_toks")),
                pos_bound,
                # exact verification on the UNROUNDED ratio (the candidate
                # stages guarantee retention only for true-J >= t; the
                # oracle twin filters unrounded too; identical division to
                # the former array_union-based expression because the
                # derived union size is exact)
                inter_g / union_g >= t_lit,
            ],
        )
        .select(
            F.col("l.gid").alias("ga"),
            F.col("r.gid").alias("gb"),
            F.round(inter_g / union_g, 6).alias("jaccard"),
        )
        .dropDuplicates(["ga", "gb"])
    )
    # identical-set pairs: J = 1.0 by construction (inter == union)
    same = pref.where(F.size("ids") >= 2).select(
        F.col("gid").alias("ga"),
        F.col("gid").alias("gb"),
        F.lit(1.0).alias("jaccard"),
    )
    ia = pref.select(F.col("gid").alias("ga"), F.col("ids").alias("ids_a"))
    ib = pref.select(F.col("gid").alias("gb"), F.col("ids").alias("ids_b"))
    # expansion back to doc-level pairs: attach both member-id arrays to
    # the (tiny) set-pair frame, spread, THEN explode — the wide exploded
    # rows are generated in parallel and never exchanged
    return (
        cand.unionByName(same)
        .join(ia, "ga")
        .join(ib, "gb")
        .repartition(par)
        .select("ga", "gb", "jaccard", F.explode("ids_a").alias("__a"), "ids_b")
        .select("ga", "gb", "jaccard", "__a", F.explode("ids_b").alias("__b"))
        # same-set groups expand a < b once; cross-set pairs are unordered
        # by construction (ga < gb), normalized to (min, max) below
        .where((F.col("ga") != F.col("gb")) | (F.col("__a") < F.col("__b")))
        .select(
            F.least("__a", "__b").alias("id_a"),
            F.greatest("__a", "__b").alias("id_b"),
            "jaccard",
        )
        .orderBy("id_a", "id_b")
    )
