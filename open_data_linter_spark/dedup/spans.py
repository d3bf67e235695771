"""Duplicate-span statistics — cross-document repeated n-gram coverage.

Exact-match and MinHash dedup operate at document granularity; web-scale
training corpora also carry SPAN-level duplication (boilerplate headers,
licenses, navigation chrome) that document dedup never sees. The canonical
treatment is suffix-array substring dedup (Lee et al., "Deduplicating
Training Data Makes Language Models Better", ACL'22); a distributed
suffix array is not a Spark-shaped structure, so this operator computes the
actionable per-document signal instead: for word k-grams, the fraction of a
document's gram OCCURRENCES whose gram also appears in at least ``min_df``
distinct documents. High coverage => the document is mostly made of spans
that exist elsewhere (drop or trim candidates), even when no single whole
document is its near-duplicate.

Pipeline (all Catalyst): positional (non-distinct) k-grams per doc →
explode → gram document-frequency (count distinct doc) → semi-join the
occurrence stream against grams with df >= min_df → per-doc occurrence
counts → coverage. Deterministic and SQL-expressible end-to-end — the
driver oracle is a FULL exact DuckDB twin.

Scale: the exploded occurrence stream is O(total tokens) — the same order
as any tokenizing pass over the corpus; both shuffles (gram df, per-doc
count) carry map-side partial aggregates. Hot grams (stopword runs) are
exactly the signal and stay as grouped counts, never expanded into pairs,
so there is no quadratic blow-up to cap. ``hash_grams`` (default True)
xxhash64-hashes grams before the shuffles to shed string bytes — counts
are identical to string grams up to 64-bit collisions (the DuckDB twin
computes on the strings and matches).

The reference (volare-all/open-data-linter) has no span-level ops; this
extends the engine per the training-data-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from open_data_linter_spark.dedup._cache import persist_scoped, spread_and_pin
from open_data_linter_spark.functions.text import (
    positional_shingle_structs,
    positional_shingles,
    ws_tokens,
)

_EMPTY_RUNS = "array<struct<rs:int,re:int>>"


def duplicate_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_df: int = 2,
    hash_grams: bool = True,
) -> DataFrame:
    """Per-doc repeated-span coverage: (doc_id, n_spans, n_dup_spans,
    dup_coverage), one row per non-empty document.

    ``min_df`` counts DISTINCT documents containing the gram, so a span
    repeated only within one document does not count as duplicated
    (cross-doc semantics); ``min_df=2`` flags any span shared with at least
    one other document.

    Input contract: ``id_col`` is unique — duplicate id rows would merge
    their gram streams in the per-doc aggregation.
    """
    if min_df < 2:
        raise ValueError(f"min_df must be >= 2 (cross-doc), got {min_df}")
    src = spread_and_pin(
        "spans.src",
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t")),
    )
    grams = positional_shingles(F.col("__t"), k)
    if hash_grams:
        grams = F.transform(grams, lambda g: F.xxhash64(g))
    # blank docs tokenize to [] under the ws_tokens contract and carry no
    # grams — excluded (coverage over zero spans is undefined)
    base = src.select("id", grams.alias("g")).where(F.size("g") > 0)
    base = persist_scoped("spans.base", base)  # sizes + occurrence stream
    sizes = base.select("id", F.size("g").cast("long").alias("n_spans"))
    occ = base.select("id", F.explode("g").alias("gram"))
    dup_grams = (
        occ.groupBy("gram")
        .agg(F.count_distinct("id").alias("gdf"))
        .where(F.col("gdf") >= min_df)
        .select("gram")
    )
    dup_counts = (
        occ.join(dup_grams, "gram", "left_semi")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_dup_spans"))
    )
    return (
        sizes.join(dup_counts, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_spans",
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.round(
                F.coalesce("n_dup_spans", F.lit(0)).cast("double")
                / F.col("n_spans"),
                6,
            ).alias("dup_coverage"),
        )
        .orderBy(id_col)
    )


def _covered_runs(ivls):  # Column[array<struct<cs,ce>>] -> maximal runs
    """Maximal contiguous covered token runs from (possibly overlapping)
    intervals, via positions + gaps-and-islands — LINEAR per doc.

    An array-append ``F.aggregate`` fold is the obvious shape but copies
    the whole accumulator per step (Catalyst arrays are immutable), going
    quadratic in the run count on boilerplate-heavy docs. Instead: expand
    to the distinct sorted covered-position array (capped at n_tokens
    elements), then pick run starts/ends with neighbor comparisons —
    ``element_at`` is O(1) — and zip them into (rs, re) structs. The
    ``F.when`` guards keep ``element_at`` in-bounds (ANSI mode throws on
    out-of-range indices; boolean OR would still evaluate both sides)."""
    parr = F.array_sort(
        F.array_distinct(
            F.flatten(F.transform(ivls, lambda x: F.sequence(x["cs"], x["ce"])))
        )
    )
    # 2-arg HOF lambdas receive (element, 0-based index) — used on purpose
    # here (the CLAUDE.md pitfall is about expecting CAPTURES instead)
    rs_vals = F.filter(
        parr,
        lambda p, i: F.when(i == 0, F.lit(True)).otherwise(
            p != F.element_at(parr, i) + 1  # parr[i-1] in 1-based element_at
        ),
    )
    re_vals = F.filter(
        parr,
        lambda p, i: F.when(i == F.size(parr) - 1, F.lit(True)).otherwise(
            p + 1 != F.element_at(parr, i + 2)  # parr[i+1]
        ),
    )
    return F.zip_with(
        rs_vals, re_vals, lambda a, b: F.struct(a.alias("rs"), b.alias("re"))
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_df: int = 2,
) -> DataFrame:
    """Cross-document duplicate-span REMOVAL (the transform counterpart of
    ``duplicate_span_stats``): k-gram-granular substring dedup in the spirit
    of Lee et al. (ACL'22) — every maximal run of tokens covered by
    cross-doc duplicated word k-grams is removed EXCEPT its globally first
    occurrence, and the cleaned text is reassembled.

    Contract (deterministic, exact, SQL-twinnable):
    - tokens = ``functions.text.ws_tokens`` (lowercase, explicit ASCII
      whitespace class, empty tokens dropped); the output text is therefore
      NORMALIZED (lowercased, single-space-joined). Blank docs are
      excluded, same as ``duplicate_span_stats``.
    - a gram is "duplicated" if it occurs in >= ``min_df`` DISTINCT docs
      (cross-doc; intra-doc repetition is functions/repetition.py's job).
      Docs shorter than k tokens contribute one whole-doc gram (the
      ``positional_shingles`` fallback contract), so a short doc duplicated
      elsewhere is removed wholesale from non-first docs.
    - covered intervals merge into maximal runs; the KEPT occurrence of a
      run is the global minimum (doc_id, start) among runs with the SAME
      span text. Runs with different extents keep their own firsts — the
      unit of first-occurrence identity is the maximal-run text, not the
      gram.

    Output: one row per non-empty doc — (id_col, n_tokens, n_dropped,
    text_clean), ordered by id. ``id_col`` must be unique and orderable
    (ties in the keep rule are broken by it).

    Scale shape: gram-df groupBy and per-doc regroups all carry map-side
    partial aggregates; hot grams/spans are never pair-expanded (each
    occurrence row is touched once — linear in corpus tokens). The
    first-occurrence pick is a groupBy-min + equi-join rather than a
    row_number window, so a span text shared by millions of docs never
    funnels one partition. Reference (volare-all/open-data-linter) has no
    span ops; this extends the engine per the training-pipeline mandate.
    """
    if min_df < 2:
        raise ValueError(f"min_df must be >= 2 (cross-doc), got {min_df}")
    src = spread_and_pin(
        "spanrm.src",
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t")),
    )
    toks = ws_tokens(F.col("__t"))
    base = persist_scoped(
        "spanrm.base",
        src.select("id", toks.alias("toks"), F.size(toks).alias("n")).where(
            F.col("n") > 0
        ),
    )
    n = F.col("n")
    glen = F.when(n >= k, F.lit(k)).otherwise(n)
    # the shared gram/fallback contract (functions/text.py) — the same
    # producer positional_shingles (and so duplicate_span_stats) maps over
    grams = F.transform(
        positional_shingle_structs(F.col("toks"), k),
        lambda x: F.struct(x["s"].alias("s"), F.xxhash64(x["gram"]).alias("gh")),
    )
    occ = (
        base.select("id", "n", F.explode(grams).alias("g"))
        .select("id", "n", F.col("g.s").alias("s"), F.col("g.gh").alias("gh"))
    )
    occ = persist_scoped("spanrm.occ", occ)  # feeds gram-df AND the semi-join
    dup = (
        occ.groupBy("gh")
        .agg(F.count_distinct("id").alias("gdf"))
        .where(F.col("gdf") >= min_df)
        .select("gh")
    )
    cov = occ.join(dup, "gh", "left_semi").select(
        "id",
        F.col("s").alias("cs"),
        (F.col("s") + glen - F.lit(1)).cast("int").alias("ce"),
    )
    # explicit fixed-count hash partitioning before the two heaviest
    # narrow stages (the interval-merge fold here, the span-key hashing
    # below): their input rows are tiny, so AQE's byte-based coalescing
    # would funnel them to ONE task — a user-specified repartition pins
    # the width. No extra shuffle bytes: collect_list's partial agg
    # reduces nothing, so the groupBy would have shuffled every cov row
    # anyway.
    par = df.sparkSession.sparkContext.defaultParallelism
    runs = cov.repartition(par, "id").groupBy("id").agg(
        _covered_runs(F.collect_list(F.struct("cs", "ce"))).alias("runs")
    )
    # span keys computed on the still-aggregated runs array so each doc's
    # token array crosses the join ONCE, not once per run
    toks_col = F.col("toks")
    spans = (
        runs.join(base.select("id", "toks"), "id")
        .select(
            "id",
            F.explode(
                F.transform(
                    F.col("runs"),
                    lambda r: F.struct(
                        r["rs"].alias("rs"),
                        r["re"].alias("re"),
                        F.xxhash64(
                            F.concat_ws(
                                " ",
                                F.slice(toks_col, r["rs"] + 1, r["re"] - r["rs"] + 1),
                            )
                        ).alias("sk"),
                    ),
                )
            ).alias("r"),
        )
        .select("id", F.col("r.rs").alias("rs"), F.col("r.re").alias("re"), F.col("r.sk").alias("sk"))
    )
    spans = persist_scoped("spanrm.spans", spans)  # firsts + drop filter
    firsts = spans.groupBy("sk").agg(F.min(F.struct("id", "rs")).alias("fo"))
    drops = (
        spans.join(firsts, "sk")
        .where((F.col("id") != F.col("fo.id")) | (F.col("rs") != F.col("fo.rs")))
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("rs", "re"))).alias("drops"))
    )
    drops_arr = F.coalesce(F.col("drops"), F.array().cast(_EMPTY_RUNS))
    # Round 6 (optimization): dropped runs are DISJOINT maximal intervals,
    # so the kept indices are a native set difference — the former
    # per-token ``F.exists`` over the drops array was an O(n_tokens x
    # n_drops) interpreted-HOF scan per doc; ``array_except`` builds one
    # hash set per doc natively and preserves the first array's order
    # (sequence has no duplicates), so the kept set and its order are
    # identical.
    dropped_pos = F.flatten(
        F.transform(drops_arr, lambda d: F.sequence(d["rs"], d["re"]))
    )
    kept_idx = F.array_except(F.sequence(F.lit(0), n - 1), dropped_pos)
    return (
        # the reassembly projection (per-token nested-HOF filter) is the
        # third heavy-on-small-rows stage: pin the final join's width too
        base.join(drops.repartition(par, "id"), "id", "left")
        .select(
            F.col("id").alias(id_col),
            n.cast("long").alias("n_tokens"),
            (n - F.size(kept_idx)).cast("long").alias("n_dropped"),
            F.concat_ws(
                " ",
                F.transform(kept_idx, lambda i: F.element_at(F.col("toks"), i + 1)),
            ).alias("text_clean"),
        )
        .orderBy(id_col)
    )
