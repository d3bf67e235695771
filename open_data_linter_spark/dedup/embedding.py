"""Embedding-cosine near-duplicate detection.

Three strategies over an ``array<float>`` column:

- brute-force: self-join + Catalyst cosine — exact, O(n²), the correctness
  baseline (and the DuckDB-oracle twin);
- single-signature LSH (``lsh_bits``): one random-hyperplane signature
  restricts the self-join to same-bucket pairs — cheap but recall decays
  fast for loose thresholds;
- banded LSH (``bands`` × ``rows_per_band``) — the scale path, same shape
  as MinHash banding: b independent signatures of r sign bits each; a pair
  is a candidate if it collides in ANY band, then verified with exact
  cosine. Per-pair recall = 1-(1-p^r)^b with p = 1-θ/π; at near-dup
  thresholds (cos ≥ 0.9, p ≈ 0.90) r=8,b=8 gives ~0.99 recall with tiny
  buckets. For loose thresholds (0.45 → p ≈ 0.65) r must shrink (r=2) and
  buckets get big — banding still beats O(n²) only when candidate volume
  b·n²/2^r << n²; callers wanting exhaustive low-threshold output should
  use the brute path or a prefix-filter APSS design.

The banded plan is pure hash joins: band rows carry only (id, band,
bucket); the self-join key is (band, bucket); vectors are re-joined only
for deduped candidate pairs. No BroadcastNestedLoopJoin anywhere.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from open_data_linter_spark.dedup._cache import persist_scoped, spread_and_pin
from open_data_linter_spark.functions.vectors import (
    cosine_given_norms,
    hyperplane_bucket,
    norm,
)


def hyperplane_band_rows(
    base: DataFrame, bands: int, rows_per_band: int, dim: int, seed: int
) -> DataFrame:
    """(id, band, bucket) banded hyperplane-LSH rows over a (id, v) frame.

    The plane family is a pure function of (seed, dim, bands,
    rows_per_band), so band rows computed in different sessions collide
    identically."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((bands * rows_per_band, dim))
    planes /= np.linalg.norm(planes, axis=1, keepdims=True)
    buckets = F.array(
        *[
            hyperplane_bucket(
                F.col("v"),
                planes[j * rows_per_band : (j + 1) * rows_per_band].tolist(),
            )
            for j in range(bands)
        ]
    )
    return base.select("id", F.posexplode(buckets).alias("band", "bucket"))


def _banded_candidates(
    base: DataFrame, bands: int, rows_per_band: int, dim: int, seed: int
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) colliding in ≥1 band."""
    # the self-join otherwise recomputes the bucket projection (b·r
    # dot products per row) on both sides; lazy persist — base is
    # already partition-spread by the caller
    band_rows = persist_scoped(
        "embedding.band_rows",
        hyperplane_band_rows(base, bands, rows_per_band, dim, seed),
    )
    l, r = band_rows.alias("l"), band_rows.alias("r")
    return (
        l.join(
            r,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.bucket") == F.col("r.bucket"),
                F.col("l.id") < F.col("r.id"),
            ],
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )


def embedding_near_duplicates(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    lsh_bits: int | None = None,
    dim: int | None = None,
    seed: int = 42,
    bands: int | None = None,
    rows_per_band: int = 4,
    strategy: str = "auto",
) -> DataFrame:
    """Pairs (id_a < id_b, cosine >= threshold).

    Pass ``bands`` (+ ``dim``) for the banded-LSH scale path, or
    ``lsh_bits`` for the single-signature variant. The exact O(n²)
    brute-force baseline (a self-cross-join) needs an EXPLICIT
    ``strategy="brute"`` opt-in — with neither LSH parameter nor the
    opt-in this raises instead of silently planning a cross join that a
    library user would first notice at cluster scale (round-3 verdict).
    """
    if strategy not in ("auto", "brute"):
        raise ValueError(f"unknown strategy {strategy!r}: 'auto' or 'brute'")
    if strategy == "auto" and not bands and not lsh_bits:
        raise ValueError(
            "embedding_near_duplicates without bands=/lsh_bits= is the "
            "O(n²) brute-force self-cross-join; pass bands= (banded LSH, "
            "the scale path) or opt in explicitly with strategy='brute'"
        )
    if strategy == "brute":
        bands = lsh_bits = None  # explicit brute overrides LSH params
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))

    if bands:
        assert dim, "dim required for LSH planes"
        # single-file inputs arrive as one partition; spread BEFORE the
        # per-row hyperplane dot products, and persist so the candidate
        # banding and both verification sides share one materialization
        # (same boundary discipline as dedup/minhash.py — measured 15-22s
        # -> ~2s at sf0.1 without it)
        base = spread_and_pin("embedding.base", base)
        cand = _banded_candidates(base, bands, rows_per_band, dim, seed)
        # at loose thresholds the candidate set is large (the docstring's
        # caveat) and AQE coalesces the verify stage by the SMALL pair-row
        # size, under-parallelizing the per-pair cosine work — spread the
        # pairs explicitly before attaching vectors
        cand = cand.repartition(df.sparkSession.sparkContext.defaultParallelism)
        # norms projected once per ROW here, so the per-pair verify pays
        # one array fold (the dot) instead of three (vectors.py
        # cosine_given_norms — float-identical to plain cosine)
        va = base.select(
            F.col("id").alias("id_a"), F.col("v").alias("va"),
            norm(F.col("v")).alias("na"),
        )
        vb = base.select(
            F.col("id").alias("id_b"), F.col("v").alias("vb"),
            norm(F.col("v")).alias("nb"),
        )
        return (
            cand.join(va, "id_a")
            .join(vb, "id_b")
            .select(
                "id_a",
                "id_b",
                F.round(
                    cosine_given_norms(
                        F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
                    ),
                    6,
                ).alias("cos_sim"),
            )
            .where(F.col("cos_sim") >= threshold)
            .orderBy("id_a", "id_b")
        )

    join_on = [F.col("l.id") < F.col("r.id")]
    if lsh_bits:
        assert dim, "dim required for LSH planes"
        rng = np.random.default_rng(seed)
        planes = rng.standard_normal((lsh_bits, dim))
        planes /= np.linalg.norm(planes, axis=1, keepdims=True)
        base = base.withColumn("bucket", hyperplane_bucket(F.col("v"), planes.tolist()))
        join_on.insert(0, F.col("l.bucket") == F.col("r.bucket"))
    base = base.withColumn("nv", norm(F.col("v")))  # once per row, not per pair
    l, r = base.alias("l"), base.alias("r")
    return (
        l.join(r, on=join_on)
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.round(
                cosine_given_norms(
                    F.col("l.v"), F.col("r.v"), F.col("l.nv"), F.col("r.nv")
                ),
                6,
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
        .orderBy("id_a", "id_b")
    )
