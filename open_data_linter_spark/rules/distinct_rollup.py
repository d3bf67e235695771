"""Mergeable distinct-count rollups: per-bucket HLL sketches unioned
upward WITHOUT rescanning the data — the hypertable-rollup pattern.

``rules/metrics.py`` and the profiler report distinct counts for one
frame; a monitoring pipeline wants them per day AND per month AND
total, continuously. Recomputing each granularity from raw rows scans
the 100 TB table once per granularity; the sketch way scans ONCE:
per-bucket HLL sketches (a few KB each, Apache DataSketches via
Spark's builtin ``hll_sketch_agg``) are stored, and every coarser
granularity is a cheap ``hll_union_agg`` over the tiny sketch table.
Exactly the mergeability contract distributed aggregation needs —
union-of-sketches ≡ sketch-of-union (pinned in tests).

Semantics:

- One row per (group, bucket) with the estimated distinct count of
  ``col``, plus one rollup row per group (``bucket`` NULL) estimated
  from the UNION of that group's bucket sketches — never from raw
  rows.
- NULL values of ``col`` are not counted (consistent with the exact
  ``count(DISTINCT col)`` both engines define); NULL timestamps are
  excluded.
- Estimates are engine-deterministic (register merges are
  order-insensitive) but engine-specific: the oracle pins engine
  values while independently recomputing EXACT distinct counts and
  enforcing a relative-error invariant, following the
  column_profile_hll convention.

Plan shape: ONE partial-aggregated input Exchange builds the bucket
sketches (sketch merge is the map-side combine); the rollup is an
aggregate over the O(buckets × groups) sketch frame.
"""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from open_data_linter_spark.rules.changepoint import _BUCKETS


def distinct_rollup(
    df: DataFrame,
    col: str,
    ts_col: str,
    group_cols: list[str] | None = None,
    bucket: str = "day",
    lg_k: int = 12,
) -> DataFrame:
    """``(*groups, bucket, est_distinct)`` per bucket, plus a NULL-
    bucket rollup row per group whose estimate comes from the sketch
    UNION; ordered by group then bucket (rollup rows first — NULLS
    FIRST is Spark's ascending default)."""
    if bucket not in _BUCKETS:
        raise ValueError(f"bucket must be one of {sorted(_BUCKETS)}")
    group_cols = list(group_cols or [])

    # sub-day buckets must stay timestamps — casting hour-truncated
    # values to date would silently collapse a day's 24 buckets into one
    b = F.date_trunc(bucket, F.col(ts_col))
    if bucket != "hour":
        b = b.cast("date")
    sketches = (
        df.where(F.col(ts_col).isNotNull() & F.col(col).isNotNull())
        .groupBy(*group_cols, b.alias("bucket"))
        .agg(F.hll_sketch_agg(col, F.lit(lg_k)).alias("__sk"))
    )
    bucket_type = sketches.schema["bucket"].dataType
    per_bucket = sketches.select(
        *group_cols,
        "bucket",
        F.hll_sketch_estimate("__sk").alias("est_distinct"),
    )
    rollup = (
        sketches.groupBy(*group_cols)
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("__sk", F.lit(False))).alias(
                "est_distinct"
            )
        )
        .withColumn("bucket", F.lit(None).cast(bucket_type))
        .select(*group_cols, "bucket", "est_distinct")
    )
    return per_bucket.unionByName(rollup).orderBy(*group_cols, "bucket")
