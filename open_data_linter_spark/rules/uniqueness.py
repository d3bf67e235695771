"""Key-uniqueness rule: duplicate detection via repartition-and-count.

North-rule mandate: "uniqueness on clip_id via salted repartition-and-count"
(BASELINE.json north_star). Two physical shapes, both correct:

- plain (default): ``groupBy(key).count()`` — ONE Exchange. Catalyst's
  partial (map-side) hash aggregation already collapses within-partition
  duplicates before the shuffle, so the shuffle carries at most
  (#partitions × #distinct keys per partition) rows, never the raw table.
  For a primary-key-ish column (high cardinality, duplicates are the
  anomaly) this is the plan you want; AQE handles residual skew.
- salted (``salted=True``): an explicit two-stage
  ``groupBy(key, spark_partition_id()) → groupBy(key)`` — TWO Exchanges.
  The first exchange is on (key, salt), so no single reducer ever owns a
  pathologically hot key's full stream. Use when one key dominates the
  table (e.g. a sentinel id repeated billions of times) AND partial
  aggregation can't hold the per-partition hash map (wide group state,
  spilling); otherwise it just doubles the shuffle count — the partial agg
  in the plain plan already bounds per-key final-stage input to
  #partitions rows.

(Earlier revisions claimed stage 1 of the salted shape was shuffle-free;
the executed plan shows the extra Exchange — see tests/test_plans.py.)

Generalizes the reference's duplicate-detection spirit (SURVEY.md §2.6);
the reference itself has no key concept (positional columns only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_data_linter_spark.core.model import Rule, RuleOutcome, RuleScope, count_evidence


def duplicate_keys(df: DataFrame, key: str = "clip_id", salted: bool = False) -> DataFrame:
    """Keys occurring more than once: (key, dup_count)."""
    nn = df.where(F.col(key).isNotNull())
    if salted:
        stage1 = nn.groupBy(
            F.col(key), F.spark_partition_id().alias("__salt")
        ).agg(F.count(F.lit(1)).alias("__cnt"))
        counted = stage1.groupBy(key).agg(F.sum("__cnt").alias("dup_count"))
    else:
        counted = nn.groupBy(key).agg(F.count(F.lit(1)).alias("dup_count"))
    return counted.where(F.col("dup_count") > 1)


def make_uniqueness_rule(key: str = "clip_id", rule_id: str = "uniq") -> Rule:
    message = f"duplicate {key}"

    def runner(spark: SparkSession, df: DataFrame, ctx: dict) -> RuleOutcome:
        # one row per duplicated key, tiny at sane dup rates; cached by the
        # counting job when the run keeps its evidence
        violations, n_dup_keys = count_evidence(
            duplicate_keys(df, key).select(
                F.lit(rule_id).alias("rule_id"),
                F.col(key).alias("clip_id"),
                F.lit(key).alias("column"),
                F.concat(F.lit(message + " x"), F.col("dup_count")).alias("message"),
                F.lit(None).cast("int").alias("partition_id"),
            ),
            ctx,
        )
        return RuleOutcome(
            rule_id,
            is_valid=n_dup_keys == 0,
            violations=violations if n_dup_keys else None,
            metrics={"duplicate_key_count": float(n_dup_keys)},
        )

    return Rule(
        rule_id=rule_id,
        description=f"{key} must be unique (repartition-and-count)",
        scope=RuleScope.SHUFFLE,
        message=message,
        runner=runner,
    )
