"""Referential-integrity rules by anti-join.

Generalizes rule 1-12's name↔code dictionary validation
(csv_linter.py:321-448): membership of a column in a reference relation.

Two physical strategies, chosen by dim size:
- ``broadcast=True`` (default): ``df ⟕anti broadcast(dim)`` — the dim table
  (codec registry, prefecture dictionary) ships to every executor; zero
  shuffle of the fact side. This is the right plan whenever the dim fits
  in memory (BASELINE.json mandates "referential integrity by broadcast
  anti-join").
- ``broadcast=False``: plain anti-join — Catalyst picks sort-merge; at
  10^12 rows both sides should be bucketed by the key so the join is
  co-located (documented path for the clip_manifest universe, which is NOT
  broadcastable at full scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_data_linter_spark.core.model import Rule, RuleOutcome, RuleScope, count_evidence


def anti_members(
    df: DataFrame, dim: DataFrame, fact_col: str, dim_col: str, broadcast: bool = True
) -> DataFrame:
    """Rows of ``df`` whose ``fact_col`` has no match in ``dim.dim_col``."""
    right = dim.select(F.col(dim_col).alias("__ri_key")).dropDuplicates(["__ri_key"])
    if broadcast:
        right = F.broadcast(right)
    return df.join(right, on=df[fact_col] == right["__ri_key"], how="left_anti")


def make_ri_rule(
    rule_id: str,
    fact_col: str,
    dim_ctx_key: str,
    dim_col: str,
    broadcast: bool = True,
    key_col: str = "clip_id",
) -> Rule:
    """RI rule; the dim DataFrame is looked up from ctx[dim_ctx_key]."""
    message = f"{fact_col} not found in {dim_ctx_key}.{dim_col}"

    def runner(spark: SparkSession, df: DataFrame, ctx: dict) -> RuleOutcome:
        dim = ctx.get(dim_ctx_key)
        if dim is None:
            # "could not check" — reference's is_valid=None channel
            return RuleOutcome(rule_id, is_valid=None, metrics={})
        missing = anti_members(df, dim, fact_col, dim_col, broadcast=broadcast)
        # cached by the counting job when the run keeps its evidence,
        # partition_id included, so every consumer sees the same rows
        violations, n = count_evidence(
            missing.select(
                F.lit(rule_id).alias("rule_id"),
                (F.col(key_col) if key_col in df.columns else F.lit(None)).cast("string").alias("clip_id"),
                F.lit(fact_col).alias("column"),
                F.lit(message).alias("message"),
                F.spark_partition_id().alias("partition_id"),
            ),
            ctx,
        )
        return RuleOutcome(
            rule_id,
            is_valid=n == 0,
            violations=violations if n else None,
            metrics={"ri_violation_count": float(n)},
        )

    return Rule(
        rule_id=rule_id,
        description=f"referential integrity: {fact_col} ⊆ {dim_ctx_key}.{dim_col}"
        + (" (broadcast anti-join)" if broadcast else " (co-located anti-join)"),
        scope=RuleScope.SHUFFLE,
        message=message,
        runner=runner,
    )
