"""Structured Streaming ingestion validation.

The reference is batch-only (one file at a time), and the north rule's
"resumable" means batch checkpoint/restart (SURVEY.md §1.2) — but a
continuously-ingesting audio corpus wants validation AT ingestion, so the
engine exposes its ruleset over Structured Streaming micro-batches:

    readStream (file source, audio schema) → foreachBatch(ValidationRun)
    → audit rows appended per (batch_id, rule_id) + optional violation sink

``foreachBatch`` is the right integration point: every rule family —
including the shuffle rules and the Arrow decode pass — already works on a
static DataFrame. foreachBatch itself is only at-least-once, so both sinks
are partitioned by batch_id and written with dynamic partition overwrite —
a replayed batch replaces its own partition, making the OUTPUT effectively
exactly-once (same ledger idea as plans/ledger.py). Cross-batch global rules (uniqueness over all time,
drift vs a moving baseline) remain batch jobs over the accumulated table;
per-batch uniqueness/RI/drift run fine inside the micro-batch.
"""

from __future__ import annotations

import time
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from open_data_linter_spark.core.model import Rule
from open_data_linter_spark.plans.run import ValidationRun, sample_violations

CLIP_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("sr_hz", T.IntegerType()),
        T.StructField("dur_ms", T.IntegerType()),
        T.StructField("codec", T.StringType()),
        T.StructField("transcript", T.StringType()),
    ]
)


def read_clip_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 8
) -> DataFrame:
    """File-source stream of clip batches (parquet drops into ``path``)."""
    return (
        spark.readStream.schema(CLIP_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def validate_stream(
    stream_df: DataFrame,
    rules: list[Rule],
    audit_path: str,
    checkpoint_path: str,
    ctx_factory: Optional[Callable[[DataFrame], dict]] = None,
    violations_path: Optional[str] = None,
    available_now: bool = False,
    violation_sample_mod: int = 1,
):
    """Attach the validation engine to a stream; returns the StreamingQuery.

    Each micro-batch runs the full ``ValidationRun`` plan (fused row scan,
    column aggs, shuffle + payload families) and writes one audit row per
    (rule, partition) plus per-rule batch summaries. ``foreachBatch`` is
    at-least-once, so both sinks are PARTITIONED BY batch_id and written
    with dynamic partition overwrite: a replayed micro-batch replaces
    exactly its own batch_id partition — effectively exactly-once output
    (same ledger idea as plans/ledger.py's (run_id, pt) partitions).
    """
    spark = stream_df.sparkSession

    def process(batch_df: DataFrame, batch_id: int) -> None:
        ctx = ctx_factory(batch_df) if ctx_factory else {}
        # evidence rows only for the sink; no micro-batch reads driver cells
        run = ValidationRun(spark, rules, run_id=f"stream-{batch_id}",
                            collect_violation_rows=violations_path is not None,
                            max_collected_violations=0)
        report = run.run(batch_df, ctx)
        audit = run.audit_rows(report).withColumn("batch_id", F.lit(batch_id))
        (
            audit.coalesce(1)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(audit_path)
        )
        if violations_path is not None and report.violations is not None:
            (
                sample_violations(report.violations, violation_sample_mod)
                .withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(violations_path)
            )

    writer = stream_df.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def constraint_stream(
    stream_df: DataFrame,
    suite: list,
    report_path: str,
    checkpoint_path: str,
    available_now: bool = False,
):
    """Declarative constraint monitoring over a stream: every micro-batch
    runs ``rules/constraints.check_constraints`` (ONE aggregation pass —
    the cheapest per-batch gate the engine has) and appends the
    per-constraint report partitioned by batch_id with dynamic partition
    overwrite, so a replayed batch replaces exactly its own rows (the
    same effectively-exactly-once shape as ``validate_stream``). The
    report stream IS the alerting surface: a monitor tails
    ``report_path`` for ``passed = false`` rows per batch."""
    from open_data_linter_spark.rules.constraints import check_constraints

    def process(batch_df: DataFrame, batch_id: int) -> None:
        (
            check_constraints(batch_df, suite)
            .withColumn("batch_id", F.lit(batch_id))
            .coalesce(1)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(report_path)
        )

    writer = stream_df.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def wait_for(query, timeout_s: float = 120.0) -> None:
    """Await an availableNow query's completion (test helper)."""
    query.awaitTermination(timeout_s)
    deadline = time.time() + timeout_s
    while query.isActive and time.time() < deadline:
        time.sleep(0.2)
