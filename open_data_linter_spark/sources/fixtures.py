"""Fixture batches for the audio validation engine (FIXTURES.md §3).

``make_fixture(spark, n, corrupt)`` builds the clips DataFrame plus the run
ctx (reference table, codec registry, clip manifest, frozen drift baseline)
— everything ``ValidationRun`` needs. The baseline histograms are frozen
from the same perfect batch, so a clean run never drifts and a shifted
batch does (deterministically).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_data_linter_spark.audio.synth import (
    codec_registry_pdf,
    synthesize_clips,
    synthesize_reference,
)
from open_data_linter_spark.rules.drift import joint_histograms

DUR_BIN_EDGES = [0, 250, 400, 630, 1000, 1600, 2500, 4000, 6300, 10000, 16000]


def clip_manifest(spark: SparkSession, n: int, exclude: set[int] | None = None) -> DataFrame:
    """RI universe for clip_id: format_string over a range — no driver list."""
    df = spark.range(0, n).select(
        F.format_string("clip_%08d", F.col("id")).alias("clip_id"), F.col("id")
    )
    if exclude:
        df = df.where(~F.col("id").isin(*[int(i) for i in exclude]))
    return df.select("clip_id")


def make_fixture(
    spark: SparkSession,
    n: int = 200,
    num_partitions: int = 8,
    corrupt: dict[int, str] | None = None,
    seed: int = 42,
    dur_range: tuple[int, int] = (200, 1500),
    sr_probs=None,
    with_reference: bool = True,
    baseline_from_self: bool = False,
) -> tuple[DataFrame, dict]:
    corrupt = corrupt or {}
    clips = synthesize_clips(
        spark, n, num_partitions, seed=seed, dur_range=dur_range,
        corrupt=corrupt, sr_probs=sr_probs,
    )
    manifest_excl = {i for i, tag in corrupt.items() if tag == "1-12"}
    ctx: dict = {
        "codec_registry": spark.createDataFrame(codec_registry_pdf()),
        "clip_manifest": clip_manifest(spark, n, manifest_excl),
        "gate_rules": {"1-6-schema"},
    }
    if with_reference:
        ctx["reference_clips"] = synthesize_reference(
            spark, n, num_partitions, seed=seed, dur_range=dur_range
        )
    # drift baseline: frozen from a clean batch with the DEFAULT distribution
    baseline_src = (
        clips
        if baseline_from_self
        else synthesize_clips(spark, n, num_partitions, seed=seed, dur_range=dur_range)
    )
    ctx["baseline_hist"] = joint_histograms(
        baseline_src, [("sr_hz", None), ("dur_ms", DUR_BIN_EDGES)]
    )
    return clips, ctx
