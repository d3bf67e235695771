"""Physical-plan assertions: the scale-relevant properties of our plans.

These tests pin the plan shapes the engine's design depends on at 10^12
rows: payload column pruned from the cheap scans, dim-table RI planned as a
broadcast hash anti-join, filters pushed into the Parquet scan, and the
fused row scan staying in whole-stage codegen (no Python in the hot path).
"""

import contextlib
import io

import pytest
from pyspark.sql import functions as F


def explain_str(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def clips_parquet(spark, tmp_path_factory):
    from open_data_linter_spark.audio.synth import synthesize_clips

    path = str(tmp_path_factory.mktemp("plans") / "clips")
    synthesize_clips(spark, 64, 4).write.parquet(path)
    return spark.read.parquet(path)


def test_row_scan_prunes_bytes(clips_parquet):
    """The fused row-rule aggregation must not read the payload column."""
    from open_data_linter_spark.rules.audio_rules import build_row_rules

    df = clips_parquet
    aggs = []
    for r in build_row_rules():
        for colname, builder in r.predicates or []:
            aggs.append(F.sum(builder(df).cast("long")))
    plan = explain_str(df.groupBy(F.spark_partition_id()).agg(*aggs))
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema, plan
    assert "bytes" not in read_schema[0], read_schema[0]


def test_column_aggs_prune_bytes(clips_parquet):
    from open_data_linter_spark.plans.run import ValidationRun
    from open_data_linter_spark.rules.audio_rules import (
        make_empty_columns_rule,
        make_unit_suffix_rule,
    )

    df = clips_parquet
    exprs = {}
    for r in (make_empty_columns_rule(), make_unit_suffix_rule()):
        exprs.update(r.agg_exprs(df))
    plan = explain_str(df.agg(*[v.alias(k) for k, v in exprs.items()]))
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "bytes" not in read_schema[0]


def test_ri_uses_broadcast_anti_join(spark, clips_parquet):
    from open_data_linter_spark.audio.synth import codec_registry_pdf
    from open_data_linter_spark.rules.referential import anti_members

    dim = spark.createDataFrame(codec_registry_pdf())
    plan = explain_str(anti_members(clips_parquet, dim, "codec", "codec", broadcast=True))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_filter_pushdown_into_parquet(clips_parquet):
    plan = explain_str(clips_parquet.where(F.col("codec") == "ulaw").select("clip_id"))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "codec" in pushed[0], plan


def test_row_scan_is_codegen_only(clips_parquet):
    """No Python evaluation (BatchEvalPython/ArrowEvalPython) in the fused
    row scan — every predicate is native Catalyst."""
    from open_data_linter_spark.rules.audio_rules import build_row_rules

    df = clips_parquet
    aggs = [
        F.sum(builder(df).cast("long"))
        for r in build_row_rules()
        for _, builder in (r.predicates or [])
    ]
    agg_df = df.groupBy(F.spark_partition_id()).agg(*aggs)
    agg_df.collect()  # finalize the AQE plan so codegen annotations appear
    plan = explain_str(agg_df, mode="formatted")
    assert "EvalPython" not in plan
    assert "codegen id" in plan, plan


def test_uniqueness_partial_agg_before_shuffle(clips_parquet):
    """Partial aggregation must precede every exchange (duplicates collapse
    before any data moves), and the exchange count must match the mode:
    plain = ONE shuffle (the default plan), salted = TWO (documented
    hot-key trade-off, rules/uniqueness.py docstring)."""
    from open_data_linter_spark.rules.uniqueness import duplicate_keys

    plan = explain_str(duplicate_keys(clips_parquet), mode="simple")
    first_exchange = plan.find("Exchange")
    assert first_exchange != -1
    assert "HashAggregate" in plan[first_exchange:], plan
    assert plan.count("Exchange") == 1, plan

    salted_plan = explain_str(duplicate_keys(clips_parquet, salted=True), mode="simple")
    assert salted_plan.count("Exchange") == 2, salted_plan


def test_windowed_drift_broadcasts_grid_and_baseline(spark):
    """The windows×bins grid and the baseline must be broadcast — the only
    shuffles in the scorer should be keyed by window (window functions +
    final agg), so the plan scales with #windows, never #bins."""
    from open_data_linter_spark.rules.drift import windowed_drift_scores

    win_hist = spark.createDataFrame(
        [("w1", 1.0, 10), ("w1", 2.0, 20), ("w2", 1.0, 5)],
        "win string, bin double, cnt long",
    )
    baseline = spark.createDataFrame(
        [(1.0, 100), (2.0, 200)], "bin double, count long"
    )
    plan = explain_str(
        windowed_drift_scores(win_hist, baseline, win_cols=("win",))
    )
    # the tiny bins side of the grid cross join is broadcast, not shuffled
    assert "BroadcastNestedLoopJoin" in plan and "Cross" in plan
    # the bin-keyed baseline join is broadcast (a shuffle keyed by bin alone
    # would bottleneck on #bins); joins keyed by (win, bin) may shuffle —
    # they scale with #windows, which is the intended partitioning axis
    assert "BroadcastHashJoin" in plan
