"""Physical-plan assertions for the round-5 table-health rule wave.

Each of these rule modules documents a scale claim — one input-sized
shuffle, broadcast anti-join, bucketed (never global) row sort, no
Expand — that its correctness tests cannot see (they pass equally with
a catastrophic plan at 60k rows). These tests pin the claims to the
actual Catalyst plans so a refactor that silently regresses the shape
at 10^12 rows fails here, not on a cluster.
"""

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F


def explain_str(df, mode="simple") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def _partial_agg_before_first_exchange(plan: str) -> bool:
    """Walking up from the scan (plans print parent-above-child), a
    HashAggregate must sit between the scan and the nearest Exchange —
    i.e. rows collapse before any data moves."""
    scan = max(plan.rfind("Scan parquet"), plan.rfind("FileScan"))
    assert scan != -1, plan
    above = plan[:scan]
    return above.rfind("HashAggregate") > above.rfind("Exchange")


@pytest.fixture(scope="module")
def events_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans_health") / "events")
    (
        spark.range(0, 5000)
        .select(
            (F.col("id") % 7).cast("string").alias("g"),
            F.col("id").alias("s"),
            F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id") * 60).alias("ts"),
            (F.col("id") % 100 + 1).cast("double").alias("v"),
            F.concat(F.lit("u"), (F.col("id") % 13).cast("string")).alias("txt"),
        )
        .write.mode("overwrite").parquet(path)
    )
    return spark.read.parquet(path)


def test_sequence_global_windows_are_bucket_partitioned(events_parquet):
    """Global mode must never sort the table: the row-level window shuffles
    on the seq-div bucket id, and the only total-order (SinglePartition)
    exchange feeds the per-bucket frontier AGGREGATE — one row per
    non-empty bucket, never row data."""
    from open_data_linter_spark.rules.sequence import check_sequence

    plan = explain_str(check_sequence(events_parquet, "s", bucket_size=256))
    assert "hashpartitioning(__b" in plan, plan
    for m in re.finditer(r"Exchange SinglePartition", plan):
        below = plan[m.end():]
        agg = below.find("HashAggregate")
        scan = below.find("Scan parquet")
        assert agg != -1 and (scan == -1 or agg < scan), plan


def test_sequence_grouped_is_one_input_shuffle(events_parquet):
    """Grouped mode is exactly one hash shuffle (the group-key window);
    the trailing orderBy ranges over gap rows only."""
    from open_data_linter_spark.rules.sequence import check_sequence

    plan = explain_str(check_sequence(events_parquet, "s", ["g"]))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_calendar_missing_buckets_is_broadcast_anti_join(events_parquet):
    """The observed (group, bucket) aggregate is tiny — the absent-bucket
    probe must plan as a broadcast LeftAnti hash join, never a sort-merge
    join keyed by time buckets."""
    from open_data_linter_spark.rules.calendar import check_calendar_completeness

    plan = explain_str(check_calendar_completeness(events_parquet, "ts", ["g"]))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert _partial_agg_before_first_exchange(plan), plan


def test_freshness_anchor_is_broadcast_single_row(events_parquet):
    """The as-of frontier is a 1-row aggregate joined to every group: it
    must broadcast (BroadcastNestedLoopJoin), and the per-group max(ts)
    must partially aggregate before its shuffle."""
    from open_data_linter_spark.rules.freshness import check_freshness

    plan = explain_str(check_freshness(events_parquet, "ts", ["g"], 3600))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan, plan
    assert _partial_agg_before_first_exchange(plan), plan


def test_mask_profile_one_input_sized_shuffle(events_parquet):
    """mask_profile's only input-sized movement is the (column, mask)
    count shuffle, preceded by a partial aggregate; the ranking windows
    run over the mask-shape-bounded aggregate."""
    from open_data_linter_spark.rules.mask import mask_profile

    plan = explain_str(mask_profile(events_parquet, ["txt", "g"]))
    assert _partial_agg_before_first_exchange(plan), plan
    # window shuffles on (column); the input-sized exchange is (column, mask)
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_volume_counts_collapse_before_shuffle(events_parquet, monkeypatch):
    """volume_anomalies' only scan of the input is the per-bucket count,
    and it must partially aggregate map-side — the z-scoring runs on the
    O(#buckets) aggregate. The exact path pins that aggregate once, so the
    scan is checked in the pinned plan, and the returned rows must read
    the pin rather than scan the input again."""
    from open_data_linter_spark.rules.volume import volume_anomalies

    # day d receives 2d+1 rows (varying counts, MAD > 0)
    varied = events_parquet.select(
        F.timestamp_seconds(
            F.lit(1_700_000_000) + F.floor(F.sqrt("s")).cast("long") * 86400
        ).alias("ts")
    )
    pinned = []
    local_checkpoint = type(varied).localCheckpoint

    def recording(self, *args, **kwargs):
        pinned.append(explain_str(self))
        return local_checkpoint(self, *args, **kwargs)

    # the class of a Spark 4 frame is the classic DataFrame, not
    # pyspark.sql.DataFrame, so patch the class the frame has
    monkeypatch.setattr(type(varied), "localCheckpoint", recording)
    plan = explain_str(volume_anomalies(varied, "ts"))
    assert len(pinned) == 1, pinned
    assert _partial_agg_before_first_exchange(pinned[0]), pinned[0]
    assert "Scan parquet" not in plan and "FileScan" not in plan, plan


def test_benford_no_expand_and_partial_agg(events_parquet):
    """The 9-group digit aggregate must not Expand the input and must
    partially aggregate before its one shuffle."""
    from open_data_linter_spark.rules.benford import benford_check

    plan = explain_str(benford_check(events_parquet, "v"))
    assert "Expand" not in plan, plan
    assert _partial_agg_before_first_exchange(plan), plan


def test_monotone_is_one_group_window_shuffle(events_parquet):
    """check_monotonic is exactly one group-key window shuffle; no
    single-partition window may appear (the round-5 docstring contract)."""
    from open_data_linter_spark.rules.monotone import check_monotonic

    plan = explain_str(check_monotonic(events_parquet, ["g"], "s", "v"))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_correlation_all_pairs_one_scan_one_row_exchange(events_parquet):
    """All k(k-1)/2 Pearson pairs fold in ONE pass over ONE scan: the
    co-moment aggregates (covar_samp + the two masked stddevs) partially
    aggregate map-side, the only Exchange is the SinglePartition merge
    of one partial row per task, and the pair table is exploded from
    that row — no Expand, no per-pair scans, no row-data shuffle."""
    from open_data_linter_spark.rules.correlation import correlation_matrix

    plan = explain_str(correlation_matrix(events_parquet, ["s", "v"]))
    assert plan.count("Scan parquet") == 1, plan
    assert "Expand" not in plan, plan
    assert plan.count("Exchange") == 1 and "SinglePartition" in plan, plan
    assert "partial_covar_samp" in plan and "partial_stddev_samp" in plan, plan
