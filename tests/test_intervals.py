"""Interval integrity rule (rules/intervals.py)."""

from datetime import datetime

from open_data_linter_spark.rules.intervals import check_interval_integrity


def _t(h, m=0):
    return datetime(2024, 1, 1, h, m)


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k int, s timestamp, e timestamp")


def _kinds(rows):
    return [(r["k"], r["start"], r["kind"]) for r in rows]


def test_clean_scd2_chain_is_silent(spark):
    df = _mk(
        spark,
        [
            (1, _t(1), _t(2)),
            (1, _t(2), _t(3)),  # adjacency is seamless, not a gap
            (1, _t(3), None),  # open interval last is fine
            (2, _t(1), _t(1)),  # zero-length is legal
        ],
    )
    assert check_interval_integrity(df, ["k"], "s", "e").count() == 0


def test_overlap_gap_inverted(spark):
    df = _mk(
        spark,
        [
            (1, _t(1), _t(3)),
            (1, _t(2), _t(4)),  # starts inside previous -> overlap
            (1, _t(5), _t(6)),  # starts after frontier 4 -> gap
            (2, _t(3), _t(2)),  # end < start -> inverted
        ],
    )
    out = check_interval_integrity(df, ["k"], "s", "e").collect()
    assert _kinds(out) == [
        (1, _t(2), "overlap"),
        (1, _t(5), "gap"),
        (2, _t(3), "inverted"),
    ]
    assert out[1]["frontier"] == _t(4)


def test_running_max_catches_containment(spark):
    # a long first interval contains the third; lag(end) alone would
    # see the SECOND interval's earlier end and miss the overlap
    df = _mk(
        spark,
        [
            (1, _t(1), _t(10)),
            (1, _t(2), _t(3)),  # overlap (inside first)
            (1, _t(4), _t(5)),  # still inside first -> overlap, NOT gap
        ],
    )
    out = check_interval_integrity(df, ["k"], "s", "e").collect()
    assert [r["kind"] for r in out] == ["overlap", "overlap"]


def test_open_interval_overlaps_everything_after(spark):
    df = _mk(spark, [(1, _t(1), None), (1, _t(5), _t(6))])
    out = check_interval_integrity(df, ["k"], "s", "e").collect()
    assert len(out) == 1 and out[0]["kind"] == "overlap"
    assert out[0]["frontier"].year == 9999  # open-frontier sentinel


def test_gaps_optional_and_null_start_excluded(spark):
    df = _mk(spark, [(1, _t(1), _t(2)), (1, _t(4), _t(5)), (1, None, _t(9))])
    assert (
        check_interval_integrity(df, ["k"], "s", "e", report_gaps=False).count()
        == 0
    )
    out = check_interval_integrity(df, ["k"], "s", "e").collect()
    assert _kinds(out) == [(1, _t(4), "gap")]


def test_duplicate_intervals_flag(spark):
    df = _mk(spark, [(1, _t(1), _t(2)), (1, _t(1), _t(2))])
    out = check_interval_integrity(df, ["k"], "s", "e").collect()
    assert [r["kind"] for r in out] == ["overlap"]


def test_plan_one_exchange_one_window(spark, tmp_path):
    import contextlib
    import io

    p = str(tmp_path / "iv")
    _mk(spark, [(1, _t(1), _t(2))]).write.parquet(p)
    out = check_interval_integrity(spark.read.parquet(p), ["k"], "s", "e")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain(mode="simple")
    plan = buf.getvalue()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Window") == 1, plan  # both frames fused
