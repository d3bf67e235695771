"""Transcript rate outliers (rules/rate.py): robust modified z-score."""

import numpy as np
import pandas as pd
import pytest

from open_data_linter_spark.audio.synth import gen_clips_pdf
from open_data_linter_spark.rules.rate import (
    MODIFIED_Z,
    robust_z_outliers,
    transcript_rate_outliers,
)

META = ["clip_id", "sr_hz", "dur_ms", "codec", "transcript"]


def _py_expected(pdf, z_threshold=3.5):
    """Independent pure-python twin (lower median, no interpolation)."""
    ok = pdf[
        pdf["transcript"].notna()
        & (pdf["transcript"].str.strip() != "")
        & ~pdf["transcript"].isin(["[inaudible]", "[music]"])
        & (pdf["dur_ms"] > 0)
    ]
    wps = (
        ok["transcript"].str.strip().str.split().str.len() * 1000.0
        / ok["dur_ms"].astype(float)
    )

    def lower_median(v):
        s = np.sort(np.asarray(v, dtype=float))
        return s[(len(s) + 1) // 2 - 1]

    med = lower_median(wps)
    mad = lower_median(np.abs(wps - med))
    z = np.round(MODIFIED_Z * (wps - med) / mad, 6)
    out = {}
    for cid, w, zz in zip(ok["clip_id"], np.round(wps, 6), z):
        if abs(zz) > z_threshold:
            out[cid] = (w, zz)
    return out


def test_matches_pure_python_twin(spark):
    pdf = gen_clips_pdf(np.arange(512))[META]
    got = {
        r.clip_id: (r.wps, r.z)
        for r in transcript_rate_outliers(spark.createDataFrame(pdf)).collect()
    }
    want = _py_expected(pdf)
    assert set(got) == set(want) and len(got) > 0
    for cid in got:
        assert got[cid][0] == pytest.approx(want[cid][0], abs=1e-9)
        assert got[cid][1] == pytest.approx(want[cid][1], abs=1e-9)


def test_exclusions(spark):
    pdf = gen_clips_pdf(np.arange(64))[META].copy()
    pdf.loc[0, "transcript"] = "[inaudible]"
    pdf.loc[1, "transcript"] = None
    pdf.loc[2, "transcript"] = "   "
    pdf.loc[3, "dur_ms"] = 0
    # give row 4 an absurd rate so at least one outlier exists
    pdf.loc[4, "transcript"] = " ".join(["w"] * 400)
    got = transcript_rate_outliers(spark.createDataFrame(pdf)).collect()
    flagged = {r.clip_id for r in got}
    assert pdf.loc[4, "clip_id"] in flagged
    assert not flagged & set(pdf.loc[:3, "clip_id"])


def test_mad_zero_raises(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"id": list("abcde"), "v": [2.0, 2.0, 2.0, 2.0, 9.0]})
    )
    with pytest.raises(ValueError, match="MAD"):
        robust_z_outliers(df, "v", "id")


def test_empty_input_raises(spark):
    df = spark.createDataFrame(pd.DataFrame({"id": [], "v": []}), "id string, v double")
    with pytest.raises(ValueError, match="no rows"):
        robust_z_outliers(df, "v", "id")


def test_null_values_excluded_from_stats(spark):
    """NULLs in the value column must not shift the order statistics and
    must never be reported as outliers."""
    pdf = pd.DataFrame(
        {
            "id": [f"r{i:02d}" for i in range(20)],
            "v": [float(i % 7 + 1) for i in range(19)] + [100.0],
        }
    )
    with_nulls = pd.concat(
        [pdf, pd.DataFrame({"id": [f"n{i}" for i in range(8)], "v": [None] * 8})]
    )
    clean = robust_z_outliers(spark.createDataFrame(pdf), "v", "id").collect()
    dirty = robust_z_outliers(
        spark.createDataFrame(with_nulls, "id string, v double"), "v", "id"
    ).collect()
    assert [tuple(r) for r in clean] == [tuple(r) for r in dirty]
    assert {r.id for r in dirty} == {"r19"}


def test_whitespace_edge_transcripts(spark):
    """Tab/newline-edged transcripts must not count a phantom word (Java
    split emits leading/trailing empties; the tokenize contract drops
    them), and whitespace-only transcripts carry zero words -> excluded."""
    from open_data_linter_spark.audio.synth import SENTINEL_TRANSCRIPTS

    pdf = gen_clips_pdf(np.arange(32))[META].copy()
    pdf.loc[5, "transcript"] = ""  # blank: excluded in the baseline
    base = transcript_rate_outliers(spark.createDataFrame(pdf)).collect()
    # edge whitespace on ordinary rows must not change word counts; a
    # '\n'-only transcript must be excluded exactly like the blank was
    # (sentinels stay verbatim — edging them would change exclusions)
    pdf2 = pdf.copy()
    keep = ~pdf2["transcript"].isin(list(SENTINEL_TRANSCRIPTS)) & pdf2[
        "transcript"
    ].notna()
    pdf2.loc[keep, "transcript"] = "\t" + pdf2.loc[keep, "transcript"] + "\n"
    pdf2.loc[5, "transcript"] = "\n"
    edged = transcript_rate_outliers(spark.createDataFrame(pdf2)).collect()
    assert [tuple(r) for r in base] == [tuple(r) for r in edged]


def test_empty_input_raises_approx(spark):
    df = spark.createDataFrame(pd.DataFrame({"id": [], "v": []}), "id string, v double")
    with pytest.raises(ValueError, match="no rows"):
        robust_z_outliers(df, "v", "id", approx=True)


def test_approx_path_close_to_exact(spark):
    pdf = gen_clips_pdf(np.arange(256))[META]
    sdf = spark.createDataFrame(pdf)
    exact = {r.clip_id for r in transcript_rate_outliers(sdf).collect()}
    approx = {r.clip_id for r in transcript_rate_outliers(sdf, approx=True).collect()}
    # percentile_approx at accuracy 10k on 256 rows is exact in practice;
    # allow a 1-element fringe either way
    assert len(exact ^ approx) <= 1


def test_auto_guard_switches_to_sketches_above_threshold(spark, monkeypatch):
    """Default args must never TakeOrdered half a large frame: above the
    auto threshold the exact lower-median path (which gathers n/2 values
    into one task) must not run at all."""
    from open_data_linter_spark.rules import rate

    pdf = gen_clips_pdf(np.arange(256))[META]
    sdf = spark.createDataFrame(pdf)

    def _boom(*a, **k):
        raise AssertionError("exact TakeOrdered median ran on a large frame")

    monkeypatch.setattr(rate, "EXACT_MEDIAN_MAX_ROWS", 100)
    monkeypatch.setattr(rate, "_lower_median", _boom)
    # 256 eligible rows > 100: auto must take the sketch path
    out = transcript_rate_outliers(sdf).collect()
    assert len(out) > 0
    # below the threshold auto stays exact (the patched median trips)
    with pytest.raises(AssertionError, match="TakeOrdered"):
        transcript_rate_outliers(spark.createDataFrame(pdf.head(64))).collect()


def test_auto_guard_exact_below_threshold_bitwise(spark):
    """Auto (default) == forced-exact on small frames: same rows, same
    doubles (the oracle fixtures rely on this)."""
    pdf = gen_clips_pdf(np.arange(512))[META]
    sdf = spark.createDataFrame(pdf)
    auto = [tuple(r) for r in transcript_rate_outliers(sdf).collect()]
    exact = [tuple(r) for r in transcript_rate_outliers(sdf, approx=False).collect()]
    assert auto == exact and len(auto) > 0


def test_exact_path_leaves_no_cached_frame(spark):
    """Neither the auto nor the forced-exact path leaves a frame in the
    session's cache once its result is collected."""
    sdf = spark.createDataFrame(gen_clips_pdf(np.arange(256))[META])
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    for approx in (None, False):
        assert transcript_rate_outliers(sdf, approx=approx).collect()
        assert cache.isEmpty(), approx


def test_exact_path_reads_its_input_twice(spark):
    """The exact path pins the projected values before the NULL filter,
    and both lower medians and the returned rows read that pin, so the
    input lineage runs once per call. A counting Python UDF as the value
    column shows it: the pin evaluates it once per row, the auto path's
    size probe once more. Unpinned, each median and the returned rows are
    one more read, and a filter pushed under the projection evaluates the
    column twice per read. The sketch path reads the projection without
    the NULL filter, so each read evaluates the column once per row, and
    it pins the outlier rows before the global sort, whose sample job
    would read the input once more: the two sketches and the returned rows
    come to about three evaluations per row."""
    from pyspark.sql import functions as F

    n = 2000
    rng = np.random.default_rng(5)
    v = rng.normal(10.0, 1.0, n)
    v[::97] += 25.0  # planted outliers
    values = [float(x) for x in v]
    plain = spark.createDataFrame(
        pd.DataFrame({"id": np.arange(n), "v": v}), "id long, v double"
    )
    for approx, max_evals in ((None, 2), (False, 1), (True, 3.05)):
        want = [
            tuple(r)
            for r in robust_z_outliers(plain, "v", "id", approx=approx).collect()
        ]
        assert len(want) >= n // 97, approx
        acc = spark.sparkContext.accumulator(0)

        def counted(i, acc=acc):
            acc.add(1)
            return values[i]

        df = spark.range(n, numPartitions=4).select(
            "id", F.udf(counted, "double")("id").alias("v")
        )
        got = [tuple(r) for r in robust_z_outliers(df, "v", "id", approx=approx).collect()]
        assert got == want, approx
        assert acc.value <= max_evals * n, (approx, acc.value / n)
