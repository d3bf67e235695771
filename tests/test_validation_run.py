"""End-to-end validation runs: perfect batch passes the full matrix, each
seeded-violation batch yields the exact expected (clip_id, column) set —
the reference's golden-cell-set test pattern (tests/test_csv_linter.py)."""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from open_data_linter_spark.audio.synth import clip_id_for
from open_data_linter_spark.plans.run import ValidationRun
from open_data_linter_spark.rules.audio_rules import build_audio_ruleset
from open_data_linter_spark.sources.fixtures import make_fixture

N = 120
PARTS = 8

ALL_RULE_IDS = {
    "1-6-schema", "1-1-sql", "1-2", "1-3", "1-5", "1-7", "1-10", "1-13",
    "2-x-rows", "1-6-nulls", "2-x-cols", "1-3-units", "uniq", "1-12-codec",
    "1-12-manifest", "drift-sr", "drift-dur", "1-1", "1-11", "payload-ref",
}


def run_fixture(spark, corrupt=None, **kw):
    clips, ctx = make_fixture(spark, n=N, num_partitions=PARTS, corrupt=corrupt, **kw)
    run = ValidationRun(spark, build_audio_ruleset())
    report = run.run(clips, ctx)
    if ctx.get("_decode_results") is not None:
        ctx["_decode_results"].unpersist()
    return report


def violating_ids(report, rule_id, column=None):
    out = set()
    for ic in report.results[rule_id].invalid_contents:
        for cid, col in ic.invalid_cells:
            if column is None or col == column:
                out.add(cid)
    return out


@pytest.fixture(scope="module")
def perfect_report(spark):
    return run_fixture(spark)


def test_perfect_batch_full_matrix(perfect_report):
    matrix = perfect_report.matrix()
    assert set(matrix) == ALL_RULE_IDS
    bad = {rid: v for rid, v in matrix.items() if v is not True}
    assert not bad, f"perfect batch should pass everything, got {bad}"


def test_perfect_batch_partition_summaries(perfect_report):
    # per-partition summaries exist for every row rule and every partition
    psum = perfect_report.partition_summary_df.collect()
    assert psum
    assert len({s["partition_id"] for s in psum}) == PARTS
    assert all(s["violation_count"] == 0 for s in psum)


def test_scale_mode_never_collects_partition_width(spark):
    """At-scale mode (collect_violation_rows=False): per-partition summaries
    stay a DataFrame (never driver-collected — at 10^12 rows that list is a
    driver OOM) and the audit rows are derived from it Spark-side."""
    clips, ctx = make_fixture(spark, n=N, num_partitions=PARTS, corrupt={3: "1-5"})
    run = ValidationRun(spark, build_audio_ruleset(), collect_violation_rows=False)
    report = run.run(clips, ctx)
    # the report holds no driver-side list of any width
    assert not any(isinstance(v, list) for v in vars(report).values())
    assert report.partition_summary_df is not None
    psum = report.partition_summary_df
    assert {f.name for f in psum.schema.fields} == {
        "rule_id", "column", "partition_id", "violation_count", "rows_scanned"
    }
    got = psum.groupBy("rule_id").agg(F.sum("violation_count").alias("v")).collect()
    by_rule = {r.rule_id: r.v for r in got}
    assert by_rule["1-5"] == 1
    # audit: per-partition lineage present without any driver-side list
    audit = run.audit_rows(report)
    n_parts = audit.where(F.col("partition_id").isNotNull()).count()
    assert n_parts == psum.count()
    if ctx.get("_decode_results") is not None:
        ctx["_decode_results"].unpersist()


@pytest.mark.parametrize(
    "tag,rule_id,column,indices",
    [
        ("1-2", "1-2", "transcript", [3, 10, 17]),
        ("1-3", "1-3", None, [4, 11]),
        ("1-5", "1-5", None, [0, 1, 2, 7]),
        ("1-7", "1-7", "transcript", [5, 12]),
        ("1-10", "1-10", "transcript", [6, 13]),
        ("1-13", "1-13", "transcript", [8, 14]),
        ("1-6", "1-6-nulls", None, [9, 16]),
    ],
)
def test_row_rule_golden_sets(spark, tag, rule_id, column, indices):
    corrupt = {i: tag for i in indices}
    report = run_fixture(spark, corrupt=corrupt)
    expected = {clip_id_for(i) for i in indices}
    if tag == "1-5":
        # index 7 (variant 3) corrupts the clip_id itself: space inserted
        expected = {clip_id_for(i) for i in (0, 1, 2)} | {"clip_ 00000007"}
    assert violating_ids(report, rule_id, column) == expected
    assert report.results[rule_id].is_valid is False


def test_codec_set_and_magic(spark):
    # variant 0 -> codec='mp3' (1-1-sql + 1-12-codec), variants 1/2 -> bad
    # magic / truncation (payload 1-1)
    corrupt = {0: "1-1", 1: "1-1", 2: "1-1"}
    report = run_fixture(spark, corrupt=corrupt)
    assert violating_ids(report, "1-1-sql") == {clip_id_for(0)}
    assert violating_ids(report, "1-12-codec") == {clip_id_for(0)}
    # payload decode flags all three: mp3 row encodes fine but magic (RIFF)
    # disagrees with codec column; 1/2 are structurally broken
    assert violating_ids(report, "1-1") == {clip_id_for(0), clip_id_for(1), clip_id_for(2)}


def test_metadata_consistency(spark):
    corrupt = {4: "1-11", 5: "1-11"}  # 4: dur lies (+500ms); 5: sr column lies (x2)
    report = run_fixture(spark, corrupt=corrupt)
    ids = violating_ids(report, "1-11")
    assert clip_id_for(4) in ids and clip_id_for(5) in ids
    cols = {c for ic in report.results["1-11"].invalid_contents for _, c in ic.invalid_cells}
    assert "dur_ms" in cols and "sr_hz" in cols


def test_uniqueness_salted(spark):
    # duplicates across different synthesis partitions force the shuffle path
    corrupt = {10: "uniq", 77: "uniq", 113: "uniq"}
    report = run_fixture(spark, corrupt=corrupt)
    expected = {clip_id_for(9), clip_id_for(76), clip_id_for(112)}
    assert violating_ids(report, "uniq") == expected


def test_manifest_ri_anti_join(spark):
    corrupt = {20: "1-12", 55: "1-12"}
    report = run_fixture(spark, corrupt=corrupt)
    assert violating_ids(report, "1-12-manifest") == {clip_id_for(20), clip_id_for(55)}


def test_empty_row_detection(spark):
    corrupt = {30: "2-x"}
    report = run_fixture(spark, corrupt=corrupt)
    assert report.results["2-x-rows"].is_valid is False


def test_payload_fidelity(spark):
    corrupt = {40: "payload_snr", 41: "payload_transcript"}
    report = run_fixture(spark, corrupt=corrupt)
    ids = violating_ids(report, "payload-ref")
    assert ids == {clip_id_for(40), clip_id_for(41)}
    assert report.metrics["payload-ref"]["min_snr_db"] < 30.0


def test_drift_detection(spark):
    # shifted sr distribution (44100-heavy) must trip drift-sr but not a
    # clean batch (perfect batch asserted in the matrix test)
    report = run_fixture(spark, sr_probs=(0.05, 0.1, 0.15, 0.7))
    assert report.results["drift-sr"].is_valid is False
    assert report.metrics["drift-sr"]["ks_stat"] > report.metrics["drift-sr"]["ks_critical"]


def test_schema_gate_blocks(spark):
    clips, ctx = make_fixture(spark, n=40, num_partitions=4)
    broken = clips.drop("transcript")
    run = ValidationRun(spark, build_audio_ruleset())
    report = run.run(broken, ctx)
    assert report.blocked
    assert report.results["1-6-schema"].is_valid is False
    # every downstream rule is "could not check" (is_valid None,
    # before_check_1_1 semantics funcs.py:98-106)
    assert report.results["1-2"].is_valid is None
    assert report.results["uniq"].is_valid is None


def test_violations_dataframe_shape(spark):
    corrupt = {3: "1-7"}
    clips, ctx = make_fixture(spark, n=40, num_partitions=4, corrupt=corrupt)
    run = ValidationRun(spark, build_audio_ruleset())
    report = run.run(clips, ctx)
    v = report.violations.where(F.col("rule_id") == "1-7").collect()
    assert len(v) == 1
    assert v[0].clip_id == clip_id_for(3)
    assert v[0].column == "transcript"
    assert v[0].partition_id is not None
    if ctx.get("_decode_results") is not None:
        ctx["_decode_results"].unpersist()


# one run over every evidence source: the row extraction scan (1-7, 1-1-sql),
# the uniqueness shuffle, both RI anti-joins and the payload decode, with
# malformed clips among them (1: bad magic, 6: header truncated to 3 bytes)
EVIDENCE_CORRUPT = {1: "1-1", 3: "1-7", 6: "1-1", 10: "uniq", 12: "1-11",
                    20: "1-12", 30: "payload_snr", 40: "1-1", 45: "1-11"}
EVIDENCE_GOLDEN = {
    ("1-1", clip_id_for(1), "bytes"), ("payload-ref", clip_id_for(1), "bytes"),
    ("1-7", clip_id_for(3), "transcript"), ("payload-ref", clip_id_for(3), "transcript"),
    ("1-1", clip_id_for(6), "bytes"), ("payload-ref", clip_id_for(6), "bytes"),
    # index 10 carries clip 9's id and its own audio and transcript
    ("uniq", clip_id_for(9), "clip_id"), ("payload-ref", clip_id_for(9), "bytes"),
    ("payload-ref", clip_id_for(9), "transcript"),
    ("1-11", clip_id_for(12), "dur_ms"),
    ("1-12-manifest", clip_id_for(20), "clip_id"),
    ("payload-ref", clip_id_for(30), "bytes"),
    # codec column 'mp3' over a RIFF payload
    ("1-1-sql", clip_id_for(40), "codec"), ("1-12-codec", clip_id_for(40), "codec"),
    ("1-1", clip_id_for(40), "bytes"),
    ("1-11", clip_id_for(45), "sr_hz"),
}
# metric holding each non-row rule's violation count
COUNT_METRIC = {
    "uniq": "duplicate_key_count", "1-12-codec": "ri_violation_count",
    "1-12-manifest": "ri_violation_count", "1-1": "undecodable_count",
    "1-11": "metadata_mismatch_count", "payload-ref": "fidelity_violation_count",
}


def test_evidence_materialized_once(spark):
    """Cells, per-rule counts and report.violations agree row for row, match
    the golden set, and report.violations is a materialized copy: reading it
    runs no shuffle, join or decode."""
    report = run_fixture(spark, corrupt=EVIDENCE_CORRUPT)
    rows = report.violations.collect()
    evidence = Counter((r.rule_id, r.clip_id, r.column) for r in rows)
    cells = Counter(
        (rid, cid, col)
        for rid, res in report.results.items()
        for ic in res.invalid_contents
        for cid, col in ic.invalid_cells
        if cid is not None  # column-level findings carry no clip
    )
    assert cells == evidence
    assert set(evidence) == EVIDENCE_GOLDEN and max(evidence.values()) == 1

    per_rule = Counter(rid for rid, _, _ in evidence.elements())
    counts = {
        rid: int(m[COUNT_METRIC.get(rid, "violation_count")])
        for rid, m in report.metrics.items()
        if rid in COUNT_METRIC or "violation_count" in m
    }
    assert counts == {rid: per_rule[rid] for rid in counts}
    assert set(per_rule) <= set(counts)

    # a second read (a sink) sees the same rows, partition_id included
    assert sorted(map(tuple, report.violations.collect()), key=repr) == sorted(
        map(tuple, rows), key=repr)
    plan = report.violations._jdf.queryExecution().executedPlan().toString()
    for node in ("Exchange", "Join", "MapInPandas"):
        assert node not in plan, plan


def test_sink_only_run_collects_no_cells(spark):
    """max_collected_violations=0 (the streaming sink path): evidence rows
    are built, but no cells reach the driver."""
    clips, ctx = make_fixture(spark, n=40, num_partitions=4, corrupt={3: "1-7"})
    rules = build_audio_ruleset(with_payload=False, with_shuffle=False)
    report = ValidationRun(spark, rules, max_collected_violations=0).run(clips, ctx)
    assert [(r.rule_id, r.clip_id) for r in report.violations.collect()] == [
        ("1-7", clip_id_for(3))]
    assert report.results["1-7"].is_valid is False
    assert not any(ic.invalid_cells for ic in report.results["1-7"].invalid_contents)
