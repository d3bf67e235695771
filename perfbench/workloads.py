"""The benchmark workloads: seeded inputs, one timed unit of work, truth.

Every input is synthesized from the workload seed with the engine's own
generators (``audio/synth.py``); the engine receives only the generated
tables. Each workload also derives, from the seed and its defect map alone,
what a correct run must report (``Truth``), and ``check`` compares a run's
observable outputs against it.

Defects are placed at indices at least two apart, and only variants whose
side effects are listed in ``EFFECTS`` are used, so every expected verdict
and count follows from the defect map without running the engine.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Callable, Optional

import numpy as np

from open_data_linter_spark.audio.synth import (
    codec_registry_pdf,
    synthesize_clips,
    synthesize_reference,
)
from open_data_linter_spark.core.model import RuleScope
from open_data_linter_spark.plans.ledger import RunLedger, resumable_validation
from open_data_linter_spark.plans.run import ValidationRun
from open_data_linter_spark.rules.audio_rules import GATE_RULES, build_audio_ruleset
from open_data_linter_spark.rules.drift import joint_histograms
from open_data_linter_spark.sources.bucketed import write_bucketed
from open_data_linter_spark.sources.fixtures import DUR_BIN_EDGES, clip_manifest
from perfbench.host import cpu_delta_s, tree_cpu

DRIFT_SPECS = [("sr_hz", None), ("dur_ms", DUR_BIN_EDGES)]
DRIFT_RULES = ("drift-sr", "drift-dur")

# (tag, allowed i % 4 variants) -> violation rows as (rule_id, column).
# Variants left out would couple a defect to rules outside its family
# (e.g. 1-11's sr_hz*2 variant also breaks 1-3's sample-rate domain).
EFFECTS: dict[str, dict[int, list[tuple[str, str]]]] = {
    "1-1": {v: [("1-1", "bytes"), ("payload-ref", "bytes")] for v in (1, 2)},
    "1-11": {v: [("1-11", "dur_ms")] for v in (0, 2)},
    "payload_snr": {v: [("payload-ref", "bytes")] for v in range(4)},
    "payload_transcript": {v: [("payload-ref", "transcript")] for v in range(4)},
    "1-2": {v: [("1-2", "transcript")] for v in range(4)},
    "1-3": {0: [("1-3", "sr_hz")], 1: [("1-3", "dur_ms")],
            2: [("1-3", "sr_hz")], 3: [("1-3", "dur_ms")]},
    "1-5": {0: [("1-5", "transcript")], 1: [("1-5", "transcript")],
            2: [("1-5", "transcript")],
            3: [("1-5", "clip_id"), ("1-12-manifest", "clip_id")]},
    "1-6": {0: [("1-6-nulls", "transcript")], 1: [("1-6-nulls", "sr_hz")],
            2: [("1-6-nulls", "transcript")], 3: [("1-6-nulls", "sr_hz")]},
    "1-7": {v: [("1-7", "transcript")] for v in range(4)},
    "1-10": {v: [("1-10", "transcript")] for v in range(4)},
    "1-13": {0: [("1-13", "transcript")], 1: [("1-13", "transcript"), ("1-5", "transcript")],
             2: [("1-13", "transcript")], 3: [("1-13", "transcript"), ("1-5", "transcript")]},
    "1-12": {v: [("1-12-manifest", "clip_id")] for v in range(4)},
    "uniq": {v: [("uniq", "clip_id")] for v in range(4)},
}

# engine metric that carries each rule's violation count
COUNT_METRIC = {
    "uniq": "duplicate_key_count",
    "1-12-codec": "ri_violation_count",
    "1-12-manifest": "ri_violation_count",
    "1-1": "undecodable_count",
    "1-11": "metadata_mismatch_count",
    "payload-ref": "fidelity_violation_count",
}


def pick_defects(rng: np.random.Generator, n: int, wanted) -> dict[int, str]:
    """Seeded defect map {row index: tag} from ``wanted`` = [(tag, count,
    variants or None)]: allowed variants only, indices >= 1 and at least two
    apart (so a duplicated neighbour is always intact)."""
    taken: dict[int, str] = {}
    order = rng.permutation(np.arange(1, n - 1))
    pos = 0
    for tag, k, variants in wanted:
        allowed = set(EFFECTS[tag]) if variants is None else set(variants) & set(EFFECTS[tag])
        got = 0
        while got < k:
            if pos >= len(order):
                raise ValueError(f"table of {n} rows too small for the defect map")
            i = int(order[pos])
            pos += 1
            if i % 4 in allowed and not any(j in taken for j in (i - 1, i, i + 1)):
                taken[i] = tag
                got += 1
    return taken


def effect_rows(defects: dict[int, str]) -> list[tuple[str, str]]:
    return [e for i, tag in defects.items() for e in EFFECTS[tag][i % 4]]


@dataclass
class Truth:
    """What a correct run reports, derived from the seed and defect map."""

    verdicts: dict[str, Optional[bool]]
    counts: dict[str, int]  # rule_id -> violation count in report.metrics
    extra: dict[str, float] = field(default_factory=dict)


def truth_for(rules, defects: dict[int, str], drift_pass: bool) -> Truth:
    counts = {r.rule_id: 0 for r in rules if r.scope in (
        RuleScope.ROW, RuleScope.CROSS_COLUMN, RuleScope.SHUFFLE, RuleScope.PAYLOAD)
        and r.rule_id not in DRIFT_RULES}
    for rid, _col in effect_rows(defects):
        counts[rid] += 1
    verdicts: dict[str, Optional[bool]] = {}
    for r in rules:
        if r.rule_id in DRIFT_RULES:
            verdicts[r.rule_id] = drift_pass
        else:
            verdicts[r.rule_id] = counts.get(r.rule_id, 0) == 0
    return Truth(verdicts, counts)


def metric_count(metrics: dict, rule_id: str) -> int:
    return int(metrics[rule_id][COUNT_METRIC.get(rule_id, "violation_count")])


def check(truth: Truth, matrix: dict, metrics: dict, observed: dict[str, float]) -> list[str]:
    """Mismatches between a run's outputs and its truth (empty = correct)."""
    bad = []
    if matrix != truth.verdicts:
        diff = {k: (matrix.get(k), v) for k, v in truth.verdicts.items() if matrix.get(k) != v}
        extra = set(matrix) - set(truth.verdicts)
        bad.append(f"verdicts (got, want): {diff} unexpected={sorted(extra)}")
    for rid, want in truth.counts.items():
        got = metric_count(metrics, rid)
        if got != want:
            bad.append(f"{rid} count {got} != {want}")
    for k, want in truth.extra.items():
        if observed.get(k) != want:
            bad.append(f"{k} {observed.get(k)} != {want}")
    return bad


class Timed:
    """Wall time, epoch window and process-tree CPU time of one region."""

    def __enter__(self) -> "Timed":
        self.c0 = tree_cpu()
        self.w0, self.t0 = time.time(), time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self.t0
        self.w1 = time.time()
        self.cpu = cpu_delta_s(self.c0, tree_cpu())


@dataclass
class Sample:
    """One timed unit of work and what it checked."""

    timed: Timed
    clips: int
    mismatches: list[str]


def _rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def _finish_ctx(spark, ctx: dict, n_manifest: int, manifest_excl: set[int]) -> dict:
    ctx.update(
        codec_registry=spark.createDataFrame(codec_registry_pdf()),
        clip_manifest=clip_manifest(spark, n_manifest, manifest_excl),
        gate_rules=set(GATE_RULES),
    )
    return ctx


class Workload:
    name = ""
    rules: list

    def __init__(self, spark, seed: int, root: str, size: dict) -> None:
        self.spark, self.seed, self.root, self.size = spark, seed, root, size
        self.rules = self.make_rules()
        self.build_count = 0

    def make_rules(self) -> list:
        return build_audio_ruleset()

    def build(self) -> None:
        """One set-up round: synthesize and store the inputs."""
        raise NotImplementedError

    def run_once(self) -> Sample:
        raise NotImplementedError

    def _dir(self, name: str) -> str:
        return os.path.join(self.root, f"{name}_{self.build_count}")


class AudioPayload(Workload):
    """Full ruleset over bucketed clips + reference; payload defects only."""

    name = "audio_payload"
    TAGS = ("1-1", "1-11", "payload_snr", "payload_transcript")

    def build(self) -> None:
        n, buckets = self.size["n"], self.size["buckets"]
        k = max(1, n // 800)
        self.defects = pick_defects(np.random.default_rng(self.seed), n,
                                    [(t, k, None) for t in self.TAGS])
        self.build_count += 1
        clips_dir, refs_dir = self._dir("clips"), self._dir("refs")
        parts = self.size["synth_parts"]
        write_bucketed(synthesize_clips(self.spark, n, parts, seed=self.seed,
                                        corrupt=self.defects),
                       "pb_clips", clips_dir, buckets=buckets)
        write_bucketed(synthesize_reference(self.spark, n, parts, seed=self.seed),
                       "pb_refs", refs_dir, buckets=buckets)
        self.clips = self.spark.table("pb_clips")
        ctx = {"reference_clips": self.spark.table("pb_refs")}
        # frozen from the validated table itself: drift must pass
        ctx["baseline_hist"] = joint_histograms(self.clips, DRIFT_SPECS)
        self.ctx = _finish_ctx(self.spark, ctx, n, set())
        self.truth = truth_for(self.rules, self.defects, drift_pass=True)
        for old in ("clips", "refs"):
            _rmtree(os.path.join(self.root, f"{old}_{self.build_count - 1}"))

    def run_once(self) -> Sample:
        run = ValidationRun(self.spark, self.rules, collect_violation_rows=False)
        with Timed() as t:
            report = run.run(self.clips, dict(self.ctx))
            matrix = report.matrix()
        return Sample(t, self.size["n"], check(self.truth, matrix, report.metrics, {}))


class MetadataDirty(Workload):
    """Payload-free ruleset over many tiny clips with row/key/RI/drift defects;
    violations and audit rows are written to parquet sinks."""

    name = "metadata_dirty"
    # sr_hz mix shifted against the frozen default-mix baseline
    SHIFTED_SR = (0.1, 0.3, 0.2, 0.4)
    TAGS = ("1-2", "1-3", "1-5", "1-6", "1-7", "1-10", "1-13", "uniq", "1-12")

    def make_rules(self) -> list:
        return build_audio_ruleset(with_payload=False)

    def build(self) -> None:
        n = self.size["n"]
        k = max(2, n // (100 * len(self.TAGS)))  # ~1% of rows defective
        # 1-3 gets both variants: sr_hz=0 and dur_ms=-5 rows land in drift
        # bins the frozen baseline holds none of
        wanted = [(t, k, None) for t in self.TAGS if t != "1-3"]
        wanted += [("1-3", k // 2, (0, 2)), ("1-3", k - k // 2, (1, 3))]
        self.defects = pick_defects(np.random.default_rng(self.seed), n, wanted)
        self.build_count += 1
        path = self._dir("clips")
        dur = tuple(self.size["dur_range"])
        synthesize_clips(self.spark, n, self.size["synth_parts"], seed=self.seed,
                         dur_range=dur, corrupt=self.defects,
                         sr_probs=self.SHIFTED_SR).write.mode("overwrite").parquet(path)
        self.clips = self.spark.read.parquet(path)
        base = synthesize_clips(self.spark, max(1000, n // 8), 4, seed=self.seed + 1,
                                dur_range=dur)
        ctx = {"baseline_hist": joint_histograms(base, DRIFT_SPECS)}
        excl = {i for i, t in self.defects.items() if t == "1-12"}
        self.ctx = _finish_ctx(self.spark, ctx, n, excl)
        # both drift rules fail: sr_hz mix shifted, plus the 1-3 rows above
        self.truth = truth_for(self.rules, self.defects, drift_pass=False)
        from pyspark.sql import functions as F

        n_parts = self.clips.select(F.spark_partition_id().alias("p")).distinct().count()
        n_flags = sum(len(r.predicates or []) for r in self.rules)
        self.truth.extra = {
            "violation_rows": float(len(effect_rows(self.defects))),
            "audit_rows": float(n_flags * n_parts + len(self.rules)),
        }
        self.sinks = os.path.join(self.root, "sinks")
        _rmtree(os.path.join(self.root, f"clips_{self.build_count - 1}"))

    def run_once(self) -> Sample:
        run = ValidationRun(self.spark, self.rules, collect_violation_rows=True)
        vpath, apath = os.path.join(self.sinks, "violations"), os.path.join(self.sinks, "audit")
        with Timed() as t:
            report = run.run(self.clips, dict(self.ctx))
            matrix = report.matrix()
            if report.violations is not None:
                report.violations.write.mode("overwrite").parquet(vpath)
            run.audit_rows(report).coalesce(1).write.mode("overwrite").parquet(apath)
        observed = {
            "violation_rows": float(self.spark.read.parquet(vpath).count()
                                    if report.violations is not None else 0),
            "audit_rows": float(self.spark.read.parquet(apath).count()),
        }
        return Sample(t, self.size["n"], check(self.truth, matrix, report.metrics, observed))


def resume_cycle(spark, df, rules, ctx: dict, root: str, pts: int = 2) -> dict:
    """One crash-and-resume cycle of ``resumable_validation`` over ``df``
    split into ``pts`` hash buckets of clip_id: the first call stops after
    half the pts, the second resumes through the ledger to completion."""
    from pyspark.sql import functions as F

    table = df.withColumn("pt", F.pmod(F.xxhash64("clip_id"), F.lit(pts)).cast("int"))
    ledger, audit = os.path.join(root, "ledger"), os.path.join(root, "audit")

    def call(fail_after):
        return resumable_validation(spark, table, rules, ledger, audit, "cycle",
                                    ctx=dict(ctx), fail_after=fail_after)

    first = call(pts // 2)
    t0 = time.perf_counter()
    second = call(None)
    resume_s = time.perf_counter() - t0
    bad = []
    if len(first) != pts // 2 or sorted(first + second) != list(range(pts)):
        bad.append(f"resume steps {first} then {second}")
    done = sorted(int(r.pt) for r in RunLedger(spark, ledger).completed("cycle").collect())
    if done != list(range(pts)):
        bad.append(f"ledger holds {done}")
    summary = spark.read.parquet(audit).where(F.col("partition_id").isNull())
    per_pt = {int(r.pt): int(r["count"]) for r in summary.groupBy("pt").count().collect()}
    if per_pt != {pt: len(rules) for pt in range(pts)}:
        bad.append(f"audit summary rows per pt {per_pt}")
    files = sum(f.endswith(".parquet") for d in (ledger, audit)
                for _r, _d, fs in os.walk(d) for f in fs)
    return {"first": first, "second": second, "resume_s": resume_s,
            "files_written": files, "mismatches": bad}


WORKLOADS: dict[str, Callable[..., Workload]] = {
    w.name: w for w in (AudioPayload, MetadataDirty)
}

# inputs per workload; TINY is the self-test scale
SIZES = {
    "audio_payload": {"n": 4_000, "buckets": 8, "synth_parts": 8},
    "metadata_dirty": {"n": 50_000, "dur_range": (10, 40), "synth_parts": 4},
}
TINY = {
    "audio_payload": {"n": 120, "buckets": 2, "synth_parts": 2},
    "metadata_dirty": {"n": 600, "dur_range": (10, 40), "synth_parts": 2},
}
