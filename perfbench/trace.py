"""Traced runs: spans around calls into the engine's layers, Spark task
counters from the event log attributed to those spans, per-layer metrics.

Spans are recorded only from this file, by wrapping public entry points
while a traced unit, or the single-family runs, ledger cycle and codec
sample after the measured loop, execute: each rule's ``runner``,
``ValidationRun.run`` and ``audit_rows``, ``rules.payload.decode_results``,
the ``RunLedger`` methods, ``DataFrameWriter.parquet`` (the sinks) and
``ValidationRun._attach_violation_cells`` (the driver cell collect). Each
wrapper sets the ``perfbench.span`` local property on its calling thread,
so every job it starts carries the span id into the event log. Jobs started
from the run's own phase-A threads (fused row scan, fused column aggregates)
carry no tag; they are attributed by time, which is exact for the
sequential single-family runs and the per-unit windows.

``ValidationRun.run`` reports its own phase walls (``RunReport.wall_secs``);
the gate, phase A and phase B become child spans of the run span, laid end
to end from its start. The driver cell collect after phase B is a span of
its own around ``ValidationRun._attach_violation_cells``. The blocking
steps of a unit (gate, phase A, phase B, cell collect, audit rows, sink
writes) are summed and compared with its wall time; time none of them
covers lowers the sum.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Optional

from perfbench.host import GC_THREADS, tree_thread_ticks

SPAN_KEY = "perfbench.span"
FAMILIES = {
    "row_scan": lambda r: r.scope.value in ("row", "cross_column"),
    "column_aggs": lambda r: r.scope.value == "column",
    "uniqueness": lambda r: r.rule_id == "uniq",
    "referential": lambda r: r.rule_id.startswith("1-12-"),
    "drift": lambda r: r.rule_id.startswith("drift-"),
    "payload": lambda r: r.scope.value == "payload",
}
DECODE_SAMPLE = 200  # clips in the fixed single-thread codec sample


def event_log_conf(path: str) -> dict[str, str]:
    os.makedirs(path, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + path,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds
    end: float
    parent: Optional[int]
    unit: int  # traced unit (0 = outside the measured loop)

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Task:
    stage: int
    launch: float
    finish: float
    run_s: float
    wait_s: float  # launched but neither deserializing nor running
    shuffle_read: float
    shuffle_write: float
    input_bytes: float
    spill_bytes: float
    py_in: float
    py_out: float


def read_event_log(events_dir: str) -> tuple[list[float], dict, list[Task]]:
    """(job submission times, stage id -> {span, decode}, tasks) from the one
    finished event log in ``events_dir``."""
    (name,) = [f for f in os.listdir(events_dir) if not f.endswith(".inprogress")]
    jobs, stages, tasks = [], {}, []
    with open(os.path.join(events_dir, name)) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                jobs.append(e["Submission Time"] / 1000)
            elif ev == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                scopes = " ".join(r.get("Scope", "") for r in info.get("RDD Info", []))
                stages[info["Stage ID"]] = {
                    "span": (e.get("Properties") or {}).get(SPAN_KEY),
                    "decode": "MapInPandas" in scopes,
                }
            elif ev == "SparkListenerTaskEnd":
                ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                acc = {a.get("Name"): float(a["Update"]) for a in ti.get("Accumulables", [])
                       if "Update" in a and str(a["Update"]).lstrip("-").isdigit()}
                tasks.append(Task(
                    stage=e["Stage ID"],
                    launch=ti["Launch Time"] / 1000,
                    finish=ti["Finish Time"] / 1000,
                    run_s=tm.get("Executor Run Time", 0) / 1000,
                    wait_s=(ti["Finish Time"] - ti["Launch Time"]
                            - tm.get("Executor Run Time", 0)
                            - tm.get("Executor Deserialize Time", 0)) / 1000,
                    shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    shuffle_write=(tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0),
                    input_bytes=(tm.get("Input Metrics") or {}).get("Bytes Read", 0),
                    spill_bytes=tm.get("Disk Bytes Spilled", 0),
                    py_in=acc.get("data sent to Python workers", 0.0),
                    py_out=acc.get("data returned from Python workers", 0.0),
                ))
    return jobs, stages, tasks


def _in(tasks: list[Task], start: float, end: float) -> list[Task]:
    return [t for t in tasks if start <= t.launch <= end]


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Tracer:
    """Runs the measured loop with tracing on every other unit, then the
    single-family runs, a ledger cycle and the codec sample, and turns spans
    plus the event log into metrics."""

    def __init__(self, spark, wl, cores: int) -> None:
        self.spark, self.sc, self.wl, self.cores = spark, spark.sparkContext, wl, cores
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()
        self.unit = 0
        # span stack of the client thread; the tracer is built on that thread
        self._main: list[int] = self._tls.__dict__.setdefault("stack", [])
        self.pending_lens: list[int] = []
        self.traced: list[tuple[int, object]] = []  # (unit root span id, Sample)
        self.untraced_run_s: list[float] = []
        from open_data_linter_spark.rules.audio_rules import build_audio_ruleset

        # single-family runs draw on the full ruleset, so every family
        # (payload included) runs on every workload
        self.family_rules = build_audio_ruleset()
        self.family_spans: dict[str, int] = {}
        self.gc_s: list[float] = []
        self.ledger_span: Optional[int] = None
        self.cycle: dict = {}
        self.extra: dict[str, float] = {}
        self.mismatches: list[str] = []
        self.not_measured: list[str] = []
        self.shares: dict[str, float] = {}  # median share of unit wall per blocking step

    # ------------------------------------------------------------- spans

    @contextmanager
    def span(self, name: str):
        stack = self._tls.__dict__.setdefault("stack", [])
        # a thread the run started (phase A) nests under the client's open span
        parent = stack[-1] if stack else (self._main[-1] if self._main else None)
        sid = next(self._ids)
        prev = self.sc.getLocalProperty(SPAN_KEY)
        self.sc.setLocalProperty(SPAN_KEY, str(sid))
        stack.append(sid)
        t0 = time.time()
        try:
            yield sid
        finally:
            t1 = time.time()
            stack.pop()
            self.sc.setLocalProperty(SPAN_KEY, prev)
            self._add(Span(sid, name, t0, t1, parent, self.unit))

    def _add(self, span: Span) -> None:
        with self._lock:
            self.spans.append(span)

    def _get(self, sid: int) -> Span:
        return next(s for s in reversed(self.spans) if s.id == sid)

    def _wrap(self, fn, name: str, after=None):
        def traced(*args, **kwargs):
            with self.span(name) as sid:
                out = fn(*args, **kwargs)
            if after is not None:
                after(sid, out)
            return out

        return traced

    def _phases(self, sid: int, report) -> None:
        """Lay the run's reported phase walls end to end under its span."""
        run = self._get(sid)
        w = report.wall_secs
        payload = w.get("payload", 0.0)
        t = run.start
        for name, dur in (("plans.run.gate", w.get("table", 0.0)),
                          ("plans.run.phase_a", w.get("families_total", payload) - payload),
                          ("plans.run.phase_b", payload)):
            self._add(Span(next(self._ids), name, t, t + dur, sid, run.unit))
            t += dur

    @contextmanager
    def patched(self):
        from pyspark.sql.readwriter import DataFrameWriter

        import open_data_linter_spark.rules.payload as payload
        from open_data_linter_spark.plans.ledger import RunLedger
        from open_data_linter_spark.plans.run import ValidationRun

        saved = [(r, "runner", r.runner) for r in self.wl.rules + self.family_rules
                 if r.runner is not None]
        saved += [(ValidationRun, "run", ValidationRun.run),
                  (ValidationRun, "audit_rows", ValidationRun.audit_rows),
                  (ValidationRun, "_attach_violation_cells",
                   ValidationRun._attach_violation_cells),
                  (payload, "decode_results", payload.decode_results),
                  (RunLedger, "pending", RunLedger.pending),
                  (RunLedger, "mark_done", RunLedger.mark_done),
                  (RunLedger, "completed", RunLedger.completed),
                  (DataFrameWriter, "parquet", DataFrameWriter.parquet)]
        names = {"run": "ValidationRun.run", "audit_rows": "ValidationRun.audit_rows",
                 "_attach_violation_cells": "plans.run.attach_cells",
                 "decode_results": "rules.payload.decode_results",
                 "pending": "ledger.pending", "mark_done": "ledger.mark_done",
                 "completed": "ledger.completed", "parquet": "sink.write"}
        for obj, attr, fn in saved:
            if attr == "runner":
                name = f"rule:{obj.rule_id}"
            else:
                name = names[attr]
            after = {"ValidationRun.run": self._phases,
                     "ledger.pending": lambda sid, pts: self.pending_lens.append(len(pts)),
                     }.get(name)
            setattr(obj, attr, self._wrap(fn, name, after))
        try:
            yield
        finally:
            for obj, attr, fn in saved:
                setattr(obj, attr, fn)

    # -------------------------------------------------------- the runs

    def measure(self):
        """One unit of the measured loop; odd units traced, even untraced,
        so the two are interleaved under the same host conditions."""
        self.unit += 1
        if self.unit % 2 == 0:
            s = self.wl.run_once()
            self.untraced_run_s.append(s.timed.wall)
            return s
        gc0 = tree_thread_ticks(GC_THREADS)
        with self.patched(), self.span("unit") as sid:
            s = self.wl.run_once()
        self.gc_s.append((tree_thread_ticks(GC_THREADS) - gc0) / os.sysconf("SC_CLK_TCK"))
        self.traced.append((sid, s))
        return s

    def after_loop(self) -> None:
        """Single-family runs, the ledger cycle and the codec sample."""
        from open_data_linter_spark.plans.run import ValidationRun

        self.unit = 0
        df, ctx = self.wl.clips, self.wl.ctx
        with self.patched():
            for fam, pick in FAMILIES.items():
                rules = [r for r in self.family_rules if pick(r)]
                with self.span(f"family:{fam}") as sid:
                    report = ValidationRun(self.spark, rules).run(df, dict(ctx))
                self.family_spans[fam] = sid
                if fam == "row_scan":
                    emitted = sum(len(ic.invalid_cells) for r in rules
                                  for ic in report.results[r.rule_id].invalid_contents)
                    self.extra["rules.violation_rows"] = emitted
                    # the extraction scan runs only when some count is non-zero
                    scanned = self.wl.size["n"] if emitted else 0
                    self.extra["rules.extract_yield"] = emitted / scanned if scanned else 0.0
            from perfbench.workloads import resume_cycle

            with self.span("ledger_cycle") as sid:
                self.cycle = resume_cycle(self.spark, df, self.wl.rules, ctx,
                                          os.path.join(self.wl.root, "cycle"))
            self.ledger_span = sid
            self.mismatches += self.cycle["mismatches"]
            self.extra["plans.ledger.files_written"] = self.cycle["files_written"]
        self.extra["audio.codecs.decode_per_s"] = decode_throughput()

    # ----------------------------------------------------------- metrics

    def metrics(self, events_dir: str, out_path: str) -> dict[str, tuple[float, str]]:
        jobs, stages, tasks = read_event_log(events_dir)
        by_parent: dict[int, list[Span]] = {}
        for s in self.spans:
            by_parent.setdefault(s.parent, []).append(s)

        per_unit: dict[str, list[float]] = {}
        shares: dict[str, list[float]] = {}

        def note(key: str, value: float) -> None:
            per_unit.setdefault(key, []).append(value)

        for root, sample in self.traced:
            w0, w1 = sample.timed.w0, sample.timed.w1
            ts = _in(tasks, w0, w1)
            note("plans.run.jobs", sum(w0 <= t <= w1 for t in jobs))
            note("plans.run.tasks", len(ts))
            busy = sum(min(t.finish, w1) - t.launch for t in ts)
            note("plans.run.idle_core_frac", max(0.0, 1 - busy / ((w1 - w0) * self.cores)))
            note("sources.scan_input_bytes", sum(t.input_bytes for t in ts))
            note("spark.task_wait_s", sum(t.wait_s for t in ts))
            note("spark.spill_bytes", sum(t.spill_bytes for t in ts))
            # blocking steps: the run's phases and cell collect, then the
            # audit rows and sink writes that follow the run
            steps: dict[str, float] = {}
            for s in by_parent.get(root, []):
                if s.name in ("ValidationRun.audit_rows", "sink.write"):
                    steps[s.name] = steps.get(s.name, 0.0) + s.dur
                for p in by_parent.get(s.id, []):
                    if p.name.startswith("plans.run."):
                        note(p.name + "_s", p.dur)
                        steps[p.name] = steps.get(p.name, 0.0) + p.dur
            cover = sum(steps.values()) / sample.timed.wall
            note("tracing.blocking_cover_frac", cover)
            for name, dur in steps.items():
                shares.setdefault(name, []).append(dur / sample.timed.wall)
            shares.setdefault("not_covered", []).append(1 - cover)

        out = {k: (_median(v), _UNITS[k]) for k, v in per_unit.items()}
        self.shares = {k: round(_median(v), 4) for k, v in sorted(shares.items())}
        out["spark.gc_s"] = (_median(self.gc_s), "s")
        for fam, sid in self.family_spans.items():
            sp = self._get(sid)
            out[f"rules.{fam}_s"] = (sp.dur, "s")
            out[f"rules.{fam}_shuffle_bytes"] = (
                sum(t.shuffle_write for t in _in(tasks, sp.start, sp.end)), "bytes")
        sp = self._get(self.family_spans["payload"])
        dec = [t for t in _in(tasks, sp.start, sp.end) if stages.get(t.stage, {}).get("decode")]
        durs = sorted(t.finish - t.launch for t in dec)
        out.update({
            "rules.payload.decode_s": (sum(t.run_s for t in dec), "s"),
            "rules.payload.python_bytes_in": (sum(t.py_in for t in dec), "bytes"),
            "rules.payload.python_bytes_out": (sum(t.py_out for t in dec), "bytes"),
            "rules.payload.task_s": (_median(durs), "s"),
            "rules.payload.task_skew": (durs[-1] / _median(durs) if durs else 0.0, "ratio"),
            # an exchange in front of the decode stage would be read here
            "rules.payload.ref_join_shuffle_bytes": (sum(t.shuffle_read for t in dec), "bytes"),
        })
        ledger = self._ledger_metrics()
        out.update({k: (v, _UNITS[k]) for k, v in {**self.extra, **ledger}.items()})
        traced = [s.timed.wall for _, s in self.traced]
        out["tracing.overhead_frac"] = (
            _median(traced) / _median(self.untraced_run_s) - 1
            if traced and self.untraced_run_s else 0.0, "frac")
        self._write(out_path, stages, tasks)
        self.not_measured = sorted(set(_UNITS) - set(out))
        for k in self.not_measured:  # nothing of that layer ran on this workload
            out[k] = (0.0, _UNITS[k])
        return dict(sorted(out.items()))

    def _ledger_metrics(self) -> dict[str, float]:
        if self.ledger_span is None:
            return {}

        def durs(name: str, parent: Optional[int] = None) -> list[float]:
            return [s.dur for s in self.spans
                    if s.name == name and (parent is None or s.parent == parent)]

        # the restart's pending() is the cycle's last one
        pending_at_restart = self.pending_lens[-1] if self.pending_lens else 0
        return {
            "plans.ledger.pending_s": _median(durs("ledger.pending")),
            "plans.ledger.mark_done_s": _median(durs("ledger.mark_done")),
            # per-pt audit writes; the ledger's own writes nest in mark_done
            "plans.ledger.audit_write_s": _median(durs("sink.write", self.ledger_span)),
            "plans.ledger.redo_frac": (len(self.cycle["second"]) / pending_at_restart
                                       if pending_at_restart else 0.0),
            "plans.ledger.resume_s": self.cycle["resume_s"],
        }

    def _write(self, path: str, stages: dict, tasks: list[Task]) -> None:
        """Spans with the task counters of the jobs they tagged, one per line."""
        agg: dict[str, dict[str, float]] = {}
        for t in tasks:
            span = stages.get(t.stage, {}).get("span")
            if span is None:
                continue
            a = agg.setdefault(span, {"tasks": 0, "task_s": 0.0, "shuffle_write": 0.0,
                                      "input_bytes": 0.0})
            a["tasks"] += 1
            a["task_s"] += t.run_s
            a["shuffle_write"] += t.shuffle_write
            a["input_bytes"] += t.input_bytes
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps({**asdict(s), **agg.get(str(s.id), {})}) + "\n")


def decode_throughput(seconds: float = 1.0) -> float:
    """Single-thread ``decode_clip`` + ``snr_db`` over a fixed clip sample
    (seed 0, the synth default durations), in clips per second."""
    import numpy as np

    from open_data_linter_spark.audio.codecs import decode_clip, pcm_to_float32, snr_db
    from open_data_linter_spark.audio.synth import gen_clips_pdf, gen_reference_pdf

    idx = np.arange(DECODE_SAMPLE)
    clips = list(gen_clips_pdf(idx, seed=0)["bytes"])
    refs = [pcm_to_float32(np.frombuffer(b, dtype=np.int16))
            for b in gen_reference_pdf(idx, seed=0)["pcm_ref"]]
    done, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        for data, ref in zip(clips, refs):
            _codec, _sr, pcm = decode_clip(data)
            snr_db(ref, pcm_to_float32(pcm))
        done += len(clips)
    return done / (time.perf_counter() - t0)


_UNITS = {
    "sources.scan_input_bytes": "bytes",
    "plans.run.jobs": "count",
    "plans.run.tasks": "count",
    "plans.run.idle_core_frac": "frac",
    "plans.run.gate_s": "s",
    "plans.run.phase_a_s": "s",
    "plans.run.phase_b_s": "s",
    "plans.run.attach_cells_s": "s",
    **{f"rules.{f}_s": "s" for f in FAMILIES},
    **{f"rules.{f}_shuffle_bytes": "bytes" for f in FAMILIES},
    "rules.violation_rows": "count",
    "rules.extract_yield": "frac",
    "rules.payload.decode_s": "s",
    "rules.payload.python_bytes_in": "bytes",
    "rules.payload.python_bytes_out": "bytes",
    "rules.payload.task_s": "s",
    "rules.payload.task_skew": "ratio",
    "rules.payload.ref_join_shuffle_bytes": "bytes",
    "audio.codecs.decode_per_s": "1/s",
    "plans.ledger.pending_s": "s",
    "plans.ledger.mark_done_s": "s",
    "plans.ledger.audit_write_s": "s",
    "plans.ledger.files_written": "count",
    "plans.ledger.redo_frac": "frac",
    "plans.ledger.resume_s": "s",
    "spark.gc_s": "s",
    "spark.task_wait_s": "s",
    "spark.spill_bytes": "bytes",
    "tracing.overhead_frac": "frac",
    "tracing.blocking_cover_frac": "frac",
}
