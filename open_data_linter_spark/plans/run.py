"""Run orchestration: compile a ruleset into the minimum number of Spark jobs.

The reference executes each check as its own full scan of the pandas frame
(csv_linter.py:95-471). At 10^12 rows that is fatal, so the plan layer fuses:

1. **Driver-side rules** (schema assertions) — zero jobs.
2. **One fused row-scan** for ALL row/cross-column predicates: a single
   ``groupBy(spark_partition_id())`` conditional aggregation produces every
   rule's per-partition violation count (map-side partial agg; the shuffle
   moves one row per input partition). A second, violation-extraction scan
   runs only when some count is non-zero — at scale violations are sparse
   and the extraction filter prunes aggressively.
3. **One fused column-agg job** for all COLUMN-scoped rules + column stats.
4. Per-rule jobs only for SHUFFLE rules (uniqueness / RI / drift) and the
   PAYLOAD decode pass (which is itself one fused Arrow scan for all
   payload rules). When evidence rows are wanted, the uniqueness and RI
   rules cache them in the job that counts them
   (``core.model.count_evidence``).
5. When evidence rows are wanted, ONE eager ``localCheckpoint`` of the
   union of every violation source (row extraction, shuffle families,
   payload rules). Driver cells, ``report.violations`` and every sink read
   that copy, so no source runs twice and they agree row for row.

The ``bytes`` column is never referenced by (2) or (3), so Parquet column
pruning keeps the heavy payload out of the cheap path (SURVEY.md §4.2).
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_data_linter_spark.core.model import (
    AUDIT_SCHEMA,
    KEEP_EVIDENCE,
    RUN_CACHES,
    InvalidContent,
    LintResult,
    Rule,
    RuleOutcome,
    RuleScope,
    count_evidence,
)

BLOCKED_MESSAGE = "チェックできませんでした (blocked: table failed the readability gate)"


@dataclass
class RunReport:
    """Materialized outcome of a validation run (small: summaries only).

    ``violations`` is the run's violation evidence (VIOLATION_SCHEMA), None
    when there is none. With ``collect_violation_rows=True`` it is the one
    materialized copy (an eager localCheckpoint of every source's rows):
    writing or collecting it re-runs no scan, shuffle, join or decode, and
    it holds exactly the rows behind the attached cells. With
    ``collect_violation_rows=False`` it is lazy, holds no row-rule rows and
    re-runs its sources when consumed. ``partition_summary_df`` is the
    per-(rule, column, partition) lineage as a DataFrame (backed by a
    localCheckpoint of the fused-scan output, so re-reading it never
    re-scans the input); it is never collected — at 10^12 rows the driver
    must never hold per-partition width.
    """

    run_id: str
    results: dict[str, LintResult]
    violations: Optional[DataFrame]
    metrics: dict[str, dict[str, float]]
    blocked: bool = False
    wall_secs: dict[str, float] = field(default_factory=dict)
    partition_summary_df: Optional[DataFrame] = None

    def is_valid(self, rule_id: str) -> Optional[bool]:
        return self.results[rule_id].is_valid

    def matrix(self) -> dict[str, Optional[bool]]:
        return {rid: r.is_valid for rid, r in self.results.items()}

    def to_dict(self) -> dict:
        return {rid: r.to_dict() for rid, r in self.results.items()}


def _safe_alias(rule_id: str, column: Optional[str], i: int) -> str:
    col = (column or "row").replace("-", "_")
    return f"v_{rule_id.replace('-', '_')}__{col}__{i}"


class ValidationRun:
    """Compiles a ruleset into the run's jobs; see the module docstring.

    ``collect_violation_rows``: build the violation evidence rows (the row
    extraction scan included) and materialize them once per run into
    ``RunReport.violations``. Off for at-scale runs that only need verdicts,
    counts and audit rows.
    ``max_collected_violations``: cap on the violating cells collected to the
    driver into the LintResults; 0 collects none (a run that only writes a
    violation sink). Only applies with ``collect_violation_rows``.
    """

    def __init__(
        self,
        spark: SparkSession,
        rules: list[Rule],
        run_id: str | None = None,
        collect_violation_rows: bool = True,
        max_collected_violations: int = 100_000,
    ) -> None:
        self.spark = spark
        self.rules = rules
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.collect_violation_rows = collect_violation_rows
        self.max_collected_violations = max_collected_violations

    # ------------------------------------------------------------------ row

    def _fused_row_scan(
        self, df: DataFrame, rules: list[Rule], ctx: dict
    ) -> tuple[dict[str, int], Optional[DataFrame], Optional[DataFrame]]:
        """One conditional-agg pass for counts + one extraction pass.

        The extraction pass runs only when evidence rows are wanted and some
        count is non-zero; it caches its rows (``count_evidence``) while
        the other phase-A families run, so the run's evidence union reads
        them instead of scanning the input again.

        Returns (per-rule violation totals, per-partition summary DataFrame
        in long format, violation-row DataFrame). The per-partition summary
        NEVER hits the driver here: the grouped scan output is
        localCheckpoint-ed (executor-resident, lineage truncated — at a real
        10^12-row scale this would be a persist or a direct audit-table
        write), the driver collects ONE global-totals row, and the long
        (rule_id, column, partition_id, violation_count, rows_scanned) form
        is derived Spark-side via ``stack`` for the audit sink.
        """
        flag_specs = []  # (rule, column_label, alias, Column)
        for r in rules:
            for i, (colname, builder) in enumerate(r.predicates or []):
                alias = _safe_alias(r.rule_id, colname, i)
                flag = builder(df)
                flag_specs.append((r, colname, alias, flag))
        if not flag_specs:
            return {r.rule_id: 0 for r in rules}, None, None

        pid = F.spark_partition_id().alias("partition_id")
        aggs = [
            F.sum(F.when(flag, F.lit(1)).otherwise(F.lit(0))).alias(alias)
            for (_, _, alias, flag) in flag_specs
        ] + [F.count(F.lit(1)).alias("__rows")]
        summary_df = df.groupBy(pid).agg(*aggs).localCheckpoint(eager=True)

        # ONE tiny row to the driver: global totals per flag
        totals_row = summary_df.agg(
            *[F.sum(alias).alias(alias) for (_, _, alias, _) in flag_specs]
        ).collect()[0]
        totals: dict[str, int] = {r.rule_id: 0 for r in rules}
        any_violation = False
        for r, _colname, alias, _ in flag_specs:
            cnt = int(totals_row[alias] or 0)
            totals[r.rule_id] += cnt
            any_violation = any_violation or cnt > 0

        # long-format lineage rows, derived executor-side from the checkpoint
        def _lit_sql(s: Optional[str]) -> str:
            return "CAST(NULL AS STRING)" if s is None else "'" + s.replace("'", "''") + "'"

        stack_args = ", ".join(
            f"{_lit_sql(r.rule_id)}, {_lit_sql(colname)}, `{alias}`"
            for (r, colname, alias, _) in flag_specs
        )
        psum_df = summary_df.select(
            F.col("partition_id"),
            F.expr(
                f"stack({len(flag_specs)}, {stack_args}) AS "
                "(rule_id, column, violation_count)"
            ),
            F.col("__rows").alias("rows_scanned"),
        ).select("rule_id", "column", "partition_id", "violation_count", "rows_scanned")

        violations_df: Optional[DataFrame] = None
        if any_violation and self.collect_violation_rows:
            key = F.col("clip_id") if "clip_id" in df.columns else F.lit(None).cast("string")
            structs = [
                F.struct(
                    F.lit(r.rule_id).alias("rule_id"),
                    F.lit(colname).cast("string").alias("column"),
                    F.lit(r.message).alias("message"),
                    flag.cast("boolean").alias("flag"),
                )
                for (r, colname, alias, flag) in flag_specs
            ]
            arr = F.array(*structs)
            hits = F.filter(arr, lambda s: F.coalesce(s["flag"], F.lit(False)))
            violations_df, _ = count_evidence(
                df.select(
                    key.alias("clip_id"),
                    F.spark_partition_id().alias("partition_id"),
                    hits.alias("hits"),
                )
                .where(F.size("hits") > 0)
                .select(
                    F.explode("hits").alias("h"),
                    "clip_id",
                    "partition_id",
                )
                .select(
                    F.col("h.rule_id").alias("rule_id"),
                    "clip_id",
                    F.col("h.column").alias("column"),
                    F.col("h.message").alias("message"),
                    "partition_id",
                ),
                ctx,
            )
        return totals, psum_df, violations_df

    # --------------------------------------------------------------- column

    def _fused_column_aggs(self, df: DataFrame, rules: list[Rule]) -> dict[str, RuleOutcome]:
        exprs: dict[str, Any] = {}
        per_rule_aliases: dict[str, list[str]] = {}
        for r in rules:
            named = r.agg_exprs(df) if r.agg_exprs else {}
            aliases = []
            for name, colexpr in named.items():
                alias = f"{r.rule_id.replace('-', '_')}__{name}"
                exprs[alias] = colexpr.alias(alias)
                aliases.append((alias, name))
            per_rule_aliases[r.rule_id] = aliases
        outcomes: dict[str, RuleOutcome] = {}
        if not exprs:
            return outcomes
        row = df.agg(*exprs.values()).collect()[0].asDict()
        for r in rules:
            values = {name: row[alias] for alias, name in per_rule_aliases[r.rule_id]}
            outcomes[r.rule_id] = r.agg_eval(values) if r.agg_eval else RuleOutcome(
                r.rule_id, True, metrics={k: float(v or 0) for k, v in values.items()}
            )
        return outcomes

    # ------------------------------------------------------------------ run

    def run(self, df: DataFrame, ctx: dict | None = None) -> RunReport:
        ctx = dict(ctx or {})
        ctx.setdefault("run_id", self.run_id)
        ctx[RUN_CACHES] = []
        ctx[KEEP_EVIDENCE] = self.collect_violation_rows
        try:
            return self._run(df, ctx)
        finally:
            # the decode and shuffle-family caches; the evidence copy (if
            # any) no longer depends on them, a lazy report.violations
            # recomputes through them if consumed later
            for cached in ctx[RUN_CACHES]:
                cached.unpersist()

    def _run(self, df: DataFrame, ctx: dict) -> RunReport:
        results: dict[str, LintResult] = {}
        metrics: dict[str, dict[str, float]] = {}
        wall: dict[str, float] = {}
        all_violation_dfs: list[DataFrame] = []

        by_scope: dict[RuleScope, list[Rule]] = {}
        for r in self.rules:
            by_scope.setdefault(r.scope, []).append(r)

        # 1. TABLE scope first: contains the readability gate (1-1 analog,
        #    before_check_1_1 semantics funcs.py:98-106). A gate failure
        #    blocks every later rule with is_valid=None.
        blocked = False
        t0 = time.time()
        for r in by_scope.get(RuleScope.TABLE, []):
            out = r.runner(self.spark, df, ctx)
            results[r.rule_id] = self._outcome_to_result(out)
            metrics[r.rule_id] = out.metrics
            if out.violations is not None:
                all_violation_dfs.append(out.violations)
            if out.is_valid is False and ctx.get("gate_rules", set()) and r.rule_id in ctx["gate_rules"]:
                blocked = True
        wall["table"] = time.time() - t0

        if blocked:
            for scope in (RuleScope.ROW, RuleScope.CROSS_COLUMN, RuleScope.COLUMN,
                          RuleScope.SHUFFLE, RuleScope.PAYLOAD):
                for r in by_scope.get(scope, []):
                    results[r.rule_id] = LintResult.simple_error(BLOCKED_MESSAGE, is_valid=None)
            return RunReport(self.run_id, results, None, metrics, blocked=True, wall_secs=wall)

        # 2-4. Everything after the gate is mutually independent, and runs
        #    in TWO phases:
        #      A) all JVM-side families concurrently from one thread pool —
        #         the fused row scan, the fused column aggregates, and each
        #         SHUFFLE rule's job topology. These are whole-stage-codegen
        #         scans/aggs; overlapping them hides per-action scheduling
        #         latency (which is core-count independent — the floor the
        #         scaling criterion punishes).
        #      B) the payload family alone. Its Arrow decode pass runs in
        #         Python worker PROCESSES (one per task slot): co-scheduling
        #         it with phase A doubles the number of CPU-hungry contexts
        #         per core and thrashes both. Measured on a pinned-core
        #         budget (the honest stand-in for an executor's cores),
        #         local[8]/60k clips: fully-concurrent 22.0s vs phased
        #         ~12.5s; the decode pass alone scales 2→8 cores at 0.86
        #         efficiency. A real cluster has the same property — an
        #         executor's cores are a budget shared by the JVM and its
        #         python workers — so the phase boundary is the at-scale
        #         design, not a local workaround.
        #    Payload rules stay sequential within phase B because they
        #    share the decode-stats cache, and drift rules serialize their
        #    shared joint-histogram job behind ctx['_drift_hist_lock'].
        import concurrent.futures as cf
        import threading

        ctx.setdefault("_drift_hist_lock", threading.Lock())
        t_all = time.time()
        row_rules = by_scope.get(RuleScope.ROW, []) + by_scope.get(RuleScope.CROSS_COLUMN, [])
        shuffle_rules = by_scope.get(RuleScope.SHUFFLE, [])
        payload_rules = by_scope.get(RuleScope.PAYLOAD, [])

        row_out: dict = {}
        col_outcomes: dict[str, RuleOutcome] = {}
        outcomes: dict[str, RuleOutcome] = {}

        def _run_payload_family() -> None:
            t0 = time.time()
            for r in payload_rules:
                outcomes[r.rule_id] = r.runner(self.spark, df, ctx)
            wall["payload"] = time.time() - t0

        def _run_row_scan() -> None:
            t0 = time.time()
            totals, psum_df, row_violations = self._fused_row_scan(df, row_rules, ctx)
            row_out.update(totals=totals, psum_df=psum_df, violations=row_violations)
            wall["row_scan"] = time.time() - t0

        def _run_column_aggs() -> None:
            t0 = time.time()
            col_outcomes.update(
                self._fused_column_aggs(df, by_scope.get(RuleScope.COLUMN, []))
            )
            wall["column_aggs"] = time.time() - t0

        def _run_rule(r: Rule) -> None:
            outcomes[r.rule_id] = r.runner(self.spark, df, ctx)

        n_tasks = 2 + len(shuffle_rules)
        with cf.ThreadPoolExecutor(max_workers=min(16, n_tasks)) as pool:
            futs = [pool.submit(_run_row_scan), pool.submit(_run_column_aggs)]
            futs += [pool.submit(_run_rule, r) for r in shuffle_rules]
            for f in futs:
                f.result()
        _run_payload_family()  # phase B: python workers get the full core budget
        # the whole phase-A+B span (all rule families)
        wall["families_total"] = time.time() - t_all

        for r in row_rules:
            total = row_out["totals"].get(r.rule_id, 0)
            results[r.rule_id] = self._counts_to_result(r, total)
            metrics[r.rule_id] = {"violation_count": float(total)}
        if row_out.get("violations") is not None:
            all_violation_dfs.append(row_out["violations"])
        for rid, out in col_outcomes.items():
            results[rid] = self._outcome_to_result(out)
            metrics[rid] = out.metrics
            if out.violations is not None:
                all_violation_dfs.append(out.violations)
        for r in shuffle_rules + payload_rules:
            out = outcomes[r.rule_id]
            results[r.rule_id] = self._outcome_to_result(out)
            metrics[r.rule_id] = out.metrics
            if out.violations is not None:
                all_violation_dfs.append(out.violations)

        violations = None
        if all_violation_dfs:
            violations = all_violation_dfs[0]
            for v in all_violation_dfs[1:]:
                violations = violations.unionByName(v)
            if self.collect_violation_rows:
                # one job reads every source once (row extraction and
                # shuffle families from their caches, payload rules from the
                # decode cache) and pins the rows, partition_id included, for
                # every consumer; one partition per core, not one per source
                # partition, so a sink writes a few files, not dozens
                t0 = time.time()
                violations = violations.coalesce(
                    self.spark.sparkContext.defaultParallelism
                ).localCheckpoint(eager=True)
                wall["evidence"] = time.time() - t0

        report = RunReport(
            self.run_id, results, violations, metrics, wall_secs=wall,
            partition_summary_df=row_out.get("psum_df"),
        )
        self._attach_violation_cells(report)
        return report

    # -------------------------------------------------------------- helpers

    def _counts_to_result(self, rule: Rule, total: int) -> LintResult:
        if total == 0:
            return LintResult(is_valid=True)
        return LintResult(is_valid=False, invalid_contents=[InvalidContent(rule.message, [])])

    def _outcome_to_result(self, out: RuleOutcome) -> LintResult:
        if out.is_valid is None:
            return LintResult.simple_error(BLOCKED_MESSAGE, is_valid=None)
        contents = []
        if out.column_findings:
            for column, msg in out.column_findings:
                contents.append(InvalidContent(msg, [(None, column)]))
        if out.is_valid:
            return LintResult(is_valid=True, invalid_contents=contents)
        if not contents:
            contents = [InvalidContent(f"rule {out.rule_id} violated", [])]
        return LintResult(is_valid=False, invalid_contents=contents)

    def _attach_violation_cells(self, report: RunReport) -> None:
        """Collect violating (clip_id, column) pairs into the LintResults.

        The driver cell collect, for interactive/test use: it reads the
        run's materialized evidence (``report.violations``), capped at
        ``max_collected_violations`` rows. Skipped when the run built no
        evidence rows (``collect_violation_rows`` off) or asks for no cells
        (``max_collected_violations=0``: a run that writes the evidence to
        a sink and never reads cells, e.g. streaming micro-batches).

        The collected cells MERGE into the existing result: the count pass
        is authoritative for is_valid, so a rule the counts marked passing
        stays passing even if the evidence holds rows for it — e.g. a
        future advisory-row rule must not silently flip pass→fail — and
        previously attached column_findings are kept.
        """
        if (report.violations is None or not self.collect_violation_rows
                or self.max_collected_violations <= 0):
            return
        rows = report.violations.limit(self.max_collected_violations).collect()
        by_rule: dict[str, dict[str, list]] = {}
        for row in rows:
            by_rule.setdefault(row.rule_id, {}).setdefault(
                row.message or "", []
            ).append((row.clip_id, row.column))
        for rid, by_msg in by_rule.items():
            contents = [InvalidContent(msg, cells) for msg, cells in by_msg.items()]
            prev = report.results.get(rid)
            if prev is None:
                report.results[rid] = LintResult(is_valid=False, invalid_contents=contents)
                continue
            # keep real findings (cells / column coordinates); drop cell-less
            # placeholders now that actual violating cells are attached
            merged = [ic for ic in prev.invalid_contents if ic.invalid_cells] + contents
            report.results[rid] = LintResult(
                is_valid=prev.is_valid, invalid_contents=merged
            )

    # ---------------------------------------------------------------- audit

    def audit_rows(self, report: RunReport) -> DataFrame:
        """Per-partition lineage + metrics rows (AUDIT_SCHEMA).

        The per-partition half is derived Spark-side from the checkpointed
        fused-scan summary (never collected to the driver); only the tiny
        per-rule metrics rows are driver-built.
        """
        ts = int(time.time())
        rows = []
        for rid, m in report.metrics.items():
            rows.append(
                (
                    report.run_id,
                    None,
                    rid,
                    report.results[rid].is_valid,
                    None,
                    None,
                    {k: float(v) for k, v in m.items()},
                    ts,
                )
            )
        # from pandas: with Arrow on, the rows reach the JVM as one local
        # relation; a list of tuples becomes a Python RDD, and every write
        # of it runs a Python task (about 1 s on a 4-vCPU host)
        metrics_df = self.spark.createDataFrame(
            pd.DataFrame(rows, columns=AUDIT_SCHEMA.fieldNames()), AUDIT_SCHEMA
        )
        psum = report.partition_summary_df
        if psum is None:
            return metrics_df
        part_df = psum.select(
            F.lit(report.run_id).alias("run_id"),
            F.col("partition_id").cast("int").alias("partition_id"),
            F.col("rule_id"),
            (F.col("violation_count") == 0).alias("pass"),
            F.col("violation_count").cast("long").alias("violation_count"),
            F.col("rows_scanned").cast("long").alias("rows_scanned"),
            F.create_map().cast("map<string,double>").alias("metrics"),
            F.lit(ts).cast("long").alias("ts_logical"),
        )
        return part_df.unionByName(metrics_df)


def sample_violations(violations: DataFrame, sample_mod: int) -> DataFrame:
    """Deterministic 1/sample_mod subsample of violation EVIDENCE rows.

    Rule verdicts and violation COUNTS are exact upstream (the fused
    counters); the violation sink exists as debugging evidence. At 10^12
    rows a pathological rule (say a bad deploy making every clip fail 1-5)
    emits 10^12 evidence rows — the sink, not the scan, becomes the job's
    cost. Hash-keyed sampling keeps ~1/sample_mod rows per rule and is
    deterministic in (rule_id, clip_id): replayed micro-batches and
    resumed partitions re-select the SAME rows (rand() would break the
    idempotent batch_id/pt overwrite sinks).
    """
    if sample_mod <= 1:
        return violations
    return violations.where(
        F.pmod(F.xxhash64("rule_id", "clip_id"), F.lit(sample_mod)) == 0
    )
