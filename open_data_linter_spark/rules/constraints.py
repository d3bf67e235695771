"""Declarative constraint suites: user-declared checks, one scan.

The reference engine ships a FIXED rule set (csv_linter.py's 1-x checks);
production tables also carry table-SPECIFIC expectations — "o_orderkey is
never null and unique", "o_totalprice ∈ [0, 600k]", "status ∈ {F,O,P}",
"l_shipdate ≤ l_receiptdate". This module is the declarative layer over
the same pass/fail + violation-count contract (core/model.py's shape):
a constraint SUITE is plain data, compiled into ONE aggregation pass.

Spark-first design: every row-level constraint becomes a
``sum(CASE WHEN violated)`` counter inside a single ``df.agg`` — the scan
reads only the referenced columns (column pruning), the aggregation is
partial (map-side combine), and adding a constraint adds an expression,
not a job. ``unique`` folds in as ``count(col) - count(DISTINCT col)``
in the same pass (CAVEAT: each exact count-distinct makes Catalyst plan
an Expand, multiplying the shuffle's rows by ~(#uniques + 1) — still one
scan, but at 10^12 rows keep unique constraints few per suite, or check
uniqueness through rules/uniqueness.py's salted path). At 10^12 rows
the suite costs one scan regardless of how many row-level constraints
it carries — the property the reference's per-check passes over a
pandas frame cannot have.

Constraint kinds (``kind`` key of each spec dict):

- ``not_null``:   violation = NULL value
- ``unique``:     violations = count(col) - count(DISTINCT col)
                  (non-null duplicate occurrences beyond the first)
- ``range``:      violation = non-null value outside [``min``, ``max``]
                  (either bound optional)
- ``in_set``:     violation = non-null value not in ``values``
- ``matches``:    violation = non-null value not fully matching ``regex``
- ``expr``:       violation = rows where the boolean SQL ``sql`` is NOT
                  true (cross-field checks; NULL counts as a violation —
                  declare the null-tolerance inside the expression)

Every spec may carry ``max_violation_rate`` (default 0.0): the constraint
passes while violations/checked ≤ the tolerance — the Great-Expectations
"mostly" knob. ``n_checked`` is the total row count for row-level kinds
(NULL handling is the constraint's own business, mirroring how the
reference counts cells), and the non-null count for ``unique``.

Violation-row sampling (``constraint_violations``) reuses the suite's
compiled predicate for ONE constraint and returns the offending rows
with the engine's (rule_id, column, message)-style coordinates.

Reference seed: csv_linter.py's per-check invalid-cell counters and
1-13's masked-domain check (the in_set analog); extended here to a
user-declared suite per the training-data-pipeline mandate.
"""

from __future__ import annotations

from typing import Any, Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_KINDS = ("not_null", "unique", "range", "in_set", "matches", "expr")


def _violated(spec: Mapping[str, Any]) -> Column:
    """Boolean violation predicate for a row-level spec (not ``unique``)."""
    kind = spec["kind"]
    if kind == "expr":
        ok = F.expr(spec["sql"])
        # NOT true: false OR null — an unevaluable cross-field check is a
        # violation unless the expression itself tolerates the nulls
        return ~ok.eqNullSafe(F.lit(True))
    c = F.col(spec["column"])
    if kind == "not_null":
        return c.isNull()
    if kind == "range":
        lo, hi = spec.get("min"), spec.get("max")
        bad = F.lit(False)
        if lo is not None:
            bad = bad | (c < F.lit(lo))
        if hi is not None:
            bad = bad | (c > F.lit(hi))
        return c.isNotNull() & bad
    if kind == "in_set":
        return c.isNotNull() & ~c.isin(list(spec["values"]))
    if kind == "matches":
        return c.isNotNull() & ~c.cast("string").rlike(
            "^(?:" + spec["regex"] + ")$"
        )
    raise ValueError(f"unknown constraint kind {kind!r}")


def _cid(i: int, spec: Mapping[str, Any]) -> str:
    return spec.get("id") or f"c{i:02d}_{spec['kind']}_{spec.get('column', 'expr')}"


def check_constraints(
    df: DataFrame, suite: Sequence[Mapping[str, Any]]
) -> DataFrame:
    """Evaluate a constraint suite in ONE aggregation pass.

    Returns one row per constraint, in suite order:
    ``(constraint_id, kind, column, n_checked, n_violations,
    violation_rate, passed)`` — rate rounded to 6 places, NULL on an
    empty check set; ``passed`` compares the rate against the spec's
    ``max_violation_rate`` (empty check set passes).
    """
    if not suite:
        raise ValueError("suite must declare at least one constraint")
    for spec in suite:
        if spec["kind"] not in _KINDS:
            raise ValueError(f"unknown constraint kind {spec['kind']!r}")

    aggs: list[Column] = [F.count(F.lit(1)).alias("__rows")]
    for i, spec in enumerate(suite):
        if spec["kind"] == "unique":
            c = F.col(spec["column"])
            aggs.append(F.count(c).alias(f"chk_{i}"))
            aggs.append(
                (F.count(c) - F.count_distinct(c)).alias(f"bad_{i}")
            )
        else:
            aggs.append(
                F.sum(_violated(spec).cast("long")).alias(f"bad_{i}")
            )
    totals = df.agg(*aggs)

    rows: list[Column] = []
    for i, spec in enumerate(suite):
        checked = (
            F.col(f"chk_{i}")
            if spec["kind"] == "unique"
            else F.col("__rows")
        )
        bad = F.coalesce(F.col(f"bad_{i}"), F.lit(0))
        # the REPORTED rate is rounded (display contract); the verdict
        # compares the raw rate, so 1 violation in 10^9 rows still fails
        # a zero-tolerance constraint instead of rounding to 0.000000
        raw_rate = F.when(checked > 0, bad.cast("double") / checked)
        rate = F.round(raw_rate, 6)
        tol = float(spec.get("max_violation_rate", 0.0))
        rows.append(
            F.struct(
                F.lit(_cid(i, spec)).alias("constraint_id"),
                F.lit(spec["kind"]).alias("kind"),
                F.lit(spec.get("column")).cast("string").alias("column"),
                checked.cast("long").alias("n_checked"),
                bad.cast("long").alias("n_violations"),
                rate.alias("violation_rate"),
                F.coalesce(raw_rate <= F.lit(tol), F.lit(True)).alias(
                    "passed"
                ),
            )
        )
    return totals.select(
        F.explode(F.array(*rows)).alias("r")
    ).select("r.*")


_NUMERIC = ("tinyint", "smallint", "int", "bigint", "float", "double")


def suggest_constraints(
    df: DataFrame,
    columns: Sequence[str] | None = None,
    max_domain: int = 8,
) -> list[dict]:
    """Bootstrap a draft suite FROM a healthy snapshot's profile — the
    expectation-profiler loop: infer the constraints this data already
    satisfies, then ``check_constraints(next_snapshot, suite)`` turns
    yesterday's shape into today's regression gate.

    Inference per column (in column order):
    - observed null rate 0 → a ``not_null`` constraint
    - numeric type → ``range`` over the observed [min, max]
    - string with exact distinct ≤ ``max_domain`` → ``in_set`` over the
      observed domain (sorted)

    Two jobs: one fused profiling agg (count/non-null/min/max + exact
    ``count_distinct`` for strings — exact, not HLL, so the suggestion
    is independently recomputable; this is a one-off bootstrap, the
    Expand cost is acceptable), then one ``collect_set`` agg over only
    the low-cardinality string columns. Returns plain spec dicts —
    persist them as JSON beside the data like the index sidecars.
    """
    cols = list(columns if columns is not None else df.columns)
    types = {f.name: f.dataType.simpleString() for f in df.schema}
    aggs: list[Column] = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(cols):
        aggs.append(F.count(F.col(c)).alias(f"nn_{i}"))
        if types[c] in _NUMERIC:
            aggs.append(F.min(F.col(c)).cast("double").alias(f"lo_{i}"))
            aggs.append(F.max(F.col(c)).cast("double").alias(f"hi_{i}"))
        elif types[c] == "string":
            aggs.append(F.count_distinct(F.col(c)).alias(f"d_{i}"))
    prof = df.agg(*aggs).collect()[0]

    domain_cols = [
        c
        for i, c in enumerate(cols)
        if types[c] == "string" and prof[f"d_{i}"] <= max_domain
    ]
    domains = {}
    if domain_cols:
        row = df.agg(
            *[
                F.array_sort(F.collect_set(F.col(c))).alias(c)
                for c in domain_cols
            ]
        ).collect()[0]
        domains = {c: list(row[c]) for c in domain_cols}

    suite: list[dict] = []
    n = prof["__n"]
    for i, c in enumerate(cols):
        if n > 0 and prof[f"nn_{i}"] == n:
            suite.append({"kind": "not_null", "column": c,
                          "id": f"{c}_not_null"})
        if types[c] in _NUMERIC and prof[f"nn_{i}"] > 0:
            suite.append({
                "kind": "range", "column": c,
                "min": prof[f"lo_{i}"], "max": prof[f"hi_{i}"],
                "id": f"{c}_range",
            })
        if c in domains:
            suite.append({"kind": "in_set", "column": c,
                          "values": domains[c], "id": f"{c}_domain"})
    return suite


def check_group_counts(
    df: DataFrame,
    group_col: str,
    expected: Sequence[Any] | None = None,
    min_rows: int = 1,
    max_rows: int | None = None,
) -> DataFrame:
    """Partition/group completeness: per-group row counts vs bounds.

    The at-scale analog of "is the file complete?" — a re-ingested day
    missing, an empty partition, a doubled backfill. One groupBy
    (partial-aggregated counts, the shuffle carries one row per group)
    left-joined from the ``expected`` skeleton so MISSING groups appear
    as zero rows; unexpected groups (present but not declared) are
    flagged too. With ``expected=None`` only the bounds are checked
    over the observed groups.

    Output, ordered by group: ``(group, n_rows, expected, status)`` with
    status ∈ {ok, missing, under, over, unexpected} — ``missing`` is an
    expected group with zero rows; ``under``/``over`` breach
    [``min_rows``, ``max_rows``]; ``unexpected`` only arises with an
    ``expected`` list. NULL group values count as a real group (a NULL
    partition key is usually itself the bug worth surfacing).
    """
    counted = df.groupBy(F.col(group_col).alias("group")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    if expected is not None:
        spark = df.sparkSession
        gtype = df.schema[group_col].dataType
        skeleton = spark.createDataFrame(
            [(v,) for v in expected], f"group {gtype.simpleString()}"
        ).withColumn("expected", F.lit(True))
        # eqNullSafe: a DECLARED NULL group must match observed NULL keys,
        # not double-report as missing + unexpected
        counted = skeleton.alias("s").join(
            counted.alias("c"),
            F.col("s.group").eqNullSafe(F.col("c.group")),
            "full",
        ).select(
            # a declared NULL group matched null-safely has NULL on both
            # sides, so coalesce is correct in every branch
            F.coalesce("s.group", "c.group").alias("group"),
            F.coalesce("c.n_rows", F.lit(0)).cast("long").alias("n_rows"),
            F.coalesce("s.expected", F.lit(False)).alias("expected"),
        )
    else:
        counted = counted.select(
            "group",
            F.col("n_rows").cast("long"),
            F.lit(True).alias("expected"),
        )
    n = F.col("n_rows")
    status = (
        F.when(~F.col("expected"), F.lit("unexpected"))
        .when(n == 0, F.lit("missing"))
        .when(n < F.lit(int(min_rows)), F.lit("under"))
    )
    if max_rows is not None:
        status = status.when(n > F.lit(int(max_rows)), F.lit("over"))
    return counted.select(
        "group", "n_rows", "expected", status.otherwise(F.lit("ok")).alias("status")
    ).orderBy("group")


def constraint_violations(
    df: DataFrame,
    suite: Sequence[Mapping[str, Any]],
    constraint_id: str,
    limit: int | None = 100,
) -> DataFrame:
    """Rows violating ONE row-level constraint of the suite (evidence
    sampling — pair with the counts from ``check_constraints``).
    ``unique`` needs group context, so it reports the duplicated VALUES
    (value, occurrences) instead of raw rows."""
    for i, spec in enumerate(suite):
        if _cid(i, spec) != constraint_id:
            continue
        if spec["kind"] == "unique":
            c = F.col(spec["column"])
            out = (
                df.where(c.isNotNull())
                .groupBy(c.alias("value"))
                .agg(F.count(F.lit(1)).alias("occurrences"))
                .where(F.col("occurrences") > 1)
                .orderBy(F.col("occurrences").desc(), F.col("value"))
            )
        else:
            out = df.where(_violated(spec))
        return out.limit(limit) if limit is not None else out
    raise KeyError(f"no constraint with id {constraint_id!r} in suite")
