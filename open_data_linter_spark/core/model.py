"""Result model + rule abstraction.

Mirrors the reference's value objects (vo.py:5-51): ``LintResult`` with
``is_valid: bool | None`` and a list of ``InvalidContent`` (message + cells),
re-shaped for a distributed engine:

- a *violation row* ``(rule_id, clip_id, column, message, partition_id)``
  replaces the reference's absolute ``(row, col)`` cell coordinate — in a
  distributed table the primary key IS the coordinate (SURVEY.md §1.2);
- a *rule summary* ``(rule_id, partition_id, pass, violation_count, ...)``
  gives the per-partition pass/fail the north rule mandates; a rule's global
  ``is_valid`` is ``violation_count == 0`` (vo.py:34-41 semantics);
- ``is_valid = None`` ("could not check", funcs.py:98-106) survives as run
  status BLOCKED: when the 1-1 analog (readable/format gate) fails at the
  batch level, downstream rules report None.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import types as T


class RuleScope(Enum):
    ROW = "row"              # per-row predicate; violation = one row
    COLUMN = "column"        # aggregate over a column; violation = column-level
    TABLE = "table"          # whole-table / batch-level property
    CROSS_COLUMN = "cross_column"  # same-row multi-column predicate
    PAYLOAD = "payload"      # touches the binary `bytes` column (Arrow UDF path)
    SHUFFLE = "shuffle"      # needs a shuffle (uniqueness, RI, drift)


@dataclass
class Rule:
    """One validation rule.

    Row / cross-column rules carry *violation predicate* builders:
    ``predicates`` is a list of ``(column_name | None, df -> Column)`` where
    the Column is True for VIOLATING rows and ``column_name`` labels the
    violation (None = whole-row). All row-scoped predicates of a ruleset
    fuse into ONE validation scan (the reference re-scans per rule — we
    don't, SURVEY.md §4.2 "scan sharing").

    Column/table/shuffle/payload rules carry a *runner*:
    ``(spark, df, ctx) -> RuleOutcome`` executed by the plan layer (column
    aggregates are still fused into one agg job across rules).
    """

    rule_id: str
    description: str
    scope: RuleScope
    message: str = ""
    predicates: Optional[list[tuple[Optional[str], Callable[[DataFrame], Column]]]] = None
    runner: Optional[Callable[..., "RuleOutcome"]] = None
    # COLUMN-scoped rules fuse into one table-wide agg job: ``agg_exprs``
    # contributes named aggregate Columns, ``agg_eval`` turns the collected
    # values into the outcome (driver-side, tiny).
    agg_exprs: Optional[Callable[[DataFrame], dict[str, Column]]] = None
    agg_eval: Optional[Callable[[dict], "RuleOutcome"]] = None

    def __post_init__(self) -> None:
        if self.scope in (RuleScope.ROW, RuleScope.CROSS_COLUMN):
            assert self.predicates, f"{self.rule_id}: row rule needs predicates"
        if not self.message:
            self.message = self.description


@dataclass
class RuleOutcome:
    """Result of a non-row-scoped rule run."""

    rule_id: str
    is_valid: Optional[bool]
    violations: Optional[DataFrame] = None  # VIOLATION_SCHEMA-shaped
    metrics: dict[str, float] = field(default_factory=dict)
    # column-level findings (analog of the reference's (None, col) cells)
    column_findings: list[tuple[str, str]] = field(default_factory=list)  # (column, message)


# ctx keys set by ValidationRun.run: the frames cached for the run (released
# when it returns), and whether the run materializes its violation evidence
RUN_CACHES = "_run_caches"
KEEP_EVIDENCE = "_keep_evidence"


def count_evidence(df: DataFrame, ctx: dict) -> tuple[DataFrame, int]:
    """Count a rule's evidence frame; returns (frame, count).

    When the run keeps its evidence (``ctx[KEEP_EVIDENCE]``), the counting
    job also caches the rows: the run's evidence union and every later
    consumer read them instead of re-running the shuffle behind them, and
    the run releases the cache when it returns. Otherwise it is a plain
    count, the same jobs and tasks as without evidence.
    """
    if not ctx.get(KEEP_EVIDENCE):
        return df, df.count()
    cached = df.persist()
    ctx[RUN_CACHES].append(cached)
    return cached, cached.count()


# ---------------------------------------------------------------- schemas

VIOLATION_SCHEMA = T.StructType(
    [
        T.StructField("rule_id", T.StringType(), False),
        T.StructField("clip_id", T.StringType(), True),   # NULL => column/table-level
        T.StructField("column", T.StringType(), True),    # NULL => whole-row/table
        T.StructField("message", T.StringType(), True),
        T.StructField("partition_id", T.IntegerType(), True),
    ]
)

SUMMARY_SCHEMA = T.StructType(
    [
        T.StructField("rule_id", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), True),  # NULL => global
        T.StructField("pass", T.BooleanType(), True),          # NULL => blocked
        T.StructField("violation_count", T.LongType(), True),
        T.StructField("rows_scanned", T.LongType(), True),
    ]
)

AUDIT_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), True),
        T.StructField("rule_id", T.StringType(), False),
        T.StructField("pass", T.BooleanType(), True),
        T.StructField("violation_count", T.LongType(), True),
        T.StructField("rows_scanned", T.LongType(), True),
        T.StructField("metrics", T.MapType(T.StringType(), T.DoubleType()), True),
        T.StructField("ts_logical", T.LongType(), True),
    ]
)


# ------------------------------------------------- reference-shape results


@dataclass
class InvalidContent:
    """vo.py:17-26 parity: one error message + its violating coordinates.

    Coordinates here are ``(clip_id, column)``; ``clip_id=None`` means a
    column-level finding (the reference's row=None, csv_linter.py:173-174).
    """

    error_message: str
    invalid_cells: list[tuple[Optional[str], Optional[str]]] = field(default_factory=list)

    def to_dict(self) -> dict:
        return {
            "error_message": self.error_message,
            "invalid_cells": [list(c) for c in self.invalid_cells],
        }


@dataclass
class LintResult:
    """vo.py:5-14 parity: tri-state validity + invalid contents."""

    is_valid: Optional[bool]
    invalid_contents: list[InvalidContent] = field(default_factory=list)

    def to_dict(self) -> dict:
        return {
            "is_valid": self.is_valid,
            "invalid_contents": [ic.to_dict() for ic in self.invalid_contents],
        }

    @staticmethod
    def simple_error(message: str, is_valid: Optional[bool] = False) -> "LintResult":
        # vo.py gen_simple_error_result analog (used for blocked/1-1 errors)
        return LintResult(is_valid=is_valid, invalid_contents=[InvalidContent(message, [])])
