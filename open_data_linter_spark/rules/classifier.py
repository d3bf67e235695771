"""Column classification + profiling: the reference's inferred schema as a
single-pass conditional aggregation.

Reference (column_classifier.py:50-115): per column, count cells matching
each of 8 ``ColumnType``s, then a priority-ordered vote with a 0.8 dominance
threshold. The counting loop is O(rows × cols × types) Python; here it is ONE
``df.agg`` of ``sum(when(pred, 1))`` expressions — one job, map-side partial
aggregation, the shuffle carries a single row of 8×ncols longs.

Parity quirks preserved (SURVEY.md §2.3):
- overlapping counts: a prefecture-code cell also counts as christian-era and
  other-number (column_classifier.py:69-78); a prefecture-name cell also
  counts as other-string (:81-83);
- the vote uses strict ``>`` both for the argmax tie-break (earlier priority
  wins, :107-110) and the 0.8 dominance test (:112-115);
- an all-empty column is NONE_CATEGORY (:95-96).

The same fused pass also computes the north-rule column stats:
min / max / null-count / approx-distinct (HyperLogLog++), generalizing the
classifier pass into the profiling deliverable (SURVEY.md §2.6).
"""

from __future__ import annotations

from dataclasses import dataclass
from enum import Enum

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from open_data_linter_spark.functions import predicates as P


class ColumnType(Enum):
    # priority order = reference's vote order (column_classifier.py:98-103)
    PREFECTURE_CODE = "prefecture_code"
    PREFECTURE_NAME = "prefecture_name"
    CHRISTIAN_ERA = "christian_era"
    DATETIME_CODE = "datetime_code"
    JP_CALENDAR_YEAR = "jp_calendar_year"
    OTHER_NUMBER = "other_number"
    OTHER_STRING = "other_string"
    NONE_CATEGORY = "none_category"

    def is_number(self) -> bool:
        # column_classifier.py:24-28
        return self in (
            ColumnType.PREFECTURE_CODE,
            ColumnType.CHRISTIAN_ERA,
            ColumnType.DATETIME_CODE,
            ColumnType.OTHER_NUMBER,
        )


# exact reference vote order (column_classifier.py:98-103) — note
# OTHER_NUMBER before PREF_NAME/OTHER_STRING, JP_CALENDAR second-to-last
PRIORITY = [
    ColumnType.PREFECTURE_CODE,
    ColumnType.CHRISTIAN_ERA,
    ColumnType.DATETIME_CODE,
    ColumnType.OTHER_NUMBER,
    ColumnType.PREFECTURE_NAME,
    ColumnType.OTHER_STRING,
    ColumnType.JP_CALENDAR_YEAR,
    ColumnType.NONE_CATEGORY,
]


# branch ids for the reference's elif CHAIN (column_classifier.py:65-91):
# each cell lands in exactly ONE branch; a branch may increment several
# counters (prefecture-code ⇒ also christian-era + other-number, etc.)
_BRANCH_EMPTY = 0
_BRANCHES = {
    1: ColumnType.PREFECTURE_CODE,
    2: ColumnType.CHRISTIAN_ERA,
    3: ColumnType.DATETIME_CODE,
    4: ColumnType.OTHER_NUMBER,
    5: ColumnType.PREFECTURE_NAME,
    6: ColumnType.OTHER_STRING,
    7: ColumnType.JP_CALENDAR_YEAR,
    8: ColumnType.NONE_CATEGORY,
}
# counter <- branch ids that increment it (the chain's multi-increments)
_COUNTER_BRANCHES: dict[ColumnType, tuple[int, ...]] = {
    ColumnType.PREFECTURE_CODE: (1,),
    ColumnType.CHRISTIAN_ERA: (1, 2),
    ColumnType.DATETIME_CODE: (3,),
    ColumnType.OTHER_NUMBER: (1, 2, 3, 4),
    ColumnType.PREFECTURE_NAME: (5,),
    ColumnType.OTHER_STRING: (5, 6),
    ColumnType.JP_CALENDAR_YEAR: (7,),
    ColumnType.NONE_CATEGORY: (8,),
}


def classify_branch(c: Column) -> Column:
    """One CASE expression assigning the chain branch id (0..8) per cell.

    Callers decide what string the cell IS: the reference classifies
    str() of the pandas-PARSED value, so TabularLinter feeds this the
    pandas-dtype rendering (rules/tabular.py::_pandas_render — '2021' in a
    float64 column arrives as '2021.0'); direct Spark-table profiling
    (profile_columns) feeds raw cast-to-string values.

    A single linear when-chain (evaluated once per cell in a projection)
    instead of per-type predicates — keeps the Catalyst expression tree
    linear in the number of columns, which matters when classifying wide
    tables in one fused job.
    """
    return (
        F.when(P.is_empty(c), _BRANCH_EMPTY)
        .when(P.is_prefecture_code(c), 1)
        .when(P.is_christian_era(c), 2)
        .when(P.is_datetime_code(c), 3)
        .when(P.is_number(c), 4)
        .when(P.is_prefecture_name(c), 5)
        .when(P.is_string(c), 6)
        .when(P.is_jp_calendar_year(c), 7)
        .otherwise(8)
    )


def counts_from_branch_counts(branch_counts: dict[int, int]) -> dict[str, int]:
    return {
        t.value: sum(branch_counts.get(b, 0) for b in bs)
        for t, bs in _COUNTER_BRANCHES.items()
    }


@dataclass
class ColumnProfile:
    column: str
    inferred_type: ColumnType
    type_counts: dict[str, int]
    rows: int
    empties: int
    nulls: int
    null_rate: float
    approx_distinct: int
    min_value: object
    max_value: object


def profile_columns(
    df: DataFrame,
    columns: list[str] | None = None,
    dominance_rate: float = 0.8,
    rsd: float = 0.05,
) -> dict[str, ColumnProfile]:
    """One fused aggregation job: classification counts + stats per column.

    The chain branch id is computed ONCE per cell in a projection; the
    aggregation then counts tiny ints — the expression tree stays linear in
    the column count (per-type nested branch predicates would grow
    quadratically and stall Catalyst analysis on wide tables).
    """
    columns = columns or [
        f.name for f in df.schema.fields if f.dataType.simpleString() != "binary"
    ]
    proj = df.select(
        *[F.col(c) for c in columns],
        *[classify_branch(F.col(c).cast("string")).alias(f"__b_{c}") for c in columns],
    )
    aggs: list[Column] = [F.count(F.lit(1)).alias("__rows")]
    for col in columns:
        b = F.col(f"__b_{col}")
        for k in range(9):
            aggs.append(F.sum((b == k).cast("long")).alias(f"{col}__k{k}"))
        aggs.append(F.sum(F.col(col).isNull().cast("long")).alias(f"{col}__null"))
        aggs.append(F.approx_count_distinct(col, rsd).alias(f"{col}__hll"))
        aggs.append(F.min(col).alias(f"{col}__min"))
        aggs.append(F.max(col).alias(f"{col}__max"))
    row = proj.agg(*aggs).collect()[0].asDict()
    rows = int(row["__rows"])

    out: dict[str, ColumnProfile] = {}
    for col in columns:
        branch_counts = {k: int(row[f"{col}__k{k}"] or 0) for k in range(9)}
        counts = counts_from_branch_counts(branch_counts)
        empties = branch_counts.get(_BRANCH_EMPTY, 0)
        nulls = int(row[f"{col}__null"] or 0)
        out[col] = ColumnProfile(
            column=col,
            inferred_type=_vote(counts, rows, empties, dominance_rate),
            type_counts=counts,
            rows=rows,
            empties=empties,
            nulls=nulls,
            null_rate=(nulls / rows) if rows else 0.0,
            approx_distinct=int(row[f"{col}__hll"] or 0),
            min_value=row[f"{col}__min"],
            max_value=row[f"{col}__max"],
        )
    return out


def _vote(
    counts: dict[str, int], rows: int, empties: int, dominance_rate: float
) -> ColumnType:
    """Priority-ordered argmax + dominance threshold — exact reproduction of
    column_classifier.py:93-115 (strict inequalities, max_count init 0, all
    8 types in the vote including NONE_CATEGORY)."""
    if rows == empties:
        return ColumnType.NONE_CATEGORY
    best, best_count = None, 0
    for t in PRIORITY:  # earlier priority wins ties (strict >, :107-110)
        if counts.get(t.value, 0) > best_count:
            best, best_count = t, counts[t.value]
    denom = rows - empties
    if best is None or not (best_count / denom > dominance_rate):  # strict > (:112-115)
        return ColumnType.NONE_CATEGORY
    return best
