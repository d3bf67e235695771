"""Row-level snapshot reconciliation: inserted/deleted/updated/unchanged.

`rules/snapshot.py` answers "what changed?" at COLUMN grain; this module
answers it at ROW grain — the audit a re-ingestion or backfill needs
before it is trusted: how many keys appeared, vanished, or changed
content between two versions of the same table, and which ones.

Design for 10^12 rows:

- Each side is first REDUCED to ``(key, row_hash)``: the row hash is a
  60-bit prefix of md5 over the ``to_json`` canonicalization of the
  compared columns (JSON escaping means no value can shift content
  across column boundaries; NULL renders as JSON null, distinct from
  every string), so the join that follows carries two longs per row
  instead of the full payload — the shuffle is O(keys), not O(bytes).
- ONE full outer join on the key (sort-merge on the shuffled hashes)
  classifies every key: ``inserted`` (new only), ``deleted`` (old
  only), ``updated`` (both, hash differs), ``unchanged``. Counts come
  from a single groupBy over the classification — no second scan.
- Duplicate keys are the caller's problem to declare: with
  ``allow_dup_keys=False`` (default) each side is asserted unique via
  the same pass (count vs distinct inside the join input would need a
  second agg, so the guard is a cheap groupBy-count filter whose
  violation raises at action time through ``F.assert_true``); with
  ``True`` the per-key hash digests the (xor, count, sum) fold of the
  side's row hashes — order/partition independent AND multiplicity
  sensitive (xor alone would cancel even multiplicities).

The md5 construction (``conv(substr(md5(x), 1, 15), 16, 10)``, a
non-negative 60-bit integer) is exactly replayable in other SQL engines,
so a reconciliation report can be checked by an independent SQL twin.

Reference seed: the reference re-lints a corrected file from scratch
and diffs verdicts by eye; this is that workflow made incremental and
distributed, per the training-data-pipeline mandate.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

def _row_hash(cols: Sequence[str]) -> Column:
    # to_json canonicalizes the row: every value is properly escaped (a
    # separator character INSIDE a value cannot shift content across
    # column boundaries) and NULL renders as a JSON null, distinct from
    # every string value incl. "" and "null"
    canon = F.to_json(
        F.struct(*[F.col(c) for c in cols]),
        {"ignoreNullFields": "false"},
    )
    return F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("long")


def _keyed(df: DataFrame, key: str, cols: Sequence[str],
           allow_dup_keys: bool) -> DataFrame:
    h = df.select(F.col(key).alias("__k"), _row_hash(cols).alias("__h"))
    if allow_dup_keys:
        # order/partition-independent MULTISET fold: xor alone cancels
        # even multiplicities ({r1,r1} vs {r2,r2} would both fold to 0),
        # so the per-key digest re-hashes (xor, count, sum) — sum runs in
        # decimal(38) because ANSI long addition throws on overflow
        folded = h.groupBy("__k").agg(
            F.bit_xor("__h").alias("__x"),
            F.count(F.lit(1)).alias("__c"),
            F.sum(F.col("__h").cast("decimal(38,0)")).alias("__s"),
        )
        return folded.select(
            "__k",
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", "__x", "__c", "__s")), 1, 15
                ),
                16,
                10,
            )
            .cast("long")
            .alias("__h"),
        )
    return h.groupBy("__k").agg(
        F.count(F.lit(1)).alias("__c"), F.min("__h").alias("__h")
    ).select(
        "__k",
        F.when(F.col("__c") == 1, F.col("__h"))
        .otherwise(
            F.assert_true(
                F.lit(False), F.lit("duplicate keys; pass allow_dup_keys=True")
            ).cast("long")
        )
        .alias("__h"),
    )


def _classified(old: DataFrame, new: DataFrame, key_col: str,
                compare_cols: Sequence[str] | None,
                allow_dup_keys: bool) -> DataFrame:
    cols = list(
        compare_cols
        if compare_cols is not None
        else [c for c in old.columns if c in set(new.columns) and c != key_col]
    )
    if not cols:
        raise ValueError("no shared non-key columns to compare")
    # eqNullSafe + explicit presence flags: a NULL key is a legal key value
    # (groupBy already folds NULLs into one group per side). With a plain ==
    # join NULL never matches, and inferring side-presence from key nullness
    # then misreads a NULL-keyed row present in BOTH snapshots as 'inserted'
    # (and one deleted from old as 'inserted' too) — round-4 advice finding;
    # consistent with check_group_counts' null-safe group keys.
    o = _keyed(old, key_col, cols, allow_dup_keys).withColumn("__p", F.lit(True))
    n = _keyed(new, key_col, cols, allow_dup_keys).withColumn("__p", F.lit(True))
    j = o.alias("o").join(n.alias("n"),
                          F.col("o.__k").eqNullSafe(F.col("n.__k")), "full")
    return j.select(
        F.coalesce(F.col("o.__k"), F.col("n.__k")).alias("key"),
        F.when(F.col("o.__p").isNull(), F.lit("inserted"))
        .when(F.col("n.__p").isNull(), F.lit("deleted"))
        .when(F.col("o.__h") != F.col("n.__h"), F.lit("updated"))
        .otherwise(F.lit("unchanged"))
        .alias("change"),
    )


def reconcile_counts(
    old: DataFrame,
    new: DataFrame,
    key_col: str,
    compare_cols: Sequence[str] | None = None,
    allow_dup_keys: bool = False,
) -> DataFrame:
    """One row per change class — ``(change, n_keys)`` for all four of
    inserted/deleted/updated/unchanged (zero classes included), ordered
    by class name. ``compare_cols`` defaults to the shared non-key
    columns of both frames."""
    counted = (
        _classified(old, new, key_col, compare_cols, allow_dup_keys)
        .groupBy("change")
        .agg(F.count(F.lit(1)).alias("n_keys"))
    )
    spark = old.sparkSession
    skeleton = spark.createDataFrame(
        [("deleted",), ("inserted",), ("unchanged",), ("updated",)],
        "change string",
    )
    return (
        skeleton.join(counted, "change", "left")
        .select(
            "change",
            F.coalesce("n_keys", F.lit(0)).cast("long").alias("n_keys"),
        )
        .orderBy("change")
    )


def reconcile_rows(
    old: DataFrame,
    new: DataFrame,
    key_col: str,
    compare_cols: Sequence[str] | None = None,
    allow_dup_keys: bool = False,
    changes: Sequence[str] = ("inserted", "deleted", "updated"),
) -> DataFrame:
    """The keys themselves: ``(key, change)`` for the requested change
    classes (evidence sampling — limit/sink downstream)."""
    return _classified(
        old, new, key_col, compare_cols, allow_dup_keys
    ).where(F.col("change").isin(list(changes)))
