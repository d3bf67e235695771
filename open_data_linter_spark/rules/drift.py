"""Distribution-drift rules: KS + chi-square over fixed-bin histograms.

North-rule mandate: "KS/chi-square distribution-drift checks on sr_hz/dur_ms
histograms aggregated with treeAggregate" (BASELINE.json). In DataFrame
terms the tree aggregation is ``groupBy(bin).count()`` — Catalyst's partial
(map-side) + final hash aggregation IS a 2-level tree reduce, and the
shuffle carries exactly #bins rows per input partition. The statistics are
then computed driver-side on the tiny histogram with numpy (no scipy in the
environment; asymptotic critical values, SURVEY.md §7(c)).

Conceptual seed in the reference: the classifier's "column looks like type T
at rate > 0.8" test (column_classifier.py:112-115) is a crude one-bin
distribution check; these rules are its proper statistical generalization.
"""

from __future__ import annotations

import math
from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_data_linter_spark.core.model import Rule, RuleOutcome, RuleScope


def histogram(df: DataFrame, column: str, bin_edges: Sequence[float] | None = None) -> DataFrame:
    """Fixed-bin histogram as (bin, count).

    ``bin_edges=None`` → categorical histogram (value = bin), for
    low-cardinality columns like sr_hz. Otherwise ``width_bucket``-style
    binning over the given monotonically increasing edges.
    """
    c = F.col(column)
    if bin_edges is None:
        b = c.cast("double")
    else:
        edges = list(map(float, bin_edges))
        b = F.lit(0)
        for i, e in enumerate(edges):
            b = F.when(c.cast("double") >= F.lit(e), F.lit(i + 1)).otherwise(b)
    return (
        df.where(c.isNotNull())
        .groupBy(b.cast("double").alias("bin"))
        .agg(F.count(F.lit(1)).alias("count"))
    )


def _align(obs: dict[float, int], exp: dict[float, int]) -> tuple[np.ndarray, np.ndarray]:
    bins = sorted(set(obs) | set(exp))
    o = np.array([obs.get(b, 0) for b in bins], dtype=np.float64)
    e = np.array([exp.get(b, 0) for b in bins], dtype=np.float64)
    return o, e


def ks_statistic(obs: np.ndarray, exp: np.ndarray) -> float:
    """Two-sample KS statistic on binned counts (max CDF gap)."""
    if obs.sum() == 0 or exp.sum() == 0:
        return 1.0
    cdf_o = np.cumsum(obs) / obs.sum()
    cdf_e = np.cumsum(exp) / exp.sum()
    return float(np.max(np.abs(cdf_o - cdf_e)))


def ks_critical(n: float, m: float, alpha: float = 0.01) -> float:
    """Asymptotic two-sample KS critical value c(α)·sqrt((n+m)/nm).

    An empty side (n or m == 0: e.g. a batch whose drift column is entirely
    null) returns 0.0 so ks_statistic's 1.0 always trips — the rule degrades
    to "drifted" instead of raising ZeroDivisionError through the runner.
    """
    if n <= 0 or m <= 0:
        return 0.0
    c_alpha = math.sqrt(-0.5 * math.log(alpha / 2.0))
    return c_alpha * math.sqrt((n + m) / (n * m))


def chi2_statistic(obs: np.ndarray, exp: np.ndarray) -> tuple[float, int]:
    """Pearson chi-square of obs against exp scaled to obs total; dof."""
    n_o, n_e = obs.sum(), exp.sum()
    if n_o == 0 or n_e == 0:
        return float("inf"), max(1, len(obs) - 1)
    e_scaled = exp * (n_o / n_e)
    mask = e_scaled > 0
    stat = float(np.sum((obs[mask] - e_scaled[mask]) ** 2 / e_scaled[mask]))
    # bins observed where expected==0 are infinite-evidence drift
    if np.any(obs[~mask] > 0):
        stat = float("inf")
    dof = max(1, int(mask.sum()) - 1)
    return stat, dof


def chi2_critical(dof: int, alpha: float = 0.01) -> float:
    """Wilson–Hilferty approximation to the chi-square quantile."""
    z = {0.05: 1.6449, 0.01: 2.3263, 0.001: 3.0902}.get(alpha, 2.3263)
    k = float(dof)
    return k * (1.0 - 2.0 / (9.0 * k) + z * math.sqrt(2.0 / (9.0 * k))) ** 3


def _bin_expr(column: str, bin_edges: Sequence[float] | None):
    c = F.col(column)
    if bin_edges is None:
        return c.cast("double")
    b = F.lit(0)
    for i, e in enumerate(map(float, bin_edges)):
        b = F.when(c.cast("double") >= F.lit(e), F.lit(i + 1)).otherwise(b)
    return b.cast("double")


def joint_histograms(
    df: DataFrame, specs: Sequence[tuple[str, Sequence[float] | None]]
) -> dict[str, dict[float, int]]:
    """All columns' histograms in ONE aggregation job.

    groupBy over the tuple of bin expressions (cells = product of bin counts,
    tiny for fixed-bin histograms), then marginalize per column driver-side.
    Nulls fall out at marginalization, matching per-column histogram().
    """
    bins = [
        _bin_expr(col, edges).alias(f"__bin_{col}") for col, edges in specs
    ]
    rows = df.groupBy(*bins).agg(F.count(F.lit(1)).alias("count")).collect()
    out: dict[str, dict[float, int]] = {col: {} for col, _ in specs}
    for r in rows:
        for col, _ in specs:
            b = r[f"__bin_{col}"]
            if b is None:
                continue
            out[col][float(b)] = out[col].get(float(b), 0) + int(r["count"])
    return out


def make_drift_rule(
    rule_id: str,
    column: str,
    bin_edges: Sequence[float] | None = None,
    alpha: float = 0.01,
    baseline_ctx_key: str = "baseline_hist",
    shared_specs: Sequence[tuple[str, Sequence[float] | None]] | None = None,
) -> Rule:
    """Drift rule for one column against ctx[baseline_ctx_key][column].

    The baseline is ``{bin_value: expected_count}`` (frozen from a known-good
    batch, FIXTURES.md §2 `baseline_hist`). When ``shared_specs`` lists every
    drift column of the ruleset, the FIRST drift rule invoked computes one
    joint histogram job for all of them (cached in ctx) — N drift rules cost
    one Spark action, not N.
    """

    def runner(spark: SparkSession, df: DataFrame, ctx: dict) -> RuleOutcome:
        baselines = ctx.get(baseline_ctx_key) or {}
        exp = baselines.get(column)
        if not exp:
            return RuleOutcome(rule_id, is_valid=None, metrics={})
        if shared_specs:
            # drift rules may run on separate runner threads (plans/run.py
            # concurrency) — double-checked lock so the joint job runs once
            import threading

            lock = ctx.setdefault("_drift_hist_lock", threading.Lock())
            with lock:
                hists = ctx.get("_drift_hists")
                if hists is None:
                    hists = joint_histograms(df, shared_specs)
                    ctx["_drift_hists"] = hists
            obs = hists[column]
        else:
            obs_rows = histogram(df, column, bin_edges).collect()
            obs = {float(r["bin"]): int(r["count"]) for r in obs_rows}
        o, e = _align(obs, {float(k): int(v) for k, v in exp.items()})
        ks = ks_statistic(o, e)
        ks_crit = ks_critical(o.sum(), e.sum(), alpha)
        chi2, dof = chi2_statistic(o, e)
        chi2_crit = chi2_critical(dof, alpha)
        drifted = ks > ks_crit or chi2 > chi2_crit
        return RuleOutcome(
            rule_id,
            is_valid=not drifted,
            metrics={
                "ks_stat": ks,
                "ks_critical": ks_crit,
                "chi2_stat": chi2 if math.isfinite(chi2) else 1e18,
                "chi2_critical": chi2_crit,
                "dof": float(dof),
                "n_obs": float(o.sum()),
            },
            column_findings=(
                [(column, f"distribution drift on {column}: ks={ks:.4f} (crit {ks_crit:.4f}), "
                          f"chi2={chi2:.1f} (crit {chi2_crit:.1f})")]
                if drifted
                else []
            ),
        )

    return Rule(
        rule_id=rule_id,
        description=f"distribution drift (KS + chi-square) on {column}",
        scope=RuleScope.SHUFFLE,
        runner=runner,
    )


def windowed_drift_scores(
    win_hist: DataFrame,
    baseline: DataFrame,
    alpha: float = 0.01,
    win_cols: Sequence[str] = ("win_start", "win_end"),
) -> DataFrame:
    """Per-window KS + chi-square vs a frozen baseline — fully distributed.

    ``win_hist``: (win_cols..., bin, cnt) — e.g. the append-mode output of
    ``streaming.stateful.windowed_histograms`` (each window's rows are final
    once the watermark passes), or any batch ``groupBy(window, bin)``.
    ``baseline``: (bin, count) — the frozen known-good histogram (tiny;
    broadcast).

    The batch drift rule scores ONE histogram driver-side with numpy; with
    thousands-to-millions of windows that loop would serialize on the
    driver, so here the same statistics (identical semantics to
    ``ks_statistic``/``chi2_statistic``/``ks_critical``/``chi2_critical``
    above, including the empty-side and zero-expected conventions) are
    computed as Catalyst window functions partitioned by window: the
    windows×bins grid is a broadcast cross join, CDFs are cumulative sums
    ordered by bin, and every window's verdict lands in one shuffle by
    window key. Scales with #windows, never the driver.
    """
    from pyspark.sql import Window as W

    wk = list(win_cols)
    z = {0.05: 1.6449, 0.01: 2.3263, 0.001: 3.0902}.get(alpha, 2.3263)
    c_alpha = math.sqrt(-0.5 * math.log(alpha / 2.0))

    base = baseline.select(
        F.col("bin").cast("double").alias("bin"),
        F.col("count").cast("double").alias("e"),
    )
    hist = win_hist.select(
        *wk, F.col("bin").cast("double").alias("bin"),
        F.col("cnt").cast("double").alias("o"),
    )
    bins = hist.select("bin").union(base.select("bin")).distinct()
    grid = hist.select(*wk).distinct().crossJoin(F.broadcast(bins))
    cells = (
        grid.join(hist, wk + ["bin"], "left")
        .join(F.broadcast(base), ["bin"], "left")
        .select(*wk, "bin",
                F.coalesce("o", F.lit(0.0)).alias("o"),
                F.coalesce("e", F.lit(0.0)).alias("e"))
    )

    pw = W.partitionBy(*wk)
    cum = pw.orderBy("bin").rowsBetween(W.unboundedPreceding, W.currentRow)
    inf = F.lit(float("inf"))
    scored = (
        cells.withColumn("n", F.sum("o").over(pw))
        .withColumn("m", F.sum("e").over(pw))
        .withColumn(
            "cdf_gap",
            F.when(
                (F.col("n") > 0) & (F.col("m") > 0),
                F.abs(F.sum("o").over(cum) / F.col("n")
                      - F.sum("e").over(cum) / F.col("m")),
            ).otherwise(F.lit(1.0)),  # empty side => ks_statistic()'s 1.0
        )
        .withColumn(
            "e_scaled",
            F.when(F.col("m") > 0, F.col("e") * F.col("n") / F.col("m"))
            .otherwise(F.lit(0.0)),
        )
        .withColumn(
            "chi2_term",
            F.when(
                F.col("e_scaled") > 0,
                (F.col("o") - F.col("e_scaled")) ** 2 / F.col("e_scaled"),
            ).otherwise(
                # observed in a zero-expected bin: infinite-evidence drift
                F.when(F.col("o") > 0, inf).otherwise(F.lit(0.0))
            ),
        )
    )

    agg = scored.groupBy(*wk).agg(
        F.max("cdf_gap").alias("ks_stat"),
        F.first("n").alias("n"),
        F.first("m").alias("m"),
        F.sum("chi2_term").alias("chi2_raw"),
        F.sum(F.when(F.col("e_scaled") > 0, 1).otherwise(0)).alias("pos_bins"),
        F.count(F.lit(1)).alias("total_bins"),
    )
    dof = F.greatest(
        F.lit(1.0),
        (F.when((F.col("n") > 0) & (F.col("m") > 0), F.col("pos_bins"))
         .otherwise(F.col("total_bins")) - 1).cast("double"),
    )
    chi2_stat = F.when(
        (F.col("n") > 0) & (F.col("m") > 0), F.col("chi2_raw")
    ).otherwise(inf)
    return agg.select(
        *wk,
        F.col("n").cast("long").alias("n"),
        F.col("ks_stat"),
        F.when(
            (F.col("n") > 0) & (F.col("m") > 0),
            F.lit(c_alpha)
            * F.sqrt((F.col("n") + F.col("m")) / (F.col("n") * F.col("m"))),
        ).otherwise(F.lit(0.0)).alias("ks_crit"),
        chi2_stat.alias("chi2_stat"),
        (dof * (1.0 - 2.0 / (9.0 * dof)
                + F.lit(z) * F.sqrt(2.0 / (9.0 * dof))) ** 3).alias("chi2_crit"),
    ).withColumn("ks_drifted", F.col("ks_stat") > F.col("ks_crit")) \
     .withColumn("chi2_drifted", F.col("chi2_stat") > F.col("chi2_crit"))


def histogram_tree(
    df: DataFrame,
    column: str,
    bin_edges: Sequence[float] | None = None,
    fanout: int = 64,
) -> DataFrame:
    """Two-level tree aggregation of the histogram — treeAggregate's shape.

    The north star names ``treeAggregate`` for the drift histograms. The
    plain ``histogram()`` (map-side partial agg → final agg) is already a
    2-level tree, but its FINAL stage has only #bins reducers, each merging
    one partial row per input partition: at ~10^6 input partitions that is
    10^6 rows into ~10 tasks — a narrow final wave. This explicit variant
    inserts an intermediate level keyed by (bin, partition_id % fanout), so
    each intermediate reducer merges ≤ #partitions/fanout partials and the
    final stage merges exactly ``fanout`` rows per bin — the DataFrame
    analog of ``treeAggregate(depth=2)``. Same result, pinned by test; use
    when #input_partitions ≫ 10^4.
    """
    binned = df.where(F.col(column).isNotNull()).select(
        _bin_expr(column, bin_edges).alias("bin"),
        F.pmod(F.spark_partition_id(), F.lit(fanout)).alias("__leaf"),
    )
    level1 = binned.groupBy("bin", "__leaf").agg(F.count(F.lit(1)).alias("__c"))
    return level1.groupBy("bin").agg(F.sum("__c").alias("count"))
