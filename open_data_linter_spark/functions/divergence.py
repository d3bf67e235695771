"""Token-distribution divergence between two corpora (KL / Jensen-Shannon).

Corpus-level drift for TEXT: where rules/drift.py compares numeric
histograms, this compares the unigram token distributions of two
corpora — the standard check before mixing a new crawl snapshot into a
training set, or for monitoring a source's topical drift between dumps
(cf. the distribution-shift analyses in Gao et al., The Pile, arXiv
2101.00027 §5).

Model: add-``alpha`` smoothed unigram distributions over the UNION
vocabulary V of both corpora —
``p(w) = (c_a(w)+α)/(T_a+αV)``, ``q(w)`` likewise — then

- ``kl_ab``  = Σ_w p(w)·ln(p(w)/q(w))   (nats; how surprised a q-model
  is by corpus A)
- ``kl_ba``  = the reverse
- ``js``     = ½·KL(p‖m) + ½·KL(q‖m), m = (p+q)/2 — symmetric, bounded
  by ln 2, the headline comparability score.

Smoothing makes every term finite (no zero-probability branches), and
the sums run over the union vocab only — words outside both corpora
contribute nothing. With ``group_col`` the comparison is per group
(per language, per source): a group missing from one side compares
against that side's smoothed-UNIFORM distribution (T=0 ⇒ q(w)=1/V) —
a skewed one-sided group reads as divergent, a uniform one as zero,
rather than erroring.

Plan shape at 100 TB: one count shuffle per corpus (map-side partial
agg on (group, token)), a full-outer equi-join on the same key, and one
final per-group aggregate — no windows, no driver loops, no Python.
Results round to 6 decimals so the per-group sum is independent of
partition order (the repo-wide cross-engine contract).

The reference (volare-all/open-data-linter) has no corpus-comparison
ops; this extends the engine per the training-data-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from open_data_linter_spark.functions.text import ws_tokens

_NULL_G = "__nogroup__"


def token_divergence(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
    group_col: str | None = None,
    alpha: float = 0.5,
) -> DataFrame:
    """(group?, n_tokens_a, n_tokens_b, v_union, kl_ab, kl_ba, js).

    One row per group (one row total when ``group_col`` is None). Token
    counts are occurrence counts under the package tokenize contract;
    groups key NULL like groupBy does.
    """
    if alpha <= 0.0:
        raise ValueError(f"alpha must be > 0, got {alpha}")

    def counts(df: DataFrame, side: str) -> DataFrame:
        g = (
            F.col(group_col)
            if group_col is not None
            else F.lit(_NULL_G)
        )
        return (
            df.select(g.alias("g"), F.explode(ws_tokens(F.col(text_col))).alias("w"))
            .groupBy("g", "w")
            .agg(F.count("*").alias(f"c_{side}"))
        )

    ca = counts(df_a, "a")
    cb = (
        counts(df_b, "b")
        .withColumnRenamed("g", "gb")
        .withColumnRenamed("w", "wb")
    )
    # null-safe on the group key: a NULL group is a real group (same
    # contract as groupBy); plain equi-join semantics would drop it
    u = ca.join(
        cb,
        ca["g"].eqNullSafe(cb["gb"]) & (ca["w"] == cb["wb"]),
        "full",
    ).select(
        F.coalesce(ca["g"], cb["gb"]).alias("g"),
        F.coalesce(ca["w"], cb["wb"]).alias("w"),
        F.coalesce("c_a", F.lit(0)).alias("c_a"),
        F.coalesce("c_b", F.lit(0)).alias("c_b"),
    )
    a = F.lit(float(alpha))
    # u feeds two consumers (totals + the per-word projection) — pin it
    # so the two count shuffles run once; it is vocabulary-sized
    from open_data_linter_spark.dedup._cache import persist_scoped

    u = persist_scoped(f"divergence:{group_col}", u)
    # per-group totals are O(#groups): broadcast back with a NULL-SAFE
    # join (a plain equi-join would drop the NULL group; a window over g
    # would funnel each group's whole vocab into one task)
    tot = (
        u.groupBy("g")
        .agg(
            F.sum("c_a").alias("t_a"),
            F.sum("c_b").alias("t_b"),
            F.count("*").alias("v"),
        )
        .withColumnRenamed("g", "gt")
    )
    u = u.join(
        F.broadcast(tot), F.col("g").eqNullSafe(F.col("gt")), "left"
    ).drop("gt")
    av = a * F.col("v").cast("double")
    p = (F.col("c_a").cast("double") + a) / (F.col("t_a").cast("double") + av)
    q = (F.col("c_b").cast("double") + a) / (F.col("t_b").cast("double") + av)
    m = (p + q) / F.lit(2.0)
    per_w = u.select(
        "g",
        "t_a",
        "t_b",
        "v",
        (p * F.log(p / q)).alias("kab"),
        (q * F.log(q / p)).alias("kba"),
        (p * F.log(p / m)).alias("jpa"),
        (q * F.log(q / m)).alias("jqb"),
    )
    out = per_w.groupBy("g", "t_a", "t_b", "v").agg(
        F.round(F.sum("kab"), 6).alias("kl_ab"),
        F.round(F.sum("kba"), 6).alias("kl_ba"),
        F.round(F.lit(0.5) * F.sum("jpa") + F.lit(0.5) * F.sum("jqb"), 6).alias(
            "js"
        ),
    ).select(
        "g",
        F.col("t_a").alias("n_tokens_a"),
        F.col("t_b").alias("n_tokens_b"),
        F.col("v").alias("v_union"),
        "kl_ab",
        "kl_ba",
        "js",
    )
    if group_col is None:
        return out.drop("g")
    return out.withColumnRenamed("g", group_col)
