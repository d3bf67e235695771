"""Model-based quality filtering: a trained linear classifier over token
bags, GPT-3 style.

The GPT-3 / PaLM / LLaMA pipelines gate web text with a LEARNED quality
model: a linear bag-of-words classifier trained "curated corpus = positive
vs raw crawl = negative", applied to every candidate document, with a
stochastic Pareto acceptance rule so high-scoring docs are kept more often
but the tail is not cut to zero (Brown et al., arXiv 2005.14165 Appendix A;
fastText-shaped scorer). This module is that stage with everything made
deterministic and SQL-replayable:

- ``train_quality_classifier``: Naive-Bayes log-odds weights
  ``w_f = ln p(f|pos) - ln p(f|neg)`` over the unigram vocabulary of the
  two labeled corpora (add-``alpha`` smoothing over the shared vocab) —
  the closed-form linear model; no SGD, so training is two count shuffles
  and the learned model is exactly recomputable by an independent engine.
  The model is ONE DataFrame ``(f, w)`` — persist it with plain parquet —
  whose ``f IS NULL`` row carries the out-of-vocabulary weight (the
  log-odds every unseen token gets under the same smoothing). The class
  prior is deliberately NOT baked in: a constant shift is absorbed by
  whatever keep-threshold the caller picks.
- ``quality_model_scores``: row-preserving — every doc gets the
  length-normalized score ``mean_logodds = sum(w) / n_tokens`` (the
  fastText mean-of-embeddings shape, so long docs aren't auto-winners)
  and ``p_quality = sigmoid(mean_logodds)``.
- ``pareto_quality_sample``: the GPT-3 acceptance rule made replayable —
  keep doc iff ``pareto_draw > 1 - p_quality`` where the Pareto(shape)
  draw comes from a SEEDED per-id hash uniform, not an RNG: reruns keep
  byte-identical corpora, and for a fixed seed the keep-sets NEST as the
  shape loosens (smaller shape keeps a superset).

Plan shape at 100 TB: training counts are one shuffle per labeled corpus
(both corpora are curated samples — small by construction). Scoring
explodes tokens and joins the weight table: with ``buckets`` set (feature
hashing, the at-scale default) the model has at most ``buckets`` rows and
BROADCASTS — scoring adds no shuffle beyond the per-doc re-aggregation.
``buckets=None`` keeps raw string features for oracle-exact parity.

Tokenize goes through ``functions/text.ws_tokens`` (the repo-wide
contract). Unigrams only — the fastText default. This is the
DISCRIMINATIVE pos-vs-neg gate, not an importance model (target vs raw
likelihood ratio); the two select differently and real pipelines run
both.

The reference (volare-all/open-data-linter) has no learned scorers; this
extends the engine per the training-data-pipeline mandate. Its closest
seed is the classifier's rate vote (column_classifier.py:112-115) — a
frequency threshold deciding a label.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from open_data_linter_spark.functions.text import ws_tokens


def _feat(buckets: int | None, seed: int):
    f = F.col("f")
    if buckets is None:
        return f
    return F.pmod(F.xxhash64(f, F.lit(seed)), F.lit(buckets))


def train_quality_classifier(
    pos: DataFrame,
    neg: DataFrame,
    text_col: str = "text",
    alpha: float = 1.0,
    buckets: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Closed-form NB log-odds model: ``(f, w)`` rows, one per feature in
    the pos ∪ neg vocabulary, plus the ``f IS NULL`` out-of-vocabulary
    row. Smoothing denominator uses V = |pos ∪ neg vocab| (or ``buckets``
    when hashing), so the OOV weight is the same formula with count 0."""
    if alpha <= 0.0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    if buckets is not None and buckets < 2:
        raise ValueError(f"buckets must be >= 2, got {buckets}")

    def feats(df: DataFrame) -> DataFrame:
        return df.select(
            F.explode(ws_tokens(F.col(text_col))).alias("f")
        ).select(_feat(buckets, seed).alias("f"))

    pc = feats(pos).groupBy("f").agg(F.count("*").alias("c_pos"))
    nc = feats(neg).groupBy("f").agg(F.count("*").alias("c_neg"))
    u = pc.join(nc, "f", "full").select(
        "f",
        F.coalesce("c_pos", F.lit(0)).alias("c_pos"),
        F.coalesce("c_neg", F.lit(0)).alias("c_neg"),
    )
    v = (
        F.lit(float(buckets))
        if buckets is not None
        else F.col("V").cast("double")
    )
    scalars = u.agg(
        F.sum("c_pos").alias("T_pos"),
        F.sum("c_neg").alias("T_neg"),
        F.count("*").alias("V"),
    )
    a = F.lit(float(alpha))

    def logodds(cp, cn):
        return F.log(
            (cp.cast("double") + a) / (F.col("T_pos").cast("double") + a * v)
        ) - F.log(
            (cn.cast("double") + a) / (F.col("T_neg").cast("double") + a * v)
        )

    weights = u.crossJoin(F.broadcast(scalars)).select(
        "f", logodds(F.col("c_pos"), F.col("c_neg")).alias("w")
    )
    oov = scalars.select(
        F.lit(None).cast(weights.schema["f"].dataType).alias("f"),
        logodds(F.lit(0), F.lit(0)).alias("w"),
    )
    return weights.unionByName(oov)


def _scored_ids(
    df: DataFrame,
    model: DataFrame,
    text_col: str,
    id_col: str,
    buckets: int | None,
    seed: int,
) -> DataFrame:
    """Internal: ``(__id, n_tokens, mean_logodds)`` for every doc that
    tokenizes to something — WITHOUT the row-preserving join back onto
    ``df`` (the sampler drops unscorable docs anyway, so it skips that
    corpus-wide join)."""
    oov = F.broadcast(
        model.where(F.col("f").isNull()).agg(F.min("w").alias("w0"))
    )
    weights = model.where(F.col("f").isNotNull())
    if buckets is not None:
        weights = F.broadcast(weights)

    toks = df.select(
        F.col(id_col).alias("__id"), ws_tokens(F.col(text_col)).alias("toks")
    )
    occ = toks.select("__id", F.explode("toks").alias("f")).select(
        "__id", _feat(buckets, seed).alias("f")
    )
    return (
        occ.join(weights, "f", "left")
        .crossJoin(oov)
        .select(
            "__id",
            F.coalesce(
                "w",
                F.assert_true(
                    F.col("w0").isNotNull(),
                    F.lit("model has no OOV (f IS NULL) row"),
                ).cast("double"),
                "w0",
            ).alias("w"),
        )
        .groupBy("__id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.sum("w") / F.count("*"), 6).alias("mean_logodds"),
        )
    )


def quality_model_scores(
    df: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Row-preserving scores: ``(id_col, n_tokens, mean_logodds,
    p_quality)``. ``mean_logodds`` is the per-occurrence weight sum over
    ``n_tokens`` rounded to 6 decimals (partition-order independence
    contract); ``p_quality = round(sigmoid(mean_logodds), 6)``. Docs that
    tokenize to nothing carry NULLs. Pass the SAME ``buckets``/``seed``
    the model was trained with — the params travel with the caller, not
    the frame (persist them beside the parquet like the index sidecars).
    """
    scored = _scored_ids(df, model, text_col, id_col, buckets, seed)
    return (
        df.select(F.col(id_col))
        .join(scored, F.col(id_col) == F.col("__id"), "left")
        .drop("__id")
        .select(
            id_col,
            "n_tokens",
            "mean_logodds",
            F.round(
                F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("mean_logodds"))), 6
            ).alias("p_quality"),
        )
    )


def pareto_quality_sample(
    df: DataFrame,
    model: DataFrame,
    shape: float = 9.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int | None = None,
    seed: int = 42,
    draw_seed: int = 7,
) -> DataFrame:
    """GPT-3's acceptance rule, deterministic: keep a row iff
    ``pareto_draw > 1 - p_quality``, with the Pareto(``shape``) draw
    inverse-transformed from a seeded per-id hash uniform
    (``(1-u)^(-1/shape) - 1``). Returns kept rows of ``df`` (all
    columns). Unscorable docs (empty token bag) are dropped — a learned
    gate has no evidence to accept them on; route empty-doc policy
    through the heuristic gates instead.

    Bigger ``shape`` = sharper gate (draws hug 0, only p≈1 survives);
    for a fixed ``draw_seed`` the keep-set at a larger shape is a SUBSET
    of the keep-set at a smaller one (the draw is pointwise decreasing in
    shape) — tightening the gate never resurrects a dropped doc."""
    if shape <= 0.0:
        raise ValueError(f"shape must be > 0, got {shape}")
    # _scored_ids, not quality_model_scores: the row-preserving join back
    # onto every df id would be pure overhead here — unscorable docs are
    # dropped by the acceptance rule anyway
    p = _scored_ids(df, model, text_col, id_col, buckets, seed).select(
        F.col("__id").alias("__sid"),
        F.round(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("mean_logodds"))), 6
        ).alias("p_quality"),  # identical to the published score
    )
    # 53-bit hash uniform in [0, 1): exact in a double, never reaches 1.0
    # so (1-u) is never 0 and the draw is always finite
    u = (
        F.pmod(
            F.xxhash64(F.col("__sid"), F.lit(draw_seed)), F.lit(1 << 53)
        ).cast("double")
        / F.lit(float(1 << 53))
    )
    draw = F.pow(F.lit(1.0) - u, F.lit(-1.0 / shape)) - F.lit(1.0)
    kept = p.where(draw > (F.lit(1.0) - F.col("p_quality"))).select("__sid")
    return df.join(kept, F.col(id_col) == F.col("__sid"), "semi")
