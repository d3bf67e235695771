"""Corpus bigram language model + per-document perplexity scoring.

LM-perplexity filtering is the classic model-based quality gate in
web-corpus curation (Wenzek et al., "CCNet: Extracting High Quality
Monolingual Datasets from Web Crawl Data", arXiv 1911.00359 §4.3 score
documents with a KenLM model and keep the low-perplexity tail). This
module provides the self-contained Spark-native analog: an add-alpha
smoothed bigram model TRAINED ON THE CORPUS ITSELF (no external model
files exist in this environment), then every document scored by its
perplexity under that model — documents made of improbable word
transitions (gibberish, boilerplate soup, wrong-language fragments)
surface with high perplexity.

Model: P(w2 | w1) = (c(w1,w2) + alpha) / (c(w1,·) + alpha * V) where
c(·,·) are corpus bigram occurrence counts, c(w1,·) is the count of
bigrams STARTING with w1 (not the unigram count — no end-of-doc mass is
modeled), and V = |distinct corpus words|. Per document with tokens
t_1..t_n (n >= 2): ppl = exp(-(1/(n-1)) * sum_i ln P(t_i | t_{i-1})).
Documents with fewer than 2 tokens carry a NULL perplexity (no bigram
evidence; filter or impute at the call site).

Scale design: training is TWO corpus shuffles (bigram counts with
map-side partial agg; prefix counts derived from the bigram table, not
the corpus) plus a single-row V aggregate broadcast via cross join.
Scoring re-explodes each document's bigram OCCURRENCE stream and joins
it against the count tables on the pair key — a plain hash join that
AQE plans; the per-doc reduction is one groupBy(doc). Everything stays
JVM-side Catalyst arithmetic; smoothing means unseen pairs still score
(left join + coalesce to the alpha floor).

Determinism: pure counts + closed-form arithmetic; perplexity rounds to
6 decimals, so the driver oracle recomputes the identical model and
scores in DuckDB as a FULL exact twin.

Tokenization follows the package-wide trim/lower/whitespace contract.
The reference (volare-all/open-data-linter) has no language models; this
extends the engine per the training-data-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from open_data_linter_spark.functions.text import ws_tokens


def _toks(c):
    return ws_tokens(c)


def _bigrams(toks):
    # shared adjacency contract — functions/text.adjacent_pairs is THE
    # single bigram producer
    from open_data_linter_spark.functions.text import adjacent_pairs

    return adjacent_pairs(toks)


def lm_perplexity(
    df: DataFrame,
    alpha: float = 0.1,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_df: DataFrame | None = None,
) -> DataFrame:
    """Per-doc perplexity under the bigram model trained on ``train_df``
    (default: ``df`` itself — self-perplexity, the CCNet-style quality
    proxy). Returns (doc_id, n_tokens, ppl); ppl is NULL when
    n_tokens < 2. Bigrams unseen in training score at the alpha floor
    (only reachable when ``train_df`` differs from ``df``)."""
    if alpha <= 0:
        raise ValueError("alpha must be > 0 (unsmoothed zeros diverge)")
    # spread + pin both tokenized projections: a single-file scan is ONE
    # partition (split+explode would serialize on one core), and each
    # frame feeds multiple consumers (score occurrences; bigram counts +
    # vocab) — without the persist the corpus is re-tokenized per
    # consumer (dedup/_cache notes)
    from open_data_linter_spark.dedup._cache import spread_and_pin

    toks = spread_and_pin(
        f"lm:{id_col}",
        df.select(
            F.col(id_col).alias("doc_id"), _toks(F.col(text_col)).alias("toks")
        ),
    )
    ttoks = (
        toks
        if train_df is None
        else spread_and_pin(
            "lm:train",
            train_df.select(_toks(F.col(text_col)).alias("toks")),
        )
    )
    occ = toks.where(F.size("toks") >= 2).select(
        "doc_id", F.explode(_bigrams(F.col("toks"))).alias("p")
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))

    tocc = ttoks.where(F.size("toks") >= 2).select(
        F.explode(_bigrams(F.col("toks"))).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    big = tocc.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    pre = big.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = ttoks.select(F.explode("toks").alias("w")).agg(
        F.countDistinct("w").alias("v")
    )

    scored = (
        occ.join(big, ["w1", "w2"], "left")
        .join(pre, ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.log(
                (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(alpha))
                / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(alpha) * F.col("v"))
            ).alias("lp"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("lp").alias("sum_lp"),
        )
        .select(
            "doc_id",
            (F.col("n_bigrams") + 1).alias("n_tokens"),
            F.round(
                F.exp(-F.col("sum_lp") / F.col("n_bigrams")), 6
            ).alias("ppl"),
        )
    )
    short = toks.where(F.size("toks") < 2).select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.lit(None).cast("double").alias("ppl"),
    )
    return scored.unionByName(short)
