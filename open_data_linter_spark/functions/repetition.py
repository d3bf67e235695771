"""Intra-document repetition statistics — Gopher-style quality signals.

Web-scale corpus curation filters documents whose content is dominated by
REPEATED material inside the document itself (machine-generated listings,
keyword stuffing, navigation loops): Rae et al., "Scaling Language Models:
Methods, Analysis & Insights from Training Gopher" (arXiv 2112.11446,
table A1) gate on the fraction of a document made of duplicated n-grams and
on the share taken by the single most frequent n-gram. This module
measures that WITHIN-document repetition, per n-gram size:

- ``n_grams``        — total n-gram positions (occurrence stream length)
- ``distinct_grams`` — distinct n-grams in the document
- ``dup_position_rate`` — fraction of positions whose n-gram occurs more
  than once in the document (n=1 gives 1 - type/token boundary signal)
- ``top_gram_rate``  — occurrence share of the single most frequent n-gram

Scale design: the operator is embarrassingly parallel over documents —
nothing is exploded or shuffled, which is the plan you want when the
corpus is 100 TB and the per-doc state is a few kilobytes. Round 6: the
per-(doc, n) counters are computed in ONE Arrow-vectorized numpy batch op
over the per-TOKEN xxhash64 stream (guide §4.2) — the former shape
built three gram-string arrays and folded each with ``F.aggregate``, and
higher-order-function lambdas evaluate on the
interpreted expression path per element, which made gram construction +
fold the whole cost of the operator (13.5s -> ~3s at sf1.0). N-gram
equality is decided on the n-tuple of token hashes (tokens never contain
whitespace, so the concat_ws gram string is a bijection of the token
tuple): identical equivalence classes, identical counters.

Counting on 64-bit hashes is identical to counting on the gram strings
up to xxhash64 collisions; the driver oracle recomputes on the raw strings
in DuckDB and matches.

The reference (volare-all/open-data-linter) has no intra-doc repetition
checks; this extends the engine per the training-data-pipeline mandate.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from open_data_linter_spark.functions.text import ws_tokens

# 64-bit odd multiplier (splitmix64's golden-ratio constant) for the
# rolling tuple mix — any injective-up-to-collision combine works, the
# counters only consume equality classes
_MIX = np.uint64(0x9E3779B97F4A7C15)


def _counters_udf(ns: Sequence[int]):
    """pandas_udf: per-token-hash-array -> flat array<long> of
    ``4 * len(ns)`` counters, laid out [tot, distinct, dup, top] per n
    (in ``ns`` order). Built per call (pandas_udf needs a live session).

    Per (doc, n), with m tokens:
      m == 0          -> (0, 0, 0, 0)   (whitespace-only doc)
      0 < m < n       -> (1, 1, 0, 1)   (whole-doc fallback gram)
      m >= n          -> counters over the m-n+1 gram positions, where a
                         gram is the n-tuple of consecutive token hashes.
    """
    ns = [int(n) for n in ns]

    def impl(hs_s: pd.Series) -> pd.Series:
        rows = len(hs_s)
        lens = np.fromiter(
            (0 if a is None else len(a) for a in hs_s),
            dtype=np.int64,
            count=rows,
        )
        total = int(lens.sum())
        flat = (
            np.concatenate(
                [np.asarray(a, dtype=np.int64) for a in hs_s if a is not None and len(a)]
            ).view(np.uint64)
            if total
            else np.empty(0, dtype=np.uint64)
        )
        row_of = np.repeat(np.arange(rows, dtype=np.int64), lens)
        out = np.zeros((rows, 4 * len(ns)), dtype=np.int64)
        for j, n in enumerate(ns):
            tot = np.zeros(rows, dtype=np.int64)
            dis = np.zeros(rows, dtype=np.int64)
            dup = np.zeros(rows, dtype=np.int64)
            top = np.zeros(rows, dtype=np.int64)
            fb = (lens > 0) & (lens < n)  # whole-doc fallback gram
            tot[fb] = 1
            dis[fb] = 1
            top[fb] = 1
            ok = lens >= n
            if total >= n:
                nw = total - n + 1  # candidate window count over flat
                g = flat[:nw].copy()
                for t in range(1, n):
                    g = g * _MIX + flat[t : nw + t]
                valid = row_of[:nw] == row_of[n - 1 : total]
                gr, rw = g[valid], row_of[:nw][valid]
                order = np.lexsort((gr, rw))
                sg, sr = gr[order], rw[order]
                newrun = np.ones(len(sg), dtype=bool)
                if len(sg) > 1:
                    newrun[1:] = (sg[1:] != sg[:-1]) | (sr[1:] != sr[:-1])
                run_starts = np.flatnonzero(newrun)
                run_lens = np.diff(np.append(run_starts, len(sg)))
                run_rows = sr[run_starts]
                tot[ok] = lens[ok] - n + 1
                dis[ok] = np.bincount(run_rows, minlength=rows)[ok]
                dup[ok] = np.bincount(
                    run_rows,
                    weights=np.where(run_lens > 1, run_lens, 0),
                    minlength=rows,
                ).astype(np.int64)[ok]
                tmax = np.zeros(rows, dtype=np.int64)
                np.maximum.at(tmax, run_rows, run_lens)
                top[ok] = tmax[ok]
            out[:, 4 * j] = tot
            out[:, 4 * j + 1] = dis
            out[:, 4 * j + 2] = dup
            out[:, 4 * j + 3] = top
        return pd.Series(list(out))

    return F.pandas_udf(impl, "array<long>")


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ns: Sequence[int] = (1, 2, 3),
) -> DataFrame:
    """Per-document, per-n repetition metrics (long format).

    Output: one row per (non-empty document, n) —
    (doc_id, n, n_grams, distinct_grams, dup_position_rate, top_gram_rate),
    rates rounded to 6 places. Tokenization and the short-doc whole-text
    fallback follow ``functions.text.positional_shingles`` exactly, so the
    numbers compose with the other shingle-based text operators.

    Input contract: ``id_col`` is unique per document.
    """
    if not ns:
        raise ValueError("ns must be a non-empty sequence of n-gram sizes")
    c = F.col(text_col)
    # spread + pin BEFORE the hash/counter projection: a single-file
    # scan is ONE partition and Catalyst collapses column-independent
    # projections below a bare repartition, so without the pinned
    # boundary the whole per-row pass serializes onto one core
    # (22.5s -> ~2s at sf0.1)
    from open_data_linter_spark.dedup._cache import spread_and_pin

    src = spread_and_pin(
        f"repetition:{id_col}",
        df.select(id_col, text_col).where(
            F.trim(F.coalesce(c, F.lit(""))) != ""
        ),
    )
    hashes = F.transform(ws_tokens(c), lambda t: F.xxhash64(t))
    cnt = src.select(F.col(id_col), _counters_udf(ns)(hashes).alias("ct"))
    per_n = F.array(
        *[
            F.struct(
                F.lit(int(n)).alias("n"),
                F.element_at("ct", 4 * j + 1).alias("tot"),
                F.element_at("ct", 4 * j + 2).alias("distinct"),
                F.element_at("ct", 4 * j + 3).alias("dup"),
                F.element_at("ct", 4 * j + 4).alias("top"),
            )
            for j, n in enumerate(ns)
        ]
    )
    st = F.col("r")
    tot = st["tot"]
    return (
        cnt.select(F.col(id_col), F.explode(per_n).alias("r"))
        .select(
            F.col(id_col),
            st["n"].alias("n"),
            tot.alias("n_grams"),
            st["distinct"].alias("distinct_grams"),
            F.round(st["dup"] / tot, 6).alias("dup_position_rate"),
            F.round(st["top"] / tot, 6).alias("top_gram_rate"),
        )
        .orderBy(id_col, "n")
    )


def repetition_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dup_2gram_rate: float = 0.6,
    max_top_2gram_rate: float = 0.2,
    min_grams: int = 5,
) -> DataFrame:
    """Keep-filter: drop documents whose 2-gram repetition exceeds the
    Gopher-style gates. The gates only bind for documents with at least
    ``min_grams`` 2-gram positions — a two-word document trivially has
    top_gram_rate 1.0 and carries no repetition signal (Gopher likewise
    pairs repetition gates with minimum-length gates). Empty documents are
    dropped (no signal). Returns the surviving rows of ``df`` unchanged."""
    st = repetition_stats(df, text_col, id_col, ns=(2,)).where(
        (F.col("n_grams") < F.lit(int(min_grams)))
        | (
            (F.col("dup_position_rate") <= max_dup_2gram_rate)
            & (F.col("top_gram_rate") <= max_top_2gram_rate)
        )
    )
    return df.join(st.select(id_col), on=id_col, how="semi")
