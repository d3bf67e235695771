"""Text-analysis expressions for training-data pipelines.

All pure Catalyst (whole-stage codegen) — language ID, quality scoring,
token counting, fingerprinting. Used over the ``documents`` table and over
the audio table's ``transcript`` column. These extend the engine beyond the
reference's rule set (prompt mandate: text analysis as first-class ops).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from open_data_linter_spark.functions.regexes import WS_CLASS

_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def ws_tokens(c: Column) -> Column:
    """THE package tokenize contract (executor side): lowercase, split on
    runs of ASCII whitespace (explicit ``WS_CLASS``), drop empty tokens.
    ``[]`` (never ``['']``) for NULL/blank/whitespace-only input.

    Dropping empties matters: ``F.split`` keeps leading/trailing empty
    strings when the text starts/ends with non-space whitespace
    (``F.trim`` strips only ASCII space), and a phantom ``''`` token
    corrupts counts, shingles, and reassembled text."""
    return F.array_remove(
        F.split(F.lower(F.coalesce(c, F.lit(""))), WS_CLASS + "+"), ""
    )


def java_ws_tokens(s: str | None) -> list[str]:
    """Driver-side twin of the package tokenize contract — byte-agrees
    with the executor-side ``ws_tokens`` (lower, explicit ASCII-whitespace
    class, empties dropped)."""
    if not s:
        return []
    return [t for t in _JAVA_WS.split(s.lower()) if t]

# small stopword lists for the heuristic scorers (top function words)
EN_STOPWORDS = (
    "the of and to in a is that it for on was as with be by at from are this "
    "or an have not but had his they which you were her she all we one their"
).split()
JA_CHARS = r"[぀-ヿ一-鿿]"  # hiragana/katakana/CJK
ES_STOPWORDS = "el la de que y en los del se las por un para con no una su al es".split()


def ws_normalized(c: Column) -> Column:
    """The tokenize contract rendered back to a string: lowercase,
    single-space-joined, no edge whitespace. Blank/NULL input -> ''."""
    return F.concat_ws(" ", ws_tokens(c))


def transcript_cer(
    df,
    hyp_col: str = "transcript",
    ref_col: str = "transcript_ref",
    id_col: str = "clip_id",
):
    """Per-row character error rate of a transcript against its reference
    — the tolerance-based counterpart of the payload rule's EXACT
    transcript-equality check (rules/payload.py): an ASR-refresh or
    re-annotation pass is gated on cer <= eps rather than equality.

    Both sides are ws-normalized first (the package tokenize contract),
    so whitespace/case drift never counts as an error; the distance is
    Spark's JVM ``levenshtein`` (UTF-16 code units = characters for BMP
    text — NOT DuckDB's byte-level ``levenshtein``, which counts a CJK
    substitution as 3). A NULL/blank hypothesis scores as a full
    deletion (cer 1.0 against a non-empty reference).

    Output: (id_col, n_ref_chars, edit_distance, cer) with
    ``cer = edit_distance / greatest(1, n_ref_chars)``. Pure projection
    — whole-stage codegen, zero shuffle, scales linearly.
    """
    hyp = ws_normalized(F.col(hyp_col))
    ref = ws_normalized(F.col(ref_col))
    dist = F.levenshtein(hyp, ref)
    n_ref = F.length(ref)
    return df.select(
        id_col,
        n_ref.alias("n_ref_chars"),
        dist.alias("edit_distance"),
        (dist / F.greatest(n_ref, F.lit(1))).cast("double").alias("cer"),
    )


def token_count(c: Column) -> Column:
    """Whitespace token count (0 for empty/null) — ``ws_tokens`` contract."""
    return F.size(ws_tokens(c))


def bpe_ish_token_count(c: Column) -> Column:
    """BPE-flavored token estimate: word pieces + digits + punctuation.

    Splits on the GPT-2-style boundary classes (letters / digits / other),
    approximated with a regex extract-all — a deterministic, cheap proxy for
    tokenizer-based counts.
    """
    pieces = F.regexp_extract_all(
        F.coalesce(c, F.lit("")),
        F.lit(r"[A-Za-z]+|[0-9]|[぀-ヿ一-鿿]|[^\sA-Za-z0-9぀-ヿ一-鿿]"),
        0,
    )
    return F.size(pieces)


def _count_matches(c: Column, pattern: str) -> Column:
    return F.size(F.regexp_extract_all(F.coalesce(c, F.lit("")), F.lit(pattern), 0))


def punct_ratio(c: Column) -> Column:
    n = F.length(F.coalesce(c, F.lit("")))
    return F.when(n == 0, F.lit(0.0)).otherwise(
        _count_matches(c, r"[\p{Punct}、。「」『』]").cast("double") / n
    )


def stopword_ratio(c: Column, stopwords: list[str] | None = None) -> Column:
    """Fraction of whitespace tokens that are (lowercased) stopwords."""
    sw = [s.lower() for s in (stopwords or EN_STOPWORDS)]
    toks = ws_tokens(c)
    n = F.size(toks)
    hits = F.size(F.filter(toks, lambda t: t.isin(*sw)))
    return F.when(n == 0, F.lit(0.0)).otherwise(hits.cast("double") / n)


def quality_score(c: Column) -> Column:
    """Composite [0,1] quality heuristic: length, punct balance, stopwords.

    Deterministic and monotone in its inputs; meant for threshold filtering
    of web-scale corpora, not absolute meaning.
    """
    n = F.length(F.coalesce(c, F.lit("")))
    len_score = F.least(n.cast("double") / F.lit(500.0), F.lit(1.0))
    p = punct_ratio(c)
    punct_score = F.when(p > 0.5, F.lit(0.0)).otherwise(1.0 - p * 2.0)
    sw = stopword_ratio(c)
    sw_score = F.least(sw * F.lit(4.0), F.lit(1.0))
    return F.round((len_score + punct_score + sw_score) / F.lit(3.0), 6)


def lang_id(c: Column) -> Column:
    """Heuristic language ID: 'ja' / 'en' / 'es' / 'unknown'.

    Script detection first (any kana/CJK → ja), then stopword-hit voting.
    A real pipeline would swap in fastText/CLD3; the Spark shape (one
    expression, no UDF) is the point.
    """
    t = F.lower(F.coalesce(c, F.lit("")))
    ja_hits = _count_matches(c, JA_CHARS)
    toks = ws_tokens(c)
    en_hits = F.size(F.filter(toks, lambda x: x.isin(*EN_STOPWORDS)))
    es_hits = F.size(F.filter(toks, lambda x: x.isin(*ES_STOPWORDS)))
    return (
        F.when(F.length(F.trim(t)) == 0, F.lit("unknown"))
        .when(ja_hits > 0, F.lit("ja"))
        .when((en_hits >= es_hits) & (en_hits > 0), F.lit("en"))
        .when(es_hits > 0, F.lit("es"))
        .otherwise(F.lit("unknown"))
    )


def normalized_fingerprint(c: Column) -> Column:
    """Document fingerprint: md5 of lowercased, whitespace/punct-collapsed
    text. Exact-dup detection key (content-normalized)."""
    norm = F.regexp_replace(
        F.regexp_replace(F.lower(F.coalesce(c, F.lit(""))), r"[\p{Punct}、。]", ""),
        WS_CLASS + "+",
        " ",
    )
    return F.md5(F.trim(norm))


def shingles(c: Column, k: int = 3) -> Column:
    """Word k-gram shingle array (distinct), for Jaccard/MinHash.

    Defined over ``positional_shingles`` so the tokenize/fallback contract
    has exactly one implementation."""
    return F.array_distinct(positional_shingles(c, k))


def positional_shingle_structs(toks: Column, k: int) -> Column:
    """``array<struct<s:int, gram:string>>`` — one entry per k-gram
    occurrence with its 0-based token start. THE single implementation of
    the gram/fallback contract: docs shorter than k tokens collapse to one
    whole-doc gram at start 0; empty token arrays yield ``[]``.
    ``positional_shingles`` (and through it ``shingles``) builds on this
    so the distinct and per-occurrence gram streams can never drift
    apart."""
    n = F.size(toks)
    # Round 6 (optimization): k whole-array slices zipped once per doc,
    # instead of one per-position ``F.slice(toks, i+1, k)`` inside the
    # lambda — HOF lambdas evaluate interpreted per element, and the
    # per-position slice allocated a fresh k-array every gram (measured
    # 2.0s -> 0.5s for the k=2 sf1.0 corpus pass, byte-identical output).
    # All k slices have length n-k+1 exactly (start j+1 <= k), so the
    # zipped rows carry no NULL fields and concat_ws sees every token.
    m = n - k + 1
    zipped = F.arrays_zip(
        *[F.slice(toks, j + 1, m).alias(f"t{j}") for j in range(k)]
    )
    grams = F.transform(
        zipped,
        lambda x, i: F.struct(
            i.cast("int").alias("s"),
            F.concat_ws(" ", *[x[f"t{j}"] for j in range(k)]).alias("gram"),
        ),
    )
    whole = F.array(
        F.struct(F.lit(0).cast("int").alias("s"), F.concat_ws(" ", toks).alias("gram"))
    )
    return F.when(n >= k, grams).otherwise(
        F.when(n > 0, whole).otherwise(
            F.array().cast("array<struct<s:int,gram:string>>")
        )
    )


def positional_shingles(c: Column, k: int = 3) -> Column:
    """Word k-gram array WITHOUT dedup — one entry per occurrence position.

    Same tokenize/fallback contract as ``shingles`` (short docs collapse to
    one whole-doc gram), but repeated spans stay repeated: one entry per
    occurrence, for statistics that count occurrences."""
    return F.transform(
        positional_shingle_structs(ws_tokens(c), k), lambda x: x["gram"]
    )


def rolling_hashes(c: Column, k: int = 3) -> Column:
    """xxhash64 of each k-shingle — the 'rolling hash' fingerprint set."""
    return F.transform(shingles(c, k), lambda s: F.xxhash64(s))
