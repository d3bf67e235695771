"""Text normalization for corpus preprocessing.

Every web-scale pipeline normalizes text before dedup/tokenize — Unicode
canonical composition plus control/whitespace hygiene (cf. CCNet's
preprocessing, arXiv 1911.00359 §3; Gopher's pipeline, arXiv 2112.11446
A.1.1). This module is that stage with an explicit, engine-independent
contract, applied in a fixed order:

1. **NFC** canonical composition (optional, default on): combining
   sequences compose ("e" + U+0301 → "é"); compatibility forms are NOT
   folded (that would be NFKC and changes meaning — ligatures, full-width
   digits stay, matching the predicate library's full-width-aware
   semantics in functions/predicates.py).
2. **Control strip** (optional, default on): C0 controls except
   ``\\t \\n \\r``, plus DEL (U+007F), are deleted — the characters that
   break downstream CSV/JSONL serialization.
3. **Whitespace collapse** (optional, default on): runs of the EXPLICIT
   class ``[ \\t\\x0B\\f]`` become one space, then leading/trailing
   spaces are trimmed. The class is spelled out, never ``\\s`` — Java
   ``\\s`` and RE2/Python disagree (see functions/regexes.WS_CLASS);
   newlines are structure and survive (line-level operators split on them).

Steps 2-3 are pure Catalyst ``regexp_replace`` (whole-stage codegen).
NFC is the one genuinely-inexpressible step: Spark has no normalization
builtin, so it runs as ONE Arrow-vectorized pandas UDF with an
ASCII fast path (ASCII is NFC-invariant, so the per-row cost is a byte
scan for the overwhelmingly-ASCII web corpus). The UDF is created per
call — a cached module-level pandas_udf pins a dead session's _judf.

DuckDB's ``nfc_normalize`` and Python's ``unicodedata.normalize('NFC')``
implement the same Unicode algorithm, so the oracle twin is exact.

The reference (volare-all/open-data-linter) normalizes per-cell only as
a side effect of pandas parsing (csv_linter.py:489-492 decode); this is
the corpus-level generalization per the training-data-pipeline mandate.
"""

import unicodedata

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# C0 except \t\n\r, plus DEL — same class spelled for Java and RE2
_CONTROL_CLASS = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"
_WS_CLASS = "[ \\t\\x0B\\x0C]"


def _nfc_col(c: Column) -> Column:
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        return s.map(
            lambda x: x
            if x is None or x.isascii()
            else unicodedata.normalize("NFC", x)
        )

    return _nfc(c)


def normalize_text_col(
    c: Column,
    nfc: bool = True,
    strip_controls: bool = True,
    collapse_ws: bool = True,
) -> Column:
    """The normalization contract as a composable Column (NULL → NULL)."""
    if nfc:
        c = _nfc_col(c)
    if strip_controls:
        c = F.regexp_replace(c, _CONTROL_CLASS, "")
    if collapse_ws:
        c = F.trim(F.regexp_replace(c, _WS_CLASS + "+", " "))
    return c


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "text_norm",
    nfc: bool = True,
    strip_controls: bool = True,
    collapse_ws: bool = True,
) -> DataFrame:
    """Row-preserving: every input column plus ``out_col``.

    With ``nfc=False`` the whole transform is one codegen'd projection
    (no Python anywhere); with NFC the plan is scan → ONE ArrowEvalPython
    stage → codegen'd regex projection — still a single pass, no shuffle.
    """
    return df.withColumn(
        out_col,
        normalize_text_col(
            F.col(text_col),
            nfc=nfc,
            strip_controls=strip_controls,
            collapse_ws=collapse_ws,
        ),
    )
