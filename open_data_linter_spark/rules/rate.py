"""Cross-field rate checks: robust z-score outliers on derived ratios.

The north star names "out-of-range and distribution anomalies" as a rule
family (BASELINE.json). The reference's numeric rules are per-cell domain
checks (csv_linter.py:133-185); this module adds the distributional rule
the audio table needs that no fixed domain can express: a clip whose
TRANSCRIPT length is implausible for its DURATION (garbled alignment,
wrong-file transcript, dropped audio) is only detectable relative to the
corpus. Robust statistics (median/MAD, Iglewicz-Hoberg modified z-score
|0.6745·(x−med)/MAD| — public standard) so the outliers themselves don't
drag the threshold.

Exactness contract: the median is the LOWER median (the element at
position ceil(n/2) of the sorted values — an actual data element, no
interpolation), so Spark and an independent SQL engine agree bit-for-bit
on doubles. Scale guard: the exact path merges every distinct value into
one aggregate buffer to pick the order statistic (``percentile_disc``) —
fine for per-batch validation fixtures, a scale-killer at 10^12 rows. The
DEFAULT (``approx=None``) therefore probes the row count with a
short-circuiting ``limit(MAX+1).count()`` and auto-switches to mergeable
``percentile_approx`` sketches above ``EXACT_MEDIAN_MAX_ROWS`` (the
oracle then becomes a contract check, not an exact twin); pass
``approx=False`` to force exactness regardless of size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from open_data_linter_spark.functions.regexes import WS_CLASS

MODIFIED_Z = 0.6745  # Φ^-1(0.75): scales MAD to σ for the modified z-score

# auto mode (approx=None) stays exact up to this many non-null rows; the
# exact path gathers every distinct value into one task, so the bound is
# what one task comfortably holds (a value->count map of at most 1M
# doubles), not executor memory
EXACT_MEDIAN_MAX_ROWS = 1_000_000


def _lower_median(df: DataFrame, col: str) -> float:
    """Exact lower median: the ceil(n/2)-th smallest value (1-based).

    ``percentile_disc(0.5)`` is the smallest value whose cumulative share
    reaches one half — that same element, in one aggregate job. NULLs
    are skipped; no rows gives NULL, which raises."""
    m = df.agg(
        F.expr(f"percentile_disc(0.5) WITHIN GROUP (ORDER BY `{col}`)")
    ).first()[0]
    if m is None:
        raise ValueError("no rows to take a median over")
    return float(m)


def word_count(transcript_col="transcript") -> F.Column:
    """Token count under the package tokenize contract (split on runs of
    functions/regexes.WS_CLASS with EMPTY TOKENS DROPPED; the Python twin
    is ``_py_expected`` in tests/test_rate.py).
    ``array_remove(..., '')`` is what drops the empties a leading/trailing
    non-space whitespace edge produces (F.trim strips ASCII spaces only)."""
    return F.size(
        F.array_remove(F.split(F.col(transcript_col), WS_CLASS + "+"), "")
    )


def words_per_second(
    transcript_col="transcript", dur_ms_col="dur_ms"
) -> F.Column:
    """Transcript word rate (empties-dropped tokenize contract)."""
    return word_count(transcript_col) * F.lit(1000.0) / F.col(dur_ms_col)


def robust_z_outliers(
    df: DataFrame,
    value_col: str,
    id_col: str,
    z_threshold: float = 3.5,
    approx: bool | None = None,
) -> DataFrame:
    """(id, value, z) rows whose modified z-score exceeds the threshold.

    ``z`` = 0.6745·(value − median)/MAD, rounded to 6 decimals. Raises on
    MAD = 0 (more than half the values identical — a rate rule on such a
    column is the wrong tool, and silent division would emit ±inf).

    ``approx=None`` (default) = auto: exact lower medians up to
    ``EXACT_MEDIAN_MAX_ROWS`` non-null rows, ``percentile_approx`` above
    (the size probe is a ``limit(MAX+1).count()`` — it stops scanning at
    MAX+1 rows, so it is cheap even at 10^12). ``False`` forces exact,
    ``True`` forces sketches.

    NULL values are excluded from both the statistics and the output: a
    NULL carries no rate signal, its absence is a completeness rule's job.
    Raises ValueError when no non-null rows remain — on BOTH paths (both
    percentile aggregates return NULL over zero rows)."""
    proj = df.select(F.col(id_col).alias("id"), F.col(value_col).alias("v"))
    vals = proj.where(F.col("v").isNotNull())
    if approx is None:
        approx = vals.limit(EXACT_MEDIAN_MAX_ROWS + 1).count() > EXACT_MEDIAN_MAX_ROWS
    if approx:
        # read the projection without the NULL filter: Catalyst pushes
        # the filter under the projection, which evaluates the value
        # expression twice per row. Both sketches skip NULLs, and a NULL
        # value gives a NULL z, which the threshold filter drops.
        vals = proj
        m = vals.agg(F.percentile_approx("v", 0.5, 10000)).first()[0]
        if m is None:
            raise ValueError("no rows to take a median over")
        med = float(m)
        mad = float(
            vals.select(F.abs(F.col("v") - F.lit(med)).alias("d"))
            .agg(F.percentile_approx("d", 0.5, 10000))
            .first()[0]
        )
    else:
        # pin the values both medians and the returned rows read, so the
        # input lineage runs once per call (a local checkpoint is no
        # session cache entry). Pin the projection, not ``vals``: Catalyst
        # pushes the NULL filter under the projection, which would
        # evaluate the value expression twice per row.
        vals = proj.localCheckpoint(eager=True).where(F.col("v").isNotNull())
        med = _lower_median(vals, "v")
        mad = _lower_median(
            vals.select(F.abs(F.col("v") - F.lit(med)).alias("d")), "d"
        )
    if mad == 0.0:
        raise ValueError("MAD is zero: values are majority-constant")
    z = F.lit(MODIFIED_Z) * (F.col("v") - F.lit(med)) / F.lit(mad)
    out = vals.select(
        F.col("id").alias(id_col),
        F.round(F.col("v"), 6).alias(value_col),
        F.round(z, 6).alias("z"),
    ).where(F.abs(F.col("z")) > z_threshold)
    if approx:
        # the global sort's range-partition sample job would read the
        # unpinned input once more; outlier rows are sparse, so pin them
        out = out.localCheckpoint(eager=True)
    return out.orderBy(id_col)


def transcript_rate_outliers(
    clips: DataFrame,
    z_threshold: float = 3.5,
    id_col: str = "clip_id",
    transcript_col: str = "transcript",
    dur_ms_col: str = "dur_ms",
    approx: bool | None = None,
) -> DataFrame:
    """Clips whose words-per-second is a corpus outlier.

    Sentinel transcripts (SENTINEL_TRANSCRIPTS — non-speech markers),
    blanks, NULLs, and non-positive durations are excluded: they carry no
    rate signal and their absence is owned by rules 1-13/1-6."""
    from open_data_linter_spark.audio.synth import SENTINEL_TRANSCRIPTS

    t = F.col(transcript_col)
    base = clips.where(
        t.isNotNull()
        # token-count blank test, not trim: a '\n'-only transcript trims
        # (ASCII spaces) to itself but carries zero words
        & (word_count(transcript_col) > 0)
        & ~t.isin(*SENTINEL_TRANSCRIPTS)
        & (F.col(dur_ms_col) > 0)
    ).select(
        id_col, words_per_second(transcript_col, dur_ms_col).alias("wps")
    )
    return robust_z_outliers(base, "wps", id_col, z_threshold, approx=approx)
