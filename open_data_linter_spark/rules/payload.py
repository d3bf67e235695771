"""Audio payload rules: one fused Arrow decode pass feeding three rules.

The reference's decode step is bytes→text at file granularity
(csv_linter.py:489-492, failure handled as a lint error :73-86). Here the
payload is per-row audio: ``bytes`` → PCM inside an Arrow-batched
``mapInPandas`` — the only place Python touches data, and it touches it as
numpy arrays over Arrow batches, never per-row Python objects
(BASELINE.json input_hint: "no per-row Python").

Fusion: decoding is ~all of the cost, so the three payload rules
(1-1 decodability/magic, 1-11 metadata consistency, SNR/transcript vs the
reference table) share ONE decode pass. Its output is a slim, bytes-free
result frame cached in the run ctx; each rule then derives its verdict with
pure Catalyst expressions.

Scale notes:
- the reference join (clips ⋈ reference_clips on clip_id) is the one big
  shuffle: at 10^12 rows both sides must be written bucketed by clip_id so
  Catalyst plans a co-located sort-merge join with no exchange. In the
  sandbox the tables are small; the code simply joins and lets AQE pick.
- Arrow batch size is capped (session.py maxRecordsPerBatch) so a batch of
  clips (bytes + reference PCM) stays well under executor memory.
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from open_data_linter_spark.core.model import RUN_CACHES, Rule, RuleOutcome, RuleScope

SNR_THRESHOLD_DB = 30.0
DUR_TOLERANCE_MS = 2

DECODE_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("decode_ok", T.BooleanType()),
        T.StructField("decode_err", T.StringType()),
        T.StructField("codec_sniffed", T.StringType()),
        T.StructField("codec_col", T.StringType()),
        T.StructField("sr_col", T.IntegerType()),
        T.StructField("dur_col", T.IntegerType()),
        T.StructField("sr_decoded", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("snr_db", T.DoubleType()),
        T.StructField("transcript_match", T.BooleanType()),
        T.StructField("has_reference", T.BooleanType()),
    ]
)


def _decode_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    # imports inside the worker function keep the closure light
    from open_data_linter_spark.audio.codecs import decode_clip, pcm_to_float32, snr_db

    out = {k: [] for k in [f.name for f in DECODE_RESULT_SCHEMA.fields]}
    has_ref_cols = "pcm_ref" in pdf.columns
    for row in pdf.itertuples(index=False):
        data = row.bytes
        ok, err, sniffed, sr_dec, n_frames, snr, t_match, has_ref = (
            False, None, None, None, None, None, None, False,
        )
        pcm = None
        if data is None:
            err = "bytes is null"
        else:
            try:
                codec, sr_dec_i, pcm = decode_clip(bytes(data))
                ok, sniffed, sr_dec, n_frames = True, codec, int(sr_dec_i), len(pcm)
            except ValueError as e:
                err = str(e)
                from open_data_linter_spark.audio.codecs import sniff_codec

                sniffed = sniff_codec(bytes(data))
        if has_ref_cols and row.pcm_ref is not None:
            has_ref = True
            # reference PCM is stored as int16 LE samples (synth.py)
            ref = pcm_to_float32(np.frombuffer(bytes(row.pcm_ref), dtype=np.int16))
            if ok and pcm is not None:
                snr = float(snr_db(ref, pcm_to_float32(pcm)))
            else:
                snr = -99.0
            t_ref = row.transcript_ref
            t_match = (row.transcript == t_ref) if t_ref is not None else None
        out["clip_id"].append(row.clip_id)
        out["partition_id"].append(int(row.pid))
        out["decode_ok"].append(ok)
        out["decode_err"].append(err)
        out["codec_sniffed"].append(sniffed)
        out["codec_col"].append(row.codec)
        out["sr_col"].append(row.sr_hz)
        out["dur_col"].append(row.dur_ms)
        out["sr_decoded"].append(sr_dec)
        out["n_frames"].append(n_frames)
        out["snr_db"].append(np.inf if snr == float("inf") else snr)
        out["transcript_match"].append(t_match)
        out["has_reference"].append(has_ref)
    pdf_out = pd.DataFrame(out)
    pdf_out["sr_col"] = pdf_out["sr_col"].astype("Int32")
    pdf_out["dur_col"] = pdf_out["dur_col"].astype("Int32")
    pdf_out["sr_decoded"] = pdf_out["sr_decoded"].astype("Int32")
    pdf_out["n_frames"] = pdf_out["n_frames"].astype("Int64")
    pdf_out["partition_id"] = pdf_out["partition_id"].astype("Int32")
    # replace inf with a large sentinel so Arrow/parquet stay clean
    pdf_out["snr_db"] = pdf_out["snr_db"].replace(np.inf, 999.0)
    return pdf_out


def decode_results(
    df: DataFrame, reference_df: Optional[DataFrame] = None
) -> DataFrame:
    """One Arrow pass: decode every clip, optionally compare to reference."""
    base = df.select(
        "clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript",
        F.spark_partition_id().alias("pid"),
    )
    if reference_df is not None:
        ref = reference_df.select("clip_id", "pcm_ref", "transcript_ref")
        # at scale: both sides bucketed by clip_id => no exchange here
        base = base.join(ref, on="clip_id", how="left")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield _decode_batch(b)

    return base.mapInPandas(gen, schema=DECODE_RESULT_SCHEMA)


def _get_shared_decode(spark: SparkSession, df: DataFrame, ctx: dict) -> DataFrame:
    res = ctx.get("_decode_results")
    if res is None:
        res = decode_results(df, ctx.get("reference_clips")).persist()
        ctx["_decode_results"] = res
        ctx.setdefault(RUN_CACHES, []).append(res)
    return res


# one fused Column per payload-rule condition, shared by stats + extraction
def _cond_undecodable():
    return ~F.col("decode_ok") | (
        F.col("codec_sniffed").isNull()
        | F.col("codec_col").isNull()
        | (F.col("codec_sniffed") != F.col("codec_col"))
    )


def _dur_decoded():
    return F.round(F.col("n_frames") * 1000.0 / F.col("sr_decoded"))


def _cond_sr_bad():
    return F.col("decode_ok") & (
        F.col("sr_col").isNull() | (F.col("sr_col") != F.col("sr_decoded"))
    )


def _cond_dur_bad():
    return F.col("decode_ok") & (
        F.col("dur_col").isNull()
        | (F.abs(F.col("dur_col") - _dur_decoded()) > F.lit(DUR_TOLERANCE_MS))
    )


def _cond_snr_bad():
    return F.col("has_reference") & (F.col("snr_db") < F.lit(SNR_THRESHOLD_DB))


def _cond_transcript_bad():
    return F.col("has_reference") & ~F.coalesce(F.col("transcript_match"), F.lit(False))


def _get_decode_stats(spark: SparkSession, df: DataFrame, ctx: dict) -> dict:
    """ONE aggregation job computing every payload rule's counters at once.

    The three payload rules would otherwise each fire their own count()
    action over the shared decode output; at cluster scale each action is a
    full pass + scheduler round-trip. This fuses them (same pattern as the
    fused row scan) — violation-row extraction then runs only for rules
    whose counter is non-zero.
    """
    stats = ctx.get("_decode_stats")
    if stats is None:
        res = _get_shared_decode(spark, df, ctx)
        row = res.agg(
            F.sum(_cond_undecodable().cast("long")).alias("undecodable"),
            F.sum(_cond_sr_bad().cast("long")).alias("sr_bad"),
            F.sum(_cond_dur_bad().cast("long")).alias("dur_bad"),
            F.sum(_cond_snr_bad().cast("long")).alias("snr_bad"),
            F.sum(_cond_transcript_bad().cast("long")).alias("t_bad"),
            F.min(F.when(F.col("has_reference"), F.col("snr_db"))).alias("min_snr"),
            F.sum(F.col("has_reference").cast("long")).alias("n_ref"),
        ).collect()[0]
        stats = {k: row[k] for k in row.asDict()}
        ctx["_decode_stats"] = stats
    return stats


def _violations_from(res: DataFrame, rule_id: str, cond, column: str, message) -> DataFrame:
    return res.where(cond).select(
        F.lit(rule_id).alias("rule_id"),
        F.col("clip_id"),
        F.lit(column).alias("column"),
        (message if not isinstance(message, str) else F.lit(message)).alias("message"),
        F.col("partition_id"),
    )


def make_decodable_rule(rule_id: str = "1-1") -> Rule:
    """1-1 analog, payload half: bytes decodable AND magic agrees with codec.

    (The SQL half — codec ∈ allowed set, bytes non-null/min-length — lives in
    the row ruleset so it's caught even without running the decode pass.)
    """

    def runner(spark: SparkSession, df: DataFrame, ctx: dict) -> RuleOutcome:
        stats = _get_decode_stats(spark, df, ctx)
        n = int(stats["undecodable"] or 0)
        v = None
        if n:
            res = _get_shared_decode(spark, df, ctx)
            v = _violations_from(
                res, rule_id, _cond_undecodable(), "bytes",
                F.concat_ws(
                    ": ",
                    F.lit("unreadable or codec-mismatched payload"),
                    F.coalesce(F.col("decode_err"), F.concat(
                        F.lit("magic says "), F.coalesce(F.col("codec_sniffed"), F.lit("?")),
                        F.lit(" but codec column says "), F.coalesce(F.col("codec_col"), F.lit("?")),
                    )),
                ),
            )
        return RuleOutcome(rule_id, n == 0, violations=v,
                           metrics={"undecodable_count": float(n)})

    return Rule(rule_id, "payload readable: bytes decode + magic↔codec agreement "
                         "(csv_linter.py:50-86 analog)", RuleScope.PAYLOAD, runner=runner)


def make_metadata_consistency_rule(rule_id: str = "1-11") -> Rule:
    """1-11 analog: same-row cross-field consistency vs the decoded payload.

    sr_hz column == container rate, dur_ms == round(n_frames/sr*1000) ±tol.
    The reference's era↔year check (csv_linter.py:267-310) is exactly this
    shape: two fields of one row must agree under a conversion.
    """

    def runner(spark: SparkSession, df: DataFrame, ctx: dict) -> RuleOutcome:
        stats = _get_decode_stats(spark, df, ctx)
        n = int(stats["sr_bad"] or 0) + int(stats["dur_bad"] or 0)
        v = None
        if n:
            res = _get_shared_decode(spark, df, ctx)
            v_sr = _violations_from(res, rule_id, _cond_sr_bad(), "sr_hz",
                                    F.concat(F.lit("sr_hz="), F.coalesce(F.col("sr_col").cast("string"), F.lit("null")),
                                             F.lit(" but container rate="), F.col("sr_decoded")))
            v_dur = _violations_from(res, rule_id, _cond_dur_bad(), "dur_ms",
                                     F.concat(F.lit("dur_ms="), F.coalesce(F.col("dur_col").cast("string"), F.lit("null")),
                                              F.lit(" but decoded duration="), _dur_decoded().cast("long")))
            v = v_sr.unionByName(v_dur)
        return RuleOutcome(rule_id, n == 0, violations=v,
                           metrics={"metadata_mismatch_count": float(n)})

    return Rule(rule_id, "cross-field consistency: sr_hz/dur_ms vs decoded payload "
                         "(csv_linter.py:267-310 analog)", RuleScope.PAYLOAD, runner=runner)


def make_reference_fidelity_rule(rule_id: str = "payload-ref") -> Rule:
    """North-rule per-row invariant: decoded PCM ≈ reference (SNR ≥ 30 dB)
    AND exact transcript equality (BASELINE.json:15)."""

    def runner(spark: SparkSession, df: DataFrame, ctx: dict) -> RuleOutcome:
        if ctx.get("reference_clips") is None:
            return RuleOutcome(rule_id, is_valid=None, metrics={})
        stats = _get_decode_stats(spark, df, ctx)
        n = int(stats["snr_bad"] or 0) + int(stats["t_bad"] or 0)
        v = None
        if n:
            res = _get_shared_decode(spark, df, ctx)
            v_snr = _violations_from(res, rule_id, _cond_snr_bad(), "bytes",
                                     F.concat(F.lit("PCM SNR below threshold: "),
                                              F.round(F.col("snr_db"), 2), F.lit(" dB < 30 dB")))
            v_t = _violations_from(res, rule_id, _cond_transcript_bad(), "transcript",
                                   F.lit("transcript differs from reference"))
            v = v_snr.unionByName(v_t)
        return RuleOutcome(
            rule_id, n == 0, violations=v,
            metrics={
                "fidelity_violation_count": float(n),
                "min_snr_db": float(stats["min_snr"]) if stats["min_snr"] is not None else 999.0,
                "rows_with_reference": float(stats["n_ref"] or 0),
            },
        )

    return Rule(rule_id, "decoded-PCM allclose (SNR≥30dB) + transcript equality vs "
                         "reference table (BASELINE.json:15)", RuleScope.PAYLOAD, runner=runner)
