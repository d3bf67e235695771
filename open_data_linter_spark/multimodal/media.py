"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images / video are opaque ``binary`` columns with a metadata struct; the
Spark-side plumbing (schema, partitioning, Arrow batch shape, UDF
signatures) is real and tested, while pixel-level decode is STUBBED — the
container has no image/video libraries (PIL/opencv), so ``decode_image``
raises NotImplementedError and ``media_features`` extracts byte-level
features (magic sniff, size, entropy) that are real.

Audio is NOT stubbed: ``audio_features`` decodes through the engine's codec
layer (wave + numpy G.711 tables) and emits duration/energy/zero-crossing features.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("media_type", T.StringType()),  # image|audio|video
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
    ]
)

_MAGICS = {
    b"\x89PNG": "image/png",
    b"\xff\xd8\xff": "image/jpeg",
    b"RIFF": "audio/wav",
    b"ODLU": "audio/g711u",
    b"ODLA": "audio/g711a",
    b"\x00\x00\x00": "video/mp4-ish",
}


def decode_image(data: bytes):
    """STUB: no image libraries in this environment. The call site (Arrow
    batch UDF in media_features) is the real deliverable; swap in
    PIL.Image.open(BytesIO(data)) when available."""
    raise NotImplementedError("image decode requires PIL/opencv (not in container)")


def _sniff(data: bytes | None) -> str | None:
    if not data:
        return None
    for magic, mt in _MAGICS.items():
        if bytes(data[: len(magic)]) == magic:
            return mt
    return None


def _entropy(arr: np.ndarray) -> float:
    if arr.size == 0:
        return 0.0
    counts = np.bincount(arr, minlength=256)
    p = counts[counts > 0] / arr.size
    return float(-(p * np.log2(p)).sum())


FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("sniffed_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("byte_entropy", T.DoubleType()),
        T.StructField("decode_ok", T.BooleanType()),
        T.StructField("decode_err", T.StringType()),
    ]
)


def media_features(df: DataFrame, id_col: str = "media_id", payload_col: str = "payload") -> DataFrame:
    """Byte-level features via one Arrow pass; decode errors are data, not
    exceptions (the engine's 1-1 pattern)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for mid, data in zip(b[id_col], b[payload_col]):
                sniffed = _sniff(data)
                ok, err = True, None
                if sniffed and sniffed.startswith("image/"):
                    try:
                        decode_image(bytes(data))
                    except NotImplementedError as e:
                        ok, err = False, str(e)
                arr = (
                    np.frombuffer(bytes(data), dtype=np.uint8)
                    if data is not None
                    else np.array([], dtype=np.uint8)
                )
                rows.append(
                    {
                        "media_id": mid,
                        "sniffed_type": sniffed,
                        "n_bytes": len(data) if data is not None else 0,
                        "byte_entropy": _entropy(arr),
                        "decode_ok": ok,
                        "decode_err": err,
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in FEATURES_SCHEMA.fields])

    return df.select(id_col, payload_col).mapInPandas(gen, schema=FEATURES_SCHEMA)


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("rms_energy", T.DoubleType()),
        T.StructField("zero_crossing_rate", T.DoubleType()),
        T.StructField("peak", T.DoubleType()),
        # quality-gate features (round 4): digital clipping and silence
        T.StructField("clipping_rate", T.DoubleType()),
        T.StructField("silence_fraction", T.DoubleType()),
    ]
)

# int16 full-scale minus 1 LSB: samples at/over this are treated as clipped
_CLIP_LEVEL = 32766 / 32768.0
# -40 dBFS: samples under this amplitude count as silence
_SILENCE_LEVEL = 10.0 ** (-40.0 / 20.0)


def audio_features(df: DataFrame, id_col: str = "clip_id", payload_col: str = "bytes") -> DataFrame:
    """Real (non-stub) audio feature extraction through the codec layer."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from open_data_linter_spark.audio.codecs import decode_clip, pcm_to_float32

        for b in batches:
            rows = []
            for cid, data in zip(b[id_col], b[payload_col]):
                try:
                    _, sr, pcm = decode_clip(bytes(data))
                    x = pcm_to_float32(pcm)
                    zc = float(np.mean(np.abs(np.diff(np.signbit(x))))) if len(x) > 1 else 0.0
                    ax = np.abs(x)
                    rows.append(
                        {
                            "clip_id": cid,
                            "duration_s": len(x) / sr,
                            "rms_energy": float(np.sqrt(np.mean(x**2))) if len(x) else 0.0,
                            "zero_crossing_rate": zc,
                            "peak": float(np.max(ax)) if len(x) else 0.0,
                            "clipping_rate": float(np.mean(ax >= _CLIP_LEVEL)) if len(x) else 0.0,
                            "silence_fraction": float(np.mean(ax < _SILENCE_LEVEL)) if len(x) else 1.0,
                        }
                    )
                except (ValueError, TypeError):
                    rows.append(
                        {"clip_id": cid, "duration_s": math.nan, "rms_energy": math.nan,
                         "zero_crossing_rate": math.nan, "peak": math.nan,
                         "clipping_rate": math.nan, "silence_fraction": math.nan}
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in AUDIO_FEATURES_SCHEMA.fields])

    return df.select(id_col, payload_col).mapInPandas(gen, schema=AUDIO_FEATURES_SCHEMA)


AUDIO_EMBED_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


def audio_embeddings(
    df: DataFrame, id_col: str = "clip_id", payload_col: str = "bytes"
) -> DataFrame:
    """Payload-derived audio embedding: (clip_id, embedding array<float>).

    One Arrow decode+FFT pass per clip: the shared 48-log-band spectral
    front end (audio/bands.py ``band_energies`` — the same energies the
    fingerprint operator argmaxes) mean-pooled over analysis frames and
    L2-normalized. The result is a time-weighted spectral profile that
    feeds the generic ANN stack (similarity/knn.py brute/LSH/IVF) and the
    embedding dedup family, bridging the payload axis to the similarity
    axis — content-based audio retrieval without an external model.

    Invariances that make cosine meaningful: a uniform gain change scales
    every band energy equally, so the L2-normalized profile is EXACTLY
    gain-invariant; codec re-encode and low-level noise perturb it only
    marginally; truncation re-weights but preserves the dominant bands.
    On the planted tone fixture every variant's top-2 cosine neighbors
    are its own group with worst in/out margin 0.15.

    Undecodable payloads and clips shorter than one analysis frame yield a
    NULL embedding — the ANN operators drop NULL vectors up front (the 1-1
    channel owns reporting them), matching lsh/ivf conventions."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from open_data_linter_spark.audio.bands import band_energies
        from open_data_linter_spark.audio.codecs import decode_clip, pcm_to_float32

        for b in batches:
            rows = []
            for cid, data in zip(b[id_col], b[payload_col]):
                emb = None
                try:
                    _, sr, pcm = decode_clip(bytes(data))
                    e = band_energies(pcm_to_float32(pcm), sr)
                    if e.shape[0] > 0:
                        v = e.mean(axis=0)
                        n = float(np.linalg.norm(v))
                        if n > 0.0:
                            emb = (v / n).astype(np.float32).tolist()
                except (ValueError, TypeError):
                    emb = None
                rows.append({"clip_id": cid, "embedding": emb})
            yield pd.DataFrame(rows, columns=["clip_id", "embedding"])

    return df.select(id_col, payload_col).mapInPandas(gen, schema=AUDIO_EMBED_SCHEMA)


def frame_sample(df: DataFrame, every_n_bytes: int = 4096, payload_col: str = "payload",
                 id_col: str = "media_id") -> DataFrame:
    """'Frame sampling' plumbing for video payloads: emit one row per sampled
    offset with a fixed-size byte window. Real frame extraction would slot
    into the same (explode offsets → slice) shape with a decoder; here the
    deterministic byte-window stands in (decode stubbed, plumbing real)."""
    n = F.length(payload_col)
    offsets = F.sequence(F.lit(0), F.greatest((n - 1) / every_n_bytes, F.lit(0)))
    return (
        df.select(id_col, payload_col, F.explode(offsets).alias("frame_idx"))
        .select(
            id_col,
            "frame_idx",
            F.expr(f"substring({payload_col}, frame_idx * {every_n_bytes} + 1, 64)").alias(
                "frame_window"
            ),
        )
    )


# default PSI bin edges per decoded feature: fixed and explicit so drift
# scores stay comparable across monitoring runs (see functions/drift_psi);
# spans chosen from the synthesis fixtures' observed float32 ranges
AUDIO_DRIFT_EDGES: dict[str, list[float]] = {
    "rms_energy": [0.02, 0.05, 0.08, 0.12, 0.18, 0.25, 0.35],
    "zero_crossing_rate": [0.02, 0.05, 0.1, 0.2, 0.35, 0.5],
    "peak": [0.1, 0.25, 0.4, 0.6, 0.8, 0.95],
    "clipping_rate": [1e-6, 0.001, 0.01, 0.05, 0.2],
    "silence_fraction": [0.01, 0.05, 0.15, 0.3, 0.6, 0.9],
}


def audio_feature_drift(
    batch: DataFrame,
    baseline: DataFrame,
    features: tuple[str, ...] = (
        "rms_energy", "zero_crossing_rate", "peak",
        "clipping_rate", "silence_fraction",
    ),
    edges: dict[str, list[float]] | None = None,
    alpha: float = 0.5,
    id_col: str = "clip_id",
    payload_col: str = "bytes",
) -> DataFrame:
    """(feature, n_batch, psi) — PAYLOAD-level distribution drift.

    The metadata drift rules (rules/drift.py KS/chi², functions/drift_psi
    PSI) see only declared columns; a gain change, silence creep, or
    clipping onset leaves ``sr_hz``/``dur_ms`` untouched. This decodes
    BOTH sides once (one Arrow pass each, the audio_features extractor),
    then scores each decoded feature's batch distribution against the
    baseline histogram with the same explicit-edge Laplace-smoothed PSI
    as ``psi_by_group`` — identical distributions score exactly 0.0.

    Decode failures (NaN feature rows) are excluded per side — they are
    the 1-1 error channel's business, not drift mass; note NaN, unlike
    NULL, would otherwise fall through the bin CASE into the top bin.
    Scale shape: the decode passes dominate; the decoded feature frame
    is persisted once and each feature's PSI adds one narrow count
    shuffle over (side, bin) rows. A side that ALREADY carries all the
    requested feature columns is used as-is (no decode) — freeze the
    baseline corpus's feature frame to parquet once and pass it back on
    every monitoring run, so only the batch is ever decoded.
    """
    from open_data_linter_spark.functions.drift_psi import psi_by_group

    edges = dict(AUDIO_DRIFT_EDGES, **(edges or {}))
    missing = [f for f in features if f not in edges]
    if missing:
        raise ValueError(f"no bin edges for features: {missing}")
    def feats(side: DataFrame) -> DataFrame:
        if all(f in side.columns for f in features):
            return side  # pre-decoded feature frame (frozen baseline)
        return audio_features(side, id_col, payload_col)

    feats_b, feats_q = feats(batch), feats(baseline)
    from open_data_linter_spark.dedup._cache import persist_scoped

    # scoped persist (not bare .persist()): one generation per call site,
    # releasable session-wide via clear_scoped. Every feature's PSI in
    # THIS call reuses the frame; a SECOND call evicts it (one-generation
    # scope), so compose multi-pass drift queries by pre-decoding with
    # audio_features and passing the frozen frame to each call
    both = persist_scoped(
        "media.feature_drift",
        feats_b.withColumn("side", F.lit("batch"))
        .unionByName(feats_q.withColumn("side", F.lit("baseline")))
        .select("side", *features),
    )
    out = None
    for feat in features:
        clean = both.where(~F.isnan(F.col(feat)))
        scored = (
            psi_by_group(
                clean, feat, "side", edges[feat],
                baseline_filter=F.col("side") == "baseline", alpha=alpha,
            )
            .where(F.col("side") == "batch")
            .select(
                F.lit(feat).alias("feature"),
                F.col("n_rows").alias("n_batch"),
                "psi",
            )
        )
        out = scored if out is None else out.unionByName(scored)
    return out.orderBy("feature")


AUDIO_CHUNKS_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType()),
        T.StructField("chunk_idx", T.IntegerType()),
        T.StructField("sr_hz", T.IntegerType()),
        T.StructField("chunk_samples", T.IntegerType()),
        T.StructField("bytes", T.BinaryType()),
    ]
)


def chunk_audio(
    df: DataFrame,
    window_ms: int = 1000,
    hop_ms: int | None = None,
    min_tail_ms: int = 200,
    id_col: str = "clip_id",
    payload_col: str = "bytes",
    out_codec: str = "pcm_s16le",
) -> DataFrame:
    """Sliding fixed-length windows over each clip's PCM, re-encoded as
    standalone clips — the audio analog of context-window chunking
    (functions/chunking.py): the pre-training split of long recordings
    to a model's context length.

    Per decodable clip, window/hop/min-tail convert to sample counts at
    the clip's OWN rate (``round(sr·ms/1000)``); chunk ``k`` starts at
    ``k·hop`` and takes ``min(window, n−start)`` samples; tail chunks
    shorter than ``min_tail`` are dropped. Defaults are non-overlapping
    (``hop = window``); pass ``hop_ms < window_ms`` for overlap. Chunk
    boundaries are pure integer arithmetic on ``(sr, n_samples)`` — the
    DuckDB twin recomputes them exactly from the committed metadata —
    and the emitted ``bytes`` are sample-exact PCM slices re-encoded
    through the codec layer (round-trip-asserted in tests). Undecodable
    clips emit no rows (decode failure is the 1-1 error channel's
    business, rules/payload.py).

    Scale shape: one Arrow decode pass, no shuffle at all — chunking is
    a per-row flatMap (each input row yields its own chunk rows inside
    the same task); downstream repartition is the caller's choice.
    """
    if window_ms < 1 or (hop_ms is not None and hop_ms < 1):
        raise ValueError("window_ms and hop_ms must be >= 1")
    if min_tail_ms > window_ms:
        raise ValueError("min_tail_ms must be <= window_ms")
    hop_ms = window_ms if hop_ms is None else hop_ms

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from open_data_linter_spark.audio.codecs import decode_clip, encode_clip

        for b in batches:
            rows = []
            for cid, data in zip(b[id_col], b[payload_col]):
                try:
                    _, sr, pcm = decode_clip(bytes(data))
                except (ValueError, TypeError):
                    continue
                n = len(pcm)
                window = max(1, int(round(sr * window_ms / 1000.0)))
                hop = max(1, int(round(sr * hop_ms / 1000.0)))
                min_tail = int(round(sr * min_tail_ms / 1000.0))
                k = 0
                while k * hop < n:
                    start = k * hop
                    take = min(window, n - start)
                    if take >= min_tail:
                        rows.append(
                            {
                                "clip_id": cid,
                                "chunk_idx": k,
                                "sr_hz": sr,
                                "chunk_samples": take,
                                "bytes": encode_clip(
                                    pcm[start:start + take], sr, out_codec
                                ),
                            }
                        )
                    k += 1
            yield pd.DataFrame(
                rows, columns=[f.name for f in AUDIO_CHUNKS_SCHEMA.fields]
            )

    return df.select(id_col, payload_col).mapInPandas(
        gen, schema=AUDIO_CHUNKS_SCHEMA
    )


AUDIO_SEGMENTS_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType()),
        T.StructField("seg_idx", T.IntegerType()),
        T.StructField("sr_hz", T.IntegerType()),
        T.StructField("start_sample", T.IntegerType()),
        T.StructField("seg_samples", T.IntegerType()),
        T.StructField("bytes", T.BinaryType()),
    ]
)


def segment_pcm(
    x: np.ndarray, sr: int, level: float, min_gap: int, min_seg: int
) -> list[tuple[int, int]]:
    """Silence-gap segmentation of one float clip: (start, length) spans.

    A sample is LOUD when ``|x| >= level``. Two loud samples belong to
    the same segment while the silent run between them is shorter than
    ``min_gap`` samples; each segment spans [first_loud, last_loud] of
    its group (leading/trailing silence of ANY length is trimmed — only
    in-between gaps need to clear ``min_gap``). Segments shorter than
    ``min_seg`` samples are dropped. Pure integer geometry on the loud
    index set, so a planted fixture replays it independently.
    """
    loud = np.nonzero(np.abs(x) >= level)[0]
    if len(loud) == 0:
        return []
    # split where the silent run between successive loud samples >= min_gap
    breaks = np.nonzero(np.diff(loud) - 1 >= min_gap)[0]
    starts = np.concatenate(([0], breaks + 1))
    ends = np.concatenate((breaks, [len(loud) - 1]))
    spans = []
    for s, e in zip(starts, ends):
        a, b = int(loud[s]), int(loud[e])
        if b - a + 1 >= min_seg:
            spans.append((a, b - a + 1))
    return spans


def segment_on_silence(
    df: DataFrame,
    threshold_db: float = -40.0,
    min_gap_ms: int = 150,
    min_segment_ms: int = 100,
    id_col: str = "clip_id",
    payload_col: str = "bytes",
    out_codec: str = "pcm_s16le",
) -> DataFrame:
    """VAD-style utterance splitting: one row per speech segment, silence
    gaps >= ``min_gap_ms`` removed — the audio analog of paragraph
    splitting before chunking (a long recording of separated utterances
    becomes independent training clips, and chunk windows never straddle
    dead air). Gap/length thresholds convert to samples at each clip's
    OWN rate; emitted ``bytes`` are sample-exact PCM slices re-encoded
    through the codec layer. Undecodable clips emit no rows (decode
    failure is the 1-1 error channel's business, rules/payload.py).

    Scale shape: one Arrow decode pass, zero shuffle — per-row flatMap
    exactly like chunk_audio; compose ``segment_on_silence -> chunk_audio``
    for the full long-recording split.
    """
    if min_gap_ms < 1 or min_segment_ms < 1:
        raise ValueError("min_gap_ms and min_segment_ms must be >= 1")
    level = 10.0 ** (threshold_db / 20.0)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from open_data_linter_spark.audio.codecs import (
            decode_clip,
            encode_clip,
            pcm_to_float32,
        )

        for b in batches:
            rows = []
            for cid, data in zip(b[id_col], b[payload_col]):
                try:
                    _, sr, pcm = decode_clip(bytes(data))
                except (ValueError, TypeError):
                    continue
                min_gap = max(1, int(round(sr * min_gap_ms / 1000.0)))
                min_seg = max(1, int(round(sr * min_segment_ms / 1000.0)))
                x = pcm_to_float32(pcm)
                for k, (start, take) in enumerate(
                    segment_pcm(x, sr, level, min_gap, min_seg)
                ):
                    rows.append(
                        {
                            "clip_id": cid,
                            "seg_idx": k,
                            "sr_hz": sr,
                            "start_sample": start,
                            "seg_samples": take,
                            "bytes": encode_clip(
                                pcm[start:start + take], sr, out_codec
                            ),
                        }
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in AUDIO_SEGMENTS_SCHEMA.fields]
            )

    return df.select(id_col, payload_col).mapInPandas(
        gen, schema=AUDIO_SEGMENTS_SCHEMA
    )


def resample_pcm(pcm: np.ndarray, sr: int, target_sr: int) -> np.ndarray:
    """Linear-interpolation sample-rate conversion of an int16 PCM array.

    Output length is the pure-integer formula
    ``max(1, (n*target + sr//2) // sr)`` — half-up rounding written so a
    DuckDB twin replays it exactly from ``(n_samples, sr_hz)`` alone (no
    float round-trip, no banker's-rounding divergence). Output sample
    ``j`` interpolates the source at position ``j*sr/target`` (float64),
    clamped to the last sample when upsampling runs past the end.
    """
    n = len(pcm)
    if n == 0 or sr == target_sr:
        return pcm
    n_out = max(1, (n * target_sr + sr // 2) // sr)
    pos = np.arange(n_out, dtype=np.float64) * (sr / target_sr)
    y = np.interp(pos, np.arange(n, dtype=np.float64), pcm.astype(np.float64))
    return np.clip(np.round(y), -32768, 32767).astype(np.int16)


def _transform_pcm(
    pcm: np.ndarray,
    sr: int,
    trim_level: float | None,
    target_sr: int | None,
    target_rms: float | None,
) -> tuple[np.ndarray, int]:
    """One clip's trim → resample → normalize on decoded int16 PCM — the
    shared kernel of ``transform_audio`` and the fused ``prep_audio``
    (sample-exactness between the chained and fused pipelines is by
    construction: both run THIS function)."""
    from open_data_linter_spark.audio.codecs import pcm_to_float32

    x = pcm_to_float32(pcm)
    if trim_level is not None and len(x):
        loud = np.nonzero(np.abs(x) >= trim_level)[0]
        if len(loud):
            pcm = pcm[loud[0]:loud[-1] + 1]
        else:  # all-silent: keep the single loudest sample
            k = int(np.argmax(np.abs(x)))
            pcm = pcm[k:k + 1]
        x = pcm_to_float32(pcm)
    if target_sr is not None and sr != target_sr:
        pcm = resample_pcm(pcm, sr, target_sr)
        sr = target_sr
        x = pcm_to_float32(pcm)
    if target_rms is not None and len(x):
        rms = float(np.sqrt(np.mean(x ** 2)))
        peak = float(np.max(np.abs(x)))
        if rms > 0.0:
            gain = target_rms / rms
            if peak * gain > 1.0:  # peak-safe cap
                gain = 1.0 / peak
            pcm = np.clip(
                np.round(pcm.astype(np.float64) * gain),
                -32768, 32767,
            ).astype(np.int16)
    return pcm, sr


def transform_audio(
    df: DataFrame,
    trim_silence_db: float | None = None,
    target_sr: int | None = None,
    target_rms: float | None = None,
    id_col: str = "clip_id",
    payload_col: str = "bytes",
    out_codec: str = "pcm_s16le",
) -> DataFrame:
    """Training-prep audio transforms in ONE decode pass: leading/
    trailing silence trim, sample-rate conversion, and/or peak-safe
    loudness normalization (applied in that order), re-encoded through
    the codec layer. Returns the CANONICAL table shape (clip_id, bytes,
    sr_hz, dur_ms, codec, transcript) with bytes/sr_hz/dur_ms/codec
    reflecting the transformed clip, so the output feeds straight into
    chunk_audio / the validation run / the fingerprint index.

    - ``trim_silence_db``: drop leading and trailing samples under this
      dBFS amplitude (e.g. -40.0). Interior silence is untouched; a clip
      that is ALL silence trims to its single loudest sample rather than
      to zero length (empty clips cannot round-trip the codec layer).
    - ``target_sr``: linear-interpolation resample to this rate — the
      rate unification every training pipeline runs before featurizing
      (and before the fingerprint index, whose melody grid is
      rate-relative). Output length is the exact integer formula in
      ``resample_pcm`` (SQL-replayable). Trim runs BEFORE resample so
      boundaries are found at native resolution; normalize runs after
      so the RMS target holds in the emitted bytes.
    - ``target_rms``: scale to this RMS in float space (0..1), gain
      capped so the peak never exceeds full scale (no clipping is ever
      introduced); silent clips (rms 0) pass through unscaled.
    - rows whose payload does not decode pass through UNCHANGED —
      transforms must not eat the evidence the 1-1 rule reports.

    Scale shape: per-row flatMap inside one Arrow pass, zero shuffle —
    the same plan shape as chunk_audio. Deterministic: pure f(payload).
    """
    if trim_silence_db is None and target_rms is None and target_sr is None:
        raise ValueError("specify trim_silence_db, target_sr and/or target_rms")
    if target_rms is not None and not (0.0 < target_rms <= 1.0):
        raise ValueError("target_rms must be in (0, 1]")
    if target_sr is not None and target_sr < 1:
        raise ValueError("target_sr must be >= 1")
    cols = df.columns
    out_schema = df.schema
    trim_level = (
        None if trim_silence_db is None else 10.0 ** (trim_silence_db / 20.0)
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from open_data_linter_spark.audio.codecs import (
            decode_clip,
            encode_clip,
        )

        for b in batches:
            out = b.copy()
            new_bytes, new_sr, new_dur, new_codec = [], [], [], []
            for i in range(len(b)):
                data = b[payload_col].iloc[i]
                try:
                    _, sr, pcm = decode_clip(bytes(data))
                except (ValueError, TypeError):
                    new_bytes.append(bytes(data) if data is not None else None)
                    new_sr.append(b["sr_hz"].iloc[i] if "sr_hz" in b else None)
                    new_dur.append(b["dur_ms"].iloc[i] if "dur_ms" in b else None)
                    new_codec.append(b["codec"].iloc[i] if "codec" in b else None)
                    continue
                pcm, sr = _transform_pcm(
                    pcm, sr, trim_level, target_sr, target_rms
                )
                new_bytes.append(encode_clip(pcm, sr, out_codec))
                new_sr.append(sr)
                new_dur.append(int(round(len(pcm) / sr * 1000.0)))
                new_codec.append(out_codec)
            out[payload_col] = new_bytes
            if "sr_hz" in out:
                out["sr_hz"] = pd.array(new_sr, dtype="Int32")
            if "dur_ms" in out:
                out["dur_ms"] = pd.array(new_dur, dtype="Int32")
            if "codec" in out:
                out["codec"] = new_codec
            yield out[list(cols)]

    return df.mapInPandas(gen, schema=out_schema)


def prep_audio(
    df: DataFrame,
    threshold_db: float = -40.0,
    min_gap_ms: int = 150,
    min_segment_ms: int = 100,
    trim_silence_db: float | None = None,
    target_sr: int | None = None,
    target_rms: float | None = None,
    id_col: str = "clip_id",
    payload_col: str = "bytes",
    out_codec: str = "pcm_s16le",
) -> DataFrame:
    """Fused single-decode prep pipeline: silence segmentation
    (``segment_on_silence`` semantics) then per-segment trim / resample /
    normalize (``transform_audio`` semantics), with ONE decode per source
    clip and ONE encode per emitted segment.

    The chained composition ``transform_audio(segment_on_silence(df),
    ...)`` decodes every clip twice — segment re-encodes, transform
    re-decodes — doubling the dominant cost of the prep stage at scale.
    This operator runs both stages on the PCM already in hand. It is
    sample-exact vs the chained form (both stages run the same kernels,
    ``segment_pcm`` + ``_transform_pcm``, and the intermediate pcm_s16le
    round-trip the chain inserts is lossless for int16 PCM) — pinned by
    tests/test_media_features.py::test_prep_audio_matches_chained.

    Output is ``AUDIO_SEGMENTS_SCHEMA``; like the chained form, ``sr_hz``
    reflects the emitted (post-resample) bytes while ``start_sample`` /
    ``seg_samples`` stay in SOURCE-clip sample coordinates (provenance:
    where the segment came from, before any transform). All transform
    params optional — with none given this is ``segment_on_silence`` at
    the same cost. Undecodable clips emit no rows (decode failure is the
    1-1 error channel's business).

    Scale shape: one Arrow decode pass, zero shuffle — identical plan
    shape to segment_on_silence; nothing new to skew or spill.
    """
    if min_gap_ms < 1 or min_segment_ms < 1:
        raise ValueError("min_gap_ms and min_segment_ms must be >= 1")
    if target_rms is not None and not (0.0 < target_rms <= 1.0):
        raise ValueError("target_rms must be in (0, 1]")
    if target_sr is not None and target_sr < 1:
        raise ValueError("target_sr must be >= 1")
    seg_level = 10.0 ** (threshold_db / 20.0)
    trim_level = (
        None if trim_silence_db is None else 10.0 ** (trim_silence_db / 20.0)
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from open_data_linter_spark.audio.codecs import (
            decode_clip,
            encode_clip,
            pcm_to_float32,
        )

        for b in batches:
            rows = []
            for cid, data in zip(b[id_col], b[payload_col]):
                try:
                    _, sr, pcm = decode_clip(bytes(data))
                except (ValueError, TypeError):
                    continue
                min_gap = max(1, int(round(sr * min_gap_ms / 1000.0)))
                min_seg = max(1, int(round(sr * min_segment_ms / 1000.0)))
                x = pcm_to_float32(pcm)
                for k, (start, take) in enumerate(
                    segment_pcm(x, sr, seg_level, min_gap, min_seg)
                ):
                    seg, seg_sr = _transform_pcm(
                        pcm[start:start + take], sr,
                        trim_level, target_sr, target_rms,
                    )
                    rows.append(
                        {
                            "clip_id": cid,
                            "seg_idx": k,
                            "sr_hz": seg_sr,
                            "start_sample": start,
                            "seg_samples": take,
                            "bytes": encode_clip(seg, seg_sr, out_codec),
                        }
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in AUDIO_SEGMENTS_SCHEMA.fields]
            )

    return df.select(id_col, payload_col).mapInPandas(
        gen, schema=AUDIO_SEGMENTS_SCHEMA
    )
