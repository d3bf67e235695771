"""Deterministic synthesis of the audio clip + transcript table.

Shape fixed by the north rule's input_hint (BASELINE.json:15):
``(clip_id string, bytes binary, sr_hz int, dur_ms int, codec string,
transcript string)``. All generation is seeded per-clip
(``default_rng((seed, i))``), so any subset of clip ids regenerates
bit-identically on any executor — no external data, no driver-side
materialization (FIXTURES.md §1).

Synthesis is distributed: ``synthesize_clips`` runs ``mapInPandas`` over
``spark.range(n)``, so the 100k-row bench table is produced by all cores and
the same code path would produce the 10^12-row table on a cluster.

Violation seeding mirrors the reference's per-rule crafted sample files
(tests/samples/check_N_M.csv; FIXTURES.md §3): a ``corrupt`` map
``{row_index: rule_tag}`` injects exactly-known defects, and tests assert the
exact violating (clip_id, column) sets — the reference's golden-cell-set
pattern (tests/test_csv_linter.py:36-40).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from open_data_linter_spark.audio.codecs import (
    decode_clip,
    encode_clip,
)

SR_CHOICES = np.array([8000, 16000, 22050, 44100])
SR_PROBS = np.array([0.3, 0.4, 0.2, 0.1])
CODEC_CHOICES = np.array(["pcm_s16le", "ulaw", "alaw"])
CODEC_PROBS = np.array([0.8, 0.15, 0.05])  # skewed: exercises salting/AQE

SENTINEL_TRANSCRIPTS = ("[inaudible]", "[music]")

_VOCAB = (
    "hello world speech audio clip sample test data sound voice "
    "signal noise record system check valid engine spark scale "
    "こんにちは 音声 データ 検証 平成 令和 東京都 数値"
).split()


def clip_id_for(i: int) -> str:
    return f"clip_{i:08d}"


def _gen_perfect_row(
    i: int, seed: int, dur_range: tuple[int, int], sr_probs=None
) -> dict:
    rng = np.random.default_rng((seed, i))
    sr = int(rng.choice(SR_CHOICES, p=np.asarray(sr_probs) if sr_probs is not None else SR_PROBS))
    lo, hi = dur_range
    # log-uniform duration draw (FIXTURES.md: log-normal-ish discrete)
    dur_ms = int(np.exp(rng.uniform(np.log(lo), np.log(hi))))
    n = max(1, int(round(sr * dur_ms / 1000.0)))
    dur_ms = int(round(n / sr * 1000.0))  # exact consistency for rule 1-11 analog
    codec = str(rng.choice(CODEC_CHOICES, p=CODEC_PROBS))
    f0 = rng.uniform(100.0, min(2000.0, sr / 4.0))
    t = np.arange(n, dtype=np.float64) / sr
    x = 0.5 * np.sin(2 * np.pi * f0 * t) + 0.01 * rng.standard_normal(n)
    pcm = np.clip(x * 32767.0, -32768, 32767).astype(np.int16)
    n_words = int(rng.integers(3, 13))
    transcript = " ".join(rng.choice(_VOCAB, size=n_words))
    return {
        "clip_id": clip_id_for(i),
        "pcm": pcm,
        "sr_hz": sr,
        "dur_ms": dur_ms,
        "codec": codec,
        "transcript": transcript,
    }


def _corrupt_row(row: dict, tag: str, i: int) -> dict:
    """Apply one seeded defect; which variant is a deterministic f(i)."""
    v = i % 4
    if tag == "1-1":  # unreadable/mismatched payload (csv_linter.py:50-79 analog)
        if v % 3 == 0:
            row["codec"] = "mp3"  # not in the allowed codec set
        elif v % 3 == 1:
            row["_bad_magic"] = True  # container magic disagrees with codec col
        else:
            row["_truncate"] = True  # truncated header
    elif tag == "1-2":  # multi-datum transcript (regex.py:9-10 analogs)
        row["transcript"] = (
            "373(平成27年度)、434(平成28年度)" if v % 2 == 0 else "50468 45332"
        )
    elif tag == "1-3":  # out-of-domain numerics
        if v % 2 == 0:
            row["sr_hz"] = 0
        else:
            row["dur_ms"] = -5
    elif tag == "1-5":  # whitespace formatting
        if v == 0:
            row["transcript"] = " " + row["transcript"]
        elif v == 1:
            row["transcript"] = row["transcript"].replace(" ", "  ", 1)
        elif v == 2:
            row["transcript"] = row["transcript"].replace(" ", "\n", 1)
        else:
            row["clip_id"] = row["clip_id"][:5] + " " + row["clip_id"][5:]
    elif tag == "1-6":  # nulls in required fields
        if v % 2 == 0:
            row["transcript"] = None
        else:
            row["sr_hz"] = None
    elif tag == "1-7":  # formula-like content (excel_linter.py:70-83 analog)
        row["transcript"] = "=SUM(A1:A3)"
    elif tag == "1-10":  # encoding sanity (control chars / U+FFFD)
        row["transcript"] = (
            row["transcript"] + "\x07" if v % 2 == 0 else row["transcript"] + "�"
        )
    elif tag == "1-11":  # cross-field inconsistency vs decoded payload
        if v % 2 == 0:
            row["dur_ms"] = row["dur_ms"] + 500
        else:
            row["sr_hz"] = int(row["sr_hz"] * 2)  # container rate disagrees
    elif tag == "1-12":  # RI: clip_id excluded from manifest by the caller
        pass
    elif tag == "1-13":  # blank transcript outside sentinel whitelist
        row["transcript"] = "" if v % 2 == 0 else "   "
    elif tag == "2-x":  # fully-null row
        for k in ("sr_hz", "dur_ms", "codec", "transcript"):
            row[k] = None
        row["_null_bytes"] = True
        row["clip_id"] = None
    elif tag == "uniq":  # duplicate key (different content, same id)
        row["clip_id"] = clip_id_for(max(0, i - 1))
    elif tag == "payload_snr":  # noisy re-encode, SNR < 30 dB
        pcm = row["pcm"].astype(np.float64)
        rng = np.random.default_rng((999, i))
        noisy = pcm + rng.standard_normal(pcm.shape) * np.sqrt(
            np.mean(pcm**2) / 10.0  # SNR ≈ 10 dB
        )
        row["pcm"] = np.clip(noisy, -32768, 32767).astype(np.int16)
        row["_ref_pcm_clean"] = True
    elif tag == "payload_transcript":  # transcript drifted vs reference
        row["transcript"] = row["transcript"] + " extra"
        row["_ref_transcript_clean"] = True
    else:
        raise ValueError(f"unknown corruption tag: {tag}")
    return row


def _finalize_clip(row: dict) -> dict:
    """Encode PCM to container bytes, applying byte-level corruptions."""
    if row.pop("_null_bytes", False):
        data = None
    else:
        enc_codec = row["codec"] if row["codec"] in set(CODEC_CHOICES) else "pcm_s16le"
        sr_for_container = row["_container_sr"] if "_container_sr" in row else row["sr_hz"]
        data = encode_clip(row["pcm"], int(sr_for_container or 16000), enc_codec)
        if row.pop("_bad_magic", False):
            data = b"XXXX" + data[4:]
        if row.pop("_truncate", False):
            data = data[:3]
    row.pop("_container_sr", None)
    row["bytes"] = data
    return row


def gen_clips_pdf(
    indices: np.ndarray,
    seed: int = 42,
    dur_range: tuple[int, int] = (200, 1500),
    corrupt: dict[int, str] | None = None,
    sr_probs=None,
) -> pd.DataFrame:
    """Generate the clips table slice for ``indices`` as a pandas frame."""
    corrupt = corrupt or {}
    rows = []
    for i in map(int, indices):
        row = _gen_perfect_row(i, seed, dur_range, sr_probs)
        tag = corrupt.get(i)
        if tag == "1-11" and i % 4 % 2 == 1:
            # container keeps the true rate; the column lies
            row["_container_sr"] = row["sr_hz"]
        if tag is not None:
            row = _corrupt_row(row, tag, i)
        row = _finalize_clip(row)
        rows.append(
            {
                "clip_id": row["clip_id"],
                "bytes": row["bytes"],
                "sr_hz": row["sr_hz"],
                "dur_ms": row["dur_ms"],
                "codec": row["codec"],
                "transcript": row["transcript"],
            }
        )
    pdf = pd.DataFrame(
        rows, columns=["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"]
    )
    pdf["sr_hz"] = pdf["sr_hz"].astype("Int32")
    pdf["dur_ms"] = pdf["dur_ms"].astype("Int32")
    return pdf


def gen_reference_pdf(
    indices: np.ndarray,
    seed: int = 42,
    dur_range: tuple[int, int] = (200, 1500),
    corrupt: dict[int, str] | None = None,
) -> pd.DataFrame:
    """Per-row oracle table: decoded PCM (int16 LE samples) + clean transcript.

    Reference PCM is the *decode of the clean encode* — computed through the
    same codec path, so perfect rows compare exactly (SNR=inf) and μ-law
    quantization never counts as noise (SURVEY.md §7 risk (i)). Stored as
    int16 (the decode's native width): float32 would double the payload the
    reference join has to move for zero added fidelity.
    """
    corrupt = corrupt or {}
    rows = []
    for i in map(int, indices):
        row = _gen_perfect_row(i, seed, dur_range)
        codec = row["codec"] if row["codec"] in set(CODEC_CHOICES) else "pcm_s16le"
        data = encode_clip(row["pcm"], row["sr_hz"], codec)
        _, sr, pcm = decode_clip(data)
        rows.append(
            {
                "clip_id": clip_id_for(i),
                "pcm_ref": pcm.tobytes(),
                "transcript_ref": row["transcript"],
                "sr_hz_ref": sr,
            }
        )
    pdf = pd.DataFrame(rows, columns=["clip_id", "pcm_ref", "transcript_ref", "sr_hz_ref"])
    pdf["sr_hz_ref"] = pdf["sr_hz_ref"].astype("Int32")
    return pdf


# ----------------------------------------------------------- Spark-side


def synthesize_clips(
    spark,
    n: int,
    num_partitions: int = 32,
    seed: int = 42,
    dur_range: tuple[int, int] = (200, 1500),
    corrupt: dict[int, str] | None = None,
    sr_probs=None,
):
    """Distributed synthesis: every executor generates its own id range."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("clip_id", T.StringType()),
            T.StructField("bytes", T.BinaryType()),
            T.StructField("sr_hz", T.IntegerType()),
            T.StructField("dur_ms", T.IntegerType()),
            T.StructField("codec", T.StringType()),
            T.StructField("transcript", T.StringType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield gen_clips_pdf(b["id"].to_numpy(), seed, dur_range, corrupt, sr_probs)

    return (
        spark.range(0, n, numPartitions=num_partitions)
        .mapInPandas(gen, schema=schema)
    )


def synthesize_reference(
    spark,
    n: int,
    num_partitions: int = 32,
    seed: int = 42,
    dur_range: tuple[int, int] = (200, 1500),
    corrupt: dict[int, str] | None = None,
):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("clip_id", T.StringType()),
            T.StructField("pcm_ref", T.BinaryType()),
            T.StructField("transcript_ref", T.StringType()),
            T.StructField("sr_hz_ref", T.IntegerType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield gen_reference_pdf(b["id"].to_numpy(), seed, dur_range, corrupt)

    return (
        spark.range(0, n, numPartitions=num_partitions)
        .mapInPandas(gen, schema=schema)
    )


def codec_registry_pdf() -> pd.DataFrame:
    """RI dim table (FIXTURES.md §2): codec -> container magic + width."""
    from open_data_linter_spark.audio.codecs import CODEC_MAGIC

    return pd.DataFrame(
        [
            {"codec": c, "container_magic": m, "sample_width": 2 if c == "pcm_s16le" else 1}
            for c, m in CODEC_MAGIC.items()
        ]
    )
