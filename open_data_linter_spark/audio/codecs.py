"""Audio containers/codecs for the clip table's ``bytes`` column.

The environment has no soundfile/librosa, so codecs are built on stdlib
``wave`` + numpy (SURVEY.md §7 constraint). Three codecs:

- ``pcm_s16le``: WAV/RIFF container, 16-bit PCM (magic ``RIFF``)
- ``ulaw``: G.711 μ-law payload in a minimal custom container (magic ``ODLU``)
- ``alaw``: G.711 A-law payload in a minimal custom container (magic ``ODLA``)

The custom container exists so every codec has sniffable magic bytes: the
1-1 analog rule checks magic ↔ ``codec`` column agreement, mirroring the
reference's extension/charset gate (csv_linter.py:50-79).

Container layout (little-endian): magic[4] | sample_rate u32 | n_frames u32 |
payload. Mono, 16-bit source throughout.

These functions run inside Arrow-batched pandas UDFs (one call per clip, but
over numpy arrays — the per-clip work is C-level numpy).

G.711 goes through lookup tables built once at import: 256 entries per
decoder and 65536 (one per int16 sample) per encoder. They reproduce the
CCITT reference coder that the stdlib ``audioop`` module implemented (it is
removed in Python 3.13): μ-law encodes the top 14 bits, A-law the top 13.
"""

from __future__ import annotations

import io
import struct
import wave

import numpy as np

_HDR = struct.Struct("<4sII")

CODEC_MAGIC: dict[str, bytes] = {
    "pcm_s16le": b"RIFF",
    "ulaw": b"ODLU",
    "alaw": b"ODLA",
}
CODECS = tuple(CODEC_MAGIC)
_MAGIC_TO_CODEC = {m: c for c, m in CODEC_MAGIC.items()}


def _ulaw_decode_table() -> np.ndarray:
    u = ~np.arange(256, dtype=np.int32) & 0xFF
    t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
    return np.where(u & 0x80, 0x84 - t, t - 0x84).astype(np.int16)


def _alaw_decode_table() -> np.ndarray:
    a = np.arange(256, dtype=np.int32) ^ 0x55
    seg = (a & 0x70) >> 4
    t = (a & 0x0F) << 4
    t = np.where(seg == 0, t + 8, (t + 0x108) << np.maximum(seg - 1, 0))
    return np.where(a & 0x80, t, -t).astype(np.int16)


def _segment(mag: np.ndarray, first_end: int) -> np.ndarray:
    """G.711 segment of each magnitude: the first of the eight doubling
    segment ends (first_end, 2*first_end+1, ...) at or above it, 8 when
    none is."""
    ends = (first_end + 1) * 2 ** np.arange(8) - 1
    return np.searchsorted(ends, mag)


# every int16 sample, at the index of its bits read as uint16
_SAMPLES = np.arange(65536, dtype=np.uint16).view(np.int16).astype(np.int32)


def _ulaw_encode_table() -> np.ndarray:
    x = _SAMPLES >> 2  # 14-bit sample
    mask = np.where(x < 0, 0x7F, 0xFF)
    mag = np.minimum(np.abs(x), 8159) + 33  # clip, then add the bias
    seg = _segment(mag, 0x3F)
    code = np.where(seg >= 8, 0x7F, (seg << 4) | ((mag >> (seg + 1)) & 0x0F))
    return (code ^ mask).astype(np.uint8)


def _alaw_encode_table() -> np.ndarray:
    x = _SAMPLES >> 3  # 13-bit sample
    mask = np.where(x < 0, 0x55, 0xD5)
    mag = np.where(x < 0, -x - 1, x)  # at most 4095: segment 7
    seg = _segment(mag, 0x1F)
    code = (seg << 4) | ((mag >> np.maximum(seg, 1)) & 0x0F)
    return (code ^ mask).astype(np.uint8)


_ULAW_DEC, _ALAW_DEC = _ulaw_decode_table(), _alaw_decode_table()
_ULAW_ENC, _ALAW_ENC = _ulaw_encode_table(), _alaw_encode_table()


def encode_clip(pcm: np.ndarray, sr_hz: int, codec: str) -> bytes:
    """Encode int16 mono PCM into the container for ``codec``."""
    if pcm.dtype != np.int16:
        raise ValueError("pcm must be int16")
    if codec == "pcm_s16le":
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(sr_hz)
            w.writeframes(pcm.tobytes())
        return buf.getvalue()
    if codec == "ulaw":
        return _HDR.pack(b"ODLU", sr_hz, len(pcm)) + _ULAW_ENC[pcm.view(np.uint16)].tobytes()
    if codec == "alaw":
        return _HDR.pack(b"ODLA", sr_hz, len(pcm)) + _ALAW_ENC[pcm.view(np.uint16)].tobytes()
    raise ValueError(f"unknown codec: {codec}")


def sniff_codec(data: bytes) -> str | None:
    """Codec from magic bytes; None when unrecognized (rule 1-1 analog)."""
    if data is None or len(data) < 4:
        return None
    return _MAGIC_TO_CODEC.get(bytes(data[:4]))


def decode_clip(data: bytes) -> tuple[str, int, np.ndarray]:
    """Decode container bytes -> (codec, sample_rate, int16 PCM).

    Raises ValueError on any malformed input — callers inside UDF batches
    convert the exception into a violation row, never let it escape
    (mirrors decode-failure-as-lint-error, csv_linter.py:73-86).
    """
    codec = sniff_codec(data)
    if codec is None:
        raise ValueError("unrecognized magic bytes")
    if codec == "pcm_s16le":
        try:
            with wave.open(io.BytesIO(data), "rb") as w:
                if w.getsampwidth() != 2 or w.getnchannels() != 1:
                    raise ValueError("unsupported wav layout")
                sr = w.getframerate()
                raw = w.readframes(w.getnframes())
        # EOFError: the stdlib chunk reader raises it (not wave.Error) on a
        # RIFF header truncated mid-chunk (4-11 bytes) — it must become the
        # documented ValueError or one malformed clip kills a whole job
        except (wave.Error, EOFError) as e:
            raise ValueError(f"bad wav: {e}") from e
        return codec, sr, np.frombuffer(raw, dtype=np.int16)
    if len(data) < _HDR.size:
        raise ValueError("truncated g711 header")
    magic, sr, n_frames = _HDR.unpack_from(data)
    payload = data[_HDR.size:]
    if len(payload) != n_frames:
        raise ValueError("truncated g711 payload")
    table = _ULAW_DEC if codec == "ulaw" else _ALAW_DEC
    return codec, sr, table[np.frombuffer(payload, dtype=np.uint8)]


def pcm_to_float32(pcm: np.ndarray) -> np.ndarray:
    return (pcm.astype(np.float32)) / 32768.0


def snr_db(ref: np.ndarray, test: np.ndarray) -> float:
    """SNR of ``test`` against reference signal, in dB (float32 domain).

    +inf for exact match; -inf-ish (large negative) guarded to -99.0 when
    lengths mismatch entirely. The payload rule passes at SNR >= 30 dB
    (BASELINE.json:15).
    """
    if ref.shape != test.shape:
        return -99.0
    noise = ref.astype(np.float64) - test.astype(np.float64)
    p_sig = float(np.sum(ref.astype(np.float64) ** 2))
    p_noise = float(np.sum(noise**2))
    if p_noise == 0.0:
        return float("inf")
    if p_sig == 0.0:
        return -99.0
    return 10.0 * np.log10(p_sig / p_noise)
