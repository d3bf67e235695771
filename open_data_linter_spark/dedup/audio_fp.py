"""Audio near-duplicate detection by spectral band fingerprinting.

The reference linter never looks inside payloads beyond decode validation;
this operator extends the dedup family (exact/minhash/simhash/embedding —
all text- or vector-keyed) to the AUDIO axis of the north rule: find clips
that are the same recording under codec re-encode, gain change, low-level
noise, or truncation, without pairwise PCM comparison.

Method (public literature: Haitsma & Kalker 2002 band-energy fingerprints;
Wang 2003 spectral-peak hashing):

1. **Fingerprint pass** — one ``mapInPandas`` over ``(clip_id, bytes)``:
   decode through the codec layer, frame the signal (64 ms window / 32 ms
   hop, fixed in TIME so a clip and its re-encode frame identically),
   per-frame FFT, and emit the **dominant log-band index** per frame
   (audio/bands.py grid). The dominant band is gain-invariant (argmax of
   scaled energies) and robust to quantization/noise well below signal
   level; the sequence of dominant bands is the clip's acoustic "melody".
2. **Shingle** the band sequence into q-gram hashes (JVM-side ``xxhash64``
   inside an array comprehension — no Python in this stage) and take the
   DISTINCT shingle set per clip.
3. **Candidates** — one shuffle: group by shingle, in-bucket pair expansion
   as a Catalyst array comprehension (the minhash.py:141-171 shape), with a
   hot-bucket cap: shingles shared by more than ``max_bucket_size`` clips
   are dropped before expansion. Stationary-content shingles (a held tone,
   room hum) are exactly the hot ones, so the cap trades recall on
   *generic* content for a bound on candidate count — duplicate pairs keep
   matching through their rare transition shingles.
4. **Verify** — hashed-set Jaccard (``array_intersect``/``array_union``)
   on the full shingle sets, threshold filter.

Scale: the fingerprint pass is embarrassingly parallel and dominates cost
(same shape as the validation engine's payload phase); everything after it
moves only ``array<long>`` shingle sets. Choose ``q`` so the shingle
alphabet (48^q) stays large next to the corpus — q=4 gives 5.3M values;
at 10^12 clips use q=6+ and a coarser time quantization, or the df cap
will drop every bucket. Reference behavior cited for parity: none — the
reference has no payload-similarity pass (prompt mandate, dedup family).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from open_data_linter_spark.audio.bands import band_energies
from open_data_linter_spark.dedup._cache import persist_scoped


def band_sequence(x: np.ndarray, sr: int) -> np.ndarray:
    """Dominant-band index per analysis frame (pure numpy, unit-testable).

    ``x`` is float PCM in [-1, 1]. Returns int32 band ids (0..N_BANDS-1).
    Clips shorter than one frame return an empty sequence. The spectral
    front end (framing + FFT + log-band segment sums, incl. the open-tail
    and empty-segment reduceat guards) lives in audio/bands.py so the
    embedding operator pools the SAME energies this argmax reads."""
    e = band_energies(x, sr)
    if e.shape[0] == 0:
        return np.empty(0, dtype=np.int32)
    return np.argmax(e, axis=1).astype(np.int32)


_SEQ_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("bands", T.ArrayType(T.IntegerType())),
    ]
)


def audio_band_sequences(
    df: DataFrame, id_col: str = "clip_id", payload_col: str = "bytes"
) -> DataFrame:
    """(id, bands array<int>) per clip — the Arrow-batched decode+FFT pass.

    Undecodable payloads yield an EMPTY sequence (they can't near-dup
    anything; the validation engine's 1-1 rule owns reporting them)."""
    from typing import Iterator

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from open_data_linter_spark.audio.codecs import decode_clip, pcm_to_float32

        for b in batches:
            out = []
            for cid, data in zip(b[id_col], b[payload_col]):
                try:
                    _, sr, pcm = decode_clip(bytes(data))
                    seq = band_sequence(pcm_to_float32(pcm), sr)
                except (ValueError, TypeError):
                    seq = np.empty(0, dtype=np.int32)
                out.append({"id": cid, "bands": seq.tolist()})
            yield pd.DataFrame(out, columns=["id", "bands"])

    return df.select(id_col, payload_col).mapInPandas(gen, schema=_SEQ_SCHEMA)


def audio_hashed_keys(
    df: DataFrame,
    id_col: str = "clip_id",
    payload_col: str = "bytes",
    q: int = 4,
    melody_q: int = 3,
    num_partitions: int | None = None,
) -> DataFrame:
    """(id, hs, ck) per decodable clip: the fingerprint stage of the
    self-join path below. ``hs`` = distinct q-gram shingle hashes
    of the dominant-band sequence (the VERIFY sets), ``ck`` = melody-gram
    candidate keys (see audio_near_duplicates for why candidates come
    from the run-length-collapsed melody). Output is repartitioned to
    cores-proportional partitioning (the decode pass follows payload
    BYTES; its narrow output must not — see the comment below)."""
    if q < 1 or melody_q < 2:
        raise ValueError("q must be >= 1 and melody_q >= 2")
    src = df.select(id_col, payload_col)
    if num_partitions is not None:
        src = src.repartition(num_partitions)
    seq = audio_band_sequences(src, id_col, payload_col)
    # all hashing stays JVM-side: xxhash64 over plan-bound ints (j below
    # is bound at plan-build time, never through a HOF lambda param —
    # CLAUDE.md arity pitfall). element_at is 1-based, so element_at(b, i)
    # is the PREDECESSOR of 0-based filter position i.
    b = F.col("bands")
    mel_expr = F.filter(b, lambda x, i: (i == 0) | (x != F.element_at(b, i)))
    seq = seq.select("id", "bands", mel_expr.alias("mel"))
    shingle_at = lambda i: F.xxhash64(  # noqa: E731
        *[F.element_at(b, i + j) for j in range(q)]
    )
    m = F.col("mel")
    gram_at = lambda i: F.xxhash64(  # noqa: E731
        F.lit(0), *[F.element_at(m, i + j) for j in range(melody_q)]
    )
    empty_longs = F.array().cast("array<bigint>")
    grams = F.when(
        F.size(m) >= melody_q,
        F.array_distinct(
            F.transform(F.sequence(F.lit(1), F.size(m) - melody_q + 1), gram_at)
        ),
    ).otherwise(empty_longs)
    # salt=1 distinguishes the prefix key space from the gram key space
    prefix = F.when(
        F.size(m) >= 2,
        F.array(F.xxhash64(F.lit(1), F.element_at(m, 1), F.element_at(m, 2))),
    ).otherwise(empty_longs)
    hashed = seq.where(F.size(b) >= q).select(
        "id",
        F.array_distinct(
            F.transform(F.sequence(F.lit(1), F.size(b) - q + 1), shingle_at)
        ).alias("hs"),
        F.concat(grams, prefix).alias("ck"),
    )
    # The decode pass wants partitioning proportional to payload BYTES
    # (whatever the scan/file layout gives it), but the shingle sets it
    # emits are ~50-100x smaller — if they stay at the scan's partition
    # count, the persisted table and every stage that reads it (inverted
    # index map side + both verify-join scans) inherit byte-sized task
    # counts and per-task overhead dominates (measured 44s vs 25s at 2
    # cores on a 92-partition scan). One narrow shuffle of the fingerprint
    # table down to cores-proportional partitioning decouples the two.
    sc = df.sparkSession.sparkContext
    par = max(sc.defaultParallelism, 8)
    return hashed.repartition(par)


def audio_near_duplicates(
    df: DataFrame,
    id_col: str = "clip_id",
    payload_col: str = "bytes",
    threshold: float = 0.35,
    q: int = 4,
    melody_q: int = 3,
    max_bucket_size: int | None = 200,
    num_partitions: int | None = None,
    hashed_keys: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b, jaccard) near-duplicate clip pairs, id_a < id_b.

    ``hashed_keys``: a pre-computed ``audio_hashed_keys`` frame
    (id, hs, ck) for this input — pass it when the caller already
    fingerprinted the same clips (the ingest loops probe AND self-dedup
    one batch: sharing the frame halves the decode work, which dominates
    everything). Must have been produced with the same q/melody_q; the
    caller owns its persistence.

    ``jaccard`` (the VERIFY metric) is over the distinct q-gram shingle
    sets of the per-frame dominant-band sequences, rounded to 6 decimals.

    CANDIDATE keys, however, come from the RUN-LENGTH-COLLAPSED sequence
    — the clip's melody (``[5,5,5,9,9,3] -> [5,9,3]``): sliding
    ``melody_q``-grams of band TRANSITIONS, plus one length-2 melody
    PREFIX key per clip. Per-frame shingles are too hot to index: a note
    held for 20 frames mints 17 degenerate ``AAAA`` shingles shared by
    every clip that ever holds that band, and single-transition windows
    (``AABB``) are shared corpus-wide — measured 4.0M candidate pairs for
    10.4k true pairs at 24k clips, growing ~quadratically until buckets
    hit the cap. Multi-transition melody grams are selective (the
    Wang-2003 lineage hashes peak *constellations*, not frame energies,
    for the same reason); the prefix key covers clips whose melody is
    shorter than ``melody_q`` (truncation cuts the suffix, so the prefix
    anchors a short truncated variant to its base). Clips with fewer than
    two distinct consecutive bands (one held tone) emit no candidate key
    and are never reported — matching stationary content on dominant band
    alone is the false-positive factory the hot-bucket cap exists for.

    ``num_partitions`` repartitions the (id, payload) projection before
    the decode pass — set it when the input is a single-file scan (one
    partition would serialize the decode; CLAUDE.md trap)."""
    sc = df.sparkSession.sparkContext
    par = max(sc.defaultParallelism, 8)
    if hashed_keys is not None:
        hashed = hashed_keys
    else:
        # hashed feeds the inverted index (ck) AND both verify sides (hs)
        hashed = persist_scoped(
            "audio_fp.hashed",
            audio_hashed_keys(df, id_col, payload_col, q, melody_q,
                              num_partitions),
        )
    buckets = (
        hashed.select("id", F.explode("ck").alias("sh"))
        .groupBy("sh")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    if max_bucket_size is not None:
        buckets = buckets.where(F.size("ids") <= max_bucket_size)
    pair_expr = F.flatten(
        F.transform(
            F.slice(F.col("ids"), 1, F.size("ids") - 1),
            lambda a, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size("ids")),
                lambda c: F.struct(a.alias("id_a"), c.alias("id_b")),
            ),
        )
    )
    candidates = (
        buckets.select(F.explode(pair_expr).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .where(F.col("id_a") != F.col("id_b"))  # duplicate-id input guard
        # explicit hash repartition on the dedup keys: dropDuplicates reuses
        # it (no extra exchange) and, unlike the implicit aggregate shuffle,
        # it is NOT AQE-coalesced — AQE sizes by row BYTES and pair rows are
        # tiny, so it halves the parallelism of the verify join feeding off
        # this output (measured 4 tasks on 8 cores; embedding.py trap)
        .repartition(par, "id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    hs_a = hashed.select(F.col("id").alias("id_a"), F.col("hs").alias("hs_a"))
    hs_b = hashed.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_b"))
    inter = F.size(F.array_intersect("hs_a", "hs_b")).cast("double")
    union = F.size(F.array_union("hs_a", "hs_b")).cast("double")
    return (
        candidates.join(hs_a, "id_a")
        .join(hs_b, "id_b")
        .select("id_a", "id_b", F.round(inter / union, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
        .orderBy("id_a", "id_b")
    )
