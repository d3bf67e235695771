"""MinHash + LSH near-duplicate detection, DataFrame-native.

Pipeline (all Catalyst, no UDF):
  shingle(k-gram) → xxhash64 each shingle once (array<long>) → 64
  permutation min-hashes (re-hash the long with a per-permutation seed,
  array_min) → band into b bands of r rows → explode bands →
  groupBy(band, band_hash) bucket join → candidate pairs → exact Jaccard
  verification on the hashed shingle sets.

Scale notes:
- the only big shuffle is the band-bucket self-join; bucket sizes are
  bounded by hashing (hot buckets = near-identical content, which is the
  signal, and AQE skew-split handles the residue);
- candidate verification joins back to the (distinct) hashed shingle sets
  by id — at 100 TB these would be bucketed tables; candidates are a tiny
  fraction of the corpus;
- the checkpointed intermediate holds array<long>, never the shingle
  strings: Jaccard over the hashed sets equals Jaccard over the string
  sets (xxhash64 collisions are negligible at any realistic doc size),
  and the materialized bytes drop by roughly the mean shingle length;
- single-file inputs arrive as one partition — spread to the session's
  parallelism BEFORE the shingling projection (never reducing an already
  parallel input);
- banding params (b=16, r=4) target J ≈ 0.7+: P(candidate) = 1-(1-J^r)^b.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from open_data_linter_spark.dedup._cache import persist_scoped, spread_and_pin
from open_data_linter_spark.functions.text import shingles

N_PERM_DEFAULT = 64

# Mersenne prime 2^31-1: the permutation modulus. Reduction is bit ops
# (no integer division); a*x+b < p^2+p < 2^62 < Long.MAX so ANSI-mode
# overflow can never throw. The modulus must be ~the size of the x
# domain: a first attempt used 2^61-1 with a < 2^30, and a*x then wraps
# AT MOST ONCE over the 31-bit x range — the "permutation" is monotone
# with a single breakpoint, its min is almost always the smallest x, the
# 64 permutations correlate, and banding recall visibly decays (a planted
# J≈0.93 pair missed a b=16,r=4 banding whose miss probability should be
# 1e-10 — caught by test_minhash_banding_recall_not_single_hash). With
# p = 2^31-1 and a,x < p, a*x wraps up to 2^31 times: proper mixing.
_P31 = (1 << 31) - 1


def _perm_consts(n_perm: int) -> tuple[list[int], list[int]]:
    """Deterministic affine coefficients a_i in [1, p), b_i in [0, p).

    Derived from a self-contained splitmix64 stream, NOT numpy: signatures
    must be replay-stable across sessions/releases (the curation CLI's
    byte-identical-rerun contract rides on it), and NumPy's compatibility
    policy pins BitGenerator streams but not Generator *method* streams —
    a numpy upgrade could silently move every coefficient."""
    mask = (1 << 64) - 1
    state = 0x0D15EA5E

    def nxt() -> int:
        nonlocal state
        state = (state + 0x9E3779B97F4A7C15) & mask
        z = state
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & mask
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & mask
        return z ^ (z >> 31)

    a = [1 + nxt() % (_P31 - 1) for _ in range(n_perm)]
    b = [nxt() % _P31 for _ in range(n_perm)]
    return a, b


def minhash_signature(shingle_col, n_perm: int = N_PERM_DEFAULT):
    """Array of n_perm min-hashes from a STRING shingle array.

    One xxhash64 over the shingle string, then the affine permutation
    family over the resulting long — hashing the string once is the only
    string traversal.
    """
    base = F.transform(shingle_col, lambda s: F.xxhash64(s))
    return minhash_signature_from_hashes(base, n_perm)


def minhash_signature_from_hashes(hash_col, n_perm: int = N_PERM_DEFAULT):
    """Array of n_perm min-hashes from an already-hashed array<long>.

    Per element the n_perm permuted values come from the classic
    2-universal affine family ``(a_i * x + b_i) mod (2^31-1)`` over the
    low 31 bits of the shingle hash (Broder 1997 minwise-permutation
    approximation); the per-doc minimum over the element stream is the
    signature. Round 6: computed in ONE Arrow-vectorized numpy batch op
    (bit-identical to the former Catalyst ``F.aggregate`` fold — HOF
    lambdas evaluate on the interpreted expression path per element,
    which made the fold the most expensive stage of the pipeline; the
    round-4 n_perm-wide-plan caveat still applies to any per-permutation
    column shape, which is why the vectorized UDF wins on both counts).

    History: the xxhash64 variant's per-permutation salt had to be closed
    over with a single-parameter lambda — PySpark decides by ARITY whether
    a transform lambda receives (element) or (element, array_index), so a
    ``lambda h, i=i: ...`` capture silently rebinds ``i`` to the index
    column and every "permutation" becomes the same expression; banding
    recall collapses from 1-(1-J^r)^b to J (found in round 4; behavior
    pinned in tests/test_dedup_similarity.py::test_minhash_permutations_vary,
    which this family must keep passing). The affine family has no
    per-permutation lambdas at all.

    Empty input arrays return the init accumulator (n_perm copies of
    p): all-empty docs collide with each other in banding, exactly as
    the previous all-NULL signatures did — callers exclude empty shingle
    sets before signing.
    """
    a_c, b_c = _perm_consts(n_perm)
    A = np.array(a_c, dtype=np.uint64)
    B = np.array(b_c, dtype=np.uint64)
    P = np.uint64(_P31)
    n_p = int(n_perm)

    def _sig_impl(hs_s: pd.Series) -> pd.Series:
        # Identical arithmetic to the former Catalyst fold, vectorized:
        # x = low 31 bits of the shingle hash (x = p collapses to 0 mod p
        # — a 2^-31 per-shingle event, same order as any hash collision);
        # a*x+b <= (p-1)p + (p-1) < 2^62 (no uint64 overflow); two-step
        # Mersenne-31 reduction v -> w1 < 2^32 -> w2 <= p+1 ->
        # conditional subtract. Exact parity with the expression form was
        # verified element-wise over the sf1.0 corpus (0 mismatches).
        nulls = hs_s.isna().to_numpy()
        lens = np.fromiter(
            (0 if n else len(a) for a, n in zip(hs_s, nulls)),
            dtype=np.int64,
            count=len(hs_s),
        )
        out = np.empty((len(hs_s), n_p), dtype=np.uint64)
        nz = lens > 0
        if lens.sum():
            flat = np.concatenate(
                [np.asarray(a, dtype=np.int64) for a in hs_s[nz]]
            ).view(np.uint64)
            x = flat & P
            v = x[:, None] * A[None, :] + B[None, :]
            w1 = (v & P) + (v >> np.uint64(31))
            w2 = (w1 & P) + (w1 >> np.uint64(31))
            w2 = np.where(w2 >= P, w2 - P, w2)
            offs = np.concatenate(
                [np.zeros(1, dtype=np.int64), np.cumsum(lens[nz])[:-1]]
            )
            out[nz] = np.minimum.reduceat(w2, offs, axis=0)
        out[~nz] = P  # empty input -> n_perm copies of p (doc contract)
        res = list(out.view(np.int64))
        for i in np.flatnonzero(nulls):
            res[i] = None  # NULL array in, NULL signature out
        return pd.Series(res, dtype=object)

    # Round 6 (optimization): the former one-pass ``F.aggregate`` fold is
    # a higher-order function, and HOF lambda bodies are evaluated by the
    # INTERPRETED expression path per element — n_perm x |hs| interpreted
    # permval trees per row dominated the signature stage (7.7-8.6s for
    # the 50k-doc sf1.0 corpus; a per-permutation transform/array_min
    # variant and a fused single-zip_with fold both measured no better).
    # The same arithmetic as ONE Arrow-vectorized numpy batch op (the
    # dedup/simhash.py majority-bits pattern, guide §4.2) runs the stage
    # in 1.6-2.2s warm. Built per call, not cached: pandas_udf needs an
    # active SparkSession (module import stays session-free).
    return F.pandas_udf(_sig_impl, "array<long>")(hash_col)


def band_rows(sig_df: DataFrame, n_perm: int, bands: int) -> DataFrame:
    """(id, band, bh) LSH band rows from a (id, sig) signature frame.

    One xxhash64 over each band's ``rows_per_band`` signature slots; the
    output carries ONLY the 3 narrow columns so the downstream bucket
    join never shuffles the signature arrays."""
    rows_per_band = n_perm // bands
    return sig_df.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.element_at("sig", b * rows_per_band + r + 1)
                                for r in range(rows_per_band)
                            ]
                        ).alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))


def hashed_shingle_sets(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(id, hs) distinct xxhash64-hashed k-shingle sets, empty sets dropped.

    The array<long> representation is the only thing ever persisted or
    shuffled — Jaccard over the hashed sets equals string-set Jaccard up
    to 64-bit collisions."""
    return df.select(
        F.col(id_col).alias("id"),
        F.transform(shingles(F.col(text_col), k), lambda s: F.xxhash64(s)).alias(
            "hs"
        ),
    ).where(F.size("hs") > 0)


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_perm: int = N_PERM_DEFAULT,
    bands: int = 16,
    threshold: float = 0.7,
    max_bucket_size: int | None = 500,
) -> DataFrame:
    """Near-dup pairs (id_a < id_b, jaccard >= threshold).

    ``max_bucket_size`` drops LSH buckets larger than the cap before the
    self-join: a bucket of m members contributes m² candidate pairs, so hot
    buckets (caused by near-universal shingles) dominate cost quadratically
    while contributing mostly sub-threshold pairs. Essential at scale; set
    None for exhaustive candidates.

    Jaccard is computed on the xxhash64-hashed shingle sets — identical to
    string-set Jaccard up to 64-bit hash collisions (~0 in practice) —
    so only array<long> is ever checkpointed or shuffled.
    """
    # spread + boundary pin (measured: without it the whole shingling pass
    # serialized onto one core) — see dedup/_cache.spread_and_pin
    src = spread_and_pin(
        "minhash.src",
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t")),
    )
    hashed = hashed_shingle_sets(src, "__t", "id", k)
    # hashed feeds three consumers (signatures, both verify sides); persist
    # so shingling runs once. At cluster scale: persist to storage / a
    # bucketed table instead.
    hashed = persist_scoped("minhash.hashed", hashed)
    sig = hashed.select(
        "id", minhash_signature_from_hashes(F.col("hs"), n_perm).alias("sig")
    )
    # band rows carry ONLY (id, band, band-hash): the candidate self-join and
    # its dedup never shuffle the hash arrays (they re-join by id after).
    # No second checkpoint — re-deriving band rows from the checkpointed
    # hashes is one narrow stage, cheaper than an eager materialization
    # (measured: the former second checkpoint cost more than it saved).
    banded = band_rows(sig, n_perm, bands)
    # Candidate pairs: ONE shuffle (groupBy band,bh), then in-bucket pair
    # expansion as a Catalyst array comprehension — replaces the former
    # bucket-count + filter-join + self-join + dropDuplicates chain (3-4
    # exchanges on the same tiny keys). Hot buckets above the cap are
    # dropped before expansion, so the flatten is bounded by cap² per
    # bucket; the per-bucket member list fits comfortably in an executor
    # row (cap defaults to 500 ids).
    buckets = banded.groupBy("band", "bh").agg(
        F.array_sort(F.collect_list("id")).alias("ids")
    )
    if max_bucket_size is not None:
        buckets = buckets.where(F.size("ids") <= max_bucket_size)
    buckets = buckets.where(F.size("ids") >= 2)
    pair_expr = F.flatten(
        F.transform(
            F.slice(F.col("ids"), 1, F.size("ids") - 1),
            lambda a, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size("ids")),
                lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
            ),
        )
    )
    candidates = (
        buckets.select(F.explode(pair_expr).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        # duplicate id rows in the input sort adjacent in the bucket member
        # list and would expand to (x, x) self-pairs (the old self-join's
        # l.id < r.id excluded them structurally)
        .where(F.col("id_a") != F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    hs_a = hashed.select(F.col("id").alias("id_a"), F.col("hs").alias("hs_a"))
    hs_b = hashed.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_b"))
    verified = candidates.join(hs_a, "id_a").join(hs_b, "id_b")
    inter = F.size(F.array_intersect("hs_a", "hs_b")).cast("double")
    union = F.size(F.array_union("hs_a", "hs_b")).cast("double")
    return (
        verified.select(
            "id_a",
            "id_b",
            F.round(inter / union, 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
        .orderBy("id_a", "id_b")
    )
