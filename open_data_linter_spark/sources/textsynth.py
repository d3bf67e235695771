"""Deterministic synthetic documents corpus with planted near-duplicates.

Benchmark/scale-evidence input for the text-dedup family: pure-Catalyst
generation — every token is a seeded xxhash64 draw from a ``vocab``-sized
word space, so the corpus is identical across runs, partitionings, and
cluster sizes, and synthesizes at full parallelism with no Python.

Layout: docs come in blocks of ``dup_every``; in each block, doc
``block+1`` is a planted near-duplicate of doc ``block`` (same seeded
token stream, last 3 tokens replaced). With ~40-80 token docs and word
3-gram shingling that is a shingle-Jaccard of ~0.9 — comfortably above
the default 0.7 MinHash threshold — while unrelated docs collide only at
the 1/vocab rate (Jaccard ≈ 0). Planted-pair count = floor((n-1)/
dup_every) + (1 if (n-1) % dup_every >= 1 else 0)... in practice the
harness records the MEASURED pair count at corpus-gen time and every
benchmark run sanity-gates against it, so the closed form never needs to
be trusted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def synthesize_documents(
    spark: SparkSession,
    n: int,
    num_partitions: int = 32,
    seed: int = 7,
    vocab: int = 50_000,
    dup_every: int = 10,
) -> DataFrame:
    """(doc_id, text, is_dup): ``n`` deterministic docs, ~10% planted
    near-dup pairs (ids ``b`` and ``b+1`` for every block start ``b``)."""
    ids = spark.range(0, n, numPartitions=num_partitions).select(
        F.col("id").alias("doc_id")
    )
    is_dup = (F.col("doc_id") % dup_every) == 1
    base = F.when(is_dup, F.col("doc_id") - 1).otherwise(F.col("doc_id"))
    # length drawn from the BASE id so a planted pair shares its length
    ln = F.lit(40) + F.pmod(F.xxhash64(F.lit(seed * 31 + 2), base), F.lit(41))

    def word(salt: int, key, j) -> F.Column:
        return F.concat(
            F.lit("w"),
            F.pmod(F.xxhash64(F.lit(seed * 31 + salt), key, j), F.lit(vocab)),
        )

    toks = F.transform(
        F.sequence(F.lit(1), ln),
        lambda j: F.when(
            is_dup & (j > ln - 3), word(3, F.col("doc_id"), j)
        ).otherwise(word(1, base, j)),
    )
    return ids.select(
        "doc_id",
        F.concat_ws(" ", toks).alias("text"),
        is_dup.alias("is_dup"),
    )
