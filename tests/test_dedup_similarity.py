"""Dedup operator tests with hand-crafted golden sets."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),          # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),          # near dup of 1
        (4, "The  quick brown fox jumps over the lazy dog"),         # dup after normalize
        (5, "completely different words entirely unrelated content here"),
        (6, "spark engine validation rules audio transcript table"),
        (7, "spark engine validation rules audio transcript column"),  # near dup of 6
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(docs):
    from open_data_linter_spark.dedup.exact import exact_duplicates

    got = exact_duplicates(docs).collect()
    assert len(got) == 1
    assert got[0].dup_count == 3  # 1, 2, and 4 (normalized)
    assert got[0].doc_ids == [1, 2, 4]


def test_exact_duplicates_unnormalized(docs):
    from open_data_linter_spark.dedup.exact import exact_duplicates

    got = exact_duplicates(docs, normalized=False).collect()
    assert len(got) == 1 and got[0].doc_ids == [1, 2]


def test_distinct_by_fingerprint(docs):
    from open_data_linter_spark.dedup.exact import distinct_by_fingerprint

    kept = {r.doc_id for r in distinct_by_fingerprint(docs).collect()}
    assert kept == {1, 3, 5, 6, 7}


def test_ngram_jaccard(docs):
    from open_data_linter_spark.dedup.jaccard import ngram_jaccard_pairs

    pairs = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(docs, k=3, threshold=0.5).collect()}
    assert (1, 2) in pairs and (1, 4) in pairs and (2, 4) in pairs
    assert (1, 3) in pairs  # 1-word change in 9 -> high trigram overlap? verify >=0.5
    assert not any(5 in p for p in pairs)


def test_minhash_near_duplicates(docs):
    from open_data_linter_spark.dedup.minhash import minhash_near_duplicates

    got = minhash_near_duplicates(docs, k=3, threshold=0.5)
    pairs = {(r.id_a, r.id_b): r.jaccard for r in got.collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (6, 7) in pairs or (1, 3) in pairs  # near dups surface via LSH
    assert not any(5 in p for p in pairs)


def test_minhash_permutations_vary(spark):
    """Round-4 regression: the 64 permutations must be DISTINCT hash
    functions. PySpark binds a two-parameter transform lambda to
    (element, array_index), so a ``lambda h, i=i`` salt capture silently
    collapsed every permutation to the same expression — signature
    agreement became all-or-nothing (0/64 or 64/64) and LSH recall
    degenerated from 1-(1-J^r)^b to J (two jaccard-0.97 pairs missed at
    sf0.01)."""
    from open_data_linter_spark.dedup.minhash import minhash_signature

    row = (
        spark.createDataFrame(
            [("a b c d e f g h i j",)], "text string"
        )
        .select(
            minhash_signature(
                F.split(F.col("text"), " "), n_perm=32
            ).alias("sig")
        )
        .collect()[0]
    )
    # 32 independent permutations over 10 elements: all-equal is the bug;
    # genuinely independent mins collide only by hash coincidence
    assert len(set(row.sig)) >= 30


def test_minhash_banding_recall_not_single_hash(spark):
    """With distinct permutations, a J≈0.9 pair misses a b=16,r=4 banding
    with p≈1e-8 — generate 40 such pairs and require 100% found (the
    collapsed-signature bug dropped ~10% of them, P(find)=J)."""
    import numpy as np

    from open_data_linter_spark.dedup.minhash import minhash_near_duplicates

    rng = np.random.default_rng(99)
    rows = []
    vocab = [f"w{t}" for t in range(500)]
    for i in range(40):
        toks = list(rng.choice(vocab, size=60, replace=False))
        mutated = list(toks)
        mutated[int(rng.integers(1, 59))] = f"x{i}"  # one-token edit
        rows.append((2 * i, " ".join(toks)))
        rows.append((2 * i + 1, " ".join(mutated)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.id_a, r.id_b) for r in
           minhash_near_duplicates(df, k=2, threshold=0.5).collect()}
    planted = {(2 * i, 2 * i + 1) for i in range(40)}
    assert planted <= got, f"missed {sorted(planted - got)}"


def test_minhash_duplicate_id_rows_no_self_pairs(spark):
    """Duplicate id rows sort adjacent in a bucket member list; the pair
    expansion must never emit (x, x) self-pairs (ADVICE r3)."""
    from open_data_linter_spark.dedup.minhash import minhash_near_duplicates

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # same id twice
        (2, "the quick brown fox jumps over the lazy dog"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = minhash_near_duplicates(df, k=3, threshold=0.5).collect()
    assert all(r.id_a != r.id_b for r in got)
    assert {(r.id_a, r.id_b) for r in got} == {(1, 2)}


def test_simhash_near_duplicates(docs):
    from open_data_linter_spark.dedup.simhash import simhash_near_duplicates

    got = {(r.id_a, r.id_b) for r in simhash_near_duplicates(docs, max_hamming=4).collect()}
    assert (1, 2) in got and (1, 4) in got  # same token multiset -> distance 0
    assert not any(5 in p for p in got)


def test_simhash_empty_docs_excluded(spark):
    """Empty/whitespace-only docs were absent from the former
    explode+groupBy signature output; the Arrow projection path must keep
    that contract (an all-zero signature would otherwise pair every empty
    doc with every other empty doc at hamming 0)."""
    from open_data_linter_spark.dedup.simhash import (
        simhash_near_duplicates,
        simhash_signatures,
    )

    rows = [
        (1, "aaa bbb ccc ddd eee"),
        (2, "aaa bbb ccc ddd eee"),
        (3, ""),
        (4, "   "),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {r.id for r in simhash_signatures(df).collect()}
    assert sigs == {1, 2}
    got = {(r.id_a, r.id_b) for r in simhash_near_duplicates(df).collect()}
    assert got == {(1, 2)}
