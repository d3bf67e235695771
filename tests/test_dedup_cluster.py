"""Connected-components clustering + keep-one dedup over pair lists."""

import numpy as np
import pytest
from pyspark.sql import functions as F


def _union_find(pairs):
    """In-test reference: classic union-find, min-id canonical labels."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_cc_matches_union_find_random_graph(spark):
    from open_data_linter_spark.dedup.cluster import connected_components

    rng = np.random.default_rng(4)
    # 40 clusters of random internal edges over 300 nodes + noise edges
    edges = []
    nodes = np.arange(300)
    rng.shuffle(nodes)
    chunks = np.array_split(nodes, 40)
    for chunk in chunks:
        chunk = list(map(int, chunk))
        for v in chunk[1:]:
            edges.append((int(rng.choice(chunk)), v))  # random tree + extras
        for _ in range(2):
            if len(chunk) >= 2:
                a, b = rng.choice(chunk, size=2, replace=False)
                edges.append((int(a), int(b)))
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.id: r.comp for r in connected_components(df).collect()}
    want = _union_find(edges)
    assert got == want


def test_cc_long_chain_converges(spark):
    """A 24-node path graph (diameter 23) — pointer jumping must close it
    in O(log D) rounds; exercises the iteration + convergence check, not
    just one-hop merges."""
    from open_data_linter_spark.dedup.cluster import connected_components

    chain = [(i, i + 1) for i in range(100, 123)]
    df = spark.createDataFrame(chain, "id_a long, id_b long")
    got = {r.id: r.comp for r in connected_components(df).collect()}
    assert got == {i: 100 for i in range(100, 124)}


def test_cc_string_ids_match_union_find(spark):
    """Non-numeric ids take the surrogate-encoding path (the label loop's
    convergence sum needs numbers): same random graph as the numeric
    test, ids rendered as zero-padded strings — component labels must be
    the MIN member string per component, exactly as union-find says."""
    from open_data_linter_spark.dedup.cluster import connected_components

    rng = np.random.default_rng(11)
    edges = []
    nodes = np.arange(200)
    rng.shuffle(nodes)
    for chunk in np.array_split(nodes, 30):
        chunk = list(map(int, chunk))
        for v in chunk[1:]:
            edges.append((int(rng.choice(chunk)), v))
    edges = [(a, b) for a, b in edges if a != b]
    sid = lambda x: f"doc_{x:05d}"  # noqa: E731
    df = spark.createDataFrame(
        [(sid(a), sid(b)) for a, b in edges], "id_a string, id_b string"
    )
    got = {r.id: r.comp for r in connected_components(df).collect()}
    want = {sid(k): sid(v) for k, v in _union_find(edges).items()}
    assert got == want


def test_cc_string_ids_empty_pairs(spark):
    from open_data_linter_spark.dedup.cluster import connected_components

    df = spark.createDataFrame([], "id_a string, id_b string")
    assert connected_components(df).count() == 0


def test_cc_empty_pairs(spark):
    from open_data_linter_spark.dedup.cluster import connected_components

    df = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(df).count() == 0


def test_cc_max_iter_guard(spark):
    from open_data_linter_spark.dedup.cluster import connected_components

    chain = [(i, i + 1) for i in range(0, 30)]
    df = spark.createDataFrame(chain, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="fixpoint"):
        connected_components(df, max_iter=2)


def test_deduplicate_keeps_canonical_and_untouched(spark):
    from open_data_linter_spark.dedup.cluster import cluster_sizes, deduplicate

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(10)], "doc_id long, text string"
    )
    # {1,2,3} one cluster via transitivity, {7,8} another; 0,4,5,6,9 untouched
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
    )
    kept = sorted(r.doc_id for r in deduplicate(docs, pairs).collect())
    assert kept == [0, 1, 4, 5, 6, 7, 9]

    from open_data_linter_spark.dedup.cluster import connected_components

    sizes = {
        r.component_id: r.size
        for r in cluster_sizes(connected_components(pairs)).collect()
    }
    assert sizes == {1: 3, 7: 2}


def test_deduplicate_end_to_end_with_minhash(spark):
    """Full pipeline: minhash pairs → clusters → deduplicated corpus."""
    from open_data_linter_spark.dedup.cluster import deduplicate
    from open_data_linter_spark.dedup.minhash import minhash_near_duplicates

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "the quick brown fox jumps over the lazy dog!"),
        (4, "completely different words entirely unrelated content"),
        (5, "spark engine validation rules audio transcript table"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_near_duplicates(docs, k=2, threshold=0.5)
    kept = sorted(r.doc_id for r in deduplicate(docs, pairs).collect())
    assert kept == [1, 4, 5]  # 2 and 3 fold into 1's cluster
