"""duplicate_clusters (connected components over near-dup pairs) vs a
brute-force union-find oracle, incl. a long-chain graph that forces
multiple propagation rounds and the non-convergence guard."""

import pytest
from pyspark.sql import functions as F

from rio_toa_spark.operators.dedup import (
    drop_duplicates_clustered,
    duplicate_clusters,
)


def _union_find(pairs):
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
    return {n: find(n) for n in parent}


PAIRS = [
    (1, 2), (2, 3),          # chain -> cluster 1
    (10, 11),                # pair -> cluster 10
    (20, 21), (21, 22), (22, 20),  # triangle with cycle -> 20
    (30, 31), (31, 32), (32, 33), (33, 34),  # longer chain -> 30
    (41, 40),                # reversed order edge -> 40
]


def test_clusters_match_union_find(spark):
    pairs = spark.createDataFrame(PAIRS, "a long, b long")
    got = {r.node: r.label for r in duplicate_clusters(pairs).collect()}
    assert got == _union_find(PAIRS)


def test_clusters_on_lsh_output(spark):
    # end-to-end: every minhash-LSH candidate pair of the sf0.001
    # corpus (threshold 0 keeps each candidate the verify sees)
    from rio_toa_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = ngram_jaccard_pairs(docs, threshold=0.0).select("a", "b")
    rows = [(r.a, r.b) for r in pairs.collect()]
    got = {r.node: r.label for r in duplicate_clusters(pairs).collect()}
    assert got == _union_find(rows) and len(got) > 0


def test_drop_duplicates_clustered(spark):
    df = spark.createDataFrame(
        [(i, "t%d" % i) for i in [1, 2, 3, 10, 11, 50]], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "a long, b long")
    kept = sorted(
        r.doc_id for r in drop_duplicates_clustered(df, pairs).collect()
    )
    # one representative (min id) per cluster + the unpaired row
    assert kept == [1, 10, 50]


def test_clusters_nonconvergence_raises(spark):
    # a path graph of length 6 cannot converge in 2 rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "a long, b long"
    )
    with pytest.raises(ValueError, match="did not converge"):
        duplicate_clusters(pairs, max_iter=2)
    got = {r.node: r.label for r in duplicate_clusters(pairs).collect()}
    assert set(got.values()) == {0}


def test_pointer_doubling_converges_logarithmically(spark):
    # a 41-node chain has diameter 40: one-hop propagation alone needs
    # 40+ rounds; with the pointer-doubling shortcut labels travel
    # ~2^k hops by round k, so 8 rounds must suffice
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "a long, b long"
    )
    got = {r.node: r.label for r in duplicate_clusters(pairs, max_iter=8).collect()}
    assert set(got.values()) == {0} and len(got) == 41


def test_pointer_doubling_contract_at_adversarial_diameter(spark):
    # scale guard for the O(log diameter) contract: a 4096-node chain
    # (diameter 4095 — the worst case for label propagation; real
    # near-dup graphs are near-cliques) must converge within
    # 2*log2(n) = 24 rounds. A regression to one-hop propagation
    # (e.g. dropping the shortcut self-join) would need ~4095 rounds
    # and turn this into a max_iter ValueError.
    n = 4096
    pairs = spark.range(n - 1).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )
    labels = duplicate_clusters(pairs, max_iter=24)
    agg = labels.agg(
        F.countDistinct("label").alias("k"),
        F.min("label").alias("lo"),
        F.max("label").alias("hi"),
        F.count("*").alias("n"),
    ).collect()[0]
    assert (agg.k, agg.lo, agg.hi, agg.n) == (1, 0, 0, n)
