"""Deterministic sampling operators vs an independent python md5
oracle: membership must be an exact function of (seed, key) — stable
across runs, partitionings, and engines."""

import hashlib

import pytest
from pyspark.sql import functions as F

from rio_toa_spark.operators.sampling import (
    hash_sample,
    mixture_sample,
    sample_unit,
    stratified_sample,
)


def _unit(key, seed=0):
    h = hashlib.md5(("%s_%s" % (seed, key)).encode()).hexdigest()[:15]
    return int(h, 16) / float(1 << 60)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def test_hash_sample_exact_membership(spark, docs):
    got = sorted(r.doc_id for r in hash_sample(docs, 0.3, seed=7).collect())
    all_ids = [r.doc_id for r in docs.select("doc_id").collect()]
    expected = sorted(i for i in all_ids if _unit(i, 7) < 0.3)
    assert got == expected and 0 < len(got) < len(all_ids)


def test_hash_sample_is_stable_across_partitionings(spark, docs):
    a = sorted(r.doc_id for r in hash_sample(docs, 0.2).collect())
    b = sorted(
        r.doc_id for r in hash_sample(docs.repartition(13, "text"), 0.2).collect()
    )
    assert a == b


def test_stratified_rates_and_default_drop(spark, docs):
    sources = [r[0] for r in docs.select("source").distinct().collect()]
    keep, drop = sources[0], sources[1]
    out = stratified_sample(docs, {keep: 1.0}, strata="source", seed=1)
    got_sources = {r.source for r in out.collect()}
    assert got_sources == {keep} and drop not in got_sources


def test_mixture_hits_target_proportions(spark, docs):
    weights = {"src1": 3.0, "src2": 1.0}
    out = mixture_sample(docs, weights, domain="source", seed=5)
    counts = {r[0]: r[1] for r in out.groupBy("source").count().collect()}
    assert set(counts) <= set(weights)
    ratio = counts["src1"] / counts["src2"]
    assert 1.5 < ratio < 6.0  # 3:1 target, binomial noise at this size
    # deterministic: the exact same rows on a second run
    again = mixture_sample(docs, weights, domain="source", seed=5)
    assert sorted(r.doc_id for r in out.collect()) == sorted(
        r.doc_id for r in again.collect()
    )


def test_mixture_unknown_domain_raises(spark, docs):
    with pytest.raises(ValueError, match="absent"):
        mixture_sample(docs, {"nope": 1.0}, domain="source")


def test_sampling_is_pushdown_filter_no_shuffle(spark, docs):
    plan = (
        hash_sample(docs, 0.5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan  # pure map-side filter


def test_hash_sample_monotone_in_rate(spark, docs):
    # same seed: a lower rate selects a SUBSET of a higher rate — the
    # property that makes sample manifests refinable without resampling
    small = {r.doc_id for r in hash_sample(docs, 0.1, seed=2).collect()}
    big = {r.doc_id for r in hash_sample(docs, 0.4, seed=2).collect()}
    assert small < big


def test_seeds_give_independent_draws(spark, docs):
    a = {r.doc_id for r in hash_sample(docs, 0.5, seed=1).collect()}
    b = {r.doc_id for r in hash_sample(docs, 0.5, seed=2).collect()}
    overlap = len(a & b) / max(1, min(len(a), len(b)))
    assert a != b and 0.2 < overlap < 0.8  # ~rate, not 0 or 1
