"""Deterministic dataset-curation sampling for training pipelines.

`df.sample()` is nondeterministic across retries/partitionings (seeded
per-partition), which is unacceptable for dataset curation: a task
retry or a repartition must not change which documents enter the
training set. Every operator here decides membership from a portable
md5 hash of the ROW KEY alone — stable under retries, shuffles,
cluster size, AND engines (the same selection is reproducible in any
SQL engine with md5, so sampled manifests can be audited outside
Spark).

All operators are pure native-SQL projections/filters: no shuffle, no
UDF, fully codegen'd; `mixture_sample` adds one dimension-sized
groupBy-count (collected: #domains rows, documented bounded collect).

* hash_sample        — keyed Bernoulli at a fixed rate
* stratified_sample  — per-stratum rates
* mixture_sample     — hit target DOMAIN PROPORTIONS (e.g. 70% web,
                       20% code, 10% reference) at the largest total
                       size the inventory allows
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rio_toa_spark.operators.textstats import portable_hash64

# the 60-bit hash spans [0, 2^60); dividing by 2^60 gives a uniform
# unit double — exactly representable ops, identical in any engine
_UNIT_DENOM = float(1 << 60)


def sample_unit(key_col: Column, seed: int = 0) -> Column:
    """Deterministic uniform [0, 1) from a row key: the md5-60bit hash
    of "<seed>_<key>" scaled by 2^-60. Different seeds give independent
    draws for the same key (nested/repeated sampling)."""
    h = portable_hash64(F.concat_ws("_", F.lit(str(seed)), key_col.cast("string")))
    return h / F.lit(_UNIT_DENOM)


def hash_sample(
    df: DataFrame, rate: float, key: str = "doc_id", seed: int = 0
) -> DataFrame:
    """Keep each row iff unit(key) < rate — deterministic Bernoulli
    (per-key, so the SAME keys are kept on every run, engine, and
    partitioning, unlike df.sample)."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError("rate must be in [0, 1], got %r" % rate)
    return df.where(sample_unit(F.col(key), seed) < rate)


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata: str = "source",
    key: str = "doc_id",
    seed: int = 0,
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic rates; strata absent from ``rates``
    get ``default_rate`` (0.0 = dropped, the curation default)."""
    for s, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError("rate for %r must be in [0, 1], got %r" % (s, r))
    rate_col = reduce(
        lambda acc, kv: acc.when(F.col(strata) == kv[0], F.lit(kv[1])),
        rates.items(),
        F.when(F.lit(False), F.lit(0.0)),
    ).otherwise(F.lit(float(default_rate)))
    return df.where(sample_unit(F.col(key), seed) < rate_col)


def mixture_sample(
    df: DataFrame,
    weights: dict[str, float],
    domain: str = "source",
    key: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Deterministic domain-weighted mixture: sample the LARGEST total
    dataset whose domain proportions match ``weights`` given what each
    domain actually has. N = min_d(count_d / w_d); keep rate_d =
    N * w_d / count_d (the binding domain keeps everything). Expected
    sizes — hash sampling realizes them to binomial noise.

    One dimension-sized groupBy-count is collected (#domains rows);
    membership itself stays a map-side filter over the full corpus.
    """
    total_w = sum(weights.values())
    if total_w <= 0:
        raise ValueError("weights must sum to a positive value")
    norm = {d: w / total_w for d, w in weights.items() if w > 0}
    counts = {
        r[0]: r[1]
        for r in df.where(F.col(domain).isin(list(norm)))
        .groupBy(domain)
        .count()
        .collect()
    }
    missing = sorted(set(norm) - set(counts))
    if missing:
        raise ValueError("domains absent from input: %s" % missing)
    n_total = min(counts[d] / w for d, w in norm.items())
    rates = {d: min(1.0, n_total * w / counts[d]) for d, w in norm.items()}
    return stratified_sample(
        df, rates, strata=domain, key=key, seed=seed, default_rate=0.0
    )
