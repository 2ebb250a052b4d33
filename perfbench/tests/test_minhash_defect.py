"""Reproducer of a known engine defect that keeps ``cli dedup`` out of
the benchmark's passes (see perfbench/README.md, *Known engine defect*).

``operators/dedup.py`` draws its MinHash coefficients as
a_i = A*(i+1), b_i = B*(i+1) mod 2^31-1: one hash scaled 16 times, not
16 independent hashes. On seed 21 of the ``web_pages`` corpus the
engine's banded-signature kernel leaves a planted near-duplicate pair
(Jaccard >= 0.995) without a shared LSH bucket, so ``cli dedup`` cannot
find it. Independent hashes miss such a pair with probability < 2e-7.

The test is a strict xfail: once the engine draws independent
coefficients it passes, the xfail turns into a failure, and ``cli
dedup`` with its all-pairs check belongs back in ``workloads.py``.
Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

import pandas as pd
import pyarrow.parquet as pq
import pytest

from perfbench import inputs

SEED = 21


@pytest.mark.xfail(strict=True, raises=AssertionError, reason="correlated MinHash coefficients in operators/dedup.py")
def test_every_planted_near_pair_shares_an_lsh_bucket(tmp_path):
    from rio_toa_spark.operators.dedup import _banded_signature_kernel

    expect = inputs._corpus_curate(str(tmp_path), SEED)
    docs = pq.read_table(tmp_path / "docs.parquet", columns=["doc_id", "text"]).to_pandas()
    # the generated texts are already normalized: lower case, single spaces
    batch = pd.DataFrame({"doc_id": docs["doc_id"], "_nt": docs["text"]})
    kernel = _banded_signature_kernel("doc_id", shingle_n=3, num_hashes=16, bands=4, rows_per_band=4)
    banded = pd.concat(list(kernel(iter([batch]))))
    buckets: dict = {}
    for key, band, bucket in zip(banded["doc_id"], banded["band"], banded["bucket"]):
        buckets.setdefault(key, set()).add((band, bucket))
    missed = [(a, b) for a, b in expect["near_pairs"] if not buckets[a] & buckets[b]]
    assert missed == []
