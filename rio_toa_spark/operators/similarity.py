"""Similarity search over embedding columns (array<float>).

* cosine_topk       — exact brute-force top-k: every corpus row is a
                      candidate for every query. The correctness
                      baseline.
* cosine_topk_ivf   — IVF-style scale path: k-means-lite centroids
                      (a few Lloyd rounds on the driver over a capped,
                      key-ordered sample); each vector is assigned to
                      its nearest centroid list and each query scores
                      only its n_probe closest lists. Exactness is
                      traded for a bounded candidate set — the ANN
                      pattern that survives 10^12 rows.

Both run one scan (``_topk``): the queries are read on the driver and
broadcast; the corpus streams through one numpy kernel that replays
the SQL sequential-fold cosine (``cosine`` below, zip_with + aggregate)
bit for bit and keeps each batch's top-k per query; one row_number
window ranks the survivors. The IVF index only narrows each query's
candidate rows. Both drop corpus rows whose vector is NULL.

Deterministic tie-break everywhere: (cosine DESC, key ASC).
"""

from __future__ import annotations

import numpy as np
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from rio_toa_spark.operators import map_arrow, numpy_view, take, value_offsets


def dot(a: Column, b: Column) -> Column:
    # cast BEFORE multiplying: float32*float32 rounds to float32, while
    # the DuckDB oracle twin multiplies doubles — upcast first so both
    # engines do the identical double multiply + sequential double fold
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _seq_fold_sums(P: np.ndarray, q: np.ndarray | None = None) -> np.ndarray:
    """Per row of P, the bit-exact numpy replay of ``dot(row, q)``
    (``dot(row, row)`` when q is None): the float64 products
    ``P[:, c] * q[c]`` folded left to right into a 0.0 accumulator,
    the IEEE op order of ``F.aggregate(arr, lit(0.0), acc + x)``. The
    ``0.0 + x0`` first step matters only for the sign of an all-zero
    sum. P may be float32: each column widens exactly to float64
    before its multiply, as the SQL fold casts before multiplying.

    Column by column into one length-n accumulator, so the working set
    is two length-n float64 vectors, never an (n x d) product."""
    n, d = P.shape
    acc = np.zeros(n)
    x = np.empty(n)
    for c in range(d):
        x[:] = P[:, c]
        x *= x if q is None else q[c]
        acc += x
    return acc


def _desc_order_key(c: np.ndarray) -> np.ndarray:
    """uint64 key whose ASCENDING order equals Spark's DESCENDING
    double sort order (java.lang.Double.compare total order: -0.0 <
    0.0, every NaN equal and greatest). NaNs are canonicalized first
    so x86's negative-payload 0/0 NaN still ranks greatest."""
    c = np.ascontiguousarray(c, dtype=np.float64)
    u = c.view(np.uint64).copy()
    u[np.isnan(c)] = np.uint64(0x7FF8000000000000)
    asc = np.where(u >> np.uint64(63) == 0, u | np.uint64(1 << 63), ~u)
    return ~asc


def _batch_topk_scores(V32, keys, Q, qn, k, per_query_rows=None):
    """Score one corpus batch against every query with the exact
    sequential-fold cosine and yield per-(query, batch) top-k
    candidate triples (q_index, key, cosine). ``keys`` only orders
    equal cosines (ascending); the kernels pass ``_key_order`` ranks.

    per_query_rows: optional list of row-index arrays restricting each
    query to a candidate subset (the IVF probe filter); None = all."""
    nv = np.sqrt(_seq_fold_sums(V32))
    out_q, out_k, out_c = [], [], []
    for j in range(len(Q)):
        rows = per_query_rows[j] if per_query_rows is not None else None
        Vj = V32 if rows is None else V32[rows]
        if Vj.shape[0] == 0:
            continue
        dots = _seq_fold_sums(Vj, Q[j])
        denom = (nv if rows is None else nv[rows]) * qn[j]
        with np.errstate(invalid="ignore", divide="ignore"):
            cos = dots / denom
        kj = keys if rows is None else keys[rows]
        if len(cos) > k:
            # per-batch prune to k candidates under the EXACT global
            # ordering (cosine desc via total-order key, then key asc):
            # the global top-k is a subset of each batch's top-k, so
            # pruning is result-neutral
            sel = np.lexsort((kj, _desc_order_key(cos)))[:k]
            kj, cos = kj[sel], cos[sel]
        out_q.append(np.full(len(kj), j, dtype=np.int64))
        out_k.append(kj)
        out_c.append(cos)
    return out_q, out_k, out_c


def _list_matrix(col) -> np.ndarray:
    """(rows x dim) matrix of an Arrow list column, one reshape of its
    flat values instead of an np.vstack over per-row arrays (measured
    0.44 s vs ~0.1 s at 80k x 64). Every row must hold the same number
    of values: the row lengths come from the list offsets, so a ragged
    column raises instead of being re-cut into equal rows."""
    lens = np.diff(value_offsets(col))
    if lens.size and (lens != lens[0]).any():
        raise ValueError(
            "ragged embedding column: row lengths %d..%d" % (lens.min(), lens.max())
        )
    flat = numpy_view(col.flatten())
    return flat.reshape(len(col), lens[0] if lens.size else 0)


def _arrow_matrix(df: DataFrame, key: str, vec: str):
    """Driver-side (keys as an Arrow array, (rows x dim) float64 matrix)
    of a small table's key and embedding columns: the query table and
    the IVF sample. Read via Arrow, not a row collect (measured 1.4 s
    vs ~0.1 s at 80k x 64); float32 -> float64 is the same exact
    widening as the per-row python-float conversion."""
    t = df.select(key, vec).toArrow()
    keys, vecs = (t.column(c).combine_chunks() for c in (key, vec))
    return keys, _list_matrix(vecs).astype(np.float64)


def _corpus(emb_df: DataFrame, key: str, vec: str) -> DataFrame:
    """The searchable corpus: key and vector of every row whose vector
    is not NULL (a NULL vector has no cosine, so it is never a
    candidate). Ahead of both the scan and the IVF sample."""
    return emb_df.select(key, vec).where(F.col(vec).isNotNull())


def _check_width(Q: np.ndarray, dim: int) -> None:
    if Q.shape[1] != dim:
        raise ValueError("query width %d != corpus vector width %d" % (Q.shape[1], dim))


def _key_order(col) -> tuple[np.ndarray, np.ndarray]:
    """A key column's rows in ascending key order (stable), and each
    row's rank in that order: the ranks stand in for the keys in the
    (cosine desc, key asc) tie-break, whatever the key's type."""
    by_key = numpy_view(pc.sort_indices(col))
    ranks = np.empty_like(by_key)
    ranks[by_key] = np.arange(len(by_key))
    return by_key, ranks


def _topk(emb_df, queries_df, k, key, vec, q_key, q_vec, centroids=None, n_probe=0):
    """The one cosine top-k scan behind both searches. The query side
    is read and broadcast (queries are few); the corpus streams
    map-side through a numpy kernel that replays the SQL sequential-
    fold cosine bit for bit (see _seq_fold_sums) and pre-prunes each
    batch to its top-k per query, so the only shuffle — the per-query
    top-k window — sees k rows per (query, batch) instead of the full
    |corpus| x |queries| score table.

    centroids: None scores every corpus row for every query (exact).
    Otherwise an (n_centroids x dim) IVF list matrix: each row joins
    the list of its nearest centroid, and each query scores only the
    rows of its n_probe closest lists."""
    q_ids, Q = _arrow_matrix(queries_df, q_key, q_vec)
    qn = np.sqrt(_seq_fold_sums(Q))
    C = probes = None
    if centroids is not None:
        # query -> its n_probe closest centroid lists (deterministic
        # tie-break on list id via stable argsort)
        C = centroids.T  # (dim, n_centroids)
        if len(q_ids) and C.size:
            _check_width(Q, C.shape[0])
            probes = np.argsort(-(Q @ C), axis=1, kind="stable")[:, :n_probe]
        else:
            probes = np.zeros((len(q_ids), 0), dtype=np.int64)
    bc = emb_df.sparkSession.sparkContext.broadcast((q_ids, Q, qn, C, probes))
    out_schema = T.StructType(
        [
            T.StructField(q_key, queries_df.schema[q_key].dataType),
            T.StructField(key, emb_df.schema[key].dataType),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def score(batches):
        q_ids_l, Q_l, qn_l, C_l, probes_l = bc.value
        if not len(q_ids_l):
            return
        for batch in batches:
            if not batch.num_rows:
                continue
            V32 = _list_matrix(batch.column(vec))
            _check_width(Q_l, V32.shape[1])
            by_key, ranks = _key_order(batch.column(key))
            rows_per_q = None
            if C_l is not None:
                # the list assignment is a BLAS matmul over a whole
                # Arrow batch, so its float sums depend on the batch's
                # shape. Safe for the exact ann_ivf oracle: that
                # variation is bounded far below the >=1e-6 assignment
                # margin the fixture asserts at generation
                # (sources/truth.py). argmax ties -> lowest list id.
                assign = np.argmax(V32 @ C_l, axis=1)
                rows_per_q = [np.nonzero(np.isin(assign, p))[0] for p in probes_l]
            out_q, out_k, out_c = _batch_topk_scores(V32, ranks, Q_l, qn_l, k, rows_per_q)
            if out_q:
                yield {
                    q_key: take(q_ids_l, np.concatenate(out_q)),
                    key: take(batch.column(key), by_key[np.concatenate(out_k)]),
                    "cosine": np.concatenate(out_c),
                }

    scored = map_arrow(_corpus(emb_df, key, vec), score, out_schema)
    w = Window.partitionBy(q_key).orderBy(F.col("cosine").desc(), F.col(key).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(q_key, key, "cosine", F.col("rank").cast("int").alias("rank"))
    )


def cosine_topk(
    emb_df: DataFrame,
    queries_df: DataFrame,
    k: int = 5,
    key: str = "vec_id",
    vec: str = "embedding",
    q_key: str = "q_id",
    q_vec: str = "q_vec",
) -> DataFrame:
    """Exact top-k by cosine for each query vector: one ``_topk`` scan
    over every non-NULL corpus vector (measured 3.3 s -> 0.4 s on the
    sf1.0 bench against the JVM higher-order-function fold, which
    evaluated 3 interpreted 64-element folds per scored pair). Output
    (q_key, key, cosine, rank), rank 1..k by (cosine DESC, key ASC)."""
    return _topk(emb_df, queries_df, k, key, vec, q_key, q_vec)


# the IVF centroid build trains on at most this many corpus rows (the
# smallest keys), starting Lloyd's from an rng seeded with _SEED
_MAX_SAMPLE = 100_000
_SEED = 13


def _lloyd(sample: np.ndarray, n_centroids: int, iters: int = 5) -> np.ndarray:
    rng = np.random.default_rng(_SEED)
    idx = rng.choice(len(sample), size=min(n_centroids, len(sample)), replace=False)
    centroids = sample[idx].copy()
    for _ in range(iters):
        d = sample @ centroids.T
        assign = np.argmax(d, axis=1)
        for c in range(len(centroids)):
            members = sample[assign == c]
            if len(members):
                m = members.mean(axis=0)
                nrm = np.linalg.norm(m)
                if nrm > 0:
                    centroids[c] = m / nrm
    return centroids


def cosine_topk_ivf(
    emb_df: DataFrame,
    queries_df: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    key: str = "vec_id",
    vec: str = "embedding",
    q_key: str = "q_id",
    q_vec: str = "q_vec",
) -> DataFrame:
    """IVF approximate top-k: the ``_topk`` scan of cosine_topk, with
    each query restricted to the corpus rows of its n_probe closest
    centroid lists. Scales as O(rows/n_centroids * n_probe) per query
    instead of O(rows); with n_probe >= n_centroids it returns exactly
    cosine_topk's rows.

    Lloyd's trains on a driver-side sample HARD-CAPPED at _MAX_SAMPLE
    rows — never an O(corpus) collect, so the build path is safe at
    10^9+ vectors; training k-means on a bounded sample is the
    standard IVF procedure. Quality only needs sample >> n_centroids.
    The cap takes the _MAX_SAMPLE SMALLEST keys (TakeOrderedAndProject:
    O(n log k) scan, bounded memory, no full sort) rather than a bare
    limit(), whose row choice would depend on partition layout and
    make centroids — and therefore query results — nondeterministic
    across parallelism levels.

    List assignment, probe filtering and scoring run fused in the one
    scan kernel, and each batch emits only its per-query top-k
    survivors into the window (measured 4.6 s -> ~1 s at bench sf1.0
    against the former assign -> broadcast-join -> JVM fold chain)."""
    sample_df = _corpus(emb_df, key, vec).orderBy(key).limit(_MAX_SAMPLE)
    _, sample = _arrow_matrix(sample_df, key, vec)
    sample /= np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    return _topk(
        emb_df, queries_df, k, key, vec, q_key, q_vec, _lloyd(sample, n_centroids), n_probe
    )
