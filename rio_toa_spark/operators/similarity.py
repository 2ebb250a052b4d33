"""Similarity search over embedding columns (array<float>).

* cosine_topk       — exact brute-force top-k: native SQL dot product
                      (zip_with + aggregate, codegen'd) + windowed
                      row_number. The correctness baseline.
* cosine_topk_ivf   — IVF-style scale path: k-means-lite centroids
                      (deterministic seeded sample, few Lloyd rounds on
                      the driver over a sampled fraction); each vector
                      assigned to its nearest centroid list; queries
                      probe the closest n_probe lists only. Exactness
                      is traded for a bounded candidate set — the ANN
                      pattern that survives 10^12 rows.

Deterministic tie-break everywhere: (distance DESC cosine, id ASC).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
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


def _vectors_to_matrix(df: DataFrame, vec: str) -> np.ndarray:
    """Driver-side (rows x dim) float64 matrix of an embedding column,
    via the Arrow path instead of the row collect (measured 1.4 s vs
    ~0.1 s at 80k x 64). Values and row order identical: Arrow
    float32 -> float64 is the same exact widening as the per-row
    python-float conversion."""
    col = df.toArrow().column(vec).combine_chunks()
    if len(col) == 0:
        return np.zeros((0, 0))
    return _list_matrix(col).astype(np.float64)


def _collect_queries(queries_df: DataFrame, q_key: str, q_vec: str):
    """Driver-side query table (queries are few — the same boundedness
    contract as the broadcast join this replaces). Returns (ids as an
    Arrow array, Q float64 matrix, per-query sequential-fold norms)."""
    from pyspark.sql.pandas.types import to_arrow_type

    rows = queries_df.select(q_key, q_vec).collect()
    ids = pa.array([r[0] for r in rows], to_arrow_type(queries_df.schema[q_key].dataType))
    if not rows:
        return ids, np.zeros((0, 0)), np.zeros(0)
    Q = np.array([r[1] for r in rows], dtype=np.float64)
    qn = np.sqrt(_seq_fold_sums(Q))
    return ids, Q, qn


def _key_order(col) -> tuple[np.ndarray, np.ndarray]:
    """A key column's rows in ascending key order (stable), and each
    row's rank in that order: the ranks stand in for the keys in the
    (cosine desc, key asc) tie-break, whatever the key's type."""
    by_key = numpy_view(pc.sort_indices(col))
    ranks = np.empty_like(by_key)
    ranks[by_key] = np.arange(len(by_key))
    return by_key, ranks


def cosine_topk(
    emb_df: DataFrame,
    queries_df: DataFrame,
    k: int = 5,
    key: str = "vec_id",
    vec: str = "embedding",
    q_key: str = "q_id",
    q_vec: str = "q_vec",
) -> DataFrame:
    """Exact top-k by cosine for each query vector. The query side is
    collected and broadcast (queries are few); the corpus streams
    map-side through a numpy kernel that replays the SQL sequential-
    fold cosine bit-for-bit (see _seq_fold_sums) and pre-prunes each
    batch to its top-k per query, so the only shuffle — the per-query
    top-k window — sees k rows per (query, batch) instead of the full
    |corpus| x |queries| score table (measured 3.3 s -> 0.4 s on the
    sf1.0 bench: the JVM higher-order-function fold evaluated 3
    interpreted 64-element folds per scored pair)."""
    spark = emb_df.sparkSession
    q_ids, Q, qn = _collect_queries(queries_df, q_key, q_vec)
    bc = spark.sparkContext.broadcast((q_ids, Q, qn))
    q_key_dt = queries_df.schema[q_key].dataType
    key_dt = emb_df.schema[key].dataType
    out_schema = T.StructType(
        [
            T.StructField(q_key, q_key_dt),
            T.StructField(key, key_dt),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def score(batches):
        q_ids_l, Q_l, qn_l = bc.value
        if not len(q_ids_l):
            return
        for batch in batches:
            if batch.column(vec).null_count:
                # a NULL vector scores NULL cosine in the SQL form and
                # never outranks a real candidate; drop it here
                batch = batch.filter(batch.column(vec).is_valid())
            if not batch.num_rows:
                continue
            V32 = _list_matrix(batch.column(vec))
            by_key, ranks = _key_order(batch.column(key))
            out_q, out_k, out_c = _batch_topk_scores(V32, ranks, Q_l, qn_l, k)
            if out_q:
                yield {
                    q_key: take(q_ids_l, np.concatenate(out_q)),
                    key: take(batch.column(key), by_key[np.concatenate(out_k)]),
                    "cosine": np.concatenate(out_c),
                }

    scored = map_arrow(emb_df.select(key, vec), score, out_schema)
    w = Window.partitionBy(q_key).orderBy(F.col("cosine").desc(), F.col(key).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(q_key, key, "cosine", F.col("rank").cast("int").alias("rank"))
    )


def _lloyd(sample: np.ndarray, n_centroids: int, iters: int = 5, seed: int = 13) -> np.ndarray:
    rng = np.random.default_rng(seed)
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
    sample_fraction: float = 1.0,
    max_sample: int = 100_000,
    seed: int = 13,
) -> DataFrame:
    """IVF approximate top-k: centroids from a deterministic seeded
    sample; corpus rows carry their nearest-centroid list id; each
    query probes its n_probe closest lists. Scales as
    O(rows/n_centroids * n_probe) per query instead of O(rows).

    The centroid build trains Lloyd's on a driver-side sample that is
    HARD-CAPPED at ``max_sample`` rows — never an O(corpus) collect,
    so the build path is safe at 10^9+ vectors; training k-means on a
    bounded sample is the standard IVF procedure. Quality only needs
    sample >> n_centroids. The cap takes the max_sample SMALLEST keys
    (TakeOrderedAndProject: O(n log k) scan, bounded memory, no full
    sort) rather than a bare limit(), whose row choice would depend on
    partition layout and make centroids — and therefore query results —
    nondeterministic across parallelism levels.

    List assignment, probe filtering and the sequential-fold cosine
    scoring run FUSED in one numpy kernel over the corpus scan (the
    former assign -> broadcast-join -> JVM fold chain materialized the
    full candidate table and paid 3 interpreted 64-element folds per
    scored pair); each batch emits only its per-query top-k survivors
    into the final window (measured 4.6 s -> ~1 s at bench sf1.0, of
    which the Arrow sample transfer replacing the row-path collect is
    another ~1.2 s). Assignments, probes and cosines are computed with
    the identical float64 arithmetic as before (f32->f64 casts are
    exact; see _seq_fold_sums)."""
    spark = emb_df.sparkSession
    sample_df = (
        emb_df.select(key, vec)
        .sample(fraction=sample_fraction, seed=seed)
        .orderBy(key)
        .limit(max_sample)
    )
    sample = _vectors_to_matrix(sample_df, vec)
    sample /= np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    centroids = _lloyd(sample, n_centroids, seed=seed)

    # query -> its n_probe closest centroid lists (deterministic
    # tie-break on list id via stable argsort) — driver-side; the
    # query table is broadcast-sized by the same contract as before
    q_ids, Q, qn = _collect_queries(queries_df, q_key, q_vec)
    C = centroids.T  # (dim, n_centroids)
    if len(q_ids) and C.size:
        probes = np.argsort(-(Q @ C), axis=1, kind="stable")[:, :n_probe]
    else:
        probes = np.zeros((len(q_ids), 0), dtype=np.int64)
    bc = spark.sparkContext.broadcast((q_ids, Q, qn, probes, C))

    q_key_dt = queries_df.schema[q_key].dataType
    key_dt = emb_df.schema[key].dataType
    out_schema = T.StructType(
        [
            T.StructField(q_key, q_key_dt),
            T.StructField(key, key_dt),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def assign_and_score(batches):
        q_ids_l, Q_l, qn_l, probes_l, C_l = bc.value
        if not len(q_ids_l):
            return
        # the list assignment below is a BLAS matmul over a whole Arrow
        # batch, so its float sums depend on the batch's shape. Safe
        # for the exact ann_ivf oracle: that variation is bounded far
        # below the >=1e-6 assignment margin the fixture asserts at
        # generation (sources/truth.py).
        for batch in batches:
            if not batch.num_rows:
                continue
            V32 = _list_matrix(batch.column(vec))
            by_key, ranks = _key_order(batch.column(key))
            # argmax of dot products; ties -> lowest list id (argmax
            # first-occurrence), matching a deterministic assignment
            assign = np.argmax(V32 @ C_l, axis=1)
            rows_per_q = [
                np.nonzero(np.isin(assign, probes_l[j]))[0]
                for j in range(len(q_ids_l))
            ]
            out_q, out_k, out_c = _batch_topk_scores(
                V32, ranks, Q_l, qn_l, k, per_query_rows=rows_per_q
            )
            if out_q:
                yield {
                    q_key: take(q_ids_l, np.concatenate(out_q)),
                    key: take(batch.column(key), by_key[np.concatenate(out_k)]),
                    "cosine": np.concatenate(out_c),
                }

    scored = map_arrow(emb_df.select(key, vec), assign_and_score, out_schema)
    w = Window.partitionBy(q_key).orderBy(F.col("cosine").desc(), F.col(key).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(q_key, key, "cosine", F.col("rank").cast("int").alias("rank"))
    )
