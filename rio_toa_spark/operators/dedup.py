"""Deduplication operators for training-data pipelines.

Every variant uses the cross-engine md5 hash primitive, so each one
has an exact DuckDB oracle twin:

* exact_dedup           — hash-groupBy on normalized text
* ngram_jaccard_pairs   — MinHash-LSH near-dup pairs: one numpy kernel
                          (token-hash shingles, k permutations, band
                          buckets), the bucket groupBy, then one exact
                          Jaccard verify kernel; or exact Jaccard on
                          caller-given candidate pairs
* simhash               — 32-bit weighted-majority bit signature
* embedding_near_dups   — cosine near-duplicate pairs over embeddings

Scale notes: candidate generation is always (band, bucket-hash) or
cell equi-joins — never an O(n^2) cross join; the quadratic step runs
only inside buckets (LSH guarantees small buckets w.h.p.). groupBys
are partial-aggregated map-side by Catalyst.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rio_toa_spark.operators import map_arrow, numpy_view, take, value_offsets
from rio_toa_spark.operators.textstats import portable_hash64

# Mersenne prime 2^31-1: (a * (h % p) + b) stays < 2^62, so the mix
# never overflows int64 — safe under Spark ANSI mode and bit-identical
# in DuckDB's int64 arithmetic (the oracle twin).
MERSENNE31 = (1 << 31) - 1
_MINHASH_A = 1103515245
_MINHASH_B = 12345
# 16 minhashes in 4 bands of 4 rows; the DuckDB twin
# (__spark_entry__._MINHASH_LSH_SQL) hard-codes the same shape
_MINHASH_HASHES = 16
_LSH_BANDS = 4
_LSH_ROWS_PER_BAND = 4


def _parallelize(df: DataFrame) -> DataFrame:
    """Spread compute-heavy narrow ops across the cluster when the
    source arrives as too few input files (tiny-file inputs read as
    one task). Uses the plan's file listing — NOT df.rdd, which would
    force a full plan-to-RDD conversion on the driver per call. At
    real scale inputs have plentiful file splits and this is a no-op."""
    target = df.sparkSession.sparkContext.defaultParallelism
    files = df.inputFiles()
    if files and len(files) >= max(2, target // 2):
        return df
    # few files, but parquet splits by byte range: a single large file
    # still fans out into ~size/maxPartitionBytes scan tasks. Only pay
    # the repartition shuffle when the splittable-size signal says the
    # scan really is under-parallel (exactly the big-input case where
    # an unconditional shuffle would hurt most).
    if files:
        try:
            max_pb = _parse_bytes(
                df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", "128MB")
            )
            # early-exit once enough splittable bytes are seen: the
            # stat loop does O(min(#files, threshold)) driver syscalls,
            # never O(#files) — though by the len() guard above this
            # branch only ever runs on a handful of files anyway
            # same boundary as ceil(total/max_pb) >= threshold
            need = (max(2, target // 2) - 1) * max_pb + 1
            total = 0
            for uri in files:
                path = uri[len("file:") :] if uri.startswith("file:") else uri
                total += os.path.getsize(path)
                if total >= need:
                    return df
        except OSError:
            pass  # non-local URIs: fall through to the conservative shuffle
    return df.repartition(target)


def _parse_bytes(v: str) -> int:
    v = v.strip().lower().rstrip("b")
    for suffix, mult in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("t", 1 << 40)):
        if v.endswith(suffix):
            return int(float(v[:-1]) * mult)
    return int(v)


def normalized_text(text_col: Column) -> Column:
    return F.regexp_replace(F.trim(F.lower(text_col)), r"\s+", " ")


def exact_dedup(df: DataFrame, text: str = "text", key: str = "doc_id") -> DataFrame:
    """Keep one representative (min key) per distinct normalized text.
    A single hash-aggregate shuffle on the 60-bit content hash.

    Deliberately NOT _parallelize()d: the md5 projection runs at scan
    parallelism and only (hash, key) reaches the shuffle; a
    pre-repartition would move the full text payload through an extra
    exchange to parallelize a projection that is cheap relative to it
    (measured 0.97 s -> 0.75 s at bench sf1.0 — parquet inputs large
    enough for the hash to matter split fine on their own)."""
    return (
        df.withColumn("_h", portable_hash64(normalized_text(F.col(text))))
        .groupBy("_h")
        .agg(F.min(F.col(key)).alias(key), F.count("*").alias("dup_count"))
        .drop("_h")
    )


def shingles(text_col: Column, n: int = 3) -> Column:
    """Word n-gram shingle array (distinct, order-free set semantics)."""
    tokens = F.split(normalized_text(text_col), " ")
    count = F.size(tokens)
    idx = F.sequence(F.lit(0), F.greatest(count - n, F.lit(0)))
    grams = F.when(
        count >= n,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, n))),
    ).otherwise(F.array(F.concat_ws(" ", tokens)))
    return F.array_distinct(grams)


def shingle_hashes(text_col: Column, n: int = 3) -> Column:
    """Distinct 60-bit hashes of the shingle set (builds the n-word
    strings then md5s each). The MinHash-LSH path hashes per TOKEN
    instead, inside _banded_signature_kernel — one md5 per token and
    pure int64 arithmetic per shingle, with identical set semantics."""
    return F.transform(shingles(text_col, n), lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"))


# polynomial-combine base for token-hash shingles; weights are
# base^(j+1) mod M31 so the combine is order-sensitive and exactly
# reproducible in ANSI SQL (DuckDB twin embeds the same literals)
_SHINGLE_BASE = 1000003


def shingle_weights(n: int) -> list[int]:
    return [pow(_SHINGLE_BASE, j + 1, MERSENNE31) for j in range(n)]


def _bucket_pairs(
    banded: DataFrame,
    group_cols: list[str],
    key: str,
    payload: str,
    payload_a: str,
    payload_b: str,
    op: str,
) -> DataFrame:
    """Candidate-pair expansion for the simhash and embedding LSH
    families: groupBy(group_cols) -> sorted collect_list -> all
    within-bucket (group_cols..., a, b, payload_a, payload_b) pairs
    with a < b.

    Precondition: ``key`` is unique per row. A key repeated inside a
    bucket sorts next to itself and pairs with itself; such a pair
    raises ``duplicate key K in <op> input``. The check is a filter
    ahead of the caller's verify, so it sees every candidate pair, and
    a consumer that selects some columns or only counts rows cannot
    prune it away.

    Two exchanges: the bucket ``Exchange hashpartitioning`` of the
    groupBy, then a ``RoundRobinPartitioning`` repartition of the
    bucket rows. The signature/payload pipeline feeding ``banded`` runs
    exactly once (no self-join, no cache). The repartition pins
    parallelism for the quadratic expansion stage — AQE's size-based
    coalescing sees tiny bytes and would serialize the work-heavy stage
    to ~1 task (measured 4x end-to-end regression).
    """
    spark = banded.sparkSession
    item = F.struct(F.col(key).alias("a"), F.col(payload).alias("s"))
    buckets = (
        banded.groupBy(*group_cols)
        .agg(F.sort_array(F.collect_list(item)).alias("_ms"))
        .where(F.size("_ms") >= 2)
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def pair(x, y):
        return F.struct(
            x["a"].alias("a"), y["a"].alias("b"),
            x["s"].alias(payload_a), y["s"].alias(payload_b),
        )

    pair_structs = F.flatten(
        F.transform(
            F.col("_ms"),
            lambda x, i: F.transform(
                F.slice(F.col("_ms"), i + 2, F.size(F.col("_ms"))),
                lambda y: pair(x, y),
            ),
        )
    )
    a = F.col("p.a")
    dup = F.raise_error(
        F.concat(F.lit("duplicate key "), a.cast("string"), F.lit(" in %s input" % op))
    )
    return (
        buckets.select(*group_cols, F.explode(pair_structs).alias("p"))
        .where(F.when(a == F.col("p.b"), dup).otherwise(F.lit(True)))
        .select(*group_cols, "p.a", "p.b", "p.%s" % payload_a, "p.%s" % payload_b)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame | None = None,
    text: str = "text",
    key: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs (or LSH candidates when
    ``pairs`` is None): |A ∩ B| / |A ∪ B| >= threshold.

    When ``pairs`` is None the LSH candidate step and the verify step
    are FUSED: the shingle arrays ride through the bucket groupBy, so
    candidates emerge with both shingle sets attached and the Jaccard
    verifies in place. The corpus text is read and shingled exactly
    once (the join-back form re-shingles it twice more — measured 2x
    slower end-to-end at bench scale), and nothing is cached.

    Precondition of the LSH form: ``key`` is unique per row. Each pair
    is emitted once, from the first band its two docs share, which
    holds only when a key names one doc. A bucket that holds the same
    key twice raises ValueError naming that key (checked inside the
    verify kernel, no extra Spark job); rows with a repeated key whose
    texts never share a bucket go unnoticed and are each paired
    independently."""
    inter_ab = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union_ab = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    if pairs is None:
        return _lsh_jaccard_fused(df, text, key, shingle_n, threshold)
    sh = _parallelize(df).select(F.col(key), shingles(F.col(text), shingle_n).alias("sh"))
    a = sh.select(F.col(key).alias("a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(key).alias("b"), F.col("sh").alias("sh_b"))
    return (
        pairs.join(a, "a")
        .join(b, "b")
        .withColumn("jaccard", inter_ab.cast("double") / union_ab)
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def _lsh_jaccard_fused(
    df: DataFrame,
    text: str,
    key: str,
    shingle_n: int,
    threshold: float,
) -> DataFrame:
    """Single-pass MinHash-LSH near-dup pipeline: shingle-hash ->
    minhash -> band buckets (hash arrays carried along) -> within-
    bucket pairs with exact Jaccard verify. One text scan, zero
    caching, zero joins. Past ``_parallelize`` (which repartitions
    only an under-split input), there is one shuffle, the bucket
    groupBy: each pair is emitted only from the first band its two
    docs share, so the pair stream is already unique and needs no
    distinct().

    The verify intersects the DISTINCT token-hash shingle hashes, not
    the shingle strings: |hash(A) ∩ hash(B)| / |hash(A) ∪ hash(B)|
    equals the string-set Jaccard (31-bit collisions are ~n^2/2^32 per
    doc, negligible at these set sizes, and the hashes are IDENTICALLY
    computed by the DuckDB twin, so the cross-engine gate still holds
    exactly) while shuffling 8-byte longs instead of shingle text and
    comparing integers instead of strings.

    The within-bucket pair expansion + Jaccard verify run fused inside
    ONE vectorized numpy kernel over the collected buckets instead of
    the generic _bucket_pairs HOF expansion: on dup-heavy corpora a
    bucket of b members expands to b(b-1)/2 candidate rows each paying
    a JVM array_intersect + array_union hash-set build (25.4M
    candidates / ~21 s at bench sf1.0), while the kernel computes the
    same intersection counts with one factorize + 0/1-matrix matmul
    per bucket, whatever its size, and emits only passing pairs as
    rows (exactness: see _bucket_jaccard_verify)."""
    from pyspark.sql import types as T

    # tokenize -> md5 token hash -> shingle combine -> distinct ->
    # minhash -> band bucket, all fused in one numpy/hashlib kernel
    # over the Spark-normalized text (normalization stays JVM-side so
    # Java regex/lowercase semantics are preserved); see
    # _banded_signature_kernel for the integer pipeline the DuckDB
    # twin reproduces. A per-task token->hash cache exploits
    # vocabulary repetition; measured 3.5 s -> 1.1 s for the banded
    # stage at bench sf1.0 against the JVM expression form.
    #
    # Each member also carries its packed ALL-band bucket hashes ("hb",
    # bands x int64 = 32 B on top of the ~hundreds-of-bytes shingle
    # payload) so the verify kernel can emit each pair only from its
    # FIRST shared band: a doc sits in exactly one bucket per band and
    # one bucket row exists per (band, bucket), so first-shared-band
    # emission makes the pair stream globally unique.
    nt = _parallelize(df).select(F.col(key), normalized_text(F.col(text)).alias("_nt"))
    key_dt = df.schema[key].dataType
    # the one kernel still on mapInPandas:
    # perfbench/tests/test_minhash_defect.py feeds it a pandas frame,
    # so it moves onto map_arrow together with that test
    banded = nt.mapInPandas(
        _banded_signature_kernel(
            key, shingle_n, _MINHASH_HASHES, _LSH_BANDS, _LSH_ROWS_PER_BAND
        ),
        T.StructType(
            [
                T.StructField(key, key_dt),
                T.StructField("sh", T.BinaryType()),
                T.StructField("band", T.IntegerType()),
                T.StructField("bucket", T.LongType()),
                T.StructField("hb", T.BinaryType()),
            ]
        ),
    )

    # same bucket-collect shape as _bucket_pairs: sort_array fixes the
    # deterministic a < b member order; key/set columns are extracted
    # from the SAME sorted struct array so they stay aligned (keys are
    # unique within a bucket — one bucket per doc per band, and the
    # verify kernel raises on a repeated key — so the extra struct
    # fields never affect the sort order)
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col(key).alias("a"), F.col("sh").alias("s"), F.col("hb").alias("h"))
                )
            ).alias("_ms")
        )
        .where(F.size("_ms") >= 2)
    )
    # NO explicit repartition here (unlike _bucket_pairs): the bucket
    # rows carry the sh payloads, so a parallelism-pinning repartition
    # re-shuffles the full payload a second time (~340 MB / 0.4 s at
    # bench sf1.0). AQE's default parallelismFirst keeps the groupBy
    # output at full parallelism whenever the bucket table exceeds
    # ~minPartitionSize x parallelism (32 MB at defaults) — below
    # that, the kernel work a coalesced partition holds is small by
    # the same byte bound.
    bucket_cols = buckets.select(
        F.col("band"),
        F.col("_ms.a").alias("ks"),
        F.col("_ms.s").alias("ss"),
        F.col("_ms.h").alias("hs"),
    )
    out_schema = T.StructType(
        [
            T.StructField("a", key_dt),
            T.StructField("b", key_dt),
            T.StructField("jaccard", T.DoubleType()),
        ]
    )
    return map_arrow(bucket_cols, _bucket_jaccard_verify(threshold), out_schema)


def _banded_signature_kernel(
    key: str,
    shingle_n: int,
    num_hashes: int,
    bands: int,
    rows_per_band: int,
):
    """Kernel factory for the fused signature+banding stage: rows of
    (key, _nt normalized text) -> ``bands`` rows of (key, sh, band,
    bucket, hb) per doc, where hb is the doc's packed all-band bucket
    hashes (bands x native int64 bytes) for the verify kernel's
    first-shared-band pair dedup.

    Integer pipeline, reproduced exactly by the DuckDB twin of
    ``minhash_lsh_pairs`` (__spark_entry__._MINHASH_LSH_SQL):
    * token hash = int64(md5(token)[:15 hex]) % M31, one md5 per
      DISTINCT token thanks to the per-task cache;
    * shingle_i = sum_j(th[i+j] * w_j % M31) % M31 over a flat
      segment-indexed array (short docs < n tokens take the exact
      sequential (acc * base + h) % M31 fold in python ints);
    * per-doc distinct via one flat sort of (doc_idx << 31 | gram);
    * minhash sig_i = min((a_i * h + b_i) % M31) via minimum.reduceat;
    * bucket = int64(md5(",".join(band slice as decimal))[:15]).
    Docs with NULL text are skipped: in SQL every jaccard involving a
    NULL set is NULL and filtered, so no output either way."""
    import hashlib

    import numpy as np
    import pandas as pd

    M = MERSENNE31
    W = [np.int64(w) for w in shingle_weights(shingle_n)]
    AS = [np.int64(_MINHASH_A * (i + 1) % M) for i in range(num_hashes)]
    BS = [np.int64(_MINHASH_B * (i + 1) % M) for i in range(num_hashes)]
    BFMT = ",".join(["%d"] * rows_per_band)

    def run(batches):
        md5 = hashlib.md5
        cache: dict = {}
        bcache: dict = {}

        def tokh(t):
            h = cache.get(t)
            if h is None:
                h = int(md5(t.encode("utf-8")).hexdigest()[:15], 16) % M
                cache[t] = h
            return h

        import itertools

        for pdf in batches:
            keys_in = pdf[key].to_numpy()
            texts = pdf["_nt"].tolist()
            doc_keys = []
            tok_lists = []
            counts_l = []
            for ki, t in zip(keys_in, texts):
                if t is None:
                    continue
                toks = t.split(" ")
                doc_keys.append(ki)
                tok_lists.append(toks)
                counts_l.append(len(toks))
            n_docs = len(doc_keys)
            if not n_docs:
                continue
            counts = np.asarray(counts_l, np.int64)
            # factorize the whole batch's token stream in C, md5 only
            # the batch-unique tokens (plus the per-task cache): the
            # per-token python generator path measured ~2µs/token
            flat_tokens = np.asarray(
                list(itertools.chain.from_iterable(tok_lists)), dtype=object
            )
            codes, uniques = pd.factorize(flat_tokens)
            uh = np.fromiter((tokh(u) for u in uniques), np.int64, len(uniques))
            flat = uh[codes]
            starts = np.concatenate(([0], np.cumsum(counts)[:-1]))

            # shingle grams over the flat array: positions whose window
            # stays inside one doc (docs with < n tokens handled below)
            gcounts = np.maximum(counts - (shingle_n - 1), 0)
            gtotal = int(gcounts.sum())
            if gtotal:
                gdoc = np.repeat(np.arange(n_docs), gcounts)
                gstarts = np.concatenate(([0], np.cumsum(gcounts)[:-1]))
                gpos = np.repeat(starts, gcounts) + (
                    np.arange(gtotal) - np.repeat(gstarts, gcounts)
                )
                grams = (flat[gpos] * W[0]) % M
                for j in range(1, shingle_n):
                    grams = grams + (flat[gpos + j] * W[j]) % M
                grams %= M
            else:
                gdoc = np.empty(0, np.int64)
                grams = np.empty(0, np.int64)
            # short docs: exact sequential fold in python ints
            short = np.nonzero(counts < shingle_n)[0]
            if short.size:
                sdoc, sgram = [], []
                for d in short:
                    acc = 0
                    for h in flat[starts[d] : starts[d] + counts[d]]:
                        acc = (acc * _SHINGLE_BASE + int(h)) % M
                    sdoc.append(d)
                    sgram.append(acc)
                gdoc = np.concatenate([gdoc, np.asarray(sdoc, np.int64)])
                grams = np.concatenate([grams, np.asarray(sgram, np.int64)])
            # per-doc distinct (sorted; no consumer observes order)
            keyed = (gdoc << np.int64(31)) | grams
            keyed = np.sort(keyed)
            keep = np.concatenate(([True], keyed[1:] != keyed[:-1]))
            kept = keyed[keep]
            udoc = kept >> np.int64(31)
            uval = kept & np.int64((1 << 31) - 1)
            ucounts = np.bincount(udoc, minlength=n_docs)
            ustarts = np.concatenate(([0], np.cumsum(ucounts)[:-1]))

            # minhash: k permutation passes + segment mins
            sig = np.empty((num_hashes, n_docs), np.int64)
            for i in range(num_hashes):
                p = (AS[i] * uval + BS[i]) % M
                sig[i] = np.minimum.reduceat(p, ustarts)

            # band buckets: md5 of the comma-joined decimal band slice.
            # The per-doc string is built with one C-level %-format
            # over python ints (tolist) instead of a str() generator
            # per element (~1.6x), and a per-task slice-bytes cache
            # skips format+md5 entirely for repeated band slices —
            # near-dup corpora repeat slices heavily (that is exactly
            # what makes them candidates), and md5 of equal strings is
            # equal, so the cache is exact.
            bucket = np.empty((bands, n_docs), np.int64)
            for b in range(bands):
                rows = np.ascontiguousarray(
                    sig[b * rows_per_band : (b + 1) * rows_per_band].T
                )
                cols = rows.tolist()
                out_b = bucket[b]
                bget = bcache.get
                for d in range(n_docs):
                    kb = rows[d].tobytes()
                    v = bget(kb)
                    if v is None:
                        v = int(
                            md5((BFMT % tuple(cols[d])).encode()).hexdigest()[:15], 16
                        )
                        bcache[kb] = v
                    out_b[d] = v

            # pack each doc's sorted distinct shingle set as raw
            # little-endian int32 bytes: the payload crosses the band
            # shuffle as one binary cell instead of a nested int array
            # (smaller UnsafeRow, far cheaper Arrow->pandas on the
            # bucket side)
            shb = uval.astype("<i4").tobytes()
            ends = ucounts.cumsum() * 4
            sh_arrays = [
                shb[int(e - c * 4) : int(e)] for c, e in zip(ucounts, ends)
            ]
            # packed per-doc all-band bucket hashes (native int64
            # bytes — produced and consumed python-side only)
            hrows = np.ascontiguousarray(bucket.T)
            hb_list = [hrows[d].tobytes() for d in range(n_docs)]
            dk = np.asarray(doc_keys)
            yield pd.DataFrame(
                {
                    key: np.tile(dk, bands),
                    "sh": pd.Series(
                        [sh_arrays[d] for _ in range(bands) for d in range(n_docs)],
                        dtype=object,
                    ),
                    "band": np.repeat(np.arange(bands, dtype=np.int32), n_docs),
                    "bucket": bucket.reshape(-1),
                    "hb": pd.Series(
                        [hb_list[d] for _ in range(bands) for d in range(n_docs)],
                        dtype=object,
                    ),
                }
            )

    return run


def _bucket_jaccard_verify(threshold: float):
    """Kernel factory: per bucket row (band, ks = member keys sorted,
    ss = aligned shingle-hash sets, hs = aligned packed all-band bucket
    hashes), emit every member pair (a, b, jaccard) with a before b in
    bucket order and jaccard >= threshold.

    Per bucket, whatever its size: factorize the bucket's shingle
    hashes, build its 0/1 member x shingle matrix, and one float32
    matmul gives every exact integer intersection count (exact below
    2^24; set sizes are far smaller). |A∪B| = |A|+|B|-|A∩B| for
    distinct arrays, and the float64 division matches Spark's
    int->double cast + double divide bit-for-bit. J(A,A) = |A|/|A| =
    1.0 exactly in both engines (0/0 -> NaN fails the threshold, also
    both engines). A bucket of n members costs O(n^2) here; a bucket
    of n identical docs emits n(n-1)/2 pairs whatever the kernel does.

    First-shared-band emission: a passing pair is emitted ONLY when no
    band before this row's band is also shared by both members (equal
    band slice <=> equal bucket hash — the md5 is a pure function of
    the slice, and candidate grouping keys on that same hash). Each
    pair then leaves the kernel exactly once globally — from its first
    shared band — so no distinct() exchange follows. The jaccard value
    is band-independent, so WHICH band emits is unobservable in the
    result. That uniqueness needs one doc per key: a bucket holding
    the same key twice raises ValueError."""
    import numpy as np
    import pyarrow.compute as pc

    # cached upper-triangle index pairs per bucket size (bucket sizes
    # repeat heavily; np.triu_indices is ~40% of the kernel's cost)
    _triu_cache: dict = {}

    def _triu(b):
        iu = _triu_cache.get(b)
        if iu is None:
            iu = np.triu_indices(b, 1)
            _triu_cache[b] = iu
        return iu

    def _passing_pairs(flat, lens):
        """Positions (i < j in sorted bucket order) and jaccards of the
        member pairs at or above the threshold, for members whose int32
        shingle sets lie back to back in ``flat`` with sizes ``lens``.
        A function of its own so the n x n temporaries are freed
        before the caller maps positions to keys."""
        n = len(lens)
        uniq, inv = np.unique(flat, return_inverse=True)
        M = np.zeros((n, uniq.size), np.float32)
        M[np.repeat(np.arange(n), lens), inv] = 1.0
        inter = (M @ M.T).astype(np.float64)
        with np.errstate(invalid="ignore", divide="ignore"):
            jac = inter / (lens[:, None] + lens[None, :] - inter)
        iu, ju = _triu(n)
        jv = jac[iu, ju]
        keep = jv >= threshold  # NaN (0/0) compares False, like SQL NULL/NaN
        return iu[keep], ju[keep], jv[keep]

    def _members(col):
        """A (null-free) list<binary> column read in place: each bucket
        row's [start, end) into its members, each member's [start, end)
        into the shared bytes, and those bytes."""
        members = col.values
        data = members.buffers()[2]
        return (
            value_offsets(col),
            value_offsets(members),
            np.frombuffer(data, np.uint8) if data is not None else np.zeros(0, np.uint8),
        )

    def _check_unique_keys(keys, rows):
        """Raise on a key repeated inside one bucket row (members are
        sorted, so a repeat is two equal neighbours in the same row)."""
        lo, hi = int(rows[0]), int(rows[-1])
        if hi - lo < 2:
            return
        same = numpy_view(pc.equal(keys.slice(lo + 1, hi - lo - 1), keys.slice(lo, hi - lo - 1)))
        row_start = np.zeros(len(same), bool)
        row_start[rows[1:-1] - lo - 1] = True
        dup = np.nonzero(same & ~row_start)[0]
        if dup.size:
            raise ValueError(
                "duplicate doc key %s in ngram_jaccard_pairs input: "
                "the LSH path needs one row per key" % keys[lo + 1 + int(dup[0])].as_py()
            )

    def run(batches):
        for batch in batches:
            out_a: list = []
            out_b: list = []
            out_j: list = []
            keys = batch.column("ks").values
            ks_rows = value_offsets(batch.column("ks"))
            _check_unique_keys(keys, ks_rows)
            ss_rows, ss_off, ss_data = _members(batch.column("ss"))
            hs_rows, hs_off, hs_data = _members(batch.column("hs"))
            band_col = batch.column("band").to_pylist()
            for r in range(batch.num_rows):
                m0, m1 = ss_rows[r], ss_rows[r + 1]
                ia, ib, jv = _passing_pairs(
                    ss_data[ss_off[m0] : ss_off[m1]].view(np.int32),
                    np.diff(ss_off[m0 : m1 + 1]) // 4,
                )
                if not ia.size:
                    continue
                if band_col[r]:
                    h0, h1 = hs_off[hs_rows[r]], hs_off[hs_rows[r + 1]]
                    hmat = hs_data[h0:h1].view(np.int64).reshape(m1 - m0, -1)[:, : band_col[r]]
                    first = ~(hmat[ia] == hmat[ib]).any(axis=1)
                    if not first.all():
                        ia, ib, jv = ia[first], ib[first], jv[first]
                        if not ia.size:
                            continue
                out_a.append(ks_rows[r] + ia)
                out_b.append(ks_rows[r] + ib)
                out_j.append(jv)
            if out_a:
                yield {
                    "a": take(keys, np.concatenate(out_a)),
                    "b": take(keys, np.concatenate(out_b)),
                    "jaccard": np.concatenate(out_j),
                }

    return run


def simhash(text_col: Column, bits: int = 32, shingle_n: int = 2) -> Column:
    """SimHash: for each bit position, sum +1/-1 votes from every
    shingle hash; bit = 1 when the vote is positive.

    One fold over the shingle hashes builds the whole vote vector
    (per-bit aggregates would re-evaluate the md5 pipeline `bits`
    times), then a second tiny fold assembles the signature."""
    masks = F.array(*[F.lit(1 << i).cast("long") for i in range(bits)])
    votes = F.aggregate(
        shingle_hashes(text_col, shingle_n),
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.sequence(F.lit(1), F.lit(bits)),
            lambda v, i: v
            + F.when(h.bitwiseAND(F.element_at(masks, i)) != 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes,
            F.sequence(F.lit(1), F.lit(bits)),
            lambda v, i: F.when(v > 0, F.element_at(masks, i)).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def simhash_near_dups(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-dup pairs sharing at least one identical SimHash byte-band,
    verified exactly with bit_count(xor) <= max_hamming.

    Recall contract (pigeonhole over 4 bands): a pair is GUARANTEED to
    share a band only when hamming <= 3; for 3 < max_hamming the
    banding is a standard LSH recall/cost trade — pairs whose >= 4
    differing bits spread across all four bands are not candidates.
    Raise n_bands (narrower bands) for guaranteed recall at higher
    radii. The DuckDB oracle twin mirrors the identical candidate
    condition, so the correctness gate checks the implemented
    semantics, not full-radius recall.

    groupBy(bucket) + within-bucket expansion (_bucket_pairs): no
    cache, no signature recompute. A pair sharing several bands is a
    candidate in each; it is kept only in the first byte-band its two
    signatures share, so each pair is emitted once without a
    distinct(). The plan holds one hash exchange (the bucket groupBy)
    plus round-robin repartitions: _bucket_pairs' parallelism pin
    always, and _parallelize's on an under-split input (both at
    sf0.001).

    Precondition: ``key`` is unique per row; a key repeated within a
    bucket raises (see _bucket_pairs)."""
    n_bands = 4
    band_width = bits // n_bands

    def band_bits(c: Column, b: int) -> Column:
        return F.shiftright(c, b * band_width).bitwiseAND(F.lit((1 << band_width) - 1))

    sig_df = _parallelize(df).select(
        F.col(key), simhash(F.col(text), bits, shingle_n=shingle_n).alias("sig")
    )
    banded = sig_df.select(
        key,
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        band_bits(F.col("sig"), b).alias("bucket"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(key, "sig", "bb.band", "bb.bucket")
    xor = F.col("sa").bitwiseXOR(F.col("sb"))
    hamming = F.bit_count(xor)
    first_band = F.coalesce(
        *[F.when(band_bits(xor, b) == 0, F.lit(b)) for b in range(n_bands)]
    )
    return (
        _bucket_pairs(
            banded, ["band", "bucket"], key,
            payload="sig", payload_a="sa", payload_b="sb", op="simhash_near_dups",
        )
        .where((F.col("band") == first_band) & (hamming <= max_hamming))
        .select("a", "b", hamming.alias("hamming"))
    )


def embedding_near_dups(
    emb_df: DataFrame,
    key: str = "vec_id",
    vec: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs.

    Candidates: sign-random-projection LSH — deterministic hyperplanes
    h_j from md5 of (j, dim index); docs sharing the full sign
    signature land in one bucket. Exact cosine verifies. At 100 TB the
    bucket join replaces the cross join; brute force remains available
    through similarity.cosine_topk for small dims.

    Precondition: ``key`` is unique per row; a key repeated within a
    bucket raises (see _bucket_pairs).
    """
    # cast to double BEFORE the multiply: float32*float32 rounds to
    # float32 while the DuckDB oracle twin multiplies doubles — the
    # explicit cast makes both engines do the identical double ops
    norm = F.sqrt(
        F.aggregate(
            F.col(vec), F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")
        )
    )
    # HOF rule (see CLAUDE.md): an expression referenced inside a
    # transform lambda is re-evaluated per element — embedding the
    # norm fold there would be O(d^2) per row. array_repeat evaluates
    # the fold ONCE per row and zip_with's lambda then touches only
    # bound values.
    norm_arr = F.array_repeat(norm, F.size(F.col(vec)))
    normed = _parallelize(emb_df).select(
        F.col(key),
        F.zip_with(F.col(vec), norm_arr, lambda x, n: x.cast("double") / n).alias("_v"),
    )

    def plane_sign(j: int) -> Column:
        # pseudo-random +-1 weights from a hash of (plane, index)
        weighted = F.aggregate(
            F.zip_with(
                F.col("_v"),
                F.sequence(F.lit(0), F.size(F.col("_v")) - 1),
                lambda x, i: x
                * F.when(
                    F.conv(F.substring(F.md5(F.concat_ws("_", F.lit(j), i)), 1, 15), 16, 10)
                    .cast("long")
                    .bitwiseAND(F.lit(1))
                    == 1,
                    F.lit(1.0),
                ).otherwise(F.lit(-1.0)),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        return F.when(weighted > 0, F.lit(1)).otherwise(F.lit(0))

    sig = F.concat_ws("", *[plane_sign(j).cast("string") for j in range(n_planes)])
    # groupBy(signature) + within-bucket expansion: the normalization
    # and 8-plane signature run once per vector (a bucket self-join
    # would run them twice); buckets are tiny because a full n_planes
    # sign match is required
    bucketed = normed.withColumn("_sig", sig)
    cos = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return (
        _bucket_pairs(
            bucketed, ["_sig"], key,
            payload="_v", payload_a="va", payload_b="vb", op="embedding_near_dups",
        )
        .withColumn("cosine", cos)
        .where(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


def duplicate_clusters(
    pairs_df: DataFrame,
    a: str = "a",
    b: str = "b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph:
    (node, cluster_id) with cluster_id = the minimum node id reachable
    through pair edges — the step that turns LSH/SimHash/embedding
    PAIRS into duplicate CLUSTERS a pipeline can act on.

    Min-label propagation with pointer-doubling: every node starts
    labeled with itself; each round a node (1) adopts the smallest
    label among itself and its neighbors (one hop), then (2) adopts
    its candidate label's OWN current label (the shortcut — a label is
    always a component node id, so this lookup is a self-join on the
    label table). The shortcut roughly doubles how far labels travel
    per round, so rounds needed = O(log diameter), not O(diameter) —
    the difference between 40+ rounds and ~7 on an adversarial
    million-node chain. Near-dup graphs are near-cliques anyway, and
    the label table is one row per node APPEARING IN PAIRS (orders of
    magnitude smaller than the corpus). Each round is two equi-joins +
    one hash-aggregate on that small table; ``localCheckpoint``
    truncates the growing lineage so round N's plan does not replay
    rounds 1..N-1 (the classic iterative-DataFrame trap). Raises if
    not converged by ``max_iter`` rather than returning a
    silently-partial clustering.

    Fixpoint = correct: edges are symmetrized, so at convergence both
    endpoints of every edge hold equal labels -> a component is
    uniformly labeled; labels only ever take component-node values and
    only decrease from each node's own id, so the uniform value is the
    component minimum.

    The checkpoint blocks are executor-local (lineage truncation, not
    fault tolerance — a lost executor fails the job, which resumable
    callers retry).
    """
    edges = pairs_df.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    edges = (
        edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("node2"))
            .agg(F.min("label").alias("nlabel"))
        )
        stepped = labels.join(
            neighbor_min, labels.node == neighbor_min.node2, "left"
        ).select(
            "node",
            "label",
            F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("cand"),
        )
        # pointer doubling: cand is a node id, so labels[cand] exists
        # and is <= cand; adopting it doubles the propagation distance
        lookup = labels.select(
            F.col("node").alias("lnode"), F.col("label").alias("llabel")
        )
        joined = stepped.join(lookup, stepped.cand == lookup.lnode, "left").select(
            "node",
            "label",
            F.least(F.col("cand"), F.coalesce("llabel", "cand")).alias("new_label"),
        )
        # one pass computes both the new labels and the changed count
        from pyspark.sql import Observation

        obs = Observation()
        labels = (
            joined.observe(
                obs, F.sum((F.col("new_label") < F.col("label")).cast("long")).alias("changed")
            )
            .select("node", F.col("new_label").alias("label"))
            .localCheckpoint(eager=True)  # materializes -> obs is filled
        )
        if obs.get["changed"] == 0:
            return labels
    raise ValueError(
        "duplicate_clusters did not converge in %d rounds — component "
        "diameter exceeds the cap; raise max_iter" % max_iter
    )


def drop_duplicates_clustered(
    df: DataFrame,
    pairs_df: DataFrame,
    key: str = "doc_id",
    a: str = "a",
    b: str = "b",
) -> DataFrame:
    """Keep exactly one representative (the min key) of every duplicate
    cluster and every unpaired row: the end-to-end drop step after any
    candidate+verify pipeline. Non-representative members are removed
    with a broadcast-able anti-join on the (small) cluster table."""
    clusters = duplicate_clusters(pairs_df, a=a, b=b)
    losers = clusters.where(F.col("node") != F.col("label")).select(
        F.col("node").alias(key)
    )
    return df.join(losers, key, "left_anti")
