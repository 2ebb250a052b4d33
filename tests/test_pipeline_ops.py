"""Training-data pipeline operators over the driver-provided
documents/embeddings tables: text extraction invariant, quality/lang
features, dedup family, similarity search — each checked against an
independent Python/duckdb computation."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from rio_toa_spark.operators import dedup, similarity, textstats

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_extract_text_byte_identical(spark, pages_df):
    out = textstats.with_extracted_text(pages_df)
    bad = out.where(F.col("extracted_text") != F.col("text")).count()
    assert bad == 0
    # bytes, not just string equality
    rows = out.select("extracted_text", "text").limit(50).collect()
    for r in rows:
        assert r.extracted_text.encode("utf-8") == r.text.encode("utf-8")


def test_portable_hash_matches_duckdb(spark, docs):
    import duckdb

    got = {
        r.doc_id: r.h
        for r in docs.select("doc_id", textstats.portable_hash64(F.col("text")).alias("h")).collect()
    }
    con = duckdb.connect()
    expected = {
        d: h
        for d, h in con.sql(
            "SELECT doc_id, CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) "
            f"FROM '{SF_DIR}/documents.parquet'"
        ).fetchall()
    }
    assert got == expected


def test_token_count_matches_python(spark, docs):
    import re

    rows = docs.select("doc_id", "text", textstats.token_count(F.col("text")).alias("n")).collect()
    for r in rows[:100]:
        assert r.n == len(re.findall(r"[A-Za-z0-9]+", r.text))


def test_quality_features_ranges(spark, docs):
    out = textstats.quality_features(docs).collect()
    for r in out:
        assert 0.0 <= r.punct_ratio <= 1.0
        assert 0.0 <= r.stopword_ratio <= 1.0
        assert r.n_tokens >= 0


def test_detect_language_returns_known_lang(spark, docs):
    out = textstats.detect_language(docs).select("lang_pred").distinct().collect()
    assert {r.lang_pred for r in out} <= set(textstats.LANG_PROFILES)


def test_exact_dedup_counts(spark, docs):
    """Representatives count == distinct normalized text count; dup
    counts sum to total rows."""
    out = dedup.exact_dedup(docs).collect()
    import re

    texts = [r.text for r in docs.select("text").collect()]
    normed = {re.sub(r"\s+", " ", t.strip().lower()) for t in texts}
    assert len(out) == len(normed)
    assert sum(r.dup_count for r in out) == len(texts)


def test_shingles_and_jaccard_exact(spark, docs):
    """ngram_jaccard on forced candidate pairs equals a python oracle."""
    rows = docs.limit(12).collect()
    pairs = [(a.doc_id, b.doc_id) for a in rows for b in rows if a.doc_id < b.doc_id][:30]
    pair_df = spark.createDataFrame(pairs, ["a", "b"])
    out = dedup.ngram_jaccard_pairs(docs, pairs=pair_df, threshold=0.0).collect()

    import re

    def sh(t, n=3):
        tokens = re.sub(r"\s+", " ", t.strip().lower()).split(" ")
        if len(tokens) < n:
            return {" ".join(tokens)}
        return {" ".join(tokens[i : i + n]) for i in range(len(tokens) - n + 1)}

    texts = {r.doc_id: r.text for r in rows}
    expected = {}
    for a, b in pairs:
        A, B = sh(texts[a]), sh(texts[b])
        expected[(a, b)] = len(A & B) / len(A | B)
    got = {(r.a, r.b): r.jaccard for r in out}
    assert set(got) == set(expected)
    for kk in expected:
        assert got[kk] == pytest.approx(expected[kk], abs=1e-12)


def test_minhash_lsh_finds_planted_dups(spark, docs):
    """Plant near-duplicates (append one word) and verify LSH+verify
    recovers them."""
    base = docs.limit(20)
    dups = base.withColumn("doc_id", F.col("doc_id") + 100000).withColumn(
        "text", F.concat(F.col("text"), F.lit(" tail"))
    )
    corpus = base.unionByName(dups)
    verified = dedup.ngram_jaccard_pairs(corpus, threshold=0.7)
    got = {(r.a, r.b) for r in verified.collect()}
    planted = {(r.doc_id, r.doc_id + 100000) for r in base.collect()}
    # LSH is probabilistic but 16 hashes / 4 bands on ~0.9 jaccard
    # recovers nearly all planted pairs
    assert len(got & planted) >= int(len(planted) * 0.8)


def test_simhash_near_dups_planted(spark, docs):
    base = docs.limit(20)
    dups = base.withColumn("doc_id", F.col("doc_id") + 100000)  # identical text
    corpus = base.unionByName(dups)
    out = dedup.simhash_near_dups(corpus, max_hamming=0)
    got = {(r.a, r.b) for r in out.collect()}
    planted = {(r.doc_id, r.doc_id + 100000) for r in base.collect()}
    assert planted <= got


def test_cosine_topk_matches_numpy(spark, embs):
    corpus = embs.limit(200).cache()
    q_rows = corpus.limit(3).collect()
    queries = spark.createDataFrame(
        [(r.vec_id, r.embedding) for r in q_rows], ["q_id", "q_vec"]
    )
    out = similarity.cosine_topk(corpus, queries, k=5).collect()

    mat = np.array([r.embedding for r in corpus.collect()])
    ids = np.array([r.vec_id for r in corpus.collect()])
    for q in q_rows:
        qv = np.array(q.embedding)
        cos = mat @ qv / (np.linalg.norm(mat, axis=1) * np.linalg.norm(qv))
        order = sorted(zip(-cos, ids))[:5]
        expected = [int(i) for _, i in order]
        got = [r.vec_id for r in sorted((r for r in out if r.q_id == q.vec_id), key=lambda r: r.rank)]
        assert got == expected


def test_ragged_embeddings_raise(spark):
    """Row lengths come from the list offsets: a ragged column raises
    instead of being re-cut into equal rows ([[1], [2, 3, 4]] has 4
    values, which would also reshape to 2 x 2)."""
    df = spark.createDataFrame(
        [(1, [1.0]), (2, [2.0, 3.0, 4.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="ragged"):
        similarity._arrow_matrix(df, "vec_id", "embedding")


# both searches, with the IVF one probing every list
SEARCHES = {
    "exact": lambda corpus, queries: similarity.cosine_topk(corpus, queries, k=5),
    "ivf": lambda corpus, queries: similarity.cosine_topk_ivf(
        corpus, queries, k=5, n_centroids=2, n_probe=2
    ),
}


@pytest.mark.parametrize("search", SEARCHES.values(), ids=SEARCHES.keys())
def test_null_vectors_are_not_candidates(spark, search):
    """A corpus row with a NULL embedding is dropped by both searches,
    ahead of the scan and of the IVF sample (which read it as a
    zero-length row: "ragged embedding column")."""
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [0.0, 1.0]), (4, [1.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame([(10, [1.0, 0.5])], "q_id long, q_vec array<float>")
    got = sorted((r.rank, r.vec_id) for r in search(corpus, queries).collect())
    assert got == [(1, 4), (2, 1), (3, 3)]


@pytest.mark.parametrize("q_vec", [[1.0, 0.5, 0.25], [1.0]], ids=["wider", "narrower"])
@pytest.mark.parametrize("search", SEARCHES.values(), ids=SEARCHES.keys())
def test_query_width_must_match_corpus(spark, search, q_vec):
    """A query whose width differs from the corpus vectors' raises,
    naming both widths, instead of scoring a prefix of the query (a
    wider query) or failing on an index (a narrower one)."""
    from pyspark.errors import PythonException

    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(1, 5)], "vec_id long, embedding array<float>"
    )
    queries = spark.createDataFrame([(10, q_vec)], "q_id long, q_vec array<float>")
    width = r"query width %d != corpus vector width 2" % len(q_vec)
    with pytest.raises((ValueError, PythonException), match=width):
        search(corpus, queries).collect()


def test_ivf_probing_every_list_is_exact_search(spark, embs):
    """cosine_topk_ivf is cosine_topk's scan with fewer candidates:
    probing every list, it returns exactly cosine_topk's rows, cosines
    bit for bit."""
    queries = embs.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )

    def rows(df):
        return sorted((r.q_id, r.vec_id, r.cosine.hex(), r.rank) for r in df.collect())

    exact = rows(similarity.cosine_topk(embs, queries, k=5))
    ivf = rows(similarity.cosine_topk_ivf(embs, queries, k=5, n_centroids=8, n_probe=8))
    assert len(exact) == 5 * queries.count()
    assert ivf == exact


def test_ivf_recall_reasonable(spark, embs):
    corpus = embs.limit(300).cache()
    q_rows = corpus.limit(5).collect()
    queries = spark.createDataFrame(
        [(r.vec_id, r.embedding) for r in q_rows], ["q_id", "q_vec"]
    )
    exact = similarity.cosine_topk(corpus, queries, k=5).collect()
    approx = similarity.cosine_topk_ivf(corpus, queries, k=5, n_centroids=8, n_probe=3).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.q_id, set()).add(r.vec_id)
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r.q_id, set()).add(r.vec_id)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q]) for q in exact_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.6


def test_embedding_near_dups_planted(spark, embs):
    base = embs.limit(30)
    dups = base.withColumn("vec_id", F.col("vec_id") + 100000)
    corpus = base.unionByName(dups)
    out = dedup.embedding_near_dups(corpus, threshold=0.999)
    got = {(r.a, r.b) for r in out.collect()}
    planted = {(r.vec_id, r.vec_id + 100000) for r in base.collect()}
    assert planted <= got


def test_lsh_identical_class_buckets_exact_count(spark, docs):
    """A giant exact-duplicate class collects into one bucket row per
    band. Four identical-text classes of 70 members each give buckets
    of at least 70 members: every C(70,2) pair of each class comes out
    exactly once, at jaccard 1.0."""
    base = docs.limit(4)
    clones = (
        base.crossJoin(spark.range(70).withColumnRenamed("id", "clone"))
        .withColumn("doc_id", F.col("doc_id") + 1000 * F.col("clone"))
        .drop("clone")
    )
    rows = dedup.ngram_jaccard_pairs(clones, threshold=0.9).collect()
    assert len(rows) == 4 * (70 * 69) // 2
    assert len({(r.a, r.b) for r in rows}) == len(rows)
    assert all(r.a < r.b and r.jaccard == 1.0 for r in rows)


def test_lsh_first_band_dedup_equivalent(spark, docs):
    """The fused path emits each pair only from its FIRST shared band
    and runs no distinct(). Brute-force reference: the signature kernel
    run in-process gives every doc's (band, bucket) memberships and
    shingle-hash set; every pair sharing a bucket whose set Jaccard is
    >= 0.5 must come out, with the identical jaccard, and the stream
    must already be duplicate-free (the invariant that lets the path
    skip distinct()). One doc cloned 70 times plus 70 near-clones of it
    put buckets above 64 members under the same pair-for-pair check."""
    import pandas as pd

    def tail(df):
        return df.withColumn("text", F.concat(F.col("text"), F.lit(" tail")))

    base = docs.limit(40)
    dups = tail(base.withColumn("doc_id", F.col("doc_id") + 100000))
    k = base.agg(F.min("doc_id")).first()[0]
    clones = (
        base.where(F.col("doc_id") == k)
        .crossJoin(spark.range(1, 71).withColumnRenamed("id", "c"))
        .withColumn("doc_id", F.col("doc_id") + 200000 + F.col("c"))
        .drop("c")
    )
    near = tail(clones.withColumn("doc_id", F.col("doc_id") + 100000))
    corpus = base.unionByName(dups).unionByName(clones).unionByName(near)
    fused = dedup.ngram_jaccard_pairs(corpus, threshold=0.5)
    got = sorted((r.a, r.b, r.jaccard) for r in fused.collect())

    batch = corpus.select(
        "doc_id", dedup.normalized_text(F.col("text")).alias("_nt")
    ).toPandas()
    kernel = dedup._banded_signature_kernel(
        "doc_id", shingle_n=3, num_hashes=16, bands=4, rows_per_band=4
    )
    banded = pd.concat(list(kernel(iter([batch]))))
    members: dict = {}
    sets: dict = {}
    for k, sh, band, bucket in zip(
        banded["doc_id"], banded["sh"], banded["band"], banded["bucket"]
    ):
        members.setdefault((band, bucket), []).append(int(k))
        sets[int(k)] = set(np.frombuffer(sh, "<i4").tolist())
    ref = set()
    for ks in members.values():
        for i, x in enumerate(ks):
            for y in ks[i + 1 :]:
                a, b = min(x, y), max(x, y)
                jac = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
                if jac >= 0.5:
                    ref.add((a, b, jac))
    assert max(len(ks) for ks in members.values()) > 64
    assert got == sorted(ref)
    assert got, "planted near-dups must yield pairs"
    assert len(got) == len({(a, b) for a, b, _ in got})


def test_lsh_duplicate_doc_key_raises(spark, docs):
    """First-band emission needs one row per key: two rows sharing a
    doc_id with identical text land in every bucket together, and the
    verify kernel refuses the input, naming the key."""
    from pyspark.errors import PythonException

    base = docs.limit(5)
    k = base.agg(F.min("doc_id")).first()[0]
    corpus = base.unionByName(base.where(F.col("doc_id") == k))
    with pytest.raises(PythonException, match="duplicate doc key %d in" % k):
        dedup.ngram_jaccard_pairs(corpus, threshold=0.5).collect()


@pytest.mark.parametrize(
    "op, table, key",
    [("simhash_near_dups", "docs", "doc_id"), ("embedding_near_dups", "embs", "vec_id")],
    ids=["simhash", "embedding"],
)
def test_near_dups_duplicate_key_raises(request, op, table, key):
    """A key repeated with an identical payload pairs with itself in
    every bucket it lands in: the operator refuses the input, naming
    the key, also when the consumer prunes the key columns or only
    counts rows."""
    base = request.getfixturevalue(table).limit(5)
    k = base.agg(F.min(key)).first()[0]
    out = getattr(dedup, op)(base.unionByName(base.where(F.col(key) == k)))
    msg = "duplicate key %d in %s input" % (k, op)
    with pytest.raises(Exception, match=msg):
        out.collect()
    with pytest.raises(Exception, match=msg):
        out.select(out.columns[-1]).collect()
    with pytest.raises(Exception, match=msg):
        out.count()


def test_lsh_null_text_yields_no_pairs(spark, docs):
    """Docs with NULL text have no shingle set: they pair with nothing,
    raise nothing, and leave every other pair unchanged."""
    base = docs.limit(20)
    dups = base.withColumn("doc_id", F.col("doc_id") + 100000)  # identical text
    nulls = base.withColumn("doc_id", F.col("doc_id") + 200000).withColumn(
        "text", F.lit(None).cast("string")
    )
    corpus = base.unionByName(dups)
    got = {(r.a, r.b, r.jaccard) for r in dedup.ngram_jaccard_pairs(
        corpus.unionByName(nulls), threshold=0.5
    ).collect()}
    ref = {(r.a, r.b, r.jaccard) for r in dedup.ngram_jaccard_pairs(
        corpus, threshold=0.5
    ).collect()}
    assert got == ref
    assert all(a < 200000 and b < 200000 for a, b, _ in got)
    planted = {(r.doc_id, r.doc_id + 100000) for r in base.collect()}
    assert planted <= {(a, b) for a, b, _ in got}


def test_detect_language_known_snippets(spark):
    from rio_toa_spark.operators import textstats

    samples = [
        (1, "the cat sat on the mat and it was happy for the day", "en"),
        (2, "der hund ist nicht mit der katze auf das sofa", "de"),
        (3, "le chat est dans les jardins pour la nuit et les fleurs", "fr"),
        (4, "el perro es de los gatos que por una casa con para", "es"),
        (5, "che cosa sono per non con della anche come nel tempo", "it"),
        (6, "de casa que para com uma por mais como mas dos livros", "pt"),
        (7, "het huis is een van dat niet met voor zijn maar ook", "nl"),
    ]
    df = spark.createDataFrame([(i, t) for i, t, _ in samples], "doc_id int, text string")
    got = {r.doc_id: r.lang_pred for r in textstats.detect_language(df).collect()}
    assert got == {i: want for i, _, want in samples}


def test_detect_language_ngram_known_snippets(spark):
    # char-trigram profiles must classify morphology-bearing text even
    # where stopword lists are sparse; tie-break contract matches
    # detect_language (largest lang name wins on equal scores)
    from rio_toa_spark.operators import textstats

    samples = [
        (1, "the thing was standing there and the morning light was shining", "en"),
        (2, "der wanderer wandert durch die schoene landschaft und einsame strassen", "de"),
        (3, "le gouvernement que les quartiers aient entendu pendant le moment", "fr"),
        (4, "el gato pasado la semana el mercado de la ciudad que ha quedado", "es"),
        (5, "la stazione di polizia che la direzione della nazione ha scelto", "it"),
        (6, "os meninos do porto que moram da cidade falar de futebol do pais", "pt"),
        (7, "de ijsberen van een eiland eten er bij aan de rivier en de zee", "nl"),
    ]
    df = spark.createDataFrame([(i, t) for i, t, _ in samples], "doc_id int, text string")
    got = {r.doc_id: r.lang_pred for r in textstats.detect_language_ngram(df).collect()}
    assert got == {i: want for i, _, want in samples}


def test_char_trigram_scores_linear_formulation(spark):
    # the replace-length occurrence count must equal a brute-force
    # sliding-window trigram count (leftmost non-overlapping)
    from rio_toa_spark.operators import textstats

    text = "the theatre then thews the anthem then"
    df = spark.createDataFrame([(1, text)], "doc_id int, text string")
    row = df.select(
        textstats.char_trigram_scores(F.col("text")).alias("s")
    ).collect()[0]

    def occurrences(t, g):
        n = i = 0
        while True:
            j = t.find(g, i)
            if j < 0:
                return n
            n += 1
            i = j + len(g)

    t = text.lower()
    for lang, grams in textstats.CHAR_TRIGRAM_PROFILES.items():
        exp = sum(occurrences(t, g) for g in grams) / (len(t) - 2)
        assert row.s[lang] == pytest.approx(exp, abs=1e-12), lang


def _fold_rows():
    """float32 rows for the fold tests: random rows of varied scale,
    signed zeros, float32 subnormals, +-inf and NaN."""
    rng = np.random.default_rng(31)
    d = 9
    rows = list(
        rng.standard_normal((24, d)) * 10.0 ** rng.integers(-30, 30, (24, 1))
    )
    tiny = np.float32(1e-45)  # the smallest float32 subnormal
    rows += [
        np.zeros(d),
        np.full(d, -0.0),
        np.array([-0.0, 0.0] * 4 + [-0.0]),
        np.array([tiny, -tiny, 1e-40, -3e-42, 1e-39, tiny, 0.0, -0.0, 2e-38]),
        np.r_[np.inf, np.ones(d - 1)],
        np.r_[np.ones(d - 1), -np.inf],
        np.r_[np.inf, -np.inf, np.ones(d - 2)],
        np.r_[np.ones(3), np.nan, np.ones(d - 4)],
    ]
    q = rng.standard_normal(d)
    q[[2, 5]] = [0.0, -0.0]
    q[7] = 1e-40
    # zeros signed against q: every product is -0.0, so only the fold's
    # 0.0 start makes the sum +0.0
    rows.append(np.where(np.signbit(q), 0.0, -0.0))
    return np.array(rows, dtype=np.float32), q.astype(np.float32)


def _assert_bitwise(got, expected):
    got, expected = np.asarray(got, dtype=np.float64), np.asarray(expected)
    nan = np.isnan(expected)
    assert np.array_equal(np.isnan(got), nan)  # NaN payloads may differ
    assert np.array_equal(got[~nan].view(np.uint64), expected[~nan].view(np.uint64))


def test_seq_fold_sums_bitwise_matches_spark_dot(spark):
    """_seq_fold_sums, plain (dot(row, row)) and query-weighted
    (dot(row, q)), is Spark's own similarity.dot fold bit for bit,
    including the sign of zero sums, subnormal inputs, inf/NaN and
    empty vectors: the exactness the cosine oracles rely on."""
    A, q = _fold_rows()
    df = spark.createDataFrame(
        [(i, [float(x) for x in a], [float(x) for x in q]) for i, a in enumerate(A)],
        "i int, a array<float>, q array<float>",
    )
    rows = (
        df.select("i", similarity.dot(F.col("a"), F.col("a")).alias("aa"),
                  similarity.dot(F.col("a"), F.col("q")).alias("aq"))
        .orderBy("i")
        .collect()
    )
    assert [r.i for r in rows] == list(range(len(A)))
    _assert_bitwise([r.aa for r in rows], similarity._seq_fold_sums(A))
    _assert_bitwise([r.aq for r in rows], similarity._seq_fold_sums(A, q.astype(np.float64)))

    empty = spark.createDataFrame([(i, [], []) for i in range(3)], "i int, a array<float>, q array<float>")
    zeros = [r.z for r in empty.select(similarity.dot(F.col("a"), F.col("q")).alias("z")).collect()]
    E = np.zeros((3, 0), dtype=np.float32)
    _assert_bitwise(zeros, similarity._seq_fold_sums(E, np.zeros(0)))
    _assert_bitwise(zeros, similarity._seq_fold_sums(E))


def test_batch_topk_scores_memory_budget():
    """Scoring an 8,000 x 64 float32 batch against 8 queries folds
    column by column: no float64 copy of the batch, no (n x d) product
    and no cumsum buffer (each 4 MB; ~13-21 MB traced when built)."""
    import tracemalloc

    rng = np.random.default_rng(8)
    V32 = rng.standard_normal((8000, 64)).astype(np.float32)
    Q = rng.standard_normal((8, 64)).astype(np.float32).astype(np.float64)
    qn = np.sqrt(similarity._seq_fold_sums(Q))
    keys = np.arange(8000)
    tracemalloc.start()
    try:
        out_q, out_k, out_c = similarity._batch_topk_scores(V32, keys, Q, qn, 5)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert len(out_q) == 8 and all(len(c) == 5 for c in out_c)
    assert peak < 2 * 2**20, peak
