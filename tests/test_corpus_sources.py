from pyspark.sql import Row

from document_parsing_etl_pipeline_spark.operators import corpus


def _docs(spark, *texts):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t, lang="en", source=f"s{i}", n_chars=len(t))
         for i, t in enumerate(texts)]
    )


def test_tfidf_prefers_rare_terms(spark):
    df = _docs(spark, "common rare1 common", "common rare2", "common rare2 x")
    rows = corpus.tfidf_top_terms(df, top_k=1).collect()
    top = {r.doc_id: r.term for r in rows}
    # 'common' appears everywhere → idf ~0; rare terms win
    assert top[0] == "rare1"
    assert top[1] == "rare2"


def test_corpus_stats(spark):
    rows = corpus.corpus_stats(_docs(spark, "aaa", "bbbbb")).collect()
    assert {(r.lang, r.source): r.n_docs for r in rows} == {
        ("en", "s0"): 1, ("en", "s1"): 1
    }


def test_centroid_assignment_is_self_for_centroids(spark):
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=v, label=0) for i, v in enumerate(
            [[1.0, 0.0], [0.0, 1.0], [0.9, 0.1], [-0.1, 0.8]]
        )]
    )
    rows = {r.vec_id: r.centroid_id
            for r in corpus.assign_nearest_centroid(emb, num_centroids=2).collect()}
    assert rows[0] == 0 and rows[1] == 1  # centroids map to themselves
    assert rows[2] == 0 and rows[3] == 1  # others to the nearest


def test_contamination_finds_shared_shingles(spark):
    # doc 0 is "benchmark" (0 % 5 == 0); doc 1 copies its text, doc 2
    # is clean — only doc 1 flags.
    shared = "w1 w2 w3 w4 w5 w6"
    docs = spark.createDataFrame(
        [(0, shared), (1, shared + " extra"), (2, "x1 x2 x3 x4 x5 x6")],
        "doc_id long, text string",
    )
    rows = corpus.contamination_check(
        docs, shingle_n=5, bench_mod=5
    ).collect()
    assert [r.doc_id for r in rows] == [1]
    assert rows[0].n_shared_shingles == 2  # both 5-shingles of doc 0


def test_embedding_dim_stats_shape(spark):
    from pyspark.sql import Row
    emb = spark.createDataFrame(
        [Row(vec_id=0, embedding=[1.0, -2.0]),
         Row(vec_id=1, embedding=[3.0, 4.0])]
    )
    rows = {r.dim: r for r in corpus.embedding_dim_stats(emb).collect()}
    assert rows[0].mean_v == 2.0 and rows[0].min_v == 1.0
    assert rows[1].mean_v == 1.0 and rows[1].max_v == 4.0
    assert all(r.n_vecs == 2 for r in rows.values())


def test_kmeans_lloyd_converges_on_separated_clusters(spark):
    from pyspark.sql import Row
    # two tight clusters around (1,0) and (0,1)
    pts = [[1.0, 0.05], [0.95, 0.0], [1.0, -0.05], [0.9, 0.1],
           [0.05, 1.0], [0.0, 0.95], [-0.05, 1.0], [0.1, 0.9]]
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i, v in enumerate(pts)]
    )
    _scored, assigned, _objs = corpus._kmeans_rounds(emb, 2, 3)
    out = assigned.collect()
    by_id = {r.vec_id: r.centroid_id for r in out}
    assert len(by_id) == 8
    first = {by_id[i] for i in range(4)}
    second = {by_id[i] for i in range(4, 8)}
    assert len(first) == 1 and len(second) == 1 and first != second
    assert all(r.cosine > 0.9 for r in out)


def test_unigram_logprob_exact_micro_bits(spark):
    from pyspark.sql import Row
    docs = spark.createDataFrame(
        [Row(doc_id=0, text="a a"), Row(doc_id=1, text="a b")]
    )
    rows = {r.doc_id: r for r in corpus.unigram_logprob(docs).collect()}
    # N=4, p(a)=3/4 -> 0.415037 bits, p(b)=1/4 -> 2.0 bits
    assert rows[0].bits_micro_total == 2 * 415037
    assert rows[1].bits_micro_total == 415037 + 2_000_000
    assert rows[1].bits_milli_per_token == (415037 + 2_000_000) // 2 // 1000
    assert rows[0].n_tokens == 2


def test_quantize_embeddings_bounds(spark):
    from pyspark.sql import Row
    emb = spark.createDataFrame(
        [Row(vec_id=0, embedding=[1.0, -0.5, 0.0]),
         Row(vec_id=1, embedding=[0.0, 0.0])]
    )
    rows = {r.vec_id: r for r in
            corpus.quantize_embeddings(emb).collect()}
    scale = round(1.0 / 127.0, 6)
    assert rows[0].scale == scale
    # non-clipped residuals are bounded by scale/2
    assert rows[0].max_abs_err <= 1.0 / 127.0 / 2 + 1e-9
    # all-zero vector: scale 0, quantizes to 0 with no error
    assert rows[1].scale == 0.0 and rows[1].mse == 0.0


def test_embedding_covariance_matches_numpy(spark):
    import numpy as np
    from pyspark.sql import Row
    rng = [[1.0, 2.0, 3.0], [2.0, 1.0, 0.0], [0.0, 0.0, 1.0],
           [4.0, 2.0, 2.0]]
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i, v in enumerate(rng)]
    )
    got = {(r.dim_i, r.dim_j): r.cov
           for r in corpus.embedding_covariance(emb).collect()}
    want = np.cov(np.array(rng), rowvar=False)
    for (i, j), v in got.items():
        assert abs(v - want[i][j]) < 1e-6, (i, j)
    assert len(got) == 6  # upper triangle of 3x3


def test_pca_projects_onto_dominant_axes(spark):
    import numpy as np
    from pyspark.sql import Row
    # variance lives in dims 0 and 1; dim 2 is constant
    rs = np.random.RandomState(7)
    X = np.zeros((40, 3))
    X[:, 0] = rs.normal(0, 10, 40)
    X[:, 1] = rs.normal(0, 3, 40)
    X[:, 2] = 5.0
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(a) for a in row])
         for i, row in enumerate(X)]
    )
    res = corpus.pca_project(emb, k=2)
    ev = res.explained_variance
    rows = {r.vec_id: r.proj for r in res.projections.collect()}
    assert len(rows) == 40 and len(rows[0]) == 2
    # top component captures the dim-0 variance, nothing from dim 2
    assert ev[0] > 50 and ev[1] > 1 and ev[0] > 5 * ev[1]
    # projection preserves the centered data's total variance in 2D
    P = np.array([rows[i] for i in range(40)])
    assert abs(P[:, 0].var(ddof=1) - ev[0]) / ev[0] < 1e-6


def test_pca_variance_audit_passes_and_catches_breakage(spark):
    import numpy as np
    from pyspark.sql import Row
    rs = np.random.RandomState(3)
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(a) for a in rs.normal(0, 2, 6)])
         for i in range(50)]
    )
    row = corpus.pca_variance_audit(emb).collect()[0]
    assert row.n_vectors == 50 and row.n_dims == 6
    assert row.variance_capture_ok and row.orthonormal_ok
    assert row.trace_var > 0
    # a truncated (non-full-rank) projection must FAIL the capture
    # check — proves the invariant actually discriminates
    res = corpus.pca_project(emb, k=2)
    trunc = res.projections
    # recompute captured variance the audit's way on the 2-component
    # projection: it cannot reach the 6-dim trace
    import pyspark.sql.functions as SF
    cap = (
        trunc.select(SF.posexplode("proj").alias("i", "v"))
        .groupBy("i")
        .agg(
            SF.sum(SF.col("v").cast("decimal(28,12)")).alias("si"),
            SF.sum((SF.col("v") * SF.col("v"))
                   .cast("decimal(28,12)")).alias("sii"),
        )
        .select(
            ((SF.col("sii").cast("double")
              - SF.col("si").cast("double") ** 2 / 50) / 49).alias("v")
        )
        .agg(SF.sum("v")).first()[0]
    )
    assert cap < row.trace_var * 0.95


def test_stratified_sample_rates(spark):
    from pyspark.sql import Row
    docs = spark.createDataFrame(
        [Row(doc_id=i, lang=("es" if i % 2 else "zz")) for i in range(40)]
    )
    out = corpus.stratified_sample(
        docs, rates_permille={"es": 1000}, default_permille=0
    ).collect()
    # es keeps everything (rate 1000), unknown lang drops all (rate 0)
    assert {r.lang for r in out} == {"es"}
    assert len(out) == 20
    assert all(r.rate_permille == 1000 for r in out)


def test_kmeans_contract_audit_all_true_and_partitioning(spark):
    from pyspark.sql import Row
    import random

    rng = random.Random(7)
    # three loose blobs + noise, deliberately not unit-norm and with
    # one zero vector (the kernel defines cosine-vs-zero as 0)
    pts = []
    for c, base in enumerate([[5, 0, 0], [0, 3, 0], [0, 0, 9]]):
        for _ in range(12):
            pts.append([b + rng.uniform(-1, 1) for b in base])
    pts.append([0.0, 0.0, 0.0])
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i, v in enumerate(pts)]
    )
    out = corpus.kmeans_contract_audit(emb, k=3, max_iter=4).collect()
    assert len(out) == len(pts)                      # exactly one row/vector
    assert len({r.vec_id for r in out}) == len(pts)  # no dup, no loss
    assert all(r.is_argmax for r in out)
    assert all(r.objective_monotone for r in out)
    assert all(r.k == 3 and r.n_rounds == 4 for r in out)


def test_kmeans_lloyd_normalization_does_not_change_assignments(spark):
    from pyspark.sql import Row
    # scale-invariance: scaling any vector by a positive constant
    # must not change its cluster (cosine assignment + direction mean)
    pts = [[1.0, 0.05], [0.95, 0.0], [1.0, -0.05], [0.9, 0.1],
           [0.05, 1.0], [0.0, 0.95], [-0.05, 1.0], [0.1, 0.9]]
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i, v in enumerate(pts)]
    )
    scaled = spark.createDataFrame(
        [Row(vec_id=i, embedding=[x * (10.0 if i % 2 else 0.1) for x in v])
         for i, v in enumerate(pts)]
    )

    def assign(df):
        _scored, assigned, _objs = corpus._kmeans_rounds(df, 2, 3)
        return {r.vec_id: r.centroid_id for r in assigned.collect()}

    assert assign(emb) == assign(scaled)


def test_pca_canonical_basis_deterministic(spark):
    """Round 7: pca_project pins a CANONICAL eigenbasis — components
    ordered by descending eigenvalue (stable index tiebreak) and each
    component's largest-|loading| coordinate positive — so projection
    VALUES are deterministic, not just the spanned subspace. Feeding
    the NEGATED data must reproduce the identical basis (eigh's raw
    sign choice would differ), and a dominant negative loading must
    come out flipped positive."""
    import numpy as np
    from pyspark.sql import Row

    rs = np.random.RandomState(11)
    # dominant direction mostly along -e0 (forces a sign flip), clear
    # eigengap so the basis is tie-free
    X = np.outer(rs.normal(0, 5, 60), [-0.9, 0.3, 0.3]) \
        + rs.normal(0, 0.5, (60, 3))

    def basis(M):
        emb = spark.createDataFrame(
            [Row(vec_id=i, embedding=[float(a) for a in row])
             for i, row in enumerate(M)]
        )
        return np.asarray(corpus.pca_project(emb, k=3).components)

    V = basis(X)
    # largest-|loading| coordinate positive, per component
    for j in range(3):
        i = int(np.argmax(np.abs(V[:, j])))
        assert V[i, j] > 0, (j, V[:, j])
    # the dominant component's big coordinate is dim 0 (flipped to +)
    assert np.argmax(np.abs(V[:, 0])) == 0 and V[0, 0] > 0
    # negating the data leaves the covariance — and hence the
    # CANONICAL basis — unchanged bit-for-bit up to fp roundoff
    V2 = basis(-X)
    assert np.allclose(V, V2, atol=1e-9)
