from pyspark.sql import Row

from document_parsing_etl_pipeline_spark.operators import dedup, similarity


def _docs(spark, *texts):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )


def test_exact_dedup_groups_identical_content(spark):
    df = _docs(spark, "Hello  World", "hello world", "different text")
    rows = dedup.dedup_exact(df).collect()
    groups = {r.content_hash: r for r in rows}
    assert len(groups) == 2  # normalization folds the first two
    dup = [g for g in groups.values() if g.n_docs == 2][0]
    assert dup.canonical_doc_id == 0


def test_minhash_finds_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    df = _docs(spark, base, base + " extra", "zz yy xx ww vv uu tt ss")
    pairs = dedup.ngram_jaccard_pairs(df, threshold=0.5).collect()
    assert {(p.doc_a, p.doc_b) for p in pairs} == {(0, 1)}
    assert pairs[0].jaccard > 0.8


def test_simhash_identical_docs_zero_hamming(spark):
    df = _docs(spark, "alpha beta gamma delta", "alpha beta gamma delta",
               "completely unrelated words here")
    pairs = dedup.simhash_pairs(df, max_hamming=0).collect()
    assert {(p.doc_a, p.doc_b) for p in pairs} == {(0, 1)}


def _emb(spark, vecs):
    return spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v], label=0)
         for i, v in enumerate(vecs)]
    )


def test_embedding_near_dup(spark):
    df = _emb(spark, [[1, 0, 0], [0.99, 0.01, 0], [0, 1, 0]])
    pairs = dedup.embedding_near_dup(df, threshold=0.95).collect()
    assert {(p.id_a, p.id_b) for p in pairs} == {(0, 1)}


def test_knn_brute_ranks_by_cosine(spark):
    df = _emb(spark, [[1, 0], [0.9, 0.1], [0, 1], [-1, 0]])
    rows = similarity.knn_brute_cosine(df, num_queries=1, k=3).collect()
    assert [r.vec_id for r in sorted(rows, key=lambda r: r.rank)] == [1, 2, 3]


def test_ivf_bucket_restricts_candidates(spark):
    # query [1,0,...] shares a sign bucket with [0.9,...] but not [-1,...]
    df = _emb(spark, [[1, 0.1, 0.1, 0.1], [0.9, 0.2, 0.1, 0.1],
                      [-1, 0.1, 0.1, 0.1]])
    rows = similarity.knn_ivf_bucketed(df, num_queries=1, k=5).collect()
    assert {r.vec_id for r in rows} == {1}


def test_ivf_probe_finds_cross_list_neighbors(spark):
    # probe-IVF with nprobe > 1 reaches neighbors assigned to a
    # DIFFERENT (second-nearest) posting list — exactly what the
    # single-bucket sign variant misses
    import random
    random.seed(11)
    vecs = [[random.uniform(-1, 1) for _ in range(8)] for _ in range(60)]
    df = _emb(spark, vecs)
    exact = {
        (r.query_id, r.vec_id, r.rank)
        for r in similarity.knn_brute_cosine(df, num_queries=3, k=3).collect()
    }
    probe_all = {
        (r.query_id, r.vec_id, r.rank)
        for r in similarity.knn_ivf_probe(
            df, num_queries=3, k=3, num_centroids=4, nprobe=4
        ).collect()
    }
    # nprobe == num_centroids scans every list → must equal brute force
    assert probe_all == exact


def test_knn_all_topk_multiblock_matches_single_block(spark):
    import random
    random.seed(7)
    vecs = [[random.uniform(-1, 1) for _ in range(8)] for _ in range(40)]
    df = _emb(spark, vecs)
    one = similarity.knn_all_topk(df, k=3, block_size=64)
    many = similarity.knn_all_topk(df, k=3, block_size=8)  # 5 blocks
    a = sorted(map(tuple, one.collect()))
    b = sorted(map(tuple, many.collect()))
    assert a == b and len(a) == 40 * 3


def test_embedding_near_dup_multiblock(spark, monkeypatch):
    monkeypatch.setattr(dedup, "EMBED_BLOCK_SIZE", 2)
    df = _emb(spark, [[1, 0], [0.999, 0.01], [0, 1], [0.998, 0.02]])
    pairs = dedup.embedding_near_dup(df, threshold=0.99)
    got = {(p.id_a, p.id_b) for p in pairs.collect()}
    assert got == {(0, 1), (0, 3), (1, 3)}  # cross-block pair (0,3) found


def test_connected_components(spark):
    from pyspark.sql import Row as R
    pairs = spark.createDataFrame(
        [R(doc_a=1, doc_b=2), R(doc_a=2, doc_b=3), R(doc_a=5, doc_b=6),
         R(doc_a=3, doc_b=4)]  # chain 1-2-3-4 and pair 5-6
    )
    got = {r.doc_id: r.component_id
           for r in dedup.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5}


def test_connected_components_star_matches_propagation(spark):
    import random
    from pyspark.sql import Row as R
    rng = random.Random(7)
    # random graph: 40 vertices, 35 edges → several components,
    # including a long chain to stress the star rounds
    edges = [(i, i + 1) for i in range(0, 10)]  # chain 0..10
    edges += [(rng.randrange(11, 40), rng.randrange(11, 40))
              for _ in range(25)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame([R(doc_a=a, doc_b=b) for a, b in edges])
    prop = {r.doc_id: r.component_id
            for r in dedup.connected_components(pairs, max_iter=50).collect()}
    star = {r.doc_id: r.component_id
            for r in dedup.connected_components_star(pairs).collect()}
    assert star == prop


def test_blank_and_whitespace_docs_drop_from_signatures(spark):
    """Zero-token docs (empty/whitespace) must not pair with each
    other: they have no signature rows (explode drops them), matching
    the oracle-side len(tokens) > 0 filter."""
    from pyspark.sql import Row as R
    docs = spark.createDataFrame([
        R(doc_id=1, text=""), R(doc_id=2, text="   \t  "),
        R(doc_id=3, text="real words here"),
        R(doc_id=4, text="real words here"),
    ])
    sh = dedup.simhash_pairs(docs, max_hamming=3)
    pairs = {(r.doc_a, r.doc_b) for r in sh.collect()}
    assert (1, 2) not in pairs
    assert (3, 4) in pairs
    mh = dedup.minhash_lsh_candidates(docs)
    mpairs = {(r.doc_a, r.doc_b) for r in mh.collect()}
    assert (1, 2) not in mpairs and (3, 4) in mpairs


def test_edit_distance_pairs_on_lsh_candidates(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    df = _docs(spark, base, base.replace("dog", "cat"),
               "zz yy xx ww vv uu tt ss")
    pairs = dedup.edit_distance_pairs(
        df, cands=dedup.minhash_lsh_candidates(df)).collect()
    assert {(p.doc_a, p.doc_b) for p in pairs} == {(0, 1)}
    assert pairs[0].edit_dist == 3  # dog -> cat: 3 substitutions


def test_incremental_dedup_flags_only_corpus_matches(spark):
    corpus = _docs(spark,
                   "alpha beta gamma delta epsilon zeta",
                   "one two three four five six")
    # batch: doc 0 duplicates corpus doc 0; doc 1 is novel; doc 2
    # duplicates BATCH doc 1 but nothing in the corpus — must NOT flag
    # (incremental dedup is vs the standing corpus only)
    batch = spark.createDataFrame([
        Row(doc_id=10, text="alpha beta gamma delta epsilon zeta"),
        Row(doc_id=11, text="seven eight nine ten eleven twelve"),
        Row(doc_id=12, text="seven eight nine ten eleven twelve"),
    ])
    out = {r.doc_id: r for r in
           dedup.incremental_lsh_matches(batch, corpus).collect()}
    assert len(out) == 3
    assert out[10].is_dup and out[10].first_match_doc == 0
    assert not out[11].is_dup and out[11].first_match_doc == -1
    assert not out[12].is_dup  # batch-internal dup is not a corpus dup


def test_containment_catches_embedded_doc_jaccard_misses(spark):
    base = ("alpha bravo charlie delta echo foxtrot golf hotel "
            "india juliet kilo lima")
    wrapper = base + " mike november oscar papa"  # base ⊂ wrapper, J=12/16
    df = _docs(spark, base, wrapper, "uu vv ww xx yy zz")
    # band_size=1 → per-band collision prob = J: recall ~1-(1-J)^8 for
    # the test (the default banding trades recall for precision)
    got = {(r.doc_a, r.doc_b): r
           for r in dedup.containment_pairs(
               df, cands=dedup.minhash_lsh_candidates(df, band_size=1),
               threshold=0.9,
           ).collect()}
    assert (0, 1) in got
    r = got[(0, 1)]
    assert r.cont_a_in_b == 1.0          # base fully inside wrapper
    assert r.cont_b_in_a < 0.9           # wrapper not inside base
    # the symmetric jaccard pipeline at the same bar misses this pair
    jac = {(p.doc_a, p.doc_b)
           for p in dedup.ngram_jaccard_pairs(df, threshold=0.9).collect()}
    assert (0, 1) not in jac


def test_sparse_sim_ranks_by_shared_rare_shingles(spark):
    from document_parsing_etl_pipeline_spark.operators.corpus import (
        sparse_sim_topk,
    )

    phrase = "quantum flux capacitor alignment protocol"
    df = _docs(
        spark,
        f"intro text {phrase} closing words here",
        f"other document reusing {phrase} differently now",
        "entirely unrelated content about cooking pasta tonight ok",
        "more unrelated material discussing garden furniture today yes",
    )
    out = {(r.doc_id, r.rank): r.neighbor_id
           for r in sparse_sim_topk(df, df_min=2, df_max=4, k=1).collect()}
    # the two phrase-sharing docs are each other's top neighbor
    assert out.get((0, 1)) == 1
    assert out.get((1, 1)) == 0


def test_span_dedup_profile_marks_shared_spans(spark):
    from document_parsing_etl_pipeline_spark.operators.dedup import (
        span_dedup_profile,
    )
    shared = " ".join(f"w{i}" for i in range(12))  # one exact 12-gram
    docs = spark.createDataFrame(
        [
            (0, shared + " tail0 tail1 tail2"),
            (1, "head0 head1 " + shared),
            (2, " ".join(f"u{i}" for i in range(20))),  # unique
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in span_dedup_profile(docs, k=12).collect()}
    # doc0: 4 windows, only window 1 (the shared span) duplicated
    assert rows[0].n_windows == 4 and rows[0].n_dup_windows == 1
    assert rows[0].covered_tokens == 12
    assert rows[0].dup_coverage_ppm == 1_000_000 * 12 // 15
    # doc1: shared span starts at token 3 of 14
    assert rows[1].n_dup_windows == 1 and rows[1].covered_tokens == 12
    # unique doc: nothing flagged
    assert rows[2].n_dup_windows == 0 and rows[2].covered_tokens == 0
    assert rows[2].dup_coverage_ppm == 0


def test_span_dedup_overlapping_windows_union_coverage(spark):
    from document_parsing_etl_pipeline_spark.operators.dedup import (
        span_dedup_profile,
    )
    # doc0 repeated verbatim -> every window duplicated, full coverage
    t = " ".join(f"x{i}" for i in range(16))
    docs = spark.createDataFrame(
        [(0, t), (1, t)], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in span_dedup_profile(docs, k=12).collect()}
    for r in rows.values():
        assert r.n_dup_windows == r.n_windows == 5
        # overlapping dup windows union to the whole doc, not 5*12
        assert r.covered_tokens == 16
        assert r.dup_coverage_ppm == 1_000_000


def test_pagerank_integer_matches_reference_recurrence(spark):
    from document_parsing_etl_pipeline_spark.operators.graph import (
        pagerank_integer, PPM,
    )
    # star: hub <-> 3 spokes, plus a chain tail  (directed both ways)
    und = [("hub", "s1"), ("hub", "s2"), ("hub", "s3"), ("s1", "t1")]
    pairs = und + [(b, a) for a, b in und]
    edges = spark.createDataFrame(pairs, "src string, dst string")
    got = {
        r.ent: (r.degree, r.pagerank_micro)
        for r in pagerank_integer(edges, iterations=3).collect()
    }
    # python replay of the exact integer recurrence
    damp, base = 850_000, 150_000
    out = {u: [v for (a, v) in pairs if a == u] for u, _ in pairs}
    deg = {u: len(vs) for u, vs in out.items()}
    r = {u: PPM for u in deg}
    for _ in range(3):
        nxt = {u: base for u in deg}
        for u, vs in out.items():
            c = (r[u] * damp) // (PPM * deg[u])
            for v in vs:
                nxt[v] += c
        r = nxt
    assert {u: (deg[u], r[u]) for u in r} == got
    # hub outranks spokes, spokes outrank the tail
    assert got["hub"][1] > got["s1"][1] > got["t1"][1]


def test_setsim_prefix_join_matches_brute_force(spark):
    # 8 docs: two clone clusters + unrelated text; brute-force exact
    # Jaccard over shingle sets is the ground truth the lossless
    # prefix filter must reproduce bit-for-bit.
    texts = [
        "a b c d e f g h i j",          # 0
        "a b c d e f g h i k",          # 1 near-dup of 0
        "a b c d e f g h i j",          # 2 exact dup of 0
        "p q r s t u v w x y",          # 3
        "p q r s t u v w x z",          # 4 near-dup of 3
        "m n o aa bb cc dd ee ff gg",   # 5 unrelated
        "one two three",                # 6 tiny
        "one two three",                # 7 tiny exact dup
    ]
    df = _docs(spark, *texts)
    got = {
        (r.doc_a, r.doc_b): (r.inter_size, r.union_size, r.jaccard_ppm)
        for r in dedup.setsim_prefix_join(df).collect()
    }

    # brute force in python over the same 3-gram shingle sets
    def sh(t):
        ws = t.lower().split()
        return {" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)}

    want = {}
    sets = [sh(t) for t in texts]
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            if not sets[a] or not sets[b]:
                continue
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if inter * 5 >= union * 3:
                want[(a, b)] = (inter, union, inter * 1_000_000 // union)
    assert want, "fixture must produce at least one qualifying pair"
    assert got == want


def test_setsim_prefix_candidates_are_pruned(spark):
    # The prefix join must NOT materialize the full pair product:
    # with a shared boilerplate shingle across every doc, brute force
    # pairs everything, the rarest-first prefix pairs almost nothing.
    boiler = "common shared boilerplate header text "
    texts = [boiler + f"unique{i} tail{i} body{i} word{i}" for i in range(12)]
    df = _docs(spark, *texts)
    # no pair reaches jaccard 0.6 (boilerplate overlap is small
    # relative to union), so the exact join returns empty
    assert dedup.setsim_prefix_join(df).count() == 0


def test_triangle_counts_by_brute_force(spark):
    from itertools import combinations

    from document_parsing_etl_pipeline_spark.operators.graph import (
        triangle_counts,
    )

    # K4 on {0,1,2,3} (4 triangles), pendant node 9 attached to 0,
    # a disjoint triangle {5,6,7}, and an isolated edge 10-11.
    pairs = (
        list(combinations([0, 1, 2, 3], 2))
        + [(0, 9), (5, 6), (6, 7), (5, 7), (10, 11)]
    )
    edges = spark.createDataFrame(pairs, ["a", "b"])
    got = {
        r.node: (r.degree, r.n_triangles)
        for r in triangle_counts(edges).collect()
    }
    # brute force
    import collections
    adj = collections.defaultdict(set)
    for a, b in pairs:
        adj[a].add(b); adj[b].add(a)
    want = {}
    nodes = sorted(adj)
    tri = [
        (x, y, z)
        for x, y, z in combinations(nodes, 3)
        if y in adj[x] and z in adj[x] and z in adj[y]
    ]
    for n in nodes:
        want[n] = (
            len(adj[n]),
            sum(1 for t in tri if n in t),
        )
    assert got == want
    # K4 nodes sit in 3 triangles each; pendant and isolated-edge in 0
    assert got[0] == (4, 3) and got[9] == (1, 0) and got[10] == (1, 0)


def test_incremental_components_merges_standing_components(spark):
    """The hard incremental case: a batch document bridges TWO
    existing standing components — the contracted graph must merge
    them and every member must relabel to the global minimum."""
    from pyspark.sql import Row

    from document_parsing_etl_pipeline_spark.operators import dedup

    # standing comps {1,2} and {10,11}; batch doc 20 similar to 2 and
    # 10; batch doc 25 isolated-similar to nothing; batch pair (20,21)
    standing_pairs = spark.createDataFrame(
        [Row(doc_a=1, doc_b=2), Row(doc_a=10, doc_b=11)]
    )
    batch_pairs = spark.createDataFrame(
        [Row(doc_a=2, doc_b=20), Row(doc_a=10, doc_b=20),
         Row(doc_a=20, doc_b=21)]
    )
    out = {
        r.doc_id: r.component_id
        for r in dedup.incremental_components(
            standing_pairs, batch_pairs
        ).collect()
    }
    # everything reachable through doc 20 collapses to min id 1
    assert out == {1: 1, 2: 1, 10: 1, 11: 1, 20: 1, 21: 1}


def test_setsim_incremental_union_equals_from_scratch(spark):
    """standing-pairs ∪ incremental batch pairs must equal the
    from-scratch all-pairs join exactly (the losslessness of the
    prefix/positional filters is order-independent)."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from document_parsing_etl_pipeline_spark.operators import dedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    texts = {
        0: base,
        1: base + " extra",
        2: base.replace("gamma", "lambda"),
        3: "totally different words nothing shared here at all ok",
        4: base,                      # batch: exact dup of 0
        5: base + " extra tail",      # batch: near 1
        9: "unrelated content again completely disjoint tokens yes",
    }
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in texts.items()]
    )
    flagged = docs.withColumn("is_batch", F.expr("doc_id >= 4"))
    full = {
        (r.doc_a, r.doc_b, r.jaccard_ppm)
        for r in dedup.setsim_prefix_join(docs).collect()
    }
    standing = {
        (r.doc_a, r.doc_b, r.jaccard_ppm)
        for r in dedup.setsim_prefix_join(
            flagged.where("NOT is_batch")
        ).collect()
    }
    batch = {
        (r.doc_a, r.doc_b, r.jaccard_ppm)
        for r in dedup.setsim_incremental_pairs(
            flagged, batch_col="is_batch"
        ).collect()
    }
    assert standing | batch == full
    assert standing & batch == set()  # no pair produced twice


def test_setsim_suffix_filter_is_lossless_for_any_bucket_count(spark):
    """Round 7 (PPJoin+ suffix filter): the vectorized suffix filter
    (_suffix_histogram_filter) is a pure candidate cut — the final
    pair relation must be IDENTICAL with the filter off, at the
    default 128 buckets, and at an aliasing-heavy 4 buckets (hash
    collisions only weaken the bound upward, never below the true
    overlap). Randomized near/far pairs straddle the 0.6 threshold."""
    import random

    rng = random.Random(73)
    vocab = [f"w{i}" for i in range(400)]
    texts = []
    # base docs + mutated copies at varying edit fractions so some
    # pairs land just above and some just below threshold
    for _ in range(10):
        base = [rng.choice(vocab) for _ in range(30)]
        texts.append(" ".join(base))
        for frac in (0.05, 0.2, 0.5):
            mut = list(base)
            for _ in range(max(1, int(len(mut) * frac))):
                mut[rng.randrange(len(mut))] = rng.choice(vocab)
            texts.append(" ".join(mut))
    df = _docs(spark, *texts)

    def pairs(**kw):
        return {
            (r.doc_a, r.doc_b): (r.inter_size, r.union_size)
            for r in dedup.setsim_prefix_join(df, **kw).collect()
        }

    base = pairs(suffix_buckets=None)
    assert base, "fixture must produce qualifying pairs"
    assert pairs(suffix_buckets=128) == base
    assert pairs(suffix_buckets=4) == base


def test_lsh_flag_ingest_equals_two_call_composition(
    spark, tmp_path, monkeypatch,
):
    """The fused one-pass ingest flagging (round-8 streaming
    throughput fix) must produce EXACTLY the output of the original
    two lsh_flag_against_index calls (vs index; vs own batch
    restricted to smaller ids) reconciled — per-source cap semantics
    included — across incremental batches of a dup-dense corpus."""
    from pyspark.sql import functions as F

    from document_parsing_etl_pipeline_spark.catalog import load_table
    from document_parsing_etl_pipeline_spark.operators import dedup
    from document_parsing_etl_pipeline_spark.operators.dedup import (
        lsh_flag_against_index, lsh_flag_ingest, minhash_buckets,
    )
    from conftest import append_published

    from document_parsing_etl_pipeline_spark.sources import (
        tableformat as tf,
    )
    from document_parsing_etl_pipeline_spark.streaming import neardup

    docs = load_table(
        spark, "/root/testdata/sf0.001", "documents"
    ).select("doc_id", "text")
    idx = str(tmp_path / "idx")
    neardup.create_index(spark, idx)
    # a tiny cap forces the per-source cap semantics to matter
    for i in range(3):
        b = docs.where(f"doc_id % 3 = {i}").localCheckpoint()
        bb = minhash_buckets(b, num_hashes=8, band_size=2) \
            .localCheckpoint()
        index = tf.read(spark, idx)
        for cap in (3, 50):
            monkeypatch.setattr(dedup, "INGEST_MAX_BUCKET", cap)
            vs_index = lsh_flag_against_index(
                b.select("doc_id"), bb, index, cap)
            vs_batch = lsh_flag_against_index(
                b.select("doc_id"), bb, bb, cap
            ).where(
                (F.col("first_match_doc") >= 0)
                & (F.col("first_match_doc") < F.col("doc_id"))
            )
            old = (
                vs_index.alias("i")
                .join(
                    vs_batch.select(
                        F.col("doc_id").alias("doc_id_b"),
                        F.col("first_match_doc").alias("fm_b"),
                    ),
                    F.col("doc_id") == F.col("doc_id_b"), "left",
                )
                .select(
                    "doc_id",
                    (F.col("is_dup") | F.col("fm_b").isNotNull())
                    .alias("is_dup"),
                    F.when(
                        F.col("first_match_doc") >= 0,
                        F.least(
                            F.col("first_match_doc"),
                            F.coalesce(F.col("fm_b"),
                                       F.col("first_match_doc")),
                        ),
                    ).otherwise(F.coalesce(F.col("fm_b"), F.lit(-1)))
                    .cast("long").alias("first_match_doc"),
                )
            )
            new = lsh_flag_ingest(b.select("doc_id"), bb, index)
            assert sorted(map(tuple, new.collect())) == \
                sorted(map(tuple, old.collect())), f"batch {i} cap {cap}"
        append_published(spark, bb, idx, extra_meta={"stream_batch_id": i})


def test_verify_pairs_slicing_is_result_invariant(spark):
    """Round-10 spill budget: forcing the verification join into
    hash-sliced batches (batch_pairs=1 → one slice per candidate)
    must return EXACTLY the unsliced pair set — slicing is an exact
    partition of the candidate stream, not an approximation."""
    texts = [
        "a b c d e f g h i j",
        "a b c d e f g h i k",
        "a b c d e f g h i j",
        "p q r s t u v w x y",
        "p q r s t u v w x z",
        "one two three four five",
        "one two three four five",
    ]
    from pyspark.sql import functions as F

    df = _docs(spark, *texts)
    num, den = 3, 5
    sh, pref = dedup._shingle_prefixes(df, num, den, True)
    a = pref.select(
        "term", F.col("doc_id").alias("doc_a"),
        F.col("n").alias("na"), F.col("rn").alias("ia"),
    )
    b = pref.select(
        "term", F.col("doc_id").alias("doc_b"),
        F.col("n").alias("nb"), F.col("rn").alias("ib"),
    )
    joined = (
        a.join(b, "term")
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.least("na", "nb") * den >= F.greatest("na", "nb") * num)
        )
    )
    cands = dedup._positional_bound_filter(joined, num, den)
    unsliced = sorted(map(tuple, dedup._verify_pairs(
        cands, sh, num, den).collect()))
    sliced = sorted(map(tuple, dedup._verify_pairs(
        cands, sh, num, den, batch_pairs=1).collect()))
    assert len(unsliced) > 0
    assert sliced == unsliced


def test_band_cap_col_applies_per_band(spark):
    """Round-11 cap engagement: band_cap_col with a {band: cap}
    mapping filters each band at ITS cap; a band missing from the
    mapping falls back to the mapping's smallest cap."""
    from pyspark.sql import functions as F

    rows = spark.createDataFrame(
        [(0, 3), (0, 6), (1, 3), (1, 6), (7, 3), (7, 6)],
        "band int, n int",
    )
    kept = rows.where(
        F.col("n") <= dedup.band_cap_col({0: 5, 1: 10})
    ).collect()
    got = sorted((r.band, r.n) for r in kept)
    # band 0 capped at 5 -> keeps n=3 only; band 1 at 10 -> both;
    # band 7 (unknown) falls back to min(5, 10)=5 -> keeps n=3 only
    assert got == [(0, 3), (1, 3), (1, 6), (7, 3)]
    # int mode is unchanged
    kept_int = rows.where(
        F.col("n") <= dedup.band_cap_col(4)
    ).count()
    assert kept_int == 3


def test_engaged_lsh_caps_match_planner_decision(spark):
    """The caps the pair generators consume (_lsh_caps) must be
    EXACTLY the planner's chosen rows — one decision, two readers.
    Also pins that every cap is one of the planner's candidates."""
    from pyspark.sql import functions as F

    from document_parsing_etl_pipeline_spark.plans import queries as Q

    sf = "/root/testdata/sf0.001"
    planner = Q.QUERIES["q_lsh_cap_planner"](spark, sf)
    chosen = {
        (r["method"], int(r["band"])): int(r["cap"])
        for r in planner.where(F.col("chosen")).collect()
    }
    for method in ("minhash", "simhash"):
        caps = Q._lsh_caps(spark, sf, method)
        assert caps == {
            b: c for (m, b), c in chosen.items() if m == method
        }, method
        assert all(c in Q._CAP_CANDIDATES for c in caps.values())


def test_minhash_candidates_respect_engaged_caps(spark):
    """End-to-end wiring: the candidate set produced with the engaged
    per-band caps equals recomputing with each band's cap applied
    independently — i.e. the dict actually reaches the bucket filter."""
    from pyspark.sql import functions as F

    from document_parsing_etl_pipeline_spark.catalog import load_table
    from document_parsing_etl_pipeline_spark.plans import queries as Q

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    caps = Q._lsh_caps(spark, sf, "minhash")
    engaged = set(map(tuple, dedup.minhash_lsh_candidates(
        docs, num_hashes=8, band_size=2, max_bucket=caps).collect()))
    # manual reference: union of per-band candidate sets, each band
    # filtered at its own cap
    buckets = dedup.minhash_buckets(docs, num_hashes=8, band_size=2)
    manual = set()
    for band, cap in caps.items():
        bb = buckets.where(F.col("band") == band)
        counts = (
            bb.groupBy("band", "bh").agg(F.count("*").alias("n"))
            .where(F.col("n").between(2, cap))
        )
        capped = bb.join(counts.drop("n"), ["band", "bh"])
        a = capped.select("bh", F.col("doc_id").alias("doc_a"))
        b = capped.select("bh", F.col("doc_id").alias("doc_b"))
        manual |= {
            (r.doc_a, r.doc_b)
            for r in a.join(b, "bh")
            .where(F.col("doc_a") < F.col("doc_b")).collect()
        }
    assert engaged == manual and len(engaged) > 0


def test_band_cap_col_empty_mapping_filters_everything(spark):
    """An EMPTY {band: cap} mapping (the planner saw no buckets —
    empty/degenerate corpus) must behave as 'no buckets' (empty pair
    set), not crash with min() of an empty sequence."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    df = _docs(spark, base, base + " extra")
    assert dedup.minhash_lsh_candidates(df, max_bucket={}).count() == 0
    # non-empty mapping still pairs (band fallback = smallest cap)
    assert dedup.minhash_lsh_candidates(df, max_bucket={0: 50}).count() == 1


def test_ngram_jaccard_pairs_threshold_none_keeps_all_candidates(spark):
    """threshold=None returns EVERY capped candidate with its exact
    jaccard — the verified-candidate relation every downstream
    threshold derives from by filter (plans _verified_candidates)."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    df = _docs(spark, base, base + " extra", base + " and more extra")
    allp = dedup.ngram_jaccard_pairs(df, threshold=None)
    cands = dedup.minhash_lsh_candidates(df)
    assert allp.count() == cands.count()
    # filtering the verified relation == running with the threshold
    want = {(p.doc_a, p.doc_b, p.jaccard)
            for p in dedup.ngram_jaccard_pairs(df, threshold=0.5).collect()}
    got = {(p.doc_a, p.doc_b, p.jaccard)
           for p in allp.where("jaccard >= 0.5").collect()}
    assert got == want


def test_standing_component_map_is_built_once_per_session(
    spark, monkeypatch,
):
    """The standing near-dup component map is built once per session
    and shared: after dedup_components built it, q_component_lookup
    reads its checkpoint (Scan ExistingRDD) and runs no
    connected-components iteration of its own."""
    from conftest import SF_DIR

    from document_parsing_etl_pipeline_spark.operators import dedup
    from document_parsing_etl_pipeline_spark.plans import queries as Q

    calls = []
    real = dedup.connected_components

    def counted(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(dedup, "connected_components", counted)
    sf = SF_DIR
    Q._NEARDUP_MEMO.clear()
    assert Q.QUERIES["dedup_components"](spark, sf).count() > 0
    assert len(calls) == 1

    lookup = Q.QUERIES["q_component_lookup"](spark, sf)
    assert len(lookup.collect()) == len(Q._LOOKUP_DOC_IDS)
    assert len(calls) == 1
    plan = lookup._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan, plan
