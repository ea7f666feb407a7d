"""SURVEY §2.D — deduplication: the @register query
definitions for this section (split out of the former monolithic
plans/queries.py in round 11; shared helpers live in
plans/_prelude.py, re-exported through plans/queries.py).
Importing this module registers the queries into the shared
QUERIES/ORACLES dicts."""

from __future__ import annotations

from ._prelude import *  # noqa: F401,F403



@register("dedup_exact", """
SELECT md5(coalesce(array_to_string(
               regexp_extract_all(lower(text), '\\S+'), ' '), ''))
           AS content_hash,
       min(doc_id) AS canonical_doc_id,
       count(*) AS n_docs
FROM documents
GROUP BY 1
""")
def q_dedup_exact(spark, sf_dir):
    return dedup.dedup_exact(load_table(spark, sf_dir, "documents"))


@register("dedup_minhash_lsh",
          f"WITH {_mh_sig_sql()}, {_mh_buckets_sql()} SELECT * FROM cand")
def q_dedup_minhash_lsh(spark, sf_dir):
    """The capped LSH candidate relation — since round 12 read from
    the standing verified-candidate artifact (identical key set by
    construction: verification joins are 1:1 on the candidate keys);
    candidate GENERATION cost is charged once per corpus snapshot to
    the artifact build, like every other standing relation."""
    return _verified_candidates(spark, sf_dir).select("doc_a", "doc_b")


@register("dedup_ngram_jaccard", f"""
WITH {_mh_sig_sql()}, {_mh_buckets_sql()}
SELECT c.doc_a, c.doc_b,
       round(len(list_filter(ta.tokens, t -> list_contains(tb.tokens, t)))
             / (len(ta.tokens) + len(tb.tokens)
                - len(list_filter(ta.tokens, t -> list_contains(tb.tokens, t)))),
             4) AS jaccard
FROM cand c
JOIN toks ta ON ta.doc_id = c.doc_a
JOIN toks tb ON tb.doc_id = c.doc_b
WHERE round(len(list_filter(ta.tokens, t -> list_contains(tb.tokens, t)))
            / (len(ta.tokens) + len(tb.tokens)
               - len(list_filter(ta.tokens, t -> list_contains(tb.tokens, t)))),
            4) >= 0.5
""")
def q_dedup_ngram_jaccard(spark, sf_dir):
    """The verified ≥0.5 near-dup pair relation — the standing
    _jaccard_pairs artifact itself (round 12: one exact-Jaccard
    verification job per corpus snapshot; every threshold consumer
    filters the shared verified-candidate relation)."""
    return _jaccard_pairs(spark, sf_dir)


@register("dedup_materialize", """
WITH hashed AS (
    SELECT doc_id, n_chars,
           md5(coalesce(array_to_string(
                   regexp_extract_all(lower(text), '\\S+'), ' '), ''))
               AS content_hash
    FROM documents
), ranked AS (
    SELECT *, row_number() OVER (PARTITION BY content_hash
                                 ORDER BY doc_id) AS rn
    FROM hashed
)
SELECT doc_id, n_chars, content_hash FROM ranked WHERE rn = 1
""")
def q_dedup_materialize(spark, sf_dir):
    """The dedup deliverable: the surviving corpus (first doc per
    content hash). Window keep-first — one shuffle on the hash."""
    docs = load_table(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id", "n_chars",
        F.md5(parse.normalized_text(F.col("text"))).alias("content_hash"),
    )
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    return (
        hashed.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


@register("sample_hash_10pct", """
SELECT lang, count(*) AS n_sampled
FROM documents
WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT % 10 = 0
GROUP BY lang
""")
def q_sample_hash(spark, sf_dir):
    """Deterministic hash sampling (consistent 10% per re-run and per
    engine — the reproducible alternative to rand() sampling for
    training-data splits); rollup by lang checks stratification."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int"),
        F.lit(10),
    )
    return (
        docs.where(bucket == 0)
        .groupBy("lang")
        .agg(F.count("*").alias("n_sampled"))
    )


@register("q_distinct_users", """
SELECT event_type,
       count(DISTINCT user_id) AS n_users,
       count(*) AS n_events
FROM events GROUP BY event_type
""")
def q_distinct_users(spark, sf_dir):
    """Distinct aggregation (two-phase shuffle dedup); at 100 TB the
    approx_count_distinct HLL sketch swaps in with the same shape."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


@register("dedup_components", _CC_ORACLE)
def q_dedup_components(spark, sf_dir):
    """Dedup clustering: verified near-dup pairs → connected
    components (canonical = min doc_id). Spark: iterative min-label
    propagation, run once per corpus snapshot and shared
    (_corpus_components); oracle: exact recursive CTE."""
    return _corpus_components(spark, sf_dir)


@register("dedup_components_star", _CC_ORACLE)
def q_dedup_components_star(spark, sf_dir):
    """The same components via large-star/small-star (Kiveris et al.
    2014): O(log² n) rounds instead of graph diameter — the
    extreme-scale path, hash-checked against the identical recursive
    CTE as the propagation variant. dedup.py:connected_components_star."""
    return dedup.connected_components_star(_jaccard_pairs(spark, sf_dir))


@register("dedup_simhash", _SH_PAIRS_SQL)
def q_dedup_simhash(spark, sf_dir):
    df = dedup.simhash_pairs(
        load_table(spark, sf_dir, "documents"), max_hamming=3,
        max_bucket=_lsh_caps(spark, sf_dir, "simhash"),
        sigs=_simhash_sigs(spark, sf_dir),
    )
    return _long(df, "hamming")


@register("dedup_embedding", """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
             / (sqrt(list_inner_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                * sqrt(list_inner_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
             4) AS cosine
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id
  AND round(list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
            / (sqrt(list_inner_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
               * sqrt(list_inner_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
            4) >= 0.3
""")
def q_dedup_embedding(spark, sf_dir):
    # spread_scan: the quadratic Arrow block-matmul ran on the single
    # scan split of the local embeddings file (measured 1.74 -> 0.99 s;
    # no-op on a multi-split production scan)
    return dedup.embedding_near_dup(
        spread_scan(load_table(spark, sf_dir, "embeddings"),
                    key="vec_id"),
        threshold=0.3
    )


@register("q_dedup_method_agreement", f"""
WITH mh AS (
    SELECT doc_a, doc_b FROM (
        WITH {_mh_sig_sql()}, {_mh_buckets_sql()}
        SELECT doc_a, doc_b FROM cand
    ) t
), sh AS (
    SELECT doc_a, doc_b FROM ({_SH_PAIRS_SQL}) s
)
SELECT sum(CASE WHEN sh.doc_a IS NULL THEN 1 ELSE 0 END)::BIGINT
           AS n_minhash_only,
       sum(CASE WHEN mh.doc_a IS NULL THEN 1 ELSE 0 END)::BIGINT
           AS n_simhash_only,
       sum(CASE WHEN mh.doc_a IS NOT NULL
                 AND sh.doc_a IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
           AS n_both
FROM mh FULL OUTER JOIN sh
  ON mh.doc_a = sh.doc_a AND mh.doc_b = sh.doc_b
""")
def q_dedup_method_agreement(spark, sf_dir):
    """Sketch-agreement diagnostics: candidate pairs flagged by
    MinHash-LSH vs SimHash — the calibration readout when tuning
    which near-dup detector (or both) to run at scale. FULL OUTER on
    the two (already capped) pair sets; output is one row. The
    minhash side reads the standing verified-candidate artifact."""
    docs = load_table(spark, sf_dir, "documents")
    mh = _verified_candidates(spark, sf_dir).select("doc_a", "doc_b")
    sh = dedup.simhash_pairs(
        docs, max_hamming=3,
        max_bucket=_lsh_caps(spark, sf_dir, "simhash"),
        sigs=_simhash_sigs(spark, sf_dir),
    ).select(
        F.col("doc_a").alias("sa"), F.col("doc_b").alias("sb")
    )
    j = mh.join(
        sh,
        (F.col("doc_a") == F.col("sa")) & (F.col("doc_b") == F.col("sb")),
        "full_outer",
    )
    return j.agg(
        F.sum(
            F.when(F.col("sa").isNull(), 1).otherwise(0)
        ).cast("long").alias("n_minhash_only"),
        F.sum(
            F.when(F.col("doc_a").isNull(), 1).otherwise(0)
        ).cast("long").alias("n_simhash_only"),
        F.sum(
            F.when(
                F.col("doc_a").isNotNull() & F.col("sa").isNotNull(), 1
            ).otherwise(0)
        ).cast("long").alias("n_both"),
    )


@register("q_minhash_accuracy", f"""
WITH {_mh_sig_sql()}, {_mh_buckets_sql()}
SELECT c.doc_a, c.doc_b,
       round(({_MH_AGREE}) / {_MH_K}.0, 4) AS est_jaccard,
       round(len(list_filter(ta.tokens, t -> list_contains(tb.tokens, t)))
             / (len(ta.tokens) + len(tb.tokens)
                - len(list_filter(ta.tokens, t -> list_contains(tb.tokens, t)))),
             4) AS jaccard
FROM cand c
JOIN sigs sa ON sa.doc_id = c.doc_a
JOIN sigs sb ON sb.doc_id = c.doc_b
JOIN toks ta ON ta.doc_id = c.doc_a
JOIN toks tb ON tb.doc_id = c.doc_b
""")
def q_minhash_accuracy(spark, sf_dir):
    """Sketch calibration: the MinHash-estimated Jaccard (fraction of
    agreeing signature slots) next to the exact token-set Jaccard for
    every LSH candidate pair — the measurement that justifies running
    the sketch instead of the exact op at 100 TB. Round 12: the exact
    jaccard comes from the standing verified-candidate artifact
    (_verified_candidates — one verification job per corpus
    snapshot); only the est_jaccard side — two joins against the
    standing signature artifact — runs per query."""
    sigs = _minhash_sigs(spark, sf_dir)
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{k}").alias(f"a{k}") for k in range(_MH_K)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{k}").alias(f"b{k}") for k in range(_MH_K)],
    )
    agree = sum(
        (F.col(f"a{k}") == F.col(f"b{k}")).cast("int") for k in range(_MH_K)
    )
    return (
        _verified_candidates(spark, sf_dir)
        .join(sa, "doc_a").join(sb, "doc_b")
        .select(
            "doc_a", "doc_b",
            F.round(agree / F.lit(float(_MH_K)), 4).alias("est_jaccard"),
            "jaccard",
        )
    )


@register("q_edit_distance_pairs", f"""
WITH {_mh_sig_sql()}, {_mh_buckets_sql()}
SELECT c.doc_a, c.doc_b,
       levenshtein(substring(da.text, 1, 80),
                   substring(db.text, 1, 80))::BIGINT AS edit_dist
FROM cand c
JOIN documents da ON da.doc_id = c.doc_a
JOIN documents db ON db.doc_id = c.doc_b
WHERE levenshtein(substring(da.text, 1, 80),
                  substring(db.text, 1, 80)) <= 20
""")
def q_edit_distance_pairs(spark, sf_dir):
    """Character-level near-dup verification: Levenshtein on fixed
    prefixes of the capped LSH candidate pairs (catches in-place edits
    that token-set Jaccard misses; bounded-threshold DP per pair).
    Round 12: the candidate relation comes from the standing
    verified-candidate artifact — only the prefix joins + bounded DP
    run per query. dedup.py:edit_distance_pairs."""
    return dedup.edit_distance_pairs(
        load_table(spark, sf_dir, "documents"),
        cands=_verified_candidates(spark, sf_dir),
    )


@register("q_lsh_bucket_stats", f"""
WITH {_mh_sig_sql("mh_")}, {_mh_buckets_sql("mh_")},
{_simhash_sql(p="sh_")},
sh_sized AS (
    SELECT band, (simhash >> (8 * band)) & 255 AS bv, count(*) AS n
    FROM sh_sigs CROSS JOIN (SELECT unnest([0,1,2,3]) AS band) b
    GROUP BY 1, 2
), {_caps_sql("sh_sized", "shc_")},
mh_stats AS (
    SELECT 'minhash' AS method, s.band,
           CAST(cp.cap AS BIGINT) AS cap,
           count(*) AS n_buckets,
           count(*) FILTER (WHERE s.n BETWEEN 2 AND cp.cap)
               AS n_pairable,
           count(*) FILTER (WHERE s.n > cp.cap) AS n_dropped,
           CAST(coalesce(sum(s.n) FILTER (WHERE s.n > cp.cap), 0)
               AS BIGINT) AS docs_in_dropped,
           max(s.n) AS max_bucket_n
    FROM mh_sized s JOIN mh_caps cp ON cp.band = s.band
    GROUP BY s.band, cp.cap
),
sh_stats AS (
    SELECT 'simhash' AS method, s.band,
           CAST(cp.cap AS BIGINT) AS cap,
           count(*) AS n_buckets,
           count(*) FILTER (WHERE s.n BETWEEN 2 AND cp.cap)
               AS n_pairable,
           count(*) FILTER (WHERE s.n > cp.cap) AS n_dropped,
           CAST(coalesce(sum(s.n) FILTER (WHERE s.n > cp.cap), 0)
               AS BIGINT) AS docs_in_dropped,
           max(s.n) AS max_bucket_n
    FROM sh_sized s JOIN shc_caps cp ON cp.band = s.band
    GROUP BY s.band, cp.cap
)
SELECT * FROM mh_stats UNION ALL SELECT * FROM sh_stats
""")
def q_lsh_bucket_stats(spark, sf_dir):
    """LSH bucket-load observability: per (method, band) — the
    ENGAGED cap (q_lsh_cap_planner's chosen value, round 11), bucket
    count, pairable buckets (2..cap), buckets DROPPED by the fanout
    cap, and how many docs sat in them. This is the 'no silent caps'
    rule as a first-class query: the recall the engaged caps trade
    away is measured at the caps the generators actually run, and
    cap tuning reads directly off max_bucket_n. One count agg per
    method over the same bucket frames pairing uses
    (dedup.minhash_buckets / simhash_buckets) — map-side combinable,
    plus a broadcast n_bands-row cap join."""
    docs = load_table(spark, sf_dir, "documents")

    def stats(per_bucket, caps, method):
        cap = dedup.band_cap_col(caps)
        return per_bucket.groupBy("band").agg(
            F.count("*").alias("n_buckets"),
            F.sum(F.when(F.col("n").between(F.lit(2), cap), 1)
                  .otherwise(0)).cast("long").alias("n_pairable"),
            F.sum(F.when(F.col("n") > cap, 1).otherwise(0))
                .cast("long").alias("n_dropped"),
            F.sum(F.when(F.col("n") > cap, F.col("n")).otherwise(0))
                .cast("long").alias("docs_in_dropped"),
            F.max("n").alias("max_bucket_n"),
        ).select(
            F.lit(method).alias("method"), "band",
            dedup.band_cap_col(caps).cast("long").alias("cap"),
            "n_buckets", "n_pairable", "n_dropped", "docs_in_dropped",
            "max_bucket_n",
        )

    mh = dedup.minhash_buckets(
        docs, num_hashes=_MH_K, band_size=_MH_BAND,
        sigs=_minhash_sigs(spark, sf_dir)) \
        .groupBy("band", "bh").agg(F.count("*").alias("n"))
    sh = dedup.simhash_buckets(
        docs, sigs=_simhash_sigs(spark, sf_dir)) \
        .groupBy("band", "bv").agg(F.count("*").alias("n"))
    return stats(
        mh, _lsh_caps(spark, sf_dir, "minhash"), "minhash"
    ).unionByName(
        stats(sh, _lsh_caps(spark, sf_dir, "simhash"), "simhash")
    )


@register("q_semdedup", f"""
WITH cents AS (
    SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings
    WHERE vec_id < {_SEMDEDUP_K_SQL}
), scored AS (
    SELECT e.vec_id, c.centroid_id,
           round({_ASSIGN_COS_SQL}, 4) AS cosine
    FROM embeddings e, cents c
), assign AS (
    SELECT vec_id, centroid_id FROM (
        SELECT vec_id, centroid_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cosine DESC, centroid_id)
                   AS rn
        FROM scored
    ) WHERE rn = 1
), vecs AS (
    SELECT a.vec_id, a.centroid_id, e.embedding
    FROM assign a JOIN embeddings e USING (vec_id)
), dropped AS (
    SELECT DISTINCT y.vec_id
    FROM vecs x JOIN vecs y
      ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
    WHERE round({_PAIR_COS_SQL}, 4) >= {_SEMDEDUP_TAU}
)
SELECT v.vec_id, v.centroid_id, (d.vec_id IS NULL) AS keep
FROM (SELECT vec_id, centroid_id FROM vecs) v
LEFT JOIN dropped d USING (vec_id)
""")
def q_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): cluster-scoped semantic
    near-duplicate removal — the quadratic pairwise cosine is paid
    only WITHIN k-means clusters, never across the corpus, which is
    what makes embedding dedup tractable at training-corpus scale
    (k grows with the corpus, per-cluster population stays bounded).
    One row per vector with a deterministic keep-first survivor flag.
    semdedup_keep derives k = ceil(n/64) from the corpus size —
    the oracle's scalar subquery computes the identical k.
    operators/dedup.py:semdedup_keep."""
    return dedup.semdedup_keep(
        spread_scan(load_table(spark, sf_dir, "embeddings"),
                    key="vec_id"),
        threshold=_SEMDEDUP_TAU,
    )


@register("q_hll_audit", """
SELECT event_type,
       count(DISTINCT user_id) AS n_users_exact,
       count(*) AS n_events,
       TRUE AS hll_within_bound
FROM events GROUP BY event_type
""")
def q_hll_audit(spark, sf_dir):
    """Sketch calibration for the distinct-count swap: run HyperLogLog
    (approx_count_distinct, rsd=5%) NEXT TO the exact distinct and
    assert the estimate lands within 3× the requested error — the
    measurement that justifies q_distinct_users' documented HLL swap
    at 100 TB. The oracle pins the exact counts and the contract
    boolean at TRUE; HLL drift outside the band fails the hash gate
    (same pattern as q_sketch_rank_audit / q_minhash_accuracy: the
    approximation is graded, not trusted)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users_exact"),
            F.approx_count_distinct("user_id", _HLL_RSD).alias("n_hll"),
            F.count("*").alias("n_events"),
        )
        .select(
            "event_type", "n_users_exact", "n_events",
            (
                F.abs(F.col("n_hll") - F.col("n_users_exact"))
                <= F.ceil(F.col("n_users_exact") * _HLL_BOUND)
            ).alias("hll_within_bound"),
        )
    )


@register("q_incremental_dedup", f"""
WITH {_mh_sig_sql()}, bucketed AS (
    SELECT doc_id, band,
           CASE band {" ".join(
               "WHEN {b} THEN md5({c})".format(
                   b=b,
                   c=" || ".join(
                       f"mh{b * _MH_BAND + r}" for r in range(_MH_BAND)
                   ),
               )
               for b in range(_MH_K // _MH_BAND)
           )} END AS bh
    FROM sigs CROSS JOIN (SELECT unnest([{",".join(
        str(b) for b in range(_MH_K // _MH_BAND)
    )}]) AS band) b
), fsized AS (
    -- caps derive from the FULL corpus bucket distribution — the
    -- same standing planning decision every batch consumer reads
    SELECT band, bh, count(*) AS n FROM bucketed GROUP BY 1, 2
), {_caps_sql("fsized", "inc_")}, bb AS (
    SELECT * FROM bucketed WHERE doc_id % {_INC_MOD} = 0
), cbp AS (
    SELECT c.* FROM bucketed c
    JOIN (SELECT DISTINCT band, bh FROM bb) k USING (band, bh)
    WHERE c.doc_id % {_INC_MOD} <> 0
), csized AS (
    SELECT band, bh, count(*) AS n FROM cbp GROUP BY 1, 2
), agg AS (
    SELECT bb.doc_id AS batch_doc, min(cbp.doc_id) AS first_match
    FROM bb
    JOIN cbp USING (band, bh)
    JOIN csized s ON s.band = bb.band AND s.bh = bb.bh
    JOIN inc_caps cp ON cp.band = bb.band
    WHERE s.n <= cp.cap
    GROUP BY 1
)
SELECT d.doc_id, (a.batch_doc IS NOT NULL) AS is_dup,
       CAST(coalesce(a.first_match, -1) AS BIGINT) AS first_match_doc
FROM (SELECT doc_id FROM documents WHERE doc_id % {_INC_MOD} = 0) d
LEFT JOIN agg a ON a.batch_doc = d.doc_id
""")
def q_incremental_dedup(spark, sf_dir):
    """Incremental ingest dedup — the continuous-corpus-building
    shape: every doc of the incoming batch (doc_id ≡ 0 mod 10 here)
    is flagged if it near-matches the STANDING corpus, without ever
    pairing the corpus with itself. The batch's bucket-key set
    broadcasts and semi-join-prunes the corpus bucket scan; fanout is
    batch×bucket bounded by the corpus-side cap. At 100 TB the corpus
    buckets are a materialized standing LSH index (minhash_buckets IS
    the index schema) appended per ingest — the streaming near-dup
    ingest keeps exactly that index (streaming/neardup.py).
    operators/dedup.py: incremental_lsh_matches /
    lsh_flag_against_index."""
    docs = load_table(spark, sf_dir, "documents")
    caps = _lsh_caps(spark, sf_dir, "minhash")
    batch = docs.where(F.col("doc_id") % _INC_MOD == 0)
    return dedup.incremental_lsh_matches(
        batch,
        docs.where(F.col("doc_id") % _INC_MOD != 0),
        num_hashes=_MH_K, band_size=_MH_BAND,
        max_bucket=caps,
    )


@register("q_containment_pairs", f"""
WITH {_mh_sig_sql()}, {_mh_buckets_sql()}, withsets AS (
    SELECT c.doc_a, c.doc_b, ta.tokens AS ta, tb.tokens AS tb
    FROM cand c
    JOIN toks ta ON ta.doc_id = c.doc_a
    JOIN toks tb ON tb.doc_id = c.doc_b
), scored AS (
    SELECT doc_a, doc_b,
           round(len(list_filter(ta, t -> list_contains(tb, t)))
                 / len(ta), 4) AS cont_a_in_b,
           round(len(list_filter(ta, t -> list_contains(tb, t)))
                 / len(tb), 4) AS cont_b_in_a
    FROM withsets
)
SELECT doc_a, doc_b, cont_a_in_b, cont_b_in_a
FROM scored
WHERE greatest(cont_a_in_b, cont_b_in_a) >= {_CONT_TAU}
""")
def q_containment_pairs(spark, sf_dir):
    """Asymmetric containment dedup (Broder's measure): a short doc
    embedded inside a longer one scores near-1 containment while its
    symmetric Jaccard goes small — the quote/boilerplate-inclusion
    near-dup class a jaccard-threshold pipeline misses. Verified on
    the capped LSH candidate set (round 12: read from the standing
    verified-candidate artifact — only the token joins + containment
    arithmetic run per query); both directions reported.
    operators/dedup.py:containment_pairs."""
    return dedup.containment_pairs(
        load_table(spark, sf_dir, "documents"),
        threshold=_CONT_TAU,
        cands=_verified_candidates(spark, sf_dir),
    )


@register("q_component_lookup", _CC_CTES + f"""
, comps AS (
    SELECT id AS doc_id, min(label) AS component_id FROM walk GROUP BY id
), probe(doc_id) AS (VALUES {", ".join(f"({i})" for i in _LOOKUP_DOC_IDS)})
SELECT p.doc_id::BIGINT AS doc_id,
       CAST(coalesce(c.component_id, p.doc_id) AS BIGINT)
           AS canonical_id,
       c.component_id IS NOT NULL AS in_cluster
FROM probe p LEFT JOIN comps c ON c.doc_id = p.doc_id
""")
def q_component_lookup(spark, sf_dir):
    """Point LOOKUP into the standing near-dup component artifact —
    the doc-store-shaped consumer of the dedup pipeline's output
    ("which cluster is this document in, and who is its canonical?")
    that at 100 TB must NOT read the corpus-sized component map per
    query. It filters the session's checkpointed map
    (_corpus_components) to the probed doc_ids, so the map is built
    once per session and shared with every other component consumer.
    Output is probe-sized; the probe set is a fixed 10-id list shared
    with the oracle."""
    probe = spark.createDataFrame(
        [(i,) for i in _LOOKUP_DOC_IDS], "doc_id long")
    comps = _corpus_components(spark, sf_dir)
    comps = comps.where(
        comps["doc_id"].isin(_LOOKUP_DOC_IDS)
    ).withColumnRenamed("component_id", "cid")
    return (
        probe.join(comps, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cid", "doc_id").cast("long")
            .alias("canonical_id"),
            F.col("cid").isNotNull().alias("in_cluster"),
        )
    )


@register("q_neardup_materialize", _CC_CTES + """
, comps AS (
    SELECT id, min(label) AS component_id FROM walk GROUP BY id
)
SELECT d.doc_id,
       CAST(coalesce(c.component_id, d.doc_id) AS BIGINT)
           AS canonical_id,
       (c.component_id IS NULL OR c.component_id = d.doc_id) AS keep
FROM documents d LEFT JOIN comps c ON c.id = d.doc_id
""")
def q_neardup_materialize(spark, sf_dir):
    """The deduped corpus after NEAR-dup clustering — the output users
    actually run the dedup pipeline for: every document with its
    canonical representative (component minimum) and a keep flag
    (keeper = not near-duplicated, or the component canonical).
    Completes the family: dedup_materialize is the exact-hash
    survivor set; this is the LSH→jaccard→connected-components
    survivor set. One left join of the corpus against the
    component-sized (≪ corpus) cluster map.
    operators/dedup.py:connected_components + this projection."""
    docs = load_table(spark, sf_dir, "documents")
    comps = _corpus_components(spark, sf_dir).withColumnRenamed(
        "component_id", "cid"
    )
    return (
        docs.select("doc_id")
        .join(comps, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cid"), F.col("doc_id"))
            .cast("long").alias("canonical_id"),
            (F.col("cid").isNull() | (F.col("cid") == F.col("doc_id")))
            .alias("keep"),
        )
    )


@register("q_span_dedup", f"""
WITH toks AS (
    SELECT doc_id, regexp_extract_all(text, '\\S+') AS tk
    FROM documents
), base AS (
    SELECT doc_id, len(tk)::BIGINT AS n_tokens,
           greatest(len(tk) - {_SPAN_K - 1}, 0)::BIGINT AS n_windows, tk
    FROM toks
), wins AS (
    SELECT doc_id, s.s AS win_start,
           md5(array_to_string(tk[s.s : s.s + {_SPAN_K - 1}], ' ')) AS h
    FROM base, unnest(generate_series(1, n_windows)) AS s(s)
    WHERE n_windows >= 1
), hot AS (
    SELECT h FROM wins GROUP BY h HAVING count(*) >= 2
), dup AS (
    SELECT w.doc_id, w.win_start FROM wins w JOIN hot USING (h)
), per_doc AS (
    SELECT doc_id, count(*)::BIGINT AS n_dup_windows FROM dup GROUP BY doc_id
), cover AS (
    SELECT doc_id, count(DISTINCT win_start + o.o)::BIGINT AS covered_tokens
    FROM dup, unnest(generate_series(0, {_SPAN_K - 1})) AS o(o)
    GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens, b.n_windows,
       coalesce(p.n_dup_windows, 0)::BIGINT AS n_dup_windows,
       coalesce(c.covered_tokens, 0)::BIGINT AS covered_tokens,
       CASE WHEN b.n_tokens = 0 THEN 0
            ELSE (1000000 * coalesce(c.covered_tokens, 0)) // b.n_tokens
       END::BIGINT AS dup_coverage_ppm
FROM base b
LEFT JOIN per_doc p USING (doc_id)
LEFT JOIN cover c USING (doc_id)
""")
def q_span_dedup(spark, sf_dir):
    """Exact-substring duplication profile (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"): every
    {_SPAN_K}-token rolling window is hashed; a window duplicated
    anywhere in the corpus (>= 2 occurrences, cross- or within-doc)
    marks its token span, and each document reports how much of it is
    covered by duplicated spans (the removal budget of the
    suffix-array dedup pass). The single-machine suffix-array build
    does not distribute; the rolling-hash shape is its shuffle
    formulation — explode to windows (pure JVM: regexp tokenize +
    sequence/transform/slice/md5), one shuffle on window hash for the
    global occurrence count, join back, and an interval-union count
    for coverage. All arithmetic integer; md5 is engine-identical."""
    return dedup.span_dedup_profile(
        spread_scan(load_table(spark, sf_dir, "documents")), k=_SPAN_K
    )


@register("q_setsim_prefix_join", r"""
WITH tk AS (
    SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS ws
    FROM documents
), sh AS (
    SELECT DISTINCT doc_id,
           ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS term
    FROM tk, unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS g(i)
), sz AS (
    SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
), pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
    FROM sh a JOIN sh b ON a.term = b.term AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT p.doc_a, p.doc_b,
       CAST(p.inter AS BIGINT) AS inter_size,
       CAST(sa.n + sb.n - p.inter AS BIGINT) AS union_size,
       CAST((p.inter * 1000000) // (sa.n + sb.n - p.inter) AS BIGINT)
           AS jaccard_ppm
FROM pairs p
JOIN sz sa ON sa.doc_id = p.doc_a
JOIN sz sb ON sb.doc_id = p.doc_b
WHERE p.inter * 5 >= (sa.n + sb.n - p.inter) * 3
""")
def q_setsim_prefix_join(spark, sf_dir):
    """EXACT all-pairs similarity join at Jaccard >= 3/5 over word
    3-gram shingle sets, via lossless prefix filtering (AllPairs /
    PPJoin) — the zero-recall-loss complement to the capped-LSH
    dedup family: same answer as the brute-force pair join (the
    oracle IS brute force), but candidates come only from each
    document's rarest |s|-ceil(t|s|)+1 shingles plus a length
    filter, so the shingle-keyed shuffle never goes quadratic in
    posting-list length. All-integer rational-threshold arithmetic.
    operators/dedup.py:setsim_prefix_join."""
    return dedup.setsim_prefix_join(
        spread_scan(load_table(spark, sf_dir, "documents")),
        threshold_num=3, threshold_den=5,
    )


@register("q_incremental_components", r"""
WITH RECURSIVE tk AS (
    SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS ws
    FROM documents
), sh AS (
    SELECT DISTINCT doc_id,
           ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS term
    FROM tk, unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS g(i)
), sz AS (
    SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
), raw_pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
    FROM sh a JOIN sh b ON a.term = b.term AND a.doc_id < b.doc_id
    GROUP BY 1, 2
), pairs AS MATERIALIZED (
    SELECT p.doc_a, p.doc_b
    FROM raw_pairs p
    JOIN sz sa ON sa.doc_id = p.doc_a
    JOIN sz sb ON sb.doc_id = p.doc_b
    WHERE p.inter * 5 >= (sa.n + sb.n - p.inter) * 3
), edges AS MATERIALIZED (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
), verts AS (
    SELECT DISTINCT a AS id FROM edges
), walk(id, label) AS (
    SELECT id, id FROM verts
    UNION
    SELECT e.b AS id, w.label FROM walk w JOIN edges e ON w.id = e.a
    WHERE w.label < e.b
)
SELECT id AS doc_id, min(label) AS component_id FROM walk GROUP BY id
""")
def q_incremental_components(spark, sf_dir):
    """Incremental near-dup component maintenance under corpus growth
    — the 100 TB continuous-ingest path, hash-gated by FROM-SCRATCH
    equality: the corpus is split deterministically into a standing
    80% and a 20% ingest batch (doc_id % 5); standing pairs come from
    the exact prefix-filter join WITHIN the standing corpus, batch
    pairs from the batch×corpus incremental join (posting-list fanout
    = batch × bucket, never corpus×corpus), and the component map is
    updated by CONTRACTING standing docs to their existing labels and
    running components only over the contracted batch edges. The
    oracle recomputes components over the FULL corpus brute-force —
    so the hash passes only if incremental maintenance is EXACTLY
    equivalent to recomputation (pair exactness through a different
    global term order, contraction/expansion label algebra, minimum
    preservation). The STANDING pair relation is memoized like
    _corpus_components — in production it is the previous snapshot's
    materialized artifact, not per-ingest work; the measured cost of
    this query is the true incremental path (batch pairs +
    contraction). operators/dedup.py:setsim_incremental_pairs,
    incremental_components."""
    docs = load_table(spark, sf_dir, "documents")
    flagged = docs.withColumn("is_batch", F.expr("doc_id % 5 = 0"))
    standing_pairs = _standing_setsim_pairs(spark, sf_dir)
    batch_pairs = dedup.setsim_incremental_pairs(
        flagged, batch_col="is_batch",
        threshold_num=3, threshold_den=5,
        precomputed=_standing_setsim_index(spark, sf_dir),
    )
    return dedup.incremental_components(
        standing_pairs, batch_pairs, max_iter=30,
        standing_components=_standing_setsim_components(spark, sf_dir),
    )


@register("q_dedup_threshold_curve", f"""
WITH {_mh_sig_sql()}, {_mh_buckets_sql()}, jac AS (
    SELECT c.doc_a, c.doc_b,
           round({_JACCARD_EXPR}, 4) AS jaccard
    FROM cand c
    JOIN toks ta ON ta.doc_id = c.doc_a
    JOIN toks tb ON tb.doc_id = c.doc_b
), th(threshold_pct) AS (VALUES (50), (70), (90)),
flags AS (
    SELECT t.threshold_pct, j.doc_b AS flagged_doc
    FROM jac j JOIN th t
      ON round(j.jaccard * 10000)::BIGINT >= t.threshold_pct * 100
    GROUP BY 1, 2
), n AS (SELECT count(*)::BIGINT AS n_docs FROM documents)
SELECT t.threshold_pct::BIGINT AS threshold_pct,
       n.n_docs,
       count(f.flagged_doc)::BIGINT AS n_flagged,
       ((count(f.flagged_doc) * 1000000) // n.n_docs)::BIGINT
           AS flagged_ppm
FROM th t CROSS JOIN n
LEFT JOIN flags f ON f.threshold_pct = t.threshold_pct
GROUP BY 1, 2
""")
def q_dedup_threshold_curve(spark, sf_dir):
    """Dedup POLICY sensitivity curve: how much of the corpus would
    be dropped at Jaccard thresholds 0.5 / 0.7 / 0.9 under the
    greedy smaller-id-keeper rule — the tuning readout run BEFORE
    committing a threshold at 100 TB (a knee in this curve is the
    difference between trimming boilerplate and deleting a tenth of
    the corpus). One verified pair relation (computed once at the
    loosest threshold) serves every point: a doc is flagged at t iff
    it is the LARGER id of some pair with jaccard ≥ t, so the curve
    is a threshold-join + distinct over the pair set — no re-running
    the LSH pipeline per point, and the curve is monotone by
    construction. Thresholds compare as INTEGER basis points
    (round(jaccard*10000) >= pct*100) so boundary values like 0.7000
    are included on both engines regardless of double rounding."""
    pairs = _jaccard_pairs(spark, sf_dir)  # jaccard >= 0.5, 4-dp
    th = spark.createDataFrame(
        [(50,), (70,), (90,)], "threshold_pct int"
    )
    flags = (
        pairs.join(
            F.broadcast(th),
            # integer compare: a 4-dp jaccard of exactly 0.7000 has a
            # double *100 that lands one ulp below 70 — round to basis
            # points first so "jaccard >= t" holds at bucket boundaries
            F.round(pairs["jaccard"] * 10000).cast("long")
            >= F.col("threshold_pct") * 100,
        )
        .select("threshold_pct", F.col("doc_b").alias("flagged_doc"))
        .distinct()
    )
    n = load_table(spark, sf_dir, "documents").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    return (
        th.crossJoin(F.broadcast(n))
        .join(flags, "threshold_pct", "left")
        .groupBy(
            F.col("threshold_pct").cast("long").alias("threshold_pct"),
            "n_docs",
        )
        .agg(
            F.count("flagged_doc").cast("long").alias("n_flagged"),
            F.expr(
                "cast((count(flagged_doc) * 1000000) div n_docs"
                " as bigint)"
            ).alias("flagged_ppm"),
        )
    )


@register("q_dedup_cluster_sizes", _CC_CTES + """
, comps AS (
    SELECT id, min(label) AS component_id FROM walk GROUP BY id
), sizes AS (
    SELECT component_id, count(*)::BIGINT AS cluster_size
    FROM comps GROUP BY 1
), n AS (SELECT count(*) AS n_docs FROM documents),
hist AS (
    SELECT cluster_size, count(*)::BIGINT AS n_clusters,
           (cluster_size * count(*))::BIGINT AS docs_covered
    FROM sizes GROUP BY 1
)
SELECT h.cluster_size, h.n_clusters, h.docs_covered,
       ((h.docs_covered * 1000000) // n.n_docs)::BIGINT
           AS corpus_share_ppm
FROM hist h, n
""")
def q_dedup_cluster_sizes(spark, sf_dir):
    """Near-dup cluster-size distribution — the dedup observability
    readout that decides POLICY: a corpus whose duplicates sit in a
    few giant clusters (template spam) needs different handling than
    one with many pairs (true near-copies), and 'how much of the
    corpus is inside clusters of size >= s' is exactly what this
    histogram answers. Rolls the connected-components output up
    twice (component -> size, size -> count) — both rollups are over
    relations ≤ |clustered docs|, far below the corpus, and the
    corpus total broadcasts onto the ≤ |distinct sizes| rows.
    operators/dedup.py:connected_components + two aggregations."""
    comps = _corpus_components(spark, sf_dir)
    sizes = comps.groupBy("component_id").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    n = load_table(spark, sf_dir, "documents").agg(
        F.count("*").alias("n_docs")
    )
    hist = sizes.groupBy("cluster_size").agg(
        F.count("*").cast("long").alias("n_clusters")
    )
    return (
        hist.crossJoin(F.broadcast(n))
        .select(
            "cluster_size", "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("long").alias("docs_covered"),
            F.expr(
                "CAST((cluster_size * n_clusters * 1000000)"
                " div n_docs AS BIGINT)"
            ).alias("corpus_share_ppm"),
        )
    )

@register("q_lsh_band_planner", f"""
WITH {_mh_sig_sql()}, {_mh_buckets_sql()}, jac AS (
    SELECT round({_JACCARD_EXPR}, 4) AS s
    FROM cand c
    JOIN toks ta ON ta.doc_id = c.doc_a
    JOIN toks tb ON tb.doc_id = c.doc_b
), cfg(b, r) AS (VALUES {", ".join(f"({b}, {r})" for b, r in _LSH_PLAN_CONFIGS)}),
terms AS (
    SELECT cfg.b, cfg.r,
           CASE WHEN round(j.s * 10000)::BIGINT >= 5000
                THEN 1 ELSE 0 END AS is_true,
           round(1.0 - pow(1.0 - round(pow(j.s, cfg.r), 6), cfg.b), 6)
               ::DECIMAL(18,6) AS p
    FROM jac j CROSS JOIN cfg
)
SELECT b::BIGINT AS n_bands, r::BIGINT AS rows_per_band,
       round(pow(1.0e0 / b, 1.0e0 / r), 6) AS s50_threshold,
       count(*)::BIGINT AS n_cand_pairs,
       sum(is_true)::BIGINT AS n_true_pairs,
       round(sum(CASE WHEN is_true = 1 THEN p ELSE 0 END)::DOUBLE, 4)
           AS exp_true_detected,
       round(sum(CASE WHEN is_true = 0 THEN p ELSE 0 END)::DOUBLE, 4)
           AS exp_false_alarms
FROM terms GROUP BY b, r
""")
def q_lsh_band_planner(spark, sf_dir):
    """LSH (bands x rows) planner grounded in the MEASURED Jaccard
    distribution: for each 128-hash layout, the S-curve detection
    probability 1-(1-s^r)^b is evaluated against the corpus's own
    candidate-pair similarities — expected true-pair recall mass vs
    expected sub-threshold false-alarm work, plus the layout's s50
    midpoint (1/b)^(1/r). This turns the b/r choice from a textbook
    table into a data-driven decision BEFORE a 100 TB dedup run
    (q_lsh_bucket_stats audits the chosen layout after; this ranks
    the alternatives first). pow/ln parity follows the zipf
    protocol (every transcendental application rounded 6dp before
    reuse); probability mass accumulates in exact DECIMAL. The pair
    relation is the bucket-capped candidate set — never all-pairs;
    the config cross is a 5-row broadcast. Round 12: the verified
    similarities come from the standing _verified_candidates artifact
    (jaccard ≥ 0.0 ≡ the old threshold=0.0 run) instead of a
    per-query full re-verification of the engaged-caps candidate
    family — the reproduced 3.15× idle regression this query carried
    in round 11."""
    pairs = (
        _verified_candidates(spark, sf_dir)
        .where(F.col("jaccard") >= 0.0)
        .select(F.col("jaccard").alias("s"))
    )
    cfg = spark.createDataFrame(
        list(_LSH_PLAN_CONFIGS), "b int, r int")
    terms = pairs.crossJoin(F.broadcast(cfg)).select(
        "b", "r",
        F.expr(
            "CASE WHEN CAST(round(s * 10000) AS BIGINT) >= 5000"
            " THEN 1 ELSE 0 END"
        ).alias("is_true"),
        F.expr(
            "CAST(round(1.0 - pow(1.0 - round(pow(s, r), 6), b), 6)"
            " AS DECIMAL(18,6))"
        ).alias("p"),
    )
    return terms.groupBy("b", "r").agg(
        F.expr("round(pow(1.0e0 / b, 1.0e0 / r), 6)").alias("s50_threshold"),
        F.count("*").cast("long").alias("n_cand_pairs"),
        F.sum("is_true").cast("long").alias("n_true_pairs"),
        F.expr(
            "round(CAST(sum(CASE WHEN is_true = 1 THEN p ELSE 0 END)"
            " AS DOUBLE), 4)"
        ).alias("exp_true_detected"),
        F.expr(
            "round(CAST(sum(CASE WHEN is_true = 0 THEN p ELSE 0 END)"
            " AS DOUBLE), 4)"
        ).alias("exp_false_alarms"),
    ).select(
        F.col("b").cast("long").alias("n_bands"),
        F.col("r").cast("long").alias("rows_per_band"),
        "s50_threshold", "n_cand_pairs", "n_true_pairs",
        "exp_true_detected", "exp_false_alarms",
    )


@register("q_cluster_density", _CC_CTES + """
, comp AS (
    SELECT id AS doc_id, min(label) AS component_id FROM walk GROUP BY id
), csize AS (
    SELECT component_id, count(*)::BIGINT AS n_nodes
    FROM comp GROUP BY 1
), cedges AS (
    SELECT c.component_id, count(*)::BIGINT AS n_edges
    FROM jac j JOIN comp c ON c.doc_id = j.doc_a
    GROUP BY 1
)
SELECT s.component_id, s.n_nodes, e.n_edges,
       ((2 * e.n_edges * 1000000)
        // (s.n_nodes * (s.n_nodes - 1)))::BIGINT AS density_ppm,
       e.n_edges = s.n_nodes * (s.n_nodes - 1) / 2 AS is_clique
FROM csize s JOIN cedges e ON e.component_id = s.component_id
""")
def q_cluster_density(spark, sf_dir):
    """Edge density per near-dup cluster: 2E/(n(n-1)) — the cluster-
    COHERENCE audit that q_dedup_cluster_sizes' size histogram
    can't see: a dense (clique-like) cluster is one true duplicate
    family, while a sparse chain is transitive drift (A~B~C with
    A!~C) where keep-one-per-cluster deletes documents that are NOT
    near-dups of the keeper — the known failure mode of connected-
    component dedup at scale, now measurable per cluster before the
    drop decision. Consumes the memoized pair + component relations
    (computed once per corpus snapshot); both rollups are bounded
    by clustered docs, far below the corpus. Integer ppm; clique
    flag exact."""
    comps = _corpus_components(spark, sf_dir)
    pairs = _jaccard_pairs(spark, sf_dir)
    csize = comps.groupBy("component_id").agg(
        F.count("*").cast("long").alias("n_nodes"))
    cedges = (
        pairs.join(comps, pairs["doc_a"] == comps["doc_id"])
        .groupBy("component_id")
        .agg(F.count("*").cast("long").alias("n_edges"))
    )
    return csize.join(cedges, "component_id").select(
        "component_id", "n_nodes", "n_edges",
        F.expr(
            "CAST((2 * n_edges * 1000000)"
            " div (n_nodes * (n_nodes - 1)) AS BIGINT)"
        ).alias("density_ppm"),
        F.expr("n_edges = n_nodes * (n_nodes - 1) div 2")
        .alias("is_clique"),
    )


@register("q_dup_rate_by_length", _CC_CTES + """
, dupdocs AS (
    -- explicit DISTINCT: inside this WITH RECURSIVE block DuckDB
    -- executes a bare UNION as UNION ALL (observed), so dedup must
    -- be spelled out
    SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM jac
        UNION ALL
        SELECT doc_b FROM jac
    )
)
SELECT (d.n_chars // 500)::BIGINT AS length_band,
       count(*)::BIGINT AS n_docs,
       sum(CASE WHEN dd.doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
           AS n_dup_docs,
       ((sum(CASE WHEN dd.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         * 1000000) // count(*))::BIGINT AS dup_rate_ppm
FROM documents d LEFT JOIN dupdocs dd USING (doc_id)
GROUP BY 1
""")
def q_dup_rate_by_length(spark, sf_dir):
    """Near-duplication incidence by document length band (500-char
    equi-width): what fraction of each length class sits in at least
    one verified near-dup pair — the diagnostic that decides whether
    dedup thresholds need LENGTH CONDITIONING (short docs reach
    Jaccard thresholds by chance -> over-deletion; if dup mass
    instead concentrates in long docs it's true mirroring). Bands
    are data-independent integer cuts (no global length sort at any
    scale); consumes the memoized verified-pair relation projected
    to the distinct dup-doc set; ONE left semi-style join against
    the corpus + a band groupBy."""
    pairs = _jaccard_pairs(spark, sf_dir)
    dupdocs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("_dup", F.lit(1))
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars")
    return (
        docs.join(F.broadcast(dupdocs), "doc_id", "left")
        .groupBy(F.expr("CAST(n_chars div 500 AS BIGINT)")
                 .alias("length_band"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.coalesce(F.col("_dup"), F.lit(0))).cast("long")
            .alias("n_dup_docs"),
        )
        .withColumn(
            "dup_rate_ppm",
            F.expr("CAST((n_dup_docs * 1000000) div n_docs AS BIGINT)"),
        )
    )


@register("q_cluster_purity", _CC_CTES + """
, comp AS (
    SELECT id AS doc_id, min(label) AS component_id
    FROM walk GROUP BY id
), per_cs AS (
    SELECT c.component_id, d.source, count(*)::BIGINT AS cnt
    FROM comp c JOIN documents d USING (doc_id)
    GROUP BY 1, 2
), per_c AS (
    SELECT component_id,
           sum(cnt)::BIGINT AS size,
           max(cnt)::BIGINT AS dom,
           count(*)::BIGINT AS n_sources
    FROM per_cs GROUP BY 1
)
SELECT CAST(floor(log2(size)) AS BIGINT) AS size_band,
       count(*)::BIGINT AS n_components,
       sum(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END)::BIGINT
           AS n_pure,
       (sum((dom * 1000000) // size) // count(*))::BIGINT
           AS mean_dominant_ppm
FROM per_c GROUP BY 1
""")
def q_cluster_purity(spark, sf_dir):
    """Source purity of near-dup clusters by size band: per component
    the dominant-source share and single-source flag, rolled up by
    log2 size band — the cluster-level companion to
    q_dup_source_matrix's pair-level flow map (a big MIXED-source
    cluster is cross-feed mirroring that forces global dedup; big
    PURE clusters are in-feed templates a shard-local pass already
    catches). Consumes the memoized component map; joins only the
    (doc_id, source) projection; per-component stats are exact
    integers (dominant share in truncating ppm, no transcendental
    except the band's floor(log2) on a BIGINT — exact for the IEEE
    doubles both engines produce); output is O(log max-cluster-size)
    rows."""
    compmap = _corpus_components(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source")
    per_cs = (
        compmap.join(docs, "doc_id")
        .groupBy("component_id", "source")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    per_c = per_cs.groupBy("component_id").agg(
        F.sum("cnt").cast("long").alias("size"),
        F.max("cnt").cast("long").alias("dom"),
        F.count("*").cast("long").alias("n_sources"),
    )
    return (
        per_c.groupBy(
            F.expr("CAST(floor(log2(size)) AS BIGINT)")
            .alias("size_band"))
        .agg(
            F.count("*").cast("long").alias("n_components"),
            F.sum(F.when(F.col("n_sources") == 1, 1).otherwise(0))
            .cast("long").alias("n_pure"),
            F.expr("CAST(sum((dom * 1000000) div size) div count(*)"
                   " AS BIGINT)").alias("mean_dominant_ppm"),
        )
    )


@register("q_dedup_recall_capture", f"""
WITH {_mh_sig_sql()}, {_mh_buckets_sql()}, jac_a AS (
    SELECT c.doc_a, c.doc_b
    FROM cand c
    JOIN toks ta ON ta.doc_id = c.doc_a
    JOIN toks tb ON tb.doc_id = c.doc_b
    WHERE round({_JACCARD_EXPR}, 4) >= 0.5
), {_simhash_sql(p="sh_")}, sh_bands AS (
    SELECT doc_id, simhash, band,
           (simhash >> (8 * band)) & 255 AS bv
    FROM sh_sigs CROSS JOIN (SELECT unnest([0,1,2,3]) AS band) n
), sh_sized AS (
    SELECT band, bv, count(*) AS n FROM sh_bands GROUP BY band, bv
), {_caps_sql("sh_sized", "shc_")}, sh_capped AS (
    SELECT s.doc_id, s.simhash, s.band, s.bv
    FROM sh_bands s JOIN sh_sized z ON z.band = s.band AND z.bv = s.bv
    JOIN shc_caps cp ON cp.band = s.band
    WHERE z.n BETWEEN 2 AND cp.cap
), sh_cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM sh_capped a JOIN sh_capped b
      ON a.band = b.band AND a.bv = b.bv
    WHERE a.doc_id < b.doc_id
      AND bit_count(xor(a.simhash, b.simhash)) <= 3
), jac_b AS (
    SELECT c.doc_a, c.doc_b
    FROM sh_cand c
    JOIN toks ta ON ta.doc_id = c.doc_a
    JOIN toks tb ON tb.doc_id = c.doc_b
    WHERE round({_JACCARD_EXPR}, 4) >= 0.5
), s AS (
    SELECT (SELECT count(*) FROM jac_a)::BIGINT AS n_a,
           (SELECT count(*) FROM jac_b)::BIGINT AS n_b,
           (SELECT count(*) FROM jac_a JOIN jac_b
            USING (doc_a, doc_b))::BIGINT AS n_both
), est AS (
    SELECT n_a, n_b, n_both,
           greatest(((n_a + 1) * (n_b + 1)) // (n_both + 1) - 1,
                    n_a, n_b) AS n_est
    FROM s
)
SELECT n_a AS n_minhash_verified, n_b AS n_simhash_verified, n_both,
       n_est AS est_total_pairs,
       ((n_a * 1000000) // greatest(n_est, 1))::BIGINT
           AS recall_minhash_ppm,
       ((n_b * 1000000) // greatest(n_est, 1))::BIGINT
           AS recall_simhash_ppm
FROM est
""")
def q_dedup_recall_capture(spark, sf_dir):
    """Capture-recapture estimate of near-dup RECALL without ground
    truth: MinHash-LSH and SimHash are two independent-ish 'capture
    occasions' over the same population (true Jaccard>=0.5 pairs), so
    Chapman's estimator on their VERIFIED pair sets sizes the pairs
    BOTH detectors missed — the number q_dedup_method_agreement's raw
    overlap can't give (agreement says how much the sketches
    disagree; this says how much truth is left on the table, the
    recall leg of the audit triangle whose precision leg is
    q_minhash_accuracy). Standard caveat applies and is the point:
    correlated detectors bias the estimate UP (optimistic), so a LOW
    estimated recall is a hard alarm. Both candidate sets are the
    production capped-bucket paths; verification is the same exact
    token-set Jaccard; counts are exact integers through Chapman's
    closed form (clamped >= max(n_a, n_b))."""
    docs = load_table(spark, sf_dir, "documents")
    a = _jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    sh = dedup.simhash_pairs(
        docs, max_hamming=3,
        max_bucket=_lsh_caps(spark, sf_dir, "simhash"),
        sigs=_simhash_sigs(spark, sf_dir),
    ).select("doc_a", "doc_b")
    # spread_scan: the token arrays join the verify below from both
    # endpoints — without it the tokenize ran on the scan's single
    # local split (round 13; no-op on a multi-split production scan)
    toks = spread_scan(docs).select(
        "doc_id", dedup._norm_tokens(F.col("text")).alias("tokens"))
    b = (
        sh.join(toks.withColumnsRenamed(
            {"doc_id": "doc_a", "tokens": "ta"}), "doc_a")
        .join(toks.withColumnsRenamed(
            {"doc_id": "doc_b", "tokens": "tb"}), "doc_b")
        .where(
            F.round(
                F.size(F.array_intersect("ta", "tb"))
                / F.size(F.array_union("ta", "tb")), 4) >= 0.5)
        .select("doc_a", "doc_b")
        # checkpoint: n_b and n_both both consume b — without the
        # materialization the whole simhash-pair + double-tokenize
        # verification subtree is inlined (and EXECUTED) twice
        .localCheckpoint()
    )
    na = a.agg(F.count("*").cast("long").alias("n_a"))
    nb = b.agg(F.count("*").cast("long").alias("n_b"))
    nboth = a.join(b, ["doc_a", "doc_b"], "semi").agg(
        F.count("*").cast("long").alias("n_both"))
    return (
        na.crossJoin(F.broadcast(nb)).crossJoin(F.broadcast(nboth))
        .withColumn(
            "n_est",
            F.expr("greatest(((n_a + 1) * (n_b + 1)) div (n_both + 1)"
                   " - 1, n_a, n_b)"))
        .select(
            F.col("n_a").alias("n_minhash_verified"),
            F.col("n_b").alias("n_simhash_verified"),
            "n_both",
            F.col("n_est").alias("est_total_pairs"),
            F.expr("CAST((n_a * 1000000) div greatest(n_est, 1)"
                   " AS BIGINT)").alias("recall_minhash_ppm"),
            F.expr("CAST((n_b * 1000000) div greatest(n_est, 1)"
                   " AS BIGINT)").alias("recall_simhash_ppm"),
        )
    )


# ===================================================================
# round 9 — SURVEY §7.15 candidates: suffix-array span-dedup variant
# and the broadcast-threshold planner
# ===================================================================


@register("q_span_longest_match", f"""
WITH toks AS (
    SELECT doc_id, regexp_extract_all(text, '\\S+') AS tk
    FROM documents
), base AS (
    SELECT doc_id, len(tk)::BIGINT AS n_tokens,
           greatest(len(tk) - {_SPAN_K - 1}, 0)::BIGINT AS n_windows, tk
    FROM toks
), wins AS (
    SELECT doc_id, s.s AS win_start,
           md5(array_to_string(tk[s.s : s.s + {_SPAN_K - 1}], ' ')) AS h
    FROM base, unnest(generate_series(1, n_windows)) AS s(s)
    WHERE n_windows >= 1
), hot AS (
    SELECT h FROM wins GROUP BY h HAVING count(*) >= 2
), dup AS (
    SELECT w.doc_id, w.win_start FROM wins w JOIN hot USING (h)
), runs AS (
    SELECT doc_id,
           win_start - row_number() OVER (
               PARTITION BY doc_id ORDER BY win_start) AS grp
    FROM dup
), spans AS (
    SELECT doc_id, grp, count(*)::BIGINT AS run_len
    FROM runs GROUP BY doc_id, grp
), agg AS (
    SELECT doc_id, max(run_len)::BIGINT AS max_run,
           count(*)::BIGINT AS n_dup_spans
    FROM spans GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens,
       coalesce(a.max_run + {_SPAN_K - 1}, 0)::BIGINT
           AS longest_dup_span_tokens,
       coalesce(a.n_dup_spans, 0)::BIGINT AS n_dup_spans,
       CASE WHEN b.n_tokens = 0 THEN 0
            ELSE (1000000 * coalesce(a.max_run + {_SPAN_K - 1}, 0))
                 // b.n_tokens END::BIGINT AS longest_span_ppm
FROM base b LEFT JOIN agg a USING (doc_id)
""")
def q_span_longest_match(spark, sf_dir):
    """Longest duplicated span per document — the suffix-array
    LCP-array reading (longest repeated substring, floored at the
    {_SPAN_K}-token granularity) as a distributable window-chain
    query, next to q_span_dedup's coverage profile: coverage says how
    MUCH of a doc is duplicated text, this says how LONG its worst
    block is — the number that separates scattered boilerplate (many
    short spans) from wholesale copying (one giant span), which is
    the Lee et al. 2021 removal decision. Exact for spans >= k: a
    span is fully duplicated iff every one of its k-windows is hot,
    so the longest one is (longest consecutive duplicated-start run)
    + k - 1. Scale shape: the one corpus-sized shuffle is the window-
    hash count (shared shape with q_span_dedup); the run/span passes
    see only duplicated windows. Engine parity: md5 window hashes,
    exact integer run arithmetic, ppm via integer div."""
    return dedup.span_longest_match(
        spread_scan(load_table(spark, sf_dir, "documents")), k=_SPAN_K
    )


@register("q_lsh_cap_planner", f"""
WITH {_mh_sig_sql("mh_")}, {_mh_buckets_sql("mh_")},
{_simhash_sql(p="sh_")},
sh_sized AS (
    SELECT band, (simhash >> (8 * band)) & 255 AS bv, count(*) AS n
    FROM sh_sigs CROSS JOIN (SELECT unnest([0,1,2,3]) AS band) b
    GROUP BY 1, 2
),
all_sized AS (
    SELECT 'minhash' AS method, band, n FROM mh_sized
    UNION ALL
    SELECT 'simhash' AS method, band, n FROM sh_sized
),
budget AS (
    SELECT CAST(count(*) * {_CAP_PPD} AS BIGINT) AS pair_budget
    FROM documents
),
caps AS (SELECT unnest({_CAP_CANDIDATES}) AS cap),
ev AS (
    SELECT method, band, cap,
           CAST(coalesce(sum(CASE WHEN n BETWEEN 2 AND cap
                THEN n * (n - 1) // 2 ELSE 0 END), 0) AS BIGINT)
               AS pairs_bound,
           CAST(coalesce(sum(CASE WHEN n > cap THEN n ELSE 0 END), 0)
               AS BIGINT) AS docs_dropped,
           CAST(coalesce(sum(CASE WHEN n > cap THEN 1 ELSE 0 END), 0)
               AS BIGINT) AS buckets_dropped
    FROM all_sized CROSS JOIN caps
    GROUP BY method, band, cap
),
dec AS (
    SELECT e.method, e.band, e.cap, e.pairs_bound, e.docs_dropped,
           e.buckets_dropped, b.pair_budget,
           e.pairs_bound <= b.pair_budget AS fits,
           max(CASE WHEN e.pairs_bound <= b.pair_budget
               THEN e.cap END)
               OVER (PARTITION BY e.method, e.band) AS best_fit,
           min(e.cap) OVER (PARTITION BY e.method, e.band) AS min_cap
    FROM ev e CROSS JOIN budget b
)
SELECT method, CAST(band AS BIGINT) AS band, CAST(cap AS BIGINT) AS cap,
       pairs_bound, docs_dropped, buckets_dropped, pair_budget, fits,
       (cap = coalesce(best_fit, min_cap)) AS chosen
FROM dec
ORDER BY method, band, cap
""")
def q_lsh_cap_planner(spark, sf_dir):
    """Per-band LSH fanout-cap auto-tuner (round-8 verdict's
    'per-band cap tuning from measured drops', executed): for every
    (method, band) x candidate cap {_CAP_CANDIDATES}, the MEASURED
    consequences of that cap on this corpus — modeled verification
    pairs (sum n(n-1)/2 over buckets the cap keeps; over-cap buckets
    drop wholesale, the generators' exact semantics), docs sitting
    in dropped buckets (the recall the cap trades away), buckets
    dropped — and the decision: the largest cap whose pair fanout
    fits the n_docs x {_CAP_PPD} budget (minimizing dropped docs
    within the verification wall), falling back to the smallest
    candidate where nothing fits. Cost: one count-agg per method
    over the same bucket frames the pair generators use (simhash
    rides the standing signature artifact), a 5-row cap cross join,
    and two window passes over 40 rows — strictly cheaper than any
    pairing it plans. All-integer arithmetic; n(n-1) is even so the
    halving is exact. Round 11: the decision is ENGAGED — _lsh_caps
    collects the chosen rows from the SAME _cap_decision relation
    this query returns, and every pair generator consumes them, so
    this table now grades the caps the engine actually runs."""
    docs = load_table(spark, sf_dir, "documents")
    mh = (
        dedup.minhash_buckets(docs, num_hashes=_MH_K,
                              band_size=_MH_BAND,
                              sigs=_minhash_sigs(spark, sf_dir))
        .groupBy("band", "bh").agg(F.count("*").alias("n"))
        .select(F.lit("minhash").alias("method"), "band", "n")
    )
    sh = (
        dedup.simhash_buckets(docs, sigs=_simhash_sigs(spark, sf_dir))
        .groupBy("band", "bv").agg(F.count("*").alias("n"))
        .select(F.lit("simhash").alias("method"), "band", "n")
    )
    sized = mh.unionByName(sh)
    dec = _cap_decision(spark, sized, docs, keys=("method", "band"))
    return dec.select(
        "method",
        F.col("band").cast("long").alias("band"),
        F.col("cap").cast("long").alias("cap"),
        "pairs_bound", "docs_dropped", "buckets_dropped",
        "pair_budget", "fits", "chosen",
    ).orderBy("method", "band", "cap")


@register("q_lsh_band_marginal", f"""
WITH {_mh_sig_sql()}, {_mh_buckets_sql()}, bp AS (
    SELECT a.band, a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bucketed a
    JOIN bucketed b ON a.band = b.band AND a.bh = b.bh
    JOIN sized s ON s.band = a.band AND s.bh = a.bh
    JOIN caps cp ON cp.band = a.band
    WHERE a.doc_id < b.doc_id AND s.n BETWEEN 2 AND cp.cap
), enum_b AS (
    SELECT band, count(*)::BIGINT AS n_pairs_band FROM bp GROUP BY band
), marg AS (
    SELECT band, count(*)::BIGINT AS n_pairs_marginal FROM (
        SELECT doc_a, doc_b, min(band) AS band FROM bp
        GROUP BY doc_a, doc_b
    ) GROUP BY band
)
SELECT cp.band::BIGINT AS band, cp.cap::BIGINT AS cap,
       coalesce(e.n_pairs_band, 0)::BIGINT AS n_pairs_band,
       coalesce(m.n_pairs_marginal, 0)::BIGINT AS n_pairs_marginal,
       (sum(coalesce(m.n_pairs_marginal, 0))
            OVER (ORDER BY cp.band))::BIGINT AS n_pairs_cum
FROM caps cp
LEFT JOIN enum_b e ON e.band = cp.band
LEFT JOIN marg m ON m.band = cp.band
""")
def q_lsh_band_marginal(spark, sf_dir):
    """Per-band MARGINAL UTILITY of the minhash LSH layout under the
    ENGAGED caps: for each band — pairs it enumerates, pairs whose
    SMALLEST in-cap shared band it is (its marginal contribution to
    the distinct candidate set), and the cumulative distinct count.
    This is the index-sizing readout the cap planner doesn't give: a
    band whose marginal contribution is ~zero re-finds pairs earlier
    bands already surfaced, so dropping it cuts 1/n_bands of the
    standing index size and bucket shuffle at 100 TB for measured —
    not guessed — recall cost (q_lsh_band_planner ranks layouts by
    the S-curve model; this measures the live layout's redundancy on
    the actual corpus). Shapes: the pair enumeration is the exact
    capped bucket join the candidate generator runs (per-band pairs
    are distinct by construction — one bucket per doc per band); the
    min-band attribution is one shuffle on the pair key, pair-set
    sized; the rollup is n_bands rows. All-integer."""
    docs = load_table(spark, sf_dir, "documents")
    caps = _lsh_caps(spark, sf_dir, "minhash")
    buckets = dedup.minhash_buckets(
        docs, num_hashes=_MH_K, band_size=_MH_BAND,
        sigs=_minhash_sigs(spark, sf_dir))
    counts = (
        buckets.groupBy("band", "bh").agg(F.count("*").alias("n"))
        .where(F.col("n").between(F.lit(2), dedup.band_cap_col(caps)))
    )
    capped = buckets.join(counts.drop("n"), ["band", "bh"])
    a = capped.select("band", "bh", F.col("doc_id").alias("doc_a"))
    b = capped.select("band", "bh", F.col("doc_id").alias("doc_b"))
    # localCheckpoint: the enumerated pair relation feeds BOTH the
    # per-band count and the min-band attribution
    bp = (
        a.join(b, ["band", "bh"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("band", "doc_a", "doc_b")
        .localCheckpoint()
    )
    enum_b = bp.groupBy("band").agg(
        F.count("*").cast("long").alias("n_pairs_band"))
    marg = (
        bp.groupBy("doc_a", "doc_b").agg(F.min("band").alias("band"))
        .groupBy("band").agg(
            F.count("*").cast("long").alias("n_pairs_marginal"))
    )
    grid = spark.createDataFrame(
        [(int(b_), int(c)) for b_, c in sorted(caps.items())],
        "band int, cap int",
    )
    return (
        grid.join(enum_b, "band", "left").join(marg, "band", "left")
        .select(
            F.col("band").cast("long").alias("band"),
            F.col("cap").cast("long").alias("cap"),
            F.coalesce("n_pairs_band", F.lit(0)).cast("long")
            .alias("n_pairs_band"),
            F.coalesce("n_pairs_marginal", F.lit(0)).cast("long")
            .alias("n_pairs_marginal"),
        )
        .withColumn(
            "n_pairs_cum",
            F.sum("n_pairs_marginal")
            .over(Window.orderBy("band")).cast("long"),
        )
    )


@register("q_simhash_band_marginal", f"""
WITH {_simhash_sql()}, sbands AS (
    SELECT doc_id, simhash, band,
           (simhash >> (8 * band)) & 255 AS bv
    FROM sigs CROSS JOIN (SELECT unnest([0,1,2,3]) AS band) n
), ssized AS (
    SELECT band, bv, count(*) AS n FROM sbands GROUP BY band, bv
), {_caps_sql("ssized", "s_")}, scapped AS (
    SELECT s.doc_id, s.simhash, s.band, s.bv
    FROM sbands s JOIN ssized z ON z.band = s.band AND z.bv = s.bv
    JOIN s_caps cp ON cp.band = s.band
    WHERE z.n BETWEEN 2 AND cp.cap
), sbp AS (
    SELECT a.band, a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM scapped a JOIN scapped b ON a.band = b.band AND a.bv = b.bv
    WHERE a.doc_id < b.doc_id
      AND bit_count(xor(a.simhash, b.simhash)) <= 3
), enum_b AS (
    SELECT band, count(*)::BIGINT AS n_pairs_band FROM sbp GROUP BY band
), marg AS (
    SELECT band, count(*)::BIGINT AS n_pairs_marginal FROM (
        SELECT doc_a, doc_b, min(band) AS band FROM sbp
        GROUP BY doc_a, doc_b
    ) GROUP BY band
)
SELECT cp.band::BIGINT AS band, cp.cap::BIGINT AS cap,
       coalesce(e.n_pairs_band, 0)::BIGINT AS n_pairs_band,
       coalesce(m.n_pairs_marginal, 0)::BIGINT AS n_pairs_marginal,
       (sum(coalesce(m.n_pairs_marginal, 0))
            OVER (ORDER BY cp.band))::BIGINT AS n_pairs_cum
FROM s_caps cp
LEFT JOIN enum_b e ON e.band = cp.band
LEFT JOIN marg m ON m.band = cp.band
""")
def q_simhash_band_marginal(spark, sf_dir):
    """The simhash twin of q_lsh_band_marginal: per byte-band under
    the ENGAGED caps — hamming<=3 pairs the band's buckets enumerate,
    pairs whose SMALLEST in-cap shared band it is, and the cumulative
    distinct count. Two readings matter at scale: (1) the marginal
    column is exactly the emission distribution of the production
    generator's smallest-shared-band rule (operators/dedup.py:
    simhash_pairs), so it measures how much enumeration that rule
    saves vs naive 4-band enumeration + distinct; (2) pigeonhole
    guarantees a hamming<=3 pair shares SOME band, but a band whose
    marginal is ~zero only re-finds earlier bands' pairs — the same
    drop-a-band sizing readout as the minhash variant. Pair
    enumeration is the exact capped bucket join; min-band attribution
    shuffles once on the pair key; rollup is n_bands rows."""
    docs = load_table(spark, sf_dir, "documents")
    caps = _lsh_caps(spark, sf_dir, "simhash")
    bands = dedup.simhash_buckets(
        docs, sigs=_simhash_sigs(spark, sf_dir))
    counts = (
        bands.groupBy("band", "bv").agg(F.count("*").alias("n"))
        .where(F.col("n").between(F.lit(2), dedup.band_cap_col(caps)))
    )
    capped = bands.join(counts.drop("n"), ["band", "bv"])
    a = capped.select(
        "band", "bv", F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("sa"))
    b = capped.select(
        "band", "bv", F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sb"))
    sbp = (
        a.join(b, ["band", "bv"])
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))) <= 3)
        )
        .select("band", "doc_a", "doc_b")
        .localCheckpoint()
    )
    enum_b = sbp.groupBy("band").agg(
        F.count("*").cast("long").alias("n_pairs_band"))
    marg = (
        sbp.groupBy("doc_a", "doc_b").agg(F.min("band").alias("band"))
        .groupBy("band").agg(
            F.count("*").cast("long").alias("n_pairs_marginal"))
    )
    grid = spark.createDataFrame(
        [(int(b_), int(c)) for b_, c in sorted(caps.items())],
        "band int, cap int",
    )
    return (
        grid.join(enum_b, "band", "left").join(marg, "band", "left")
        .select(
            F.col("band").cast("long").alias("band"),
            F.col("cap").cast("long").alias("cap"),
            F.coalesce("n_pairs_band", F.lit(0)).cast("long")
            .alias("n_pairs_band"),
            F.coalesce("n_pairs_marginal", F.lit(0)).cast("long")
            .alias("n_pairs_marginal"),
        )
        .withColumn(
            "n_pairs_cum",
            F.sum("n_pairs_marginal")
            .over(Window.orderBy("band")).cast("long"),
        )
    )
