"""Corpus-level operators: TF-IDF term ranking, nearest-centroid
assignment, corpus statistics.

Extensions a large-scale training-data pipeline needs on top of the
reference's per-document surface. All pure DataFrame ops: term
explode → two aggregations (both with map-side partial combine) for
TF-IDF; a broadcast centroid join for assignment.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import parse
from .similarity import cosine_sim


def term_frequencies(docs: DataFrame) -> DataFrame:
    """(doc_id, term, tf) — term counts per document (all tokens,
    not the distinct set)."""
    return parse.doc_terms(docs, "doc_id")


def tfidf_top_terms(docs: DataFrame, top_k: int = 3) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF.

    idf = ln((N+1)/(df+1)) (smoothed); ties broken by term. The df
    table is tiny (vocab-sized) → broadcast back onto the tf table.
    """
    tf = term_frequencies(docs)
    # N as a 1-row agg crossJoined into the plan (broadcast nested
    # loop of one row) — no separate docs.count() driver action/job.
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    df_t = tf.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    idf = df_t.crossJoin(F.broadcast(n_docs)).withColumn(
        "idf",
        F.log((F.col("n_docs") + 1).cast("double") / (F.col("df") + 1)),
    ).drop("n_docs")
    scored = tf.join(F.broadcast(idf), "term").withColumn(
        "tfidf", F.round(F.col("tf") * F.col("idf"), 4)
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= top_k)
        .select("doc_id", "term", "tf", "tfidf", "rnk")
    )


def bm25_scores(
    docs: DataFrame,
    terms: tuple[str, ...],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 relevance against a fixed query term set — the
    classic retrieval scorer, and the ranking half of a corpus search
    index (tfidf_top_terms is the per-doc half).

    Coverage contract (inner-match semantics): the output contains one
    row per document that matches AT LEAST ONE query term — zero-match
    documents get no row (their score would be 0), and zero-token
    documents are excluded from the n_docs/avgdl corpus statistics.

    Shape: one token explode feeds doc lengths AND the query-term tf
    table (filtered to |terms| rows per doc, so the scored relation is
    tiny); df/idf is a |terms|-row broadcast; corpus totals are a
    1-row crossJoin (no driver count() action). The only doc-sized
    shuffle is the doc_id equi-join of tf × doc-length.

    Parity: idf and the per-(doc, term) score are rounded to 6
    decimals BEFORE the exact decimal sum (libm ln ulp drift can't
    reach the hash — same recipe as unigram_logprob); everything
    upstream of the rounding is per-row IEEE double arithmetic,
    engine-identical.
    """
    tf_all = term_frequencies(docs)
    dl = tf_all.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("dl")
    )
    totals = dl.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_dl"),
    )
    qtf = tf_all.where(F.col("term").isin(list(terms)))
    df_t = qtf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    idf = df_t.crossJoin(F.broadcast(totals)).select(
        "term", "n_docs", "total_dl",
        F.round(
            F.log(
                (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
                + F.lit(1.0)
            ),
            6,
        ).alias("idf"),
    )
    scored = (
        qtf.join(F.broadcast(idf), "term")
        .join(dl, "doc_id")
        .withColumn(
            "term_score",
            F.round(
                F.col("idf")
                * (F.col("tf") * F.lit(k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (
                        F.lit(1.0 - b)
                        + F.lit(b)
                        * F.col("dl")
                        / (
                            F.col("total_dl").cast("double")
                            / F.col("n_docs")
                        )
                    )
                ),
                6,
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_terms_matched"),
        # ≤ |terms| exact 6-dp decimals per doc: the sum is exact and
        # the double cast is lossless at this magnitude
        F.sum(F.col("term_score").cast("decimal(18,6)"))
            .cast("double").alias("bm25"),
    )


def corpus_stats(docs: DataFrame) -> DataFrame:
    """Per-(lang, source) corpus rollup: doc counts + length stats."""
    return docs.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


def contamination_check(
    docs: DataFrame, shingle_n: int = 8, bench_mod: int = 97,
) -> DataFrame:
    """Benchmark-contamination scan: flag training docs sharing any
    ``shingle_n``-token shingle with the held-out benchmark set
    (docs with doc_id % bench_mod == 0 — stand-in for a real eval
    corpus). The standard n-gram-overlap decontamination pass for
    LLM training data.

    Shape: shingle hashes explode per doc (cheap slice+concat,
    codegen'd), benchmark hashes deduplicate (small side), and the
    check is a hash join on the shingle hash — at 100 TB the bench
    side is broadcastable (eval corpora are tiny) and the big side
    never shuffles.
    """
    words = parse.tokens("text")
    pos = (
        docs.select("doc_id", words.alias("words"))
        .where(F.size("words") >= shingle_n)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.size("words") - F.lit(shingle_n - 1))
            ).alias("i"),
            "words",
        )
    )
    shingles = pos.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.slice("words", F.col("i"), shingle_n)))
            .alias("h"),
    )
    bench = (
        shingles.where(F.col("doc_id") % bench_mod == 0)
        .select("h").distinct()
    )
    return (
        shingles.where(F.col("doc_id") % bench_mod != 0)
        .join(F.broadcast(bench), "h")
        .groupBy("doc_id")
        .agg(F.countDistinct("h").alias("n_shared_shingles"))
    )


def dsir_logweights(
    docs: DataFrame,
    target_mod: int = 17,
    n_buckets: int = 256,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document
    by how much more likely its hashed-unigram bag is under a TARGET
    (in-domain) distribution than under the RAW corpus distribution —
    log w(d) = Σ_b f_d[b]·(ln p_target[b] − ln p_raw[b]). High-weight
    documents are the ones importance resampling keeps when curating
    pretraining data toward a domain sample.

    The target set here is the deterministic doc_id % target_mod == 0
    slice (an 'in-domain benchmark sample' stand-in). Features are
    md5-prefix-hashed token buckets (engine-identical hashing — the
    sample_hash_10pct recipe), so the whole feature space is a fixed
    n_buckets-row table: both bucket models and the log-ratio table
    are broadcast-sized at ANY corpus scale, and the per-doc score is
    one map-side-combinable agg over (doc, bucket) features. Laplace
    (+1) smoothing keeps buckets unseen in the target finite.

    Parity: the per-bucket log-ratio is rounded to 6 decimals before
    the exact decimal per-doc sum; the result ships as integer
    micro-nats (unigram_logprob's rule — no float rounding boundary
    can flip the hash)."""
    toks = docs.select(
        "doc_id", F.explode(parse.tokens("text")).alias("term")
    )
    # null guard: vacuously true (doc_id is the corpus key; bucket is
    # pmod(md5) of a never-null token) — unifies the inferred filters
    # on the model branch and the scoring-join branch so both reuse
    # ONE tokenize+bucket-count exchange (see parse.doc_terms)
    feat = toks.select(
        "doc_id",
        F.pmod(
            F.conv(F.substring(F.md5("term"), 1, 4), 16, 10).cast("int"),
            F.lit(n_buckets),
        ).alias("bucket"),
    ).where(
        F.col("doc_id").isNotNull() & F.col("bucket").isNotNull()
    ).groupBy("doc_id", "bucket").agg(F.count("*").alias("tf"))
    is_target = F.col("doc_id") % target_mod == 0
    # ONE pass builds both bucket models (raw + conditional target
    # sum — no separate target aggregation, no left join), and the
    # corpus totals are re-aggregated from the 256-row model table
    # instead of re-scanning the features
    cnt = feat.groupBy("bucket").agg(
        F.sum("tf").cast("long").alias("c_r"),
        F.sum(F.when(is_target, F.col("tf")).otherwise(0))
            .cast("long").alias("c_t"),
    )
    tot = cnt.agg(
        F.sum("c_r").cast("long").alias("t_r"),
        F.sum("c_t").cast("long").alias("t_t"),
    )
    ratio = (
        cnt.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.round(
                F.log(
                    (F.col("c_t") + 1)
                    / (F.col("t_t") + F.lit(n_buckets)).cast("double")
                )
                - F.log(
                    (F.col("c_r") + 1)
                    / (F.col("t_r") + F.lit(n_buckets)).cast("double")
                ),
                6,
            ).alias("lr"),
        )
    )
    return (
        feat.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            (F.sum(F.col("tf") * F.col("lr").cast("decimal(18,6)"))
             * 1000000).cast("long").alias("dsir_micro_nats"),
        )
        .withColumn("is_target", is_target)
    )


def embedding_dim_stats(embeddings: DataFrame) -> DataFrame:
    """Per-dimension distribution stats over the embedding column
    (feature-drift / normalization diagnostics before training).

    posexplode → one groupBy on the dimension index: 64 groups, all
    map-side partial — scan-bound at any corpus size.

    Domain: embedding magnitudes are bounded by construction (unit-ish
    vectors); the exact DECIMAL(18,6) accumulator holds |sum| < 1e12.
    Garbage values (1e30) would overflow under ANSI — a loud error,
    by design, not a silent wrong answer.
    """
    exploded = embeddings.select(
        F.posexplode("embedding").alias("dim", "v")
    ).withColumn("v", F.col("v").cast("double"))
    cnt = F.count("*")
    # + 0.0 normalizes IEEE negative zero (round(-2e-8, 4) -> -0.0):
    # engines format -0.0 differently, and the driver hashes strings
    return exploded.groupBy("dim").agg(
        (F.round(
            F.sum(F.col("v").cast("decimal(18,6)")).cast("double") / cnt, 4
        ) + F.lit(0.0)).alias("mean_v"),
        (F.round(F.min("v"), 4) + F.lit(0.0)).alias("min_v"),
        (F.round(F.max("v"), 4) + F.lit(0.0)).alias("max_v"),
        cnt.alias("n_vecs"),
    )


def unigram_logprob(docs: DataFrame) -> DataFrame:
    """CCNet-style corpus-LM quality signal: per-doc mean unigram
    surprisal in bits (-log2 p(token) under the corpus unigram
    distribution). High bits/token = rare or garbled text; very low =
    repetitive boilerplate — the standard perplexity-bucket filter for
    LLM training data, with the corpus itself as the language model.

    Shape: one token explode feeds both aggregations — vocab counts
    (Zipf-bounded: vocab grows ~O(corpus^0.5), so the surprisal table
    stays joinable/broadcastable at 100 TB) and the total token count
    as a 1-row crossJoin (no driver-side count() action). Surprisal is
    computed once per DISTINCT token (vocab-sized, not corpus-sized)
    and rounded to 6 decimals BEFORE the exact decimal per-doc sum, so
    engine libm ulp differences in log2 cannot reach the value hash.
    """
    # aggregate to per-(doc, token) term frequencies BEFORE the vocab
    # join: the scored table shrinks from total occurrences to distinct
    # terms per doc, and the inevitable hot keys ("the" is a few
    # percent of all tokens) contribute one row per document instead
    # of one per occurrence — AQE skew-split covers the rest. Every
    # consumer (vocab, total, the scoring join) reads this one
    # relation, so they share one exchange (see parse.doc_terms).
    tf = parse.doc_terms(docs, "doc_id", term="tok")
    vocab = tf.groupBy("tok").agg(F.sum("tf").alias("cnt"))
    total = tf.agg(F.sum("tf").alias("n_total"))
    surp = vocab.crossJoin(F.broadcast(total)).select(
        "tok",
        F.round(-F.log2(F.col("cnt") / F.col("n_total")), 6).alias(
            "surprisal"
        ),
    )
    # The per-doc metric stays in exact integer micro-bits: an average
    # like 4.89955 sits exactly on a 4-decimal rounding boundary, where
    # Spark's BigDecimal HALF_UP and DuckDB's multiply-then-round
    # disagree — integer floor division has no such boundary.
    # tf × decimal surprisal is exact, so the sum equals the
    # per-occurrence formulation row-for-row.
    return (
        tf.join(surp, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            (
                F.sum(
                    F.col("surprisal").cast("decimal(18,6)") * F.col("tf")
                )
                * F.lit(1000000)
            ).cast("long").alias("bits_micro_total"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "bits_micro_total",
            F.expr("bits_micro_total div n_tokens div 1000").alias(
                "bits_milli_per_token"
            ),
        )
    )


def quantize_embeddings(embeddings: DataFrame) -> DataFrame:
    """Symmetric int8 per-vector quantization diagnostics:
    scale = max|v|/127, q = clamp(floor(v/scale + 0.5), ±127),
    reconstruction MSE + max abs error per vector — the audit pass
    before shipping a quantized ANN index or int8 training features.

    floor(x + 0.5) instead of round(): engines disagree on round's
    half-away/half-even mode, floor is IEEE-identical everywhere.
    Shape: one posexplode; per-vector scale is a groupBy, rejoined on
    vec_id (co-partitioned shuffle — AQE plans it as one exchange
    reused by the final per-vector agg). Error sums accumulate in
    DECIMAL(18,12) (errors are ~1e-6-scale; (18,6) would flush them
    to zero) — still long-backed, still exact.
    """
    vals = embeddings.select(
        "vec_id",
        F.posexplode("embedding").alias("dim", "v"),
    ).withColumn("v", F.col("v").cast("double"))
    scales = vals.groupBy("vec_id").agg(
        (F.max(F.abs(F.col("v"))) / F.lit(127.0)).alias("scale")
    )
    q = (
        vals.join(scales, "vec_id")
        .withColumn(
            "qv",
            F.when(F.col("scale") == 0.0, F.lit(0.0)).otherwise(
                F.greatest(
                    F.lit(-127.0),
                    F.least(
                        F.lit(127.0),
                        F.floor(F.col("v") / F.col("scale") + F.lit(0.5))
                        .cast("double"),
                    ),
                )
            ),
        )
        .withColumn("resid", F.col("v") - F.col("qv") * F.col("scale"))
    )
    cnt = F.count("*")
    return q.groupBy("vec_id", F.round("scale", 6).alias("scale")).agg(
        F.round(
            F.sum((F.col("resid") * F.col("resid")).cast("decimal(18,12)"))
            .cast("double")
            / cnt,
            9,
        ).alias("mse"),
        F.round(F.max(F.abs(F.col("resid"))), 9).alias("max_abs_err"),
    )


DEFAULT_MIX_PERMILLE = {"en": 250, "de": 500, "fr": 750, "es": 1000}


def stratified_sample(
    docs: DataFrame,
    rates_permille: dict[str, int] | None = None,
    default_permille: int = 100,
) -> DataFrame:
    """Deterministic stratified sampling — the corpus-mixing /
    reweighting step of training-data assembly: each stratum keeps a
    configured fraction, selected by content-stable hash (md5 of
    doc_id), so reruns and engines agree row-for-row.

    The rates table is definitionally tiny (one row per stratum) →
    broadcast; the document side never shuffles: mark + filter run
    at scan speed.
    """
    rates = rates_permille or DEFAULT_MIX_PERMILLE
    spark = docs.sparkSession
    rates_df = spark.createDataFrame(
        [(k, v) for k, v in sorted(rates.items())],
        "lang string, rate_permille int",
    )
    h = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10
        ).cast("long") % 1000
    )
    return (
        docs.join(F.broadcast(rates_df), "lang", "left")
        .withColumn(
            "rate_permille",
            F.coalesce(F.col("rate_permille"), F.lit(default_permille)),
        )
        .where(h < F.col("rate_permille"))
        .select("doc_id", "lang", "rate_permille")
    )


def sparse_sim_topk(
    docs: DataFrame,
    df_min: int = 2,
    df_max: int = 20,
    k: int = 3,
) -> DataFrame:
    """Related documents by SPARSE lexical similarity — the inverted-
    index sibling of embedding ANN (knn_*): idf-weighted cosine over
    the DISTINCT word 3-gram sets, joined invertedly on
    DISCRIMINATIVE shingles only (document frequency in
    [df_min, df_max]). Shingles, not unigrams: word n-grams have the
    Zipf vocabulary unigram spaces lack (on narrow-vocabulary corpora
    every word is a stop word — measured: this corpus has 31 distinct
    words, all df≈0.8n, but 27k distinct 3-shingles with df ≤ 25).
    The df cap is the scale lever: a shingle with df ≤ c contributes
    ≤ c·(c-1)/2 pairs, so pair fanout is bounded by vocab·c²/2 and
    the boilerplate shingles that would go quadratic carry no signal
    anyway. One shingle-keyed shuffle builds the pairs; norms are
    computed over the SAME pruned shingle space (a true cosine
    there).

    Numeric protocol: idf rounds to 6 dp before use (libm ln drift —
    the bm25 recipe); weight products are per-row IEEE doubles summed
    in DECIMAL(28,12) (order-independent); norms via
    correctly-rounded sqrt; final cosine rounded to 4 dp.

    Output: (doc_id, neighbor_id, cos_sim, rank ≤ k) — each pair
    reported from both endpoints' perspectives."""
    from pyspark.sql.window import Window

    toks = docs.select(
        "doc_id",
        parse.tokens("text").alias("ws"),
    )
    # explode an index sequence + array indexing (codegen) — not a
    # transform() HOF (interpreted, SURVEY §4); guard size < n or
    # sequence(0, negative) would generate a DESCENDING range
    parts = [F.expr(f"ws[i + {j}]") for j in range(3)]
    sh = (
        toks.where(F.size("ws") >= 3)
        .select(
            "doc_id", "ws",
            F.explode(
                F.sequence(F.lit(0), F.size("ws") - 3)
            ).alias("i"),
        )
        .select("doc_id", F.concat_ws(" ", *parts).alias("term"))
        .distinct()
    )
    # Round 13: the weighted posting list ``w`` is referenced by THREE
    # downstream subtrees (norms + both sides of the pair self-join),
    # and norms feed scored twice more — without materialization the
    # optimizer inlined the whole tokenize+shingle pipeline into every
    # reference (measured: 48 parquet scans / 32 regexp tokenize
    # evaluations in one plan, 118 Exchanges). Two changes:
    # (1) df via a window over the ONE shingle relation instead of
    #     groupBy + join-back — one term-keyed exchange computes df
    #     and keeps the row, halving the build's tokenize passes;
    # (2) localCheckpoint the PRUNED posting list (df ∈ [df_min,
    #     df_max] only — the df cap makes it far smaller than the raw
    #     shingle table, which is why the round-5 measurement that
    #     rejected checkpointing the RAW relation does not apply).
    # At corpus scale this is "tokenize once, materialize only the
    # discriminative postings" — the inverted-index build a real
    # deployment would persist.
    n = docs.agg(F.count("*").alias("n_docs"))
    w = (
        sh.withColumn(
            "df", F.count("*").over(Window.partitionBy("term"))
        )
        .where(F.col("df").between(df_min, df_max))
        .crossJoin(F.broadcast(n))
        .select(
            "term", "doc_id",
            F.round(
                F.log((F.col("n_docs") + F.lit(1.0))
                      / (F.col("df") + F.lit(1.0))),
                6,
            ).alias("wt"),
        )
        .localCheckpoint()
    )
    norms = w.groupBy("doc_id").agg(
        F.sqrt(
            F.sum((F.col("wt") * F.col("wt")).cast("decimal(28,12)"))
            .cast("double")
        ).alias("nrm")
    )
    a = w.select("term", F.col("doc_id").alias("doc_a"),
                 F.col("wt").alias("wa"))
    b = w.select("term", F.col("doc_id").alias("doc_b"),
                 F.col("wt").alias("wb"))
    dots = (
        a.join(b, "term")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum((F.col("wa") * F.col("wb")).cast("decimal(28,12)"))
            .alias("dot")
        )
    )
    na = norms.select(F.col("doc_id").alias("doc_a"),
                      F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"),
                      F.col("nrm").alias("nb"))
    scored = (
        dots.join(na, "doc_a").join(nb, "doc_b")
        .select(
            "doc_a", "doc_b",
            F.round(
                F.col("dot").cast("double") / (F.col("na") * F.col("nb")),
                4,
            ).alias("cos_sim"),
        )
    )
    sym = scored.select(
        F.col("doc_a").alias("doc_id"),
        F.col("doc_b").alias("neighbor_id"), "cos_sim",
    ).unionAll(
        scored.select(
            F.col("doc_b").alias("doc_id"),
            F.col("doc_a").alias("neighbor_id"), "cos_sim",
        )
    )
    win = Window.partitionBy("doc_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        sym.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= k)
        .select("doc_id", "neighbor_id", "cos_sim",
                F.col("rank").cast("long").alias("rank"))
    )


def mixing_weights(
    docs: DataFrame, stratum_col: str = "lang"
) -> DataFrame:
    """Temperature-based corpus mixing weights (α = 0.5): sampling
    share per stratum ∝ count^α — the multilingual/data-mixing recipe
    (T5/mT5-style temperature sampling) that upsamples low-resource
    strata relative to raw proportions. Emits both the raw ppm share
    and the α-tempered ppm share so the mixing table is one query.

    Engine-exact integer protocol: sqrt is IEEE-correctly-rounded
    (unlike ln/pow, it cannot drift between engines), so
    w = round(sqrt(n)·1e6) is bit-identical; shares are integer
    floor-division ppm over exact BIGINT sums. One tiny aggregation —
    strata counts are a broadcast-sized table at any corpus scale."""
    c = docs.groupBy(stratum_col).agg(F.count("*").alias("n"))
    w = c.select(
        stratum_col, "n",
        F.round(F.sqrt(F.col("n")) * F.lit(1_000_000.0))
        .cast("long").alias("w_micro"),
    )
    t = w.agg(
        F.sum("w_micro").cast("long").alias("tw"),
        F.sum("n").cast("long").alias("tn"),
    )
    return (
        w.crossJoin(F.broadcast(t))
        .select(
            stratum_col,
            F.col("n").cast("long").alias("n_docs"),
            F.expr("n * 1000000 div tn").alias("raw_ppm"),
            F.expr("w_micro * 1000000 div tw").alias("alpha_ppm"),
        )
    )


def embedding_covariance(embeddings: DataFrame) -> DataFrame:
    """Exact mean-centered covariance entries (dim_i, dim_j, cov) over
    the embedding column — the statistic behind PCA/whitening/feature
    decorrelation. Upper triangle only (the matrix is symmetric).

    Parity path: per-row products are IEEE-identical across engines,
    so each v_i*v_j casts to DECIMAL(28,12) and sums exactly; the
    d²/2 fan-out self-join is fine for diagnostics-sized d (64 dims →
    2080 pairs/vector). The scale path for the same statistic is
    pca_project's per-partition numpy X^T X partials (one row per
    partition instead of d²/2 per vector) — kept separate because
    partial-sum accumulation order is not engine-reproducible.
    """
    # repartition BEFORE exploding: the embeddings file is few input
    # splits, and without this the (tiny-side) pair join broadcasts —
    # the whole d²/2-per-vector product plus the decimal partial agg
    # would run in ONE task (measured 11.6s at sf0.001; 32-way
    # parallel it is sub-second)
    n_parts = embeddings.sparkSession.sparkContext.defaultParallelism
    vals = (
        embeddings.repartition(n_parts, "vec_id")
        .select("vec_id", F.posexplode("embedding").alias("i", "v"))
        .withColumn("v", F.col("v").cast("double"))
    )
    sums = vals.groupBy("i").agg(
        F.sum(F.col("v").cast("decimal(28,12)")).alias("s")
    )
    n = embeddings.agg(F.count("*").alias("n"))
    right = vals.select(
        "vec_id", F.col("i").alias("j"), F.col("v").alias("vj")
    )
    prods = (
        vals.join(right, "vec_id")
        .where(F.col("i") <= F.col("j"))
        .groupBy("i", "j")
        .agg(
            F.sum((F.col("v") * F.col("vj")).cast("decimal(28,12)")).alias(
                "sij"
            )
        )
    )
    sa = sums.select(F.col("i").alias("ia"), F.col("s").alias("si"))
    sb = sums.select(F.col("i").alias("ib"), F.col("s").alias("sj"))
    nn = F.col("n").cast("double")
    return (
        prods.join(sa, F.col("i") == F.col("ia"))
        .join(sb, F.col("j") == F.col("ib"))
        .crossJoin(F.broadcast(n))
        .select(
            F.col("i").cast("long").alias("dim_i"),
            F.col("j").cast("long").alias("dim_j"),
            (F.round(
                (
                    F.col("sij").cast("double")
                    - F.col("si").cast("double")
                    * F.col("sj").cast("double") / nn
                ) / (nn - 1),
                6,
            ) + F.lit(0.0)).alias("cov"),
        )
    )


class PCAResult(NamedTuple):
    """Projection DataFrame + the top-k explained variances (the
    eigensolve diagnostic that callers/tests assert on) + the d×k
    component matrix (rows = input dims) for basis audits."""

    projections: DataFrame
    explained_variance: list
    components: list | None = None


def pca_project(embeddings: DataFrame, k: int = 8) -> PCAResult:
    """Distributed PCA: per-partition numpy partials (count, sum
    vector, X^T X) → driver combine + eigh on the tiny d×d matrix →
    broadcast components → Arrow-batched projection.

    This is the MLlib RowMatrix/treeAggregate shape: the distributed
    work is ONE scan for the second-moment partials (one result row
    per partition, each (d²+d+1) doubles) and one scan to project;
    the d×d eigensolve is driver-side because d is small by
    construction (embedding dims, not corpus size). Iterative /
    eigendecomposition steps are not SQL-expressible — pytest-covered,
    like the k-means loop (_kmeans_rounds).
    """
    import numpy as np
    import pandas as pd

    emb = embeddings.select("vec_id", "embedding")

    def partials(batches):
        n, s, ss = 0, None, None
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            n += X.shape[0]
            s = X.sum(axis=0) if s is None else s + X.sum(axis=0)
            ss = X.T @ X if ss is None else ss + X.T @ X
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "ss": [ss.ravel().tolist()]}
            )

    rows = emb.mapInPandas(
        partials, "n long, s array<double>, ss array<double>"
    ).collect()  # one row per partition — the treeAggregate combine
    n = sum(r["n"] for r in rows)
    if n < 2:
        raise ValueError("pca_project needs at least 2 vectors")
    s = np.sum([np.asarray(r["s"]) for r in rows], axis=0)
    d = s.shape[0]
    ss = np.sum([np.asarray(r["ss"]).reshape(d, d) for r in rows], axis=0)
    mean = s / n
    cov = (ss - np.outer(mean, s)) / (n - 1)
    eigvals, eigvecs = np.linalg.eigh(cov)
    # CANONICAL eigenbasis: eigh's sign/degenerate-order choices are
    # implementation details, so pin them — components ordered by
    # descending eigenvalue with INDEX tiebreak (stable sort), and
    # each component's largest-|loading| coordinate made positive
    # (first index on ties). Makes the projection VALUES deterministic
    # and therefore oracle-able, not just the spanned subspace.
    order = np.argsort(-eigvals, kind="stable")[:k]
    components = eigvecs[:, order].copy()  # d × k
    for j in range(components.shape[1]):
        i = int(np.argmax(np.abs(components[:, j])))
        if components[i, j] < 0:
            components[:, j] = -components[:, j]
    explained = eigvals[order]

    comp_b = components.copy()
    mean_b = mean.copy()

    def project(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            P = (X - mean_b) @ comp_b
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "proj": list(map(list, P))}
            )

    out = emb.mapInPandas(project, "vec_id long, proj array<double>")
    return PCAResult(out, explained.tolist(),
                     components=components.tolist())


def pca_variance_audit(embeddings: DataFrame) -> DataFrame:
    """Partial oracle for the non-SQL eigensolve: PCA invariants that
    a SQL engine CAN check, as one audit row.

    The full-rank PCA projection is an orthogonal rotation of the
    mean-centered data, so (a) the component basis is orthonormal and
    (b) the summed per-component variance of the PROJECTIONS equals
    the trace of the covariance matrix — a statistic both engines
    compute exactly (per-dim variances via the DECIMAL(28,12) product
    protocol of embedding_covariance, summed as DECIMAL(18,6)).
    The oracle pins variance_capture_ok / orthonormal_ok at TRUE: a
    broken eigensolve, mis-centered projection, or non-orthogonal
    basis flips a flag and fails the hash gate.

    One extra scan beyond pca_project's two; the projection-variance
    check is a posexplode + groupBy over n×d rows — same shape as the
    trace computation. Audit-sized by design (runs PCA machinery
    driver-side, like pca_project itself)."""
    import numpy as np

    d = len(embeddings.select("embedding").first()[0])
    res = pca_project(embeddings, k=d)

    V = np.asarray(res.components)  # d × d
    ortho_err = float(np.max(np.abs(V.T @ V - np.eye(d))))

    n_parts = embeddings.sparkSession.sparkContext.defaultParallelism

    def _vars(df: DataFrame, col: str) -> DataFrame:
        """Per-position sample variance, exact-decimal accumulation,
        rounded to 6 dp — the covariance-diagonal protocol."""
        vals = (
            df.repartition(n_parts, "vec_id")
            .select(F.posexplode(col).alias("i", "v"))
            .withColumn("v", F.col("v").cast("double"))
        )
        n = df.agg(F.count("*").alias("n"))
        nn = F.col("n").cast("double")
        return (
            vals.groupBy("i")
            .agg(
                F.sum(F.col("v").cast("decimal(28,12)")).alias("si"),
                F.sum((F.col("v") * F.col("v"))
                      .cast("decimal(28,12)")).alias("sii"),
            )
            .crossJoin(F.broadcast(n))
            .select(
                F.round(
                    (
                        F.col("sii").cast("double")
                        - F.col("si").cast("double")
                        * F.col("si").cast("double") / nn
                    ) / (nn - 1),
                    6,
                ).alias("var6")
            )
        )

    trace = (
        _vars(embeddings, "embedding")
        .agg(F.sum(F.col("var6").cast("decimal(18,6)")).alias("t"))
        .first()["t"]
    )
    captured = (
        _vars(res.projections, "proj")
        .agg(F.sum(F.col("var6").cast("decimal(18,6)")).alias("t"))
        .first()["t"]
    )
    n_vec = embeddings.count()
    capture_ok = (
        float(trace) > 0
        and abs(float(captured) - float(trace)) / float(trace) <= 1e-4
    )
    spark = embeddings.sparkSession
    return spark.createDataFrame(
        [(n_vec, d, float(trace), bool(capture_ok),
          bool(ortho_err <= 1e-8))],
        "n_vectors long, n_dims long, trace_var double, "
        "variance_capture_ok boolean, orthonormal_ok boolean",
    )


def _spherical_vectors(embeddings: DataFrame) -> DataFrame:
    """(vec_id, ev) with ev L2-normalized (zero vectors pass through
    unchanged — their cosine against anything is 0 by the kernel's
    guard). Cosine is scale-invariant, so normalizing changes NO
    assignment; it changes the MEAN UPDATE into the spherical-k-means
    direction mean, which is what makes the sum-of-cosines objective
    provably non-decreasing per round (see _kmeans_rounds)."""
    from .similarity import norm

    return (
        embeddings.select("vec_id", F.col("embedding").alias("raw"))
        .withColumn("_n", norm(F.col("raw")))
        .select(
            "vec_id",
            F.when(
                F.col("_n") > 0, F.expr("transform(raw, x -> x / _n)")
            ).otherwise(
                F.expr("transform(raw, x -> cast(x as double))")
            ).alias("ev"),
        )
    )


def _kmeans_rounds(
    embeddings: DataFrame,
    k: int,
    max_iter: int,
):
    """Spherical k-means loop: returns (final scored relation
    [vec_id × centroid: all cosines of the LAST assignment round],
    final assigned relation, per-round objective DataFrames).
    Deterministic seeding (first k vectors), cosine assignment,
    direction-mean update (element-wise mean of the L2-NORMALIZED
    vectors). The normalized-mean update makes this textbook
    spherical k-means (Dhillon & Modha 2001): the assignment step
    maximizes each vector's cosine given centroids, and the direction
    mean maximizes the within-cluster cosine sum given assignments —
    so the summed assignment cosine is non-decreasing every full
    round, the contract kmeans_contract_audit pins. Each round is: broadcast the ≤k centroids → assignment join → per-
    cluster element-wise mean via posexplode + groupBy(cluster, dim)
    — two shuffles per round on tiny keys; the full vector set is
    never collected. Centroid lineage truncated per round
    (localCheckpoint) like connected_components."""
    from .similarity import cosine_sim

    # checkpoint the normalized vectors ONCE (round 13): every
    # round's assignment join re-read this subtree (scan + normalize
    # per round); the relation is |vecs| rows and feeds all rounds
    vecs = _spherical_vectors(embeddings).localCheckpoint()
    cents = vecs.where(F.col("vec_id") < k).select(
        F.col("vec_id").alias("centroid_id"), F.col("ev").alias("cv")
    )
    scored = assigned = None
    objectives = []
    for rnd in range(max_iter):
        scored = vecs.join(F.broadcast(cents)).select(
            "vec_id", "ev", "centroid_id",
            cosine_sim(F.col("ev"), F.col("cv")).alias("cosine"),
        )
        w = Window.partitionBy("vec_id").orderBy(
            F.col("cosine").desc(), F.col("centroid_id")
        )
        # truncate the assignment's lineage per round: it feeds the
        # objective relation, the centroid update, AND (final round)
        # the audit's argmax recompute — without the checkpoint every
        # later evaluation re-runs the broadcast-assignment join
        # (measured ~2x the whole k-means cost in the contract audit)
        assigned = (
            scored.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") == 1)
            .drop("rnk")
            .localCheckpoint()
        )
        objectives.append(
            assigned.agg(F.sum("cosine").alias("obj"))
            .select(F.lit(rnd).alias("round"), "obj")
        )
        # element-wise mean per cluster: posexplode → (cluster, dim)
        # groups (k × dim keys — map-side partial, no vector collect)
        dims = assigned.select(
            "centroid_id", F.posexplode("ev").alias("dim", "v")
        )
        new_cents = (
            dims.groupBy("centroid_id", "dim")
            .agg(F.avg("v").alias("m"))
            .groupBy("centroid_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("dim", "m"))
                ).alias("pairs")
            )
            .select(
                "centroid_id",
                F.transform(F.col("pairs"), lambda p: p["m"]).alias("cv"),
            )
        )
        # no per-round checkpoint on cents (round 13): its lineage is
        # already truncated at the checkpointed `assigned`, and its
        # single consumer is the next round's broadcast — the eager
        # materialization was one extra action per round for nothing
        cents = new_cents
    return scored, assigned, objectives


def kmeans_contract_audit(
    embeddings: DataFrame,
    k: int = 8,
    max_iter: int = 3,
) -> DataFrame:
    """Hash-gated k-means contract: one row per input vector with the
    invariants a correct spherical-k-means run MUST satisfy, each a
    theorem of the algorithm (so an oracle can pin them TRUE without
    being able to eigen/iterate itself — the q_pca_variance_audit
    pattern):

    - ``is_argmax``: the vector's assigned cosine equals its max
      cosine over ALL centroids of the final assignment round,
      recomputed from the full scored relation (not read back from
      the window that produced the assignment);
    - ``objective_monotone``: the summed assignment cosine was
      non-decreasing across every round (tolerance 1e-6 relative,
      far above FP reassociation noise, far below any real
      regression), guaranteed by the direction-mean update;
    - exactly one row per vector (the partition property — the
      oracle's row set is the embeddings table itself).
    """
    scored, assigned, objectives = _kmeans_rounds(embeddings, k, max_iter)
    best = scored.groupBy("vec_id").agg(F.max("cosine").alias("best"))
    per_vec = assigned.join(best, "vec_id").select(
        "vec_id",
        (F.col("cosine") >= F.col("best") - F.lit(1e-12)).alias(
            "is_argmax"
        ),
    )
    objs = objectives[0]
    for o in objectives[1:]:
        objs = objs.unionByName(o)
    w = Window.orderBy("round")
    monotone = (
        objs.withColumn("prev", F.lag("obj").over(w))
        .agg(
            F.min(
                F.when(F.col("prev").isNull(), True).otherwise(
                    F.col("obj")
                    >= F.col("prev")
                    - 1e-6 * F.greatest(F.abs(F.col("prev")), F.lit(1.0))
                )
            ).alias("objective_monotone")
        )
    )
    return per_vec.crossJoin(F.broadcast(monotone)).select(
        "vec_id",
        F.lit(k).cast("long").alias("k"),
        F.lit(max_iter).cast("long").alias("n_rounds"),
        "is_argmax",
        "objective_monotone",
    )


def assign_nearest_centroid(
    embeddings: DataFrame, num_centroids: int = 8
) -> DataFrame:
    """Nearest-centroid labeling: centroids are the first
    ``num_centroids`` vectors (deterministic seed set); every vector
    joins against the broadcast centroid set and takes the argmax
    cosine. This is one assignment step of Lloyd's k-means — the
    building block for iterative clustering — expressed as a
    broadcast join + window argmax."""
    cents = embeddings.where(F.col("vec_id") < num_centroids).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cv")
    )
    scored = embeddings.select(
        "vec_id", F.col("embedding").alias("ev")
    ).join(F.broadcast(cents)).select(
        "vec_id",
        "centroid_id",
        F.round(cosine_sim(F.col("ev"), F.col("cv")), 4).alias("cosine"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("centroid_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") == 1)
        .select("vec_id", "centroid_id", "cosine")
    )
