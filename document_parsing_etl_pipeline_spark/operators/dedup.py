"""Deduplication suite: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

LLM-data-pipeline operators over the `documents` table (not in the
reference's surface — the reference stores each PDF once — but a core
capability for the 100 TB training-data use case this engine targets).

Design notes for scale:
- Hashes are md5-based (JVM built-in, also available in the DuckDB
  oracle). MinHash uses the *lexicographic min of md5 hex strings*
  per seeded hash family — a uniform permutation proxy with no custom
  UDF and engine-identical results.
- The only shuffles are on (band, band_hash) buckets and candidate
  doc_id joins. Degenerate buckets (boilerplate docs) are capped at
  ``max_bucket`` — the standard LSH guard that keeps the candidate
  join from going quadratic at scale; AQE skew-join picks up the rest.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import parse


def _norm_tokens(text: Column) -> Column:
    """Distinct lowercase tokens (set semantics for Jaccard)."""
    return F.array_distinct(parse.tokens(text))


# ---------------------------------------------------------------- exact

def dedup_exact(docs: DataFrame) -> DataFrame:
    """Exact dedup: group by md5 of normalized text.

    Returns one row per distinct content hash with the canonical
    (min) doc_id and the duplicate count. Single shuffle on the hash;
    map-side partial aggregation makes this scan-bound at 100 TB.
    """
    return (
        docs.select(
            "doc_id",
            F.md5(parse.normalized_text(F.col("text"))).alias("content_hash"),
        )
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("n_docs"),
        )
    )


# -------------------------------------------------------------- minhash

def band_cap_col(max_bucket) -> Column:
    """The LSH fanout cap as a Column usable in a bucket-size filter.

    An int applies uniformly (the historical fixed-constant mode and
    the streaming ingest's per-batch contract); a ``{band: cap}``
    mapping applies PER BAND — the engaged form of
    q_lsh_cap_planner's decision (plans/queries.py:_lsh_caps), where
    each band's cap is the largest candidate whose modeled pair
    fanout fits the corpus-proportional verification budget. A band
    missing from the mapping falls back to the mapping's smallest
    cap: conservative — never more fanout than the plan allows.
    An EMPTY mapping means the planner saw no buckets at all (empty
    or degenerate corpus): cap 0 filters every bucket, which matches
    'no buckets' — consumers get an empty pair set, not a crash."""
    if isinstance(max_bucket, dict):
        if not max_bucket:
            return F.lit(0)
        expr = F.lit(int(min(max_bucket.values())))
        for band, cap in sorted(max_bucket.items()):
            expr = (
                F.when(F.col("band") == int(band), F.lit(int(cap)))
                .otherwise(expr)
            )
        return expr
    return F.lit(int(max_bucket))


def minhash_signature(
    docs: DataFrame, num_hashes: int = 8, keep_empty: bool = False,
) -> DataFrame:
    """MinHash signature: for seed k, h_k = min(md5(k || ':' || token)).

    md5 hex strings are uniformly distributed, so the lexicographic min
    under a seeded prefix is a valid min-wise permutation proxy —
    and is bit-identical across Spark and the DuckDB oracle.

    ``keep_empty`` (round 13, the streaming ingest's one-checkpoint
    spine): explode_outer instead of explode, so zero-token docs
    survive with all-NULL minhashes (→ NULL bucket hashes downstream)
    — the checkpointed bucket relation then carries the COMPLETE
    batch doc_id spine and the flag join never re-parses the source.
    Default False keeps the historical drop-empty semantics every
    batch oracle encodes."""
    # explode + groupBy(min) instead of per-array higher-order
    # transforms: HOFs are interpreted (no codegen); the exploded md5 +
    # partial-aggregated min runs whole-stage-codegen'd and reduces to
    # one row per doc per partition before the shuffle.
    ex = F.explode_outer if keep_empty else F.explode
    toks = docs.select(
        "doc_id", ex(_norm_tokens(F.col("text"))).alias("tok")
    )
    return toks.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{k}:"), F.col("tok")))).alias(f"mh{k}")
            for k in range(num_hashes)
        ]
    )


def minhash_buckets(
    docs: DataFrame,
    num_hashes: int = 8,
    band_size: int = 2,
    sigs: DataFrame | None = None,
    keep_empty: bool = False,
) -> DataFrame:
    """LSH bucket membership: (doc_id, band, bh) with bh =
    md5(concat of the band's minhashes). Shared by the candidate
    generator and the bucket-load diagnostics (q_lsh_bucket_stats),
    so cap tuning observes exactly the buckets pairing uses.
    ``keep_empty`` keeps zero-token docs as NULL-bh rows (see
    minhash_signature)."""
    if sigs is None:
        sigs = minhash_signature(docs, num_hashes=num_hashes,
                                 keep_empty=keep_empty)
    n_bands = num_hashes // band_size
    bands = []
    for b in range(n_bands):
        cols = [F.col(f"mh{b * band_size + r}") for r in range(band_size)]
        bands.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat(*cols)).alias("bh"))
        )
    return sigs.select(
        "doc_id", F.explode(F.array(*bands)).alias("e")
    ).select("doc_id", F.col("e.band").alias("band"), F.col("e.bh").alias("bh"))


def minhash_lsh_candidates(
    docs: DataFrame,
    num_hashes: int = 8,
    band_size: int = 2,
    max_bucket: int | dict = 50,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """LSH banding: band_hash = md5(concat of band's minhashes); docs
    sharing any (band, band_hash) bucket become candidate pairs.

    Returns distinct (doc_a, doc_b) with doc_a < doc_b. Pass a
    precomputed ``sigs`` (minhash_signature output) to share one
    tokenize+hash scan with downstream consumers of the signatures —
    at 100 TB the signature scan is the dominant cost and must not
    run twice.
    """
    buckets = minhash_buckets(
        docs, num_hashes=num_hashes, band_size=band_size, sigs=sigs)
    # Cap degenerate buckets BEFORE pairing, via a count + join — never
    # collect a bucket into one row (a hot bucket at 100 TB would be an
    # OOM row under collect_list). The count aggregates map-side; the
    # self-join only sees buckets sized [2, max_bucket], so pair fanout
    # per bucket is bounded by max_bucket². ``max_bucket`` may be a
    # per-band {band: cap} mapping (band_cap_col) — the engaged
    # q_lsh_cap_planner decision.
    counts = (
        buckets.groupBy("band", "bh")
        .agg(F.count("*").alias("n"))
        .where(F.col("n").between(F.lit(2), band_cap_col(max_bucket)))
    )
    capped = buckets.join(counts.drop("n"), ["band", "bh"])
    a = capped.select("band", "bh", F.col("doc_id").alias("doc_a"))
    b = capped.select("band", "bh", F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, ["band", "bh"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    num_hashes: int = 8,
    band_size: int = 2,
    max_bucket: int | dict = 50,
    threshold: float | None = 0.5,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Verified near-dup pairs: LSH candidates → exact token-set
    Jaccard ≥ threshold. Jaccard is computed with array_intersect /
    array_union on the token arrays joined back per side. Pass
    ``sigs`` (minhash_signature output — e.g. the standing
    per-corpus signature artifact) to skip the tokenize+hash scan.

    ``threshold=None`` skips the filter entirely and returns EVERY
    capped candidate with its exact jaccard (null when both token
    sets are empty) — the fully-verified candidate relation that the
    standing per-corpus artifact materializes once and every
    downstream threshold (band planner, accuracy calibration, the
    ≥0.5 pair artifact) derives from by filter."""
    cands = minhash_lsh_candidates(
        docs, num_hashes=num_hashes, band_size=band_size,
        max_bucket=max_bucket, sigs=sigs,
    )
    toks = docs.select(
        "doc_id", _norm_tokens(F.col("text")).alias("tokens")
    )
    joined = (
        cands.join(toks.withColumnsRenamed({"doc_id": "doc_a", "tokens": "ta"}), "doc_a")
        .join(toks.withColumnsRenamed({"doc_id": "doc_b", "tokens": "tb"}), "doc_b")
    )
    jac = F.round(
        F.size(F.array_intersect("ta", "tb"))
        / F.size(F.array_union("ta", "tb")),
        4,
    )
    out = joined.select("doc_a", "doc_b", jac.alias("jaccard"))
    if threshold is None:
        return out
    return out.where(F.col("jaccard") >= threshold)


def containment_pairs(
    docs: DataFrame, cands: DataFrame, threshold: float = 0.8,
) -> DataFrame:
    """Asymmetric containment verification of LSH candidates (Broder's
    containment measure): c(A⊂B) = |T(A)∩T(B)| / |T(A)|. Symmetric
    Jaccard goes small when a short document is embedded inside a much
    longer one (quotes, boilerplate inclusion, page wrappers around
    syndicated articles) — containment stays near 1 for the contained
    side, which is exactly the near-dup class training-corpus dedup
    must catch that jaccard-threshold pipelines miss.

    Pairs where EITHER direction ≥ threshold are kept, with both
    directions reported. Runs only on the capped LSH candidate set
    (recall caveat: very asymmetric sizes also depress the minhash
    band-collision probability — candidates from exact shingle-join
    pipelines can be substituted via the same verification).
    ``cands`` is the (doc_a, doc_b) candidate relation, e.g. the
    standing verified-candidate artifact."""
    cands = cands.select("doc_a", "doc_b")
    toks = docs.select(
        "doc_id", _norm_tokens(F.col("text")).alias("tokens")
    )
    joined = (
        cands.join(
            toks.withColumnsRenamed({"doc_id": "doc_a", "tokens": "ta"}),
            "doc_a",
        )
        .join(
            toks.withColumnsRenamed({"doc_id": "doc_b", "tokens": "tb"}),
            "doc_b",
        )
        .withColumn("inter", F.size(F.array_intersect("ta", "tb")))
    )
    c_ab = F.round(F.col("inter") / F.size("ta"), 4)
    c_ba = F.round(F.col("inter") / F.size("tb"), 4)
    return (
        joined.select(
            "doc_a", "doc_b",
            c_ab.alias("cont_a_in_b"), c_ba.alias("cont_b_in_a"),
        )
        .where(
            F.greatest(F.col("cont_a_in_b"), F.col("cont_b_in_a"))
            >= F.lit(threshold)
        )
    )


# largest kept edit distance over the 80-character prefixes
EDIT_MAX_DIST = 20


def edit_distance_pairs(docs: DataFrame, cands: DataFrame) -> DataFrame:
    """Edit-distance verification of LSH candidates: Levenshtein on
    the first 80 characters — the character-level near-dup check that
    catches small in-place edits token-set Jaccard misses.

    Levenshtein is O(prefix²) per pair, so it runs only on the capped
    candidate set, never all pairs; the prefix bound keeps the DP
    matrix constant-size regardless of document length. The built-in
    is JVM-side codegen (both engines implement the classic
    unit-cost DP, so distances match exactly). ``cands`` is the
    (doc_a, doc_b) candidate relation, e.g. the standing
    verified-candidate artifact."""
    cands = cands.select("doc_a", "doc_b")
    pfx = docs.select(
        "doc_id", F.substring(F.col("text"), 1, 80).alias("p")
    )
    joined = (
        cands.join(
            pfx.withColumnsRenamed({"doc_id": "doc_a", "p": "pa"}), "doc_a"
        )
        .join(
            pfx.withColumnsRenamed({"doc_id": "doc_b", "p": "pb"}), "doc_b"
        )
    )
    # bounded DP: levenshtein with a threshold computes the exact
    # distance for pairs within EDIT_MAX_DIST and returns -1 beyond
    # it, in O(EDIT_MAX_DIST·prefix) per pair instead of O(prefix²) —
    # the -1 rows are exactly the rows the <= EDIT_MAX_DIST filter
    # discards, so the
    # kept output is identical to the unbounded form (the oracle
    # keeps the full DP; parity is on kept rows only, by construction)
    return (
        joined.select(
            "doc_a", "doc_b",
            F.levenshtein("pa", "pb", EDIT_MAX_DIST).cast("long")
            .alias("edit_dist"),
        )
        .where(F.col("edit_dist").between(0, EDIT_MAX_DIST))
    )


# -------------------------------------------------------------- simhash

SIMHASH_BITS = 32
SIMHASH_BANDS = 4  # byte-wide bands: 256 values/band keeps buckets small


def _hexbits(c: Column) -> Column:
    """First SIMHASH_BITS bits of md5 as a long (via base-16 conv)."""
    return F.conv(
        F.substring(F.md5(c), 1, SIMHASH_BITS // 4), 16, 10).cast("long")


def simhash_signature(docs: DataFrame) -> DataFrame:
    """SimHash: per-token md5-derived value votes per bit position;
    signature bit b = majority vote (Charikar 2002).

    explode + groupBy(sum) (codegen'd, map-side partial aggregation)
    instead of interpreted aggregate() passes over the token array.
    """
    toks = docs.select(
        "doc_id", F.explode(_norm_tokens(F.col("text"))).alias("tok")
    ).withColumn("hv", _hexbits(F.col("tok")))
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.shiftright("hv", b).bitwiseAND(F.lit(1)) * 2 - 1
            ).alias(f"v{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    sig = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        sig = sig + F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
    return votes.select("doc_id", sig.alias("simhash"))


def simhash_buckets(docs: DataFrame, materialize: bool = False,
                    sigs: DataFrame | None = None) -> DataFrame:
    """Simhash band membership: (doc_id, simhash, band, bv) with bv =
    the signature's byte for that band. Shared by the pair generator
    and the bucket-load diagnostics (q_lsh_bucket_stats).

    ``sigs`` injects a precomputed (doc_id, simhash) relation — the
    standing per-corpus-snapshot signature artifact (the simhash
    index; plans/queries._simhash_sigs) — so consumers pay only the
    band explode. Otherwise ``materialize`` checkpoints the doc-sized
    signature relation first: a consumer that references the bucket
    relation several times (simhash_pairs: the cap count + both join
    sides) then pays the token explode + 32-column majority aggregate
    ONCE instead of per reference — the band explode left downstream
    is 4 rows per doc, trivial to recompute."""
    if sigs is None:
        sigs = simhash_signature(docs)
        if materialize:
            sigs = sigs.localCheckpoint()
    return sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("band"),
                    F.shiftright("simhash", 8 * j).bitwiseAND(F.lit(255))
                        .alias("bv"),
                )
                for j in range(SIMHASH_BANDS)
            ])
        ).alias("e"),
    ).select("doc_id", "simhash", "e.band", "e.bv")


def simhash_pairs(docs: DataFrame, max_hamming: int = 3,
                  max_bucket: int | dict = 200,
                  sigs: DataFrame | None = None) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Banding: the 32-bit signature splits into 4 byte-wide bands;
    hamming <= 3 can spoil at most 3 bands, so every qualifying pair
    shares at least one identical band (pigeonhole) — candidates join
    on (band_index, band_value), never a full cross join.

    With only 256 values per band, bucket population grows ~n/256, so
    (unlike minhash's 128-bit band hashes) a cap is load-bearing here:
    buckets over ``max_bucket`` members are dropped BEFORE the
    self-join — the same count+join guard as minhash_lsh_candidates,
    keeping pair fanout ≤ max_bucket² per bucket instead of quadratic
    in the corpus. A pair in an oversized bucket is still found if it
    shares any other in-cap band (near-dups usually share all 4).

    Smallest-shared-band dedup (round 8): a near-dup pair typically
    shares ALL 4 bands, so the bucket join used to enumerate it 4
    times and a pair-set-sized ``distinct()`` shuffle collapsed the
    copies. Each pair is now emitted ONLY from its smallest shared
    IN-CAP band — a per-row predicate (all lower bands either differ
    byte-wise or are cap-dropped, read off a per-doc in-cap band
    bitmask) — which removes the distinct shuffle and ~4x of the
    post-join row volume on dup-heavy corpora while producing the
    identical pair set (capped semantics unchanged: the mask makes
    the lower-band check consult exactly the buckets the join
    consults)."""
    assert max_hamming < SIMHASH_BANDS, "pigeonhole needs hamming < bands"
    # the bucket relation is consumed three times below (cap counts +
    # both self-join sides): take the standing signature artifact when
    # provided, else materialize the signature pass once
    bands = simhash_buckets(docs, materialize=True, sigs=sigs)
    counts = (
        bands.groupBy("band", "bv")
        .agg(F.count("*").alias("n"))
        .where(F.col("n").between(F.lit(2), band_cap_col(max_bucket)))
    )
    capped = bands.join(counts.drop("n"), ["band", "bv"])
    # per-doc bitmask of bands whose bucket survived the cap: when a
    # pair's bytes AGREE at band k, both docs sit in the SAME (k, v)
    # bucket, so one side's mask bit k tells whether the band-k join
    # would have enumerated the pair
    from pyspark.sql.window import Window

    wdoc = Window.partitionBy("doc_id")
    capped = capped.withColumn(
        "mask",
        F.sum(F.expr("shiftleft(1, band)")).over(wdoc).cast("long"),
    )
    a = capped.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sa"),
        F.col("mask").alias("mask_a"), "band", "bv",
    )
    b = capped.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sb"),
        "band", "bv",
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    first_band = F.lit(True)
    for k in range(SIMHASH_BANDS - 1):
        byte_eq = (
            F.shiftright("sa", 8 * k).bitwiseAND(F.lit(255))
            == F.shiftright("sb", 8 * k).bitwiseAND(F.lit(255))
        )
        in_cap = F.col("mask_a").bitwiseAND(F.lit(1 << k)) != 0
        first_band = first_band & (
            (F.col("band") <= k) | ~byte_eq | ~in_cap
        )
    return (
        a.join(b, ["band", "bv"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .where(first_band)
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------- embedding near-dup

# vectors per id-range block of the embedding all-pairs grid
EMBED_BLOCK_SIZE = 2048


def embedding_near_dup(
    embeddings: DataFrame,
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ threshold).

    Exact all-pairs via *block-matrix* decomposition: vectors are
    grouped into id-range blocks, block pairs (a ≤ b) are
    cross-joined, and each block pair is one vectorized numpy matmul
    inside mapInPandas. Each task touches two blocks (bounded memory:
    2 × EMBED_BLOCK_SIZE × dim floats) — the pattern that carries exact
    all-pairs verification at cluster scale; for sub-quadratic
    scaling use LSH (minhash) or the IVF-bucketed path in
    similarity.py.
    """
    import numpy as np
    import pandas as pd

    emb = embeddings.select(
        F.col("vec_id").alias("vid"),
        "embedding",
        F.floor(F.col("vec_id") / F.lit(EMBED_BLOCK_SIZE))
        .cast("long").alias("block"),
    )
    blocks = emb.groupBy("block").agg(
        F.collect_list("vid").alias("ids"),
        F.collect_list("embedding").alias("vecs"),
    )
    joined = (
        blocks.select(
            F.col("block").alias("block_a"),
            F.col("ids").alias("ids_a"), F.col("vecs").alias("vecs_a"),
        )
        .crossJoin(
            blocks.select(
                F.col("block").alias("block_b"),
                F.col("ids").alias("ids_b"), F.col("vecs").alias("vecs_b"),
            )
        )
        .where(F.col("block_a") <= F.col("block_b"))
        .repartition(F.col("block_a"), F.col("block_b"))
    )

    def compute(batches):
        empty = pd.DataFrame({
            "id_a": np.array([], dtype=np.int64),
            "id_b": np.array([], dtype=np.int64),
            "cosine": np.array([], dtype=np.float64),
        })
        for pdf in batches:
            outs = []
            for _, row in pdf.iterrows():
                ida = np.asarray(row["ids_a"], dtype=np.int64)
                idb = np.asarray(row["ids_b"], dtype=np.int64)
                A = np.stack([np.asarray(v, dtype=np.float64)
                              for v in row["vecs_a"]])
                B = np.stack([np.asarray(v, dtype=np.float64)
                              for v in row["vecs_b"]])
                C = (A @ B.T) / np.outer(
                    np.sqrt((A * A).sum(axis=1)),
                    np.sqrt((B * B).sum(axis=1)),
                )
                C = np.round(C, 4)
                ii, jj = np.where(C >= threshold)
                mask = ida[ii] < idb[jj]
                outs.append(pd.DataFrame({
                    "id_a": ida[ii][mask],
                    "id_b": idb[jj][mask],
                    "cosine": C[ii, jj][mask],
                }))
            yield pd.concat(outs) if outs else empty

    return joined.mapInPandas(compute, "id_a long, id_b long, cosine double")


# ------------------------------------------------- dedup clustering

def connected_components_star(pairs: DataFrame) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al.
    2014, "Connected Components in MapReduce and Beyond") — the
    extreme-scale alternative to plain min-label propagation: rounds
    are O(log² n) instead of graph diameter, and every step is a
    groupBy on a vertex (no join against a growing label table).

    large-star: every neighbor u > v links to v's minimum neighbor
    (incl. v); small-star: every neighbor u <= max links to the min.
    Alternate until the edge set is stable; final edges (u → min)
    give each vertex its component minimum.
    """
    # localCheckpoint BEFORE the loop: each round references `edges`
    # many times (sym twice, joins against derived frames), and
    # without truncation every reference re-evaluates the upstream
    # pair-generation lineage — measured 257s at sf0.1 vs ~5s with
    # the checkpoint (the rounds themselves are ~1s each)
    edges = init_edges = (
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )

    def _sig(df):
        # convergence signature: count + order-free checksum — one
        # cheap agg per round instead of two full exceptAll compares
        # (the exceptAll version measured 300s+ at sf0.1 because it
        # ran EVERY round; here a signature match is only a trigger
        # for ONE exact confirmation below, so a collision can never
        # yield an early non-converged result)
        r = df.agg(
            F.count("*").alias("n"),
            # decimal accumulator: a long sum of 64-bit hashes
            # overflows under ANSI mode
            F.sum(F.xxhash64("a", "b").cast("decimal(28,0)")).alias("h"),
        ).first()
        return (r["n"], r["h"])

    converged = False
    prev_edges = edges
    prev_sig = _sig(edges)
    for _ in range(20):
        # large-star: reduce at v over the FULL neighborhood Γ(v);
        # m = min(Γ(v) ∪ {v}); emit (u, m) for u ∈ Γ(v), u > v.
        sym = (
            edges.union(
                edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
            ).distinct()
        )
        m = sym.groupBy("a").agg(
            F.least(F.min("b"), F.first("a")).alias("m")
        )
        large = (
            sym.join(m, "a")
            .where(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct()
        )
        # small-star: orient each edge larger→smaller, reduce at the
        # larger endpoint u over its smaller neighbors Γ⁻(u);
        # m = min(Γ⁻(u)); emit (w, m) for w ∈ Γ⁻(u) ∪ {u}, w ≠ m.
        oriented = large.select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        ).distinct()
        mm = oriented.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            oriented.join(mm, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .union(mm.select(F.col("u").alias("a"), F.col("m").alias("b")))
            .distinct()
            .localCheckpoint()
        )
        edges = small
        cur_sig = _sig(edges)
        if cur_sig == prev_sig:
            # exact one-shot stability check: both frames are
            # checkpointed and distinct with equal counts (part of the
            # signature), so a single-direction exceptAll proves set
            # equality — this runs once at the fixpoint, not per round
            if edges.exceptAll(prev_edges).isEmpty():
                converged = True
                break
        prev_sig = cur_sig
        prev_edges = edges
    if not converged:
        raise RuntimeError(
            "connected_components_star: edge set not stable after 20 "
            "rounds (rounds are O(log² n))"
        )
    # vertices derive from the CHECKPOINTED initial edge set, not from
    # `pairs` — re-reading pairs would re-run the whole candidate
    # lineage once more. Self-pairs (a == b) are ignored throughout,
    # matching the pair-generators (doc_a < doc_b) and the oracle.
    verts = (
        init_edges.select(F.col("a").alias("doc_id"))
        .union(init_edges.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    roots = edges.groupBy("a").agg(F.min("b").alias("component_id"))
    return (
        verts.join(roots, verts.doc_id == roots.a, "left")
        .select(
            "doc_id",
            F.coalesce("component_id", F.col("doc_id")).alias("component_id"),
        )
    )


def connected_components(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id,
    component_id) with component_id = min doc_id in the component
    (the canonical-document finisher after pair generation).

    Iterative min-label propagation with per-round lineage truncation
    (localCheckpoint); converges in diameter rounds — near-dup
    components are shallow, so this is a handful of shuffles. At
    extreme scale swap in the large-star/small-star variant
    (Kiveris et al. 2014), same DataFrame shape.
    """
    fwd = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    rev = pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b"))
    edges = fwd.union(rev).distinct().cache()
    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    # Round 13, two per-round costs removed:
    # (1) POINTER HALVING: besides the neighbor min, every vertex also
    #     adopts its label's label (one labels⋈labels hop). Label
    #     chains collapse by doubling, so the loop converges in
    #     O(log diameter) rounds instead of diameter — fewer shuffles
    #     AND fewer checkpoint actions (measured 10 → 5 rounds on the
    #     sf0.1 near-dup graph; the fixpoint is the identical
    #     component-min labeling, only the schedule changes).
    # (2) EXACT sum-signature convergence: min-label labels are
    #     monotone non-increasing, so sum(label) is strictly smaller
    #     iff any label changed — one tiny agg per round replaces the
    #     join + count change-detector (no collision risk: equality of
    #     a monotone sum IS convergence, unlike a hash signature).
    prev_sig = None
    for rnd in range(max_iter):
        msgs = edges.join(
            labels, edges["a"] == labels["id"]
        ).select(F.col("b").alias("id"), F.col("label"))
        cand = labels.unionByName(msgs)
        if rnd > 0:
            # Round 0 skips the hop: label == id initially, so
            # label-of-label is the identity — the join would pay a
            # full shuffle self-join to add rows the union already
            # holds (r13 advice).
            lut = labels.select(
                F.col("id").alias("label"), F.col("label").alias("hop")
            )
            hop = labels.join(lut, "label").select(
                "id", F.col("hop").alias("label")
            )
            cand = cand.unionByName(hop)
        new_labels = (
            cand
            .groupBy("id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        r = new_labels.agg(
            F.count("*").alias("n"),
            # decimal accumulator: a long sum of ids can overflow ANSI
            F.sum(F.col("label").cast("decimal(28,0)")).alias("s"),
        ).first()
        sig = (r["n"], r["s"])
        labels = new_labels
        if sig == prev_sig:
            break
        prev_sig = sig
    edges.unpersist()
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("component_id")
    )


def incremental_lsh_matches(
    batch: DataFrame,
    corpus: DataFrame,
    num_hashes: int = 8,
    band_size: int = 2,
    max_bucket: int | dict = 50,
) -> DataFrame:
    """Incremental ingest dedup: flag each BATCH document that
    near-matches the STANDING corpus — without ever pairing the corpus
    with itself. This is the production shape for continuous corpus
    building: a daily crawl batch is tiny next to the 100 TB standing
    corpus, so (a) the batch's (band, band_hash) key set broadcasts
    and SEMI-JOIN-prunes the corpus bucket scan to only the buckets
    the batch touches, and (b) pair fanout is batch×bucket, bounded by
    the corpus-side bucket cap — never corpus×corpus. At deployment
    the corpus buckets are the standing LSH index, materialized once
    and appended per ingest (minhash_buckets output is the index
    schema).

    Returns one row per batch doc: (doc_id, is_dup, first_match_doc)
    with first_match_doc = min matching corpus doc (-1 if none)."""
    bb = minhash_buckets(batch, num_hashes=num_hashes, band_size=band_size)
    cb = minhash_buckets(corpus, num_hashes=num_hashes, band_size=band_size)
    return lsh_flag_against_index(
        batch.select("doc_id"), bb, cb, max_bucket
    )


def lsh_flag_against_index(
    batch_ids: DataFrame,
    batch_buckets: DataFrame,
    index_buckets: DataFrame,
    max_bucket: int | dict = 50,
) -> DataFrame:
    """The core of incremental ingest dedup, against a MATERIALIZED
    standing index (minhash_buckets schema: doc_id, band, bh) — the
    shape the streaming ingest sink reuses, where the index is a
    snapshot-manifest table appended per micro-batch. Batch bucket
    keys broadcast and semi-join-prune the index scan; fanout is
    batch×bucket under the index-side cap. Returns one row per batch
    doc: (doc_id, is_dup, first_match_doc, -1 if none)."""
    keys = batch_buckets.select("band", "bh").distinct()
    pruned = index_buckets.join(F.broadcast(keys), ["band", "bh"], "left_semi")
    # cap by INDEX-side bucket population (over the pruned buckets):
    # each batch row contributes ≤ max_bucket candidate pairs per band
    sized = (
        pruned.groupBy("band", "bh")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") <= band_cap_col(max_bucket))
    )
    capped = pruned.join(sized.drop("n"), ["band", "bh"])
    pairs = (
        batch_buckets
        .select("band", "bh", F.col("doc_id").alias("batch_doc"))
        .join(
            capped.select("band", "bh", F.col("doc_id").alias("corpus_doc")),
            ["band", "bh"],
        )
        .groupBy("batch_doc")
        .agg(F.min("corpus_doc").alias("first_match_doc"))
    )
    return (
        batch_ids.select("doc_id")
        .join(pairs, F.col("doc_id") == F.col("batch_doc"), "left")
        .select(
            "doc_id",
            F.col("first_match_doc").isNotNull().alias("is_dup"),
            F.coalesce(F.col("first_match_doc"), F.lit(-1))
            .cast("long").alias("first_match_doc"),
        )
    )


# per-source bucket cap of the streaming ingest's flag join
INGEST_MAX_BUCKET = 50


def lsh_flag_ingest(
    batch_ids: DataFrame,
    batch_buckets: DataFrame,
    index_buckets: DataFrame,
) -> DataFrame:
    """One-pass ingest flagging: each batch doc against the STANDING
    index AND against its own batch's smaller-id docs, in a single
    candidate join + min — the exact output that two
    lsh_flag_against_index calls (index; own batch restricted to
    smaller ids) produce when reconciled, at half the per-micro-batch
    action count (round-8 streaming-throughput item; the streaming
    ingest's cost was dominated by fixed per-job latency, not data).
    Cap semantics are preserved PER SOURCE: index buckets cap by
    index-side population, batch buckets by batch-side population —
    identical to the separate calls (a semi-join pre-prune keeps or
    drops (band, bh) GROUPS whole, so per-group populations — and
    therefore the cap verdicts — are the same with or without it).

    Round 12 shuffle-count rewrite (the leg is fixed-latency-bound:
    ~6k rows over 7 exchanges): both sources union into ONE relation,
    ONE window pass computes BOTH per-source bucket populations as
    conditional counts over (band, bh), and the pair join is a
    SELF-join of that windowed relation — Spark reuses the single
    exchange on both sides (ReusedExchange), so the whole flag plan
    runs on 2 real shuffles (window, final group-min) instead of 7
    (keys-distinct, semi-join build, two windows, join re-exchanges,
    group-min). Row set identical, pinned by
    test_lsh_flag_ingest_equals_two_call_composition."""
    from pyspark.sql.window import Window

    wkey = Window.partitionBy("band", "bh")
    cap = band_cap_col(INGEST_MAX_BUCKET)
    both = (
        index_buckets.select(
            "band", "bh", "doc_id", F.lit(False).alias("own"))
        .unionByName(batch_buckets.select(
            "band", "bh", "doc_id", F.lit(True).alias("own")))
    )
    counted = both.select(
        "band", "bh", "doc_id", "own",
        F.count(F.when(~F.col("own"), 1)).over(wkey).alias("_ni"),
        F.count(F.when(F.col("own"), 1)).over(wkey).alias("_nb"),
    )
    side = counted.where(
        (F.col("own") & (F.col("_nb") <= cap))
        | (~F.col("own") & (F.col("_ni") <= cap))
    ).select("band", "bh", F.col("doc_id").alias("corpus_doc"), "own")
    left = counted.where(F.col("own")).select(
        "band", "bh", F.col("doc_id").alias("batch_doc"))
    pairs = (
        left.join(side, ["band", "bh"])
        .where(~F.col("own") | (F.col("corpus_doc") < F.col("batch_doc")))
        .groupBy("batch_doc")
        .agg(F.min("corpus_doc").alias("first_match_doc"))
    )
    return (
        batch_ids.select("doc_id")
        .join(F.broadcast(pairs),
              F.col("doc_id") == F.col("batch_doc"), "left")
        .select(
            "doc_id",
            F.col("first_match_doc").isNotNull().alias("is_dup"),
            F.coalesce(F.col("first_match_doc"), F.lit(-1))
            .cast("long").alias("first_match_doc"),
        )
    )


# -------------------------------------------------------------------
# semantic dedup (SemDeDup, Abbas et al. 2023)
# -------------------------------------------------------------------

# expected vectors per cluster with derived k: k = ceil(n / POP), so
# within-cluster pair work is O(n · POP) — linear in the corpus, the
# Abbas 2023 recipe (fixed k would degenerate to O(n²/k))
SEMDEDUP_TARGET_POP = 64
# below this corpus size the (vec_id, centroid_id, embedding) frame is
# cheaper to recompute per branch than to localCheckpoint (measured
# 2.1 s vs 2.7 s at sf0.1); above it the centroid-scoring scan
# dominates and must run once
SEMDEDUP_MATERIALIZE_MIN = 100_000


def semdedup_keep(
    embeddings: DataFrame,
    threshold: float = 0.3,
    materialize: bool | None = None,
) -> DataFrame:
    """SemDeDup: cluster-scoped semantic near-duplicate removal over
    an embedding column — the standard curation pass for web-scale
    LLM training corpora (cluster first, then pay the quadratic
    pairwise cost only WITHIN clusters, never across the corpus).

    Returns one row per vector: (vec_id, centroid_id, keep). A vector
    is dropped when some same-cluster vector with a SMALLER id has
    cosine ≥ threshold (deterministic keep-first — the same survivor
    rule as dedup_materialize; transitive chains keep only the chain
    head it reaches by id order within the pair relation).

    Scale shape: the centroid assignment is a broadcast join + window
    argmax (corpus.assign_nearest_centroid); pairing shuffles once on
    centroid_id. The centroid count is DERIVED,
    k = ceil(n / SEMDEDUP_TARGET_POP) from the corpus size, so the
    expected cluster population is a constant and total pair work is
    O(n · pop) — exactly the SemDeDup recipe; a fixed k would let
    cluster populations grow ∝ n and the within-cluster quadratic
    degenerate to O(n²/k). The sizing count() is one metadata-cheap
    job (parquet row-group counts; no column data read). Cosine runs
    through the Arrow-batched kernel (similarity.cosine_sim), not an
    interpreted HOF."""
    from .corpus import assign_nearest_centroid
    from .similarity import cosine_sim

    n = embeddings.count()
    num_centroids = max(1, -(-n // SEMDEDUP_TARGET_POP))
    if materialize is None:
        materialize = n >= SEMDEDUP_MATERIALIZE_MIN
    assign = assign_nearest_centroid(
        embeddings, num_centroids=num_centroids
    ).select("vec_id", "centroid_id")
    # (vec_id, centroid_id, embedding) feeds both pair sides and the
    # final verdict frame; without materialization the centroid-scoring
    # subtree (broadcast join + window argmax) re-executes per branch
    # (measured: 8 embedding scans, 0 exchange reuse). materialize=True
    # localCheckpoints it once — auto-selected above
    # SEMDEDUP_MATERIALIZE_MIN vectors where the scoring scan
    # dominates; below it recompute beats the checkpoint round-trip.
    vecs = assign.join(
        embeddings.select("vec_id", "embedding"),
        "vec_id",
    )
    if materialize:
        vecs = vecs.localCheckpoint(eager=False)
    a = vecs.select(
        F.col("centroid_id").alias("cid"),
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"),
    )
    b = vecs.select(
        F.col("centroid_id").alias("cid"),
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"),
    )
    dropped = (
        a.join(b, "cid")
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            F.round(cosine_sim(F.col("va"), F.col("vb")), 4)
            >= F.lit(threshold)
        )
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return (
        vecs.select("vec_id", "centroid_id")
        .join(dropped, "vec_id", "left")
        .select(
            "vec_id", "centroid_id",
            F.col("is_dup").isNull().alias("keep"),
        )
    )


def span_dedup_profile(docs: DataFrame, k: int = 12) -> DataFrame:
    """Exact-substring duplication profile at k-token granularity
    (Lee et al. 2021 suffix-array dedup, re-expressed as the
    distributable rolling-hash formulation): hash every k-token
    window, count occurrences corpus-wide, and report per document
    the windows duplicated anywhere (>=2 occurrences) plus the
    token-interval union they cover — the exact removal budget of a
    substring-dedup pass.

    Scale shape: explode to windows (pure JVM sequence/slice/md5 —
    no Python), ONE shuffle on the window hash for the global count,
    join back, and a sort-based islands pass for the interval union
    (new coverage of a sorted fixed-length window = min(k, gap to
    predecessor) — k× fewer rows through the union step than the
    position-explode+distinct formulation; at sf0.1 the md5 over the
    windows dominates either way, the explode matters at the 100 TB
    shuffle). Window count is n_tokens-k+1 per doc (linear, not
    quadratic); the suffix array's single-machine build is the part
    that does not distribute, the rolling-hash shuffle is the part
    that does.
    """
    toks = docs.select(
        "doc_id",
        parse.raw_tokens("text").alias("tk"),
    )
    base = toks.select(
        "doc_id",
        F.size("tk").cast("long").alias("n_tokens"),
        F.greatest(F.size("tk") - F.lit(k - 1), F.lit(0))
        .cast("long").alias("n_windows"),
        "tk",
    )
    wins = (
        base.where(F.col("n_windows") >= 1)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, int(n_windows)),"
                    f" s -> struct(s AS win_start,"
                    f" md5(concat_ws(' ', slice(tk, s, {k}))) AS h))"
                )
            ).alias("w"),
        )
        .select("doc_id", "w.win_start", "w.h")
    )
    hot = wins.groupBy("h").count().where(F.col("count") >= 2).select("h")
    dup = wins.join(hot, "h").select("doc_id", "win_start")
    per_doc = dup.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_dup_windows")
    )
    # interval union by the sort-based islands identity, not a
    # position explode: windows are fixed-length intervals
    # [s, s+k-1]; sorted by s within a doc, a window's NEW coverage
    # is min(k, s - prev_s) where prev_s is the previous duplicated
    # window's start (overlap with anything earlier is overlap with
    # the immediate predecessor, since all intervals share length k).
    # Replaces the k-fold position explode + distinct (k x dup-rows
    # shuffled) with one per-doc window over the dup windows.
    from pyspark.sql.window import Window as _W

    w_doc = _W.partitionBy("doc_id").orderBy("win_start")
    cover = (
        dup.withColumn("prev_s", F.lag("win_start").over(w_doc))
        .select(
            "doc_id",
            F.when(
                F.col("prev_s").isNull(), F.lit(k)
            )
            .otherwise(
                F.least(F.lit(k), F.col("win_start") - F.col("prev_s"))
            )
            .alias("new_cover"),
        )
        .groupBy("doc_id")
        .agg(F.sum("new_cover").cast("long").alias("covered_tokens"))
    )
    return (
        base.drop("tk")
        .join(per_doc, "doc_id", "left")
        .join(cover, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_windows",
            F.coalesce("n_dup_windows", F.lit(0)).cast("long")
            .alias("n_dup_windows"),
            F.coalesce("covered_tokens", F.lit(0)).cast("long")
            .alias("covered_tokens"),
            F.when(F.col("n_tokens") == 0, F.lit(0))
            .otherwise(
                F.expr(
                    "(1000000L * coalesce(covered_tokens, 0L))"
                    " div n_tokens"
                )
            )
            .cast("long").alias("dup_coverage_ppm"),
        )
    )


def span_longest_match(docs: DataFrame, k: int = 12) -> DataFrame:
    """Longest-duplicated-span profile — the suffix-array companion to
    span_dedup_profile: per document, the length (tokens) of the
    LONGEST span all of whose k-token windows occur >= 2 times
    corpus-wide, plus the number of maximal such spans. This is the
    quantity a suffix-array pass reads off the LCP array (longest
    repeated substring, floored at k); here it is exact for spans
    >= k by the window-chain identity — a span of length m >= k is
    fully duplicated iff all its m-k+1 windows are hot — computed as
    (longest consecutive run of duplicated window starts) + k - 1.

    Scale shape: identical to span_dedup_profile up to the hot-window
    join (window explode, ONE md5-hash shuffle, join back), then a
    per-doc sort window turns starts into gap-runs (run id = start -
    row_number, the sort-based islands trick) and one groupBy reads
    off run lengths. Everything after the hash join is dup-window-
    sized, not corpus-sized."""
    from pyspark.sql.window import Window as _W

    toks = docs.select(
        "doc_id",
        parse.raw_tokens("text").alias("tk"),
    )
    base = toks.select(
        "doc_id",
        F.size("tk").cast("long").alias("n_tokens"),
        F.greatest(F.size("tk") - F.lit(k - 1), F.lit(0))
        .cast("long").alias("n_windows"),
        "tk",
    )
    wins = (
        base.where(F.col("n_windows") >= 1)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, int(n_windows)),"
                    f" s -> struct(s AS win_start,"
                    f" md5(concat_ws(' ', slice(tk, s, {k}))) AS h))"
                )
            ).alias("w"),
        )
        .select("doc_id", "w.win_start", "w.h")
    )
    hot = wins.groupBy("h").count().where(F.col("count") >= 2).select("h")
    dup = wins.join(hot, "h").select("doc_id", "win_start")
    w_doc = _W.partitionBy("doc_id").orderBy("win_start")
    runs = (
        dup.withColumn(
            "grp", F.col("win_start") - F.row_number().over(w_doc))
        .groupBy("doc_id", "grp")
        .agg(F.count("*").cast("long").alias("run_len"))
    )
    agg = runs.groupBy("doc_id").agg(
        F.max("run_len").cast("long").alias("max_run"),
        F.count("*").cast("long").alias("n_dup_spans"),
    )
    return (
        base.drop("tk")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("max_run") + F.lit(k - 1), F.lit(0))
            .cast("long").alias("longest_dup_span_tokens"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("long")
            .alias("n_dup_spans"),
            F.when(F.col("n_tokens") == 0, F.lit(0))
            .otherwise(
                F.expr(
                    f"(1000000L * coalesce(max_run + {k - 1}, 0L))"
                    " div n_tokens"
                )
            )
            .cast("long").alias("longest_span_ppm"),
        )
    )


# word n-gram width of the set-similarity join's shingles
SETSIM_SHINGLE_N = 3


def _shingle_prefixes(
    docs: DataFrame, num: int, den: int, materialize: bool,
) -> tuple[DataFrame, DataFrame]:
    """Shared AllPairs machinery: (sh, pref) where ``sh`` is the
    distinct (doc_id, term) word-shingle relation of the ``text``
    column and ``pref`` is each document's prefix — its
    |s| - ceil(t|s|) + 1 globally-rarest shingles, with set size
    ``n`` and within-doc global rank ``rn``. The (df, term) order is
    computed over the WHOLE input relation; any consistent global
    order keeps the prefix filter lossless, which is what lets the
    incremental variant reuse this unchanged.
    """
    from pyspark.sql.window import Window

    k = SETSIM_SHINGLE_N
    toks = docs.select("doc_id", parse.tokens("text").alias("ws"))
    parts = [F.expr(f"ws[i + {j}]") for j in range(k)]
    sh = (
        toks.where(F.size("ws") >= k)
        .select(
            "doc_id", "ws",
            F.explode(F.sequence(F.lit(0), F.size("ws") - k)).alias("i"),
        )
        .select("doc_id", F.concat_ws(" ", *parts).alias("term"))
        .distinct()
    )
    if materialize:
        # sh feeds df-counting, prefix ranking, AND both verification
        # sides (4 references) — checkpoint the shingle relation once
        # instead of re-running the explode+distinct per reference
        sh = sh.localCheckpoint()
    dfreq = sh.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    per_doc = Window.partitionBy("doc_id")
    ranked = (
        sh.join(dfreq, "term")
        .withColumn("n", F.count("*").over(per_doc))
        .withColumn(
            "rn",
            F.row_number().over(per_doc.orderBy("df", "term")),
        )
    )
    # prefix length p = n - ceil(t*n) + 1, all-integer
    pref = ranked.where(
        F.col("rn")
        <= F.col("n") - F.expr(f"(n * {num} + {den - 1}) div {den}") + 1
    ).select("term", "doc_id", "n", "rn")
    return sh, pref


# shingle rows per partition for the pair-expanded positional stage:
# the prefix join fans each partition's shingle rows out ~10-20x on
# dup-heavy corpora, so ~50k input rows/partition keeps the window
# sort's per-task footprint in the tens of MB — in-memory at any
# corpus size, because partitions SCALE with the measured shingle
# count instead of staying pinned at spark.sql.shuffle.partitions
# (sf1eq measured: 157 MB of window-sort spill at 32 fixed
# partitions, 0 at the scaled count; sf0.1 stays at the 32 floor so
# bench anchors are unchanged)
_POS_ROWS_PER_PART = 50_000


def _positional_bound_filter(
    joined: DataFrame, num: int, den: int,
    num_partitions: int | None = None,
):
    """The min-over-j positional bound condition (see
    setsim_prefix_join): ``joined`` carries one row per SHARED
    PREFIX SHINGLE of a pair — (doc_a, doc_b, na, nb, ia, ib).

    Round 10 shape: a per-pair window (row_number over the global
    (ia, ib) order = j) + a plain LONG min-aggregate, replacing the
    former collect_list(ps)+array_min. Same quantity — the multiset
    of j + least(na-ia_j, nb-ib_j) bounds is order-determined — but
    the object-hash collect_list aggregate fell back to SORT-BASED
    aggregation past ~4096 pairs per task and spilled the ENTIRE
    pair-expanded join output to disk at the 10x corpus (sf1eq
    measured: 511 MB, the registry's only spiller). The window sorts
    the same shuffle partition-locally and the min-agg buffer is one
    long per pair, so peak memory is partition-bounded, not
    pair-count-bounded."""
    from pyspark.sql.window import Window

    if num_partitions:
        # same shuffle the window needs anyway, just at a data-scaled
        # partition count (HashPartitioning on the window keys
        # satisfies its distribution requirement — no extra exchange)
        joined = joined.repartition(
            num_partitions, "doc_a", "doc_b"
        )
    w = Window.partitionBy("doc_a", "doc_b").orderBy("ia", "ib")
    bounded = joined.withColumn(
        "_pb",
        F.row_number().over(w)
        + F.least(F.col("na") - F.col("ia"), F.col("nb") - F.col("ib")),
    )
    return (
        bounded.groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.min("_pb").alias("_pbound"))
        .where(
            F.col("_pbound")
            >= F.expr(
                f"({num} * (na + nb) + {num + den - 1}) div {num + den}"
            )
        )
        .select("doc_a", "doc_b", "na", "nb")
    )


def suffix_histograms(sh: DataFrame, buckets: int = 128) -> DataFrame:
    """Per-doc ≤``buckets``-entry hash-bucket count maps — the
    suffix-filter signature relation. Corpus-linear to build; a
    standing-index deployment materializes it once per snapshot and
    probes it per ingest (see setsim_index)."""
    return (
        sh.groupBy(
            "doc_id",
            F.pmod(F.xxhash64("term"), F.lit(buckets))
            .cast("int").alias("bk"),
        )
        .agg(F.count("*").cast("int").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("bk", "c"))
            ).alias("hist")
        )
    )


def doc_term_arrays(sh: DataFrame) -> DataFrame:
    """Per-doc shingle ARRAY relation consumed by exact verification
    — the other standing-index component (see setsim_index)."""
    return sh.groupBy("doc_id").agg(
        F.collect_list("term").alias("terms")
    )


def _suffix_histogram_filter(
    cands: DataFrame, sh: DataFrame, num: int, den: int,
    buckets: int = 128,
    hist: DataFrame | None = None,
):
    """PPJoin+ suffix filtering (Xiao et al. 2008 §4.2), vectorized:
    the published divide-and-conquer suffix filter recursively
    bisects the global token order and bounds a pair's overlap by
    Σ_partitions min(count_a, count_b); carried to depth log₂(B)
    that IS the histogram-intersection bound over B disjoint term
    classes. Here the classes are HASH buckets (same term → same
    bucket, so the bound stays a true upper bound — lossless for any
    B) instead of rank ranges: no global sort is needed, and the
    per-doc signature is a ≤B-entry count map — an order of
    magnitude smaller than the full shingle arrays, so candidates
    rejected here never pull full arrays through the verification
    join. overlap(a,b) ≤ Σ_bk min(ha[bk], hb[bk]); Jaccard ≥ t
    needs overlap ≥ ceil(t·(na+nb)/(1+t)), all-integer:
    keep iff bound·(num+den) ≥ num·(na+nb). Pass ``hist`` (the
    suffix_histograms relation, built with the SAME bucket count) to
    probe a standing signature index instead of rebuilding it."""
    if hist is None:
        hist = suffix_histograms(sh, buckets)
    return (
        cands.join(
            hist.select(
                F.col("doc_id").alias("doc_a"), F.col("hist").alias("ha")
            ),
            "doc_a",
        )
        .join(
            hist.select(
                F.col("doc_id").alias("doc_b"), F.col("hist").alias("hb")
            ),
            "doc_b",
        )
        .where(
            F.expr(
                "aggregate(map_values(map_zip_with(ha, hb,"
                " (k, x, y) -> least(coalesce(x, 0), coalesce(y, 0)))),"
                " 0, (acc, v) -> acc + v)"
            ) * (num + den)
            >= num * (F.col("na") + F.col("nb"))
        )
        .select("doc_a", "doc_b", "na", "nb")
    )


# Verification spill budget (round 10, SURVEY §7.15): the verify
# join drags TWO doc-sized term arrays through a shuffle per
# candidate pair, so its peak memory — and, past executor memory,
# its disk spill — scales with the TRUE-PAIR count (sf1eq measured
# q_setsim_prefix_join as the sole registry spiller; its 10.3x step
# is output-driven). Candidates above this budget verify in
# hash-sliced batches: each slice's exchange moves at most
# VERIFY_BATCH_PAIRS array-carrying rows and materializes only its
# (tiny) surviving pairs, so spill is bounded by the budget instead
# of the pair count. The result set is slice-invariant: slicing is
# an exact partition of the candidate set by pmod(xxhash64(pair)).
VERIFY_BATCH_PAIRS = 1 << 17

# corpus-size proxy above which setsim_prefix_join turns the budget
# on: below ~2M shingle rows the whole candidate set is far under
# VERIFY_BATCH_PAIRS (sf0.1: 740k rows -> 256 candidates), so the
# single-pass join keeps its pipelining and the bench anchor
_VERIFY_PROXY_SH = 2_000_000


def _verify_pairs(
    cands: DataFrame, sh: DataFrame, num: int, den: int,
    docsets: DataFrame | None = None,
    batch_pairs: int | None = None,
):
    """Exact verification of candidate pairs by per-doc shingle
    ARRAYS (array_intersect in codegen) — see setsim_prefix_join.
    Pass ``docsets`` (the doc_term_arrays relation) to probe a
    standing index instead of rebuilding it. With ``batch_pairs``
    set, candidate sets larger than it verify in bounded slices
    (see VERIFY_BATCH_PAIRS) — same pairs, budgeted spill; the
    default None keeps the single-pass pipelined join (callers
    enable the budget via the corpus-size proxy they already
    measure, so small corpora never pay the candidate
    checkpoint+count)."""
    if docsets is None:
        docsets = doc_term_arrays(sh)

    def _one(c: DataFrame) -> DataFrame:
        inter = (
            c.join(
                docsets.select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("terms").alias("ta"),
                ),
                "doc_a",
            )
            .join(
                docsets.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("terms").alias("tb"),
                ),
                "doc_b",
            )
            .select(
                "doc_a", "doc_b", "na", "nb",
                F.size(F.array_intersect("ta", "tb")).cast("long")
                .alias("inter"),
            )
        )
        return (
            inter.where(
                F.col("inter") * den
                >= (F.col("na") + F.col("nb") - F.col("inter")) * num
            )
            .select(
                "doc_a",
                "doc_b",
                F.col("inter").alias("inter_size"),
                (F.col("na") + F.col("nb") - F.col("inter"))
                .cast("long").alias("union_size"),
                F.expr("(inter * 1000000L) div (na + nb - inter)")
                .cast("long").alias("jaccard_ppm"),
            )
        )

    if batch_pairs is None:
        return _one(cands)
    # the candidate relation is 4 scalar columns — checkpointing it
    # is pair-count-linear but array-free (cheap), and gives an exact
    # count to size the slicing without recomputing the filter chain
    cands = cands.localCheckpoint()
    n = cands.count()
    if n <= batch_pairs:
        return _one(cands)
    n_slices = -(-n // batch_pairs)
    # the array relation feeds every slice: materialize it once
    # (doc-count-linear) instead of re-grouping shingles per slice
    docsets = docsets.localCheckpoint()
    parts = [
        _one(
            cands.where(
                F.pmod(F.xxhash64("doc_a", "doc_b"), F.lit(n_slices))
                == F.lit(i)
            )
        ).localCheckpoint()
        for i in range(n_slices)
    ]
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out


def setsim_prefix_join(
    docs: DataFrame,
    threshold_num: int = 3,
    threshold_den: int = 5,
    materialize: bool = True,
    suffix_buckets: int | None = 128,
) -> DataFrame:
    """EXACT all-pairs set-similarity join via prefix filtering
    (AllPairs, Bayardo et al. 2007; PPJoin length filter, Xiao et
    al. 2008): every document pair whose word SETSIM_SHINGLE_N-gram
    Jaccard >= threshold_num/threshold_den — ZERO recall loss,
    unlike the capped-LSH pipelines (minhash/simhash), yet never the
    all-pairs product either.

    The filter is lossless: order each document's shingles by
    ascending global document frequency (rarest first, ties by
    term), keep only the first |s| - ceil(t*|s|) + 1 per document
    ("prefix"), and join ONLY on prefix shingles. Any pair with
    Jaccard >= t shares >= ceil(t*max(|a|,|b|)) shingles, more than
    either suffix can hold, so some shared shingle sits in both
    prefixes — candidates are a superset of the answer and exact
    verification (one count per surviving pair) finishes the job.
    The length filter den*min >= num*max prunes size-incompatible
    pairs before verification.

    Scale shape: one shuffle on shingle for df, per-DOC windows for
    the prefix (partition = document, never global), one shuffle on
    prefix shingle for candidates, one candidate-bounded shuffle for
    verification. The rarest-first order is the scale lever:
    boilerplate (high-df) shingles are pushed out of every prefix,
    so join fanout concentrates on discriminative terms with tiny
    posting lists. Threshold is a rational number and all
    comparisons are integer — no float threshold drift between
    engines.

    Output: (doc_a, doc_b, inter_size, union_size, jaccard_ppm)
    for jaccard >= t, doc_a < doc_b.
    """
    num, den = threshold_num, threshold_den
    sh, pref = _shingle_prefixes(docs, num, den, materialize)
    a = pref.select(
        "term", F.col("doc_id").alias("doc_a"),
        F.col("n").alias("na"), F.col("rn").alias("ia"),
    )
    b = pref.select(
        "term", F.col("doc_id").alias("doc_b"),
        F.col("n").alias("nb"), F.col("rn").alias("ib"),
    )
    # PPJoin positional filter, generalized to EVERY shared prefix
    # shingle (lossless): order the pair's shared prefix shingles
    # w_1 < w_2 < ... by the global (df, term) order — within each
    # doc their ranks ia_j / ib_j ascend together (order-consistent).
    # For each j, any shared shingle at or before w_j in the global
    # order has ia <= ia_j <= pa and ib <= ib_j <= pb, so it IS one
    # of w_1..w_j (at most j of them); every other shared shingle
    # sits after position ia_j in a AND after ib_j in b. Hence
    # overlap <= j + min(na - ia_j, nb - ib_j) for EVERY j, and the
    # bound is the minimum over j — subsuming the classic single-w*
    # PPJoin bound (j=1). Jaccard >= t needs overlap >=
    # ceil(t(na+nb)/(1+t)); pairs whose bound can't reach it are
    # dropped BEFORE the verification join (measured at sf0.1:
    # 193k prefix candidates -> 68.7k with the j=1 bound -> 66.4k
    # with the min-over-j bound; result set identical — the oracle
    # is brute force). Survivors then pass the PPJoin+ SUFFIX filter
    # (_suffix_histogram_filter): a naive transliteration would need
    # the full token arrays — the very thing verification consumes —
    # but the vectorized form probes ≤`suffix_buckets`-entry count
    # maps instead, so it runs BEFORE (and shrinks) the heavy
    # array-verification join rather than duplicating it.
    joined = (
        a.join(b, "term")
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.least("na", "nb") * den >= F.greatest("na", "nb") * num)
        )
    )
    n_parts, n_sh = None, None
    if materialize:
        # sh is checkpointed: the count is a local block scan, and it
        # sizes the pair-expanded stage to the corpus (see
        # _POS_ROWS_PER_PART)
        n_sh = sh.count()
        n_parts = int(min(2048, max(32, n_sh // _POS_ROWS_PER_PART)))
    cands = _positional_bound_filter(
        joined, num, den, num_partitions=n_parts
    )
    if suffix_buckets:
        cands = _suffix_histogram_filter(
            cands, sh, num, den, buckets=suffix_buckets
        )
    # verification by per-doc shingle ARRAYS (array_intersect in
    # codegen), not by re-exploding shingles through the candidate
    # pairs: candidates ≫ true pairs on high-overlap corpora
    # (measured 193k candidates → ~250 pairs at sf0.1) and the
    # exploded join would shuffle |cands| × |shingles/doc| rows;
    # the doc-sized array relation joins in at |docs| rows instead.
    # The verification spill budget engages via the same corpus-size
    # proxy as the positional-stage sizing: small corpora keep the
    # pipelined single-pass join (no candidate checkpoint tax).
    budget = (
        VERIFY_BATCH_PAIRS
        if n_sh is not None and n_sh > _VERIFY_PROXY_SH
        else None
    )
    return _verify_pairs(cands, sh, num, den, batch_pairs=budget)


def setsim_index(
    docs: DataFrame, threshold_num: int = 3, threshold_den: int = 5,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The standing similarity-join index: (shingles, prefixes,
    suffix-histograms, term-arrays) — the four corpus-linear
    relations the AllPairs machinery derives, which a continuous-
    ingest deployment materializes once per corpus snapshot and
    appends to per batch. With the full index precomputed, the
    per-ingest cost of ``setsim_incremental_pairs(precomputed=...)``
    is ONLY the batch posting join + filter probes + candidate-
    bounded verification — no corpus-wide shingle/df/rank/signature/
    array pass per ingest."""
    sh, pref = _shingle_prefixes(docs, threshold_num, threshold_den, True)
    return sh, pref, suffix_histograms(sh), doc_term_arrays(sh)


def setsim_incremental_pairs(
    docs: DataFrame,
    batch_col: str = "is_batch",
    threshold_num: int = 3,
    threshold_den: int = 5,
    precomputed: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """EXACT similarity pairs with at least one side in the ingest
    BATCH (``batch_col`` boolean on ``docs``): the quadratic half of
    continuous corpus building. The candidate join is batch-prefix ×
    corpus-prefix — posting lists fan out as |batch| × bucket, never
    corpus × corpus — while the linear passes (shingling, document
    frequency, prefix ranking) run over the full corpus exactly as a
    standing, incrementally-appendable index would provide them. The
    prefix/positional/length filters are the same LOSSLESS ones as
    setsim_prefix_join (any consistent global term order preserves
    exactness), so standing-pairs ∪ these pairs ≡ the from-scratch
    all-pairs join — the equality q_incremental_components'
    oracle pins. Output shape matches setsim_prefix_join with
    doc_a < doc_b.

    ``precomputed``: the (sh, pref, hist, docsets) tuple from
    ``setsim_index`` over the SAME docs relation — the standing index
    artifact ((sh, pref) alone also accepted; the signature/array
    relations are then derived inline). Passing the full index makes
    this call's cost the true per-ingest work (batch posting join +
    filter probes + candidate-bounded verification); omitting it
    rebuilds everything inline (identical result, measured ~2x the
    wall at sf0.1)."""
    num, den = threshold_num, threshold_den
    hist = docsets = None
    if precomputed is not None:
        if len(precomputed) == 4:
            sh, pref, hist, docsets = precomputed
        else:
            sh, pref = precomputed
    else:
        sh, pref = _shingle_prefixes(docs, num, den, True)
    flags = docs.select("doc_id", F.col(batch_col).alias("_fb"))
    preff = pref.join(flags, "doc_id")
    a = preff.where(F.col("_fb")).select(
        "term", F.col("doc_id").alias("doc_x"),
        F.col("n").alias("nx"), F.col("rn").alias("ix"),
    )
    b = preff.select(
        "term", F.col("doc_id").alias("doc_y"),
        F.col("n").alias("ny"), F.col("rn").alias("iy"),
        F.col("_fb").alias("y_batch"),
    )
    # batch×corpus candidates: batch-batch pairs once via doc_x <
    # doc_y; batch-standing pairs once because only batch docs sit on
    # the x side. Canonicalize to (doc_a < doc_b) BEFORE grouping so
    # the positional bound sees consistent sides (the bound itself is
    # symmetric in the pair).
    joined = (
        a.join(b, "term")
        .where(
            (F.col("doc_x") != F.col("doc_y"))
            & (~F.col("y_batch") | (F.col("doc_x") < F.col("doc_y")))
            & (F.least("nx", "ny") * den >= F.greatest("nx", "ny") * num)
        )
        .select(
            F.least("doc_x", "doc_y").alias("doc_a"),
            F.greatest("doc_x", "doc_y").alias("doc_b"),
            F.when(F.col("doc_x") < F.col("doc_y"), F.col("nx"))
            .otherwise(F.col("ny")).alias("na"),
            F.when(F.col("doc_x") < F.col("doc_y"), F.col("ny"))
            .otherwise(F.col("nx")).alias("nb"),
            F.when(F.col("doc_x") < F.col("doc_y"), F.col("ix"))
            .otherwise(F.col("iy")).alias("ia"),
            F.when(F.col("doc_x") < F.col("doc_y"), F.col("iy"))
            .otherwise(F.col("ix")).alias("ib"),
        )
    )
    cands = _positional_bound_filter(joined, num, den)
    cands = _suffix_histogram_filter(cands, sh, num, den, hist=hist)
    return _verify_pairs(cands, sh, num, den, docsets=docsets)


def incremental_components(
    standing_pairs: DataFrame,
    batch_pairs: DataFrame,
    max_iter: int = 20,
    standing_components: DataFrame | None = None,
) -> DataFrame:
    """Incremental connected-components maintenance under corpus
    growth: given the STANDING component map's pair relation and the
    new batch's pairs (≥1 side in the batch), produce the component
    map of the grown corpus WITHOUT re-running components over the
    standing corpus — the graph is CONTRACTED first (every standing
    doc collapses to its existing component label), components run
    only over the contracted batch edges (|batch pairs| nodes, not
    |corpus|), and labels expand back through the standing map.

    Exactness: standing labels are component minima; contracted-CC
    labels are minima over contracted node ids (standing minima and
    batch doc ids), so expanded labels are the TRUE global minima —
    the output is row-for-row identical to from-scratch components
    over standing_pairs ∪ batch_pairs, which is what the oracle
    checks. At 100 TB the standing map is a materialized table (see
    _corpus_components); each ingest touches only batch-sized
    relations plus one broadcast-ish join against the map. Pass
    ``standing_components`` (the map from the previous snapshot) to
    skip recomputing it — the production call shape; when omitted it
    is derived from standing_pairs here."""
    comps0 = (
        standing_components
        if standing_components is not None
        else connected_components(standing_pairs, max_iter=max_iter)
    )
    # batch_pairs is referenced three times below (both contraction
    # endpoints + the vertex union); without truncation the whole
    # upstream pair pipeline re-executes per reference (measured
    # 10.3 s -> ~7 s at sf0.1). The relation is pair-count-sized.
    batch_pairs = batch_pairs.localCheckpoint()
    # contract batch-pair endpoints through the standing map
    m_a = comps0.select(
        F.col("doc_id").alias("doc_a"), F.col("component_id").alias("ca")
    )
    m_b = comps0.select(
        F.col("doc_id").alias("doc_b"), F.col("component_id").alias("cb")
    )
    contracted = (
        batch_pairs.select("doc_a", "doc_b")
        .join(m_a, "doc_a", "left")
        .join(m_b, "doc_b", "left")
        .select(
            F.coalesce("ca", "doc_a").alias("doc_a"),
            F.coalesce("cb", "doc_b").alias("doc_b"),
        )
        .where(F.col("doc_a") != F.col("doc_b"))
        .localCheckpoint()  # counted once, consumed twice below
    )
    # the contracted graph is BATCH-pair-sized by construction; below
    # a guard threshold a driver union-find produces the identical
    # min-label map in one job instead of 2 Spark jobs per min-label
    # propagation round — the fixed per-round latency dominates on
    # small graphs (same small-graph shortcut GraphFrames-style
    # engines take). Above the guard, the distributed propagation
    # runs exactly as before.
    n_edges = contracted.count()
    if n_edges <= 100_000:
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for row in contracted.collect():
            a, b = row["doc_a"], row["doc_b"]
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        nodes = set(parent)
        nodes.update(find(x) for x in list(parent))
        spark = batch_pairs.sparkSession
        cc1 = spark.createDataFrame(
            [(int(x), int(find(x))) for x in sorted(nodes)],
            "node long, nl long",
        )
    else:
        cc1 = connected_components(contracted, max_iter=max_iter).select(
            F.col("doc_id").alias("node"),
            F.col("component_id").alias("nl"),
        )
    # expand: every vertex v maps through node(v) = standing label or
    # itself, then through the contracted result if present
    verts = (
        standing_pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(standing_pairs.select(F.col("doc_b").alias("doc_id")))
        .unionByName(batch_pairs.select(F.col("doc_a").alias("doc_id")))
        .unionByName(batch_pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    return (
        verts.join(comps0, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component_id", "doc_id").alias("node"),
        )
        .join(cc1, "node", "left")
        .select(
            "doc_id",
            F.coalesce("nl", "node").cast("long").alias("component_id"),
        )
    )
