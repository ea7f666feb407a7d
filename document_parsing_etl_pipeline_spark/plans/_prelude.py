"""Query registry: every operator from SURVEY.md §2 as a
(spark, sf_dir) -> DataFrame builder plus a DuckDB oracle SQL string.

Engine-parity protocol (so the driver's order-insensitive value-hash
matches):
- integer outputs are BIGINT on both sides (Spark ints are cast);
- sums of doubles go through exact DECIMAL(18,6) accumulation (per-row
  IEEE double arithmetic is engine-identical; only the accumulation
  order is not), then cast to DOUBLE and round;
- timestamps are compared as epoch microseconds (BIGINT);
- hashes are md5 hex strings (identical algorithm both engines);
- regexes use only syntax with identical Java-regex/RE2 semantics;
- cosine against a zero-norm vector is 0 (never NaN — engines order
  NaN differently);
- numeric input domain: metric/money/embedding values are finite and
  magnitude-bounded (decimal accumulators are sized for the domain;
  garbage like NaN or 1e30 fails loudly under ANSI rather than
  silently corrupting an aggregate).
"""

# ---------------------------------------------------------------------
# NOTE (round 11): this module holds the REGISTRY INFRASTRUCTURE and
# every shared helper / constant / SQL builder of the query surface —
# the @register query definitions themselves live in the per-SURVEY-§2
# section modules (plans/section_*.py), which star-import this prelude
# and register into the shared QUERIES/ORACLES dicts on import.
# plans/queries.py re-exports everything, so the public import path is
# unchanged. Split is purely physical: chunk order inside each file
# preserves the original module's statement order.
# ---------------------------------------------------------------------



from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table, spread_scan
from ..operators import charts as charts_op
from ..operators import chunking, corpus, dedup, entities, parse, similarity
from ..operators import text_analysis as ta
from ..sources import docstore

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


def _long(df: DataFrame, *cols: str) -> DataFrame:
    for c in cols:
        df = df.withColumn(c, F.col(c).cast("long"))
    return df


def _dec(c) -> F.Column:
    # precision 18 stays long-backed in Spark's unsafe row (~2x faster
    # aggregation than BigDecimal-backed 28,6); 12 integer digits is
    # ample headroom for the sums in play, and DuckDB's DECIMAL(18,6)
    # sums are exact the same way.
    return c.cast("decimal(18,6)")


def _money(c) -> F.Column:
    """Exact decimal sum → double → round to cents (engine-identical)."""
    return F.round(F.sum(_dec(c)).cast("double"), 2)


# ===================================================================
# §2.A — parse / chunk / NER / charts
# ===================================================================

CHUNK_SIZE, CHUNK_STEP, CHUNK_MIN = (
    chunking.DEFAULT_CHUNK_SIZE,
    chunking.DEFAULT_CHUNK_SIZE - chunking.DEFAULT_OVERLAP,
    chunking.DEFAULT_MIN_CHUNK,
)

# Shared chunk CTE used by every chunk-derived oracle.
CHUNK_CTE = f"""
chunks_raw AS (
    SELECT d.doc_id,
           unnest(generate_series(0, greatest(length(d.text)-1, 0)//{CHUNK_STEP}))
               AS chunk_index,
           d.text
    FROM documents d
), chunk_text AS (
    SELECT doc_id, chunk_index,
           substring(text, chunk_index*{CHUNK_STEP}+1, {CHUNK_SIZE}) AS text_content
    FROM chunks_raw
), chunks_f AS (
    SELECT doc_id, chunk_index, text_content,
           len(regexp_extract_all(text_content, '\\S+')) AS token_count
    FROM chunk_text
    WHERE length(text_content) >= {CHUNK_MIN} OR chunk_index = 0
)
"""


_TOK_CHUNK = 30


_NER_ORACLE = f"""
WITH {CHUNK_CTE}
SELECT doc_id, chunk_index,
       coalesce(array_to_string(regexp_extract_all(text_content,
                                                   '{entities.RE_ORG}'), ','), '')
           AS org_terms,
       len(regexp_extract_all(text_content, '{entities.RE_PERSON}')) AS n_persons,
       len(regexp_extract_all(text_content, '{entities.RE_ORG}')) AS n_organizations,
       len(regexp_extract_all(text_content, '{entities.RE_DATE}')) AS n_dates,
       len(regexp_extract_all(text_content, '{entities.RE_LOC}')) AS n_locations,
       len(regexp_extract_all(text_content, '{entities.RE_NUMBER}')) AS n_misc
FROM chunks_f
"""


_CHARTS_CTE = f"""
counted AS (
    SELECT doc_id,
           len(regexp_extract_all(text, '{charts_op.TABLE_MARKER}')) AS n_tables,
           len(regexp_extract_all(text, '{charts_op.FIGURE_MARKER}')) AS n_figures
    FROM documents
), chart_items AS (
    SELECT doc_id, 'table' AS chart_type,
           unnest(generate_series(1, n_tables)) AS chart_index
    FROM counted WHERE n_tables > 0
    UNION ALL
    SELECT doc_id, 'figure', unnest(generate_series(1, n_figures))
    FROM counted WHERE n_figures > 0
), charts_f AS (
    SELECT doc_id, chart_type, chart_index,
           'documents/' || doc_id || '/charts/' ||
           (CASE WHEN chart_type = 'table' THEN chart_index
                 ELSE chart_index + 1000000 END) || '.png' AS image_path
    FROM chart_items
)
"""


def _gazetteer_values() -> str:
    rows = [(t, "organization") for t in entities.ORG_TERMS] + [
        (t, "location") for t in entities.LOC_TERMS
    ]
    return ", ".join(f"('{t}', '{e}')" for t, e in rows)


# ===================================================================
# §2.B — doc-store query surface (API/repository parity)
# ===================================================================

# deterministic ingest clock (see sources/docstore.py INGEST_EPOCH_S)
_INGEST_US = f"(({docstore.INGEST_EPOCH_S} + d.doc_id)::BIGINT * 1000000)"

_DOCSTORE_CTE = f"""
{CHUNK_CTE}, stats AS (
    SELECT doc_id, count(*) AS total_chunks,
           sum(token_count)::BIGINT AS total_tokens
    FROM chunks_f GROUP BY doc_id
), documents_t AS (
    SELECT d.doc_id, 'doc_' || d.doc_id || '.txt' AS filename, d.lang, d.source,
           d.n_chars, coalesce(s.total_chunks, 0) AS total_chunks,
           coalesce(s.total_tokens, 0) AS total_tokens,
           '{{"lang":"' || d.lang || '","source":"' || d.source || '"}}'
               AS metainfo,
           {_INGEST_US} AS created_at_us,
           {_INGEST_US} AS updated_at_us
    FROM documents d LEFT JOIN stats s USING (doc_id)
)
"""


def _docstore_tables(spark, sf_dir, *names):
    """The named doc-store tables over the sf documents table; a table
    the query does not read is not built. The documents table
    aggregates the chunks table, so naming it builds that plan too."""
    docs = load_table(spark, sf_dir, "documents")
    out = {}
    if "chunks" in names or "documents" in names:
        out["chunks"] = docstore.chunks_table(docs)
    if "documents" in names:
        out["documents"] = docstore.documents_table(docs, out["chunks"])
    if "charts" in names:
        out["charts"] = docstore.charts_table(docs)
    return out


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


_WINDOW_US = 5 * 60 * 1_000_000


_SESSION_GAP_US = 30 * 60 * 1_000_000


_DAY_US = 86_400_000_000  # also (re)defined later; identical value


# ===================================================================
# §2.D — deduplication
# ===================================================================

_NORM_TOKENS_SQL = (
    "list_distinct(regexp_extract_all(lower(text), '\\S+'))"
)

_MH_K, _MH_BAND = 8, 2

# LSH per-band fanout caps are ENGAGED, not fixed (round 11; the
# round-10 verdict's top item): every pair generator consumes the
# per-(method, band) cap q_lsh_cap_planner chooses from the MEASURED
# bucket-size distribution — the largest candidate whose modeled pair
# fanout sum n(n-1)/2 fits a corpus-proportional budget of
# n_docs × _CAP_PPD verification pairs, falling back to the smallest
# candidate when nothing fits. Engine side: _lsh_caps() collects the
# ≤ n_bands chosen rows once per (session, corpus) and the generators
# filter via dedup.band_cap_col; oracle side: _caps_sql() computes
# the IDENTICAL all-integer derivation as CTEs, so the caps
# themselves stay hash-checked in every consumer. The streaming
# ingest keeps its fixed per-batch cap (a per-batch contract the
# planner's batch-corpus decision doesn't govern).
_CAP_CANDIDATES = [10, 25, 50, 100, 200]
_CAP_PPD = 40  # verification-pair budget per corpus document


def _caps_sql(sized: str, p: str = "") -> str:
    """Per-band chosen-cap CTEs over a (band, n) bucket-size relation
    ``sized`` — the EXACT q_lsh_cap_planner decision, inlined into
    every capped consumer's oracle so the engaged cap is re-derived
    (and therefore hash-checked) wherever it is consumed. All-integer
    arithmetic; n(n-1) is even so the halving is exact."""
    cands = ",".join(str(c) for c in _CAP_CANDIDATES)
    return f"""
{p}capbudget AS (
    SELECT CAST(count(*) * {_CAP_PPD} AS BIGINT) AS pair_budget
    FROM documents
), {p}capev AS (
    SELECT s.band, c.cap,
           CAST(coalesce(sum(CASE WHEN s.n BETWEEN 2 AND c.cap
                THEN s.n * (s.n - 1) // 2 ELSE 0 END), 0) AS BIGINT)
               AS pairs_bound
    FROM {sized} s CROSS JOIN (SELECT unnest([{cands}]) AS cap) c
    GROUP BY s.band, c.cap
), {p}caps AS (
    SELECT e.band,
           coalesce(max(CASE WHEN e.pairs_bound <= b.pair_budget
                        THEN e.cap END),
                    min(e.cap)) AS cap
    FROM {p}capev e CROSS JOIN {p}capbudget b
    GROUP BY e.band
)"""


def _mh_sig_sql(p: str = "") -> str:
    cols = ",\n           ".join(
        "list_aggregate(list_transform(tokens, t -> md5('{k}:' || t)), 'min')"
        " AS mh{k}".format(k=k)
        for k in range(_MH_K)
    )
    return f"""
{p}toks AS (
    SELECT doc_id, {_NORM_TOKENS_SQL} AS tokens FROM documents
), {p}sigs AS (
    SELECT doc_id,
           {cols}
    FROM {p}toks
)"""


def _mh_buckets_sql(p: str = "") -> str:
    n_bands = _MH_K // _MH_BAND
    cases = " ".join(
        "WHEN {b} THEN md5({concat})".format(
            b=b,
            concat=" || ".join(f"mh{b * _MH_BAND + r}" for r in range(_MH_BAND)),
        )
        for b in range(n_bands)
    )
    bands_list = "[" + ",".join(str(b) for b in range(n_bands)) + "]"
    return f"""
{p}bucketed AS (
    SELECT doc_id, band, CASE band {cases} END AS bh
    FROM {p}sigs CROSS JOIN (SELECT unnest({bands_list}) AS band) b
), {p}sized AS (
    SELECT band, bh, count(*) AS n FROM {p}bucketed GROUP BY band, bh
), {_caps_sql(f"{p}sized", p)}, {p}cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM {p}bucketed a
    JOIN {p}bucketed b ON a.band = b.band AND a.bh = b.bh
    JOIN {p}sized s ON s.band = a.band AND s.bh = a.bh
    JOIN {p}caps cp ON cp.band = a.band
    WHERE a.doc_id < b.doc_id AND s.n BETWEEN 2 AND cp.cap
)"""


_TREND_K = 10


_JACCARD_EXPR = (
    "len(list_filter(ta.tokens, t -> list_contains(tb.tokens, t)))"
    " / (len(ta.tokens) + len(tb.tokens)"
    " - len(list_filter(ta.tokens, t -> list_contains(tb.tokens, t))))"
)


_CC_CTES = f"""
WITH RECURSIVE {_mh_sig_sql()}, {_mh_buckets_sql()}, jac AS (
    SELECT c.doc_a, c.doc_b
    FROM cand c
    JOIN toks ta ON ta.doc_id = c.doc_a
    JOIN toks tb ON tb.doc_id = c.doc_b
    WHERE round({_JACCARD_EXPR}, 4) >= 0.5
), edges AS MATERIALIZED (
    -- MATERIALIZED: the recursive walk references edges every
    -- iteration; inlined, the whole LSH+jaccard pipeline would
    -- re-execute per recursion step
    SELECT doc_a AS a, doc_b AS b FROM jac
    UNION
    SELECT doc_b, doc_a FROM jac
), verts AS (
    SELECT DISTINCT a AS id FROM edges
), walk(id, label) AS (
    SELECT id, id FROM verts
    UNION
    -- min-label pruning: a label can only be the component minimum
    -- for nodes with larger ids (every node of the component has
    -- id >= the min), so propagating label >= target is dead work;
    -- the true minimum always survives every hop (min < every other
    -- id in its component). Cuts the recursion from all-pairs
    -- reachability to monotone paths (~200s -> seconds at sf0.1).
    SELECT e.b AS id, w.label FROM walk w JOIN edges e ON w.id = e.a
    WHERE w.label < e.b
)"""

_CC_ORACLE = _CC_CTES + """
SELECT id AS doc_id, min(label) AS component_id FROM walk GROUP BY id
"""


# The standing dedup relations (signatures, verified candidates,
# pairs, components, the setsim index): each is built once per
# (session, corpus) and every consumer reads the same localCheckpoint.
_NEARDUP_MEMO: dict = {}


def _standing(spark, sf_dir, name, build):
    """``build()`` localCheckpointed (each member of a tuple on its
    own), memoized per (name, applicationId, sf_dir): the one access
    path of the standing dedup relations. A new session rebuilds
    them."""
    key = (name, spark.sparkContext.applicationId, sf_dir)
    if key not in _NEARDUP_MEMO:
        out = build()
        _NEARDUP_MEMO[key] = (
            tuple(df.localCheckpoint() for df in out)
            if isinstance(out, tuple) else out.localCheckpoint()
        )
    return _NEARDUP_MEMO[key]


def _minhash_sigs(spark, sf_dir):
    """The standing per-corpus MINHASH signature relation (doc_id,
    mh0..mh7) — the round-10 twin of _simhash_sigs: every minhash
    consumer (LSH candidates, jaccard pairs, bucket stats, cap/
    optimize/bloom planners, accuracy calibration) previously paid
    its own tokenize + 8-seed md5 scan; now the signatures are
    computed once per (session, corpus) and shared. bench.py records
    the one-time build in the standing-artifact leg."""
    return _standing(
        spark, sf_dir, "minhash_sigs",
        lambda: dedup.minhash_signature(
            spread_scan(load_table(spark, sf_dir, "documents")),
            num_hashes=_MH_K),
    )


def _cap_decision(spark, sized, docs, keys=("band",)):
    """q_lsh_cap_planner's decision table over a (keys..., n)
    bucket-size relation: for every key × candidate cap, the modeled
    verification-pair fanout (sum n(n-1)/2 over kept buckets), the
    docs/buckets the cap would drop, and the CHOSEN flag — largest
    cap fitting the n_docs × _CAP_PPD pair budget, else the smallest
    candidate. ONE implementation shared by the planner query and
    _lsh_caps (the engaged consumer path), so the grading table and
    the caps the generators actually run can never diverge."""
    caps = spark.createDataFrame(
        [(c,) for c in _CAP_CANDIDATES], "cap int"
    )
    budget = docs.agg(
        (F.count("*") * _CAP_PPD).cast("long").alias("pair_budget")
    )
    ev = (
        sized.crossJoin(F.broadcast(caps))
        .groupBy(*keys, "cap")
        .agg(
            F.sum(F.expr(
                "CASE WHEN n BETWEEN 2 AND cap"
                " THEN n * (n - 1) div 2 ELSE 0 END"
            )).cast("long").alias("pairs_bound"),
            F.sum(F.expr("CASE WHEN n > cap THEN n ELSE 0 END"))
            .cast("long").alias("docs_dropped"),
            F.sum(F.expr("CASE WHEN n > cap THEN 1 ELSE 0 END"))
            .cast("long").alias("buckets_dropped"),
        )
    )
    wb = Window.partitionBy(*keys)
    return (
        ev.crossJoin(F.broadcast(budget))
        .withColumn("fits", F.col("pairs_bound") <= F.col("pair_budget"))
        .withColumn(
            "best_fit",
            F.max(F.when(F.col("fits"), F.col("cap"))).over(wb),
        )
        .withColumn("min_cap", F.min("cap").over(wb))
        .withColumn(
            "chosen",
            F.col("cap") == F.coalesce("best_fit", "min_cap"),
        )
    )


def _lsh_caps(spark, sf_dir, method: str) -> dict:
    """The ENGAGED per-band LSH fanout caps for ``method`` ('minhash'
    or 'simhash'): q_lsh_cap_planner's chosen cap per band, collected
    once per (session, corpus) — ≤ n_bands rows — and consumed by
    every pair generator via dedup.band_cap_col. The identical
    derivation runs inside each consumer's oracle (_caps_sql), so an
    engine/oracle cap divergence is a hash FAIL, not a silent recall
    change. Rides the standing signature artifacts, so deriving the
    caps costs one bucket count-agg, no extra tokenize pass."""
    key = ("lsh_caps", method, spark.sparkContext.applicationId, sf_dir)
    if key in _NEARDUP_MEMO:
        return _NEARDUP_MEMO[key]
    docs = load_table(spark, sf_dir, "documents")
    if method == "minhash":
        sized = (
            dedup.minhash_buckets(
                docs, num_hashes=_MH_K, band_size=_MH_BAND,
                sigs=_minhash_sigs(spark, sf_dir))
            .groupBy("band", "bh").agg(F.count("*").alias("n"))
        )
    else:
        sized = (
            dedup.simhash_buckets(docs, sigs=_simhash_sigs(spark, sf_dir))
            .groupBy("band", "bv").agg(F.count("*").alias("n"))
        )
    dec = _cap_decision(spark, sized.select("band", "n"), docs)
    caps = {
        int(r["band"]): int(r["cap"])
        for r in dec.where(F.col("chosen"))
        .select("band", "cap").collect()
    }
    _NEARDUP_MEMO[key] = caps
    return caps


def _verified_candidates(spark, sf_dir):
    """The exact-Jaccard-VERIFIED engaged-caps candidate relation —
    every capped LSH candidate pair with its exact token-set jaccard
    (threshold=None: no filter; null jaccard kept for empty-token
    degenerates) — computed ONCE per (session, corpus). This is the
    one relation every jaccard threshold derives from by FILTER: the
    ≥0.5 pair relation (_jaccard_pairs), the band planner's S-curve
    input (threshold 0.0 ≡ jaccard not null), and the minhash
    accuracy calibration (all candidates). Before round 12 the band
    planner re-ran the full verification per query — a 3× idle
    regression once the engaged caps grew the candidate family 5.7×;
    now the verification is paid once like every other standing
    relation."""
    caps = _lsh_caps(spark, sf_dir, "minhash")
    return _standing(
        spark, sf_dir, "verified_cands",
        lambda: dedup.ngram_jaccard_pairs(
            spread_scan(load_table(spark, sf_dir, "documents")),
            num_hashes=_MH_K, band_size=_MH_BAND, max_bucket=caps,
            threshold=None, sigs=_minhash_sigs(spark, sf_dir),
        ),
    )


def _jaccard_pairs(spark, sf_dir):
    """Verified near-dup pairs (jaccard ≥ 0.5), computed ONCE per
    (session, corpus) and shared by every consumer (components,
    components-star, materialize, cluster sizes). Since round 12 it
    is a FILTER of the standing verified-candidate relation
    (_verified_candidates) rather than an independent verification
    pass — one exact-Jaccard job per corpus serves every
    threshold."""
    return _standing(
        spark, sf_dir, "pairs",
        lambda: _verified_candidates(spark, sf_dir)
        .where(F.col("jaccard") >= 0.5),
    )


def _standing_setsim_pairs(spark, sf_dir):
    """EXACT prefix-filter pairs WITHIN the standing 80% of the
    corpus (doc_id % 5 != 0) — the previous snapshot's state in the
    incremental-components story, so like _corpus_components it is
    computed once per (session, corpus) and shared;
    q_incremental_components then measures only the true per-ingest
    work (batch pairs + contraction)."""
    return _standing(
        spark, sf_dir, "setsim_standing",
        lambda: dedup.setsim_prefix_join(
            spread_scan(load_table(spark, sf_dir, "documents")
                        .where(F.expr("doc_id % 5 != 0"))),
            threshold_num=3, threshold_den=5,
        ),
    )


def _standing_setsim_components(spark, sf_dir):
    """The standing corpus's component MAP (the other half of the
    previous snapshot's state): connected components over
    _standing_setsim_pairs, computed once per (session, corpus)."""
    return _standing(
        spark, sf_dir, "setsim_comps",
        lambda: dedup.connected_components(
            _standing_setsim_pairs(spark, sf_dir), max_iter=30
        ),
    )


def _standing_setsim_index(spark, sf_dir):
    """The standing similarity-join INDEX over the full corpus —
    shingles, df-ranked prefixes, suffix-filter histogram signatures,
    and verification term arrays (dedup.setsim_index) — the third
    piece of the previous snapshot's state: a continuous-ingest
    deployment appends each batch to these four corpus-linear
    relations rather than re-deriving them per ingest, so the honest
    per-ingest cost is the batch posting join + filter probes +
    candidate-bounded verification only. One derivation builds all
    four (the shingle pass runs once); each is checkpointed on its
    own. bench.py records the one-time build in the standing-artifact
    leg."""
    return _standing(
        spark, sf_dir, "setsim_index",
        lambda: dedup.setsim_index(
            spread_scan(load_table(spark, sf_dir, "documents")),
            threshold_num=3, threshold_den=5,
        ),
    )


def _corpus_components(spark, sf_dir):
    """The near-dup component map (doc_id -> component_id), computed
    once per (session, corpus) and shared — the materialize-once
    design for the relation that q_neardup_materialize,
    dedup_components, q_component_lookup and q_dedup_cluster_sizes
    all consume. The iterative CC runs a single time per session;
    consumers read the checkpointed rows."""
    return _standing(
        spark, sf_dir, "comps",
        lambda: dedup.connected_components(
            _jaccard_pairs(spark, sf_dir), max_iter=30
        ),
    )


# fixed probe ids for the component lookup (exist at every driver
# SF — sf0.001 already has doc_ids 0..499)
_LOOKUP_DOC_IDS = [1, 2, 3, 5, 8, 13, 21, 34, 55, 89]


def _simhash_sql(p: str = "") -> str:
    votes = []
    for b in range(dedup.SIMHASH_BITS):
        votes.append(
            f"CASE WHEN list_sum(list_transform(vals, "
            f"v -> CASE WHEN (v >> {b}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 "
            f"THEN {1 << b} ELSE 0 END"
        )
    sig = " + ".join(votes)
    # len(tokens) > 0: Spark's explode drops zero-token docs from the
    # signature table; without the filter DuckDB would give blank docs
    # signature 0 (NULL vote sum -> ELSE 0 per bit) and pair them.
    return f"""
{p}toks AS (
    SELECT doc_id, {_NORM_TOKENS_SQL} AS tokens FROM documents
), {p}vals_t AS (
    SELECT doc_id,
           list_transform(tokens,
               t -> ('0x' || substr(md5(t), 1, {dedup.SIMHASH_BITS // 4}))::BIGINT) AS vals
    FROM {p}toks
    WHERE len(tokens) > 0
), {p}sigs AS (
    SELECT doc_id, ({sig})::BIGINT AS simhash FROM {p}vals_t
)"""


_SH_PAIRS_SQL = f"""
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
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
FROM scapped a JOIN scapped b ON a.band = b.band AND a.bv = b.bv
WHERE a.doc_id < b.doc_id
  AND bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def _simhash_sigs(spark, sf_dir):
    """The standing per-corpus simhash SIGNATURE relation (doc_id,
    simhash) — the simhash index: like the jaccard pair/setsim
    relations, the signatures are computed once per (session, corpus)
    and every consumer (pair join, bucket-load stats, method
    agreement, recall capture) reuses them; bench.py records the
    one-time build in the standing-artifact leg."""
    return _standing(
        spark, sf_dir, "simhash_sigs",
        lambda: dedup.simhash_signature(
            spread_scan(load_table(spark, sf_dir, "documents"))),
    )


# ===================================================================
# §2.E — similarity search
# ===================================================================

_COS_SQL = (
    # zero-norm guard mirrors the Arrow kernel: cosine vs a zero
    # vector is 0, never NaN (NaN ordering diverges between engines)
    "CASE WHEN list_inner_product(q.embedding::DOUBLE[],"
    " q.embedding::DOUBLE[]) = 0"
    " OR list_inner_product(e.embedding::DOUBLE[],"
    " e.embedding::DOUBLE[]) = 0 THEN 0.0"
    " ELSE list_inner_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[])"
    " / (sqrt(list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))"
    " * sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])))"
    " END"
)


_IVF_C = 16       # coarse centroids (first-C seed set, deterministic)
_IVF_NPROBE = 4   # posting lists scanned per query → ~1/4 scan fraction
_IVF_PROBE_FLOOR = 800   # permille; measured 920/920/1000 at the 3 SFs
_IVF_SIGN_FLOOR = 100    # permille; measured 160/200/160 — the cheap
                         # baseline's documented (weak) recall bound

_IVF_ASSIGN_COS = (
    "CASE WHEN list_inner_product(e.embedding::DOUBLE[],"
    " e.embedding::DOUBLE[]) = 0"
    " OR list_inner_product(c.cv::DOUBLE[], c.cv::DOUBLE[]) = 0 THEN 0.0"
    " ELSE list_inner_product(e.embedding::DOUBLE[], c.cv::DOUBLE[])"
    " / (sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))"
    " * sqrt(list_inner_product(c.cv::DOUBLE[], c.cv::DOUBLE[]))) END"
)

_IVF_PAIR_COS = (
    "CASE WHEN list_inner_product(p.qv::DOUBLE[], p.qv::DOUBLE[]) = 0"
    " OR list_inner_product(e.embedding::DOUBLE[],"
    " e.embedding::DOUBLE[]) = 0 THEN 0.0"
    " ELSE list_inner_product(p.qv::DOUBLE[], e.embedding::DOUBLE[])"
    " / (sqrt(list_inner_product(p.qv::DOUBLE[], p.qv::DOUBLE[]))"
    " * sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])))"
    " END"
)

# shared CTE block: centroid assignment + query probe lists + the
# probe-IVF and sign-IVF approximate top-5s + the exact top-5
_IVF_CTES = f"""
cents AS (
    SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings
    WHERE vec_id < {_IVF_C}
), cscored AS (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round({_IVF_ASSIGN_COS}, 4) DESC,
                                       c.centroid_id) AS rn
    FROM embeddings e, cents c
), assign AS (
    SELECT vec_id, centroid_id FROM cscored WHERE rn = 1
), probes AS (
    SELECT vec_id AS query_id, embedding AS qv, centroid_id
    FROM cscored WHERE rn <= {_IVF_NPROBE} AND vec_id < 5
), ap_probe AS (
    SELECT query_id, vec_id, cosine, rank FROM (
        SELECT p.query_id, a.vec_id,
               round({_IVF_PAIR_COS}, 4) AS cosine,
               row_number() OVER (PARTITION BY p.query_id
                                  ORDER BY round({_IVF_PAIR_COS}, 4) DESC,
                                           a.vec_id) AS rank
        FROM probes p JOIN assign a USING (centroid_id)
        JOIN embeddings e ON e.vec_id = a.vec_id
        WHERE a.vec_id <> p.query_id
    ) WHERE rank <= 5
)"""


# ===================================================================
# §2.F — text analysis
# ===================================================================

def _stop_sql(lang: str) -> str:
    return (
        "len(regexp_extract_all(lower(text), '\\b("
        + "|".join(ta.STOPWORDS[lang])
        + ")\\b'))"
    )


_SLA_DAYS = 10


_EQD_B = 16


_FP_N = 4


_HOP_SIZE_US = 10 * 60 * 1_000_000
_HOP_STEP_US = 5 * 60 * 1_000_000


_GAP_US = 3600 * 1_000_000


_TRAIL_US = 10 * 60 * 1_000_000


# ===================================================================
# §2.G — multimodal. A REAL deployment's decode (PIL/ffmpeg) has no
# SQL oracle — but these pipelines run on deterministically
# synthesized blobs (content = md5 bytes of the path), so the decode
# stub's byte arithmetic IS SQL-expressible, and the oracle hash-
# gates the entire mapInPandas plumbing end to end: Arrow batch
# iteration delivering exactly the right bytes per row, the typed
# output schema, the flatMap row fanout, and the stub math itself.
# ===================================================================

_MM_INV_CTE = f"""{_CHARTS_CTE}, inv AS (
    SELECT doc_id, image_path FROM charts_f WHERE doc_id < 100
)"""


# --------------------------------------------------------------- partsupp
# The testdata schema has no partsupp table (so TPC-H Q2/Q11/Q20 were
# previously out of reach). Derive one DETERMINISTICALLY from the part
# and supplier keys with pure integer arithmetic — both engines compute
# the identical relation, so the oracle protocol still holds:
#   suppliers of part p: (p + k*max(S//4,1)) % S  for k in 0..3
#   ps_availqty        = (p*7  + s*13) % 9999  + 1
#   ps_supplycost_cents= (p*31 + s*17) % 20000 + 100   (integer cents)
# This mirrors TPC-H's own modular partsupp generator (dbgen assigns
# each part 4 suppliers by wrapping the key space). Costs stay in
# integer cents end-to-end; money outputs divide by 100.0 only at the
# final projection.

PARTSUPP_CTE = """
ps_keys AS (
    SELECT p.p_partkey AS ps_partkey,
           (p.p_partkey + k.k * greatest((SELECT count(*) FROM supplier) // 4, 1))
               % (SELECT count(*) FROM supplier) AS ps_suppkey
    FROM part p, (SELECT unnest(generate_series(0, 3)) AS k) k
    GROUP BY 1, 2
), partsupp AS (
    SELECT ps_partkey, ps_suppkey,
           (ps_partkey * 7 + ps_suppkey * 13) % 9999 + 1 AS ps_availqty,
           (ps_partkey * 31 + ps_suppkey * 17) % 20000 + 100
               AS ps_supplycost_cents
    FROM ps_keys
)"""


def _partsupp(spark, sf_dir) -> DataFrame:
    """Derived partsupp relation (see PARTSUPP_CTE). 4 rows per part;
    the supplier count arrives as a 1-row broadcast, so generation is
    one narrow pass over part — no shuffle until a consumer asks."""
    part = load_table(spark, sf_dir, "part")
    n_supp = load_table(spark, sf_dir, "supplier").agg(
        F.count("*").alias("n_supp")
    )
    step = F.greatest((F.col("n_supp") / 4).cast("long"), F.lit(1))
    return (
        part.select("p_partkey")
        .crossJoin(F.broadcast(n_supp))
        .select(
            "p_partkey",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("k"),
            "n_supp",
        )
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            ((F.col("p_partkey") + F.col("k") * step) % F.col("n_supp"))
                .alias("ps_suppkey"),
        )
        .distinct()
        .withColumn(
            "ps_availqty",
            (F.col("ps_partkey") * 7 + F.col("ps_suppkey") * 13) % 9999 + 1,
        )
        .withColumn(
            "ps_supplycost_cents",
            (F.col("ps_partkey") * 31 + F.col("ps_suppkey") * 17) % 20000
            + 100,
        )
    )


_CONTAM_N, _CONTAM_MOD = 5, 25


_MH_AGREE = " + ".join(
    f"(CASE WHEN sa.mh{k} = sb.mh{k} THEN 1 ELSE 0 END)"
    for k in range(_MH_K)
)


_WEEK_US = 7 * 24 * 3600 * 1_000_000


# ===================================================================
# round 3 — training-data writer sharding + incremental maintenance
# ===================================================================

SHARD_TOKENS = 2048
SHARD_BUCKET = 100  # doc_id range per prefix-sum leaf


RJ_WINDOW_US = 60_000_000  # ±60 s context window


_SKETCH_EPS = 0.01  # approx_percentile accuracy=100 → rank error ≤ 1%


_DAY_US = 86_400_000_000


# k1/b chosen exactly binary-representable (1.25 = 5/4, 0.75 = 3/4):
# every literal in the score expression converts to the identical
# double in Spark and DuckDB, so the whole per-row chain is
# engine-identical IEEE arithmetic (the protocol's parity rule).
BM25_K1 = 1.25
BM25_B = 0.75
BM25_TERMS = ("join", "hash", "vector", "filter")


_SEMDEDUP_TAU = 0.3
# k is DERIVED from corpus size: ceil(n / target_pop) — constant
# expected cluster population at any scale (dedup.SEMDEDUP_TARGET_POP;
# the oracle computes the identical k via the scalar subquery below)
_SEMDEDUP_K_SQL = (
    f"(SELECT GREATEST(1, (count(*) + {dedup.SEMDEDUP_TARGET_POP - 1})"
    f" // {dedup.SEMDEDUP_TARGET_POP}) FROM embeddings)"
)

# inline cosine with the zero-norm guard (same contract as _COS_SQL,
# re-aliased for the x/y pair join)
_PAIR_COS_SQL = (
    "CASE WHEN list_inner_product(x.embedding::DOUBLE[],"
    " x.embedding::DOUBLE[]) = 0"
    " OR list_inner_product(y.embedding::DOUBLE[],"
    " y.embedding::DOUBLE[]) = 0 THEN 0.0"
    " ELSE list_inner_product(x.embedding::DOUBLE[], y.embedding::DOUBLE[])"
    " / (sqrt(list_inner_product(x.embedding::DOUBLE[],"
    " x.embedding::DOUBLE[]))"
    " * sqrt(list_inner_product(y.embedding::DOUBLE[],"
    " y.embedding::DOUBLE[]))) END"
)

_ASSIGN_COS_SQL = (
    "CASE WHEN list_inner_product(e.embedding::DOUBLE[],"
    " e.embedding::DOUBLE[]) = 0"
    " OR list_inner_product(c.cv::DOUBLE[], c.cv::DOUBLE[]) = 0"
    " THEN 0.0"
    " ELSE list_inner_product(e.embedding::DOUBLE[], c.cv::DOUBLE[])"
    " / (sqrt(list_inner_product(e.embedding::DOUBLE[],"
    " e.embedding::DOUBLE[]))"
    " * sqrt(list_inner_product(c.cv::DOUBLE[], c.cv::DOUBLE[]))) END"
)


_DSIR_MOD = 17
_DSIR_B = 256


_DSIR_ORACLE = rf"""
WITH toks AS (
    SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS term
    FROM documents
), feat AS (
    SELECT doc_id,
           ('0x' || substr(md5(term), 1, 4))::INT % {_DSIR_B} AS bucket,
           count(*) AS tf
    FROM toks GROUP BY 1, 2
), raw_cnt AS (
    SELECT bucket, CAST(sum(tf) AS BIGINT) AS c_r FROM feat GROUP BY 1
), tgt_cnt AS (
    SELECT bucket, CAST(sum(tf) AS BIGINT) AS c_t FROM feat
    WHERE doc_id % {_DSIR_MOD} = 0 GROUP BY 1
), tot AS (
    SELECT CAST(sum(tf) AS BIGINT) AS t_r,
           CAST(sum(CASE WHEN doc_id % {_DSIR_MOD} = 0 THEN tf
                         ELSE 0 END) AS BIGINT) AS t_t
    FROM feat
), ratio AS (
    SELECT r.bucket,
           round(ln((coalesce(t.c_t, 0) + 1)
                    / (tot.t_t + {_DSIR_B})::DOUBLE)
                 - ln((r.c_r + 1) / (tot.t_r + {_DSIR_B})::DOUBLE),
                 6) AS lr
    FROM raw_cnt r LEFT JOIN tgt_cnt t USING (bucket), tot
)
SELECT f.doc_id,
       CAST(sum(f.tf) AS BIGINT) AS n_tokens,
       (sum(f.tf * ratio.lr::DECIMAL(18,6)) * 1000000)::BIGINT
           AS dsir_micro_nats,
       (f.doc_id % {_DSIR_MOD} = 0) AS is_target
FROM feat f JOIN ratio USING (bucket)
GROUP BY f.doc_id
"""


_HLL_RSD = 0.05
_HLL_BOUND = 0.15  # 3× the requested rsd — generous, never flaky


_BPE_TOPK = 30


_PROFILE_COLS = ("doc_id", "text", "lang", "source", "n_chars")


# ===================================================================
# §2.H+ — sketch structures with measured contracts (round 5)
# ===================================================================

_CMS_D = 4
_CMS_W = 256
_CMS_TOP = 20

_CMS_SEEDS_SQL = "(SELECT unnest([0, 1, 2, 3]) AS seed)"


_BLOOM_BITS = 4096
_BLOOM_K = 3
_BLOOM_MOD = 97           # build side: custkeys ≡ 0 (mod 97)
_BLOOM_FP_PERMILLE = 20   # measured ≲ 2‰ at the three SFs; 10× margin

_BLOOM_SEEDS_SQL = "(SELECT unnest([0, 1, 2]) AS seed)"


_INC_MOD = 10  # batch = doc_id ≡ 0 (mod 10); corpus = the rest


_CONT_TAU = 0.8


_SPARSE_DF_MIN, _SPARSE_DF_MAX, _SPARSE_K = 2, 20, 3


_RL_CAP_MICRO = 3_000_000
_RL_DIV = 3_600


_SPAN_K = 12  # exact-substring granularity (tokens), Lee et al. 2021 style


# Benford expected first-digit shares, round(log10(1+1/d)*1e6):
# identical literal table on both sides (no engine-side log10).
_BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


_PR_ITERS = 3

_PR_ORACLE = """
WITH toks AS (
    SELECT DISTINCT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS ent
    FROM documents
), edges AS (
    SELECT DISTINCT a.ent AS src, b.ent AS dst
    FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND a.ent <> b.ent
), nodes AS (
    SELECT src AS ent FROM edges UNION SELECT dst FROM edges
), deg AS (
    SELECT src, count(*)::BIGINT AS deg FROM edges GROUP BY 1
),
r0 AS (SELECT ent, 1000000::BIGINT AS r FROM nodes),
r1 AS (
    SELECT n.ent,
           (150000 + coalesce(sum((p.r * 850000) // (1000000 * d.deg)), 0))::BIGINT AS r
    FROM nodes n
    LEFT JOIN edges e ON e.dst = n.ent
    LEFT JOIN r0 p ON p.ent = e.src
    LEFT JOIN deg d ON d.src = e.src
    GROUP BY n.ent
),
r2 AS (
    SELECT n.ent,
           (150000 + coalesce(sum((p.r * 850000) // (1000000 * d.deg)), 0))::BIGINT AS r
    FROM nodes n
    LEFT JOIN edges e ON e.dst = n.ent
    LEFT JOIN r1 p ON p.ent = e.src
    LEFT JOIN deg d ON d.src = e.src
    GROUP BY n.ent
),
r3 AS (
    SELECT n.ent,
           (150000 + coalesce(sum((p.r * 850000) // (1000000 * d.deg)), 0))::BIGINT AS r
    FROM nodes n
    LEFT JOIN edges e ON e.dst = n.ent
    LEFT JOIN r2 p ON p.ent = e.src
    LEFT JOIN deg d ON d.src = e.src
    GROUP BY n.ent
)
SELECT n.ent, coalesce(d2.deg, 0)::BIGINT AS degree,
       r3.r::BIGINT AS pagerank_micro
FROM nodes n
JOIN r3 ON r3.ent = n.ent
LEFT JOIN deg d2 ON d2.src = n.ent
"""


_JCE_BUCKETS = 256


_CKSUM_MOD = 1_000_000_000_000_000_000


_DAY_US = 86_400_000_000


_HIST_BIN = 50.0  # equi-width bin size for event value


_WM_BUCKET = 1_000  # arrival-sequence bucket for the two-level prefix-max


_ZIPF_TOP = 500


# Wilson 95% interval, z = 1.96: ONE formula string parsed by BOTH
# engines (Spark via F.expr, DuckDB verbatim) — identical expression
# tree, and +,*,/,sqrt are all IEEE-correctly-rounded, so the doubles
# match bit for bit before the final 6-dp presentation rounding.
# Every literal is CAST to DOUBLE explicitly: both engines type bare
# decimal literals as DECIMAL, with DIFFERENT promotion rules —
# decimal intermediate rounding diverged at the 5th decimal place
# until the whole tree was forced into IEEE doubles.
_D = "cast({} as double)".format
_WILSON_Z2 = _D("3.8416")  # z² for z = 1.96
_WILSON_P = f"(x * {_D('1.0')} / n)"
_WILSON_RATE = f"round({_WILSON_P}, 6)"
_WILSON_SQ = (
    f"sqrt({_WILSON_P} * ({_D('1.0')} - {_WILSON_P}) / n"
    f" + {_WILSON_Z2} / ({_D('4.0')} * n * n))"
)
_WILSON_LO = (
    f"round(({_WILSON_P} + {_WILSON_Z2} / ({_D('2.0')} * n)"
    f" - {_D('1.96')} * {_WILSON_SQ})"
    f" / ({_D('1.0')} + {_WILSON_Z2} / n), 6)"
)
_WILSON_HI = (
    f"round(({_WILSON_P} + {_WILSON_Z2} / ({_D('2.0')} * n)"
    f" + {_D('1.96')} * {_WILSON_SQ})"
    f" / ({_D('1.0')} + {_WILSON_Z2} / n), 6)"
)


_WSAMPLE_K = 50
_U52 = float(1 << 52)


_DOMAIN_CAP = 20


_DECAY_H = 29  # max age with non-zero weight; weights 2^0 .. 2^29


def _zorder_oracle():
    from ..operators.layout import interleave_bits_sql

    zsql = interleave_bits_sql("xq", "yq", 8)
    return f"""
WITH o AS (
    SELECT o_custkey AS ck, epoch_us(o_orderdate) // {_DAY_US} AS day
    FROM orders
), b AS (
    SELECT min(ck) AS ckl, max(ck) AS ckh,
           min(day) AS dl, max(day) AS dh
    FROM o
), n AS (
    SELECT ck, day,
           ((ck - ckl) * 255) // greatest(ckh - ckl, 1) AS xq,
           ((day - dl) * 255) // greatest(dh - dl, 1) AS yq
    FROM o, b
), z AS (
    SELECT ck, day, yq, {zsql} AS zv FROM n
), assigned AS (
    SELECT 'zorder' AS layout, zv // 1024 AS file_id, ck, day FROM z
    UNION ALL
    SELECT 'linear', yq // 4, ck, day FROM z
), stats AS (
    SELECT layout, CAST(file_id AS BIGINT) AS file_id,
           count(*)::BIGINT AS n_rows,
           min(ck)::BIGINT AS min_ck, max(ck)::BIGINT AS max_ck,
           min(day)::BIGINT AS min_day, max(day)::BIGINT AS max_day
    FROM assigned GROUP BY 1, 2
), box AS (
    SELECT ckl + (ckh - ckl) * 2 // 5 AS blo_ck,
           ckl + (ckh - ckl) * 3 // 5 AS bhi_ck,
           dl + (dh - dl) * 2 // 5 AS blo_d,
           dl + (dh - dl) * 3 // 5 AS bhi_d
    FROM b
)
SELECT layout, file_id, n_rows, min_ck, max_ck, min_day, max_day,
       (min_ck <= bhi_ck AND max_ck >= blo_ck
        AND min_day <= bhi_d AND max_day >= blo_d) AS scan_hit
FROM stats, box
"""


def _zorder3_oracle():
    from ..operators.layout import interleave_bits_nd_sql

    z3 = interleave_bits_nd_sql(["xq", "yq", "wq"], 8)
    z2 = interleave_bits_nd_sql(["xq", "yq"], 8)
    return f"""
WITH o AS (
    SELECT o_custkey AS ck, epoch_us(o_orderdate) // {_DAY_US} AS day,
           CAST(floor(o_totalprice * 100) AS BIGINT) AS pc
    FROM orders
), b AS (
    SELECT min(ck) AS ckl, max(ck) AS ckh,
           min(day) AS dl, max(day) AS dh,
           min(pc) AS pl, max(pc) AS ph
    FROM o
), n AS (
    SELECT ck, day, pc,
           ((ck - ckl) * 255) // greatest(ckh - ckl, 1) AS xq,
           ((day - dl) * 255) // greatest(dh - dl, 1) AS yq,
           ((pc - pl) * 255) // greatest(ph - pl, 1) AS wq
    FROM o, b
), z AS (
    SELECT ck, day, pc, yq, {z3} AS zv3, {z2} AS zv2 FROM n
), assigned AS (
    SELECT 'zorder3' AS layout, zv3 // 262144 AS file_id, ck, day, pc
    FROM z
    UNION ALL
    SELECT 'zorder2', zv2 // 1024, ck, day, pc FROM z
    UNION ALL
    SELECT 'linear', yq // 4, ck, day, pc FROM z
), stats AS (
    SELECT layout, CAST(file_id AS BIGINT) AS file_id,
           count(*)::BIGINT AS n_rows,
           min(ck)::BIGINT AS min_ck, max(ck)::BIGINT AS max_ck,
           min(day)::BIGINT AS min_day, max(day)::BIGINT AS max_day,
           min(pc)::BIGINT AS min_pc, max(pc)::BIGINT AS max_pc
    FROM assigned GROUP BY 1, 2
), box AS (
    SELECT ckl + (ckh - ckl) * 2 // 5 AS blo_ck,
           ckl + (ckh - ckl) * 3 // 5 AS bhi_ck,
           dl + (dh - dl) * 2 // 5 AS blo_d,
           dl + (dh - dl) * 3 // 5 AS bhi_d,
           pl + (ph - pl) * 2 // 5 AS blo_p,
           pl + (ph - pl) * 3 // 5 AS bhi_p
    FROM b
)
SELECT layout, file_id, n_rows,
       min_ck, max_ck, min_day, max_day, min_pc, max_pc,
       (min_ck <= bhi_ck AND max_ck >= blo_ck
        AND min_day <= bhi_d AND max_day >= blo_d
        AND min_pc <= bhi_p AND max_pc >= blo_p) AS scan_hit
FROM stats, box
"""


_SAMPLE_K = 100


_KANON_K = 5


_LDIV_L = 3


_PATH_STEPS = 5
_PATH_TOPK = 20


_BASKET_TOPK = 20


# Shared experiment-split pipeline (ONE definition per engine): the
# md5(user_id || ':exp1') arm assignment and per-arm (n, x) counts
# consumed by BOTH q_ab_split_audit (balance) and q_ab_lift_test
# (significance) — the lift test must measure exactly the arms the
# audit balances, so the split lives in one place per engine.
_AB_ARMS_SQL = """assign AS (
    SELECT user_id,
           CASE WHEN (CAST(('0x' || substring(
                    md5(CAST(user_id AS VARCHAR) || ':exp1'), 1, 8))
                    AS BIGINT) % 2) = 0
                THEN 'A' ELSE 'B' END AS arm
    FROM (SELECT DISTINCT user_id FROM events)
), conv AS (
    SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
), arms AS (
    SELECT a.arm, count(*)::BIGINT AS n,
           sum(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
               AS x
    FROM assign a LEFT JOIN conv c ON c.user_id = a.user_id
    GROUP BY 1
)"""


def _ab_arms_assign(spark, sf_dir):
    """The md5 user->arm assignment relation (user_id, arm) shared by
    every experimentation query (the Spark twin of _AB_ARMS_SQL's
    `assign` CTE)."""
    ev = load_table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    return users.select(
        "user_id",
        F.when(
            F.expr(
                "cast(conv(substring(md5(concat(cast(user_id as string),"
                " ':exp1')), 1, 8), 16, 10) as bigint) % 2"
            ) == 0,
            "A",
        ).otherwise("B").alias("arm"),
    )


def _ab_arms(spark, sf_dir):
    """The Spark twin of _AB_ARMS_SQL: (arm, n, x) per experiment arm."""
    ev = load_table(spark, sf_dir, "events")
    assign = _ab_arms_assign(spark, sf_dir)
    conv = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id").distinct().withColumn("_c", F.lit(1))
    )
    return (
        assign.join(conv, "user_id", "left")
        .groupBy("arm")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.coalesce(F.col("_c"), F.lit(0)))
            .cast("long").alias("x"),
        )
    )


# order-statistic rank bounds for the distribution-free median CI
# (normal approximation to the binomial(n, 1/2) order ranks) — the
# same cast-everything shared-string protocol
_MCI_LO = (
    "cast(greatest(floor((cast(n as double)"
    " - cast(1.96 as double) * sqrt(cast(n as double)))"
    " / cast(2.0 as double)), cast(1.0 as double)) as bigint)"
)
_MCI_HI = (
    "cast(least(ceil(cast(1.0 as double) + (cast(n as double)"
    " + cast(1.96 as double) * sqrt(cast(n as double)))"
    " / cast(2.0 as double)), cast(n as double)) as bigint)"
)


# two-proportion z statistic: ONE cast-everything double formula
# string parsed by both engines (the Wilson protocol — bare decimal
# literals type as DECIMAL with engine-specific promotion)
_ABZ = (
    "round((xa * cast(1.0 as double) / na"
    " - xb * cast(1.0 as double) / nb)"
    " / sqrt(((xa + xb) * cast(1.0 as double) / (na + nb))"
    "        * (cast(1.0 as double)"
    "           - (xa + xb) * cast(1.0 as double) / (na + nb))"
    "        * (cast(1.0 as double) / na + cast(1.0 as double) / nb)"
    "        + cast(1e-300 as double)), 6)"
)


_OOV_V = 1000


_BURST_TOPK = 50


_HEAPS_CHECKPOINTS = 10


_NOVEL_N = 5


# ===================================================================
# §2.C/F continuation (round-7 session 2, batch F) — rank fusion /
# robust trend / graph assortativity / windowed funnel
# ===================================================================

_RRF_K = 60       # Cormack et al.'s constant
_RRF_LIST = 200   # per-list depth (RRF is defined over top-k lists)
_RRF_TOPK = 50


_FUNNEL_W_US = 3600 * 1_000_000


# ===================================================================
# §2.F/C continuation (round-7 session 2, batch H) — NB classifier /
# DP counts / Lorenz curve / RAKE keywords
# ===================================================================


_NB_CTES = r"""toks AS (
    SELECT doc_id, lang,
           unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
    FROM documents
), dt AS (
    SELECT doc_id, lang AS true_lang, tok, count(*)::BIGINT AS m
    FROM toks GROUP BY 1, 2, 3
), dlen AS (
    SELECT doc_id, sum(m)::BIGINT AS len FROM dt GROUP BY 1
), model AS (
    SELECT lang, tok, count(*)::BIGINT AS c FROM toks GROUP BY 1, 2
), lt AS (
    SELECT lang, sum(c)::BIGINT AS t_l FROM model GROUP BY 1
), vocab AS (
    SELECT count(DISTINCT tok)::BIGINT AS v FROM toks
), priors AS (
    SELECT lang, count(*)::BIGINT AS nd FROM documents GROUP BY 1
), nn AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
params AS (
    SELECT l.lang, l.t_l, p.nd, n.n_docs, vb.v,
           round(ln(p.nd::DOUBLE / n.n_docs), 6) AS prior6,
           round(ln(CAST(1.0 AS DOUBLE) / (l.t_l + vb.v)), 6) AS ll0
    FROM lt l JOIN priors p USING (lang), nn n, vocab vb
), matched AS (
    SELECT d.doc_id, mo.lang,
           sum(d.m * round(ln((mo.c + CAST(1.0 AS DOUBLE))
                              / (pa.t_l + pa.v)), 6)
                   ::DECIMAL(18,6)) AS s_match,
           sum(d.m)::BIGINT AS m_matched
    FROM dt d JOIN model mo USING (tok)
    JOIN params pa ON pa.lang = mo.lang
    GROUP BY 1, 2
), scores AS (
    SELECT dl.doc_id, pa.lang,
           coalesce(ma.s_match, 0::DECIMAL(18,6))
             + (dl.len - coalesce(ma.m_matched, 0))
                 * pa.ll0::DECIMAL(18,6)
             + pa.prior6::DECIMAL(18,6) AS score
    FROM dlen dl CROSS JOIN params pa
    LEFT JOIN matched ma
      ON ma.doc_id = dl.doc_id AND ma.lang = pa.lang
), pred AS (
    SELECT s.doc_id, s.lang AS pred_lang
    FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                       ORDER BY score DESC, lang) AS r
        FROM scores
    ) s WHERE s.r = 1
)"""


_DP_EPS_MILLI = 1000  # epsilon = 1.0


_RAKE_STOP = 20
_RAKE_TOPK = 50


_HURST_WINDOWS = (5, 10, 15, 30)


_KN_D = 0.75
# e-notation form for BOTH engine texts: bare `0.75` types as DECIMAL
# in Spark so (c - 0.75) / c1 becomes decimal division (engine-
# divergent result scale; the q_gumbel_maxima class) — `0.75e0` is
# DOUBLE in Spark and DuckDB alike.
_KN_D_SQL = "0.75e0"
_KN_TOPK = 100


# ===================================================================
# §2.C/F continuation (round-7 session 2, batch N) — t-closeness /
# assortment coverage / price dispersion / power analysis
# ===================================================================

_TCLOSE_T_PPM = 200_000  # t = 0.2


_COVERAGE_KS = (100, 1000, 10000)


_GUMBEL_GAMMA = 0.5772156649
_GUMBEL_RET_BLOCKS = 52
# ln(-ln(1 - 1/T)) precomputed in Python doubles and interpolated into
# BOTH engine texts: writing the expression inline types `1.0 - 1.0/52`
# as DECIMAL(8,6) in Spark (lnln -3.941538) vs double in DuckDB
# (-3.941550) — the q_conversion_wilson bare-literal class. One shared
# 6dp literal keeps the composed return level bit-identical.
_GUMBEL_LNLN = round(math.log(
    -math.log(1.0 - 1.0 / _GUMBEL_RET_BLOCKS)), 6)


def _kappa_pred_sql() -> str:
    g = "greatest(hits_de, hits_en, hits_es, hits_fr)"
    return f"""
kp_scored AS (
    SELECT lang,
           {_stop_sql('de')} AS hits_de,
           {_stop_sql('en')} AS hits_en,
           {_stop_sql('es')} AS hits_es,
           {_stop_sql('fr')} AS hits_fr
    FROM documents
), kp_pred AS (
    SELECT lang,
           CASE WHEN {g} = 0 THEN 'und'
                WHEN hits_de = {g} THEN 'de'
                WHEN hits_en = {g} THEN 'en'
                WHEN hits_es = {g} THEN 'es'
                ELSE 'fr' END AS pred_lang
    FROM kp_scored
), kp_conf AS (
    SELECT lang, pred_lang, count(*)::BIGINT AS n
    FROM kp_pred GROUP BY 1, 2
)"""


_STUMP_CAP = 200


_LSH_PLAN_CONFIGS = ((4, 32), (8, 16), (16, 8), (32, 4), (64, 2))

_WOW_WEEK_US = 7 * _DAY_US


_COV_CTE = """
ec_vals AS (
    SELECT e.vec_id, (i.i - 1)::BIGINT AS i, (e.embedding[i.i])::DOUBLE AS v
    FROM embeddings e,
         unnest(generate_series(1, len(e.embedding))) AS i(i)
), ec_sums AS (
    SELECT i, sum(v::DECIMAL(28,12)) AS s FROM ec_vals GROUP BY i
), ec_nn AS (
    SELECT count(*)::DOUBLE AS n FROM embeddings
), ec_prods AS (
    SELECT a.i AS i, b.i AS j,
           sum((a.v * b.v)::DECIMAL(28,12)) AS sij
    FROM ec_vals a JOIN ec_vals b ON a.vec_id = b.vec_id AND a.i <= b.i
    GROUP BY 1, 2
), ec_cov AS (
    SELECT p.i, p.j,
           round(((p.sij::DOUBLE)
                  - (sa.s::DOUBLE) * (sb.s::DOUBLE) / nn.n) / (nn.n - 1), 6)
               + 0.0 AS cov
    FROM ec_prods p
    JOIN ec_sums sa ON sa.i = p.i
    JOIN ec_sums sb ON sb.i = p.j, ec_nn nn
)"""


_BOOT_B = 200
_POIS_CDF = (
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238463", "0.9963401531726563", "0.9994058151824183",
    "0.999916758850712", "0.9999897508033253", "0.999998874797402",
)

def _pois_w(u: str) -> str:
    """Inverse-CDF Poisson(1) draw from a uniform expression."""
    cases = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS_CDF)
    )
    return f"CASE {cases} ELSE {len(_POIS_CDF)} END"


_BLOOM_PLAN_MPN = (8, 10, 12, 16)

_AB_ASSIGN_SQL = """ab_assign AS (
    SELECT user_id,
           CASE WHEN (CAST(('0x' || substring(
                    md5(CAST(user_id AS VARCHAR) || ':exp1'), 1, 8))
                    AS BIGINT) % 2) = 0
                THEN 'A' ELSE 'B' END AS arm
    FROM (SELECT DISTINCT user_id FROM events)
)"""

_SMD_COV = (
    ("n_events", "cnt"),
    ("total_cents", "cents"),
    ("active_days", "days"),
)

def _smd_sql(c: str) -> str:
    """Identical-composition SMD expression over per-arm (n, s, q)."""
    mean = "CAST({a}s_%s AS DOUBLE) / {a}n" % c
    var = ("(CAST({a}n AS DOUBLE) * CAST({a}q_%s AS DOUBLE)"
           " - CAST({a}s_%s AS DOUBLE) * CAST({a}s_%s AS DOUBLE))"
           " / (CAST({a}n AS DOUBLE) * ({a}n - 1))") % (c, c, c)
    ma, mb = mean.format(a="a_"), mean.format(a="b_")
    va, vb = var.format(a="a_"), var.format(a="b_")
    return (f"round(({ma} - {mb})"
            f" / sqrt(({va} + {vb}) / 2), 4)")


_GAINS_CAP = 200


_XCORR_MAX_LAG = 7


_PART_TARGET_MB = 128

_RBO_K, _RBO_P = 50, 0.9


_SHAP_F1_MIN, _SHAP_F2_MIN = 67, 27


_TIER_HIGH, _TIER_MED = 38, 30


_TTR_BAND_W, _TTR_BAND_CAP = 50, 20


_NEYMAN_BUDGET = 1000

_PQ_SUBS, _PQ_SDIM, _PQ_K = 8, 8, 16


_RING_SHARDS, _RING_REPLICAS = 8, 32
_RING_SPACE = 4294967296

# SPRT boundaries ln((1-b)/a)=ln(16), ln(b/(1-a))=ln(0.2/0.95)
# precomputed in Python doubles and interpolated into BOTH engine
# texts: inline `0.2 / 0.95` is DECIMAL/DECIMAL division whose result
# scale differs per engine (the q_gumbel_maxima bare-literal class —
# it hash-passed only by coincidence of decimal scale).
_SPRT_UPPER = round(math.log(16.0), 4)
_SPRT_LOWER = round(math.log(0.2 / 0.95), 4)


_ATTR_WINDOW_US = 7 * 86_400_000_000


# Zelen & Severo (A&S 26.2.17) normal tail approximation, |eps| < 7.5e-8
# — shared TEXTUALLY between the Spark plan and the DuckDB oracle so
# both engines compose the identical IEEE double expression; the one
# genuinely engine-varying transcendental (exp) is rounded 6dp first.
_PHI_TAIL = (
    "(round(exp(-(({z}) * ({z})) / 2.0e0), 6) * 0.3989422804014327"
    " * ((((1.330274429 * {t} - 1.821255978) * {t} + 1.781477937)"
    " * {t} - 0.356563782) * {t} + 0.319381530) * {t})"
).format(z="az", t="(1.0e0 / (1.0e0 + 0.2316419 * az))")

_BH_Z = ("CASE WHEN xa + xb = 0 OR xa + xb = na + nb THEN 0.0 ELSE"
         " (CAST(xb AS DOUBLE) / nb - CAST(xa AS DOUBLE) / na)"
         " / sqrt((CAST(xa + xb AS DOUBLE) / (na + nb))"
         " * (1.0 - CAST(xa + xb AS DOUBLE) / (na + nb))"
         " * (1.0e0 / na + 1.0e0 / nb)) END")


# CUPED z/lift composition shared textually with the oracle: every
# input is an exact BIGINT sum, so each derived double is ONE
# identically-composed IEEE expression on both engines.
_CUPED_THETA = ("((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
                " / (CAST(n AS DOUBLE) * sxx"
                " - CAST(sx AS DOUBLE) * sx))")
_CUPED_RAW = ("(CAST(syb AS DOUBLE) / nb - CAST(sya AS DOUBLE) / na)")
_CUPED_ADJ = (f"({_CUPED_RAW} - {_CUPED_THETA}"
              " * (CAST(sxb AS DOUBLE) / nb"
              " - CAST(sxa AS DOUBLE) / na))")
_CUPED_RHO2 = ("((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
               " * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
               " / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
               " * (CAST(n AS DOUBLE) * syy"
               " - CAST(sy AS DOUBLE) * sy)))")


_SURP_Z = ("((CAST(sv_s AS DOUBLE) / n_s - CAST(sv AS DOUBLE) / n)"
           " / sqrt((CAST(svv AS DOUBLE)"
           " - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / n)"
           " / n / n_s))")


def _ivf_curve_cte(np_val: int) -> str:
    """Per-nprobe candidate + top-5 CTEs for the recall/cost curve
    (names suffixed _n{np} so three instances coexist in one WITH)."""
    return f"""
cand_n{np_val} AS (
    SELECT p.query_id, a.vec_id, round({_IVF_PAIR_COS}, 4) AS cosine
    FROM (SELECT vec_id AS query_id, embedding AS qv, centroid_id
          FROM cscored WHERE rn <= {np_val} AND vec_id < 5) p
    JOIN assign a USING (centroid_id)
    JOIN embeddings e ON e.vec_id = a.vec_id
    WHERE a.vec_id <> p.query_id
), top_n{np_val} AS (
    SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, vec_id) AS rk
        FROM cand_n{np_val}
    ) WHERE rk <= 5
), row_n{np_val} AS (
    SELECT {np_val}::BIGINT AS nprobe,
           (SELECT count(*) FROM ex)::BIGINT AS n_exact,
           (SELECT count(*) FROM ex JOIN top_n{np_val}
            USING (query_id, vec_id))::BIGINT AS n_hits,
           ((SELECT count(*) FROM ex JOIN top_n{np_val}
             USING (query_id, vec_id)) * 1000
            // (SELECT count(*) FROM ex))::BIGINT AS recall_permille,
           (SELECT count(*) FROM cand_n{np_val})::BIGINT
               AS scanned_pairs,
           ((SELECT count(*) FROM cand_n{np_val}) * 1000
            // (5 * ((SELECT count(*) FROM embeddings) - 1)))::BIGINT
               AS scan_permille
)"""


# Wilson-Hilferty chi-square -> normal transform, shared textually:
# z = ((g2/df)^(1/3) - (1 - 2/(9 df))) / sqrt(2/(9 df)); cbrt is the
# one engine-varying transcendental (rounded 6dp), the rest is plain
# IEEE arithmetic + one correctly-rounded sqrt.
_WH_Z = ("((round(cbrt(g2 / dof), 6)"
         " - (1.0 - 2.0e0 / (9.0 * dof)))"
         " / sqrt(2.0e0 / (9.0 * dof)))")


# broadcast-size model: the measured in-memory width of each row
# (fixed 8 bytes per numeric + byte length of strings, the
# q_partition_planner convention) times the documented 2x
# HashedRelation overhead (boxed keys + hash table load factor).
_BCAST_OVERHEAD_NUM = 2
_BCAST_DEFAULT_MB = 10  # spark.sql.autoBroadcastJoinThreshold default


# ===================================================================
# round 10 — standing-index OPTIMIZE-cadence planner + LSH cap tuner
# ===================================================================

# Streaming LSH-index maintenance model (q_index_optimize_planner):
# the stream_neardup ingest appends _NDOPT_FPB files per micro-batch
# — since round 12 DERIVED from the engaged q_manifest_bloom_planner
# decision (streaming/neardup.index_files_for: ceil(bucket rows /
# largest-unsaturated rows-per-file), = 1 for the 125-doc simulated
# trigger), so the standing index fragments linearly while OPTIMIZE
# would rewrite it into ceil(rows / _NDOPT_TFR) files. Per probe, every live file
# costs a fixed task overhead (launch + footer + bloom/stats check)
# on top of the matching rows actually read; _NDOPT_FTRE converts
# that fixed cost into row-equivalents (measured locally: ~10 ms per
# scan task vs ~5 us/row through the flag join ≈ 2000 rows — the
# constant is declared, not silent, and the planner's output shows
# exactly how sensitive the verdict is to it).
from ..streaming import neardup as _neardup  # noqa: E402

_NDOPT_B = 125        # simulated docs per micro-batch
# files appended per simulated batch: the SAME index_files_for the
# live ingest runs (one shared implementation — cannot diverge)
_NDOPT_FPB = _neardup.index_files_for(_NDOPT_B * (_MH_K // _MH_BAND))
_NDOPT_TFR = 100_000  # OPTIMIZE target rows per file
_NDOPT_FTRE = 2000    # per-file fixed task cost, in row-equivalents
_NDOPT_HORIZON = 16   # recommend only if payback within this many batches
_NDOPT_MINSAVE = 24   # min file saving: cadence floor, not per-batch churn


# LSH per-band cap auto-tuning (q_lsh_cap_planner): the round-8/9
# verdicts' one remaining "measured, not chosen" knob. The pair
# generators drop any bucket larger than max_bucket wholesale
# (operators/dedup.py cap semantics; q_lsh_bucket_stats measures the
# drops at the CURRENT caps) — this query evaluates CANDIDATE caps
# against the measured bucket-size distribution and picks, per
# (method, band), the LARGEST cap whose modeled pair fanout fits a
# corpus-proportional budget (fewest dropped docs within budget), or
# the smallest candidate when none fits. Budget = n_docs x
# _CAP_PPD candidate pairs: verification costs one array-intersect
# per pair, so the budget line IS the verification wall the cap
# exists to bound.
_CAP_CANDIDATES = [10, 25, 50, 100, 200]
_CAP_PPD = 40  # pair budget per corpus document


# Manifest-bloom sizing planner: the round-10 per-file blooms ship
# with fixed m=65536 bits / k=8 hashes (sources/tableformat.py) —
# this query grades that choice against the MEASURED corpus, per
# candidate rows-per-file, using the guard's real probe size
# (one {_NDOPT_B}-doc batch). Transcendentals follow the
# rounded-to-6dp protocol (q_bloom_planner precedent).
_MBLOOM_NPF = [1000, 4000, 16000, 65536]  # candidate rows per file
_MBLOOM_M = 65536  # tableformat._BLOOM_M (pinned by test)
_MBLOOM_K = 8      # tableformat._BLOOM_K (pinned by test)
# saturation threshold, PRECOMPUTED in Python doubles (the
# _GUMBEL_LNLN protocol: one constant interpolated into BOTH engine
# texts, so the saturated flag is a pure INTEGER comparison instead
# of a rounded-transcendental one): density > 0.5 iff
# n > ln2 / (k * -ln(1 - 1/m)) = 5678.26... -> n >= 5679
import math as _math

_MBLOOM_NSAT = int(_math.floor(
    _math.log(2) / (-_math.log(1.0 - 1.0 / _MBLOOM_M) * _MBLOOM_K)
)) + 1


# Round 13 — measured-popcount prunability audit
# (q_bloom_popcount_audit): the per-(probe-size) INTEGER crossings of
# tableformat._bloom_prunable's rule, Python-precomputed by the ONE
# shared derivation (tableformat.bloom_prunable_crossings) and
# interpolated as literals into both engine texts — the engaged gate,
# the audit query, and the oracle cannot diverge, and no engine ever
# compares a transcendental (the _MBLOOM_NSAT protocol). Probe sizes:
# a component point lookup (10 keys, the q_component_lookup shape),
# the simulated ingest trigger (_NDOPT_B docs), and a backfill-scale
# pushdown (65536 keys — the probe class the round-12 estimate was
# protecting against).
from ..sources import tableformat as _tableformat  # noqa: E402

_BPA_PROBES = [10, _NDOPT_B, 65536]
_BPA_CROSS = {
    nk: _tableformat.bloom_prunable_crossings(nk) for nk in _BPA_PROBES
}
# docs per modeled index file: the ENGAGED rows-per-file decision
# (streaming/neardup.INDEX_ROWS_PER_FILE) over the bands-per-doc
# fanout — one batch of this many docs lands one appended file
_BPA_DOCS_PER_FILE = _neardup.INDEX_ROWS_PER_FILE // (_MH_K // _MH_BAND)


# star-export EVERYTHING (including underscore-prefixed helpers)
# so the section modules and plans/queries.py share one namespace
__all__ = [n for n in list(globals()) if not n.startswith('__')]
