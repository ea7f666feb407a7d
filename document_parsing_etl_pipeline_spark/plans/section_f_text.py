"""SURVEY §2.F — text analysis & corpus ops: the @register query
definitions for this section (split out of the former monolithic
plans/queries.py in round 11; shared helpers live in
plans/_prelude.py, re-exported through plans/queries.py).
Importing this module registers the queries into the shared
QUERIES/ORACLES dicts."""

from __future__ import annotations

from ._prelude import *  # noqa: F401,F403



@register("q_session_conversion", f"""
WITH ordered AS (
    SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
           lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                   ORDER BY epoch_us(ts), event_id)
               AS prev_us
    FROM events
), flagged AS (
    SELECT *, CASE WHEN prev_us IS NULL
                     OR ts_us - prev_us > {_SESSION_GAP_US} THEN 1 ELSE 0 END
               AS is_new
    FROM ordered
), sessions AS (
    SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
    FROM flagged
), per_session AS (
    SELECT user_id, session_id,
           min(ts_us) // {_DAY_US} AS day,
           max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS has_click,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS has_purchase
    FROM sessions GROUP BY 1, 2
)
SELECT day, count(*)::BIGINT AS n_sessions,
       sum(has_click)::BIGINT AS n_with_click,
       sum(has_click * has_purchase)::BIGINT AS n_converted,
       CASE WHEN sum(has_click) > 0
            THEN (sum(has_click * has_purchase) * 1000000)
                 // sum(has_click)
            ELSE 0 END::BIGINT AS conversion_ppm
FROM per_session GROUP BY 1
""")
def q_session_conversion(spark, sf_dir):
    """SESSION-scoped funnel conversion — the product metric the
    user-level funnel can't give: a click and a purchase in the same
    SESSION (same visit, gap rule = q_events_sessionize's) vs merely
    the same lifetime. Daily rollup of sessions (day of session
    start): sessions, click-sessions, converted click-sessions, and
    the integer-ppm conversion rate. Same shuffle shape as
    sessionize (per-user windows) plus one calendar-sized rollup —
    and the session relation here is per-user-window derived; the
    session_window formulation of the same sessions is
    q_session_window_native."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts div 1000")
    )
    w_order = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    flagged = ev.withColumn(
        "prev_us", F.lag("ts_us").over(w_order)
    ).withColumn(
        "is_new",
        F.when(
            F.col("prev_us").isNull()
            | (F.col("ts_us") - F.col("prev_us") > _SESSION_GAP_US),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("is_new").over(
            w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.expr(f"min(ts_us) div {_DAY_US}").alias("day"),
        F.max(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("has_click"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("has_purchase"),
    )
    return per_session.groupBy("day").agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.sum("has_click").cast("long").alias("n_with_click"),
        F.sum(F.col("has_click") * F.col("has_purchase"))
        .cast("long").alias("n_converted"),
        F.expr(
            "cast(CASE WHEN sum(has_click) > 0"
            " THEN (sum(has_click * has_purchase) * 1000000)"
            " div sum(has_click) ELSE 0 END as bigint)"
        ).alias("conversion_ppm"),
    )


@register("q_source_dup_rates", """
WITH hashed AS (
    SELECT doc_id, source,
           md5(coalesce(array_to_string(
                   regexp_extract_all(lower(text), '\\S+'), ' '), ''))
               AS content_hash
    FROM documents
), ranked AS (
    SELECT source,
           CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY content_hash)
                THEN 0 ELSE 1 END AS is_dup
    FROM hashed
)
SELECT source, count(*)::BIGINT AS n_docs,
       sum(is_dup)::BIGINT AS n_dups,
       ((sum(is_dup) * 1000000) // count(*))::BIGINT AS dup_ppm
FROM ranked GROUP BY 1
""")
def q_source_dup_rates(spark, sf_dir):
    """Per-source duplicate rates — dedup OBSERVABILITY by origin:
    which domains/feeds produce the duplicates (a crawl source
    re-serving syndicated content shows up here long before it skews
    training mixes). A doc is a dup if its exact content hash has a
    smaller-id twin ANYWHERE in the corpus (cross-source duplication
    charges the re-server, not the first server). One hash groupBy-
    window (hash-partitioned, group-sized) + one source rollup."""
    docs = load_table(spark, sf_dir, "documents")
    # the SAME normalization dedup_exact hashes — one helper, so a
    # future normalization change cannot silently diverge the two
    # queries' duplicate definitions
    hashed = docs.select(
        "doc_id", "source",
        F.md5(
            F.coalesce(parse.normalized_text(F.col("text")), F.lit(""))
        ).alias("content_hash"),
    )
    w = Window.partitionBy("content_hash")
    ranked = hashed.select(
        "source",
        F.when(
            F.col("doc_id") == F.min("doc_id").over(w), 0
        ).otherwise(1).alias("is_dup"),
    )
    return ranked.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("is_dup").cast("long").alias("n_dups"),
        F.expr(
            "cast((sum(is_dup) * 1000000) div count(*) as bigint)"
        ).alias("dup_ppm"),
    )


@register("q_trending_terms", f"""
WITH toks AS (
    SELECT epoch_us(ts) // {{day_us}} AS day, event_type AS term
    FROM events
), daily AS (
    SELECT day, term, count(*)::BIGINT AS cnt
    FROM toks GROUP BY 1, 2
), ranked AS (
    SELECT day, term, cnt,
           row_number() OVER (PARTITION BY day
                              ORDER BY cnt DESC, term) AS rnk
    FROM daily
)
SELECT day, term, cnt, rnk::BIGINT AS rnk
FROM ranked WHERE rnk <= {_TREND_K}
""".replace("{day_us}", str(86_400_000_000)))
def q_trending_terms(spark, sf_dir):
    """Per-day top-k trending terms (the daily-leaderboard shape
    every analytics surface ships): day × term counts, then a rank
    window PARTITIONED BY DAY — partitions are day-sized term
    vocabularies, so the window never sees a corpus-sized sort; at
    any scale the pre-aggregation shrinks the ranked relation to
    |days| × |terms|. Deterministic ties (count desc, term)."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.expr(f"(ts div 1000) div {86_400_000_000}").alias("day"),
            F.col("event_type").alias("term"),
        )
        .groupBy("day", "term")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    w = Window.partitionBy("day").orderBy(F.col("cnt").desc(), "term")
    return (
        daily.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= _TREND_K)
    )


@register("lang_id", f"""
WITH scored AS (
    SELECT doc_id, lang,
           {_stop_sql('de')} AS hits_de,
           {_stop_sql('en')} AS hits_en,
           {_stop_sql('es')} AS hits_es,
           {_stop_sql('fr')} AS hits_fr
    FROM documents
)
SELECT doc_id, lang, hits_en, hits_es, hits_de, hits_fr,
       CASE WHEN greatest(hits_de, hits_en, hits_es, hits_fr) = 0 THEN 'und'
            WHEN hits_de = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'de'
            WHEN hits_en = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'en'
            WHEN hits_es = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'es'
            ELSE 'fr' END AS pred_lang
FROM scored
""")
def q_lang_id(spark, sf_dir):
    df = ta.language_id(load_table(spark, sf_dir, "documents"))
    return _long(df, "hits_en", "hits_es", "hits_de", "hits_fr")


@register("quality_score", f"""
SELECT doc_id,
       length(text) AS char_count,
       len(regexp_extract_all(text, '\\S+')) AS word_count,
       round(len(list_distinct(regexp_extract_all(text, '\\S+')))
             / greatest(len(regexp_extract_all(text, '\\S+')), 1), 4)
           AS unique_ratio,
       round({_stop_sql('en')}
             / greatest(len(regexp_extract_all(text, '\\S+')), 1), 4)
           AS stopword_ratio,
       round(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]'))
             / greatest(length(text), 1), 4) AS punct_ratio,
       round(length(regexp_replace(text, '\\s+', '', 'g'))
             / greatest(len(regexp_extract_all(text, '\\S+')), 1), 4)
           AS avg_word_len
FROM documents
""")
def q_quality(spark, sf_dir):
    df = ta.quality_score(load_table(spark, sf_dir, "documents"))
    return _long(df, "char_count", "word_count")


@register("q_quality_quantile_norm", r"""
WITH scored AS (
    SELECT doc_id, lang,
           (len(list_distinct(regexp_extract_all(text, '\S+'))) * 1000000)
               // greatest(len(regexp_extract_all(text, '\S+')), 1)
               AS ur_ppm
    FROM documents
), ranked AS (
    SELECT doc_id, lang, ur_ppm,
           row_number() OVER (PARTITION BY lang
                              ORDER BY ur_ppm, doc_id) AS rk,
           count(*) OVER (PARTITION BY lang) AS nl
    FROM scored
)
SELECT doc_id, lang, ur_ppm,
       ((rk - 1) * 1000000 // greatest(nl - 1, 1))::BIGINT
           AS quantile_ppm
FROM ranked
""")
def q_quality_quantile_norm(spark, sf_dir):
    """Per-language quantile normalization of a quality signal (the
    CCNet companion to q_ccnet_buckets): each document's uniqueness
    score becomes its within-language quantile (ppm), so ONE global
    threshold compares fairly across languages whose raw score
    distributions differ. ALL-INTEGER: the score itself is integer
    ppm (distinct*1e6 div words — no rounded float re-scaled), the
    quantile is (rank-1)*1e6 div (n_lang-1), ranks tie-broken by
    doc_id. Language-partitioned windows — group-sized, never a
    corpus-wide sort."""
    docs = load_table(spark, sf_dir, "documents")
    toks = parse.raw_tokens("text")
    scored = docs.select(
        "doc_id", "lang",
        (
            F.size(F.array_distinct(toks)).cast("long")
            * F.lit(1_000_000)
        ).alias("_num"),
        F.greatest(F.size(toks), F.lit(1)).cast("long").alias("_den"),
    ).select(
        "doc_id", "lang",
        F.expr("_num div _den").alias("ur_ppm"),
    )
    wr = Window.partitionBy("lang").orderBy("ur_ppm", "doc_id")
    wn = Window.partitionBy("lang")
    return (
        scored.withColumn("rk", F.row_number().over(wr))
        .withColumn("nl", F.count("*").over(wn))
        .select(
            "doc_id", "lang", "ur_ppm",
            # row_number is INT: widen BEFORE the 1e6 multiply or the
            # product overflows 32 bits at rank 2148+ (surfaced by the
            # sf1-equivalent bench — invisible at sf0.1's group sizes)
            F.expr(
                "cast((cast(rk as bigint) - 1) * 1000000"
                " div greatest(nl - 1, 1) as bigint)"
            ).alias("quantile_ppm"),
        )
    )


@register("q_orders_open_backlog", f"""
WITH spans AS (
    SELECT o.o_orderkey,
           epoch_us(o.o_orderdate) // {{day_us}} AS start_day,
           max(epoch_us(l.l_shipdate) // {{day_us}}) AS end_day
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
), deltas AS (
    SELECT start_day AS day, count(*)::BIGINT AS d FROM spans GROUP BY 1
    UNION ALL
    SELECT end_day + 1, -count(*)::BIGINT FROM spans GROUP BY end_day + 1
), byday AS (
    SELECT day, sum(d)::BIGINT AS d FROM deltas GROUP BY 1
)
SELECT day,
       sum(d) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           ::BIGINT AS open_orders
FROM byday
""".replace("{day_us}", str(86_400_000_000)))
def q_orders_open_backlog(spark, sf_dir):
    """Open-order backlog per day — interval STABBING by sweep line:
    how many orders were in flight (placed, not yet fully received)
    on each calendar day. The naive form is a day×order interval
    join (quadratic-ish and the classic warehouse anti-pattern); the
    sweep line reduces it to +1/−1 deltas at each interval's
    endpoints and ONE running sum over the CALENDAR-sized day
    relation — the same islands/sweep family as q_span_dedup's
    interval union, here as stabbing counts. Fact tables are touched
    by one join + one groupBy; the window runs over |days| rows."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr(
            f"unix_micros(cast(o_orderdate as timestamp))"
            f" div {86_400_000_000}"
        ).alias("start_day"),
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.expr(
            f"unix_micros(cast(l_shipdate as timestamp))"
            f" div {86_400_000_000}"
        ).alias("rday"),
    )
    spans = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", "start_day")
        .agg(F.max("rday").alias("end_day"))
    )
    deltas = (
        spans.groupBy(F.col("start_day").alias("day"))
        .agg(F.count("*").cast("long").alias("d"))
        .unionByName(
            spans.groupBy((F.col("end_day") + 1).alias("day"))
            .agg((-F.count("*")).cast("long").alias("d"))
        )
    )
    byday = deltas.groupBy("day").agg(F.sum("d").cast("long").alias("d"))
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return byday.select(
        "day", F.sum("d").over(w).cast("long").alias("open_orders")
    )


@register("q_ship_sla_attainment", f"""
WITH li AS (
    SELECT date_trunc('month', l_shipdate) AS month_start,
           CASE WHEN epoch_us(l_shipdate) // {{day_us}}
                     - epoch_us(o_orderdate) // {{day_us}}
                     <= {_SLA_DAYS} THEN 1 ELSE 0 END AS within
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
)
SELECT epoch_us(month_start) AS month_start_us,
       count(*)::BIGINT AS n_lineitems,
       sum(within)::BIGINT AS n_within_sla,
       ((sum(within) * 1000000) // count(*))::BIGINT AS sla_ppm
FROM li GROUP BY 1
""".replace("{day_us}", str(86_400_000_000)))
def q_ship_sla_attainment(spark, sf_dir):
    """Monthly shipping-SLA attainment: share of line items shipped
    within _SLA_DAYS (10) days of order placement, as integer ppm —
    the ops KPI complement to q_ship_latency_integrity (which audits
    impossible orderings; this measures how fast the possible ones
    are). One fact-fact equi-join + one month rollup; the SLA test is
    integer day arithmetic on both engines."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.expr(
            f"unix_micros(cast(l_shipdate as timestamp))"
            f" div {86_400_000_000}"
        ).alias("sday"),
        F.expr(
            "unix_micros(cast(date_trunc('month', l_shipdate)"
            " as timestamp))"
        ).alias("month_start_us"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr(
            f"unix_micros(cast(o_orderdate as timestamp))"
            f" div {86_400_000_000}"
        ).alias("oday"),
    )
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).withColumn(
        "within",
        F.when(
            F.col("sday") - F.col("oday") <= _SLA_DAYS, 1
        ).otherwise(0),
    )
    return j.groupBy("month_start_us").agg(
        F.count("*").cast("long").alias("n_lineitems"),
        F.sum("within").cast("long").alias("n_within_sla"),
        F.expr(
            "cast((sum(within) * 1000000) div count(*) as bigint)"
        ).alias("sla_ppm"),
    )


@register("q_equi_depth_histogram", f"""
WITH v AS (
    SELECT CAST(floor(o_totalprice) AS BIGINT) AS val FROM orders
), pv AS (
    SELECT val, count(*)::BIGINT AS c FROM v GROUP BY 1
), off AS (
    SELECT val, c,
           coalesce(sum(c) OVER (ORDER BY val
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) AS cum_before,
           sum(c) OVER () AS n
    FROM pv
), assigned AS (
    SELECT val, c, (cum_before * {_EQD_B}) // n AS bucket FROM off
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       min(val) AS lo_value, max(val) AS hi_value,
       sum(c)::BIGINT AS n_rows
FROM assigned GROUP BY 1
""")
def q_equi_depth_histogram(spark, sf_dir):
    """Equi-DEPTH histogram over order totals — the optimizer
    statistics structure (equal row mass per bucket, so selectivity
    estimates stay accurate in skewed regions where equi-WIDTH
    buckets collapse; q_value_histogram is the equi-width twin).
    Buckets are assigned at the VALUE level — bucket(v) =
    (rows-before-v · B) div n — via per-value counts plus a running
    offset over the DISTINCT-VALUE relation, whose size is bounded by
    the price domain (fixed), not the row count: the fact table is
    touched by one groupBy, never a global row sort. ALL-INTEGER
    (floor to whole dollars, cross-multiplied rank cuts) —
    engine-exact boundaries."""
    o = load_table(spark, sf_dir, "orders").select(
        F.expr("cast(floor(o_totalprice) as bigint)").alias("val")
    )
    pv = o.groupBy("val").agg(F.count("*").cast("long").alias("c"))
    w = Window.orderBy("val").rowsBetween(Window.unboundedPreceding, -1)
    wn = Window.partitionBy()
    off = pv.select(
        "val", "c",
        F.coalesce(F.sum("c").over(w), F.lit(0)).alias("cum_before"),
        F.sum("c").over(wn).alias("n"),
    )
    assigned = off.select(
        "val", "c",
        F.expr(f"(cum_before * {_EQD_B}) div n").alias("bucket"),
    )
    return assigned.groupBy(F.col("bucket").cast("long").alias("bucket")).agg(
        F.min("val").alias("lo_value"),
        F.max("val").alias("hi_value"),
        F.sum("c").cast("long").alias("n_rows"),
    )


@register("q_seasonal_anomaly", f"""
WITH daily AS (
    SELECT event_type, epoch_us(ts) // {{day_us}} AS day,
           count(*)::BIGINT AS n
    FROM events GROUP BY 1, 2
), prof AS (
    SELECT event_type, day % 7 AS dow,
           sum(n)::BIGINT AS s, count(*)::BIGINT AS c
    FROM daily GROUP BY 1, 2
)
SELECT d.event_type, d.day, d.n,
       (d.day % 7)::BIGINT AS dow,
       ((p.s * 1000) // p.c)::BIGINT AS dow_mean_milli,
       (d.n * p.c > 2 * p.s) AS spike,
       (2 * d.n * p.c < p.s) AS drop_
FROM daily d JOIN prof p
  ON p.event_type = d.event_type AND p.dow = d.day % 7
""".replace("{day_us}", str(86_400_000_000)))
def q_seasonal_anomaly(spark, sf_dir):
    """Seasonality-ADJUSTED anomaly flags: every (type, day) count is
    compared to its own day-of-week profile mean — a quiet Sunday is
    not a drop and a busy Monday is not a spike (the plain z-score
    anomaly query, q_events_anomaly, can't tell those apart). Flags
    are ALL-INTEGER cross-multiplications (n·c > 2·s ⟺ n > 2·mean)
    so no division touches the hash; the reported dow mean is
    integer-milli. Calendar-sized relations throughout: daily counts,
    then a ≤ 7·|types|-row profile joined back."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.expr(f"(ts div 1000) div {86_400_000_000}").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count("*").cast("long").alias("n"))
    )
    prof = (
        daily.withColumn("dow", F.expr("day % 7"))
        .groupBy("event_type", "dow")
        .agg(
            F.sum("n").cast("long").alias("s"),
            F.count("*").cast("long").alias("c"),
        )
    )
    d = daily.withColumn("dow", F.expr("day % 7").cast("long"))
    return d.join(F.broadcast(prof), ["event_type", "dow"]).select(
        "event_type", "day", "n", "dow",
        F.expr("cast((s * 1000) div c as bigint)").alias("dow_mean_milli"),
        (F.col("n") * F.col("c") > 2 * F.col("s")).alias("spike"),
        (2 * F.col("n") * F.col("c") < F.col("s")).alias("drop_"),
    )


@register("token_count", f"""
SELECT doc_id,
       len(regexp_extract_all(text, '\\S+')) AS ws_tokens,
       len(regexp_extract_all(text, '{ta.RE_BPE_TOKEN}')) AS bpe_tokens
FROM documents
""")
def q_token_count(spark, sf_dir):
    df = ta.token_counts(load_table(spark, sf_dir, "documents"))
    return _long(df, "ws_tokens", "bpe_tokens")


@register("pii_redact", f"""
WITH staged AS (
    SELECT doc_id, text,
           regexp_replace(text, '{ta.RE_SSN}', '[SSN]', 'g') AS after_ssn
    FROM documents
), staged2 AS (
    SELECT *, regexp_replace(after_ssn, '{ta.RE_EMAIL}', '[EMAIL]', 'g')
                  AS after_email
    FROM staged
)
SELECT doc_id,
       len(regexp_extract_all(after_ssn, '{ta.RE_EMAIL}')) AS n_emails,
       len(regexp_extract_all(after_email, '{ta.RE_PHONE}')) AS n_phones,
       len(regexp_extract_all(text, '{ta.RE_SSN}')) AS n_ssns,
       regexp_replace(after_email, '{ta.RE_PHONE}', '[PHONE]', 'g')
           AS redacted_text,
       length(regexp_replace(after_email, '{ta.RE_PHONE}', '[PHONE]', 'g'))
           AS redacted_len
FROM staged2
""")
def q_pii_redact(spark, sf_dir):
    df = ta.pii_redact(load_table(spark, sf_dir, "documents"))
    return _long(df, "n_emails", "n_phones", "n_ssns", "redacted_len")


@register("top_bigrams", """
WITH words_t AS (
    SELECT regexp_extract_all(lower(text), '\\S+') AS words FROM documents
    WHERE len(regexp_extract_all(lower(text), '\\S+')) >= 2
), pos AS (
    SELECT words, unnest(generate_series(1, len(words) - 1)) AS i FROM words_t
), bg AS (
    SELECT array_to_string(words[i : i+1], ' ') AS bigram FROM pos
)
SELECT bigram, count(*) AS occurrences FROM bg
GROUP BY bigram ORDER BY occurrences DESC, bigram LIMIT 20
""")
def q_top_bigrams(spark, sf_dir):
    return ta.top_bigrams(load_table(spark, sf_dir, "documents"))


@register("q_docs_with_embeddings", """
SELECT d.doc_id, d.lang, e.label,
       len(regexp_extract_all(d.text, '\\S+')) AS word_count,
       round(sqrt(list_inner_product(e.embedding::DOUBLE[],
                                     e.embedding::DOUBLE[])), 4) AS vec_norm
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
WHERE d.n_chars >= 250
""")
def q_docs_with_embeddings(spark, sf_dir):
    """Cross-modal enrichment: text corpus ⋈ embedding table on id
    (the join that feeds quality-filtered text+vector training
    pairs)."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("n_chars") >= 250
    )
    emb = load_table(spark, sf_dir, "embeddings")
    wc = F.size(parse.raw_tokens("text"))
    return (
        docs.join(emb, docs.doc_id == emb.vec_id)
        .select(
            "doc_id", "lang", "label",
            wc.cast("long").alias("word_count"),
            F.round(
                similarity.norm(F.col("embedding")), 4
            ).alias("vec_norm"),
        )
    )


@register("fingerprint", f"""
WITH words_t AS (
    SELECT doc_id, text,
           regexp_extract_all(lower(text), '\\S+') AS words
    FROM documents
)
SELECT doc_id,
       CASE WHEN len(words) >= {_FP_N}
            THEN list_aggregate(
                     list_transform(generate_series(1, len(words) - {_FP_N - 1}),
                         i -> md5(array_to_string(words[i:i+{_FP_N - 1}], ' '))),
                     'min')
            ELSE md5(trim(lower(text)))
       END AS fp
FROM words_t
""")
def q_fingerprint(spark, sf_dir):
    return ta.fingerprint(load_table(spark, sf_dir, "documents"), n=_FP_N)


@register("q_vocab_build", r"""
WITH toks AS (
    SELECT doc_id,
           unnest(regexp_extract_all(lower(text),
               '[a-z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS tok
    FROM documents
), stats AS (
    SELECT tok, count(*) AS tf, count(DISTINCT doc_id) AS df
    FROM toks GROUP BY tok
)
SELECT tok, tf, df FROM stats
WHERE df >= 2
ORDER BY tf DESC, tok
LIMIT 200
""")
def q_vocab_build(spark, sf_dir):
    """Tokenizer-vocabulary construction: BPE-regex token counts with
    a document-frequency floor (min_df prunes hapax noise) → top-200
    by frequency. The standard vocab pass before training a
    tokenizer; one explode + one two-phase agg — the distinct-df
    count pre-aggregates per (tok, doc) map-side. (A max_df stopword
    bound composes the same way; the synthetic corpus's closed vocab
    makes it degenerate here.)"""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit(ta.RE_BPE_TOKEN), 0
            )
        ).alias("tok"),
    )
    stats = toks.groupBy("tok").agg(
        F.count("*").alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )
    return (
        stats.where(F.col("df") >= 2)
        .select("tok", "tf", "df")
        .orderBy(F.col("tf").desc(), "tok")
        .limit(200)
    )


@register("q_lang_confusion", f"""
WITH scored AS (
    SELECT doc_id, lang,
           {_stop_sql('de')} AS hits_de,
           {_stop_sql('en')} AS hits_en,
           {_stop_sql('es')} AS hits_es,
           {_stop_sql('fr')} AS hits_fr
    FROM documents
), pred AS (
    SELECT lang,
           CASE WHEN greatest(hits_de, hits_en, hits_es, hits_fr) = 0
                    THEN 'und'
                WHEN hits_de = greatest(hits_de, hits_en, hits_es, hits_fr)
                    THEN 'de'
                WHEN hits_en = greatest(hits_de, hits_en, hits_es, hits_fr)
                    THEN 'en'
                WHEN hits_es = greatest(hits_de, hits_en, hits_es, hits_fr)
                    THEN 'es'
                ELSE 'fr' END AS pred_lang
    FROM scored
)
SELECT lang, pred_lang, count(*) AS n_docs
FROM pred GROUP BY 1, 2
""")
def q_lang_confusion(spark, sf_dir):
    """Language-ID confusion matrix (labelled lang × predicted lang) —
    the classifier-evaluation rollup over the stopword-ratio
    heuristic. lang² output; one shuffle."""
    pred = ta.language_id(load_table(spark, sf_dir, "documents"))
    return pred.groupBy("lang", "pred_lang").agg(
        F.count("*").alias("n_docs")
    )

@register("corpus_stats", """
SELECT lang, source, count(*) AS n_docs,
       sum(n_chars)::BIGINT AS total_chars,
       min(n_chars) AS min_chars, max(n_chars) AS max_chars
FROM documents GROUP BY lang, source
""")
def q_corpus_stats(spark, sf_dir):
    return corpus.corpus_stats(load_table(spark, sf_dir, "documents"))


@register("tfidf_top_terms", """
WITH toks AS (
    SELECT doc_id,
           unnest(regexp_extract_all(lower(text), '\\S+')) AS term
    FROM documents
), tfc AS (
    SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
), dfc AS (
    SELECT term, count(DISTINCT doc_id) AS df FROM tfc GROUP BY term
), n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
    SELECT t.doc_id, t.term, t.tf,
           round(t.tf * ln((n.n_docs + 1) / (d.df + 1)), 4) AS tfidf
    FROM tfc t JOIN dfc d USING (term) CROSS JOIN n
), ranked AS (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY tfidf DESC, term) AS rnk
    FROM scored
)
SELECT doc_id, term, tf, tfidf, rnk FROM ranked WHERE rnk <= 3
""")
def q_tfidf_top_terms(spark, sf_dir):
    df = corpus.tfidf_top_terms(load_table(spark, sf_dir, "documents"))
    return _long(df, "tf", "rnk")


@register("cluster_assign", f"""
WITH cents AS (
    SELECT vec_id AS centroid_id, embedding AS cv
    FROM embeddings WHERE vec_id < 8
), scored AS (
    SELECT e.vec_id, c.centroid_id,
           round(CASE WHEN list_inner_product(e.embedding::DOUBLE[],
                               e.embedding::DOUBLE[]) = 0
                       OR list_inner_product(c.cv::DOUBLE[],
                                             c.cv::DOUBLE[]) = 0
                      THEN 0.0
                 ELSE list_inner_product(e.embedding::DOUBLE[], c.cv::DOUBLE[])
                 / (sqrt(list_inner_product(e.embedding::DOUBLE[],
                                            e.embedding::DOUBLE[]))
                    * sqrt(list_inner_product(c.cv::DOUBLE[], c.cv::DOUBLE[])))
                 END, 4) AS cosine
    FROM embeddings e CROSS JOIN cents c
), ranked AS (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cosine DESC, centroid_id) AS rnk
    FROM scored
)
SELECT vec_id, centroid_id, cosine FROM ranked WHERE rnk = 1
""")
def q_cluster_assign(spark, sf_dir):
    return corpus.assign_nearest_centroid(
        load_table(spark, sf_dir, "embeddings"), num_centroids=8
    )


@register("q_pca_projection", """
WITH xs AS (
    SELECT vec_id, (embedding[1])::DOUBLE AS x0, (embedding[2])::DOUBLE AS x1
    FROM embeddings
), st AS (
    SELECT count(*)::DOUBLE AS n,
           sum(x0::DECIMAL(28,12)) AS s0, sum(x1::DECIMAL(28,12)) AS s1,
           sum((x0*x0)::DECIMAL(28,12)) AS s00,
           sum((x0*x1)::DECIMAL(28,12)) AS s01,
           sum((x1*x1)::DECIMAL(28,12)) AS s11
    FROM xs
), cov AS (
    SELECT n, (s0::DOUBLE) / n AS m0, (s1::DOUBLE) / n AS m1,
           round(((s00::DOUBLE) - (s0::DOUBLE)*(s0::DOUBLE)/n)/(n-1), 6)
               + 0.0 AS a,
           round(((s01::DOUBLE) - (s0::DOUBLE)*(s1::DOUBLE)/n)/(n-1), 6)
               + 0.0 AS b,
           round(((s11::DOUBLE) - (s1::DOUBLE)*(s1::DOUBLE)/n)/(n-1), 6)
               + 0.0 AS c
    FROM st
), eig AS (
    SELECT *, (a+c)/2 AS t,
           sqrt(((a-c)/2)*((a-c)/2) + b*b) AS r
    FROM cov
), eraw AS (
    SELECT *,
           CASE WHEN b = 0 THEN (CASE WHEN a >= c THEN 1.0 ELSE 0.0 END)
                ELSE b END AS wx,
           CASE WHEN b = 0 THEN (CASE WHEN a >= c THEN 0.0 ELSE 1.0 END)
                ELSE (t + r) - a END AS wy
    FROM eig
), eu AS (
    SELECT *, wx / sqrt(wx*wx + wy*wy) AS ux,
              wy / sqrt(wx*wx + wy*wy) AS uy
    FROM eraw
), v1 AS (
    SELECT m0, m1,
           ux * (CASE WHEN abs(ux) >= abs(uy)
                      THEN (CASE WHEN ux >= 0 THEN 1.0 ELSE -1.0 END)
                      ELSE (CASE WHEN uy >= 0 THEN 1.0 ELSE -1.0 END)
                 END) AS v1x,
           uy * (CASE WHEN abs(ux) >= abs(uy)
                      THEN (CASE WHEN ux >= 0 THEN 1.0 ELSE -1.0 END)
                      ELSE (CASE WHEN uy >= 0 THEN 1.0 ELSE -1.0 END)
                 END) AS v1y
    FROM eu
), vv AS (
    SELECT m0, m1, v1x, v1y,
           (-v1y) * (CASE WHEN abs(-v1y) >= abs(v1x)
                          THEN (CASE WHEN -v1y >= 0 THEN 1.0 ELSE -1.0 END)
                          ELSE (CASE WHEN v1x >= 0 THEN 1.0 ELSE -1.0 END)
                     END) AS v2x,
           v1x * (CASE WHEN abs(-v1y) >= abs(v1x)
                       THEN (CASE WHEN -v1y >= 0 THEN 1.0 ELSE -1.0 END)
                       ELSE (CASE WHEN v1x >= 0 THEN 1.0 ELSE -1.0 END)
                  END) AS v2y
    FROM v1
)
SELECT x.vec_id, 0::BIGINT AS component,
       round((x.x0 - v.m0)*v.v1x + (x.x1 - v.m1)*v.v1y, 6) + 0.0 AS value
FROM xs x, vv v
UNION ALL
SELECT x.vec_id, 1::BIGINT AS component,
       round((x.x0 - v.m0)*v.v2x + (x.x1 - v.m1)*v.v2y, 6) + 0.0 AS value
FROM xs x, vv v
""")
def q_pca_projection(spark, sf_dir):
    """PCA projection with a FULL value hash gate (round 7 — formerly
    the registry's one rows-only entry): the 2-D instance over
    embedding dims (0,1) has a CLOSED-FORM symmetric eigensolve, so
    both engines independently derive the identical canonical basis —
    covariance entries via the proven decimal-exact protocol rounded
    at 6 dp (q_embedding_covariance's), then t=(a+c)/2,
    r=sqrt(((a-c)/2)²+b²), v1∝(b, (t+r)−a) normalized, sign fixed by
    largest-|loading|-positive, v2 = perp(v1) — the same operation
    order in Spark-driver Python and DuckDB SQL gives bit-identical
    doubles, so the per-vector projection VALUES hash-match exactly.

    The distributed operator (corpus.pca_project: mapInPandas X^T X
    partials → driver eigh → broadcast projection, now with the
    canonicalized eigenbasis) stays in the gated path: its components
    and projections for the same 2-D input are asserted against the
    closed form in-line (atol 1e-3, covering the 6-dp covariance
    rounding gap) — a broken partial-combine, eigensolve, or
    projection kernel raises and fails the driver run. Full-d
    invariants (orthonormality, trace capture) are hash-gated by
    q_pca_variance_audit; full-d projections remain pytest-covered.
    corpus.py:pca_project."""
    import math

    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding")[0].cast("double").alias("x0"),
        F.col("embedding")[1].cast("double").alias("x1"),
    )
    st = (
        emb.agg(
            F.count("*").cast("double").alias("n"),
            F.sum(F.col("x0").cast("decimal(28,12)")).alias("s0"),
            F.sum(F.col("x1").cast("decimal(28,12)")).alias("s1"),
            F.sum((F.col("x0") * F.col("x0"))
                  .cast("decimal(28,12)")).alias("s00"),
            F.sum((F.col("x0") * F.col("x1"))
                  .cast("decimal(28,12)")).alias("s01"),
            F.sum((F.col("x1") * F.col("x1"))
                  .cast("decimal(28,12)")).alias("s11"),
        )
        .select(
            "n",
            (F.col("s0").cast("double") / F.col("n")).alias("m0"),
            (F.col("s1").cast("double") / F.col("n")).alias("m1"),
            (F.round(
                (F.col("s00").cast("double")
                 - F.col("s0").cast("double") * F.col("s0").cast("double")
                 / F.col("n")) / (F.col("n") - 1), 6,
            ) + F.lit(0.0)).alias("a"),
            (F.round(
                (F.col("s01").cast("double")
                 - F.col("s0").cast("double") * F.col("s1").cast("double")
                 / F.col("n")) / (F.col("n") - 1), 6,
            ) + F.lit(0.0)).alias("b"),
            (F.round(
                (F.col("s11").cast("double")
                 - F.col("s1").cast("double") * F.col("s1").cast("double")
                 / F.col("n")) / (F.col("n") - 1), 6,
            ) + F.lit(0.0)).alias("c"),
        )
        .first()
    )
    a, b, c = st["a"], st["b"], st["c"]
    m0, m1 = st["m0"], st["m1"]
    # closed-form canonical eigenbasis — SAME operation order as the
    # oracle SQL (IEEE doubles are then bit-identical cross-engine)
    t = (a + c) / 2
    r = math.sqrt(((a - c) / 2) * ((a - c) / 2) + b * b)
    if b == 0:
        wx, wy = (1.0, 0.0) if a >= c else (0.0, 1.0)
    else:
        wx, wy = b, (t + r) - a
    nrm = math.sqrt(wx * wx + wy * wy)
    ux, uy = wx / nrm, wy / nrm
    s1g = (
        (1.0 if ux >= 0 else -1.0)
        if abs(ux) >= abs(uy) else (1.0 if uy >= 0 else -1.0)
    )
    v1x, v1y = ux * s1g, uy * s1g
    s2g = (
        (1.0 if -v1y >= 0 else -1.0)
        if abs(-v1y) >= abs(v1x) else (1.0 if v1x >= 0 else -1.0)
    )
    v2x, v2y = -v1y * s2g, v1x * s2g

    # gate the DISTRIBUTED operator against the closed form: the
    # mapInPandas partial-combine + eigh + canonicalization must land
    # on the same basis (within the 6-dp covariance-rounding gap)
    res = corpus.pca_project(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.slice("embedding", 1, 2).alias("embedding")
        ),
        k=2,
    )
    V = np.asarray(res.components)  # 2 × 2, columns = components
    want = np.array([[v1x, v2x], [v1y, v2y]])
    # SIGN-INSENSITIVE subspace check (|cos angle| per component): the
    # 6-dp covariance rounding perturbs the eigenvectors by up to
    # ~‖δC‖/eigengap (Davis-Kahan), and near-45° bases make the sign
    # tiebreak razor-edge between raw and rounded covariance — the
    # canonicalization itself is pinned by a dedicated pytest on
    # tie-free data (test_pca_canonical_basis_deterministic)
    for j in range(2):
        cosang = abs(float(V[:, j] @ want[:, j]))
        if cosang < 1.0 - 1e-4:
            raise AssertionError(
                f"pca_project component {j} diverged from closed form:"
                f" |cos|={cosang} {V} vs {want}"
            )
    if not np.allclose(
        res.explained_variance, [t + r, t - r], rtol=1e-3, atol=1e-6
    ):
        raise AssertionError(
            f"pca_project eigenvalues diverged: {res.explained_variance}"
            f" vs {[t + r, t - r]}"
        )

    return emb.select(
        "vec_id",
        F.explode(F.array(
            F.struct(
                F.lit(0).cast("long").alias("component"),
                (F.round(
                    (F.col("x0") - F.lit(m0)) * F.lit(v1x)
                    + (F.col("x1") - F.lit(m1)) * F.lit(v1y), 6,
                ) + F.lit(0.0)).alias("value"),
            ),
            F.struct(
                F.lit(1).cast("long").alias("component"),
                (F.round(
                    (F.col("x0") - F.lit(m0)) * F.lit(v2x)
                    + (F.col("x1") - F.lit(m1)) * F.lit(v2y), 6,
                ) + F.lit(0.0)).alias("value"),
            ),
        )).alias("pc"),
    ).select("vec_id", "pc.component", "pc.value")


@register("q_pca_variance_audit", """
WITH vals AS (
    SELECT e.vec_id, (i.i - 1)::BIGINT AS i, (e.embedding[i.i])::DOUBLE AS v
    FROM embeddings e,
         unnest(generate_series(1, len(e.embedding))) AS i(i)
), nn AS (
    SELECT count(*)::DOUBLE AS n, count(*) AS nb FROM embeddings
), per_dim AS (
    SELECT i, sum(v::DECIMAL(28,12)) AS si,
           sum((v * v)::DECIMAL(28,12)) AS sii
    FROM vals GROUP BY i
), vars AS (
    SELECT round(((sii::DOUBLE)
                  - (si::DOUBLE) * (si::DOUBLE) / nn.n) / (nn.n - 1), 6)
               AS var6
    FROM per_dim, nn
)
SELECT (SELECT nb FROM nn) AS n_vectors,
       (SELECT max(len(embedding)) FROM embeddings)::BIGINT AS n_dims,
       (sum(var6::DECIMAL(18,6)))::DOUBLE AS trace_var,
       TRUE AS variance_capture_ok,
       TRUE AS orthonormal_ok
FROM vars
""")
def q_pca_variance_audit(spark, sf_dir):
    """The PCA partial oracle: SQL can't eigensolve, but it CAN check
    the invariants the eigensolve must satisfy — the full-rank
    projection is a rotation, so the summed per-component variance of
    the PROJECTIONS must equal the covariance trace (computed here by
    both engines via the exact-decimal diagonal protocol), and the
    basis must be orthonormal. The oracle pins both contract booleans
    TRUE: a broken eigensolve or mis-centered projection fails the
    hash gate. Shrinks q_pca_projection's rows-only surface to just
    the eigenvector VALUES. corpus.py:pca_variance_audit."""
    return corpus.pca_variance_audit(load_table(spark, sf_dir, "embeddings"))


@register("q_kmeans_clusters", """
SELECT vec_id, 8::BIGINT AS k, 3::BIGINT AS n_rounds,
       TRUE AS is_argmax, TRUE AS objective_monotone
FROM embeddings
""")
def q_kmeans_clusters(spark, sf_dir):
    """Iterative spherical k-means (3 rounds, deterministic first-k
    seeding), surfaced as its hash-gated CONTRACT: SQL cannot run the
    iteration, but it CAN pin the theorems a correct run must satisfy
    — every vector's final assignment is the argmax over the final
    round's centroid set (recomputed from the full scored relation),
    the summed assignment cosine is non-decreasing across rounds
    (guaranteed by the direction-mean update), and the output
    partitions the embeddings table exactly (the oracle's row set IS
    the table). A broken argmax window, a mis-ordered update, or a
    lost/duplicated vector fails the hash gate. The assignment VALUES
    (cluster ids) are not surfaced; one full Lloyd step is
    value-oracled by cluster_assign. corpus.py:kmeans_contract_audit."""
    return corpus.kmeans_contract_audit(
        load_table(spark, sf_dir, "embeddings"), k=8, max_iter=3
    )


# ===================================================================
# §2.F extensions (round 2) — LLM training-data operators
# ===================================================================

@register("q_train_split", """
SELECT CASE ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT % 10
           WHEN 0 THEN 'test' WHEN 1 THEN 'val' ELSE 'train' END AS split,
       count(*) AS n_docs,
       sum(n_chars)::BIGINT AS total_chars
FROM documents
GROUP BY split
""")
def q_train_split(spark, sf_dir):
    """Deterministic train/val/test split (80/10/10 by content-stable
    hash — reproducible across engines and re-runs, the requirement
    rand() sampling can't meet) with per-split size accounting."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int"),
        F.lit(10),
    )
    split = (
        F.when(bucket == 0, "test").when(bucket == 1, "val").otherwise("train")
    )
    return (
        docs.groupBy(split.alias("split"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@register("q_repetition_ratio", """
WITH tok AS (
    SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS t
    FROM documents
), tf AS (
    SELECT doc_id, t, count(*) AS c FROM tok GROUP BY doc_id, t
)
SELECT doc_id, max(c)::BIGINT AS max_tf, sum(c)::BIGINT AS n_tokens,
       round(max(c) / sum(c), 4) AS top_token_ratio,
       (max(c) / sum(c)) > 0.2 AS is_repetitive
FROM tf GROUP BY doc_id
""")
def q_repetition_ratio(spark, sf_dir):
    df = ta.repetition_ratio(load_table(spark, sf_dir, "documents"))
    return _long(df, "max_tf", "n_tokens")


@register("q_trigram_topk", """
WITH words_t AS (
    SELECT regexp_extract_all(lower(text), '\\S+') AS words FROM documents
    WHERE len(regexp_extract_all(lower(text), '\\S+')) >= 3
), pos AS (
    SELECT words, unnest(generate_series(1, len(words) - 2)) AS i FROM words_t
), tg AS (
    SELECT array_to_string(words[i : i+2], ' ') AS ngram FROM pos
)
SELECT ngram, count(*) AS occurrences FROM tg
GROUP BY ngram ORDER BY occurrences DESC, ngram LIMIT 20
""")
def q_trigram_topk(spark, sf_dir):
    return ta.top_ngrams(load_table(spark, sf_dir, "documents"), n=3)


@register("q_contamination", f"""
WITH words_t AS (
    SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS words
    FROM documents
    WHERE len(regexp_extract_all(lower(text), '\\S+')) >= {_CONTAM_N}
), pos AS (
    SELECT doc_id, words,
           unnest(generate_series(1, len(words) - {_CONTAM_N - 1})) AS i
    FROM words_t
), sh AS (
    SELECT doc_id, md5(array_to_string(words[i : i+{_CONTAM_N - 1}], ' ')) AS h
    FROM pos
), bench AS (
    SELECT DISTINCT h FROM sh WHERE doc_id % {_CONTAM_MOD} = 0
)
SELECT s.doc_id, count(DISTINCT s.h)::BIGINT AS n_shared_shingles
FROM sh s JOIN bench b ON s.h = b.h
WHERE s.doc_id % {_CONTAM_MOD} <> 0
GROUP BY s.doc_id
""")
def q_contamination(spark, sf_dir):
    df = corpus.contamination_check(
        load_table(spark, sf_dir, "documents"),
        shingle_n=_CONTAM_N, bench_mod=_CONTAM_MOD,
    )
    return _long(df, "n_shared_shingles")


@register("q_embedding_dim_stats", """
WITH e AS (
    SELECT vec_id, embedding,
           unnest(generate_series(1, len(embedding))) AS i
    FROM embeddings
)
SELECT (i - 1)::BIGINT AS dim,
       round(sum(embedding[i]::DOUBLE::DECIMAL(18,6))::DOUBLE / count(*), 4)
           + 0.0 AS mean_v,
       round(min(embedding[i]::DOUBLE), 4) + 0.0 AS min_v,
       round(max(embedding[i]::DOUBLE), 4) + 0.0 AS max_v,
       count(*) AS n_vecs
FROM e GROUP BY dim
""")
def q_embedding_dim_stats(spark, sf_dir):
    df = corpus.embedding_dim_stats(load_table(spark, sf_dir, "embeddings"))
    return _long(df, "dim")


@register("q_corpus_curation", """
WITH w AS (
    SELECT doc_id, lang,
           regexp_extract_all(text, '\\S+') AS words,
           regexp_extract_all(lower(text), '\\S+') AS lwords
    FROM documents
), tf AS (
    SELECT doc_id, t, count(*) AS c
    FROM (SELECT doc_id, unnest(lwords) AS t FROM w) GROUP BY doc_id, t
), rep AS (
    SELECT doc_id, max(c) / sum(c) AS top_ratio FROM tf GROUP BY doc_id
), scored AS (
    SELECT w.doc_id, w.lang, len(w.words) AS wc,
           round(len(list_distinct(w.words))
                 / greatest(len(w.words), 1), 4) AS unique_ratio,
           round(r.top_ratio, 4) AS top_ratio
    FROM w JOIN rep r USING (doc_id)
), gated AS (
    SELECT lang,
           (unique_ratio >= 0.40 AND top_ratio <= 0.12 AND wc >= 25)
               AS kept,
           wc
    FROM scored
)
SELECT lang, kept, count(*) AS n_docs,
       sum(wc)::BIGINT AS total_words
FROM gated GROUP BY lang, kept
""")
def q_corpus_curation(spark, sf_dir):
    """The end-to-end curation gate a pre-training pipeline runs:
    lexical-diversity + repetition + length thresholds composed into
    a keep/drop decision, rolled up per language. Composes
    quality_score + repetition_ratio on one scan each, joined on
    doc_id (both sides already partial-aggregated)."""
    docs = load_table(spark, sf_dir, "documents")
    q = ta.quality_score(docs).select("doc_id", "word_count", "unique_ratio")
    rep = ta.repetition_ratio(docs).select(
        "doc_id", F.col("top_token_ratio").alias("top_ratio")
    )
    kept = (
        (F.col("unique_ratio") >= 0.40)
        & (F.col("top_ratio") <= 0.12)
        & (F.col("word_count") >= 25)
    )
    return (
        docs.select("doc_id", "lang")
        .join(q, "doc_id")
        .join(rep, "doc_id")
        .groupBy("lang", kept.alias("kept"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("word_count").cast("long").alias("total_words"),
        )
    )


@register("q_gopher_filters", r"""
WITH s AS (
    SELECT doc_id,
           len(regexp_extract_all(text, '\S+')) AS n_words,
           greatest(len(regexp_extract_all(text, '\S+')), 1) AS nw,
           length(regexp_replace(text, '\s', '', 'g')) AS word_chars,
           len(regexp_extract_all(text, '\S*[a-zA-Z]\S*')) AS alpha_words,
           len(regexp_extract_all(text, '#'))
               + len(regexp_extract_all(text, '\.\.\.')) AS n_symbols,
           greatest(len(regexp_split_to_array(text, '\n')), 1) AS n_lines,
           len(regexp_extract_all(text, '(?m)^[ \t]*[-*•]')) AS bullet_lines,
           len(regexp_extract_all(text, '(?m)\.\.\.$')) AS ellipsis_lines
    FROM documents
), r AS (
    SELECT doc_id, n_words,
           round(word_chars / nw, 4) AS mean_word_len,
           round(n_symbols / nw, 4) AS symbol_ratio,
           round(alpha_words / nw, 4) AS alpha_frac,
           round(bullet_lines / n_lines, 4) AS bullet_ratio,
           round(ellipsis_lines / n_lines, 4) AS ellipsis_ratio
    FROM s
)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac,
       bullet_ratio, ellipsis_ratio,
       (n_words BETWEEN 40 AND 100000
        AND mean_word_len BETWEEN 2.0 AND 12.0
        AND symbol_ratio < 0.1 AND alpha_frac > 0.7
        AND bullet_ratio <= 0.9 AND ellipsis_ratio <= 0.3) AS keep
FROM r
""")
def q_gopher_filters(spark, sf_dir):
    """Gopher-rules format gate (word-count/word-length/symbol/alpha/
    bullet/ellipsis heuristics → keep flag). Pure codegen'd regexp
    counts, shuffle-free. operators/text_analysis.py:gopher_quality."""
    return ta.gopher_quality(load_table(spark, sf_dir, "documents"))


@register("q_unigram_logprob", r"""
WITH toks AS (
    SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS tok
    FROM documents
), vocab AS (
    SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
), tot AS (
    SELECT count(*) AS n_total FROM toks
), surp AS (
    SELECT tok, round(-log2(cnt / n_total), 6) AS surprisal
    FROM vocab, tot
), agg AS (
    SELECT t.doc_id, count(*) AS n_tokens,
           (sum(s.surprisal::DECIMAL(18,6)) * 1000000)::BIGINT
               AS bits_micro_total
    FROM toks t JOIN surp s USING (tok)
    GROUP BY t.doc_id
)
SELECT doc_id, n_tokens, bits_micro_total,
       bits_micro_total // n_tokens // 1000 AS bits_milli_per_token
FROM agg
""")
def q_unigram_logprob(spark, sf_dir):
    """CCNet-style corpus-LM scoring: mean unigram surprisal
    (bits/token) per document — the perplexity-bucket quality filter
    with the corpus as its own LM. operators/corpus.py:unigram_logprob
    (surprisal rounded per DISTINCT token before the exact decimal sum
    so libm ulp drift can't reach the hash)."""
    return corpus.unigram_logprob(load_table(spark, sf_dir, "documents"))


@register("q_ccnet_buckets", r"""
WITH toks AS (
    SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS tok
    FROM documents
), vocab AS (
    SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
), tot AS (
    SELECT count(*) AS n_total FROM toks
), surp AS (
    SELECT tok, round(-log2(cnt / n_total), 6) AS surprisal
    FROM vocab, tot
), agg AS (
    SELECT t.doc_id, count(*) AS n_tokens,
           (sum(s.surprisal::DECIMAL(18,6)) * 1000000)::BIGINT
               AS bits_micro_total
    FROM toks t JOIN surp s USING (tok)
    GROUP BY t.doc_id
), scored AS (
    SELECT d.doc_id, d.lang,
           a.bits_micro_total // a.n_tokens // 1000
               AS bits_milli_per_token
    FROM documents d JOIN agg a USING (doc_id)
), ranked AS (
    SELECT *,
           row_number() OVER (PARTITION BY lang
                              ORDER BY bits_milli_per_token, doc_id) AS rk,
           count(*) OVER (PARTITION BY lang) AS nl
    FROM scored
)
SELECT doc_id, lang, bits_milli_per_token,
       CASE ((rk - 1) * 3) // nl
            WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail'
       END AS bucket
FROM ranked
""")
def q_ccnet_buckets(spark, sf_dir):
    """CCNet head/middle/tail buckets (Wenzek 2020): every document
    is placed into a PER-LANGUAGE surprisal tercile — head = most
    fluent third under the corpus LM, tail = most perplexing. The
    per-language split is the point: raw perplexity thresholds
    transfer badly across languages (different scripts, tokenization
    densities), so CCNet cuts each language by its own distribution.
    Ranks and terciles are all-integer (((rk-1)*3) div n_lang) with
    doc_id ties, so the bucket boundary is engine-exact; the
    surprisal column reuses the q_unigram_logprob protocol
    (per-token 6-dp pre-round, exact decimal sums). Windows are
    language-partitioned — group-sized, never a global sort.
    operators/corpus.py:unigram_logprob + this bucketing."""
    docs = load_table(spark, sf_dir, "documents")
    scored = (
        corpus.unigram_logprob(docs)
        .select("doc_id", "bits_milli_per_token")
        .join(docs.select("doc_id", "lang"), "doc_id")
    )
    wr = Window.partitionBy("lang").orderBy(
        "bits_milli_per_token", "doc_id"
    )
    wn = Window.partitionBy("lang")
    ranked = scored.select(
        "doc_id", "lang", "bits_milli_per_token",
        F.row_number().over(wr).alias("rk"),
        F.count("*").over(wn).alias("nl"),
    )
    return ranked.select(
        "doc_id", "lang", "bits_milli_per_token",
        F.expr(
            "CASE ((rk - 1) * 3) div nl"
            " WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END"
        ).alias("bucket"),
    )


@register("q_embedding_quantize", """
WITH vals AS (
    SELECT e.vec_id, (e.embedding[i.i])::DOUBLE AS v
    FROM embeddings e,
         unnest(generate_series(1, len(e.embedding))) AS i(i)
), scales AS (
    SELECT vec_id, max(abs(v)) / 127.0 AS scale FROM vals GROUP BY vec_id
), q AS (
    SELECT v.vec_id, s.scale, v.v,
           CASE WHEN s.scale = 0 THEN 0.0
                ELSE greatest(-127.0,
                              least(127.0, floor(v.v / s.scale + 0.5)))
           END AS qv
    FROM vals v JOIN scales s USING (vec_id)
), r AS (
    SELECT vec_id, scale, (v - qv * scale) AS resid FROM q
)
SELECT vec_id, round(scale, 6) AS scale,
       round((sum((resid * resid)::DECIMAL(18,12))::DOUBLE) / count(*), 9)
           AS mse,
       round(max(abs(resid)), 9) AS max_abs_err
FROM r GROUP BY 1, 2
""")
def q_embedding_quantize(spark, sf_dir):
    """Symmetric int8 quantization audit: per-vector scale,
    reconstruction MSE, max abs error — the check before shipping a
    quantized ANN index. floor(x+0.5) (not round) keeps the
    quantized value engine-identical. corpus.py:quantize_embeddings."""
    return corpus.quantize_embeddings(
        spread_scan(load_table(spark, sf_dir, "embeddings"),
                    key="vec_id"))


@register("q_stratified_sample", """
WITH rates AS (
    SELECT * FROM (VALUES ('de', 500), ('en', 250), ('es', 1000),
                          ('fr', 750)) AS t(lang, rate_permille)
), marked AS (
    SELECT d.doc_id, d.lang,
           coalesce(r.rate_permille, 100) AS rate_permille,
           ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 6))::BIGINT % 1000
               AS h
    FROM documents d LEFT JOIN rates r USING (lang)
)
SELECT doc_id, lang, rate_permille::BIGINT AS rate_permille
FROM marked WHERE h < rate_permille
""")
def q_stratified_sample(spark, sf_dir):
    """Corpus mixing: per-language keep rates applied by
    content-stable hash sampling (broadcast rates dim, scan-speed
    filter — no shuffle). corpus.py:stratified_sample."""
    out = corpus.stratified_sample(load_table(spark, sf_dir, "documents"))
    return _long(out, "rate_permille")


@register("q_embedding_covariance", """
WITH vals AS (
    SELECT e.vec_id, (i.i - 1)::BIGINT AS i, (e.embedding[i.i])::DOUBLE AS v
    FROM embeddings e,
         unnest(generate_series(1, len(e.embedding))) AS i(i)
), sums AS (
    SELECT i, sum(v::DECIMAL(28,12)) AS s FROM vals GROUP BY i
), nn AS (
    SELECT count(*)::DOUBLE AS n FROM embeddings
), prods AS (
    SELECT a.i AS i, b.i AS j,
           sum((a.v * b.v)::DECIMAL(28,12)) AS sij
    FROM vals a JOIN vals b ON a.vec_id = b.vec_id AND a.i <= b.i
    GROUP BY 1, 2
)
SELECT p.i AS dim_i, p.j AS dim_j,
       round(((p.sij::DOUBLE)
              - (sa.s::DOUBLE) * (sb.s::DOUBLE) / nn.n) / (nn.n - 1), 6)
           + 0.0 AS cov
FROM prods p
JOIN sums sa ON sa.i = p.i
JOIN sums sb ON sb.i = p.j, nn
""")
def q_embedding_covariance(spark, sf_dir):
    """Exact covariance matrix entries over the embedding column (the
    PCA/whitening statistic; upper triangle). Per-row products sum in
    DECIMAL(28,12) for engine-exact accumulation.
    corpus.py:embedding_covariance; the one-row-per-partition numpy
    partial path for true scale is corpus.py:pca_project."""
    return corpus.embedding_covariance(load_table(spark, sf_dir, "embeddings"))


@register("q_sequence_pack", f"""
WITH RECURSIVE {CHUNK_CTE}, pack AS (
    SELECT doc_id, chunk_index, token_count,
           0 AS seq_id, token_count AS seq_fill
    FROM chunks_f WHERE chunk_index = 0
    UNION ALL
    SELECT c.doc_id, c.chunk_index, c.token_count,
           CASE WHEN p.seq_fill + c.token_count > {chunking.DEFAULT_PACK_BUDGET}
                THEN p.seq_id + 1 ELSE p.seq_id END,
           CASE WHEN p.seq_fill + c.token_count > {chunking.DEFAULT_PACK_BUDGET}
                THEN c.token_count ELSE p.seq_fill + c.token_count END
    FROM pack p JOIN chunks_f c
      ON c.doc_id = p.doc_id AND c.chunk_index = p.chunk_index + 1
)
SELECT doc_id, chunk_index, token_count::BIGINT AS token_count,
       seq_id::BIGINT AS seq_id, seq_fill::BIGINT AS seq_fill
FROM pack
""")
def q_sequence_pack(spark, sf_dir):
    """Next-fit sequence packing of chunks into token-budget training
    sequences (batch assembly for pre-training). Sequential recurrence
    → applyInPandas per doc group; the oracle replays the identical
    recurrence as a recursive CTE. chunking.py:sequence_pack."""
    ch = chunking.chunk_documents(load_table(spark, sf_dir, "documents"))
    return chunking.sequence_pack(ch)


@register("q_sequence_texts", f"""
WITH RECURSIVE {CHUNK_CTE}, pack AS (
    SELECT doc_id, chunk_index, token_count,
           0 AS seq_id, token_count AS seq_fill
    FROM chunks_f WHERE chunk_index = 0
    UNION ALL
    SELECT c.doc_id, c.chunk_index, c.token_count,
           CASE WHEN p.seq_fill + c.token_count > {chunking.DEFAULT_PACK_BUDGET}
                THEN p.seq_id + 1 ELSE p.seq_id END,
           CASE WHEN p.seq_fill + c.token_count > {chunking.DEFAULT_PACK_BUDGET}
                THEN c.token_count ELSE p.seq_fill + c.token_count END
    FROM pack p JOIN chunks_f c
      ON c.doc_id = p.doc_id AND c.chunk_index = p.chunk_index + 1
)
SELECT p.doc_id, p.seq_id::BIGINT AS seq_id,
       string_agg(cf.text_content, ' ' ORDER BY p.chunk_index)
           AS seq_text,
       sum(p.token_count)::BIGINT AS n_tokens,
       count(*) AS n_chunks
FROM pack p
JOIN chunks_f cf
  ON cf.doc_id = p.doc_id AND cf.chunk_index = p.chunk_index
GROUP BY 1, 2
""")
def q_sequence_texts(spark, sf_dir):
    """Materialized training sequences: packed chunks concatenated in
    order — the shard-writer step after sequence_pack. Assembly is
    array_sort(collect_list(struct)) + array_join: the sort key makes
    the concat order deterministic, so the group agg needs no sorted
    shuffle; one exchange on (doc_id, seq_id)."""
    ch = chunking.chunk_documents(load_table(spark, sf_dir, "documents"))
    packed = chunking.sequence_pack(ch)
    j = packed.join(ch.select("doc_id", "chunk_index", "text_content"),
                    ["doc_id", "chunk_index"])
    agg = j.groupBy("doc_id", "seq_id").agg(
        F.array_sort(
            F.collect_list(F.struct("chunk_index", "text_content"))
        ).alias("parts"),
        F.sum("token_count").cast("long").alias("n_tokens"),
        F.count("*").alias("n_chunks"),
    )
    return agg.select(
        "doc_id", "seq_id",
        F.array_join(
            F.transform(F.col("parts"), lambda p: p["text_content"]), " "
        ).alias("seq_text"),
        "n_tokens", "n_chunks",
    )


@register("q_shard_assignment", f"""
WITH toks AS (
    SELECT doc_id,
           len(regexp_extract_all(lower(text), '\\S+')) AS n_tokens
    FROM documents
), cum AS (
    SELECT doc_id, n_tokens,
           sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS cum_before
    FROM toks
)
SELECT CAST(coalesce(cum_before, 0) // {SHARD_TOKENS} AS BIGINT)
           AS shard_id,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM cum
GROUP BY shard_id
""")
def q_shard_assignment(spark, sf_dir):
    """Training-shard writer planning: assign doc_id-ordered documents
    to fixed token-budget output shards (shard = floor(tokens-before /
    budget)) and report per-shard manifests.

    The naive form is a GLOBAL ordered cumsum — a single-partition
    window at 100 TB. sources/shards.py:shard_assignments runs the
    classic two-level distributed prefix-sum instead: (1) cumsum
    WITHIN doc_id range buckets (partitioned window, parallel over
    buckets), (2) per-bucket totals — one tiny row per bucket —
    cumsummed and broadcast back as bucket offsets. global_before =
    bucket_offset + within_before. The only ordered window over a
    single partition runs on #buckets rows, not #docs. Oracle: the
    equivalent single global window cumsum."""
    from ..sources.shards import shard_assignments

    docs = load_table(spark, sf_dir, "documents")
    return (
        shard_assignments(
            docs, shard_tokens=SHARD_TOKENS, bucket_size=SHARD_BUCKET
        )
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@register("q_incremental_rollup", """
SELECT lang, source,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(n_chars) AS min_chars,
       max(n_chars) AS max_chars,
       round((sum(n_chars::DECIMAL(18,6)) / count(*))::DOUBLE, 2)
           AS avg_chars
FROM documents
GROUP BY lang, source
""")
def q_incremental_rollup(spark, sf_dir):
    """Incremental aggregate maintenance: the per-(lang, source)
    corpus rollup maintained as ALGEBRAIC partial states — a base
    partial (docs with doc_id % 10 != 0, the 'already ingested' set)
    merged with a delta partial (doc_id % 10 == 0, the 'new batch')
    by re-aggregation, never by recomputing over the full corpus.

    Every stat is decomposable (count/sum/min/max merge associatively;
    avg derives from merged sum/count at the end), which is exactly
    what lets a 100 TB nightly rollup absorb a per-batch delta with
    work proportional to the DELTA — the same contract as a streaming
    state-store merge or a materialized-view refresh. The oracle is
    the full recompute: passing the hash check IS the proof that the
    incremental merge equals recomputation."""
    docs = load_table(spark, sf_dir, "documents")

    def partial(df):
        return df.groupBy("lang", "source").agg(
            F.count("*").alias("p_n"),
            F.sum("n_chars").alias("p_sum"),
            F.min("n_chars").alias("p_min"),
            F.max("n_chars").alias("p_max"),
            F.sum(_dec(F.col("n_chars"))).alias("p_sum_exact"),
        )

    base = partial(docs.where(F.col("doc_id") % 10 != 0))
    delta = partial(docs.where(F.col("doc_id") % 10 == 0))
    return (
        base.unionByName(delta)
        .groupBy("lang", "source")
        .agg(
            F.sum("p_n").alias("n_docs"),
            F.sum("p_sum").alias("total_chars"),
            F.min("p_min").alias("min_chars"),
            F.max("p_max").alias("max_chars"),
            F.round(
                (F.sum("p_sum_exact") / F.sum("p_n")).cast("double"), 2
            ).alias("avg_chars"),
        )
    )


@register("q_bm25_scores", f"""
WITH toks AS (
    SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS term
    FROM documents
), tf AS (
    SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
), dl AS (
    SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1
), totals AS (
    SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_dl FROM dl
), qtf AS (
    SELECT doc_id, term, tf FROM tf
    WHERE term IN ({", ".join(f"'{t}'" for t in BM25_TERMS)})
), idf AS (
    SELECT d.term,
           round(ln(((t.n_docs - d.df)::DOUBLE + 0.5)
                    / (d.df::DOUBLE + 0.5) + 1.0), 6) AS idf
    FROM (SELECT term, CAST(count(*) AS BIGINT) AS df
          FROM qtf GROUP BY term) d, totals t
), scored AS (
    SELECT q.doc_id,
           round(i.idf * (q.tf::DOUBLE * {BM25_K1 + 1.0})
                 / (q.tf::DOUBLE + {BM25_K1}
                    * ({1.0 - BM25_B} + {BM25_B} * l.dl::DOUBLE
                       / (t.total_dl::DOUBLE / t.n_docs))), 6)
               AS term_score
    FROM qtf q JOIN idf i USING (term) JOIN dl l USING (doc_id), totals t
)
SELECT doc_id, count(*) AS n_terms_matched,
       (sum(term_score::DECIMAL(18,6)))::DOUBLE AS bm25
FROM scored GROUP BY doc_id
""")
def q_bm25_scores(spark, sf_dir):
    """Okapi BM25 relevance of every document against a fixed query
    (join/hash/vector/filter) — the retrieval scorer for a corpus
    search index. operators/corpus.py:bm25_scores: query-term tf table
    is |terms| rows/doc, idf is a broadcast dim, corpus totals a 1-row
    crossJoin; the only doc-sized shuffle is tf ⋈ doc-length on
    doc_id. idf and per-term scores rounded to 6 dp before the exact
    decimal sum (unigram_logprob's libm-ulp rule)."""
    return corpus.bm25_scores(
        load_table(spark, sf_dir, "documents"),
        BM25_TERMS, k1=BM25_K1, b=BM25_B,
    )


@register("q_dsir_weights", _DSIR_ORACLE)
def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (Xie 2023): hashed-unigram importance
    log-ratio of a deterministic in-domain target slice vs the raw
    corpus, in integer micro-nats per document — the data-selection
    scorer for curating pretraining corpora toward a domain. Both
    bucket models and the log-ratio table are fixed 256-row broadcast
    dims at any corpus scale. operators/corpus.py:dsir_logweights."""
    return corpus.dsir_logweights(
        load_table(spark, sf_dir, "documents"),
        target_mod=_DSIR_MOD, n_buckets=_DSIR_B,
    )


@register("q_bpe_merge_step", rf"""
WITH toks AS (
    SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS word
    FROM documents
), vocab AS (
    SELECT word, count(*) AS cnt FROM toks GROUP BY word
), pairs AS (
    SELECT substring(v.word, i.i, 1) AS a,
           substring(v.word, i.i + 1, 1) AS b,
           v.cnt
    FROM vocab v,
         unnest(generate_series(1, length(v.word) - 1)) AS i(i)
    WHERE length(v.word) >= 2
), ranked AS (
    SELECT a, b, CAST(sum(cnt) AS BIGINT) AS n_occurrences
    FROM pairs GROUP BY a, b
)
SELECT a, b, n_occurrences FROM ranked
ORDER BY n_occurrences DESC, a, b LIMIT {_BPE_TOPK}
""")
def q_bpe_merge_step(spark, sf_dir):
    """The statistics pass of BPE tokenizer training: count adjacent
    symbol pairs over the corpus and rank the merge candidates — the
    inner loop a distributed tokenizer trainer runs once per merge.

    Vocab-first (the optimization every real BPE trainer uses, and
    the only shape that survives 100 TB): pairs are generated from
    the DISTINCT word table weighted by word count, so the
    explode×substring fan-out runs over the Zipf-bounded vocab
    (~O(corpus^0.5) rows), never over the token stream. Pure
    sequence+substring codegen — no higher-order functions, no
    Python. Top-k via a single bounded sort (TakeOrderedAndProject),
    deterministic ties by symbol pair."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(parse.tokens("text")).alias("word")
    )
    vocab = toks.groupBy("word").agg(F.count("*").alias("cnt"))
    # single-char words generate no pairs; the length filter also keeps
    # Spark's sequence() ascending (sequence(1, 0) would DESCEND and
    # emit a phantom (char, '') pair where DuckDB's generate_series is
    # simply empty)
    pairs = vocab.where(F.length("word") >= 2).select(
        "word", "cnt",
        F.explode(
            F.sequence(F.lit(1), F.length("word") - 1)
        ).alias("i"),
    ).select(
        F.substring(F.col("word"), F.col("i").cast("int"), 1)
            .alias("a"),
        F.expr("substring(word, i + 1, 1)").alias("b"),
        "cnt",
    )
    return (
        pairs.groupBy("a", "b")
        .agg(F.sum("cnt").cast("long").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "a", "b")
        .limit(_BPE_TOPK)
    )


@register("q_mixing_weights", """
WITH c AS (
    SELECT lang, count(*) AS n FROM documents GROUP BY lang
), w AS (
    SELECT lang, n, CAST(round(sqrt(n) * 1000000) AS BIGINT) AS w_micro
    FROM c
), t AS (
    SELECT CAST(sum(w_micro) AS BIGINT) AS tw,
           CAST(sum(n) AS BIGINT) AS tn
    FROM w
)
SELECT lang, CAST(n AS BIGINT) AS n_docs,
       CAST(n * 1000000 // tn AS BIGINT) AS raw_ppm,
       CAST(w_micro * 1000000 // tw AS BIGINT) AS alpha_ppm
FROM w, t
""")
def q_mixing_weights(spark, sf_dir):
    """Temperature-based corpus mixing table (α = 0.5): per-language
    sampling share ∝ count^α next to the raw proportion — the
    T5/mT5-style recipe that upsamples low-resource languages when
    assembling a multilingual training mix. Integer-exact protocol:
    sqrt is IEEE-correctly-rounded (can't drift between engines, unlike
    ln/pow), shares are floor-division ppm over exact BIGINT sums.
    operators/corpus.py:mixing_weights."""
    return corpus.mixing_weights(
        load_table(spark, sf_dir, "documents"), stratum_col="lang"
    )


@register("q_sparse_sim_topk", rf"""
WITH tk AS (
    SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS ws
    FROM documents
), sh AS (
    SELECT DISTINCT doc_id,
           ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS term
    FROM tk, unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS g(i)
), dfreq AS (
    SELECT term, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY 1
    HAVING count(*) BETWEEN {_SPARSE_DF_MIN} AND {_SPARSE_DF_MAX}
), n AS (SELECT count(*) AS n_docs FROM documents),
idf AS (
    SELECT term, round(ln((n.n_docs + 1) / (d.df + 1)), 6) AS idf
    FROM dfreq d, n
), w AS (
    SELECT s.term, s.doc_id, i.idf AS wt
    FROM sh s JOIN idf i USING (term)
), norms AS (
    SELECT doc_id,
           sqrt((sum((wt * wt)::DECIMAL(28,12)))::DOUBLE) AS nrm
    FROM w GROUP BY 1
), dots AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           sum((a.wt * b.wt)::DECIMAL(28,12)) AS dot
    FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
    GROUP BY 1, 2
), scored AS (
    SELECT d.doc_a, d.doc_b,
           round((d.dot::DOUBLE) / (na.nrm * nb.nrm), 4) AS cos_sim
    FROM dots d
    JOIN norms na ON na.doc_id = d.doc_a
    JOIN norms nb ON nb.doc_id = d.doc_b
), sym AS (
    SELECT doc_a AS doc_id, doc_b AS neighbor_id, cos_sim FROM scored
    UNION ALL
    SELECT doc_b, doc_a, cos_sim FROM scored
), ranked AS (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY cos_sim DESC, neighbor_id)
                  AS rank
    FROM sym
)
SELECT doc_id, neighbor_id, cos_sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {_SPARSE_K}
""")
def q_sparse_sim_topk(spark, sf_dir):
    """Related documents by sparse lexical similarity — the inverted-
    index sibling of embedding ANN: idf-weighted cosine over distinct
    word 3-gram sets via a shingle-keyed pair join over DISCRIMINATIVE
    shingles only (df ∈ [2, 20]; shingles because unigram spaces on
    narrow vocabularies have no discriminative terms — measured 31
    words vs 27k shingles on this corpus). The df cap bounds pair
    fanout at vocab·c²/2. idf rounds to 6 dp before use;
    weight-product sums run in DECIMAL(28,12).
    operators/corpus.py:sparse_sim_topk."""
    return corpus.sparse_sim_topk(
        load_table(spark, sf_dir, "documents"),
        df_min=_SPARSE_DF_MIN, df_max=_SPARSE_DF_MAX, k=_SPARSE_K,
    )


@register("q_pagerank_terms", _PR_ORACLE)
def q_pagerank_terms(spark, sf_dir):
    """PageRank over the term co-occurrence graph: distinct document
    tokens are nodes, co-occurrence in a document is a (directed both
    ways) edge, and 3 unrolled power iterations run in exact
    integer micro-rank fixed point (operators/graph.py — floats would
    hash-differ across engines in accumulation order; integer
    truncating division replays identically in the unrolled-CTE
    oracle). The graph build is the classic co-occurrence self-join
    (per-doc quadratic in DISTINCT terms — bounded by doc length);
    each iteration is one shuffle on dst. The library operator
    (pagerank_integer) takes any edge list — the term graph here is
    the corpus's concept-importance readout."""
    from ..operators.graph import pagerank_integer

    toks = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(parse.raw_tokens("text")).alias("ent"),
        )
        .distinct()
    )
    a, b = toks.alias("a"), toks.alias("b")
    edges = (
        a.join(b, "doc_id")
        .where(F.col("a.ent") != F.col("b.ent"))
        .select(F.col("a.ent").alias("src"), F.col("b.ent").alias("dst"))
        .distinct()
        # the co-occurrence self-join is referenced by nodes/deg/every
        # iteration — unmaterialized, iteration k re-executes the edge
        # build O(2^k) times through the growing lineage (measured:
        # 10.1 s -> 2.8 s at sf0.1 with edge + per-iteration rank
        # checkpoints; the remainder is the one honest edge build)
        .localCheckpoint()
    )
    return pagerank_integer(
        edges, iterations=_PR_ITERS, materialize=True
    ).select("ent", "degree", "pagerank_micro")


@register("q_tokenizer_fertility", f"""
WITH per_doc AS (
    SELECT lang,
           len(regexp_extract_all(text, '\\S+'))::BIGINT AS words,
           len(regexp_extract_all(text, '{ta.RE_BPE_TOKEN}'))::BIGINT
               AS toks,
           length(regexp_replace(text, '\\s+', '', 'g'))::BIGINT AS chars
    FROM documents
)
SELECT lang, count(*)::BIGINT AS n_docs,
       sum(words)::BIGINT AS total_words,
       sum(toks)::BIGINT AS total_tokens,
       ((1000000 * sum(toks)) // greatest(sum(words), 1))::BIGINT
           AS fertility_ppm,
       ((1000 * sum(chars)) // greatest(sum(toks), 1))::BIGINT
           AS chars_per_token_milli
FROM per_doc
GROUP BY lang
""")
def q_tokenizer_fertility(spark, sf_dir):
    """Tokenizer fertility per language: subword (BPE-ish regex)
    tokens per whitespace word, and characters per token — the
    compression readout that decides tokenizer/vocab fit per language
    before a training run (fertility spikes on a language mean its
    text costs disproportionate sequence length). Map-side-combinable
    aggregation to one row per lang; integer ppm/milli protocol.
    Uses the same RE_BPE_TOKEN as token_count (text_analysis.py:25)
    so the two readouts share a tokenizer definition."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        F.size(parse.raw_tokens("text")).cast("long").alias("words"),
        F.size(
            F.regexp_extract_all("text", F.lit(ta.RE_BPE_TOKEN), F.lit(0))
        ).cast("long").alias("toks"),
        F.length(F.regexp_replace("text", r"\s+", "")).cast("long")
        .alias("chars"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("words").cast("long").alias("total_words"),
            F.sum("toks").cast("long").alias("total_tokens"),
            F.sum("chars").cast("long").alias("total_chars"),
        )
        .select(
            "lang", "n_docs", "total_words", "total_tokens",
            F.expr(
                "(1000000 * total_tokens) div greatest(total_words, 1L)"
            ).cast("long").alias("fertility_ppm"),
            F.expr(
                "(1000 * total_chars) div greatest(total_tokens, 1L)"
            ).cast("long").alias("chars_per_token_milli"),
        )
    )


@register("q_term_assoc", """
WITH toks AS (
    SELECT DISTINCT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS t
    FROM documents
), n_t AS (
    SELECT count(*)::BIGINT AS n FROM documents
), df_t AS (
    SELECT t, count(*)::BIGINT AS dfreq FROM toks GROUP BY t
), pairs AS (
    SELECT a.t AS term_a, b.t AS term_b, count(*)::BIGINT AS c_ab
    FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND a.t < b.t
    GROUP BY 1, 2
)
SELECT p.term_a, p.term_b, p.c_ab, da.dfreq AS df_a, db.dfreq AS df_b,
       ((1000 * n.n * p.c_ab) // (da.dfreq * db.dfreq))::BIGINT
           AS lift_milli
FROM pairs p
JOIN df_t da ON da.t = p.term_a
JOIN df_t db ON db.t = p.term_b
CROSS JOIN n_t n
WHERE p.c_ab >= 5
""")
def q_term_assoc(spark, sf_dir):
    """Term-association lift over document co-occurrence:
    lift(a,b) = P(a,b)/(P(a)P(b)) in integer millis — the log-free
    sibling of PMI (ratios of counts need no transcendentals, so the
    oracle replays it exactly; lift>1000 means the pair co-occurs
    more than independence predicts). Plan: distinct per-doc terms,
    the standard co-occurrence self-join (bounded per-doc quadratic),
    pair counts in one shuffle, then joins against the tiny
    doc-frequency relation. c_ab>=5 floors support. The milli product
    1000·n·c_ab needs DECIMAL(38,0) past n~3e6 docs (documented
    bound, same protocol as q_chi2_drift)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(parse.raw_tokens("text")).alias("t"),
    ).distinct()
    n_t = docs.agg(F.count("*").cast("long").alias("n"))
    df_t = toks.groupBy("t").agg(F.count("*").cast("long").alias("dfreq"))
    a, b = toks.alias("a"), toks.alias("b")
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("a.t") < F.col("b.t"))
        .groupBy(
            F.col("a.t").alias("term_a"), F.col("b.t").alias("term_b")
        )
        .agg(F.count("*").cast("long").alias("c_ab"))
        .where(F.col("c_ab") >= 5)
    )
    return (
        pairs.join(
            F.broadcast(df_t.select(F.col("t").alias("term_a"),
                                    F.col("dfreq").alias("df_a"))),
            "term_a",
        )
        .join(
            F.broadcast(df_t.select(F.col("t").alias("term_b"),
                                    F.col("dfreq").alias("df_b"))),
            "term_b",
        )
        .crossJoin(F.broadcast(n_t))
        .select(
            "term_a", "term_b", "c_ab", "df_a", "df_b",
            F.expr("(1000 * n * c_ab) div (df_a * df_b)")
            .cast("long").alias("lift_milli"),
        )
    )


@register("q_spearman_rank_corr", """
WITH m AS (
    SELECT doc_id, n_chars,
           len(list_distinct(regexp_extract_all(lower(text), '\\S+')))
               AS n_distinct
    FROM documents
), r AS (
    SELECT doc_id,
           row_number() OVER (ORDER BY n_chars, doc_id) AS ra,
           row_number() OVER (ORDER BY n_distinct, doc_id) AS rb
    FROM m
), d AS (
    SELECT count(*)::BIGINT AS n,
           sum((ra - rb) * (ra - rb))::BIGINT AS d2
    FROM r
)
SELECT n AS n_docs, d2 AS sum_d2,
       round(cast(1.0 as double)
             - cast(6.0 as double) * cast(d2 as double)
               / (cast(n as double)
                  * (cast(n as double) * cast(n as double)
                     - cast(1.0 as double))), 6) AS rho
FROM d
""")
def q_spearman_rank_corr(spark, sf_dir):
    """Spearman rank agreement between two document orderings — the
    ranker-agreement audit (does the cheap signal order the corpus
    like the expensive one? run BEFORE swapping a quality scorer at
    100 TB). Demonstrated on (n_chars rank) vs (distinct-token-count
    rank); ties broken by doc_id so both engines rank identically.
    Ranks and Σd² are exact integers; rho = 1 − 6Σd²/(n(n²−1)) is one
    shared double expression with every literal cast (the Wilson
    protocol — int64→double casts round identically, so it is
    engine-exact at any n, where the earlier integer-ppm form
    overflowed int64 at n≈17k). NO corpus-sized global sort: each rank decomposes
    as (count of docs with a smaller key value — a running sum over
    the VALUE-DOMAIN-sized per-value counts) + (row_number within
    the equal-value group — value-partitioned, group-sized windows),
    the q_shard_assignment two-level prefix-sum shape. The oracle
    uses the plain global row_number: the decomposition is proven
    equal by the hash gate."""
    docs = load_table(spark, sf_dir, "documents")
    m = docs.select(
        "doc_id", "n_chars",
        F.size(F.array_distinct(parse.tokens("text"))).alias("n_distinct"),
    )

    def perm_rank(df, key, out):
        cnts = df.groupBy(key).agg(F.count("*").alias("_c"))
        wv = Window.orderBy(key).rowsBetween(
            Window.unboundedPreceding, -1
        )
        offs = cnts.select(
            key, F.coalesce(F.sum("_c").over(wv), F.lit(0)).alias("_off")
        )
        wi = Window.partitionBy(key).orderBy("doc_id")
        return (
            df.join(offs, key)
            .withColumn(
                out,
                (F.col("_off") + F.row_number().over(wi)).cast("long"),
            )
            .drop("_off")
        )

    r = perm_rank(m, "n_chars", "ra")
    r = perm_rank(r, "n_distinct", "rb").select("doc_id", "ra", "rb")
    return (
        r.agg(
            F.count("*").cast("long").alias("n"),
            F.sum(
                (F.col("ra") - F.col("rb")) * (F.col("ra") - F.col("rb"))
            ).cast("long").alias("d2"),
        )
        .select(
            F.col("n").alias("n_docs"),
            F.col("d2").alias("sum_d2"),
            # rho in DOUBLE with every literal cast (the Wilson-bound
            # protocol): the earlier all-integer ppm form overflowed
            # int64 once 6e6·Σd² passed 2^63 (n ≈ 17k docs) — Spark
            # would wrap silently, DuckDB would error. int64→double
            # casts round identically in both engines, so parity
            # holds at any n; Σd² itself fits int64 to n ≈ 2.1M docs
            # (switch its accumulator to DECIMAL(38,0) beyond that).
            F.expr(
                "round(cast(1.0 as double)"
                " - cast(6.0 as double) * cast(d2 as double)"
                " / (cast(n as double)"
                "    * (cast(n as double) * cast(n as double)"
                "       - cast(1.0 as double))), 6)"
            ).alias("rho"),
        )
    )


@register("q_zipf_slope", f"""
WITH toks AS (
    SELECT unnest(regexp_extract_all(lower(text), '\\S+')) AS tok
    FROM documents
), freq AS (
    SELECT tok, count(*)::BIGINT AS cnt FROM toks GROUP BY 1
), ranked AS (
    SELECT tok, cnt,
           row_number() OVER (ORDER BY cnt DESC, tok) AS rnk
    FROM freq
), top AS (
    SELECT round(ln(rnk), 6) AS x, round(ln(cnt), 6) AS y
    FROM ranked WHERE rnk <= {_ZIPF_TOP}
), s AS (
    SELECT count(*)::BIGINT AS n,
           sum(x::DECIMAL(18,6)) AS sx, sum(y::DECIMAL(18,6)) AS sy,
           sum((x * x)::DECIMAL(28,12)) AS sxx,
           sum((x * y)::DECIMAL(28,12)) AS sxy
    FROM top
)
SELECT n AS n_terms,
       round((n * (sxy::DOUBLE) - (sx::DOUBLE) * (sy::DOUBLE))
             / (n * (sxx::DOUBLE) - (sx::DOUBLE) * (sx::DOUBLE)), 6)
           AS zipf_slope,
       (round((n * (sxy::DOUBLE) - (sx::DOUBLE) * (sy::DOUBLE))
              / (n * (sxx::DOUBLE) - (sx::DOUBLE) * (sx::DOUBLE)), 6)
        BETWEEN -10 AND 0) AS slope_negative_ok
FROM s
""")
def q_zipf_slope(spark, sf_dir):
    """Zipf-law fit over the corpus vocabulary — the corpus-health
    readout LLM data work leans on (natural text shows log-freq ≈
    a + s·log-rank with s near −1; template spam, boilerplate floods,
    or synthetic junk bend the slope). OLS of round(ln cnt, 6) on
    round(ln rank, 6) over the top {_ZIPF_TOP} terms: the libm logs
    are 6-dp pre-rounded and summed as exact decimals (the
    unigram_logprob protocol), the closed-form slope is one double
    division rounded to 6 dp — engine-exact. One token explode +
    one groupBy; the regression runs over a {_ZIPF_TOP}-row
    relation."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(parse.tokens("text")).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count("*").cast("long").alias("cnt"))
    w = Window.orderBy(F.col("cnt").desc(), "tok")
    top = (
        freq.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _ZIPF_TOP)
        .select(
            F.round(F.log("rnk"), 6).alias("x"),
            F.round(F.log("cnt"), 6).alias("y"),
        )
    )
    s = top.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("x").cast("decimal(18,6)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(18,6)")).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(28,12)")).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(28,12)")).alias("sxy"),
    )
    slope = F.round(
        (
            F.col("n") * F.col("sxy").cast("double")
            - F.col("sx").cast("double") * F.col("sy").cast("double")
        )
        / (
            F.col("n") * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
        ),
        6,
    )
    return s.select(
        F.col("n").alias("n_terms"),
        slope.alias("zipf_slope"),
        slope.between(-10.0, 0.0).alias("slope_negative_ok"),
    )


@register("q_event_pattern_match", """
WITH seqs AS (
    SELECT user_id,
           count(*)::BIGINT AS n_events,
           string_agg(substr(event_type, 1, 1), ''
                      ORDER BY ts, event_id) AS seq
    FROM events GROUP BY 1
)
SELECT user_id, n_events, seq,
       len(regexp_extract_all(seq, 'cvp'))::BIGINT AS n_cvp,
       len(regexp_extract_all(seq, 'ce'))::BIGINT AS n_click_error
FROM seqs
""")
def q_event_pattern_match(spark, sf_dir):
    """MATCH_RECOGNIZE-lite: per-user event-PATTERN occurrence counts
    over the time-ordered event sequence — the row-pattern feature
    Flink/Trino expose as MATCH_RECOGNIZE, expressed relationally:
    each user's events collapse to one ordered initial-letter string
    (c/v/p/s/e), and patterns are regexes over it (here the strictly
    CONSECUTIVE click→view→purchase run, which funnel queries with
    their any-gap firsts cannot express, plus click→error friction).
    Non-overlapping left-to-right match counts — identical regex
    semantics in both engines — and the FULL sequence string rides in
    the output, so the oracle hash pins the entire ordering, not just
    the counts. Per-user collect is user-history-sized (the
    sessionize/paths bound); ordering ties break on event_id."""
    ev = load_table(spark, sf_dir, "events")
    seqs = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.expr(
            "array_join(transform(array_sort(collect_list("
            "struct(ts, event_id, substring(event_type, 1, 1) AS ch)"
            ")), x -> x.ch), '')"
        ).alias("seq"),
    )
    return seqs.select(
        "user_id", "n_events", "seq",
        F.size(F.regexp_extract_all(F.col("seq"), F.lit("cvp"), 0))
        .cast("long").alias("n_cvp"),
        F.size(F.regexp_extract_all(F.col("seq"), F.lit("ce"), 0))
        .cast("long").alias("n_click_error"),
    )


@register("q_conversion_wilson", f"""
WITH d AS (
    SELECT epoch_us(ts) // {{day_us}} AS day,
           count(*)::BIGINT AS n,
           sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
               AS x
    FROM events GROUP BY 1
)
SELECT day, n AS n_events, x AS n_purchases,
       {_WILSON_RATE} AS rate,
       {_WILSON_LO} AS wilson_lo,
       {_WILSON_HI} AS wilson_hi,
       ({_WILSON_LO} <= {_WILSON_RATE}
        AND {_WILSON_RATE} <= {_WILSON_HI}) AS bound_order_ok
FROM d WHERE n > 0
""".replace("{day_us}", str(86_400_000_000)))
def q_conversion_wilson(spark, sf_dir):
    """Per-day purchase share (of all events) with Wilson 95%
    confidence bounds — the statistical-audit family's uncertainty
    readout (a day with 3/5 purchases is NOT better than one with
    300/1000; the Wilson interval says so where the raw share lies).
    Successes are a SUBSET of trials by construction (purchases ⊂
    all events), so p ∈ [0,1] and the sqrt argument is non-negative.
    The Wilson formula is ONE shared expression string parsed by both
    engines (the interleave_bits generator pattern): every operator
    in it (+, *, /, sqrt) is IEEE-correctly-rounded, so the unrounded
    doubles agree bit-for-bit and the 6-dp rounding is presentation,
    not reconciliation. The contract boolean pins lo <= rate <= hi.
    One groupBy(day); the formula runs over the calendar-sized
    relation."""
    ev = load_table(spark, sf_dir, "events")
    d = (
        ev.select(
            F.expr(f"(ts div 1000) div {86_400_000_000}").alias("day"),
            "event_type",
        )
        .groupBy("day")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).cast("long").alias("x"),
        )
        .where(F.col("n") > 0)
    )
    return d.select(
        "day",
        F.col("n").alias("n_events"),
        F.col("x").alias("n_purchases"),
        F.expr(_WILSON_RATE).alias("rate"),
        F.expr(_WILSON_LO).alias("wilson_lo"),
        F.expr(_WILSON_HI).alias("wilson_hi"),
        F.expr(
            f"{_WILSON_LO} <= {_WILSON_RATE}"
            f" AND {_WILSON_RATE} <= {_WILSON_HI}"
        ).alias("bound_order_ok"),
    )


@register("q_weighted_sample", f"""
WITH keyed AS (
    SELECT doc_id,
           greatest(n_chars, 1)::BIGINT AS weight,
           round(ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 13))::BIGINT
                     + 1) / {_U52})
                 / greatest(n_chars, 1), 9) AS skey
    FROM documents
), top AS (
    SELECT doc_id, weight, skey
    FROM keyed ORDER BY skey DESC, doc_id LIMIT {_WSAMPLE_K}
)
SELECT doc_id, weight, skey,
       row_number() OVER (ORDER BY skey DESC, doc_id)::BIGINT
           AS sample_rank
FROM top
""")
def q_weighted_sample(spark, sf_dir):
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    2006, the one-pass exponential-keys algorithm): every doc gets
    key = ln(u)/w with u a seedless md5-derived uniform (52-bit
    rational, exact in both engines) and w its weight (n_chars —
    sample long documents preferentially); the top-k by key IS an
    exact weighted sample without replacement — the standard
    distributed recipe because it needs ONE pass and a k-sized
    top-k, no sequential draws. Spark plans the top-k as
    TakeOrderedAndProject (per-partition heaps + k-row merge — no
    global sort); the rank window runs over the k-row result. Keys
    are 9-dp-rounded before ranking (libm ln ulp can't flip an
    order), ties break on doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.expr("cast(greatest(n_chars, 1) as bigint)")
    u = (
        F.expr(
            "cast(conv(substring(md5(cast(doc_id as string)), 1, 13),"
            " 16, 10) as bigint)"
        )
        + F.lit(1)
    ) / F.lit(_U52)
    keyed = docs.select(
        "doc_id",
        w.alias("weight"),
        F.round(F.log(u) / w, 9).alias("skey"),
    )
    top = keyed.orderBy(F.col("skey").desc(), "doc_id").limit(_WSAMPLE_K)
    rw = Window.orderBy(F.col("skey").desc(), "doc_id")
    return top.select(
        "doc_id", "weight", "skey",
        F.row_number().over(rw).cast("long").alias("sample_rank"),
    )


@register("q_domain_cap_sample", f"""
SELECT doc_id, source,
       rk::BIGINT AS sample_rank,
       rk <= {_DOMAIN_CAP} AS keep
FROM (
    SELECT doc_id, source,
           row_number() OVER (
               PARTITION BY source
               ORDER BY md5(doc_id::VARCHAR), doc_id
           ) AS rk
    FROM documents
)
""")
def q_domain_cap_sample(spark, sf_dir):
    """Per-domain document cap (the CCNet / RefinedWeb 'head domains
    dominate the crawl' mitigation): every source keeps at most
    _DOMAIN_CAP (20) documents, chosen by a seedless deterministic order
    (md5 of the doc id — a uniform permutation within each domain,
    reproducible in both engines), the rest are flagged out. The
    output keeps every row with its sample_rank so downstream can
    re-cap at any threshold <= the computed ranks without re-ranking.

    Scale shape: ONE hash shuffle on source; each window partition is
    domain-sized. Web corpora have millions of domains, so partitions
    are small and numerous — the good case for windows. A degenerate
    mega-domain (one domain = 10% of the corpus) is the q_top_customers
    salting scenario; the fix there (pre-aggregate + re-rank or
    sampled cutoff) applies unchanged because rank order is a pure
    function of (md5, doc_id), not of row position."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return docs.select("doc_id", "source").select(
        "doc_id", "source",
        F.row_number().over(w).cast("long").alias("sample_rank"),
    ).select(
        "doc_id", "source", "sample_rank",
        (F.col("sample_rank") <= _DOMAIN_CAP).alias("keep"),
    )


@register("q_bigram_logprob", r"""
WITH tk AS (
    SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS ws
    FROM documents
), big AS (
    SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
    FROM tk, unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS g(i)
), bc AS (
    SELECT w1, w2, count(*)::BIGINT AS c12 FROM big GROUP BY 1, 2
), uc AS (
    SELECT w1, sum(c12)::BIGINT AS c1 FROM bc GROUP BY 1
), v AS (
    SELECT count(DISTINCT w2) AS vocab FROM bc
), surp AS (
    SELECT bc.w1, bc.w2,
           round(-log2((bc.c12 + 1)::DOUBLE / (uc.c1 + v.vocab)), 6)
               AS bits
    FROM bc JOIN uc ON uc.w1 = bc.w1, v
)
SELECT b.doc_id, count(*)::BIGINT AS n_bigrams,
       (sum(s.bits::DECIMAL(18,6)) * 1000000)::BIGINT AS bits_micro_total,
       ((sum(s.bits::DECIMAL(18,6)) * 1000000)::BIGINT
        // count(*) // 1000)::BIGINT AS bits_milli_per_bigram
FROM big b JOIN surp s ON s.w1 = b.w1 AND s.w2 = b.w2
GROUP BY b.doc_id
""")
def q_bigram_logprob(spark, sf_dir):
    """Per-document surprisal under a corpus BIGRAM model with
    Laplace smoothing — the CCNet/KenLM-style LM quality filter one
    order up from q_unigram_logprob: P(w2|w1) = (c12+1)/(c1+V), so
    documents whose word ORDER is unusual score high even when their
    unigram mix is normal (shuffled text, keyword stuffing — exactly
    what the unigram filter cannot see). Same engine protocol as the
    unigram pass: the only libm call is log2, rounded to 6 dp at the
    model cell, then exact DECIMAL micro-bit accumulation. Scale
    shape: bigram model = one shuffle on (w1, w2) (map-side
    combinable, Zipf-bounded vocab²-capped), conditional totals one
    more on w1, then the doc scoring join shuffles on the bigram key;
    the vocab size is a 1-row broadcast."""
    tk = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        parse.tokens("text").alias("ws"),
    )
    big = (
        tk.where(F.size("ws") >= 2)
        .select(
            "doc_id", "ws",
            F.explode(F.sequence(F.lit(0), F.size("ws") - 2)).alias("i"),
        )
        .select(
            "doc_id",
            F.expr("ws[i]").alias("w1"),
            F.expr("ws[i + 1]").alias("w2"),
        )
    )
    bc = big.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("c12"))
    uc = bc.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    v = bc.agg(F.countDistinct("w2").alias("vocab"))
    surp = (
        bc.join(uc, "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "w1", "w2",
            F.round(
                -F.log2(
                    (F.col("c12") + 1).cast("double")
                    / (F.col("c1") + F.col("vocab"))
                ),
                6,
            ).alias("bits"),
        )
    )
    return (
        big.join(surp, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            (F.sum(F.col("bits").cast("decimal(18,6)")) * 1_000_000)
            .cast("long").alias("bits_micro_total"),
            F.expr(
                "CAST(CAST(sum(CAST(bits AS DECIMAL(18,6))) * 1000000"
                " AS BIGINT) div count(*) div 1000 AS BIGINT)"
            ).alias("bits_milli_per_bigram"),
        )
    )


@register("q_median_ci", f"""
WITH v AS (
    SELECT event_type, value, event_id FROM events
    WHERE value IS NOT NULL
), r AS (
    SELECT event_type, value,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY value, event_id) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM v
)
SELECT event_type, max(n)::BIGINT AS n,
       max(CASE WHEN rn = (n + 1) // 2 THEN value END) AS median_lo_stat,
       max(CASE WHEN rn = {_MCI_LO} THEN value END) AS ci_lo,
       max(CASE WHEN rn = {_MCI_HI} THEN value END) AS ci_hi
FROM r GROUP BY 1
""")
def q_median_ci(spark, sf_dir):
    """Distribution-free 95% confidence interval for the MEDIAN via
    order statistics (the binomial rank bounds, normal-approximated)
    — no bootstrap, no distributional assumption: the CI endpoints
    are the sample values at ranks (n ∓ 1.96√n)/2, which bracket the
    true median with ~95% coverage for any continuous distribution.
    The uncertainty readout q_events_percentiles stops short of: a
    median from 50 rows and one from 50k rows stop looking equally
    trustworthy. Rank selection by type-partitioned windows
    (group-sized); the rank-bound arithmetic is one cast-everything
    shared formula string per endpoint; value ties make the selected
    VALUE deterministic under any tie permutation because ranks
    order by value first."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull()
    )
    wr = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    r = ev.select(
        "event_type", "value",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    return r.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("value"))
        ).alias("median_lo_stat"),
        F.max(
            F.when(F.col("rn") == F.expr(_MCI_LO), F.col("value"))
        ).alias("ci_lo"),
        F.max(
            F.when(F.col("rn") == F.expr(_MCI_HI), F.col("value"))
        ).alias("ci_hi"),
    )


@register("q_ab_lift_test", f"""
WITH {_AB_ARMS_SQL}, wide AS (
    SELECT max(CASE WHEN arm = 'A' THEN n END) AS na,
           max(CASE WHEN arm = 'A' THEN x END) AS xa,
           max(CASE WHEN arm = 'B' THEN n END) AS nb,
           max(CASE WHEN arm = 'B' THEN x END) AS xb
    FROM arms
)
SELECT na, xa, nb, xb,
       ((xa * 1000000) // na)::BIGINT AS conv_a_ppm,
       ((xb * 1000000) // nb)::BIGINT AS conv_b_ppm,
       {_ABZ} AS z_stat,
       (abs({_ABZ}) >= 1.959964) AS significant_95
FROM wide
""")
def q_ab_lift_test(spark, sf_dir):
    """Two-proportion z-test over the seedless md5 experiment split —
    the readout q_ab_split_audit (balance) stops short of: is the
    conversion LIFT between arms statistically significant? Pooled-
    proportion z with the cast-everything shared formula string (the
    Wilson protocol: identical expression tree → bit-identical
    doubles → 6-dp presentation rounding), an epsilon under the sqrt
    so a degenerate all-convert/none-convert split yields z = 0
    rather than a 0/0, and the 95% cut at |z| ≥ 1.959964. Counts are
    distinct-user aggregations; the whole statistic runs on a 2-row
    relation pivoted to one row."""
    wide = _ab_arms(spark, sf_dir).agg(
        F.max(F.when(F.col("arm") == "A", F.col("n"))).alias("na"),
        F.max(F.when(F.col("arm") == "A", F.col("x"))).alias("xa"),
        F.max(F.when(F.col("arm") == "B", F.col("n"))).alias("nb"),
        F.max(F.when(F.col("arm") == "B", F.col("x"))).alias("xb"),
    )
    return wide.select(
        "na", "xa", "nb", "xb",
        F.expr("cast((xa * 1000000) div na as bigint)")
        .alias("conv_a_ppm"),
        F.expr("cast((xb * 1000000) div nb as bigint)")
        .alias("conv_b_ppm"),
        F.expr(_ABZ).alias("z_stat"),
        F.expr(f"abs({_ABZ}) >= 1.959964").alias("significant_95"),
    )

@register("q_token_coverage", f"""
WITH toks AS (
    SELECT unnest(regexp_extract_all(lower(text), '\\S+')) AS tok
    FROM documents
), freq AS (
    SELECT tok, count(*)::BIGINT AS cnt FROM toks GROUP BY 1
), ranked AS (
    SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rnk
    FROM freq
), tot AS (
    SELECT count(*)::BIGINT AS vocab_size, sum(cnt)::BIGINT AS total_tokens
    FROM freq
), cov AS (
    SELECT
      sum(CASE WHEN rnk <= {_COVERAGE_KS[0]} THEN cnt ELSE 0 END)::BIGINT
          AS c0,
      sum(CASE WHEN rnk <= {_COVERAGE_KS[1]} THEN cnt ELSE 0 END)::BIGINT
          AS c1,
      sum(CASE WHEN rnk <= {_COVERAGE_KS[2]} THEN cnt ELSE 0 END)::BIGINT
          AS c2
    FROM ranked
)
SELECT t.vocab_size, t.total_tokens,
       c.c0 AS top{_COVERAGE_KS[0]}_tokens,
       c.c1 AS top{_COVERAGE_KS[1]}_tokens,
       c.c2 AS top{_COVERAGE_KS[2]}_tokens,
       ((c.c0 * 1000000) // t.total_tokens)::BIGINT
           AS top{_COVERAGE_KS[0]}_ppm,
       ((c.c1 * 1000000) // t.total_tokens)::BIGINT
           AS top{_COVERAGE_KS[1]}_ppm,
       ((c.c2 * 1000000) // t.total_tokens)::BIGINT
           AS top{_COVERAGE_KS[2]}_ppm
FROM tot t, cov c
""")
def q_token_coverage(spark, sf_dir):
    """Vocabulary coverage curve: what fraction of the corpus's token
    mass the top-100/1k/10k unigrams cover — the tokenizer-budget
    planning readout (a 32k vocab is wasted if 10k types already
    cover 99.8%; conversely low top-10k coverage predicts high OOV
    under any budget — the complement of q_oov_rate's fixed-vocab
    view and q_heaps_law's growth view). The corpus collapses to the
    vocab relation first (Zipf-bounded, the q_vocab_build argument);
    the global rank window runs over vocab, never tokens, and the
    three coverage points are ONE conditional-aggregation pass —
    no k-table join, no repeated scans. Integer ppm output, 1 row."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(parse.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    ranked = freq.select(
        "cnt",
        F.row_number().over(
            Window.orderBy(F.col("cnt").desc(), F.col("tok"))
        ).alias("rnk"),
    )
    tot = freq.agg(
        F.count("*").cast("long").alias("vocab_size"),
        F.sum("cnt").cast("long").alias("total_tokens"),
    )
    cov = ranked.agg(*[
        F.sum(F.when(F.col("rnk") <= k, F.col("cnt")).otherwise(0))
        .cast("long").alias(f"c{i}")
        for i, k in enumerate(_COVERAGE_KS)
    ])
    out = tot.crossJoin(F.broadcast(cov))
    cols = ["vocab_size", "total_tokens"]
    for i, k in enumerate(_COVERAGE_KS):
        cols.append(F.col(f"c{i}").alias(f"top{k}_tokens"))
    for i, k in enumerate(_COVERAGE_KS):
        cols.append(
            F.expr(f"CAST((c{i} * 1000000) div total_tokens AS BIGINT)")
            .alias(f"top{k}_ppm"))
    return out.select(*cols)


@register("q_cohens_kappa", f"""
WITH {_kappa_pred_sql()}, tot AS (
    SELECT sum(n)::BIGINT AS n_docs,
           sum(CASE WHEN lang = pred_lang THEN n ELSE 0 END)::BIGINT
               AS n_agree
    FROM kp_conf
), marg AS (
    SELECT t.r, p.c
    FROM (SELECT lang AS k, sum(n)::BIGINT AS r
          FROM kp_conf GROUP BY 1) t
    JOIN (SELECT pred_lang AS k, sum(n)::BIGINT AS c
          FROM kp_conf GROUP BY 1) p ON p.k = t.k
), pe AS (
    SELECT sum(((m.r * 1000000) // t.n_docs) * m.c // t.n_docs)::BIGINT
               AS pe_ppm
    FROM marg m, tot t
)
SELECT t.n_docs, t.n_agree,
       ((t.n_agree * 1000000) // t.n_docs)::BIGINT AS agree_ppm,
       pe.pe_ppm AS expected_agree_ppm,
       CASE WHEN pe.pe_ppm = 1000000 THEN 1000000
            ELSE (1000000 * ((t.n_agree * 1000000) // t.n_docs
                             - pe.pe_ppm))
                 // (1000000 - pe.pe_ppm) END AS kappa_ppm
FROM tot t, pe
""")
def q_cohens_kappa(spark, sf_dir):
    """Cohen's kappa between the stopword-heuristic language ID and
    the ground-truth lang column — chance-corrected agreement, the
    honest grade for a classifier on an imbalanced label (raw
    accuracy flatters any predictor that parrots the majority
    class; q_lang_confusion gives the raw matrix, this gives the
    one-number skill score). ALL-INTEGER: observed and expected
    agreement become truncating-ppm BEFORE the kappa ratio, with
    each marginal product scaled through (r*1e6 div n)*c div n so
    nothing exceeds BIGINT even at 1e12 docs (the n^2-free
    formulation). The fact collapses to the |langs|^2 confusion
    matrix in one groupBy; everything after is driver-sized."""
    conf = (
        ta.language_id(load_table(spark, sf_dir, "documents"))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = conf.agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("lang") == F.col("pred_lang"), F.col("n"))
              .otherwise(0)).cast("long").alias("n_agree"),
    )
    r = conf.groupBy("lang").agg(F.sum("n").cast("long").alias("r"))
    c = conf.groupBy(F.col("pred_lang").alias("lang")).agg(
        F.sum("n").cast("long").alias("c"))
    pe = (
        r.join(c, "lang")
        .crossJoin(F.broadcast(tot.select("n_docs")))
        .agg(F.sum(F.expr(
            "((r * 1000000) div n_docs) * c div n_docs"
        )).cast("long").alias("pe_ppm"))
    )
    return tot.crossJoin(F.broadcast(pe)).select(
        "n_docs", "n_agree",
        F.expr("CAST((n_agree * 1000000) div n_docs AS BIGINT)")
        .alias("agree_ppm"),
        F.col("pe_ppm").alias("expected_agree_ppm"),
        F.expr(
            "CASE WHEN pe_ppm = 1000000 THEN CAST(1000000 AS BIGINT)"
            " ELSE CAST((1000000 * ((n_agree * 1000000) div n_docs"
            " - pe_ppm)) div (1000000 - pe_ppm) AS BIGINT) END"
        ).alias("kappa_ppm"),
    )

@register("q_embedding_effective_rank", f"""
WITH {_COV_CTE}, agg AS (
    SELECT count(CASE WHEN i = j THEN 1 END)::BIGINT AS n_dims,
           sum(CASE WHEN i = j THEN cov::DECIMAL(28,12)
                    ELSE 0 END) AS tr,
           sum(((CASE WHEN i = j THEN 1 ELSE 2 END) * cov * cov)
               ::DECIMAL(28,12)) AS fro2
    FROM ec_cov
)
SELECT n_dims,
       round(tr::DOUBLE, 6) AS trace_var,
       round(fro2::DOUBLE, 6) AS frobenius_sq,
       round((tr::DOUBLE) * (tr::DOUBLE) / (fro2::DOUBLE), 4)
           AS effective_rank,
       round((tr::DOUBLE) * (tr::DOUBLE) / (fro2::DOUBLE)
             / n_dims * 1000000, 0)::BIGINT AS erank_ratio_ppm
FROM agg
""")
def q_embedding_effective_rank(spark, sf_dir):
    """Effective (participation-ratio) rank of the embedding space,
    WITHOUT an eigensolve: trace(C)^2 / ||C||_F^2 — since trace is
    the eigenvalue sum and the Frobenius norm squared is the
    eigenvalue square sum, this is the standard (sum l)^2 / sum l^2
    collapse measure straight from covariance entries. The
    dimensionality-health gate before ANN/quantization work: a
    64-dim space with effective rank 6 wastes 90% of the vector
    budget and q_embedding_quantize's codebook should shrink
    accordingly (q_dim_variance_prune ranks dims; this grades the
    whole space in one number). Reuses the exact-decimal covariance
    relation (dims^2 rows — driver-sized); off-diagonals count
    twice by symmetry; doubles compose from the SAME 6dp-rounded
    entries both engines already hash-agree on."""
    cov = corpus.embedding_covariance(
        load_table(spark, sf_dir, "embeddings"))
    agg = cov.agg(
        F.sum(F.when(F.col("dim_i") == F.col("dim_j"), 1))
        .cast("long").alias("n_dims"),
        F.sum(F.when(F.col("dim_i") == F.col("dim_j"),
                     F.col("cov").cast("decimal(28,12)"))
              .otherwise(F.lit(0).cast("decimal(28,12)"))).alias("tr"),
        F.sum(F.expr(
            "CAST((CASE WHEN dim_i = dim_j THEN 1 ELSE 2 END)"
            " * cov * cov AS DECIMAL(28,12))"
        )).alias("fro2"),
    )
    return agg.select(
        "n_dims",
        F.expr("round(CAST(tr AS DOUBLE), 6)").alias("trace_var"),
        F.expr("round(CAST(fro2 AS DOUBLE), 6)").alias("frobenius_sq"),
        F.expr(
            "round(CAST(tr AS DOUBLE) * CAST(tr AS DOUBLE)"
            " / CAST(fro2 AS DOUBLE), 4)"
        ).alias("effective_rank"),
        F.expr(
            "CAST(round(CAST(tr AS DOUBLE) * CAST(tr AS DOUBLE)"
            " / CAST(fro2 AS DOUBLE) / n_dims * 1000000, 0) AS BIGINT)"
        ).alias("erank_ratio_ppm"),
    )

@register("q_lm_holdout_ppl", """
WITH docs_f AS (
    SELECT doc_id, source, lower(text) AS t,
           ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT % 10
               AS fold
    FROM documents
), toks AS (
    SELECT source, fold, unnest(regexp_extract_all(t, '\\S+')) AS tok
    FROM docs_f
), train AS (
    SELECT tok, count(*)::BIGINT AS c FROM toks
    WHERE fold <> 0 GROUP BY 1
), tstats AS (
    SELECT sum(c)::BIGINT AS n, count(*)::BIGINT AS v FROM train
), test AS (
    SELECT source, tok, count(*)::BIGINT AS tf FROM toks
    WHERE fold = 0 GROUP BY 1, 2
), scored AS (
    SELECT te.source, te.tf,
           CASE WHEN tr.c IS NULL THEN 1 ELSE 0 END AS oov,
           (te.tf * round(log2((ts.n + ts.v + 1)::DOUBLE
                               / (coalesce(tr.c, 0) + 1)), 6))
               ::DECIMAL(28,8) AS bits
    FROM test te LEFT JOIN train tr ON tr.tok = te.tok, tstats ts
), agg AS (
    SELECT source, sum(tf)::BIGINT AS n_test,
           sum(tf * oov)::BIGINT AS n_oov,
           round(sum(bits)::DOUBLE / sum(tf), 6) AS xent_bits
    FROM scored GROUP BY 1
)
SELECT source, n_test, n_oov,
       ((n_oov * 1000000) // n_test)::BIGINT AS oov_ppm,
       xent_bits,
       round(pow(2.0, xent_bits), 4) AS perplexity
FROM agg
""")
def q_lm_holdout_ppl(spark, sf_dir):
    """HELD-OUT unigram LM perplexity per source: train add-one-
    smoothed counts on a deterministic 90% md5 fold, score cross-
    entropy on the held-out 10% — the out-of-sample complement to
    q_unigram_logprob (in-sample surprisal) and the corpus-level
    twin of q_markov_backtest: a source whose held-out perplexity
    far exceeds its in-sample fit is heterogeneous or contaminated,
    exactly what a pretraining mixture weighting needs to know.
    Per-term bits are tf * log2((N+V+1)/(c+1)) — one rounded log2
    of an exact integer ratio — accumulated in exact DECIMAL; OOV
    mass is reported (the add-one UNK path). The join is test-vocab
    x train-vocab (Zipf-bounded both sides); the fact is touched
    once to tokenize."""
    docs = load_table(spark, sf_dir, "documents")
    fold = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4),
               16, 10).cast("int"),
        F.lit(10),
    )
    toks = docs.select(
        "source", fold.alias("fold"),
        F.explode(parse.tokens("text")).alias("tok"),
    )
    train = (
        toks.where(F.col("fold") != 0)
        .groupBy("tok").agg(F.count("*").cast("long").alias("c"))
    )
    tstats = train.agg(F.sum("c").cast("long").alias("n"),
                       F.count("*").cast("long").alias("v"))
    test = (
        toks.where(F.col("fold") == 0)
        .groupBy("source", "tok")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    scored = (
        test.join(train, "tok", "left")
        .crossJoin(F.broadcast(tstats))
        .select(
            "source", "tf",
            F.expr("CASE WHEN c IS NULL THEN 1 ELSE 0 END").alias("oov"),
            F.expr(
                "CAST(tf * round(log2(CAST(n + v + 1 AS DOUBLE)"
                " / (coalesce(c, 0) + 1)), 6) AS DECIMAL(28,8))"
            ).alias("bits"),
        )
    )
    agg = scored.groupBy("source").agg(
        F.sum("tf").cast("long").alias("n_test"),
        F.sum(F.col("tf") * F.col("oov")).cast("long").alias("n_oov"),
        F.expr(
            "round(CAST(sum(bits) AS DOUBLE) / sum(tf), 6)"
        ).alias("xent_bits"),
    )
    return agg.select(
        "source", "n_test", "n_oov",
        F.expr("CAST((n_oov * 1000000) div n_test AS BIGINT)")
        .alias("oov_ppm"),
        "xent_bits",
        F.expr("round(pow(2.0, xent_bits), 4)").alias("perplexity"),
    )


@register("q_dim_scaling_params", """
WITH vals AS (
    SELECT (i.i - 1)::BIGINT AS dim, (e.embedding[i.i])::DOUBLE AS v
    FROM embeddings e,
         unnest(generate_series(1, len(e.embedding))) AS i(i)
)
SELECT dim, count(*)::BIGINT AS n,
       round(min(v), 6) AS v_min, round(max(v), 6) AS v_max,
       round(quantile_cont(v, 0.25), 6) AS q1,
       round(quantile_cont(v, 0.5), 6) AS median,
       round(quantile_cont(v, 0.75), 6) AS q3,
       round(round(quantile_cont(v, 0.75), 6)
             - round(quantile_cont(v, 0.25), 6), 6) AS iqr
FROM vals GROUP BY dim
""")
def q_dim_scaling_params(spark, sf_dir):
    """Robust per-dimension scaling parameters (median / IQR /
    min-max) for the embedding space — the preprocessing statistics
    a RobustScaler needs, computed in-engine: q_embedding_dim_stats
    gives mean/variance (outlier-sensitive); these are the
    quartile-based companions that survive heavy-tailed dims, and
    together they decide normalize-vs-clip before ANN or
    quantization. One posexplode + per-dim exact interpolated
    percentiles (the repo's percentile protocol, rounded 6dp; IQR
    composed from the ROUNDED quartiles so both engines subtract
    identical doubles). Output is |dims| rows; the 100 TB path
    swaps the exact percentile for approx_percentile with the same
    shape."""
    emb = load_table(spark, sf_dir, "embeddings")
    vals = emb.select(
        F.posexplode(F.col("embedding")).alias("dim", "vf")
    ).select("dim", F.col("vf").cast("double").alias("v"))
    return vals.groupBy(F.col("dim").cast("long").alias("dim")).agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.min("v"), 6).alias("v_min"),
        F.round(F.max("v"), 6).alias("v_max"),
        F.round(F.percentile("v", F.lit(0.25)), 6).alias("q1"),
        F.round(F.percentile("v", F.lit(0.5)), 6).alias("median"),
        F.round(F.percentile("v", F.lit(0.75)), 6).alias("q3"),
        F.expr(
            "round(round(percentile(v, 0.75), 6)"
            " - round(percentile(v, 0.25), 6), 6)"
        ).alias("iqr"),
    )


@register("q_char_compression_est", """
WITH chars AS (
    SELECT source, unnest(regexp_extract_all(lower(text), '[a-z]'))
               AS ch
    FROM documents
), sc AS (
    SELECT source, ch, count(*)::BIGINT AS n FROM chars GROUP BY 1, 2
), stot AS (
    SELECT source, sum(n)::BIGINT AS ns FROM sc GROUP BY 1
), gc AS (
    SELECT ch, sum(n)::BIGINT AS ng FROM sc GROUP BY 1
), gtot AS (SELECT sum(ng)::BIGINT AS n FROM gc),
terms AS (
    SELECT s.source, s.n, st.ns,
           (s.n * round(log2(CAST(st.ns AS DOUBLE) / s.n), 6))
               ::DECIMAL(28,8) AS self_bits,
           (s.n * round(log2(CAST(gt.n AS DOUBLE) / g.ng), 6))
               ::DECIMAL(28,8) AS cross_bits
    FROM sc s
    JOIN stot st ON st.source = s.source
    JOIN gc g ON g.ch = s.ch, gtot gt
)
SELECT source, max(ns) AS n_letters,
       round(sum(self_bits)::DOUBLE / max(ns), 6) AS h_self_bits,
       round(sum(cross_bits)::DOUBLE / max(ns), 6) AS h_cross_bits,
       round(round(sum(cross_bits)::DOUBLE / max(ns), 6)
             - round(sum(self_bits)::DOUBLE / max(ns), 6), 6)
           AS kl_bits,
       CAST(round((1.0 - (sum(self_bits)::DOUBLE / max(ns))
                   / log2(26.0)) * 1000000, 0) AS BIGINT)
           AS redundancy_ppm
FROM terms GROUP BY source
""")
def q_char_compression_est(spark, sf_dir):
    """Per-source character-entropy compression estimate: letter-
    level self-entropy (the ideal per-symbol code length), cross-
    entropy under the GLOBAL code (what a corpus-wide codebook
    costs this source), their KL gap (bits wasted by not having a
    per-source codebook), and redundancy vs uniform log2(26) — the
    storage/transfer planning readout and a cheap distribution-
    drift signal (KL spikes when a source's character mix shifts,
    e.g. a language or encoding change q_ks_drift won't see in
    numeric columns). Letters-only explode bounds the unnest; the
    model relations are |sources| x 26; per-term n*log2 rounded 6dp
    and DECIMAL-accumulated (the entropy-rate protocol)."""
    docs = load_table(spark, sf_dir, "documents")
    chars = docs.select(
        "source",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")),
                                 F.lit("[a-z]"), 0)
        ).alias("ch"),
    )
    sc = chars.groupBy("source", "ch").agg(
        F.count("*").cast("long").alias("n"))
    stot = sc.groupBy("source").agg(F.sum("n").cast("long").alias("ns"))
    gc = sc.groupBy("ch").agg(F.sum("n").cast("long").alias("ng"))
    gtot = gc.agg(F.sum("ng").cast("long").alias("gn"))
    terms = (
        sc.join(F.broadcast(stot), "source")
        .join(F.broadcast(gc), "ch")
        .crossJoin(F.broadcast(gtot))
        .select(
            "source", "ns",
            F.expr(
                "CAST(n * round(log2(CAST(ns AS DOUBLE) / n), 6)"
                " AS DECIMAL(28,8))"
            ).alias("self_bits"),
            F.expr(
                "CAST(n * round(log2(CAST(gn AS DOUBLE) / ng), 6)"
                " AS DECIMAL(28,8))"
            ).alias("cross_bits"),
        )
    )
    return terms.groupBy("source").agg(
        F.max("ns").alias("n_letters"),
        F.expr(
            "round(CAST(sum(self_bits) AS DOUBLE) / max(ns), 6)"
        ).alias("h_self_bits"),
        F.expr(
            "round(CAST(sum(cross_bits) AS DOUBLE) / max(ns), 6)"
        ).alias("h_cross_bits"),
        F.expr(
            "round(round(CAST(sum(cross_bits) AS DOUBLE) / max(ns), 6)"
            " - round(CAST(sum(self_bits) AS DOUBLE) / max(ns), 6), 6)"
        ).alias("kl_bits"),
        F.expr(
            "CAST(round((1.0 - (CAST(sum(self_bits) AS DOUBLE)"
            " / max(ns)) / log2(26.0)) * 1000000, 0) AS BIGINT)"
        ).alias("redundancy_ppm"),
    )


@register("q_unseen_mass_estimate", """
WITH toks AS (
    SELECT unnest(regexp_extract_all(lower(text), '\\S+')) AS tok
    FROM documents
), freq AS (
    SELECT tok, count(*)::BIGINT AS c FROM toks GROUP BY 1
)
SELECT sum(c)::BIGINT AS n_tokens,
       count(*)::BIGINT AS vocab_obs,
       sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS f1,
       sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)::BIGINT AS f2,
       ((sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000)
        // sum(c))::BIGINT AS unseen_mass_ppm,
       (count(*)
        + CASE WHEN sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) > 0
               THEN (sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                     * sum(CASE WHEN c = 1 THEN 1 ELSE 0 END))
                    // (2 * sum(CASE WHEN c = 2 THEN 1 ELSE 0 END))
               ELSE (sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                     * (sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1))
                    // 2 END)::BIGINT AS chao1_vocab_est,
       ((count(*) * 1000000)
        // (count(*)
            + CASE WHEN sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) > 0
                   THEN (sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                         * sum(CASE WHEN c = 1 THEN 1 ELSE 0 END))
                        // (2 * sum(CASE WHEN c = 2 THEN 1 ELSE 0 END))
                   ELSE (sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                         * (sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1))
                        // 2 END))::BIGINT AS coverage_ppm
FROM freq
""")
def q_unseen_mass_estimate(spark, sf_dir):
    """How much vocabulary has the corpus NOT seen yet: Good-Turing
    unseen probability mass (f1/N — the chance the NEXT token is a
    new type) and the Chao1 richness estimate V + f1^2/(2 f2) (with
    the standard f2=0 fallback) — the pair that turns q_heaps_law's
    growth CURVE into a decision: crawl more (high unseen mass) or
    stop (coverage ~ 1). Everything derives from the vocab
    frequency-of-frequencies in one pass — exact integers end to
    end, truncating-ppm output, one row. The fact is tokenized
    once; f1/f2 are conditional sums over the Zipf-bounded vocab."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(parse.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("c"))
    )
    chao_add = (
        "CASE WHEN sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) > 0"
        " THEN (sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)"
        " * sum(CASE WHEN c = 1 THEN 1 ELSE 0 END))"
        " div (2 * sum(CASE WHEN c = 2 THEN 1 ELSE 0 END))"
        " ELSE (sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)"
        " * (sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1)) div 2 END"
    )
    return freq.agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("vocab_obs"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long")
        .alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("long")
        .alias("f2"),
        F.expr(
            "CAST((sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000)"
            " div sum(c) AS BIGINT)"
        ).alias("unseen_mass_ppm"),
        F.expr(
            f"CAST(count(*) + {chao_add} AS BIGINT)"
        ).alias("chao1_vocab_est"),
        F.expr(
            f"CAST((count(*) * 1000000) div (count(*) + {chao_add})"
            " AS BIGINT)"
        ).alias("coverage_ppm"),
    )

@register("q_rank_overlap_rbo", f"""
WITH docs_f AS (
    SELECT lower(text) AS t,
           ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT % 2
               AS fold
    FROM documents
), toks AS (
    SELECT fold, unnest(regexp_extract_all(t, '\\S+')) AS tok
    FROM docs_f
), freq AS (
    SELECT fold, tok, count(*)::BIGINT AS c FROM toks GROUP BY 1, 2
), ranked AS (
    SELECT fold, tok,
           row_number() OVER (PARTITION BY fold
                              ORDER BY c DESC, tok) AS rk
    FROM freq
), la AS (SELECT tok, rk FROM ranked WHERE fold = 0 AND rk <= {_RBO_K}),
lb AS (SELECT tok, rk FROM ranked WHERE fold = 1 AND rk <= {_RBO_K}),
matched AS (
    SELECT greatest(la.rk, lb.rk)::BIGINT AS m
    FROM la JOIN lb ON lb.tok = la.tok
), depths AS (
    SELECT unnest(generate_series(1, {_RBO_K})) AS d
), contrib AS (
    SELECT (round(pow({_RBO_P}, mm.d - 1), 9) / mm.d)
               ::DECIMAL(18,12) AS w
    FROM (SELECT m.m, dd.d FROM matched m
          JOIN depths dd ON dd.d >= m.m) mm
), novl AS (SELECT count(*)::BIGINT AS n_overlap FROM matched)
SELECT {_RBO_K} AS k, n.n_overlap,
       ((n.n_overlap * 1000000) // {_RBO_K})::BIGINT AS overlap_ppm,
       round({1.0 - _RBO_P} * coalesce((SELECT sum(w)::DOUBLE
                                        FROM contrib), 0.0), 6)
           AS rbo
FROM novl n
""")
def q_rank_overlap_rbo(spark, sf_dir):
    """Rank-biased overlap (Webber et al.) between the top-{_RBO_K}
    term rankings of two deterministic corpus halves — the TOP-
    WEIGHTED ranking-agreement metric (set overlap treats rank 1
    and rank 50 alike; RBO's geometric p={_RBO_P} weighting is what
    search/trending comparisons actually need, and a low RBO
    between random halves says the 'top terms' readout is noise).
    Identity: sum_d p^(d-1) A_d/d collapses to one weight
    W(max(ra,rb)) per matched term, evaluated via a <= K x K
    depth join over the two K-row lists — everything after the one
    vocab groupBy is driver-sized. pow follows the rounded-
    transcendental protocol; mass accumulates in DECIMAL."""
    docs = load_table(spark, sf_dir, "documents")
    fold = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4),
               16, 10).cast("int"),
        F.lit(2),
    )
    toks = docs.select(
        fold.alias("fold"),
        F.explode(parse.tokens("text")).alias("tok"),
    )
    freq = toks.groupBy("fold", "tok").agg(
        F.count("*").cast("long").alias("c"))
    ranked = freq.select(
        "fold", "tok",
        F.row_number().over(
            Window.partitionBy("fold")
            .orderBy(F.col("c").desc(), "tok")).alias("rk"),
    ).where(F.col("rk") <= _RBO_K)
    la = ranked.where(F.col("fold") == 0).select(
        "tok", F.col("rk").alias("ra"))
    lb = ranked.where(F.col("fold") == 1).select(
        F.col("tok").alias("tok_b"), F.col("rk").alias("rb"))
    matched = la.join(lb, la["tok"] == lb["tok_b"]).select(
        F.greatest("ra", "rb").cast("long").alias("m"))
    depths = spark.range(1, _RBO_K + 1).select(F.col("id").alias("d"))
    contrib = (
        matched.join(F.broadcast(depths), F.col("d") >= F.col("m"))
        .select(F.expr(
            f"CAST(round(pow({_RBO_P}, d - 1), 9) / d"
            " AS DECIMAL(18,12))").alias("w"))
    )
    summed = contrib.agg(
        F.coalesce(F.sum("w"), F.lit(0).cast("decimal(18,12)"))
        .alias("sw"))
    novl = matched.agg(F.count("*").cast("long").alias("n_overlap"))
    return novl.crossJoin(F.broadcast(summed)).select(
        F.lit(_RBO_K).cast("long").alias("k"),
        "n_overlap",
        F.expr(f"CAST((n_overlap * 1000000) div {_RBO_K} AS BIGINT)")
        .alias("overlap_ppm"),
        F.expr(
            f"round({1.0 - _RBO_P} * CAST(sw AS DOUBLE), 6)"
        ).alias("rbo"),
    )

@register("q_ttr_by_length", f"""
WITH per_doc AS (
    SELECT len(regexp_extract_all(lower(text), '\\S+'))::BIGINT
               AS wc,
           len(list_distinct(regexp_extract_all(lower(text),
                                                '\\S+')))::BIGINT
               AS uniq
    FROM documents
)
SELECT least(wc // {_TTR_BAND_W}, {_TTR_BAND_CAP})::BIGINT
           AS length_band,
       count(*)::BIGINT AS n_docs,
       sum(wc)::BIGINT AS tokens,
       sum(uniq)::BIGINT AS types,
       ((sum(uniq) * 1000000) // greatest(sum(wc), 1))::BIGINT
           AS pooled_ttr_ppm,
       (sum((uniq * 1000000) // greatest(wc, 1))
        // count(*))::BIGINT AS mean_doc_ttr_ppm
FROM per_doc GROUP BY 1
""")
def q_ttr_by_length(spark, sf_dir):
    """Type-token ratio by document-length band — the lexical-
    diversity curve that makes TTR comparable: raw TTR falls
    mechanically with length (Heaps), so q_repetition_ratio-style
    per-doc scores can't be compared across lengths; banding by
    token count and reading the curve's shape is the standard
    normalization (a band whose TTR sits below the curve is
    template/boilerplate text). Pooled and mean-of-docs TTR both
    reported (they diverge exactly when the band is heterogeneous).
    One tokenize pass, domain-bounded bands (cap {_TTR_BAND_CAP}),
    all-integer truncating ppm."""
    docs = load_table(spark, sf_dir, "documents")
    toks = parse.tokens("text")
    per_doc = docs.select(
        F.size(toks).cast("long").alias("wc"),
        F.size(F.array_distinct(toks)).cast("long").alias("uniq"),
    )
    return per_doc.groupBy(
        F.least(F.expr(f"wc div {_TTR_BAND_W}"),
                F.lit(_TTR_BAND_CAP)).cast("long").alias("length_band")
    ).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("wc").cast("long").alias("tokens"),
        F.sum("uniq").cast("long").alias("types"),
        F.expr(
            "CAST((sum(uniq) * 1000000) div greatest(sum(wc), 1)"
            " AS BIGINT)").alias("pooled_ttr_ppm"),
        F.expr(
            "CAST(sum((uniq * 1000000) div greatest(wc, 1))"
            " div count(*) AS BIGINT)").alias("mean_doc_ttr_ppm"),
    )


@register("q_coverage_knee", """
WITH toks AS (
    SELECT unnest(regexp_extract_all(lower(text), '\\S+')) AS tok
    FROM documents
), freq AS (
    SELECT tok, count(*)::BIGINT AS c FROM toks GROUP BY 1
), ranked AS (
    SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS r FROM freq
), tot AS (
    SELECT count(*)::BIGINT AS v, sum(c)::BIGINT AS n FROM freq
), curve AS (
    SELECT r.r,
           (sum(r.c) OVER (ORDER BY r.r) * 1000000) // t.n AS cum_ppm,
           t.v
    FROM ranked r, tot t
), ends AS (
    SELECT min(cum_ppm)::BIGINT AS c1, max(cum_ppm)::BIGINT AS cv,
           max(v)::BIGINT AS v
    FROM curve
), scored AS (
    SELECT c.r, c.cum_ppm::BIGINT AS cum_ppm,
           abs((e.cv - e.c1) * (c.r - 1)
               - (e.v - 1) * (c.cum_ppm - e.c1))::BIGINT AS dist_num,
           row_number() OVER (
               ORDER BY abs((e.cv - e.c1) * (c.r - 1)
                            - (e.v - 1) * (c.cum_ppm - e.c1)) DESC,
                        c.r) AS rk
    FROM curve c, ends e
)
SELECT s.r AS knee_rank, s.cum_ppm AS coverage_at_knee_ppm,
       e.v AS vocab_size,
       ((s.r * 1000000) // e.v)::BIGINT AS knee_rank_ppm
FROM scored s, ends e WHERE s.rk = 1
""")
def q_coverage_knee(spark, sf_dir):
    """Knee of the vocabulary coverage curve (Kneedle's max-distance-
    to-chord, exact): the rank where cumulative token coverage bends
    — the data-derived vocab-size answer that q_token_coverage's
    fixed checkpoints bracket (budget tokens BELOW the knee pay for
    mass; above it they pay for tail). The chord distance argmax is
    ALL-INTEGER (cross-multiplied |(cv-c1)(r-1) - (v-1)(c_r-c1)|,
    no sqrt needed for an argmax over a shared positive
    denominator), rank-tiebroken; the curve window runs over the
    Zipf-bounded vocab, never tokens."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(parse.tokens("text")).alias("tok"))
        .groupBy("tok").agg(F.count("*").cast("long").alias("c"))
    )
    ranked = freq.select(
        "c",
        F.row_number().over(
            Window.orderBy(F.col("c").desc(), "tok")).alias("r"))
    tot = freq.agg(F.count("*").cast("long").alias("v"),
                   F.sum("c").cast("long").alias("n"))
    curve = ranked.crossJoin(F.broadcast(tot)).select(
        "r", "v",
        F.expr("(sum(c) OVER (ORDER BY r) * 1000000) div n")
        .alias("cum_ppm"),
    )
    ends = curve.agg(
        F.min("cum_ppm").cast("long").alias("c1"),
        F.max("cum_ppm").cast("long").alias("cv"),
        F.max("v").cast("long").alias("vv"),
    )
    dist = ("abs((cv - c1) * (r - 1) - (vv - 1) * (cum_ppm - c1))")
    scored = curve.crossJoin(F.broadcast(ends)).withColumn(
        "rk", F.row_number().over(
            Window.orderBy(F.expr(dist).desc(), "r")))
    return scored.where(F.col("rk") == 1).select(
        F.col("r").alias("knee_rank"),
        F.col("cum_ppm").cast("long").alias("coverage_at_knee_ppm"),
        F.col("vv").alias("vocab_size"),
        F.expr("CAST((r * 1000000) div vv AS BIGINT)")
        .alias("knee_rank_ppm"),
    )


@register("q_vocab_gini", """
WITH toks AS (
    SELECT unnest(regexp_extract_all(lower(text), '\\S+')) AS tok
    FROM documents
), freq AS (
    SELECT tok, count(*)::BIGINT AS c FROM toks GROUP BY 1
), ranked AS (
    SELECT c, row_number() OVER (ORDER BY c, tok) AS r FROM freq
), s AS (
    SELECT count(*)::BIGINT AS v, sum(c)::BIGINT AS n,
           sum(r * c)::BIGINT AS src
    FROM ranked
)
SELECT v AS vocab_size, n AS n_tokens,
       ((1000000 * (2 * src - (v + 1) * n)) // (v * n))::BIGINT
           AS gini_ppm
FROM s
""")
def q_vocab_gini(spark, sf_dir):
    """Gini coefficient of the token frequency distribution — the
    single-number inequality reading that complements q_zipf_slope
    (slope says HOW mass decays along the rank curve, Gini says how
    CONCENTRATED it is overall; together they separate 'normal
    Zipfian text' from boilerplate-dominated corpora whose Gini
    rises while the slope stays plausible). Exact-integer identity
    (2*sum(r*c) - (V+1)*N) / (V*N) over the ascending-rank vocab —
    no doubles anywhere. SCALE SHAPE: within a tie-group of equal
    counts the ranks are consecutive, so sum(r*c) over the group is
    c*(m*base + m(m+1)/2) regardless of tie order — the rank window
    therefore runs over the FREQUENCY-OF-FREQUENCIES relation
    (distinct count values, O(sqrt(N)) by Zipf), never the vocab and
    never the token stream; the oracle ranks the vocab directly and
    the identity makes them equal. Scale-bound note: sum(r*c) <= V*N
    fits BIGINT to ~10^9-type vocab x 10^9 tokens split."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(parse.tokens("text")).alias("tok"))
        .groupBy("tok").agg(F.count("*").cast("long").alias("c"))
    )
    ff = freq.groupBy("c").agg(F.count("*").cast("long").alias("m"))
    cum = ff.select(
        "c", "m",
        (F.sum("m").over(
            Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0))
         - F.col("m")).cast("long").alias("base"),
    )
    s = cum.agg(
        F.sum("m").cast("long").alias("v"),
        F.sum(F.col("c") * F.col("m")).cast("long").alias("n"),
        F.sum(F.expr("c * (m * base + (m * (m + 1)) div 2)"))
        .cast("long").alias("src"),
    )
    return s.select(
        F.col("v").alias("vocab_size"),
        F.col("n").alias("n_tokens"),
        F.expr(
            "CAST((1000000 * (2 * src - (v + 1) * n)) div (v * n)"
            " AS BIGINT)").alias("gini_ppm"),
    )


@register("q_embedding_isotropy", """
WITH e AS (
    SELECT vec_id, embedding,
           unnest(generate_series(1, len(embedding))) AS i
    FROM embeddings
), sq AS (
    SELECT vec_id, i, embedding[i]::DECIMAL(18,9) AS vq,
           sum(embedding[i]::DECIMAL(18,9) * embedding[i]::DECIMAL(18,9))
               OVER (PARTITION BY vec_id) AS ssq
    FROM e
), u AS (
    SELECT vec_id, i,
           round(sqrt(ssq::DOUBLE), 6) AS nrm,
           CAST(round(vq::DOUBLE / round(sqrt(ssq::DOUBLE), 6)
                      * 1000000, 0) AS BIGINT) AS um
    FROM sq WHERE ssq > 0
), dims AS (
    SELECT i, sum(um)::DECIMAL(38,0) AS s_d FROM u GROUP BY 1
), tot AS (
    SELECT sum(s_d * s_d)::DECIMAL(38,0) AS ssum,
           count(*)::BIGINT AS d
    FROM dims
), nv AS (
    SELECT count(DISTINCT vec_id)::BIGINT AS n,
           CAST(round(sum(DISTINCT_NORMS.nm) / count(*), 0) AS BIGINT)
               AS avg_norm_micro
    FROM (SELECT vec_id,
                 CAST(round(max(nrm) * 1000000, 0) AS BIGINT) AS nm
          FROM u GROUP BY vec_id) DISTINCT_NORMS
)
SELECT nv.n AS n_vectors, tot.d AS n_dims, nv.avg_norm_micro,
       CAST(round((tot.ssum::DOUBLE / 1000000000000.0 - nv.n)
                  / (nv.n * (nv.n - 1.0)) * 1000000, 0) AS BIGINT)
           AS mean_pairwise_cosine_ppm
FROM tot, nv
""")
def q_embedding_isotropy(spark, sf_dir):
    """Isotropy of the embedding space: the EXACT mean pairwise
    cosine over ALL C(n,2) unit-vector pairs via the sum-vector
    identity mean = (||sum u||^2 - n) / (n(n-1)) — the anisotropy
    reading (Ethayarajh 2019: contextual embeddings cluster in a
    narrow cone; mean cosine >> 0 degrades cosine-based dedup and
    ANN contrast) that a sampled pair join only estimates. SCALE
    SHAPE: O(n*d) one pass, NO pair join anywhere — normalize per
    vector (exact decimal sum of squares per row partition), sum
    unit components per dimension (d-row relation), one closed-form
    combine; this is the identity that stays computable at 10^9
    vectors where any pairwise approach is impossible. Engine
    parity: unit components in integer micro (6dp-rounded after one
    identical IEEE division), per-dim sums exact BIGINT-in-DECIMAL,
    squares in DECIMAL(38,0), one final identically-composed double
    expression."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id",
        F.posexplode("embedding").alias("pos", "v"),
    ).select(
        "vec_id", (F.col("pos") + 1).alias("i"),
        F.col("v").cast("decimal(18,9)").alias("vq"),
    )
    w = Window.partitionBy("vec_id")
    sq = ex.withColumn("ssq", F.sum(F.col("vq") * F.col("vq")).over(w))
    u = sq.where(F.col("ssq") > 0).select(
        "vec_id", "i",
        F.expr("round(sqrt(CAST(ssq AS DOUBLE)), 6)").alias("nrm"),
        F.expr("CAST(round(CAST(vq AS DOUBLE)"
               " / round(sqrt(CAST(ssq AS DOUBLE)), 6)"
               " * 1000000, 0) AS BIGINT)").alias("um"),
    )
    dims = u.groupBy("i").agg(
        F.sum("um").cast("decimal(38,0)").alias("s_d"))
    tot = dims.agg(
        F.sum(F.col("s_d") * F.col("s_d")).cast("decimal(38,0)")
        .alias("ssum"),
        F.count("*").cast("long").alias("d"),
    )
    norms = u.groupBy("vec_id").agg(
        F.expr("CAST(round(max(nrm) * 1000000, 0) AS BIGINT)")
        .alias("nm"))
    nv = norms.agg(
        F.count("*").cast("long").alias("n"),
        F.expr("CAST(round(sum(nm) / count(*), 0) AS BIGINT)")
        .alias("avg_norm_micro"),
    )
    return tot.crossJoin(F.broadcast(nv)).select(
        F.col("n").alias("n_vectors"),
        F.col("d").alias("n_dims"),
        "avg_norm_micro",
        F.expr("CAST(round((CAST(ssum AS DOUBLE) / 1000000000000.0 - n)"
               " / (n * (n - 1.0)) * 1000000, 0) AS BIGINT)")
        .alias("mean_pairwise_cosine_ppm"),
    )


@register("q_ess_dsir", f"""
WITH dsir AS ({_DSIR_ORACLE}),
m AS (
    SELECT max(dsir_micro_nats) AS mx FROM dsir
), w AS (
    SELECT round(exp((dsir_micro_nats - m.mx) / 1000000.0e0),
                 6)::DECIMAL(18,6) AS w
    FROM dsir, m
), s AS (
    SELECT count(*)::BIGINT AS n, sum(w) AS sw, sum(w * w) AS sww
    FROM w
)
SELECT n AS n_docs,
       CAST(round(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
                  / CAST(sww AS DOUBLE) * 1000, 0) AS BIGINT)
           AS ess_milli,
       CAST(round(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
                  / CAST(sww AS DOUBLE) / n * 1000000, 0) AS BIGINT)
           AS ess_ratio_ppm
FROM s
""")
def q_ess_dsir(spark, sf_dir):
    """Effective sample size of the DSIR importance weights,
    ESS = (sum w)^2 / sum w^2 over w = exp(logweight - max) — the
    did-my-importance-sampling-collapse audit for data-selection
    runs: resampling a 10^9-doc corpus with ESS/n of 1e-4 is really
    drawing from ~100k docs however big the corpus is, so the
    mixing/selection plan must be rebuilt, not rerun. Weights are
    max-normalized (exp stays in [0,1] — no overflow at any corpus
    scale), exp rounded 6dp (the one engine-varying transcendental),
    then exact decimal sums; the max is a broadcast 1-row dim.
    Consumes the same Zipf-bounded DSIR relation as q_dsir_weights;
    O(corpus) one pass."""
    # r14 (guide §2.4/§5): the DSIR logweight derivation (tokenize +
    # hashed-bucket probabilities) is the only corpus-sized work, and
    # it was inlined TWICE — once under the broadcast max, once under
    # the main sum. localCheckpoint the 1-long-per-doc projection so
    # the derivation runs once.
    lw = corpus.dsir_logweights(
        load_table(spark, sf_dir, "documents"),
        target_mod=_DSIR_MOD, n_buckets=_DSIR_B,
    ).select("dsir_micro_nats").localCheckpoint()
    m = lw.agg(F.max("dsir_micro_nats").alias("mx"))
    w = lw.crossJoin(F.broadcast(m)).select(
        F.expr("CAST(round(exp((dsir_micro_nats - mx) / 1000000.0e0),"
               " 6) AS DECIMAL(18,6))").alias("w"))
    s = w.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("w").alias("sw"),
        F.sum(F.col("w") * F.col("w")).alias("sww"),
    )
    return s.select(
        F.col("n").alias("n_docs"),
        F.expr("CAST(round(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)"
               " / CAST(sww AS DOUBLE) * 1000, 0) AS BIGINT)")
        .alias("ess_milli"),
        F.expr("CAST(round(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)"
               " / CAST(sww AS DOUBLE) / n * 1000000, 0) AS BIGINT)")
        .alias("ess_ratio_ppm"),
    )

@register("q_source_surprisal_drift", rf"""
WITH toks AS (
    SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS tok
    FROM documents
), vocab AS (
    SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
), tot AS (
    SELECT count(*) AS n_total FROM toks
), surp AS (
    SELECT tok, round(-log2(cnt / n_total), 6) AS surprisal
    FROM vocab, tot
), docv AS (
    SELECT t.doc_id,
           ((sum(s.surprisal::DECIMAL(18,6)) * 1000000)::BIGINT
            // count(*)) AS v
    FROM toks t JOIN surp s USING (tok)
    GROUP BY t.doc_id
), pers AS (
    SELECT d.source, count(*)::BIGINT AS n_s,
           sum(dv.v)::BIGINT AS sv_s
    FROM docv dv JOIN documents d USING (doc_id)
    GROUP BY 1
), corp AS (
    SELECT count(*)::BIGINT AS n, sum(v)::BIGINT AS sv,
           sum(v::DECIMAL(38,0) * v::DECIMAL(38,0))::DECIMAL(38,0)
               AS svv
    FROM docv
)
SELECT p.source, p.n_s AS n_docs,
       (p.sv_s // p.n_s) AS mean_micro_bits,
       ((p.sv_s // p.n_s) - (c.sv // c.n)) AS delta_micro_bits,
       CAST(round({_SURP_Z} * 1000, 0) AS BIGINT) AS z_milli
FROM pers p, corp c
""")
def q_source_surprisal_drift(spark, sf_dir):
    """Which ingest SOURCE is out-of-distribution for the corpus LM:
    per-source mean unigram surprisal (micro-bits/token, the
    q_unigram_logprob relation) vs the corpus mean, as a z-score of
    the source mean under the corpus doc-level variance — the
    source-granular OOD detector that tells a mixing plan (or an
    incident review) WHICH feed drifted, where q_psi_drift answers
    for a metric and q_ccnet_buckets for single documents. Exact
    BIGINT doc values and moment sums (squares in DECIMAL(38,0));
    one sqrt in an identically-composed shared expression; output is
    |sources| rows."""
    docs = load_table(spark, sf_dir, "documents")
    # r14 (guide §2.4/§5): the unigram-LM doc-value relation (tokenize
    # + vocab join) was inlined twice — per-source means and the
    # corpus moments each re-derived it. localCheckpoint the
    # 2-col-per-doc projection: one tokenize pass.
    docv = corpus.unigram_logprob(docs).select(
        "doc_id",
        F.expr("bits_micro_total div n_tokens").alias("v"),
    ).localCheckpoint()
    pers = (
        docv.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("n_s"),
             F.sum("v").cast("long").alias("sv_s"))
    )
    corp = docv.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v").cast("long").alias("sv"),
        F.sum(F.col("v").cast("decimal(38,0)")
              * F.col("v").cast("decimal(38,0)"))
        .cast("decimal(38,0)").alias("svv"),
    )
    return pers.crossJoin(F.broadcast(corp)).select(
        "source",
        F.col("n_s").alias("n_docs"),
        F.expr("sv_s div n_s").alias("mean_micro_bits"),
        F.expr("(sv_s div n_s) - (sv div n)").alias("delta_micro_bits"),
        F.expr(f"CAST(round({_SURP_Z} * 1000, 0) AS BIGINT)")
        .alias("z_milli"),
    )
