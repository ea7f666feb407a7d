"""SURVEY §2.C — analytics engine: the @register query
definitions for this section (split out of the former monolithic
plans/queries.py in round 11; shared helpers live in
plans/_prelude.py, re-exported through plans/queries.py).
Importing this module registers the queries into the shared
QUERIES/ORACLES dicts."""

from __future__ import annotations

from ._prelude import *  # noqa: F401,F403



# ===================================================================
# §2.C — analytics engine (headline queries)
# ===================================================================

@register("q1_pricing_summary", """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity::DECIMAL(18,6))::DOUBLE, 2) AS sum_qty,
       round(sum(l_extendedprice::DECIMAL(18,6))::DOUBLE, 2) AS sum_base_price,
       round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,6))::DOUBLE, 2)
           AS sum_disc_price,
       round(sum((l_extendedprice * (1 - l_discount) * (1 + l_tax))::DECIMAL(18,6))::DOUBLE, 2)
           AS sum_charge,
       round(sum(l_quantity::DECIMAL(18,6))::DOUBLE / count(*), 4) AS avg_qty,
       round(sum(l_extendedprice::DECIMAL(18,6))::DOUBLE / count(*), 4) AS avg_price,
       round(sum(l_discount::DECIMAL(18,6))::DOUBLE / count(*), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""")
def q1(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    cnt = F.count("*")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _money(F.col("l_quantity")).alias("sum_qty"),
            _money(F.col("l_extendedprice")).alias("sum_base_price"),
            _money(disc_price).alias("sum_disc_price"),
            _money(charge).alias("sum_charge"),
            F.round(F.sum(_dec(F.col("l_quantity"))).cast("double") / cnt, 4)
                .alias("avg_qty"),
            F.round(F.sum(_dec(F.col("l_extendedprice"))).cast("double") / cnt, 4)
                .alias("avg_price"),
            F.round(F.sum(_dec(F.col("l_discount"))).cast("double") / cnt, 4)
                .alias("avg_disc"),
            cnt.alias("count_order"),
        )
    )


@register("q3_shipping_priority", """
SELECT o.o_orderkey,
       round(sum((l.l_extendedprice * (1 - l.l_discount))::DECIMAL(18,6))::DOUBLE, 2)
           AS revenue,
       epoch_us(o.o_orderdate) AS orderdate_us,
       o.o_orderpriority
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15'
  AND l.l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY sum((l.l_extendedprice * (1 - l.l_discount))::DECIMAL(18,6)) DESC,
         o.o_orderkey
LIMIT 10
""")
def q3(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    revenue_exact = F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
    df = (
        li.where(F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp"))
        .join(
            orders.where(F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        # no broadcast hint: customer scales with SF (a multi-GB build
        # side at 100 TB) — AQE picks broadcast at small SF from runtime
        # stats and shuffles at large SF.
        .join(
            cust.where(F.col("c_mktsegment") == "BUILDING"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue_exact.alias("rev_exact"))
        .orderBy(F.col("rev_exact").desc(), "o_orderkey")
        .limit(10)
    )
    return df.select(
        "o_orderkey",
        F.round(F.col("rev_exact").cast("double"), 2).alias("revenue"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("orderdate_us"),
        "o_orderpriority",
    )


@register("q5_local_supplier", """
SELECT n.n_name,
       round(sum((l.l_extendedprice * (1 - l.l_discount))::DECIMAL(18,6))::DOUBLE, 2)
           AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n.n_name
""")
def q5(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    dims = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region.where(F.col("r_name") == "ASIA")),
              nation.n_regionkey == region.r_regionkey)
    )
    df = (
        li.join(
            orders.where(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
            ),
            li.l_orderkey == F.col("o_orderkey"),
        )
        # supplier and customer scale with SF: no broadcast hints —
        # AQE chooses from runtime stats (broadcast at small SF, shuffle
        # join at large). Only nation/region (true dims) are hinted.
        .join(dims, li.l_suppkey == dims.s_suppkey)
        .join(
            cust,
            (F.col("o_custkey") == cust.c_custkey)
            & (cust.c_nationkey == dims.s_nationkey),
        )
        .groupBy("n_name")
        .agg(
            _money(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .alias("revenue")
        )
    )
    return df


@register("q_top_customers", """
WITH totals AS (
    SELECT c.c_mktsegment, c.c_custkey, c.c_name,
           sum(o.o_totalprice::DECIMAL(18,6)) AS total_exact,
           count(*) AS n_orders
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment, c.c_custkey, c.c_name
), ranked AS (
    SELECT c_mktsegment, c_custkey, c_name,
           round(total_exact::DOUBLE, 2) AS total_spend, n_orders,
           row_number() OVER (PARTITION BY c_mktsegment
                              ORDER BY total_exact DESC, c_custkey) AS rnk
    FROM totals
)
SELECT c_mktsegment, c_custkey, c_name, total_spend, n_orders, rnk
FROM ranked WHERE rnk <= 3
""")
def q_top_customers(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    totals = (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment", "c_custkey", "c_name")
        .agg(
            F.sum(_dec(F.col("o_totalprice"))).alias("total_exact"),
            F.count("*").alias("n_orders"),
        )
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("total_exact").desc(), F.col("c_custkey")
    )
    return (
        totals.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select(
            "c_mktsegment", "c_custkey", "c_name",
            F.round(F.col("total_exact").cast("double"), 2).alias("total_spend"),
            "n_orders",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


@register("q4_priority_check", """
SELECT o.o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
  AND o.o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o.o_orderpriority
""")
def q4(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    returned = li.where(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        orders.where(
            (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
        )
        .join(returned, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register("q6_forecast_revenue", """
SELECT round(sum((l_extendedprice * l_discount)::DECIMAL(18,6))::DOUBLE, 2)
           AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
""")
def q6(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _money(F.col("l_extendedprice") * F.col("l_discount"))
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register("q14_promo_revenue", """
SELECT round(
         100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                          THEN (l.l_extendedprice * (1 - l.l_discount))::DECIMAL(18,6)
                          ELSE 0 END)::DOUBLE
         / sum((l.l_extendedprice * (1 - l.l_discount))::DECIMAL(18,6))::DOUBLE,
         4) AS promo_pct
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
  AND l.l_shipdate < TIMESTAMP '1996-10-01'
""")
def q14(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    disc_price = _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    promo = F.when(F.col("p_type") == "PROMO", disc_price).otherwise(
        F.lit(0).cast("decimal(28,6)")
    )
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
        )
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                F.lit(100.0) * F.sum(promo).cast("double")
                / F.sum(disc_price).cast("double"),
                4,
            ).alias("promo_pct")
        )
    )


@register("q18_large_orders", """
WITH big AS (
    SELECT l_orderkey, round(sum(l_quantity::DECIMAL(18,6))::DOUBLE, 2) AS sum_qty
    FROM lineitem GROUP BY l_orderkey
    HAVING sum(l_quantity::DECIMAL(18,6)) > 250
)
SELECT c.c_name, o.o_orderkey, epoch_us(o.o_orderdate) AS orderdate_us,
       round(o.o_totalprice::DECIMAL(18,6)::DOUBLE, 2) AS total_price,
       b.sum_qty
FROM big b
JOIN orders o ON b.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
""")
def q18(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec(F.col("l_quantity"))).alias("qty_exact"))
        .where(F.col("qty_exact") > 250)
    )
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "o_orderkey",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias(
                "orderdate_us"
            ),
            F.round(_dec(F.col("o_totalprice")).cast("double"), 2).alias(
                "total_price"
            ),
            F.round(F.col("qty_exact").cast("double"), 2).alias("sum_qty"),
        )
    )


@register("q10_returned_revenue", """
SELECT c.c_custkey, c.c_name, n.n_name,
       round(sum((l.l_extendedprice * (1 - l.l_discount))::DECIMAL(18,6))::DOUBLE, 2)
           AS revenue,
       count(*) AS n_items
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-07-01'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY sum((l.l_extendedprice * (1 - l.l_discount))::DECIMAL(18,6)) DESC,
         c.c_custkey
LIMIT 20
""")
def q10(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    rev_exact = F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
    df = (
        li.where(F.col("l_returnflag") == "R")
        .join(
            orders.where(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(rev_exact.alias("rev_exact"), F.count("*").alias("n_items"))
        .orderBy(F.col("rev_exact").desc(), "c_custkey")
        .limit(20)
    )
    return df.select(
        "c_custkey", "c_name", "n_name",
        F.round(F.col("rev_exact").cast("double"), 2).alias("revenue"),
        "n_items",
    )


@register("q_events_percentiles", """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.95), 4) AS p95,
       round(quantile_cont(value, 0.99), 4) AS p99,
       count(*) AS n_events
FROM events GROUP BY event_type
""")
def q_events_percentiles(spark, sf_dir):
    """Exact linear-interpolated percentiles (Spark `percentile` ==
    DuckDB `quantile_cont`); the 100 TB path swaps in
    approx_percentile (t-digest sketch) with the same plan shape."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.95)), 4).alias("p95"),
        F.round(F.percentile("value", F.lit(0.99)), 4).alias("p99"),
        F.count("*").alias("n_events"),
    )


@register("q_events_pivot", f"""
SELECT user_id,
       {", ".join(f"count(*) FILTER (WHERE event_type = '{t}') AS n_{t}"
                  for t in _EVENT_TYPES)}
FROM events GROUP BY user_id
""")
def q_events_pivot(spark, sf_dir):
    """Pivot: per-user event-type count matrix (fixed column list →
    deterministic schema, single shuffle)."""
    ev = load_table(spark, sf_dir, "events")
    piv = (
        ev.groupBy("user_id")
        .pivot("event_type", list(_EVENT_TYPES))
        .count()
        .fillna(0, subset=list(_EVENT_TYPES))
    )
    for t in _EVENT_TYPES:
        piv = piv.withColumnRenamed(t, f"n_{t}")
    return piv


@register("q_quality_deciles", """
WITH q AS (
    SELECT d.doc_id, d.lang,
           round(len(list_distinct(regexp_extract_all(d.text, '\\S+')))
                 / greatest(len(regexp_extract_all(d.text, '\\S+')), 1), 4)
               AS unique_ratio
    FROM documents d
), t AS (
    SELECT *, ntile(10) OVER (PARTITION BY lang
                              ORDER BY unique_ratio, doc_id) AS decile
    FROM q
)
SELECT lang, decile, count(*) AS n_docs,
       round(min(unique_ratio), 4) AS min_ur,
       round(max(unique_ratio), 4) AS max_ur
FROM t GROUP BY lang, decile
""")
def q_quality_deciles(spark, sf_dir):
    """Quality-signal deciles per language (ntile window) — the
    'filter the bottom decile' primitive for corpus curation."""
    docs = load_table(spark, sf_dir, "documents")
    q = ta.quality_score(docs).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    w = Window.partitionBy("lang").orderBy("unique_ratio", "doc_id")
    return (
        q.withColumn("decile", F.ntile(10).over(w))
        .groupBy("lang", "decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.min("unique_ratio"), 4).alias("min_ur"),
            F.round(F.max("unique_ratio"), 4).alias("max_ur"),
        )
        .withColumn("decile", F.col("decile").cast("long"))
    )


@register("q_events_windowed", f"""
SELECT (epoch_us(ts) // {_WINDOW_US}) * {_WINDOW_US} AS window_start_us,
       event_type,
       count(*) AS n_events,
       round(sum(value::DECIMAL(18,6))::DOUBLE, 2) AS sum_value
FROM events
GROUP BY 1, 2
""")
def q_events_windowed(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    us = F.expr("ts div 1000")  # nanos long → epoch micros
    # integer mod-subtract (no double division) — engine-identical
    bucket = (us - F.pmod(us, F.lit(_WINDOW_US))).cast("long")
    return (
        ev.groupBy(bucket.alias("window_start_us"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            _money(F.col("value")).alias("sum_value"),
        )
    )


@register("q_events_sessionize", f"""
WITH ordered AS (
    SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
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
)
SELECT user_id, session_id::BIGINT AS session_id, count(*) AS n_events,
       min(ts_us) AS session_start_us,
       round(sum(value::DECIMAL(18,6))::DOUBLE, 2) AS sum_value
FROM sessions GROUP BY user_id, session_id
""")
def q_events_sessionize(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts div 1000")  # nanos long → epoch micros
    )
    w_order = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    flagged = ev.withColumn("prev_us", F.lag("ts_us").over(w_order)).withColumn(
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
    return sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts_us").alias("session_start_us"),
        _money(F.col("value")).alias("sum_value"),
    )


@register("q_events_attribution", f"""
WITH tagged AS (
    SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, value
    FROM events WHERE event_type IN ('click', 'purchase')
), attributed AS (
    SELECT *,
           max(CASE WHEN event_type = 'click' THEN ts_us END)
               OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS last_click_us
    FROM tagged
)
SELECT event_id, user_id, ts_us,
       coalesce(last_click_us, -1) AS last_click_us,
       coalesce(ts_us - last_click_us, -1) AS gap_us
FROM attributed WHERE event_type = 'purchase'
""")
def q_events_attribution(spark, sf_dir):
    """As-of attribution: each purchase matched to the user's most
    recent preceding (or simultaneous) click — the merge-scan as-of
    pattern (see operators/asof.py). Window max of a monotone column
    == latest, so this is oracle-expressible."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts div 1000")
    )
    tagged = ev.where(F.col("event_type").isin("click", "purchase")).select(
        "event_id", "user_id", "event_type", "ts_us", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    attributed = tagged.withColumn(
        "last_click_us",
        F.max(
            F.when(F.col("event_type") == "click", F.col("ts_us"))
        ).over(w),
    )
    return attributed.where(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts_us",
        F.coalesce("last_click_us", F.lit(-1)).alias("last_click_us"),
        F.coalesce(
            F.col("ts_us") - F.col("last_click_us"), F.lit(-1)
        ).alias("gap_us"),
    )


@register("q_funnel_conversion", """
WITH firsts AS (
    SELECT user_id,
           min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
               AS first_click_us,
           min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
               AS first_purchase_us
    FROM events GROUP BY user_id
)
SELECT count(*) AS n_users,
       count(first_click_us) AS n_clicked,
       count(first_purchase_us) AS n_purchased,
       count(CASE WHEN first_purchase_us > first_click_us THEN 1 END)
           AS n_converted
FROM firsts
""")
def q_funnel_conversion(spark, sf_dir):
    """Funnel: users whose first purchase follows their first click
    (conditional min aggregation, two map-side-combine passes)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts div 1000")
    )
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("ts_us")))
            .alias("first_click_us"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts_us")))
            .alias("first_purchase_us"),
    )
    return firsts.agg(
        F.count("*").alias("n_users"),
        F.count("first_click_us").alias("n_clicked"),
        F.count("first_purchase_us").alias("n_purchased"),
        F.count(
            F.when(
                F.col("first_purchase_us") > F.col("first_click_us"), 1
            )
        ).alias("n_converted"),
    )


@register("q_label_centroids", """
SELECT e.label, i.i AS dim,
       round(sum((e.embedding[i.i])::DECIMAL(18,9))::DOUBLE / count(*), 5)
           AS centroid_val
FROM embeddings e, unnest(generate_series(1, 8)) AS i(i)
GROUP BY e.label, i.i
""")
def q_label_centroids(spark, sf_dir):
    """Element-wise per-label centroids over the first 8 dims — the
    distributed mean-update step of Lloyd's k-means (posexplode →
    decimal-exact per-dimension sums; one shuffle on (label, dim))."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label",
        F.posexplode(F.slice("embedding", 1, 8)).alias("pos", "v"),
    )
    cnt = F.count("*")
    return (
        dims.select("label", (F.col("pos") + 1).cast("long").alias("dim"), "v")
        .groupBy("label", "dim")
        .agg(
            F.round(
                F.sum(F.col("v").cast("decimal(18,9)")).cast("double") / cnt,
                5,
            ).alias("centroid_val")
        )
    )


@register("q_doc_length_histogram", """
SELECT (n_chars // 50) * 50 AS bucket_lo,
       count(*) AS n_docs,
       min(n_chars) AS min_chars,
       max(n_chars) AS max_chars
FROM documents GROUP BY 1
""")
def q_doc_length_histogram(spark, sf_dir):
    """Equi-width document-length histogram (50-char buckets) —
    integer mod-subtract bucketing, single partial-agg shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.col("n_chars") - F.pmod(F.col("n_chars"), F.lit(50))
    return docs.groupBy(bucket.alias("bucket_lo")).agg(
        F.count("*").alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@register("q_docs_without_charts", f"""
WITH {_CHARTS_CTE}
SELECT d.doc_id, d.n_chars FROM documents d
WHERE NOT EXISTS (SELECT 1 FROM charts_f c WHERE c.doc_id = d.doc_id)
""")
def q_docs_without_charts(spark, sf_dir):
    """Anti-join: documents with no extracted charts."""
    docs = load_table(spark, sf_dir, "documents")
    inv = charts_op.chart_inventory(docs).select("doc_id").distinct()
    return docs.join(inv, "doc_id", "left_anti").select("doc_id", "n_chars")


@register("q_events_moving_avg", f"""
WITH t AS (
    SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events
)
SELECT event_id, user_id, ts_us,
       round(avg(value) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
             4) AS mov_avg
FROM t
""")
def q_events_moving_avg(spark, sf_dir):
    """5-row moving average per user (window-frame coverage; frame
    order identical both engines so the ≤5-term double sum is
    bit-identical)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts div 1000")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    return ev.select(
        "event_id", "user_id", "ts_us",
        F.round(F.avg("value").over(w), 4).alias("mov_avg"),
    )


@register("q_events_hopping", f"""
WITH t AS (
    SELECT event_type, epoch_us(ts) AS us, value FROM events
), buckets AS (
    -- the dividend is filtered non-negative BEFORE the integer
    -- division, so floor-vs-truncate semantics for negatives can
    -- never differ between engines
    SELECT event_type, value,
           ((us - {_HOP_SIZE_US} + {_HOP_STEP_US}
             + k.k * {_HOP_STEP_US}) // {_HOP_STEP_US}) * {_HOP_STEP_US}
               AS window_start_us
    FROM t, unnest(generate_series(0,
        {_HOP_SIZE_US // _HOP_STEP_US - 1})) AS k(k)
    WHERE us - {_HOP_SIZE_US} + {_HOP_STEP_US} + k.k * {_HOP_STEP_US} >= 0
)
SELECT window_start_us, event_type, count(*) AS n_events,
       round(sum(value::DECIMAL(18,6))::DOUBLE, 2) AS sum_value
FROM buckets
GROUP BY 1, 2
""")
def q_events_hopping(spark, sf_dir):
    """Hopping (overlapping) event-time windows: 10-min windows every
    5 min — each event lands in size/step buckets via a small
    sequence+explode (the batch shape of Structured Streaming's
    window(size, slide)). Integer bucket arithmetic, decimal-exact
    sums; explode factor = size/step = 2."""
    ev = load_table(spark, sf_dir, "events")
    n_hops = _HOP_SIZE_US // _HOP_STEP_US
    us = F.expr("ts div 1000")
    base = ev.select(
        "event_type", "value", us.alias("us"),
        F.explode(F.sequence(F.lit(0), F.lit(n_hops - 1))).alias("k"),
    )
    # integer `div` (never double division: a truncated float quotient
    # can drift off the bucket boundary at epoch-micro magnitudes),
    # dividend filtered non-negative first — engine-identical
    dividend = (
        F.col("us") - F.lit(_HOP_SIZE_US) + F.lit(_HOP_STEP_US)
        + F.col("k") * F.lit(_HOP_STEP_US)
    )
    return (
        base.where(dividend >= 0)
        .select(
            "event_type", "value",
            (F.expr(
                f"(us - {_HOP_SIZE_US} + {_HOP_STEP_US}"
                f" + k * {_HOP_STEP_US}) div {_HOP_STEP_US}"
            ) * F.lit(_HOP_STEP_US)).alias("window_start_us"),
        )
        .groupBy("window_start_us", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            _money(F.col("value")).alias("sum_value"),
        )
    )


@register("q_conversion_latency", """
WITH firsts AS (
    SELECT user_id,
           min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
               AS first_click_us,
           min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
               AS first_purchase_us
    FROM events GROUP BY user_id
), lat AS (
    SELECT first_purchase_us - first_click_us AS latency_us
    FROM firsts
    WHERE first_click_us IS NOT NULL
      AND first_purchase_us > first_click_us
)
SELECT count(*) AS n_converted,
       (sum(latency_us)::BIGINT // count(*)) AS mean_latency_us,
       round(quantile_cont(latency_us, 0.5), 4) AS p50_us,
       round(quantile_cont(latency_us, 0.95), 4) AS p95_us
FROM lat
""")
def q_conversion_latency(spark, sf_dir):
    """Click→purchase conversion latency distribution: integer floor
    mean (micros) + exact interpolated percentiles over per-user first
    events. Same two-shuffle shape as the funnel; the latency column
    is integer micros end to end."""
    ev = load_table(spark, sf_dir, "events")
    us = F.expr("ts div 1000")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", us)).alias(
            "first_click_us"
        ),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias(
            "first_purchase_us"
        ),
    )
    lat = firsts.where(
        F.col("first_click_us").isNotNull()
        & (F.col("first_purchase_us") > F.col("first_click_us"))
    ).select(
        (F.col("first_purchase_us") - F.col("first_click_us")).alias(
            "latency_us"
        )
    )
    return lat.agg(
        F.count("*").alias("n_converted"),
        F.expr("sum(latency_us) div count(*)").alias("mean_latency_us"),
        F.round(F.expr("percentile(latency_us, 0.5)"), 4).alias("p50_us"),
        F.round(F.expr("percentile(latency_us, 0.95)"), 4).alias("p95_us"),
    )


@register("q_event_transitions", """
WITH t AS (
    SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
    FROM events
), o AS (
    SELECT user_id, event_type,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts_us, event_id) AS next_type
    FROM t
)
SELECT event_type, next_type, count(*) AS n_transitions
FROM o WHERE next_type IS NOT NULL
GROUP BY 1, 2
""")
def q_event_transitions(spark, sf_dir):
    """Markov transition counts between consecutive event types per
    user (path/flow analysis — the aggregate behind sankey funnels
    and next-action models). One lead() window + one rollup;
    transition-matrix cardinality is event-type², tiny at any SF."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts div 1000")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    o = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    return (
        o.where(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count("*").alias("n_transitions"))
    )


@register("q_referential_audit", """
WITH o AS (SELECT o_orderkey FROM orders GROUP BY 1),
     l AS (SELECT l_orderkey, count(*) AS n_items
           FROM lineitem GROUP BY 1)
SELECT sum(CASE WHEN l.l_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT
           AS orders_without_items,
       sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT
           AS items_without_order,
       sum(CASE WHEN o.o_orderkey IS NOT NULL
                 AND l.l_orderkey IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
           AS matched_orders,
       coalesce(sum(CASE WHEN o.o_orderkey IS NOT NULL
                         THEN l.n_items END), 0)::BIGINT
           AS matched_items
FROM o FULL OUTER JOIN l ON o.o_orderkey = l.l_orderkey
""")
def q_referential_audit(spark, sf_dir):
    """Referential-integrity audit between the order and line-item
    tables (orphan detection on both sides) — the data-quality gate a
    pipeline runs after ingest/CDC. FULL OUTER join of the two key
    aggregates; both sides pre-aggregate to one row per key, so the
    join is key-cardinality, never row-cardinality."""
    o = load_table(spark, sf_dir, "orders").groupBy("o_orderkey").agg(
        F.lit(1).alias("_o")
    )
    li = load_table(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.count("*").alias("n_items")
    )
    j = o.join(li, F.col("o_orderkey") == F.col("l_orderkey"), "full_outer")
    return j.agg(
        F.sum(
            F.when(F.col("l_orderkey").isNull(), 1).otherwise(0)
        ).cast("long").alias("orders_without_items"),
        F.sum(
            F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)
        ).cast("long").alias("items_without_order"),
        F.sum(
            F.when(
                F.col("o_orderkey").isNotNull()
                & F.col("l_orderkey").isNotNull(), 1
            ).otherwise(0)
        ).cast("long").alias("matched_orders"),
        F.coalesce(
            F.sum(F.when(F.col("o_orderkey").isNotNull(), F.col("n_items"))),
            F.lit(0),
        ).cast("long").alias("matched_items"),
    )


@register("q_events_gap_detection", f"""
WITH t AS (
    SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
), o AS (
    SELECT user_id, event_id, ts_us,
           lead(ts_us) OVER (PARTITION BY user_id
                             ORDER BY ts_us, event_id) AS next_us
    FROM t
)
SELECT user_id, event_id, ts_us AS gap_start_us,
       next_us - ts_us AS gap_us
FROM o WHERE next_us - ts_us > {_GAP_US}
""")
def q_events_gap_detection(spark, sf_dir):
    """Activity-gap scan: per-user silences longer than an hour
    (monitoring/liveness primitive; the complement of sessionization).
    One lead() over the per-user order — integer-exact everywhere."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts div 1000")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    o = ev.select(
        "user_id", "event_id", "ts_us",
        F.lead("ts_us").over(w).alias("next_us"),
    )
    return (
        o.where(F.col("next_us") - F.col("ts_us") > _GAP_US)
        .select(
            "user_id", "event_id",
            F.col("ts_us").alias("gap_start_us"),
            (F.col("next_us") - F.col("ts_us")).alias("gap_us"),
        )
    )


@register("q_events_trailing_window", f"""
WITH t AS (
    SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events
)
SELECT event_id, user_id, ts_us,
       count(*) OVER w AS n_in_window,
       round((sum(value::DECIMAL(18,6)) OVER w)::DOUBLE, 4)
           AS trailing_sum
FROM t
WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
             RANGE BETWEEN {_TRAIL_US} PRECEDING AND CURRENT ROW)
""")
def q_events_trailing_window(spark, sf_dir):
    """Time-based RANGE frame: trailing 10-minute per-user rollup
    (rate limiting / rolling-exposure primitive). RANGE peers with
    equal timestamps have no defined accumulation order, so the frame
    sum goes through exact decimal — order-independent on both
    engines."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts div 1000")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-_TRAIL_US, Window.currentRow)
    )
    return ev.select(
        "event_id", "user_id", "ts_us",
        F.count("*").over(w).alias("n_in_window"),
        F.round(
            F.sum(_dec(F.col("value"))).over(w).cast("double"), 4
        ).alias("trailing_sum"),
    )


# ===================================================================
# §2.F+ — corpus-level operators
# ===================================================================

@register("corpus_stats_cube", """
SELECT lang, source, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars
FROM documents
GROUP BY CUBE (lang, source)
""")
def q_corpus_stats_cube(spark, sf_dir):
    """OLAP cube rollup (lang × source × totals) — grouping-set
    aggregation, one shuffle, map-side partial per grouping set."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.cube("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


# ===================================================================
# §2.C extensions (round 2) — deeper analytics coverage
# ===================================================================

@register("q7_nation_volume", """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l.l_shipdate) AS l_year,
       round(sum((l.l_extendedprice * (1 - l.l_discount))::DECIMAL(18,6))::DOUBLE, 2)
           AS revenue
FROM supplier s
JOIN lineitem l ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY supp_nation, cust_nation, l_year
""")
def q7(spark, sf_dir):
    """TPC-H Q7 shape: bilateral trade volume between a nation pair
    by ship year. Both nation dims prune to 2 rows and broadcast;
    the pair disjunction filters after the key joins."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    pair = nation.where(F.col("n_name").isin("NATION_1", "NATION_2"))
    n1 = pair.select(F.col("n_nationkey").alias("sn_key"),
                     F.col("n_name").alias("supp_nation"))
    n2 = pair.select(F.col("n_nationkey").alias("cn_key"),
                     F.col("n_name").alias("cust_nation"))
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation",
            F.year(F.col("l_shipdate").cast("timestamp")).cast("long")
                .alias("l_year"),
        )
        .agg(
            _money(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .alias("revenue")
        )
    )


@register("q8_market_share", """
WITH all_sales AS (
    SELECT year(o.o_orderdate) AS o_year,
           (l.l_extendedprice * (1 - l.l_discount))::DECIMAL(18,6) AS volume,
           n2.n_name AS supp_nation
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
    JOIN region r ON n1.n_regionkey = r.r_regionkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
    WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
)
SELECT o_year,
       round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume
                      ELSE 0 END)::DOUBLE
             / sum(volume)::DOUBLE, 4) AS mkt_share
FROM all_sales GROUP BY o_year
""")
def q8(spark, sf_dir):
    """TPC-H Q8 shape: one nation's share of a region's ECONOMY-part
    revenue per order year. Filtered part prunes the lineitem scan
    early; nation/region broadcast; customer/supplier go to AQE."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    part = load_table(spark, sf_dir, "part")
    cust_nat = (
        nation.join(
            F.broadcast(region.where(F.col("r_name") == "AMERICA")),
            nation.n_regionkey == region.r_regionkey,
        ).select(F.col("n_nationkey").alias("cn_key"))
    )
    supp_nat = nation.select(
        F.col("n_nationkey").alias("sn_key"),
        F.col("n_name").alias("supp_nation"),
    )
    vol = _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    nation3 = F.when(
        F.col("supp_nation") == "NATION_3", vol
    ).otherwise(F.lit(0).cast("decimal(18,6)"))
    return (
        li.join(part.where(F.col("p_type") == "ECONOMY"),
                li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(cust_nat), F.col("c_nationkey") == F.col("cn_key"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(supp_nat), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(
            F.year(F.col("o_orderdate").cast("timestamp")).cast("long")
                .alias("o_year")
        )
        .agg(
            F.round(
                F.sum(nation3).cast("double") / F.sum(vol).cast("double"), 4
            ).alias("mkt_share")
        )
    )


@register("q9_profit_by_nation_year", """
SELECT n.n_name AS nation, year(l.l_shipdate) AS l_year,
       round(sum((l.l_extendedprice * (1 - l.l_discount)
                  - 0.1 * p.p_retailprice * l.l_quantity)::DECIMAL(18,6))::DOUBLE, 2)
           AS sum_profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE p.p_type = 'STANDARD'
GROUP BY nation, l_year
""")
def q9(spark, sf_dir):
    """TPC-H Q9 shape (no partsupp table in this corpus: supply cost
    modeled as 10% of retail price — identical per-row double math on
    both engines). Profit by supplier nation x ship year."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.1) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(part.where(F.col("p_type") == "STANDARD"),
                li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year(F.col("l_shipdate").cast("timestamp")).cast("long")
                .alias("l_year"),
        )
        .agg(_money(profit).alias("sum_profit"))
    )


@register("q12_priority_by_linestatus", """
SELECT l.l_linestatus,
       sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
       sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END)::BIGINT AS low_line_count
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l.l_linestatus
""")
def q12(spark, sf_dir):
    """TPC-H Q12 shape (no shipmode column: linestatus plays the
    grouping role). Conditional counts — one shuffle, map-side
    partial."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register("q13_order_count_distribution", """
WITH c_orders AS (
    SELECT c.c_custkey, count(o.o_orderkey) AS c_count
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
)
SELECT c_count, count(*) AS custdist
FROM c_orders GROUP BY c_count
""")
def q13(spark, sf_dir):
    """TPC-H Q13: order-count-per-customer histogram (left join keeps
    zero-order customers; two shuffles, second one tiny)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    c_orders = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return c_orders.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register("q15_top_supplier", """
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,6))
               AS total_exact
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1996-04-01'
    GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name,
       round(r.total_exact::DOUBLE, 2) AS total_revenue
FROM supplier s
JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_exact = (SELECT max(total_exact) FROM revenue)
""")
def q15(spark, sf_dir):
    """TPC-H Q15: top supplier by quarterly revenue. The max is a
    1-row agg broadcast back (no global sort, no single-partition
    window); ties kept exactly as the oracle does. Exact decimal
    revenue makes the max comparison engine-identical."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    revenue = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
            .alias("total_exact")
        )
    )
    top = revenue.agg(F.max("total_exact").alias("max_exact"))
    return (
        revenue.join(
            F.broadcast(top), F.col("total_exact") == F.col("max_exact")
        )
        .join(supp, F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name",
            F.round(F.col("total_exact").cast("double"), 2)
                .alias("total_revenue"),
        )
    )


@register("q17_small_quantity_revenue", """
WITH part_qty AS (
    SELECT l_partkey,
           sum(l_quantity::DECIMAL(18,6)) AS sum_qty,
           count(*) AS n_lines
    FROM lineitem GROUP BY l_partkey
)
SELECT round(sum(l.l_extendedprice::DECIMAL(18,6))::DOUBLE / 7.0, 2)
           AS avg_yearly,
       count(*) AS n_items
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN part_qty q ON q.l_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#1'
  AND l.l_quantity * 5 * q.n_lines < q.sum_qty::DOUBLE
""")
def q17(spark, sf_dir):
    """TPC-H Q17 shape: revenue from below-20%-of-average-quantity
    orders. The correlated avg is re-expressed as an exact decimal
    sum + count joined back (qty*5*n < sum ⇔ qty < 0.2*avg, with no
    cross-engine float-average drift); the per-part agg shuffles on
    the same key as the join."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    part_qty = li.groupBy(F.col("l_partkey").alias("pq_key")).agg(
        F.sum(_dec(F.col("l_quantity"))).alias("sum_qty"),
        F.count("*").alias("n_lines"),
    )
    return (
        # brand-filtered part is still a fixed fraction of an
        # SF-scaling table — no hint, AQE decides
        li.join(part.where(F.col("p_brand") == "Brand#1"),
                li.l_partkey == part.p_partkey)
        .join(part_qty, li.l_partkey == F.col("pq_key"))
        .where(
            F.col("l_quantity") * 5 * F.col("n_lines")
            < F.col("sum_qty").cast("double")
        )
        .agg(
            F.round(
                F.sum(_dec(F.col("l_extendedprice"))).cast("double")
                / F.lit(7.0),
                2,
            ).alias("avg_yearly"),
            F.count("*").alias("n_items"),
        )
    )


@register("q19_brand_size_revenue", """
SELECT round(sum((l.l_extendedprice * (1 - l.l_discount))::DECIMAL(18,6))::DOUBLE, 2)
           AS revenue,
       count(*) AS n_items
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 20)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
       AND l.l_quantity BETWEEN 10 AND 30)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
       AND l.l_quantity BETWEEN 20 AND 40)
""")
def q19(spark, sf_dir):
    """TPC-H Q19 shape: disjunctive brand/size/quantity predicates.
    The part-side disjuncts reduce part before the join; the residual
    quantity conditions apply after."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    qty = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & qty.between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30)
           & qty.between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50)
           & qty.between(20, 40))
    )
    part_side = part.where(
        F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
    )
    return (
        li.join(part_side, li.l_partkey == part_side.p_partkey)
        .where(cond)
        .agg(
            _money(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register("q22_idle_customers", """
WITH avg_bal AS (
    SELECT (sum(c_acctbal::DECIMAL(18,6)) / count(*))::DOUBLE AS ab
    FROM customer WHERE c_acctbal > 0.0
)
SELECT n.n_name, count(*) AS numcust,
       round(sum(c.c_acctbal::DECIMAL(18,6))::DOUBLE, 2) AS totacctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey, avg_bal
WHERE c.c_acctbal > avg_bal.ab
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY n.n_name
""")
def q22(spark, sf_dir):
    """TPC-H Q22 shape: high-balance customers with no *recent*
    orders, by nation. Global average = 1-row exact-decimal agg
    broadcast in; the no-orders test is a left_anti join (never a
    correlated per-row subquery)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    avg_bal = (
        cust.where(F.col("c_acctbal") > 0.0)
        .agg(
            (F.sum(_dec(F.col("c_acctbal"))) / F.count("*"))
            .cast("double").alias("ab")
        )
    )
    recent = orders.where(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("ab"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("numcust"),
            _money(F.col("c_acctbal")).alias("totacctbal"),
        )
    )


@register("q2_min_cost_supplier", f"""
WITH {PARTSUPP_CTE},
eligible AS (
    SELECT ps.ps_partkey, ps.ps_supplycost_cents,
           s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
    FROM partsupp ps
    JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'EUROPE'
),
mins AS (
    SELECT ps_partkey, min(ps_supplycost_cents) AS min_cents
    FROM eligible GROUP BY ps_partkey
)
SELECT p.p_partkey, p.p_brand, p.p_type,
       e.s_suppkey, e.s_name, e.n_name, e.s_acctbal,
       round(e.ps_supplycost_cents / 100.0, 2) AS supplycost
FROM eligible e
JOIN mins m ON m.ps_partkey = e.ps_partkey
           AND e.ps_supplycost_cents = m.min_cents
JOIN part p ON p.p_partkey = e.ps_partkey
WHERE p.p_size >= 40 AND p.p_type = 'LARGE'
""")
def q2(spark, sf_dir):
    """TPC-H Q2 shape: cheapest supplier per part within one region
    (correlated min subquery de-correlated into a per-part min agg
    joined back on (part, exact integer cents) — ties keep every
    minimal supplier, as Q2 specifies). The per-part min shuffles on
    ps_partkey, the same key as the join back, so AQE coalesces both
    into one exchange; nation/region are broadcast dims; supplier and
    the filtered part side scale with SF, so no hints — AQE decides.
    Derived-partsupp trio: reference has no partsupp table, see
    PARTSUPP_CTE."""
    ps = _partsupp(spark, sf_dir)
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    part = load_table(spark, sf_dir, "part")
    eligible = (
        ps.join(supp, ps.ps_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region.where(F.col("r_name") == "EUROPE")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("ps_partkey", "ps_supplycost_cents",
                "s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    mins = eligible.groupBy("ps_partkey").agg(
        F.min("ps_supplycost_cents").alias("min_cents")
    )
    return (
        eligible.join(mins, "ps_partkey")
        .where(F.col("ps_supplycost_cents") == F.col("min_cents"))
        .join(
            part.where((F.col("p_size") >= 40) & (F.col("p_type") == "LARGE")),
            F.col("ps_partkey") == F.col("p_partkey"),
        )
        .select(
            "p_partkey", "p_brand", "p_type", "s_suppkey", "s_name",
            "n_name", "s_acctbal",
            F.round(F.col("ps_supplycost_cents") / 100.0, 2)
                .alias("supplycost"),
        )
    )


@register("q11_important_stock", f"""
WITH {PARTSUPP_CTE},
regional AS (
    SELECT ps.ps_partkey,
           ps.ps_supplycost_cents * ps.ps_availqty AS v_cents
    FROM partsupp ps
    JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_regionkey = 3
)
SELECT ps_partkey, CAST(sum(v_cents) AS BIGINT) AS value_cents
FROM regional
GROUP BY ps_partkey
HAVING sum(v_cents) * (SELECT count(DISTINCT ps_partkey) FROM regional) * 2
       > (SELECT sum(v_cents) FROM regional) * 3
""")
def q11(spark, sf_dir):
    """TPC-H Q11 shape: parts whose regional inventory value exceeds
    1.5× the average per-part value. TPC-H scales its Q11 fraction by
    1/SF for exactly this reason — a fixed share empties out as the
    part count grows; an average-relative threshold is scale-invariant
    by construction. Value = integer cents × integer qty — the agg,
    the global total/count, and the threshold compare are all exact
    BIGINT arithmetic (no float drift between engines). The totals are
    a 1-row agg broadcast back; the per-part agg is one
    map-side-combined shuffle. Derived-partsupp trio, see
    PARTSUPP_CTE."""
    ps = _partsupp(spark, sf_dir)
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    regional = (
        ps.join(supp, ps.ps_suppkey == supp.s_suppkey)
        .join(
            F.broadcast(nation.where(F.col("n_regionkey") == 3)),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "ps_partkey",
            (F.col("ps_supplycost_cents") * F.col("ps_availqty"))
                .alias("v_cents"),
        )
    )
    total = regional.agg(
        F.sum("v_cents").alias("total_cents"),
        F.countDistinct("ps_partkey").alias("n_parts"),
    )
    return (
        regional.groupBy("ps_partkey")
        .agg(F.sum("v_cents").alias("value_cents"))
        .crossJoin(F.broadcast(total))
        .where(
            F.col("value_cents") * F.col("n_parts") * 2
            > F.col("total_cents") * 3
        )
        .select("ps_partkey", "value_cents")
    )


@register("q20_excess_stock", f"""
WITH {PARTSUPP_CTE},
shipped AS (
    SELECT l_partkey, l_suppkey,
           sum(l_quantity::DECIMAL(18,6)) AS sum_qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate < TIMESTAMP '1996-01-01'
    GROUP BY l_partkey, l_suppkey
)
SELECT DISTINCT s.s_suppkey, s.s_name, n.n_name
FROM partsupp ps
JOIN part p ON p.p_partkey = ps.ps_partkey AND p.p_name LIKE '%bolt%'
JOIN shipped q ON q.l_partkey = ps.ps_partkey
              AND q.l_suppkey = ps.ps_suppkey
JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE n.n_regionkey = 2
  AND ps.ps_availqty::DECIMAL(18,6) > q.sum_qty * 2
""")
def q20(spark, sf_dir):
    """TPC-H Q20 shape: suppliers in one region holding excess stock
    of a part family (availqty > 2× the quantity they shipped in
    1995). The nested-EXISTS chain de-correlates into a
    (partkey, suppkey) shipment agg that shuffles on the SAME
    composite key as the partsupp join — co-partitioned, no second
    exchange; the threshold compares exact decimals. DISTINCT
    collapses to one row per qualifying supplier. Derived-partsupp
    trio, see PARTSUPP_CTE."""
    ps = _partsupp(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    shipped = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(_dec(F.col("l_quantity"))).alias("sum_qty"))
    )
    return (
        ps.join(part.where(F.col("p_name").like("%bolt%")),
                ps.ps_partkey == part.p_partkey)
        .join(shipped, (F.col("ps_partkey") == F.col("l_partkey"))
                       & (F.col("ps_suppkey") == F.col("l_suppkey")))
        .where(_dec(F.col("ps_availqty")) > F.col("sum_qty") * 2)
        .join(supp, F.col("ps_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation.where(F.col("n_regionkey") == 2)),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
        .distinct()
    )


@register("q_events_json_props", """
SELECT CAST(floor(TRY_CAST(
           CASE WHEN props IS NOT NULL AND json_valid(props)
                THEN props->>'$.k' END AS DOUBLE) / 10.0) AS BIGINT)
           AS k_bucket,
       count(*) AS n_events,
       round(sum(value::DECIMAL(18,6))::DOUBLE, 2) AS sum_value
FROM events
GROUP BY k_bucket
""")
def q_events_json_props(spark, sf_dir):
    """Semi-structured extraction: JSON props column → typed field →
    rollup (get_json_object is JVM-side; at scale prefer
    from_json with an explicit schema, same plan shape). Messy JSON
    is survivable by construction: try_cast to DOUBLE (not ANSI cast,
    and not integer — engines disagree on rounding '25.7' to BIGINT),
    and the oracle guards DuckDB's throwing `->>` with json_valid —
    malformed/nested/absent keys land in the NULL bucket identically
    on both engines."""
    ev = load_table(spark, sf_dir, "events")
    k = F.expr("try_cast(get_json_object(props, '$.k') AS double)")
    return (
        ev.select((F.floor(k / 10)).cast("long").alias("k_bucket"), "value")
        .groupBy("k_bucket")
        .agg(
            F.count("*").alias("n_events"),
            _money(F.col("value")).alias("sum_value"),
        )
    )


@register("q_events_cumulative", """
WITH t AS (
    SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events
)
SELECT event_id, user_id, ts_us,
       round(sum(value::DECIMAL(18,6))
                 OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS UNBOUNDED PRECEDING)::DOUBLE, 4)
           AS cum_value,
       row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
           AS event_seq
FROM t
""")
def q_events_cumulative(spark, sf_dir):
    """Per-user running total + event sequence number (unbounded
    window frame; exact decimal accumulation so the running sum is
    engine-identical at every row, not just the last)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts div 1000")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ws = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return ev.select(
        "event_id", "user_id", "ts_us",
        F.round(F.sum(_dec(F.col("value"))).over(w).cast("double"), 4)
            .alias("cum_value"),
        F.row_number().over(ws).cast("long").alias("event_seq"),
    )


@register("q_orders_monthly_trend", """
WITH m AS (
    SELECT epoch_us(date_trunc('month', o_orderdate)) AS month_us,
           count(*) AS n_orders,
           round(sum(o_totalprice::DECIMAL(18,6))::DOUBLE, 2) AS revenue
    FROM orders GROUP BY month_us
)
SELECT month_us, n_orders, revenue,
       round(revenue - lag(revenue, 1, 0.0)
                 OVER (ORDER BY month_us), 2) AS mom_delta
FROM m
""")
def q_orders_monthly_trend(spark, sf_dir):
    """Monthly order trend with month-over-month revenue delta
    (date_trunc + lag). The lag window is over the months table
    (dozens of rows) — the single-partition window is on the
    aggregated, not the raw, data."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = (
        orders.groupBy(
            F.unix_micros(
                F.date_trunc("month", F.col("o_orderdate").cast("timestamp"))
            ).alias("month_us")
        )
        .agg(
            F.count("*").alias("n_orders"),
            _money(F.col("o_totalprice")).alias("revenue"),
        )
    )
    w = Window.orderBy("month_us")
    return monthly.select(
        "month_us", "n_orders", "revenue",
        F.round(
            F.col("revenue") - F.lag("revenue", 1, 0.0).over(w), 2
        ).alias("mom_delta"),
    )


@register("q_chunk_dedup", f"""
WITH {CHUNK_CTE}
SELECT md5(text_content) AS chunk_hash,
       count(*) AS n_chunks,
       min(doc_id) AS first_doc_id
FROM chunks_f
GROUP BY chunk_hash
HAVING count(*) > 1
""")
def q_chunk_dedup(spark, sf_dir):
    """Chunk-granularity exact dedup: repeated chunk text across the
    corpus (boilerplate headers/footers in training data dedupe at
    chunk level, not document level). Same 1-shuffle md5-groupBy
    shape as dedup_exact."""
    ch = chunking.chunk_documents(load_table(spark, sf_dir, "documents"))
    return (
        ch.groupBy(F.md5("text_content").alias("chunk_hash"))
        .agg(
            F.count("*").alias("n_chunks"),
            F.min("doc_id").alias("first_doc_id"),
        )
        .where(F.col("n_chunks") > 1)
    )


@register("q_events_anomaly", """
WITH m AS (
    SELECT event_type,
           count(*) AS n,
           (sum(value::DECIMAL(18,6))::DOUBLE) AS s1,
           (sum((value * value)::DECIMAL(38,12))::DOUBLE) AS s2
    FROM events GROUP BY 1
)
SELECT e.event_id, e.event_type,
       round(e.value, 4) + 0.0 AS value,
       round((e.value - s1 / n)
             / sqrt(greatest((s2 - s1 * s1 / n) / greatest(n - 1, 1),
                             1e-12)), 4)
           + 0.0 AS zscore
FROM events e JOIN m USING (event_type)
WHERE abs((e.value - s1 / n)
          / sqrt(greatest((s2 - s1 * s1 / n) / greatest(n - 1, 1),
                          1e-12))) > 3
""")
def q_events_anomaly(spark, sf_dir):
    """Z-score outlier scan per event type with EXACT moments: mean
    and variance derive from decimal sums (sum v, sum v²), not from
    stddev_samp whose float accumulation order is engine- and
    partition-dependent. sqrt is IEEE correctly-rounded — identical
    everywhere. The per-type moment table is tiny → broadcast; the
    scan stays one pass."""
    ev = load_table(spark, sf_dir, "events")
    m = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(_dec(F.col("value"))).cast("double").alias("s1"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(38,12)"))
        .cast("double").alias("s2"),
    )
    j = ev.join(F.broadcast(m), "event_type")
    n = F.col("n").cast("double")
    mean = F.col("s1") / n
    # greatest(n-1, 1): a singleton event type must not divide by
    # zero (ANSI error); its z-score is 0 and never passes the filter
    var = F.greatest(
        (F.col("s2") - F.col("s1") * F.col("s1") / n)
        / F.greatest(n - 1, F.lit(1.0)),
        F.lit(1e-12),
    )
    z = (F.col("value") - mean) / F.sqrt(var)
    return (
        j.where(F.abs(z) > 3)
        .select(
            "event_id", "event_type",
            (F.round(F.col("value"), 4) + F.lit(0.0)).alias("value"),
            (F.round(z, 4) + F.lit(0.0)).alias("zscore"),
        )
    )


@register("q_user_retention", f"""
WITH act AS (
    SELECT user_id, epoch_us(ts) // {_WEEK_US} AS week
    FROM events GROUP BY 1, 2
), cohort AS (
    SELECT user_id, min(week) AS cohort_week FROM act GROUP BY 1
), sizes AS (
    SELECT cohort_week, count(*) AS cohort_size FROM cohort GROUP BY 1
), ret AS (
    SELECT c.cohort_week, a.week - c.cohort_week AS week_offset,
           count(*) AS n_active
    FROM act a JOIN cohort c USING (user_id)
    GROUP BY 1, 2
)
SELECT r.cohort_week, r.week_offset, r.n_active, s.cohort_size,
       r.n_active * 1000 // s.cohort_size AS retention_permille
FROM ret r JOIN sizes s USING (cohort_week)
""")
def q_user_retention(spark, sf_dir):
    """Cohort retention matrix: users grouped by first-active epoch
    week, activity tracked per week offset. Integer permille (floor
    division) instead of a rounded ratio — small-integer ratios land
    exactly on decimal rounding boundaries where engine round modes
    diverge. Shape: distinct (user, week) pass, per-user min, then a
    user-key join that AQE co-partitions with the cohort agg; the
    per-(cohort, offset) rollup is weeks², tiny at any SF."""
    ev = load_table(spark, sf_dir, "events")
    act = ev.select(
        "user_id",
        F.expr(f"(ts div 1000) div {_WEEK_US}").alias("week"),
    ).distinct()
    cohort = act.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    sizes = cohort.groupBy("cohort_week").agg(
        F.count("*").alias("cohort_size")
    )
    ret = (
        act.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.count("*").alias("n_active"))
    )
    return ret.join(F.broadcast(sizes), "cohort_week").select(
        "cohort_week", "week_offset", "n_active", "cohort_size",
        F.expr("n_active * 1000 div cohort_size").alias("retention_permille"),
    )


@register("q_rfm_segments", """
WITH per_cust AS (
    SELECT o_custkey,
           max(epoch_us(o_orderdate)) AS recency_us,
           count(*) AS frequency,
           round(sum(o_totalprice::DECIMAL(18,6))::DOUBLE, 2) AS monetary
    FROM orders GROUP BY 1
), cuts AS (
    SELECT quantile_cont(recency_us, 0.25) AS r1,
           quantile_cont(recency_us, 0.50) AS r2,
           quantile_cont(recency_us, 0.75) AS r3,
           quantile_cont(frequency, 0.25) AS f1,
           quantile_cont(frequency, 0.50) AS f2,
           quantile_cont(frequency, 0.75) AS f3,
           quantile_cont(monetary, 0.25) AS m1,
           quantile_cont(monetary, 0.50) AS m2,
           quantile_cont(monetary, 0.75) AS m3
    FROM per_cust
)
SELECT o_custkey, frequency, monetary,
       1 + (recency_us > r1)::INT + (recency_us > r2)::INT
         + (recency_us > r3)::INT AS r_score,
       1 + (frequency > f1)::INT + (frequency > f2)::INT
         + (frequency > f3)::INT AS f_score,
       1 + (monetary > m1)::INT + (monetary > m2)::INT
         + (monetary > m3)::INT AS m_score,
       (1 + (recency_us > r1)::INT + (recency_us > r2)::INT
          + (recency_us > r3)::INT) * 100
       + (1 + (frequency > f1)::INT + (frequency > f2)::INT
            + (frequency > f3)::INT) * 10
       + (1 + (monetary > m1)::INT + (monetary > m2)::INT
            + (monetary > m3)::INT) AS segment
FROM per_cust, cuts
""")
def q_rfm_segments(spark, sf_dir):
    """RFM customer segmentation with quartile CUTPOINTS, not ntile:
    a global ntile needs a single-partition window sort (the classic
    scale anti-pattern); scoring against three exact interpolated
    percentile cuts is two fully-parallel passes — the cuts are a
    1-row broadcast. Boundary ties resolve by strict value comparison,
    identical on both engines. At 100 TB the exact `percentile` agg
    (which gathers the per-customer values into one reducer) swaps for
    `approx_percentile` — same cutpoint shape, t-digest accuracy
    (tolerance evidence in tests/test_properties.py)."""
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max(
            F.unix_micros(F.col("o_orderdate").cast("timestamp"))
        ).alias("recency_us"),
        F.count("*").alias("frequency"),
        _money(F.col("o_totalprice")).alias("monetary"),
    )
    cuts = per_cust.agg(
        *[
            F.expr(f"percentile({c}, {q})").alias(f"{c[0]}{i}")
            for c in ("recency_us", "frequency", "monetary")
            for i, q in ((1, 0.25), (2, 0.50), (3, 0.75))
        ]
    )
    scored = per_cust.crossJoin(F.broadcast(cuts))

    def score(col, pfx):
        return (
            F.lit(1)
            + (F.col(col) > F.col(f"{pfx}1")).cast("int")
            + (F.col(col) > F.col(f"{pfx}2")).cast("int")
            + (F.col(col) > F.col(f"{pfx}3")).cast("int")
        )

    r, f, m = (
        score("recency_us", "r"),
        score("frequency", "f"),
        score("monetary", "m"),
    )
    return scored.select(
        "o_custkey", "frequency", "monetary",
        r.alias("r_score"), f.alias("f_score"), m.alias("m_score"),
        (r * 100 + f * 10 + m).alias("segment"),
    )


@register("q16_part_supplier_variety", """
SELECT p.p_brand, p.p_type, p_size::BIGINT AS p_size,
       count(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#45'
  AND p.p_type <> 'ECONOMY'
  AND p.p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
  AND l.l_suppkey NOT IN
      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
LIMIT 50
""")
def q16_part_supplier_variety(spark, sf_dir):
    """TPC-H Q16 shape: distinct supplier count per surviving
    (brand, type, size) after a NOT-IN complaint-supplier exclusion.
    The NOT IN is a left_anti join; no broadcast hints — part and the
    complaint set both scale with SF, so AQE picks the strategy (the
    anti side is small enough that AQE broadcasts it at runtime)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#45")
        & (F.col("p_type") != "ECONOMY")
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    complaints = load_table(spark, sf_dir, "supplier").where(
        F.col("s_acctbal") < 0
    ).select(F.col("s_suppkey").alias("l_suppkey"))
    return (
        li.join(complaints, "l_suppkey", "left_anti")
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", F.col("p_size").cast("long").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
        .limit(50)
    )


@register("q21_sole_blame_suppliers", """
WITH per_os AS (
    SELECT l_orderkey, l_suppkey,
           max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS has_r
    FROM lineitem GROUP BY 1, 2
), per_order AS (
    SELECT l_orderkey, count(*) AS n_supp,
           sum(has_r)::BIGINT AS n_supp_r,
           min(CASE WHEN has_r = 1 THEN l_suppkey END) AS blame_supp
    FROM per_os GROUP BY 1
), blamed AS (
    SELECT p.blame_supp
    FROM per_order p JOIN orders o ON o.o_orderkey = p.l_orderkey
    WHERE o.o_orderstatus = 'F' AND p.n_supp > 1 AND p.n_supp_r = 1
)
SELECT n.n_name, s.s_name, count(*) AS numwait
FROM blamed b
JOIN supplier s ON s.s_suppkey = b.blame_supp
JOIN nation n ON n.n_nationkey = s.s_nationkey
GROUP BY 1, 2
ORDER BY numwait DESC, n_name, s_name
LIMIT 100
""")
def q21_sole_blame_suppliers(spark, sf_dir):
    """TPC-H Q21 shape (returnflag as the lateness signal): suppliers
    solely responsible for a returned line on a multi-supplier
    finished order. The classic EXISTS/NOT-EXISTS pair is de-correlated
    into one aggregation pass over lineitem — (order, supplier) partial
    agg first (map-side combine, no 3x expand from multi-DISTINCT),
    then a per-order rollup; the two self-joins of the textbook form
    never happen. nation is the only broadcast (true dim); the
    orders/supplier joins are AQE-planned."""
    li = load_table(spark, sf_dir, "lineitem")
    per_os = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(
            F.when(F.col("l_returnflag") == "R", F.lit(1)).otherwise(0)
        ).alias("has_r")
    )
    per_order = per_os.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"),
        F.sum("has_r").cast("long").alias("n_supp_r"),
        F.min(F.when(F.col("has_r") == 1, F.col("l_suppkey"))).alias(
            "blame_supp"
        ),
    )
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    blamed = per_order.join(
        orders, F.col("l_orderkey") == F.col("o_orderkey")
    ).where((F.col("n_supp") > 1) & (F.col("n_supp_r") == 1))
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    return (
        blamed.join(supp, F.col("blame_supp") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "n_name", "s_name")
        .limit(100)
    )


# ===================================================================
# round 4 — CDC/state-history compaction, range join, sketch audit,
# engagement rollups, BM25 retrieval scoring
# ===================================================================

@register("q_cdc_latest_state", """
WITH e AS (
    SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type, value
    FROM events
), r AS (
    SELECT user_id, ts_us, event_id, event_type, value,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts_us DESC, event_id DESC) AS rn,
           count(*) OVER (PARTITION BY user_id) AS n_events
    FROM e
)
SELECT user_id, ts_us AS last_ts_us, event_id AS last_event_id,
       event_type AS last_event_type, value AS last_value, n_events
FROM r WHERE rn = 1
""")
def q_cdc_latest_state(spark, sf_dir):
    """CDC log compaction: latest state per key (last-row-wins upsert
    view over an append-only change stream — the read side of a
    Debezium/Kafka table topic, or a Delta/Iceberg MERGE snapshot).

    Deliberately NOT a row_number window (the oracle's formulation):
    a partitioned window shuffles the ENTIRE log and sorts every
    group's full history; `max` over a (ts, id, payload) struct is an
    ordinary aggregate with map-side partial combine, so the shuffle
    carries one row per key per map task. Struct max does fall back to
    SortAggregate (local, spillable sorts on the grouping key — the
    hash-agg buffer only holds primitives), which is the right trade:
    the wire cost drops from the full log to ~|keys| rows. (ts_us,
    event_id) is a unique prefix, so the struct comparison never
    reaches the payload fields and the result is deterministic."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr("ts div 1000").alias("ts_us"),
        "event_id", "event_type", "value",
    )
    return (
        ev.groupBy("user_id")
        .agg(
            F.max(
                F.struct("ts_us", "event_id", "event_type", "value")
            ).alias("last"),
            F.count("*").alias("n_events"),
        )
        .select(
            "user_id",
            F.col("last.ts_us").alias("last_ts_us"),
            F.col("last.event_id").alias("last_event_id"),
            F.col("last.event_type").alias("last_event_type"),
            F.col("last.value").alias("last_value"),
            "n_events",
        )
    )


@register("q_user_state_history", """
WITH e AS (
    SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
    FROM events
), flagged AS (
    SELECT user_id, ts_us, event_id, event_type,
           CASE WHEN lag(event_type) OVER (PARTITION BY user_id
                                           ORDER BY ts_us, event_id)
                     IS DISTINCT FROM event_type
                THEN 1 ELSE 0 END AS chg
    FROM e
), islands AS (
    SELECT user_id, event_type, ts_us,
           CAST(sum(chg) OVER (PARTITION BY user_id
                               ORDER BY ts_us, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS version
    FROM flagged
), hist AS (
    SELECT user_id, version, event_type AS state,
           min(ts_us) AS valid_from_us, count(*) AS n_events
    FROM islands GROUP BY user_id, version, event_type
)
SELECT user_id, version, state, valid_from_us,
       coalesce(lead(valid_from_us) OVER (PARTITION BY user_id
                                          ORDER BY valid_from_us), -1)
           AS valid_to_us,
       n_events
FROM hist
""")
def q_user_state_history(spark, sf_dir):
    """SCD-type-2 state history from an event log: consecutive runs of
    the same event_type per user collapse into versioned validity
    intervals [valid_from_us, valid_to_us) with -1 marking the open
    current row — the gaps-and-islands build every warehouse uses to
    construct slowly-changing dimensions from CDC feeds.

    Two user-partitioned window passes (lag → change flag, running sum
    → island id) + one agg; the closing timestamps come from a lead()
    over the already-aggregated interval rows (group-count sized, not
    event-count sized). All windows are keyed by user_id — parallel
    across keys, never a global sort."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr("ts div 1000").alias("ts_us"),
        "event_id", "event_type",
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    prev = F.lag("event_type").over(w)
    # ~eqNullSafe ≡ the oracle's IS DISTINCT FROM: a NULL state after a
    # non-null one (or vice versa) flags a change instead of yielding
    # NULL → 0 the way `prev != col` would
    flagged = ev.withColumn(
        "chg",
        F.when(~prev.eqNullSafe(F.col("event_type")), 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "version",
        F.sum("chg").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).cast("long"),
    )
    hist = islands.groupBy("user_id", "version", "event_type").agg(
        F.min("ts_us").alias("valid_from_us"),
        F.count("*").alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from_us")
    return hist.select(
        "user_id", "version",
        F.col("event_type").alias("state"),
        "valid_from_us",
        F.coalesce(
            F.lead("valid_from_us").over(w2), F.lit(-1)
        ).alias("valid_to_us"),
        "n_events",
    )


@register("q_range_join_events", f"""
WITH err AS (
    SELECT event_id, epoch_us(ts) AS ts_us FROM events
    WHERE event_type = 'error'
), vw AS (
    SELECT epoch_us(ts) AS v_us FROM events WHERE event_type = 'view'
)
SELECT e.event_id, e.ts_us, count(v.v_us) AS n_views_nearby
FROM err e LEFT JOIN vw v
  ON v.v_us >= e.ts_us - {RJ_WINDOW_US}
 AND v.v_us <  e.ts_us + {RJ_WINDOW_US}
GROUP BY e.event_id, e.ts_us
""")
def q_range_join_events(spark, sf_dir):
    """Pure range (band) join with NO equi-key: every error event ×
    the view events inside its ±60 s window, as per-error context
    counts. The oracle's inequality join is what Spark would compile
    to a BroadcastNestedLoopJoin — O(|L|·|R|) and a fact-table
    broadcast; operators/rangejoin.py instead quantizes time into
    window-width buckets, explodes each error into the 2-3 buckets its
    window overlaps, and equi-joins on the bucket id: a plain shuffled
    hash join with bounded fanout that AQE can skew-split. Each view
    lands in exactly one bucket, so matched pairs are never double-
    counted and unmatched exploded copies add nothing to count()."""
    from ..operators.rangejoin import range_join_count

    ev = load_table(spark, sf_dir, "events")
    err = ev.where(F.col("event_type") == "error").select(
        "event_id", F.expr("ts div 1000").alias("ts_us")
    )
    vw = ev.where(F.col("event_type") == "view").select(
        F.expr("ts div 1000").alias("v_us")
    )
    return range_join_count(
        err, vw, "ts_us", "v_us",
        lo=-RJ_WINDOW_US, hi=RJ_WINDOW_US, bucket_width=RJ_WINDOW_US,
        left_id="event_id", agg_alias="n_views_nearby",
    )


@register("q_sketch_rank_audit", """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS exact_p50,
       round(quantile_cont(value, 0.95), 4) AS exact_p95,
       count(*) AS n_events,
       TRUE AS p50_within_eps,
       TRUE AS p95_within_eps
FROM events GROUP BY event_type
""")
def q_sketch_rank_audit(spark, sf_dir):
    """Sketch-accuracy audit for the 100 TB percentile path: run the
    approx_percentile (Greenwald-Khanna) sketch NEXT TO the exact
    percentile, measure the exact rank of each sketch answer, and
    assert it sits inside the sketch's contractual ±ε rank band
    (accuracy=100 → ε=1%). The oracle pins the exact percentiles and
    the contract booleans at TRUE — if the sketch ever drifts out of
    its band, the hash check fails. Same calibration pattern as
    q_minhash_accuracy: the approximation is graded by a measurement,
    not trusted. One extra broadcast of a 5-row stats table + one
    conditional re-aggregation over the events scan."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    stats = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("exact_p50"),
        F.percentile("value", F.lit(0.95)).alias("exact_p95"),
        F.expr("approx_percentile(value, 0.5, 100)").alias("a50"),
        F.expr("approx_percentile(value, 0.95, 100)").alias("a95"),
        F.count("*").alias("n_events"),
    )
    audited = (
        ev.join(F.broadcast(stats), "event_type")
        .groupBy(
            "event_type", "exact_p50", "exact_p95",
            "a50", "a95", "n_events",
        )
        .agg(
            F.sum(
                F.when(F.col("value") <= F.col("a50"), 1).otherwise(0)
            ).alias("rank_a50"),
            F.sum(
                F.when(F.col("value") <= F.col("a95"), 1).otherwise(0)
            ).alias("rank_a95"),
        )
    )

    def within(rank_col, q):
        lo = F.floor((F.lit(q) - _SKETCH_EPS) * F.col("n_events"))
        hi = F.ceil((F.lit(q) + _SKETCH_EPS) * F.col("n_events"))
        return (F.col(rank_col) >= lo) & (F.col(rank_col) <= hi)

    return audited.select(
        "event_type",
        F.round("exact_p50", 4).alias("exact_p50"),
        F.round("exact_p95", 4).alias("exact_p95"),
        "n_events",
        within("rank_a50", 0.5).alias("p50_within_eps"),
        within("rank_a95", 0.95).alias("p95_within_eps"),
    )


@register("q_dau_wau_stickiness", f"""
WITH act AS (
    SELECT DISTINCT epoch_us(ts) // {_DAY_US} AS day, user_id
    FROM events
), daily AS (
    SELECT day // 7 AS week, day, count(*) AS dau FROM act GROUP BY 1, 2
), weekly AS (
    SELECT day // 7 AS week, count(DISTINCT user_id) AS wau
    FROM act GROUP BY 1
), daily_agg AS (
    SELECT week, count(*) AS n_days, CAST(sum(dau) AS BIGINT) AS dau_sum
    FROM daily GROUP BY week
)
SELECT a.week, a.n_days, w.wau, a.dau_sum,
       a.dau_sum * 1000 // (w.wau * a.n_days) AS stickiness_permille
FROM daily_agg a JOIN weekly w USING (week)
""")
def q_dau_wau_stickiness(spark, sf_dir):
    """Engagement rollup: per-week DAU/WAU stickiness — mean daily
    active over weekly active, in integer permille (no
    boundary-sensitive float ratio; same rule as q_user_retention).
    One (day, user) distinct pass feeds both the daily and the weekly
    distinct counts; everything after runs on day- and week-sized
    frames. The exact distinct is the sf-test semantics; at 100 TB the
    same plan takes approx_count_distinct (HLL) per the documented
    q_distinct_users swap."""
    act = (
        load_table(spark, sf_dir, "events")
        .select(
            F.expr(f"(ts div 1000) div {_DAY_US}").alias("day"),
            "user_id",
        )
        .distinct()
        .withColumn("week", F.expr("day div 7"))
    )
    daily = act.groupBy("week", "day").agg(F.count("*").alias("dau"))
    weekly = act.groupBy("week").agg(
        F.countDistinct("user_id").alias("wau")
    )
    daily_agg = daily.groupBy("week").agg(
        F.count("*").alias("n_days"),
        F.sum("dau").cast("long").alias("dau_sum"),
    )
    return (
        daily_agg.join(weekly, "week")
        .select(
            "week", "n_days", "wau", "dau_sum",
            F.expr("dau_sum * 1000 div (wau * n_days)")
                .alias("stickiness_permille"),
        )
    )


@register("q_session_window_native", ORACLES["q_events_sessionize"])
def q_session_window_native(spark, sf_dir):
    """The SAME gap-based sessionization as q_events_sessionize, but
    through Spark's native session_window operator instead of the
    manual lag→flag→cumsum windows — hash-checked against the
    IDENTICAL oracle, proving the two formulations equivalent row for
    row. Native session_window is the one that carries over to
    Structured Streaming state merging unchanged.

    Boundary alignment: session_window merges two events iff
    t2 - t1 < gap (strict), while the manual/oracle rule keeps them
    together iff t2 - t1 <= gap — so the native gap is gap+1 µs.
    The ordinal session_id is a per-user row_number over the
    already-aggregated session rows (session-count-sized window,
    never event-sized)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts div 1000")
    )
    sess = (
        ev.groupBy(
            "user_id",
            F.session_window(
                F.timestamp_micros("ts_us"),
                f"{_SESSION_GAP_US + 1} microseconds",
            ).alias("sw"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts_us").alias("session_start_us"),
            _money(F.col("value")).alias("sum_value"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("session_start_us")
    return sess.select(
        "user_id",
        F.row_number().over(w).cast("long").alias("session_id"),
        "n_events", "session_start_us", "sum_value",
    )


@register("q_events_ohlc", f"""
WITH e AS (
    SELECT user_id, epoch_us(ts) // {_DAY_US} AS day,
           epoch_us(ts) AS ts_us, event_id, value
    FROM events
), ranked AS (
    SELECT user_id, day, value,
           row_number() OVER (PARTITION BY user_id, day
                              ORDER BY ts_us, event_id) AS rn_a,
           row_number() OVER (PARTITION BY user_id, day
                              ORDER BY ts_us DESC, event_id DESC) AS rn_d
    FROM e
)
SELECT user_id, day,
       min(CASE WHEN rn_a = 1 THEN value END) AS open,
       max(value) AS high,
       min(value) AS low,
       min(CASE WHEN rn_d = 1 THEN value END) AS close,
       count(*) AS n_events
FROM ranked GROUP BY user_id, day
""")
def q_events_ohlc(spark, sf_dir):
    """Per-(user, day) OHLC candles — the canonical time-series
    compaction. Spark side uses min/max over (ts, id, value) structs:
    a pure aggregate with map-side partial combine, so the shuffle
    carries one candle per key per map task; the oracle is the
    window formulation (row_number first/last), so the hash check
    proves agg ≡ window — the same trade as q_cdc_latest_state, per
    SURVEY §4 'last-row-wins compaction is an aggregate, not a
    window'. (ts_us, event_id) is a unique ordering prefix, so
    open/close are deterministic."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr(f"(ts div 1000) div {_DAY_US}").alias("day"),
        F.expr("ts div 1000").alias("ts_us"),
        "event_id", "value",
    )
    return (
        ev.groupBy("user_id", "day")
        .agg(
            F.min(F.struct("ts_us", "event_id", "value")).alias("first"),
            F.max(F.struct("ts_us", "event_id", "value")).alias("last"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.count("*").alias("n_events"),
        )
        .select(
            "user_id", "day",
            F.col("first.value").alias("open"),
            "high", "low",
            F.col("last.value").alias("close"),
            "n_events",
        )
    )


@register("q_funnel_three_step", """
WITH e AS (
    SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
), v AS (
    SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts_us END)
               AS t_view
    FROM e GROUP BY user_id
), c AS (
    SELECT e.user_id,
           min(CASE WHEN e.event_type = 'click'
                     AND e.ts_us > v.t_view THEN e.ts_us END) AS t_click
    FROM e JOIN v USING (user_id)
    WHERE v.t_view IS NOT NULL
    GROUP BY e.user_id
), p AS (
    SELECT e.user_id,
           min(CASE WHEN e.event_type = 'purchase'
                     AND e.ts_us > c.t_click THEN e.ts_us END)
               AS t_purchase
    FROM e JOIN c USING (user_id)
    WHERE c.t_click IS NOT NULL
    GROUP BY e.user_id
)
SELECT count(*) AS n_viewed,
       (SELECT count(*) FROM c WHERE t_click IS NOT NULL)
           AS n_then_clicked,
       (SELECT count(*) FROM p WHERE t_purchase IS NOT NULL)
           AS n_then_purchased
FROM v WHERE t_view IS NOT NULL
""")
def q_funnel_three_step(spark, sf_dir):
    """Ordered 3-step funnel (view → click-after-view →
    purchase-after-click): each stage is a conditional-min aggregate
    gated on the previous stage's timestamp — the product-analytics
    sequence funnel without any per-user event sort. Three groupBy
    passes over the events scan joined stage-to-stage on user_id
    (stage frames are user-count-sized); the final stage counts are
    three 1-row aggregates. Extends q_funnel_conversion (2-step,
    unordered firsts) with strict event ORDERING between stages."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr("ts div 1000").alias("ts_us")
    )
    v = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts_us")))
            .alias("t_view")
    ).where(F.col("t_view").isNotNull())
    c = (
        ev.join(v, "user_id")
        .groupBy("user_id")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts_us") > F.col("t_view")),
                    F.col("ts_us"),
                )
            ).alias("t_click")
        )
    )
    p = (
        ev.join(c.where(F.col("t_click").isNotNull()), "user_id")
        .groupBy("user_id")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts_us") > F.col("t_click")),
                    F.col("ts_us"),
                )
            ).alias("t_purchase")
        )
    )
    nv = v.agg(F.count("*").alias("n_viewed"))
    nc = c.where(F.col("t_click").isNotNull()).agg(
        F.count("*").alias("n_then_clicked")
    )
    np_ = p.where(F.col("t_purchase").isNotNull()).agg(
        F.count("*").alias("n_then_purchased")
    )
    return nv.crossJoin(F.broadcast(nc)).crossJoin(F.broadcast(np_))


@register("q_data_profile", f"""
WITH stats AS (
    SELECT count(*) AS n_rows,
           {", ".join(
               f"count({c}) AS nn_{c}, count(DISTINCT {c}) AS nd_{c}"
               for c in _PROFILE_COLS)}
    FROM documents
)
{" UNION ALL ".join(
    f"SELECT '{c}' AS column_name, n_rows, n_rows - nn_{c} AS n_null, "
    f"nd_{c} AS n_distinct FROM stats"
    for c in _PROFILE_COLS)}
""")
def q_data_profile(spark, sf_dir):
    """Column-level data-quality profile of the documents table:
    null counts and exact distinct cardinality per column — the
    post-ingest profiling pass every warehouse runs before trusting a
    new corpus drop. ONE aggregation pass computes every column's
    stats (multi-column distinct plans as a single Expand — no
    per-column scans); the per-column rows come from unpivoting the
    1-row stats frame. At 100 TB the distinct counts swap to HLL per
    the q_hll_audit-calibrated rule."""
    docs = load_table(spark, sf_dir, "documents")
    aggs = [F.count("*").alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs.append(F.count(c).alias(f"nn_{c}"))
        aggs.append(F.countDistinct(c).alias(f"nd_{c}"))
    stats = docs.agg(*aggs)
    rows = F.array(*[
        F.struct(
            F.lit(c).alias("column_name"),
            F.col("n_rows").alias("n_rows"),
            (F.col("n_rows") - F.col(f"nn_{c}")).alias("n_null"),
            F.col(f"nd_{c}").alias("n_distinct"),
        )
        for c in _PROFILE_COLS
    ])
    return stats.select(F.explode(rows).alias("r")).select("r.*")


@register("q_chunk_context", f"""
WITH {CHUNK_CTE}
SELECT doc_id, chunk_index,
       length(text_content) AS n_chars,
       coalesce(lag(md5(text_content))
                OVER (PARTITION BY doc_id ORDER BY chunk_index), '')
           AS prev_hash,
       coalesce(lead(md5(text_content))
                OVER (PARTITION BY doc_id ORDER BY chunk_index), '')
           AS next_hash
FROM chunks_f
""")
def q_chunk_context(spark, sf_dir):
    """Context stitching: every chunk with its neighboring chunks'
    content hashes — the join a RAG retriever or a training-context
    assembler runs to expand a hit into prev/next context without
    re-reading the document. lag/lead over doc-partitioned chunk
    order (parallel across docs, never a global sort); hashes stand
    in for the neighbor text so the output stays hash-comparable and
    the wire stays narrow."""
    ch = chunking.chunk_documents(load_table(spark, sf_dir, "documents"))
    w = Window.partitionBy("doc_id").orderBy("chunk_index")
    h = F.md5("text_content")
    return ch.select(
        "doc_id", "chunk_index",
        F.length("text_content").cast("long").alias("n_chars"),
        F.coalesce(F.lag(h).over(w), F.lit("")).alias("prev_hash"),
        F.coalesce(F.lead(h).over(w), F.lit("")).alias("next_hash"),
    )


@register("q_events_hourly_profile", """
SELECT CAST(extract(hour FROM ts) AS BIGINT) AS hour_of_day,
       event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY 1, 2
""")
def q_events_hourly_profile(spark, sf_dir):
    """Hour-of-day × event-type seasonality profile (traffic-shape
    analysis; the rollup capacity planning and anomaly baselines read
    from). Hour is derived from epoch micros by integer arithmetic —
    identical on both engines regardless of session timezone because
    the data's wall clock IS UTC."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.expr("((ts div 1000) div 3600000000) % 24")
                .alias("hour_of_day"),
            "event_type", "user_id",
        )
        .groupBy("hour_of_day", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@register("q_supplier_hhi", """
WITH rev AS (
    SELECT n.n_name, s.s_suppkey,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,6)) * 100)
                AS BIGINT) AS cents
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    GROUP BY n.n_name, s.s_suppkey
), tot AS (
    SELECT n_name, CAST(sum(cents) AS BIGINT) AS total_cents
    FROM rev GROUP BY n_name
)
SELECT r.n_name,
       count(*) AS n_suppliers,
       t.total_cents,
       CAST(sum(((r.cents // (1 + t.total_cents // 100000000000000))
                 * 10000
                 // greatest(t.total_cents
                             // (1 + t.total_cents
                                 // 100000000000000), 1))
                * ((r.cents // (1 + t.total_cents // 100000000000000))
                   * 10000
                   // greatest(t.total_cents
                               // (1 + t.total_cents
                                   // 100000000000000), 1)))
            AS BIGINT) AS hhi_pm2
FROM rev r JOIN tot t USING (n_name)
GROUP BY r.n_name, t.total_cents
""")
def q_supplier_hhi(spark, sf_dir):
    """Supplier revenue concentration per nation — the
    Herfindahl-Hirschman index in exact integer arithmetic: revenue
    share in permyriad by integer floor division (identical on both
    engines; the float formulation would divide before summing and
    drift), squared and summed — HHI ∈ (0, 1e8], 1e8 = monopoly.
    Two aggs (supplier-level pre-agg, then nation rollup) + one
    nation-keyed join of supplier-count-sized frames; the money sum
    is the exact decimal cents rule from the parity protocol."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nation),
              supp["s_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name", "s_suppkey")
        .agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(18,6)")) * 100)
            .cast("long").alias("cents")
        )
    )
    tot = rev.groupBy("n_name").agg(
        F.sum("cents").cast("long").alias("total_cents")
    )
    return (
        rev.join(tot, "n_name")
        .groupBy("n_name", "total_cents")
        .agg(
            F.count("*").alias("n_suppliers"),
            # round-8 permyriad scale guard (s = 1 + total // 1e14:
            # the scaled total must stay under 1e14 so the x10000
            # multiply fits) — see q_abc_classification
            F.sum(
                F.expr(
                    "((cents div (1 + total_cents div 100000000000000))"
                    " * 10000 div greatest(total_cents"
                    " div (1 + total_cents div 100000000000000), 1))"
                    " * ((cents div (1 + total_cents"
                    " div 100000000000000)) * 10000"
                    " div greatest(total_cents div (1 + total_cents"
                    " div 100000000000000), 1))"
                )
            ).cast("long").alias("hhi_pm2"),
        )
        .select("n_name", "n_suppliers", "total_cents", "hhi_pm2")
    )


@register("q_rate_limit_audit", f"""
WITH RECURSIVE e AS (
    SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY epoch_us(ts), event_id) AS rn
    FROM events
), walk(user_id, rn, event_id, ts_us, allowed, s_after) AS (
    SELECT user_id, rn, event_id, ts_us,
           TRUE, {_RL_CAP_MICRO} - 1000000
    FROM e WHERE rn = 1
    UNION ALL
    SELECT e.user_id, e.rn, e.event_id, e.ts_us,
           least({_RL_CAP_MICRO},
                 w.s_after + (e.ts_us - w.ts_us) // {_RL_DIV})
               >= 1000000,
           CASE WHEN least({_RL_CAP_MICRO},
                           w.s_after + (e.ts_us - w.ts_us) // {_RL_DIV})
                     >= 1000000
                THEN least({_RL_CAP_MICRO},
                           w.s_after + (e.ts_us - w.ts_us) // {_RL_DIV})
                     - 1000000
                ELSE least({_RL_CAP_MICRO},
                           w.s_after + (e.ts_us - w.ts_us) // {_RL_DIV})
           END
    FROM walk w JOIN e ON e.user_id = w.user_id AND e.rn = w.rn + 1
)
SELECT event_id, user_id, ts_us, allowed,
       CAST(s_after AS BIGINT) AS tokens_after_micro
FROM walk
""")
def q_rate_limit_audit(spark, sf_dir):
    """Token-bucket rate-limit audit replayed over the event log
    (cap 3 tokens, 1 token/hour refill, buckets start full): which
    requests WOULD have been throttled — the quota-sizing/abuse pass
    run before enabling a limiter, and the batch twin of the
    limiter's streaming state. The clamped-accumulator recurrence is
    non-associative (no prefix-sum window exists), so it runs as one
    Arrow call per user-partitioned time-sorted partition; all
    integer micro-token arithmetic, replayed exactly by the
    recursive-CTE oracle. operators/ratelimit.py:rate_limit_audit."""
    from ..operators.ratelimit import rate_limit_audit

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.expr("ts div 1000").alias("ts_us")
    )
    return rate_limit_audit(ev, cap=3, refill_div=_RL_DIV)


@register("q_asof_enrich", """
WITH p AS (
    SELECT user_id, event_id, epoch_us(ts) AS ts_us, value
    FROM events WHERE event_type = 'purchase'
), v AS (
    SELECT user_id, epoch_us(ts) AS ts_us,
           max_by(value, event_id) AS view_value,
           max(event_id) AS view_event_id
    FROM events WHERE event_type = 'view'
    GROUP BY 1, 2
)
SELECT p.user_id, p.event_id, p.ts_us, p.value,
       v.view_value AS asof_view_value,
       v.view_event_id AS asof_view_event_id,
       v.ts_us AS asof_view_ts_us,
       p.ts_us - v.ts_us AS asof_gap_us
FROM p ASOF LEFT JOIN v
  ON p.user_id = v.user_id AND p.ts_us >= v.ts_us
""")
def q_asof_enrich(spark, sf_dir):
    """As-of enrichment: every purchase event joined to the latest
    view event at-or-before it for the same user (the classic
    trade↔quote / action↔exposure attribution shape). Runs through
    operators/asof.py's merge-scan as-of join — union both sides, one
    shuffle on user_id, ``last(ignorenulls)`` carry-forward — linear
    work per key versus the quadratic range-join+argmax naive plan,
    the same shape at 100 TB. The right side is pre-aggregated per
    (user_id, ts_us) (max event_id wins) so equal-timestamp ties are
    deterministic in both engines; the oracle is DuckDB's native
    ASOF LEFT JOIN. Reference parity: the repo-wide event-log
    enrichment surface (reference api.py has no as-of; this is the
    LLM-pipeline/event-analytics extension family)."""
    from ..operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts div 1000")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts_us", "value"
    )
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts_us")
        .agg(
            F.expr("max_by(value, event_id)").alias("asof_view_value"),
            F.max("event_id").alias("asof_view_event_id"),
        )
        .withColumn("asof_view_ts_us", F.col("ts_us"))
    )
    joined = asof_join(
        purchases,
        views,
        key="user_id",
        left_ts="ts_us",
        right_ts="ts_us",
        right_vals=["asof_view_value", "asof_view_event_id", "asof_view_ts_us"],
    )
    return joined.select(
        "user_id",
        "event_id",
        "ts_us",
        "value",
        F.col("asof_asof_view_value").alias("asof_view_value"),
        F.col("asof_asof_view_event_id").alias("asof_view_event_id"),
        F.col("asof_asof_view_ts_us").alias("asof_view_ts_us"),
        (F.col("ts_us") - F.col("asof_asof_view_ts_us")).alias("asof_gap_us"),
    )


@register("q_benford_audit", f"""
WITH d AS (
    SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                            AS VARCHAR), 1, 1) AS BIGINT) AS digit
    FROM orders
), obs AS (
    SELECT digit, count(*)::BIGINT AS n_obs FROM d GROUP BY digit
), tot AS (
    SELECT count(*)::BIGINT AS n FROM d
), expected(digit, exp_ppm) AS (
    VALUES {", ".join(f"({k}, {v})" for k, v in _BENFORD_PPM.items())}
)
SELECT e.digit::BIGINT AS digit,
       coalesce(o.n_obs, 0)::BIGINT AS n_obs,
       ((1000000 * coalesce(o.n_obs, 0)) // t.n)::BIGINT AS obs_ppm,
       e.exp_ppm::BIGINT AS exp_ppm,
       ((1000000 * coalesce(o.n_obs, 0)) // t.n - e.exp_ppm)::BIGINT
           AS dev_ppm
FROM expected e LEFT JOIN obs o ON o.digit = e.digit CROSS JOIN tot t
""")
def q_benford_audit(spark, sf_dir):
    """Benford's-law first-digit audit over order totals — the
    fraud/data-generation screen run on any money column before
    trusting it. Prices go to exact integer cents first (round of an
    IEEE product is engine-identical; the operand is never an exact
    half), the first significant digit comes from the integer's
    decimal string (no float log10 anywhere), and observed shares are
    integer ppm against the literal Benford table. One map-side
    aggregation to 9 groups + a 9-row broadcast join: shuffle-free at
    any scale. (This synthetic data is ~uniform, so the audit
    *reports* the deviation it was built to catch.)"""
    orders = load_table(spark, sf_dir, "orders")
    obs = (
        orders.select(
            F.substring(
                F.round(F.col("o_totalprice") * 100)
                .cast("long").cast("string"),
                1, 1,
            ).cast("long").alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").cast("long").alias("n_obs"))
    )
    total = orders.agg(F.count("*").cast("long").alias("n"))
    expected = spark.createDataFrame(
        [(d, p) for d, p in _BENFORD_PPM.items()], "digit long, exp_ppm long"
    )
    return (
        expected.join(F.broadcast(obs), "digit", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "digit",
            F.coalesce("n_obs", F.lit(0)).cast("long").alias("n_obs"),
            F.expr("(1000000 * coalesce(n_obs, 0L)) div n")
            .cast("long").alias("obs_ppm"),
            F.col("exp_ppm").cast("long"),
            (F.expr("(1000000 * coalesce(n_obs, 0L)) div n")
             - F.col("exp_ppm")).cast("long").alias("dev_ppm"),
        )
    )


@register("q_ks_drift", """
WITH a AS (
    SELECT o_totalprice AS v FROM orders WHERE year(o_orderdate) = 1996
), b AS (
    SELECT o_totalprice AS v FROM orders WHERE year(o_orderdate) = 1997
), na AS (SELECT count(*)::BIGINT AS n FROM a),
nb AS (SELECT count(*)::BIGINT AS n FROM b),
counts AS (
    SELECT v,
           sum(CASE WHEN src = 1 THEN 1 ELSE 0 END) AS da,
           sum(CASE WHEN src = 0 THEN 1 ELSE 0 END) AS db
    FROM (SELECT v, 1 AS src FROM a UNION ALL SELECT v, 0 AS src FROM b)
    GROUP BY v
), cum AS (
    SELECT sum(da) OVER (ORDER BY v) AS ca,
           sum(db) OVER (ORDER BY v) AS cb
    FROM counts
)
SELECT na.n AS n_a, nb.n AS n_b,
       max(abs(ca * nb.n - cb * na.n))::BIGINT AS max_cross,
       ((1000000 * max(abs(ca * nb.n - cb * na.n))) // (na.n * nb.n))::BIGINT
           AS ks_ppm
FROM cum CROSS JOIN na CROSS JOIN nb
GROUP BY na.n, nb.n
""")
def q_ks_drift(spark, sf_dir):
    """Two-sample Kolmogorov–Smirnov drift check between adjacent
    order-date years' price distributions — the distribution-shift
    gate a training pipeline runs between data snapshots. Exact
    integer protocol: the KS statistic max|F1-F2| is computed on
    cross-multiplied cumulative counts (|ca·n_b − cb·n_a|), so no
    float CDF ever exists; ks_ppm is a floor-divided ppm. The global
    ordered window runs over per-VALUE aggregated counts (cardinality
    ≤ distinct prices, not rows); an exact ECDF merge is inherently a
    global sort — at 100 TB run the binned variant (bin to integer
    cents buckets first, same protocol), or the GK-sketch rank audit
    (q_sketch_rank_audit) for a bounded-error answer."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("v"),
        F.year(F.col("o_orderdate").cast("timestamp")).alias("y"),
    )
    a = orders.where(F.col("y") == 1996)
    b = orders.where(F.col("y") == 1997)
    pooled = a.select("v", F.lit(1).alias("src")).unionAll(
        b.select("v", F.lit(0).alias("src"))
    )
    counts = pooled.groupBy("v").agg(
        F.sum(F.when(F.col("src") == 1, 1).otherwise(0)).alias("da"),
        F.sum(F.when(F.col("src") == 0, 1).otherwise(0)).alias("db"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = counts.select(
        F.sum("da").over(w).alias("ca"), F.sum("db").over(w).alias("cb")
    )
    na = a.agg(F.count("*").cast("long").alias("n_a"))
    nb = b.agg(F.count("*").cast("long").alias("n_b"))
    return (
        cum.crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .groupBy("n_a", "n_b")
        .agg(
            F.max(F.abs(F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a")))
            .cast("long").alias("max_cross")
        )
        .select(
            "n_a", "n_b", "max_cross",
            F.expr("(1000000 * max_cross) div (n_a * n_b)")
            .cast("long").alias("ks_ppm"),
        )
    )


@register("q_chi2_drift", """
WITH cells AS (
    SELECT event_type,
           CAST(floor(TRY_CAST(
               CASE WHEN props IS NOT NULL AND json_valid(props)
                    THEN props->>'$.k' END AS DOUBLE) / 10.0) AS BIGINT)
               AS k_bucket,
           count(*)::BIGINT AS n_obs
    FROM events
    GROUP BY 1, 2
), rows_t AS (
    SELECT event_type, sum(n_obs)::BIGINT AS row_n FROM cells GROUP BY 1
), cols_t AS (
    SELECT k_bucket, sum(n_obs)::BIGINT AS col_n FROM cells GROUP BY 1
), tot AS (
    SELECT sum(n_obs)::BIGINT AS n FROM cells
)
SELECT c.event_type, c.k_bucket, c.n_obs,
       ((1000 * r.row_n * co.col_n) // t.n)::BIGINT AS exp_milli,
       (1000 * c.n_obs - (1000 * r.row_n * co.col_n) // t.n)::BIGINT
           AS dev_milli,
       CASE WHEN (1000 * r.row_n * co.col_n) // t.n >= 1000
            THEN ((1000 * c.n_obs - (1000 * r.row_n * co.col_n) // t.n)
                  // 1000)
                 * ((1000 * c.n_obs - (1000 * r.row_n * co.col_n) // t.n)
                    // 1000)
                 // (((1000 * r.row_n * co.col_n) // t.n) // 1000)
            ELSE 0 END::BIGINT AS chi2_contrib
FROM cells c
JOIN rows_t r USING (event_type)
JOIN cols_t co USING (k_bucket)
CROSS JOIN tot t
""")
def q_chi2_drift(spark, sf_dir):
    """Chi-square independence table between event_type and the
    props-JSON k-bucket — the categorical-drift / feature-leak screen
    over two discrete columns. Expected counts are integer millis
    ((1000·row·col) div n), deviations likewise, and the per-cell
    chi-square contribution is computed at unit-count precision with
    floor division only (identical truncation both engines; the
    milli-squared path would overflow BIGINT past ~3M rows, the
    unit-count path is safe to ~3B). Marginals come from reusing the
    ~40-cell contingency aggregate, so the plan is one shuffle to
    cells + broadcast joins of the tiny marginals."""
    ev = load_table(spark, sf_dir, "events")
    k = F.expr("try_cast(get_json_object(props, '$.k') AS double)")
    cells = (
        ev.select(
            "event_type", F.floor(k / 10).cast("long").alias("k_bucket")
        )
        .groupBy("event_type", "k_bucket")
        .agg(F.count("*").cast("long").alias("n_obs"))
    )
    rows_t = cells.groupBy("event_type").agg(
        F.sum("n_obs").cast("long").alias("row_n")
    )
    cols_t = cells.groupBy("k_bucket").agg(
        F.sum("n_obs").cast("long").alias("col_n")
    )
    tot = cells.agg(F.sum("n_obs").cast("long").alias("n"))
    exp_milli = F.expr("(1000 * row_n * col_n) div n")
    dev_milli = F.lit(1000) * F.col("n_obs") - exp_milli
    return (
        cells.join(F.broadcast(rows_t), "event_type")
        .join(F.broadcast(cols_t), "k_bucket")
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "k_bucket",
            "n_obs",
            exp_milli.cast("long").alias("exp_milli"),
            dev_milli.cast("long").alias("dev_milli"),
            F.when(
                exp_milli >= 1000,
                F.expr(
                    "((1000 * n_obs - (1000 * row_n * col_n) div n)"
                    " div 1000)"
                    " * ((1000 * n_obs - (1000 * row_n * col_n) div n)"
                    " div 1000)"
                    " div (((1000 * row_n * col_n) div n) div 1000)"
                ),
            ).otherwise(F.lit(0)).cast("long").alias("chi2_contrib"),
        )
    )


@register("q_join_cardinality_estimate", f"""
WITH ha AS (
    SELECT ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 4))::INT
               % {_JCE_BUCKETS} AS b,
           count(*)::BIGINT AS ca
    FROM orders GROUP BY 1
), hb AS (
    SELECT ('0x' || substr(md5(l_orderkey::VARCHAR), 1, 4))::INT
               % {_JCE_BUCKETS} AS b,
           count(*)::BIGINT AS cb
    FROM lineitem GROUP BY 1
), est AS (
    SELECT sum(ha.ca * hb.cb)::BIGINT AS est_rows
    FROM ha JOIN hb USING (b)
), tru AS (
    SELECT count(*)::BIGINT AS true_rows
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
)
SELECT {_JCE_BUCKETS}::BIGINT AS n_buckets, e.est_rows, t.true_rows,
       ((1000000 * (e.est_rows - t.true_rows)) // t.true_rows)::BIGINT
           AS overest_ppm
FROM est e CROSS JOIN tru t
""")
def q_join_cardinality_estimate(spark, sf_dir):
    """Histogram join-cardinality estimator, audited against the true
    join: {_JCE_BUCKETS}-bucket md5-hash histograms of both join keys
    (engine-identical bucketing — never the engines' internal hash),
    estimate = Σ_b count_a(b)·count_b(b), compared to the actual
    orders⋈lineitem row count. This is the optimizer's equi-join
    estimate shape (and the audit shows exactly the collision-driven
    overestimate, in ppm); the histograms are map-side-combinable
    {_JCE_BUCKETS}-row relations — broadcastable at any fact size,
    the true join runs once as the measured reference."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    def hist(df, key):
        return (
            df.select(
                (F.conv(
                    F.substring(F.md5(F.col(key).cast("string")), 1, 4),
                    16, 10,
                ).cast("int") % _JCE_BUCKETS).alias("b")
            )
            .groupBy("b")
            .agg(F.count("*").cast("long").alias("c"))
        )
    ha = hist(orders, "o_orderkey").withColumnRenamed("c", "ca")
    hb = hist(li, "l_orderkey").withColumnRenamed("c", "cb")
    est = (
        ha.join(hb, "b")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("long").alias("est_rows"))
    )
    tru = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .agg(F.count("*").cast("long").alias("true_rows"))
    )
    return (
        est.crossJoin(tru)
        .select(
            F.lit(_JCE_BUCKETS).cast("long").alias("n_buckets"),
            "est_rows",
            "true_rows",
            F.expr("(1000000 * (est_rows - true_rows)) div true_rows")
            .cast("long").alias("overest_ppm"),
        )
    )


@register("q_table_checksum", f"""
WITH doc_rows AS (
    SELECT ('0x' || substr(md5(concat_ws('|', doc_id, lang, source,
                                         n_chars, md5(text))), 1, 15)
           )::BIGINT AS h
    FROM documents
), ord_rows AS (
    SELECT ('0x' || substr(md5(concat_ws('|', o_orderkey, o_custkey,
                o_orderstatus,
                CAST(round(o_totalprice * 100) AS BIGINT),
                epoch_us(o_orderdate), o_orderpriority)), 1, 15)
           )::BIGINT AS h
    FROM orders
)
SELECT 'documents' AS table_name, count(*)::BIGINT AS n_rows,
       (sum(h::DECIMAL(38,0)) % {_CKSUM_MOD})::BIGINT AS checksum
FROM doc_rows
UNION ALL
SELECT 'orders', count(*)::BIGINT,
       (sum(h::DECIMAL(38,0)) % {_CKSUM_MOD})::BIGINT
FROM ord_rows
""")
def q_table_checksum(spark, sf_dir):
    """Order-insensitive table content checksums — the anti-entropy /
    replication-verification primitive (compare per-table checksums
    across two replicas or before/after a migration without moving
    data). Each row canonicalizes to a '|'-joined string (doubles via
    exact integer cents, timestamps via epoch micros, text via md5),
    hashes to a 60-bit integer (15 hex digits — BIGINT-safe), and the
    table checksum is the modular SUM of row hashes: commutative, so
    partition order never matters, and any single-row difference
    changes it with probability 1-2^-60. Pure map-side aggregation,
    zero shuffles beyond the 1-row combine."""
    docs = load_table(spark, sf_dir, "documents")
    orders = load_table(spark, sf_dir, "orders")

    def rowhash(cols):
        return F.conv(
            F.substring(F.md5(F.concat_ws("|", *cols)), 1, 15), 16, 10
        ).cast("decimal(38,0)")

    d = docs.select(
        rowhash([
            F.col("doc_id"), F.col("lang"), F.col("source"),
            F.col("n_chars"), F.md5("text"),
        ]).alias("h")
    ).agg(
        F.lit("documents").alias("table_name"),
        F.count("*").cast("long").alias("n_rows"),
        F.expr(f"CAST(sum(h) % {_CKSUM_MOD} AS BIGINT)").alias("checksum"),
    )
    o = orders.select(
        rowhash([
            F.col("o_orderkey"), F.col("o_custkey"),
            F.col("o_orderstatus"),
            F.round(F.col("o_totalprice") * 100).cast("long"),
            F.unix_micros(F.col("o_orderdate").cast("timestamp")),
            F.col("o_orderpriority"),
        ]).alias("h")
    ).agg(
        F.lit("orders").alias("table_name"),
        F.count("*").cast("long").alias("n_rows"),
        F.expr(f"CAST(sum(h) % {_CKSUM_MOD} AS BIGINT)").alias("checksum"),
    )
    return d.unionAll(o)


@register("q_trend_slope", f"""
WITH daily AS (
    SELECT event_type, epoch_us(ts) // {_DAY_US} AS day, count(*) AS y
    FROM events GROUP BY 1, 2
), s AS (
    SELECT event_type,
           count(*)::BIGINT AS n,
           sum(day)::BIGINT AS sx,
           sum(y)::BIGINT AS sy,
           sum(day * y)::BIGINT AS sxy,
           sum(day * day)::BIGINT AS sxx
    FROM daily GROUP BY 1
)
SELECT event_type, n AS n_days, sy AS total_events,
       ((1000 * sy) // n)::BIGINT AS mean_daily_milli,
       CASE WHEN n * sxx - sx * sx = 0 THEN 0
            ELSE (1000 * (n * sxy - sx * sy)) // (n * sxx - sx * sx)
       END::BIGINT AS slope_milli
FROM s
""")
def q_trend_slope(spark, sf_dir):
    """Per-event-type activity trend: ordinary-least-squares slope of
    daily counts over epoch-day index, in milli-events/day/day — the
    growth/decay detector a monitoring pipeline fits per segment.
    OLS reduces to five integer sums (n, Σx, Σy, Σxy, Σx²) — all
    map-side-combinable in one aggregation pass, so the regression
    costs exactly one shuffle to |event_type| groups; the closed-form
    slope (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) is evaluated in pure BIGINT
    with truncating division (engine-identical). Degenerate single-day
    groups return slope 0 rather than dividing by zero."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type", F.expr(f"(ts div 1000) div {_DAY_US}").alias("day")
        )
        .groupBy("event_type", "day")
        .agg(F.count("*").alias("y"))
    )
    s = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("day").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("day") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("day") * F.col("day")).cast("long").alias("sxx"),
    )
    return s.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.col("sy").alias("total_events"),
        F.expr("(1000 * sy) div n").cast("long").alias("mean_daily_milli"),
        F.when(F.expr("n * sxx - sx * sx") == 0, F.lit(0))
        .otherwise(
            F.expr("(1000 * (n * sxy - sx * sy)) div (n * sxx - sx * sx)")
        )
        .cast("long").alias("slope_milli"),
    )


@register("q_value_histogram", f"""
SELECT event_type,
       CAST(floor(value / {_HIST_BIN}) AS BIGINT) AS bin,
       count(*)::BIGINT AS n,
       CAST(round(min(value * 1000000)) AS BIGINT) AS min_micro,
       CAST(round(max(value * 1000000)) AS BIGINT) AS max_micro
FROM events
GROUP BY 1, 2
""")
def q_value_histogram(spark, sf_dir):
    """Equi-width value histogram per event type (the profiling
    sibling of the equi-depth percentile queries): floor-bucket the
    double ONCE (floor of an IEEE division is engine-identical for
    these magnitudes), count per (type, bin), carry exact min/max in
    integer micros. Map-side-combinable single shuffle to
    |types|×|bins| groups — the scan-speed histogram every column
    profiler runs before choosing join/filter strategies."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type",
            F.floor(F.col("value") / _HIST_BIN).cast("long").alias("bin"),
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.min(F.col("value") * 1_000_000)).cast("long")
            .alias("min_micro"),
            F.round(F.max(F.col("value") * 1_000_000)).cast("long")
            .alias("max_micro"),
        )
    )


@register("q_watermark_audit", """
WITH e AS (
    SELECT event_id, epoch_us(ts) AS ts_us FROM events
), r AS (
    SELECT ts_us,
           max(ts_us) OVER (ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS high_water
    FROM e
)
SELECT count(*)::BIGINT AS n_events,
       sum(CASE WHEN high_water - ts_us > 60000000
                THEN 1 ELSE 0 END)::BIGINT AS dropped_1m,
       sum(CASE WHEN high_water - ts_us > 300000000
                THEN 1 ELSE 0 END)::BIGINT AS dropped_5m,
       sum(CASE WHEN high_water - ts_us > 600000000
                THEN 1 ELSE 0 END)::BIGINT AS dropped_10m,
       CAST(max(greatest(high_water - ts_us, 0)) AS BIGINT)
           AS max_lateness_us
FROM r
""")
def q_watermark_audit(spark, sf_dir):
    """Watermark sizing audit: replay the log in ARRIVAL order
    (event_id) and count how many events a 1/5/10-minute watermark
    would drop — each event's lateness is the running max event-time
    of everything that arrived strictly before it, minus its own
    event time (exactly Structured Streaming's idealized continuous
    watermark). The batch answer you compute BEFORE turning on
    `withWatermark`, instead of discovering the drop rate in
    production. The global prefix-max never runs as one partition on
    the Spark side: the q_shard_assignment two-level plan (per-bucket
    running max + broadcast prefix over the ~n/1000 bucket maxima);
    the oracle uses the plain global window, proving the
    decomposition exact."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.expr("ts div 1000").alias("ts_us"),
        F.expr(f"event_id div {_WM_BUCKET}").alias("bucket"),
    )
    w_in = (
        Window.partitionBy("bucket").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = ev.withColumn("within_max", F.max("ts_us").over(w_in))
    bucket_max = ev.groupBy("bucket").agg(F.max("ts_us").alias("bmax"))
    w_b = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = bucket_max.select(
        "bucket", F.max("bmax").over(w_b).alias("prefix_max")
    )
    late = (
        within.join(F.broadcast(offsets), "bucket")
        .select(
            "ts_us",
            F.greatest(
                F.coalesce("within_max", F.lit(None)),
                F.coalesce("prefix_max", F.lit(None)),
            ).alias("high_water"),
        )
        .select(
            "ts_us",
            (F.col("high_water") - F.col("ts_us")).alias("late_us"),
        )
    )
    return late.agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.when(F.col("late_us") > 60_000_000, 1).otherwise(0))
        .cast("long").alias("dropped_1m"),
        F.sum(F.when(F.col("late_us") > 300_000_000, 1).otherwise(0))
        .cast("long").alias("dropped_5m"),
        F.sum(F.when(F.col("late_us") > 600_000_000, 1).otherwise(0))
        .cast("long").alias("dropped_10m"),
        F.max(F.greatest(F.col("late_us"), F.lit(0))).cast("long")
        .alias("max_lateness_us"),
    )


@register("q_timeseries_gapfill", f"""
WITH daily AS (
    SELECT event_type, epoch_us(ts) // {_DAY_US} AS day,
           count(*)::BIGINT AS n
    FROM events GROUP BY 1, 2
), bounds AS (
    SELECT min(day) AS lo, max(day) AS hi FROM daily
), grid AS (
    SELECT t.event_type, g.g AS day
    FROM (SELECT DISTINCT event_type FROM daily) t
    CROSS JOIN bounds b, unnest(generate_series(b.lo, b.hi)) AS g(g)
)
SELECT grid.event_type, grid.day * {_DAY_US} AS day_start_us,
       coalesce(d.n, 0)::BIGINT AS n_events,
       (d.n IS NULL) AS gap_filled
FROM grid LEFT JOIN daily d
  ON d.event_type = grid.event_type AND d.day = grid.day
""")
def q_timeseries_gapfill(spark, sf_dir):
    """Calendar densification: the (event_type × day) grid over the
    observed date range with explicit zero rows for silent days —
    every downstream window/trend/anomaly computation needs gap-free
    series (a missing day reads as 'no row', not 'zero', and skews
    moving averages). Grid = tiny dims crossJoin (|types| × |days| —
    broadcastable at any fact size since it scales with the calendar,
    not the data), left join back to the aggregated dailies. The
    gap_filled flag makes imputation auditable."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type", F.expr(f"(ts div 1000) div {_DAY_US}").alias("day")
        )
        .groupBy("event_type", "day")
        .agg(F.count("*").cast("long").alias("n"))
    )
    bounds = daily.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    types = daily.select("event_type").distinct()
    grid = (
        types.crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence("lo", "hi")).alias("day"),
        )
    )
    return (
        grid.join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            (F.col("day") * F.lit(_DAY_US)).alias("day_start_us"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
            F.col("n").isNull().alias("gap_filled"),
        )
    )


@register("q_decayed_counts", f"""
WITH daily AS (
    SELECT event_type, epoch_us(ts) // {_DAY_US} AS day,
           count(*)::BIGINT AS n
    FROM events GROUP BY 1, 2
), ref AS (SELECT max(day) AS ref_day FROM daily)
SELECT event_type,
       sum(n)::BIGINT AS n_total,
       sum(CASE WHEN ref_day - day <= {_DECAY_H}
                THEN n * (1::BIGINT << ({_DECAY_H} - (ref_day - day)))
                ELSE 0 END)::BIGINT AS decayed_num,
       ((1000 * sum(CASE WHEN ref_day - day <= {_DECAY_H}
                         THEN n * (1::BIGINT << ({_DECAY_H} - (ref_day - day)))
                         ELSE 0 END))
        // (1::BIGINT << {_DECAY_H}))::BIGINT AS decayed_milli
FROM daily, ref
GROUP BY event_type
""")
def q_decayed_counts(spark, sf_dir):
    """Exponentially-decayed event counts per type (half-life = one
    day): today's events weigh 1, yesterday's 1/2, ... — the standard
    recency-weighted activity score behind trending/ranking feeds.
    The decay base is 1/2 precisely BECAUSE powers of two are exact
    in integer arithmetic: weight(age) = 2^(H-age) as a BIGINT shift,
    so the score is an exact integer both engines reproduce
    bit-for-bit — no float pow drift, no accumulation-order
    sensitivity. Ages beyond H=29 weigh 0 (they are < 1e-9 of
    today's weight — below any reporting precision by construction).
    Scale shape: per-(type, day) pre-aggregation (map-side
    combinable) then a |types|-row weighted rollup against the
    broadcast global max day; no window, no sort."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.expr(f"(ts div 1000) div {_DAY_US}").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count("*").cast("long").alias("n"))
    )
    ref = daily.agg(F.max("day").alias("ref_day"))
    w = F.expr(
        f"CASE WHEN ref_day - day <= {_DECAY_H}"
        f" THEN n * shiftleft(1L, {_DECAY_H} - cast(ref_day - day AS INT))"
        f" ELSE 0L END"
    )
    return (
        daily.crossJoin(F.broadcast(ref))
        .groupBy("event_type")
        .agg(
            F.sum("n").cast("long").alias("n_total"),
            F.sum(w).cast("long").alias("decayed_num"),
            F.expr(
                f"CAST((1000 * sum(CASE WHEN ref_day - day <= {_DECAY_H}"
                f" THEN n * shiftleft(1L, {_DECAY_H} - cast(ref_day - day AS INT))"
                f" ELSE 0L END)) div shiftleft(1L, {_DECAY_H}) AS BIGINT)"
            ).alias("decayed_milli"),
        )
    )


@register("q_triangle_count", r"""
WITH tk AS (
    SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS ws
    FROM documents
), sh AS (
    SELECT DISTINCT doc_id,
           ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS term
    FROM tk, unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS g(i)
), disc AS (
    SELECT term FROM sh GROUP BY 1 HAVING count(*) BETWEEN 2 AND 5
), e AS (
    SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
    FROM sh a JOIN sh b ON a.term = b.term AND a.doc_id < b.doc_id
    WHERE a.term IN (SELECT term FROM disc)
), deg AS (
    SELECT node, count(*)::BIGINT AS degree FROM (
        SELECT a AS node FROM e UNION ALL SELECT b FROM e
    ) GROUP BY 1
), tri AS (
    SELECT e1.a AS x, e1.b AS y, e2.b AS z
    FROM e e1
    JOIN e e2 ON e2.a = e1.b
    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
), per_node AS (
    SELECT node, count(*)::BIGINT AS n_triangles FROM (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
    ) GROUP BY 1
)
SELECT d.node, d.degree,
       coalesce(p.n_triangles, 0)::BIGINT AS n_triangles
FROM deg d LEFT JOIN per_node p ON p.node = d.node
""")
def q_triangle_count(spark, sf_dir):
    """Triangle counts per document over the document-relatedness
    graph (edge = two docs sharing a RARE shingle, df in [2, 5] —
    per-shingle pair fanout bounded at C(5,2) = 10, so the edge set
    grows ~linearly with the corpus, not quadratically; measured:
    11k edges/500 docs at sf0.01, 18k/5000 at sf0.1): triangles are
    the clustering signal — a near-dup
    cluster shows up as a dense triangle neighborhood, a chain of
    merely-pairwise-similar docs does not. Runs the degree-ordered
    orientation algorithm (out-degree ≤ O(sqrt(m)) by construction,
    wedge fanout O(m^1.5) worst case regardless of hub skew); the
    oracle replays the canonical-pair 3-way self-join, which counts
    each triangle exactly once as x < y < z.
    operators/graph.py:triangle_counts."""
    from ..operators.graph import triangle_counts

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        parse.tokens("text").alias("ws"),
    )
    parts3 = [F.expr(f"ws[i + {j}]") for j in range(3)]
    # r14 (guide §2.3/§2.4): one term-keyed exchange for the whole
    # shingle pipeline — hash(term) satisfies the clustering needs of
    # the distinct, the df rollup, and both term-equi-joins below, so
    # the explode runs once and its bytes shuffle once (the old plan
    # re-inlined the explode under disc, shd, ea and eb). Null guard
    # vacuously true (concat_ws / corpus key) — keeps the shared
    # exchange canonically equal across consumer branches.
    sh = (
        toks.where(F.size("ws") >= 3)
        .select(
            "doc_id", "ws",
            F.explode(F.sequence(F.lit(0), F.size("ws") - 3)).alias("i"),
        )
        .select("doc_id", F.concat_ws(" ", *parts3).alias("term"))
        .where(F.col("doc_id").isNotNull() & F.col("term").isNotNull())
        .repartition(F.col("term"))
        .distinct()
    )
    disc = (
        sh.groupBy("term")
        .agg(F.count("*").alias("df"))
        .where(F.col("df").between(2, 5))
        .select("term")
    )
    shd = sh.join(disc, "term")
    ea = shd.select("term", F.col("doc_id").alias("a"))
    eb = shd.select("term", F.col("doc_id").alias("b"))
    edges = (
        ea.join(eb, "term")
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    return triangle_counts(edges)


@register("q_new_vs_returning", f"""
WITH act AS (
    SELECT DISTINCT user_id, epoch_us(ts) // {_DAY_US} AS day FROM events
), fd AS (
    SELECT user_id, min(day) AS first_day FROM act GROUP BY 1
), d AS (
    SELECT a.day, count(*)::BIGINT AS n_active,
           sum(CASE WHEN f.first_day = a.day THEN 1 ELSE 0 END)::BIGINT
               AS n_new
    FROM act a JOIN fd f USING (user_id) GROUP BY 1
)
SELECT day * {_DAY_US} AS day_start_us, n_active, n_new,
       (n_active - n_new)::BIGINT AS n_returning,
       (sum(n_new) OVER (ORDER BY day))::BIGINT AS cum_users
FROM d
""")
def q_new_vs_returning(spark, sf_dir):
    """Daily new vs returning users plus the running distinct-user
    total — the audience-growth readout. Running COUNT(DISTINCT) over
    an expanding window is a scale trap (state grows with users);
    the identity that kills it: a user is DISTINCT-new exactly once,
    so cumulative distinct users = running SUM of first-appearance
    counts. Per-user first day is one shuffle on user_id; the only
    window runs over the CALENDAR-sized daily frame (30 rows here,
    bounded by days × 1 at any fact scale), never over events."""
    ev = load_table(spark, sf_dir, "events")
    act = (
        ev.select(
            "user_id", F.expr(f"(ts div 1000) div {_DAY_US}").alias("day")
        )
        .distinct()
    )
    fd = act.groupBy("user_id").agg(F.min("day").alias("first_day"))
    d = (
        act.join(fd, "user_id")
        .groupBy("day")
        .agg(
            F.count("*").cast("long").alias("n_active"),
            F.sum(
                F.when(F.col("first_day") == F.col("day"), 1).otherwise(0)
            ).cast("long").alias("n_new"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return d.select(
        (F.col("day") * F.lit(_DAY_US)).alias("day_start_us"),
        "n_active", "n_new",
        (F.col("n_active") - F.col("n_new")).cast("long")
        .alias("n_returning"),
        F.sum("n_new").over(w).cast("long").alias("cum_users"),
    )


@register("q_autocorr_daily", f"""
WITH daily AS (
    SELECT epoch_us(ts) // {_DAY_US} AS day, count(*)::BIGINT AS y
    FROM events GROUP BY 1
), lags AS (SELECT unnest(generate_series(1, 7)) AS lag),
p AS (
    SELECT l.lag, a.y AS x, b.y AS yl
    FROM lags l, daily a, daily b
    WHERE b.day = a.day + l.lag
), s AS (
    SELECT lag, count(*)::BIGINT AS cnt,
           sum(x)::BIGINT AS sx, sum(yl)::BIGINT AS sy,
           sum(x * yl)::BIGINT AS sxy,
           sum(x * x)::BIGINT AS sxx, sum(yl * yl)::BIGINT AS syy
    FROM p GROUP BY 1
)
SELECT CAST(lag AS BIGINT) AS lag, cnt,
       CASE WHEN cnt * sxx - sx * sx = 0 OR cnt * syy - sy * sy = 0
            THEN 0
            ELSE (1000000 * (cnt * sxy - sx * sy))
                 // (CAST(round(sqrt(CAST(cnt * sxx - sx * sx AS DOUBLE)))
                          AS BIGINT)
                     * CAST(round(sqrt(CAST(cnt * syy - sy * sy AS DOUBLE)))
                            AS BIGINT))
       END AS corr_ppm
FROM s
""")
def q_autocorr_daily(spark, sf_dir):
    """Autocorrelation of the daily event-count series at lags 1-7 —
    the weekly-seasonality / burst-persistence detector run before
    trusting any trend fit. Pearson over (n_d, n_d+lag) pairs from
    exact integer sums; the variance square roots go through the
    round(sqrt(x))->BIGINT protocol (sqrt is IEEE correctly rounded,
    unlike pow/ln, so both engines produce the identical integer) and
    the final ratio is integer ppm with truncating division. The
    pair join and the sums run over the CALENDAR-sized daily frame —
    at any fact scale the heavy work is the one groupBy(day)
    pre-aggregation; lags never touch raw events."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(F.expr(f"(ts div 1000) div {_DAY_US}").alias("day"))
        .groupBy("day")
        .agg(F.count("*").cast("long").alias("y"))
    )
    lags = spark.range(1, 8).select(F.col("id").alias("lag"))
    a = daily.select(F.col("day").alias("da"), F.col("y").alias("x"))
    b = daily.select(F.col("day").alias("db"), F.col("y").alias("yl"))
    p = (
        lags.crossJoin(a)
        .join(b, F.col("db") == F.col("da") + F.col("lag"))
    )
    s = p.groupBy("lag").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("yl").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("yl")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("yl") * F.col("yl")).cast("long").alias("syy"),
    )
    corr = F.expr(
        "CASE WHEN cnt * sxx - sx * sx = 0 OR cnt * syy - sy * sy = 0"
        " THEN 0"
        " ELSE (1000000 * (cnt * sxy - sx * sy))"
        " div (CAST(round(sqrt(CAST(cnt * sxx - sx * sx AS DOUBLE)))"
        " AS BIGINT)"
        " * CAST(round(sqrt(CAST(cnt * syy - sy * sy AS DOUBLE)))"
        " AS BIGINT)) END"
    )
    return s.select(
        F.col("lag").cast("long").alias("lag"), "cnt",
        corr.cast("long").alias("corr_ppm"),
    )


@register("q_uniform_sample_exact", f"""
SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h
FROM documents
ORDER BY h LIMIT {_SAMPLE_K}
""")
def q_uniform_sample_exact(spark, sf_dir):
    """EXACTLY-k uniform sample without a random seed: global top-k
    by md5(doc_id) — hash order is uniform and reproducible, so this
    is the deterministic distributed reservoir (every engine, every
    run, the same k rows). sample_hash_10pct gives a FRACTION with
    binomial size jitter; pipelines that need 'exactly 100 eval
    docs' need top-k order statistics instead. Spark executes
    orderBy+limit as TakeOrderedAndProject: per-partition top-k
    heaps then a k-sized driver merge — no global sort, no shuffle
    of the corpus (plan-asserted). The md5 hex column doubles as the
    audit trail."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.md5(F.col("doc_id").cast("string")).alias("h"),
        )
        .orderBy("h")
        .limit(_SAMPLE_K)
    )


@register("q_grouping_sets_profile", """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
            AS BIGINT) AS gid,
       count(*)::BIGINT AS n_rows,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                        (l_returnflag), (l_linestatus), ())
""")
def q_grouping_sets_profile(spark, sf_dir):
    """Multi-granularity revenue profile via GROUPING SETS — the OLAP
    rollup surface beyond CUBE (corpus_stats_cube): arbitrary set
    lists, with GROUPING() disambiguating a real NULL group from a
    rolled-up 'ALL' row. The scale trick: grouping sets expand the
    input N_sets× in the map phase BEFORE partial aggregation, so the
    fact table is first reduced to the (flag × status) base cells —
    exact DECIMAL sums re-aggregate associatively, so rolling the
    9-cell relation up through the 4 sets is bit-identical to rolling
    the raw scan, at 1/|fact| of the Expand cost (measured 1.95 s →
    1.0 s at sf0.1). Rounding to output precision happens ONCE, after
    the final aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    cells = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").cast("long").alias("cell_n"),
        F.sum(rev).alias("cell_rev"),
    )
    gs = cells.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"],
         ["l_linestatus"], []],
        "l_returnflag", "l_linestatus",
    ).agg(
        F.sum("cell_n").cast("long").alias("n_rows"),
        F.round(F.sum("cell_rev").cast("double"), 2).alias("revenue"),
        (F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus"))
        .cast("long").alias("gid"),
    )
    return gs.select(
        F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
        F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
        "gid", "n_rows", "revenue",
    )


@register("q_audience_overlap", """
WITH act AS (
    SELECT DISTINCT user_id, event_type FROM events
), tot AS (
    SELECT event_type, count(*)::BIGINT AS n FROM act GROUP BY 1
), p AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           count(*)::BIGINT AS overlap_users
    FROM act a
    JOIN act b ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY 1, 2
)
SELECT type_a, type_b, overlap_users,
       ta.n AS users_a, tb.n AS users_b,
       (overlap_users * 1000000 // (ta.n + tb.n - overlap_users))
           AS jaccard_ppm,
       (overlap_users * 1000000 // least(ta.n, tb.n)) AS containment_ppm
FROM p
JOIN tot ta ON ta.event_type = p.type_a
JOIN tot tb ON tb.event_type = p.type_b
""")
def q_audience_overlap(spark, sf_dir):
    """Pairwise audience overlap between event types — the cohort
    Venn diagram behind feature-adoption and cross-sell analyses:
    for every type pair, the EXACT distinct-user intersection plus
    Jaccard and smaller-side-containment in integer ppm. The scale
    insight: the user×type matrix is the small thing — distinct
    (user, type) is bounded by users × |types|, and the within-user
    self-join fans out at most C(|types|, 2) pairs per user, so the
    whole computation is two shuffles (user_id, then type pair) over
    frames far smaller than the event log. The |types|-sized totals
    broadcast back onto the pair rows."""
    ev = load_table(spark, sf_dir, "events")
    act = ev.select("user_id", "event_type").distinct()
    tot = act.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n")
    )
    a = act.select("user_id", F.col("event_type").alias("type_a"))
    b = act.select("user_id", F.col("event_type").alias("type_b"))
    p = (
        a.join(b, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("long").alias("overlap_users"))
    )
    ta = tot.select(
        F.col("event_type").alias("type_a"), F.col("n").alias("users_a")
    )
    tb = tot.select(
        F.col("event_type").alias("type_b"), F.col("n").alias("users_b")
    )
    return (
        p.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .select(
            "type_a", "type_b", "overlap_users", "users_a", "users_b",
            F.expr(
                "(overlap_users * 1000000)"
                " div (users_a + users_b - overlap_users)"
            ).cast("long").alias("jaccard_ppm"),
            F.expr("(overlap_users * 1000000) div least(users_a, users_b)")
            .cast("long").alias("containment_ppm"),
        )
    )


@register("q_cohort_ltv", """
WITH fo AS (
    SELECT o_custkey, min(year(o_orderdate)) AS cy FROM orders GROUP BY 1
), cs AS (
    SELECT cy, count(*)::BIGINT AS n_cohort FROM fo GROUP BY 1
), rev AS (
    SELECT f.cy, year(o.o_orderdate) - f.cy AS yoff,
           count(DISTINCT o.o_custkey)::BIGINT AS active_customers,
           CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(18,6))) * 100)
                AS BIGINT) AS revenue_cents
    FROM orders o JOIN fo f ON f.o_custkey = o.o_custkey
    GROUP BY 1, 2
)
SELECT r.cy AS cohort_year, CAST(r.yoff AS BIGINT) AS year_offset,
       c.n_cohort, r.active_customers, r.revenue_cents,
       (sum(r.revenue_cents)
            OVER (PARTITION BY r.cy ORDER BY r.yoff))::BIGINT
           AS cum_revenue_cents,
       ((sum(r.revenue_cents) OVER (PARTITION BY r.cy ORDER BY r.yoff))
            // c.n_cohort)::BIGINT AS cum_cents_per_customer
FROM rev r JOIN cs c ON c.cy = r.cy
""")
def q_cohort_ltv(spark, sf_dir):
    """Cohort lifetime value: customers cohorted by first-order year,
    revenue accumulated along year offsets — the LTV curve that sits
    under every acquisition-payback decision. Numeric protocol:
    per-cell revenue goes through the exact DECIMAL accumulation and
    lands as INTEGER CENTS before any cumulation, so the running LTV
    sum is pure BIGINT — no float accumulation-order drift in the
    cumulative column. Scale shape: first-order year is one shuffle
    on custkey; the (cohort × offset) matrix is calendar-sized
    (|years|² cells), so the window and the per-customer division
    cost nothing regardless of order volume."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.year(F.col("o_orderdate").cast("timestamp")).alias("yr"),
        "o_totalprice",
    )
    fo = o.groupBy("o_custkey").agg(F.min("yr").alias("cy"))
    cs = fo.groupBy("cy").agg(F.count("*").cast("long").alias("n_cohort"))
    rev = (
        o.join(fo, "o_custkey")
        .groupBy("cy", (F.col("yr") - F.col("cy")).alias("yoff"))
        .agg(
            F.countDistinct("o_custkey").cast("long")
            .alias("active_customers"),
            F.round(F.sum(_dec(F.col("o_totalprice"))) * 100, 0)
            .cast("long").alias("revenue_cents"),
        )
    )
    w = (
        Window.partitionBy("cy").orderBy("yoff")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        rev.join(F.broadcast(cs), "cy")
        .select(
            F.col("cy").alias("cohort_year"),
            F.col("yoff").cast("long").alias("year_offset"),
            "n_cohort", "active_customers", "revenue_cents",
            F.sum("revenue_cents").over(w).cast("long")
            .alias("cum_revenue_cents"),
            F.expr(
                "CAST(sum(revenue_cents) OVER (PARTITION BY cy ORDER BY yoff"
                " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
                " div n_cohort AS BIGINT)"
            ).alias("cum_cents_per_customer"),
        )
    )


@register("q_yoy_growth", """
WITH m AS (
    SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
           count(*)::BIGINT AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))) * 100)
                AS BIGINT) AS revenue_cents
    FROM orders GROUP BY 1, 2
)
SELECT cur.yr AS yr, CAST(cur.mo AS BIGINT) AS mo,
       cur.n_orders, cur.revenue_cents,
       prev.revenue_cents AS prev_year_cents,
       CASE WHEN prev.revenue_cents IS NULL OR prev.revenue_cents = 0
            THEN NULL
            ELSE (((cur.revenue_cents - prev.revenue_cents)
                   // (1 + greatest(cur.revenue_cents,
                                    prev.revenue_cents)
                       // 1000000000000)) * 1000000)
                 // greatest(prev.revenue_cents
                             // (1 + greatest(cur.revenue_cents,
                                              prev.revenue_cents)
                                 // 1000000000000), 1)
       END AS yoy_growth_ppm
FROM m cur LEFT JOIN m prev
  ON prev.yr = cur.yr - 1 AND prev.mo = cur.mo
""")
def q_yoy_growth(spark, sf_dir):
    """Month-over-same-month-last-year revenue growth — the
    seasonality-adjusted growth readout finance actually uses (plain
    month-over-month confounds seasonality). Revenue lands as exact
    integer cents (DECIMAL accumulation → ×100 → round) before the
    ppm growth division, so the ratio is pure BIGINT. The monthly
    matrix is calendar-sized: the self-join on (yr−1, mo) touches
    |years|×12 rows no matter how many orders feed it — one fact
    shuffle to months, everything after is broadcast-scale."""
    o = load_table(spark, sf_dir, "orders").select(
        F.year(F.col("o_orderdate").cast("timestamp")).alias("yr"),
        F.month(F.col("o_orderdate").cast("timestamp")).alias("mo"),
        "o_totalprice",
    )
    m = o.groupBy("yr", "mo").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.round(F.sum(_dec(F.col("o_totalprice"))) * 100, 0)
        .cast("long").alias("revenue_cents"),
    )
    prev = m.select(
        (F.col("yr") + 1).alias("yr"), F.col("mo"),
        F.col("revenue_cents").alias("prev_year_cents"),
    )
    return (
        m.join(F.broadcast(prev), ["yr", "mo"], "left")
        .select(
            "yr", F.col("mo").cast("long").alias("mo"),
            "n_orders", "revenue_cents", "prev_year_cents",
            F.when(
                F.col("prev_year_cents").isNull()
                | (F.col("prev_year_cents") == 0),
                F.lit(None).cast("long"),
            )
            .otherwise(
                # round-8 ppm scale guard (see q_abc_classification):
                # per-row s from the larger of the two month totals
                F.expr(
                    "(((revenue_cents - prev_year_cents)"
                    " div (1 + greatest(revenue_cents,"
                    " prev_year_cents) div 1000000000000)) * 1000000)"
                    " div greatest(prev_year_cents"
                    " div (1 + greatest(revenue_cents,"
                    " prev_year_cents) div 1000000000000), 1)"
                )
            )
            .cast("long").alias("yoy_growth_ppm"),
        )
    )


@register("q_mad_outliers", """
WITH med AS (
    SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
    FROM events GROUP BY 1
), dev AS (
    SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS d
    FROM events e JOIN med m ON m.event_type = e.event_type
), mad AS (
    SELECT event_type, round(quantile_cont(d, 0.5), 6) AS mad
    FROM dev GROUP BY 1
)
SELECT d.event_type,
       count(*)::BIGINT AS n_events,
       round(any_value(d.med), 4) AS median_value,
       round(any_value(m.mad), 4) AS mad_value,
       sum(CASE WHEN d.d > 3 * m.mad THEN 1 ELSE 0 END)::BIGINT
           AS n_outliers,
       (sum(CASE WHEN d.d > 3 * m.mad THEN 1 ELSE 0 END) * 1000000
        // count(*))::BIGINT AS outlier_ppm
FROM dev d JOIN mad m ON m.event_type = d.event_type
GROUP BY 1
""")
def q_mad_outliers(spark, sf_dir):
    """Robust outlier profile per event type: median absolute
    deviation, the estimator that doesn't break when the outliers it
    hunts contaminate the statistic (unlike mean/stddev z-scores —
    one 1e6 spike drags the mean past its own threshold). Flags
    |x − median| > 3·MAD. Engine parity: both medians round to 6 dp
    BEFORE re-use, so the deviation and threshold arithmetic runs on
    identical doubles (per-row IEEE ops are engine-identical — only
    unordered accumulation is not). Scale shape: three aggregation
    passes to |types| groups with the tiny stats broadcast back
    between them — the exact-median version of the approx path that
    would swap in approx_percentile at 100 TB."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "d", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.round(F.percentile("d", F.lit(0.5)), 6).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.any_value("med"), 4).alias("median_value"),
            F.round(F.any_value("mad"), 4).alias("mad_value"),
            F.sum(
                F.when(F.col("d") > 3 * F.col("mad"), 1).otherwise(0)
            ).cast("long").alias("n_outliers"),
            F.expr(
                "CAST(sum(CASE WHEN d > 3 * mad THEN 1 ELSE 0 END)"
                " * 1000000 div count(*) AS BIGINT)"
            ).alias("outlier_ppm"),
        )
    )


@register("q_k_anonymity", f"""
WITH qi AS (
    SELECT user_id, event_type,
           (epoch_us(ts) // 3600000000) % 24 AS hour_of_day,
           CAST(floor(value / 50) AS BIGINT) AS value_band
    FROM events
), grp AS (
    SELECT event_type, hour_of_day, value_band,
           count(DISTINCT user_id)::BIGINT AS group_users,
           count(*)::BIGINT AS group_rows
    FROM qi GROUP BY 1, 2, 3
)
SELECT event_type, hour_of_day, value_band, group_users, group_rows,
       (group_users < {_KANON_K}) AS violates_k
FROM grp
""")
def q_k_anonymity(spark, sf_dir):
    """k-anonymity audit over the quasi-identifier tuple (event_type,
    hour-of-day, value band): a release is k-anonymous when every QI
    combination covers >= k distinct users — the governance gate run
    before sharing 'anonymized' event data, because small QI groups
    re-identify people by linkage. Reports every QI cell with its
    distinct-user count and a violates_k flag (k={_KANON_K}); the
    violating cells are exactly what a suppression/generalization
    pass must coarsen. One groupBy over the QI tuple — QI-cell
    cardinality is bounded by the attribute-domain product, not the
    event volume, so the audit costs one fact shuffle at any scale."""
    ev = load_table(spark, sf_dir, "events")
    qi = ev.select(
        "user_id", "event_type",
        (F.expr("(ts div 1000) div 3600000000") % 24).alias("hour_of_day"),
        F.floor(F.col("value") / 50).cast("long").alias("value_band"),
    )
    return (
        qi.groupBy("event_type", "hour_of_day", "value_band")
        .agg(
            F.countDistinct("user_id").cast("long").alias("group_users"),
            F.count("*").cast("long").alias("group_rows"),
        )
        .withColumn("violates_k", F.col("group_users") < F.lit(_KANON_K))
    )


@register("q_l_diversity", f"""
WITH qi AS (
    SELECT event_type,
           (epoch_us(ts) // 3600000000) % 24 AS hour_of_day,
           user_id,
           CAST(floor(value / 50) AS BIGINT) AS sensitive_band
    FROM events
), grp AS (
    SELECT event_type, hour_of_day,
           count(DISTINCT user_id)::BIGINT AS group_users,
           count(DISTINCT sensitive_band)::BIGINT AS l_distinct
    FROM qi GROUP BY 1, 2
)
SELECT event_type, hour_of_day, group_users, l_distinct,
       (l_distinct < {_LDIV_L}) AS violates_l
FROM grp
""")
def q_l_diversity(spark, sf_dir):
    """l-diversity audit (Machanavajjhala 2007) — the attack
    k-anonymity misses: a QI group can cover many users yet expose
    everyone if they all share ONE sensitive value (homogeneity
    attack: 'every user active in that cell bought the same thing').
    Each quasi-identifier cell (event_type, hour-of-day) reports its
    distinct-sensitive-value count (value band as the sensitive
    attribute) and a violates_l flag at l={_LDIV_L}. Same shuffle
    shape as q_k_anonymity: one groupBy over the QI tuple, cell
    count bounded by the attribute domain, not event volume."""
    ev = load_table(spark, sf_dir, "events")
    qi = ev.select(
        "event_type",
        (F.expr("(ts div 1000) div 3600000000") % 24).alias("hour_of_day"),
        "user_id",
        F.floor(F.col("value") / 50).cast("long").alias("sensitive_band"),
    )
    return (
        qi.groupBy("event_type", "hour_of_day")
        .agg(
            F.countDistinct("user_id").cast("long").alias("group_users"),
            F.countDistinct("sensitive_band").cast("long")
            .alias("l_distinct"),
        )
        .withColumn("violates_l", F.col("l_distinct") < F.lit(_LDIV_L))
    )


@register("q_session_paths", f"""
WITH ordered AS (
    SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
           lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                   ORDER BY epoch_us(ts), event_id)
               AS prev_us
    FROM events
), flagged AS (
    SELECT *, CASE WHEN prev_us IS NULL
                     OR ts_us - prev_us > {{gap}} THEN 1 ELSE 0 END
               AS is_new
    FROM ordered
), sessions AS (
    SELECT *, sum(is_new) OVER (PARTITION BY user_id
                                ORDER BY ts_us, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS session_id
    FROM flagged
), stepped AS (
    SELECT *, row_number() OVER (PARTITION BY user_id, session_id
                                 ORDER BY ts_us, event_id) AS rn
    FROM sessions
), paths AS (
    SELECT user_id, session_id,
           concat_ws('>',
               {", ".join(f"max(CASE WHEN rn = {i} THEN event_type END)"
                          for i in range(1, _PATH_STEPS + 1))})
               AS path
    FROM stepped WHERE rn <= {_PATH_STEPS}
    GROUP BY user_id, session_id
), counted AS (
    SELECT path, count(*)::BIGINT AS n_sessions FROM paths GROUP BY 1
), ranked AS (
    SELECT path, n_sessions,
           row_number() OVER (ORDER BY n_sessions DESC, path) AS rank
    FROM counted
)
SELECT path, n_sessions, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {_PATH_TOPK}
""".replace("{gap}", str(_SESSION_GAP_US)))
def q_session_paths(spark, sf_dir):
    """Top navigation paths: the ordered event-type sequence of each
    session's first 5 steps, counted corpus-wide — the
    path-mining readout behind funnel DISCOVERY (funnels check a
    hypothesized path; this surfaces which paths actually happen).
    The path string is built by conditional pivot (max CASE per step
    position) + concat_ws — pure whole-stage codegen, no interpreted
    higher-order array functions in the per-session loop, and
    concat_ws skips NULLs so short sessions need no special casing.
    Scale shape: sessionization windows partition by user (the
    standard rule: state per user, never global), the path rollup
    shuffles once on the path string whose cardinality is bounded by
    |event_types|^steps, and only the <= that-many distinct paths
    reach the final top-k window."""
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
    stepped = sessions.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("user_id", "session_id")
            .orderBy("ts_us", "event_id")
        ),
    ).where(F.col("rn") <= _PATH_STEPS)
    steps = [
        F.max(
            F.when(F.col("rn") == i, F.col("event_type"))
        ).alias(f"s{i}")
        for i in range(1, _PATH_STEPS + 1)
    ]
    paths = (
        stepped.groupBy("user_id", "session_id")
        .agg(*steps)
        .select(
            F.concat_ws(
                ">", *[f"s{i}" for i in range(1, _PATH_STEPS + 1)]
            ).alias("path")
        )
    )
    counted = paths.groupBy("path").agg(
        F.count("*").cast("long").alias("n_sessions")
    )
    ranked = counted.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("n_sessions").desc(), "path")
        ),
    )
    return ranked.where(F.col("rank") <= _PATH_TOPK).select(
        "path", "n_sessions", F.col("rank").cast("long").alias("rank")
    )


@register("q_psi_drift", f"""
WITH ev AS (
    SELECT epoch_us(ts) // {_DAY_US} AS day,
           CAST(floor(value / 50) AS BIGINT) AS band
    FROM events
), b AS (SELECT min(day) AS lo FROM ev),
halves AS (
    SELECT CASE WHEN day < lo + 15 THEN 'ref' ELSE 'cur' END AS half,
           band
    FROM ev, b
), bands AS (SELECT DISTINCT band FROM halves),
nb AS (SELECT count(*) AS n_bands FROM bands),
counts AS (
    SELECT half, band, count(*)::BIGINT AS n FROM halves GROUP BY 1, 2
), tot AS (
    SELECT half, sum(n)::BIGINT AS total FROM counts GROUP BY 1
), grid AS (
    SELECT bands.band,
           coalesce(r.n, 0)::BIGINT AS n_ref,
           coalesce(c.n, 0)::BIGINT AS n_cur
    FROM bands
    LEFT JOIN counts r ON r.band = bands.band AND r.half = 'ref'
    LEFT JOIN counts c ON c.band = bands.band AND c.half = 'cur'
), probs AS (
    SELECT g.band, g.n_ref, g.n_cur,
           (g.n_ref + 1)::DOUBLE / (tr.total + nb.n_bands) AS p,
           (g.n_cur + 1)::DOUBLE / (tc.total + nb.n_bands) AS q
    FROM grid g, nb,
         (SELECT total FROM tot WHERE half = 'ref') tr,
         (SELECT total FROM tot WHERE half = 'cur') tc
), contrib AS (
    SELECT band, n_ref, n_cur,
           CAST(round((p - q) * round(ln(p / q), 6) * 1000000)
                AS BIGINT) AS contrib_micro
    FROM probs
)
SELECT band, n_ref, n_cur, contrib_micro,
       (SELECT sum(contrib_micro)::BIGINT FROM contrib) AS psi_micro_total
FROM contrib
""")
def q_psi_drift(spark, sf_dir):
    """Population Stability Index between the first and second half of
    the event window, over value bands — the drift metric risk teams
    actually monitor (PSI > 0.2 = significant shift), completing the
    drift family next to exact-integer KS and chi². Laplace-smoothed
    proportions (no ln(0)); the only libm call is ln(p/q) ROUNDED TO
    6 DP before the multiply (the unigram-surprisal recipe: p and q
    derive from identical integers, so the doubles, the pre-rounded
    log, the product and the micro rounding replay bit-for-bit in
    both engines); contributions land as BIGINT micro-units whose sum
    is exact. Scale shape: one fact shuffle to (half, band) — band
    cardinality is domain-bounded — then broadcast-size joins; the
    total is a 1-row broadcast back onto the band rows."""
    ev = load_table(spark, sf_dir, "events").select(
        F.expr(f"(ts div 1000) div {_DAY_US}").alias("day"),
        F.floor(F.col("value") / 50).cast("long").alias("band"),
    )
    b = ev.agg(F.min("day").alias("lo"))
    halves = ev.crossJoin(F.broadcast(b)).select(
        F.when(F.col("day") < F.col("lo") + 15, "ref")
        .otherwise("cur").alias("half"),
        "band",
    )
    # localCheckpoint (round 13): counts is <= |bands| x 2 rows but
    # feeds SIX consumers (bands, n_bands, both halves' counts, both
    # totals) — and the final contrib relation is itself referenced
    # twice (rows + the 1-row total). Uncheckpointed, every reference
    # re-inlined the events scan + min-day agg (measured: 24 parquet
    # scans in one plan; 2 after — one for min-day, one for counts).
    counts = (
        halves.groupBy("half", "band")
        .agg(F.count("*").cast("long").alias("n"))
        .localCheckpoint()
    )
    # identical band set: counts carries every band present in either
    # half, so deriving bands here re-reads the checkpoint, not the
    # fact scan
    bands = counts.select("band").distinct()
    nb = bands.agg(F.count("*").alias("n_bands"))
    tot = counts.groupBy("half").agg(F.sum("n").cast("long").alias("total"))
    r = counts.where(F.col("half") == "ref").select(
        "band", F.col("n").alias("nr")
    )
    c = counts.where(F.col("half") == "cur").select(
        "band", F.col("n").alias("nc")
    )
    tr = tot.where(F.col("half") == "ref").select(
        F.col("total").alias("total_ref")
    )
    tc = tot.where(F.col("half") == "cur").select(
        F.col("total").alias("total_cur")
    )
    grid = (
        bands.join(F.broadcast(r), "band", "left")
        .join(F.broadcast(c), "band", "left")
        .select(
            "band",
            F.coalesce("nr", F.lit(0)).cast("long").alias("n_ref"),
            F.coalesce("nc", F.lit(0)).cast("long").alias("n_cur"),
        )
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(tr))
        .crossJoin(F.broadcast(tc))
    )
    probs = grid.select(
        "band", "n_ref", "n_cur",
        ((F.col("n_ref") + 1).cast("double")
         / (F.col("total_ref") + F.col("n_bands"))).alias("p"),
        ((F.col("n_cur") + 1).cast("double")
         / (F.col("total_cur") + F.col("n_bands"))).alias("q"),
    )
    contrib = probs.select(
        "band", "n_ref", "n_cur",
        F.round(
            (F.col("p") - F.col("q"))
            * F.round(F.log(F.col("p") / F.col("q")), 6)
            * 1_000_000
        ).cast("long").alias("contrib_micro"),
    )
    total = contrib.agg(
        F.sum("contrib_micro").cast("long").alias("psi_micro_total")
    )
    return contrib.crossJoin(F.broadcast(total))


@register("q_revenue_gini", """
WITH cust AS (
    SELECT o_custkey,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))) * 100)
                AS BIGINT) AS cents
    FROM orders GROUP BY 1
), ranked AS (
    SELECT cents,
           row_number() OVER (ORDER BY cents, o_custkey) AS i
    FROM cust
), s AS (
    SELECT count(*)::BIGINT AS n, sum(cents)::BIGINT AS sx,
           sum(i::HUGEINT * cents) AS sxi
    FROM ranked
), topd AS (
    SELECT sum(r.cents)::BIGINT AS top_cents
    FROM ranked r, s WHERE r.i > s.n - (s.n // 10)
)
SELECT s.n AS n_customers, s.sx AS total_cents,
       CAST((2 * s.sxi - (s.n + 1)::HUGEINT * s.sx)
            // greatest((s.n::HUGEINT * s.sx) // 1000000, 1)
            AS BIGINT) AS gini_ppm,
       CAST((topd.top_cents::HUGEINT * 1000000) // s.sx AS BIGINT)
           AS top_decile_share_ppm
FROM s, topd
""")
def q_revenue_gini(spark, sf_dir):
    """Revenue concentration: Gini coefficient + top-decile share
    over per-customer lifetime revenue — the inequality readout
    behind 'whale' analyses and account-risk concentration limits.
    Exact protocol: revenue lands as integer cents; the Gini closed
    form G = (2·Σi·x_i − (n+1)·Σx) / (n·Σx) is evaluated in WIDE
    exact integers (Spark DECIMAL(38,0), DuckDB HUGEINT — round 8:
    Σi·x and n·Σx exceed BIGINT once n·total_cents passes ~9.2e18,
    caught by the magnitude-stress sweep) with the denominator
    pre-scaled to ppm; exact integer arithmetic is engine-identical
    at any width.
    Scale shape: one fact shuffle to customers; the rank window runs
    over the CUSTOMER aggregate relation (the ntile/deciles
    precedent), never over orders; the two scalars meet by
    broadcast."""
    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.round(F.sum(_dec(F.col("o_totalprice"))) * 100, 0)
        .cast("long").alias("cents")
    )
    ranked = cust.withColumn(
        "i", F.row_number().over(Window.orderBy("cents", "o_custkey"))
    )
    s = ranked.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("sx"),
        F.sum(F.col("i").cast("decimal(19,0)") * F.col("cents"))
        .alias("sxi"),
    )
    topd = (
        ranked.crossJoin(F.broadcast(s))
        .where(F.col("i") > F.col("n") - F.expr("n div 10"))
        .agg(F.sum("cents").cast("long").alias("top_cents"))
    )
    return (
        s.crossJoin(F.broadcast(topd))
        .select(
            F.col("n").alias("n_customers"),
            F.col("sx").alias("total_cents"),
            F.expr(
                "CAST((2 * sxi - CAST(n + 1 AS DECIMAL(19,0)) * sx)"
                " div greatest((CAST(n AS DECIMAL(19,0)) * sx)"
                " div 1000000, 1) AS BIGINT)"
            ).alias("gini_ppm"),
            F.expr(
                "CAST((CAST(top_cents AS DECIMAL(38,0)) * 1000000)"
                " div sx AS BIGINT)"
            ).alias("top_decile_share_ppm"),
        )
    )


@register("q_basket_lift", f"""
WITH ob AS (
    SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
), n AS (SELECT count(DISTINCT okey) AS n_orders FROM ob),
bc AS (
    SELECT brand, count(*)::BIGINT AS n_b FROM ob GROUP BY 1
), pairs AS (
    SELECT a.brand AS brand_a, b.brand AS brand_b,
           count(*)::BIGINT AS n_both
    FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
    GROUP BY 1, 2
), scored AS (
    SELECT p.brand_a, p.brand_b, p.n_both,
           ca.n_b AS n_a, cb.n_b AS n_b,
           ((p.n_both * n.n_orders * 1000000) // (ca.n_b * cb.n_b))
               AS lift_ppm,
           ((p.n_both * 1000000) // n.n_orders) AS support_ppm
    FROM pairs p
    JOIN bc ca ON ca.brand = p.brand_a
    JOIN bc cb ON cb.brand = p.brand_b, n
), ranked AS (
    SELECT *, row_number() OVER (ORDER BY n_both DESC, lift_ppm DESC,
                                 brand_a, brand_b) AS rank
    FROM scored
)
SELECT brand_a, brand_b, n_both, n_a, n_b, lift_ppm, support_ppm,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {_BASKET_TOPK}
""")
def q_basket_lift(spark, sf_dir):
    """Market-basket association between part brands co-purchased in
    one order: support and LIFT (observed co-rate / independent
    expectation) in integer ppm, top-{_BASKET_TOPK} pairs — the
    assortment/recommendation primitive, at the brand granularity
    where TPC-H baskets actually carry signal. Scale shape: the
    distinct (order, brand) relation is the small thing (≤ orders ×
    |brands|); the within-order pair join fans out ≤ C(|brands|, 2)
    per order; brand totals and the 1-row order count broadcast onto
    the ≤ |brands|² pair rows. The part join carries no broadcast
    hint (part scales with SF — AQE decides, the repo rule).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    # localCheckpoint (round 13): ob feeds FOUR consumers (order
    # count, brand totals, both pair-join sides) — uncheckpointed,
    # the lineitem⋈part+distinct subtree was inlined into each
    # (measured: 20 parquet scans in one plan); materialized, the
    # fact join runs once and the pair join reads the small distinct
    # (order, brand) relation
    ob = (
        li.join(part, "l_partkey")
        .select(F.col("l_orderkey").alias("okey"),
                F.col("p_brand").alias("brand"))
        .distinct()
        .localCheckpoint()
    )
    n = ob.select("okey").distinct().agg(
        F.count("*").alias("n_orders")
    )
    bc = ob.groupBy("brand").agg(F.count("*").cast("long").alias("n_b"))
    a = ob.select("okey", F.col("brand").alias("brand_a"))
    b = ob.select("okey", F.col("brand").alias("brand_b"))
    pairs = (
        a.join(b, "okey")
        .where(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").cast("long").alias("n_both"))
    )
    ca = bc.select(F.col("brand").alias("brand_a"),
                   F.col("n_b").alias("n_a"))
    cb = bc.select(F.col("brand").alias("brand_b"),
                   F.col("n_b").alias("n_b"))
    scored = (
        pairs.join(F.broadcast(ca), "brand_a")
        .join(F.broadcast(cb), "brand_b")
        .crossJoin(F.broadcast(n))
        .select(
            "brand_a", "brand_b", "n_both", "n_a", "n_b",
            F.expr(
                "CAST((n_both * n_orders * 1000000)"
                " div (n_a * n_b) AS BIGINT)"
            ).alias("lift_ppm"),
            F.expr("CAST((n_both * 1000000) div n_orders AS BIGINT)")
            .alias("support_ppm"),
        )
    )
    ranked = scored.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(
                F.col("n_both").desc(), F.col("lift_ppm").desc(),
                "brand_a", "brand_b",
            )
        ),
    )
    return ranked.where(F.col("rank") <= _BASKET_TOPK).select(
        "brand_a", "brand_b", "n_both", "n_a", "n_b",
        "lift_ppm", "support_ppm",
        F.col("rank").cast("long").alias("rank"),
    )


@register("q_ab_split_audit", f"""
WITH {_AB_ARMS_SQL}
SELECT arm, n AS n_users, x AS n_converted,
       ((x * 1000000) // n)::BIGINT AS conv_ppm
FROM arms
""")
def q_ab_split_audit(spark, sf_dir):
    """Deterministic A/B assignment + conversion readout: users hash
    into arms by md5(user_id || ':' || experiment_salt) — the
    industry-standard seedless split (reproducible across engines
    and runs, no RNG state to coordinate across 1000 executors; the
    salt is what makes experiment assignments independent of each
    other). The audit reports arm sizes and purchase-conversion ppm
    — the balance check (arms ~50/50) and the primary metric read,
    both exact integers. One distinct-users shuffle + a semi-style
    left join against the distinct converters; everything downstream
    is 2 rows."""
    return _ab_arms(spark, sf_dir).select(
        "arm",
        F.col("n").alias("n_users"),
        F.col("x").alias("n_converted"),
        F.expr("CAST((x * 1000000) div n AS BIGINT)").alias("conv_ppm"),
    )


@register("q_activation_time", """
WITH firsts AS (
    SELECT user_id,
           min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
               AS f_view,
           min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
               AS f_click,
           min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
               AS f_purchase
    FROM events GROUP BY 1
), done AS (
    SELECT user_id,
           greatest(f_view, f_click, f_purchase)
               - least(f_view, f_click, f_purchase) AS span_us
    FROM firsts
    WHERE f_view IS NOT NULL AND f_click IS NOT NULL
      AND f_purchase IS NOT NULL
), base AS (SELECT count(*) AS n_users FROM firsts)
SELECT base.n_users::BIGINT AS n_users,
       count(*)::BIGINT AS n_activated,
       (count(*) * 1000000 // base.n_users)::BIGINT AS activation_ppm,
       (sum(span_us) // count(*))::BIGINT AS mean_span_us,
       round(quantile_cont(span_us, 0.5), 4) AS p50_span_us
FROM done, base
GROUP BY base.n_users
""")
def q_activation_time(spark, sf_dir):
    """Any-order milestone activation: a user is ACTIVATED once they
    have done all of view, click, AND purchase — no ordering
    assumption (the ordered funnel's blind spot: users who purchase
    first and browse later are conversions too). Reports activation
    rate and the time-to-complete span (max first − min first) with
    integer-floor mean and exact interpolated median (the
    conversion-latency protocol). One shuffle to users with
    conditional-min firsts (map-side combinable), then 1-row
    rollups."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        *[
            F.min(
                F.when(
                    F.col("event_type") == t, F.expr("ts div 1000")
                )
            ).alias(f"f_{t}")
            for t in ("view", "click", "purchase")
        ]
    )
    done = firsts.where(
        F.col("f_view").isNotNull()
        & F.col("f_click").isNotNull()
        & F.col("f_purchase").isNotNull()
    ).select(
        (
            F.greatest("f_view", "f_click", "f_purchase")
            - F.least("f_view", "f_click", "f_purchase")
        ).alias("span_us")
    )
    base = firsts.agg(F.count("*").alias("n_users"))
    return (
        done.crossJoin(F.broadcast(base))
        .groupBy("n_users")
        .agg(
            F.count("*").cast("long").alias("n_activated"),
            F.expr(
                "CAST(count(*) * 1000000 div any_value(n_users) AS BIGINT)"
            ).alias("activation_ppm"),
            F.expr("CAST(sum(span_us) div count(*) AS BIGINT)")
            .alias("mean_span_us"),
            F.round(F.percentile("span_us", F.lit(0.5)), 4)
            .alias("p50_span_us"),
        )
        .select(
            F.col("n_users").cast("long").alias("n_users"),
            "n_activated", "activation_ppm", "mean_span_us",
            "p50_span_us",
        )
    )


@register("q_activity_streaks", f"""
WITH act AS (
    SELECT DISTINCT user_id, epoch_us(ts) // {_DAY_US} AS day
    FROM events
), grp AS (
    SELECT user_id, day,
           day - row_number() OVER (PARTITION BY user_id ORDER BY day)
               AS island
    FROM act
), streaks AS (
    SELECT user_id, count(*)::BIGINT AS streak_len
    FROM grp GROUP BY user_id, island
), best AS (
    SELECT user_id, max(streak_len)::BIGINT AS max_streak
    FROM streaks GROUP BY 1
)
SELECT max_streak, count(*)::BIGINT AS n_users
FROM best GROUP BY 1
""")
def q_activity_streaks(spark, sf_dir):
    """Longest consecutive-day activity streak per user, as a
    distribution — the engagement metric behind habit/retention
    scoring, via the classic gaps-and-islands identity: for
    consecutive days, day − row_number() is CONSTANT, so grouping on
    that difference splits each user's history into maximal runs
    with no self-join and no recursion. The window partitions by
    user over their distinct DAYS (≤ calendar length, never raw
    events); everything after is two tiny rollups."""
    ev = load_table(spark, sf_dir, "events")
    act = (
        ev.select(
            "user_id", F.expr(f"(ts div 1000) div {_DAY_US}").alias("day")
        )
        .distinct()
    )
    grp = act.withColumn(
        "island",
        F.col("day")
        - F.row_number().over(
            Window.partitionBy("user_id").orderBy("day")
        ),
    )
    streaks = grp.groupBy("user_id", "island").agg(
        F.count("*").cast("long").alias("streak_len")
    )
    best = streaks.groupBy("user_id").agg(
        F.max("streak_len").cast("long").alias("max_streak")
    )
    return best.groupBy("max_streak").agg(
        F.count("*").cast("long").alias("n_users")
    )


@register("q_forecast_backtest", f"""
WITH daily AS (
    SELECT event_type, epoch_us(ts) // {_DAY_US} AS day,
           count(*)::BIGINT AS n
    FROM events GROUP BY 1, 2
), joined AS (
    SELECT cur.event_type, cur.day, cur.n,
           s.n AS pred_seasonal, p.n AS pred_persist
    FROM daily cur
    JOIN daily s ON s.event_type = cur.event_type
                AND s.day = cur.day - 7
    JOIN daily p ON p.event_type = cur.event_type
                AND p.day = cur.day - 1
)
SELECT event_type, count(*)::BIGINT AS n_eval,
       ((1000 * sum(abs(n - pred_seasonal))) // count(*))::BIGINT
           AS mae_seasonal_milli,
       ((1000 * sum(abs(n - pred_persist))) // count(*))::BIGINT
           AS mae_persist_milli,
       (sum(abs(n - pred_seasonal)) < sum(abs(n - pred_persist)))
           AS seasonal_wins
FROM joined GROUP BY 1
""")
def q_forecast_backtest(spark, sf_dir):
    """Baseline forecasting with an honest backtest: the two
    baselines every real forecast must beat — seasonal naive (same
    weekday last week) and persistence (yesterday) — scored by MAE
    over every day where both predictions exist, plus the
    which-baseline-wins verdict. This is the capacity-planning
    sanity harness: if a fancy model doesn't beat these two numbers
    it ships nothing. All-integer (milli-MAE with truncating
    division); the lag joins and scoring run over the calendar-sized
    per-(type, day) frame — the ONLY fact-sized work is the one
    groupBy building it."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type", F.expr(f"(ts div 1000) div {_DAY_US}").alias("day")
        )
        .groupBy("event_type", "day")
        .agg(F.count("*").cast("long").alias("n"))
    )
    s = daily.select(
        "event_type", (F.col("day") + 7).alias("day"),
        F.col("n").alias("pred_seasonal"),
    )
    p = daily.select(
        "event_type", (F.col("day") + 1).alias("day"),
        F.col("n").alias("pred_persist"),
    )
    joined = daily.join(s, ["event_type", "day"]).join(
        p, ["event_type", "day"]
    )
    return joined.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_eval"),
        F.expr(
            "CAST((1000 * sum(abs(n - pred_seasonal))) div count(*)"
            " AS BIGINT)"
        ).alias("mae_seasonal_milli"),
        F.expr(
            "CAST((1000 * sum(abs(n - pred_persist))) div count(*)"
            " AS BIGINT)"
        ).alias("mae_persist_milli"),
        (
            F.sum(F.abs(F.col("n") - F.col("pred_seasonal")))
            < F.sum(F.abs(F.col("n") - F.col("pred_persist")))
        ).alias("seasonal_wins"),
    )


@register("q_ship_latency_integrity", f"""
WITH j AS (
    SELECT o.o_orderpriority AS priority,
           (epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate))
               // {_DAY_US} AS offset_days
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
)
SELECT priority, count(*)::BIGINT AS n_lines,
       sum(CASE WHEN offset_days < 0 THEN 1 ELSE 0 END)::BIGINT
           AS n_impossible,
       ((sum(CASE WHEN offset_days < 0 THEN 1 ELSE 0 END) * 1000000)
        // count(*))::BIGINT AS impossible_ppm,
       round(quantile_cont(offset_days, 0.5), 4) AS p50_offset_days,
       ((1000 * sum(offset_days)) // count(*))::BIGINT
           AS mean_offset_milli_days
FROM j GROUP BY 1
""")
def q_ship_latency_integrity(spark, sf_dir):
    """Order-to-ship offset integrity per priority — the fact-fact
    temporal-consistency audit: a lineitem shipped BEFORE its order
    date is an impossible sequence (clock skew, bad backfill, join
    corruption), and the ppm rate of impossible rows is the data-
    quality gate before any real latency SLA is computed on top.
    (On this synthetic data ship and order dates are uncorrelated,
    so the violation counter is exactly what the query surfaces.)
    Scale shape: the one fact-fact equi-join on orderkey — both
    sides SF-scaling, no broadcast hint, AQE plans it — then a
    five-group rollup; offsets are exact integer days (both columns
    are midnight timestamps), the median follows the exact
    interpolated-percentile protocol, the mean is integer
    milli-days."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderpriority").alias("priority"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp"))
        .alias("o_us"),
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        F.unix_micros(F.col("l_shipdate").cast("timestamp"))
        .alias("s_us"),
    )
    j = o.join(li, "o_orderkey").select(
        "priority",
        F.expr(f"(s_us - o_us) div {_DAY_US}").alias("offset_days"),
    )
    return j.groupBy("priority").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(F.when(F.col("offset_days") < 0, 1).otherwise(0))
        .cast("long").alias("n_impossible"),
        F.expr(
            "CAST((sum(CASE WHEN offset_days < 0 THEN 1 ELSE 0 END)"
            " * 1000000) div count(*) AS BIGINT)"
        ).alias("impossible_ppm"),
        F.round(F.percentile("offset_days", F.lit(0.5)), 4)
        .alias("p50_offset_days"),
        F.expr("CAST((1000 * sum(offset_days)) div count(*) AS BIGINT)")
        .alias("mean_offset_milli_days"),
    )


# ===================================================================
# §2.C continuation (round-7 session 2) — survival / changepoint /
# information-theoretic / robust-statistics primitives
# ===================================================================


@register("q_survival_hazard", f"""
WITH ship AS (
    SELECT l_orderkey AS o_orderkey,
           max(epoch_us(l_shipdate)) AS s_us
    FROM lineitem GROUP BY 1
), horizon AS (
    SELECT max(epoch_us(l_shipdate)) AS h_us FROM lineitem
), subj AS (
    SELECT o.o_orderkey,
           greatest((coalesce(s.s_us, h.h_us)
                     - epoch_us(o.o_orderdate)) // {_DAY_US}, 0)
               AS dur,
           CASE WHEN s.s_us IS NULL THEN 0 ELSE 1 END AS ev
    FROM orders o LEFT JOIN ship s USING (o_orderkey), horizon h
), by_t AS (
    SELECT dur AS t_days, sum(ev)::BIGINT AS d_events,
           sum(1 - ev)::BIGINT AS n_censored
    FROM subj GROUP BY 1
), risk AS (
    SELECT t_days, d_events, n_censored,
           sum(d_events + n_censored)
               OVER (ORDER BY t_days DESC)::BIGINT AS n_at_risk
    FROM by_t
), haz AS (
    SELECT t_days, n_at_risk, d_events, n_censored,
           (d_events * 1000000) // n_at_risk AS hazard_step_ppm
    FROM risk WHERE d_events > 0
)
SELECT t_days, n_at_risk, d_events, n_censored, hazard_step_ppm,
       sum(hazard_step_ppm) OVER (ORDER BY t_days)::BIGINT
           AS cum_hazard_ppm
FROM haz
""")
def q_survival_hazard(spark, sf_dir):
    """Nelson-Aalen cumulative-hazard estimate of order-to-last-ship
    latency with RIGHT CENSORING — the survival-analysis primitive
    (time-to-event with subjects still open at the horizon) that
    plain latency percentiles get wrong: an order with no shipment
    yet is not 'missing', it is censored at the observation horizon,
    and dropping it biases every estimate downward. Nelson-Aalen is
    chosen over Kaplan-Meier deliberately: H(t) = SIGMA d_i/n_i is a
    SUM, so each step can be an exact integer ppm ratio and the
    cumulative sum is order-independent — KM's running PRODUCT of
    doubles has no engine-portable accumulation order. Scale shape:
    the per-order max-shipdate rollup is the only fact-sized pass
    (map-side partial agg); the at-risk reverse cumulative sum and
    the hazard windows run over the ≤|distinct durations| relation
    (calendar-bounded, hundreds of rows), and the 1-row horizon
    broadcasts. Durations clamp at 0 (synthetic ship dates are
    uncorrelated with order dates; documented in
    q_ship_latency_integrity)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        F.unix_micros(F.col("l_shipdate").cast("timestamp"))
        .alias("s_us"),
    )
    ship = li.groupBy("o_orderkey").agg(F.max("s_us").alias("s_us"))
    horizon = li.agg(F.max("s_us").alias("h_us"))
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.unix_micros(F.col("o_orderdate").cast("timestamp"))
        .alias("o_us"),
    )
    subj = (
        o.join(ship, "o_orderkey", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.greatest(
                F.expr(f"(coalesce(s_us, h_us) - o_us) div {_DAY_US}"),
                F.lit(0),
            ).alias("dur"),
            F.when(F.col("s_us").isNull(), 0).otherwise(1).alias("ev"),
        )
    )
    by_t = subj.groupBy(F.col("dur").alias("t_days")).agg(
        F.sum("ev").cast("long").alias("d_events"),
        F.sum(1 - F.col("ev")).cast("long").alias("n_censored"),
    )
    # windows over the calendar-bounded per-duration relation
    risk = by_t.withColumn(
        "n_at_risk",
        F.sum(F.col("d_events") + F.col("n_censored"))
        .over(Window.orderBy(F.col("t_days").desc()))
        .cast("long"),
    )
    haz = risk.where(F.col("d_events") > 0).withColumn(
        "hazard_step_ppm",
        F.expr("(d_events * 1000000) div n_at_risk"),
    )
    return haz.select(
        "t_days", "n_at_risk", "d_events", "n_censored",
        "hazard_step_ppm",
        F.sum("hazard_step_ppm")
        .over(Window.orderBy("t_days")).cast("long")
        .alias("cum_hazard_ppm"),
    )


@register("q_changepoint_cusum", f"""
WITH daily AS (
    SELECT epoch_us(ts) // {_DAY_US} AS day, count(*)::BIGINT AS n
    FROM events GROUP BY 1
), tot AS (
    SELECT sum(n)::BIGINT AS total, count(*)::BIGINT AS n_days
    FROM daily
), walk AS (
    SELECT day, n,
           sum(n) OVER (ORDER BY day)::BIGINT AS prefix,
           row_number() OVER (ORDER BY day)::BIGINT AS k
    FROM daily
), cusum AS (
    SELECT w.day, w.n,
           (t.n_days * w.prefix - w.k * t.total)::BIGINT
               AS cusum_scaled
    FROM walk w, tot t
)
SELECT day, n, cusum_scaled,
       (row_number() OVER (ORDER BY abs(cusum_scaled) DESC, day)
            = 1) AS is_changepoint
FROM cusum
""")
def q_changepoint_cusum(spark, sf_dir):
    """Offline CUSUM changepoint detection on the daily event-count
    series: S_k = SIGMA_(i<=k) (x_i - mean), and the day maximizing
    |S_k| is the single most likely level-shift point (Page's
    statistic / binary-segmentation step 1). ALL-INTEGER parity: the
    mean is never materialized — S_k is reported scaled by n_days
    (n_days*prefix_k - k*total), an exact integer identity, so no
    division or double touches the hash. Scale shape: one fact pass
    to daily counts (map-side partial agg), then every window runs
    over the ≤|days| calendar-bounded relation; the 1-row total
    broadcasts onto it."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.expr(f"(ts div 1000) div {_DAY_US}").alias("day"))
        .groupBy("day")
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = daily.agg(
        F.sum("n").cast("long").alias("total"),
        F.count("*").cast("long").alias("n_days"),
    )
    w = Window.orderBy("day")
    walk = daily.select(
        "day", "n",
        F.sum("n").over(w).cast("long").alias("prefix"),
        F.row_number().over(w).cast("long").alias("k"),
    )
    cusum = walk.crossJoin(F.broadcast(tot)).select(
        "day", "n",
        (F.col("n_days") * F.col("prefix") - F.col("k") * F.col("total"))
        .cast("long").alias("cusum_scaled"),
    )
    return cusum.withColumn(
        "is_changepoint",
        F.row_number().over(
            Window.orderBy(F.abs(F.col("cusum_scaled")).desc(), "day")
        ) == 1,
    )


@register("q_mutual_information", f"""
WITH cells AS (
    SELECT event_type, (epoch_us(ts) // {_DAY_US}) % 7 AS dow,
           count(*)::BIGINT AS n_xy
    FROM events GROUP BY 1, 2
), mx AS (
    SELECT event_type, sum(n_xy)::BIGINT AS n_x FROM cells GROUP BY 1
), my AS (
    SELECT dow, sum(n_xy)::BIGINT AS n_y FROM cells GROUP BY 1
), tot AS (
    SELECT sum(n_xy)::BIGINT AS n FROM cells
), scored AS (
    SELECT c.event_type, c.dow, c.n_xy, x.n_x, y.n_y,
           round(ln((c.n_xy::DOUBLE * t.n) / (x.n_x::DOUBLE * y.n_y)),
                 6) AS pmi_nats,
           t.n
    FROM cells c
    JOIN mx x USING (event_type) JOIN my y USING (dow), tot t
)
SELECT event_type, dow, n_xy, n_x, n_y, pmi_nats,
       (CAST(sum(n_xy * pmi_nats::DECIMAL(18,6)) OVER () * 1000000
             AS BIGINT) // max(n) OVER ())::BIGINT
           AS mi_total_micro_nats
FROM scored
""")
def q_mutual_information(spark, sf_dir):
    """Mutual information between event type and day-of-week — the
    categorical dependence screen (feature selection / leakage
    detection: MI ~ 0 means the column pair is safe to treat as
    independent; high MI flags a confound). Emits the full PMI cell
    table (the interpretable artifact: WHICH (type, dow) cell drives
    the dependence) plus the corpus MI in integer micro-nats. Parity
    protocol: ln is rounded to 6dp PER CELL, the MI total is an
    exact decimal sum of (integer count x 6dp decimal) — order-
    independent — and dow is pure integer epoch-day arithmetic (no
    engine weekday convention involved). Scale shape: one fact pass
    to the |types| x 7 contingency table; margins and the 1-row
    total broadcast; the window total runs over the ≤35-row cell
    relation."""
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.select(
            "event_type",
            F.expr(f"((ts div 1000) div {_DAY_US}) % 7").alias("dow"),
        )
        .groupBy("event_type", "dow")
        .agg(F.count("*").cast("long").alias("n_xy"))
    )
    mx = cells.groupBy("event_type").agg(
        F.sum("n_xy").cast("long").alias("n_x"))
    my = cells.groupBy("dow").agg(
        F.sum("n_xy").cast("long").alias("n_y"))
    tot = cells.agg(F.sum("n_xy").cast("long").alias("n"))
    scored = (
        cells.join(F.broadcast(mx), "event_type")
        .join(F.broadcast(my), "dow")
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type", "dow", "n_xy", "n_x", "n_y",
            F.round(
                F.log(
                    (F.col("n_xy").cast("double") * F.col("n"))
                    / (F.col("n_x").cast("double") * F.col("n_y"))
                ),
                6,
            ).alias("pmi_nats"),
            "n",
        )
    )
    wall = Window.partitionBy()
    return scored.select(
        "event_type", "dow", "n_xy", "n_x", "n_y", "pmi_nats",
        F.expr(
            "CAST(sum(n_xy * CAST(pmi_nats AS DECIMAL(18,6)))"
            " OVER () * 1000000 AS BIGINT)"
        ).cast("long").alias("_num"),
        F.max("n").over(wall).alias("_den"),
    ).select(
        "event_type", "dow", "n_xy", "n_x", "n_y", "pmi_nats",
        F.expr("_num div _den").cast("long")
        .alias("mi_total_micro_nats"),
    )


@register("q_winsorized_stats", """
WITH bounds AS (
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.05), 4) AS p05,
           round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
           count(*)::BIGINT AS n
    FROM lineitem GROUP BY 1
), clamped AS (
    SELECT l.l_returnflag, b.p05, b.p95, b.n,
           least(greatest(l.l_extendedprice::DECIMAL(18,6),
                          b.p05::DECIMAL(18,6)),
                 b.p95::DECIMAL(18,6)) AS v,
           l.l_extendedprice::DECIMAL(18,6) AS raw
    FROM lineitem l JOIN bounds b USING (l_returnflag)
)
SELECT l_returnflag, n, p05, p95,
       (CAST(sum(raw) * 10000 AS BIGINT) // n)::BIGINT
           AS mean_raw_e4,
       (CAST(sum(v) * 10000 AS BIGINT) // n)::BIGINT
           AS mean_winsor_e4
FROM clamped GROUP BY 1, 2, 3, 4
""")
def q_winsorized_stats(spark, sf_dir):
    """Winsorized (5%-95% clamped) vs raw mean of extended price per
    return flag — the robust-statistics primitive that makes heavy-
    tail metrics reportable: one fat-finger row moves the raw mean,
    not the winsorized one, and the delta between the two columns IS
    the tail-influence readout. Parity: the exact interpolated
    percentile bounds are rounded to 4dp FIRST (both engines round
    the same double), clamping then happens in exact DECIMAL domain,
    and means are integer 1e-4 units via decimal sums — the repo's
    accumulation-order-free protocol. Scale shape: two fact passes
    (percentile agg, then clamp+sum agg) with the ≤|flags|-row
    bounds broadcast between them; at 100 TB pass 1 swaps to the
    t-digest sketch the same way q_events_percentiles documents."""
    li = spread_scan(
        load_table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_extendedprice"
        ),
        key="l_extendedprice",
    )
    bounds = li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.05)), 4)
        .alias("p05"),
        F.round(F.percentile("l_extendedprice", F.lit(0.95)), 4)
        .alias("p95"),
        F.count("*").cast("long").alias("n"),
    )
    clamped = li.join(F.broadcast(bounds), "l_returnflag").select(
        "l_returnflag", "n", "p05", "p95",
        F.least(
            F.greatest(
                F.col("l_extendedprice").cast("decimal(18,6)"),
                F.col("p05").cast("decimal(18,6)"),
            ),
            F.col("p95").cast("decimal(18,6)"),
        ).alias("v"),
        F.col("l_extendedprice").cast("decimal(18,6)").alias("raw"),
    )
    return clamped.groupBy("l_returnflag", "n", "p05", "p95").agg(
        F.expr("CAST(sum(raw) * 10000 AS BIGINT) div n").cast("long")
        .alias("mean_raw_e4"),
        F.expr("CAST(sum(v) * 10000 AS BIGINT) div n").cast("long")
        .alias("mean_winsor_e4"),
    )


# ===================================================================
# §2.F continuation (round-7 session 2) — corpus information metrics
# ===================================================================


@register("q_term_entropy_by_source", r"""
WITH toks AS (
    SELECT d.source, unnest(regexp_extract_all(lower(d.text), '\S+'))
               AS tok
    FROM documents d
), tc AS (
    SELECT source, tok, count(*)::BIGINT AS c
    FROM toks GROUP BY 1, 2
), tot AS (
    SELECT source, sum(c)::BIGINT AS n_tokens,
           count(*)::BIGINT AS n_terms
    FROM tc GROUP BY 1
), surp AS (
    SELECT tc.source, tc.c,
           round(-ln(tc.c / t.n_tokens), 6) AS s6,
           t.n_tokens, t.n_terms
    FROM tc JOIN tot t USING (source)
)
SELECT source, max(n_tokens) AS n_tokens, max(n_terms) AS n_terms,
       (CAST(sum(c * s6::DECIMAL(18,6)) * 1000000 AS BIGINT)
            // max(n_tokens))::BIGINT AS entropy_micro_nats
FROM surp GROUP BY source
""")
def q_term_entropy_by_source(spark, sf_dir):
    """Shannon entropy of the token distribution per source — the
    corpus-diversity readout that catches template farms before any
    pair-wise dedup runs: a source whose entropy sits far below its
    peers is emitting near-identical boilerplate (low lexical
    diversity), and mixing-weight decisions (q_mixing_weights) read
    exactly this signal. Parity: the per-term surprisal -ln(c/N) is
    rounded to 6dp, the entropy is the exact decimal sum of
    (integer count x 6dp surprisal) scaled to integer micro-nats —
    order-independent. Scale shape: one explode pass to (source,
    term) counts with map-side partial agg; per-source totals are a
    ≤|sources|-row broadcast; nothing downstream exceeds the vocab
    relation (Zipf-bounded, the repo's standing argument)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(parse.tokens("text")).alias("tok"),
    )
    tc = toks.groupBy("source", "tok").agg(
        F.count("*").cast("long").alias("c"))
    tot = tc.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_terms"),
    )
    surp = tc.join(F.broadcast(tot), "source").select(
        "source", "c", "n_tokens", "n_terms",
        F.round(-F.log(F.col("c") / F.col("n_tokens")), 6).alias("s6"),
    )
    return surp.groupBy("source").agg(
        F.max("n_tokens").alias("n_tokens"),
        F.max("n_terms").alias("n_terms"),
        F.expr(
            "CAST(sum(c * CAST(s6 AS DECIMAL(18,6))) * 1000000"
            " AS BIGINT) div max(n_tokens)"
        ).cast("long").alias("entropy_micro_nats"),
    )


@register("q_oov_rate", r"""
WITH toks AS (
    SELECT d.doc_id, d.lang,
           unnest(regexp_extract_all(lower(d.text), '\S+')) AS tok
    FROM documents d
), vocab AS (
    SELECT tok FROM (
        SELECT tok, count(*) AS tf,
               row_number() OVER (ORDER BY count(*) DESC, tok) AS r
        FROM toks GROUP BY tok
    ) WHERE r <= {v}
), flagged AS (
    SELECT t.doc_id, t.lang,
           CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
    FROM toks t LEFT JOIN vocab v USING (tok)
)
SELECT lang, count(DISTINCT doc_id)::BIGINT AS n_docs,
       count(*)::BIGINT AS n_tokens,
       sum(oov)::BIGINT AS n_oov,
       ((sum(oov) * 1000000) // count(*))::BIGINT AS oov_ppm
FROM flagged GROUP BY lang
""".replace("{v}", str(_OOV_V)))
def q_oov_rate(spark, sf_dir):
    """Out-of-vocabulary rate per language against the corpus top-V
    vocabulary — the tokenizer-coverage audit run before committing a
    vocab size: a language whose OOV ppm spikes under the shared
    vocab is under-served (its text will shatter into bytes/UNKs),
    and this is the per-language readout that decision reads.
    Deterministic vocab: top-{v} by frequency with lexicographic
    tiebreak (TakeOrderedAndProject — no global sort materialized).
    Scale shape: one explode pass to term counts (vocab-sized), the
    {v}-row vocab broadcasts onto the token stream for the OOV flag,
    then one rollup per language. At 100 TB the vocab pass and the
    flag pass stay two linear scans with a broadcast hash join —
    no shuffle of the token stream itself.""".replace(
        "{v}", str(_OOV_V))
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang",
        F.explode(parse.tokens("text")).alias("tok"),
    )
    vocab = (
        toks.groupBy("tok").agg(F.count("*").alias("tf"))
        .orderBy(F.col("tf").desc(), "tok")
        .limit(_OOV_V)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    flagged = toks.join(F.broadcast(vocab), "tok", "left").select(
        "doc_id", "lang",
        F.when(F.col("in_vocab").isNull(), 1).otherwise(0).alias("oov"),
    )
    return flagged.groupBy("lang").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_tokens"),
        F.sum("oov").cast("long").alias("n_oov"),
        F.expr("CAST((sum(oov) * 1000000) div count(*) AS BIGINT)")
        .alias("oov_ppm"),
    )


@register("q_burstiness", r"""
WITH toks AS (
    SELECT doc_id,
           unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
    FROM documents
), n AS (
    SELECT count(*)::BIGINT AS n_docs FROM documents
), percell AS (
    SELECT tok, doc_id, count(*)::BIGINT AS c
    FROM toks GROUP BY 1, 2
), stats AS (
    SELECT tok, sum(c)::BIGINT AS tf, count(*)::BIGINT AS df,
           sum(c * c)::BIGINT AS sum_c2
    FROM percell GROUP BY tok
), scored AS (
    SELECT s.tok, s.tf, s.df, s.sum_c2,
           ((1000 * (n.n_docs * s.sum_c2 - s.tf * s.tf))
                // (n.n_docs * s.tf))::BIGINT AS vmr_milli
    FROM stats s, n WHERE s.df >= 3
)
SELECT tok, tf, df, sum_c2, vmr_milli,
       CAST(rank AS BIGINT) AS rank
FROM (
    SELECT *, row_number() OVER (ORDER BY vmr_milli DESC, tok) AS rank
    FROM scored
) WHERE rank <= {k}
""".replace("{k}", str(_BURST_TOPK)))
def q_burstiness(spark, sf_dir):
    """Term burstiness (variance-to-mean ratio of per-document counts,
    zeros included) — the corpus statistic that separates TOPICAL
    terms (bursty: absent from most docs, dense where they appear)
    from FUNCTION words (Poisson-like, VMR~1); content-term
    extraction, keyword weighting and the tfidf sanity-check all
    read it. ALL-INTEGER identity: with mu = tf/N, VMR = var/mu =
    (N*SIGMA c^2 - tf^2)/(N*tf) — reported in exact integer milli
    (zeros of absent docs enter through the identity without being
    materialized). Scale shape: explode -> (term, doc) cell counts
    (map-side partial agg) -> vocab-sized stats relation; the 1-row
    corpus count broadcasts; top-k via row_number on the vocab-sized
    scored relation."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(parse.words("text")).alias("tok"),
    )
    n = docs.agg(F.count("*").cast("long").alias("n_docs"))
    percell = toks.groupBy("tok", "doc_id").agg(
        F.count("*").cast("long").alias("c"))
    stats = percell.groupBy("tok").agg(
        F.sum("c").cast("long").alias("tf"),
        F.count("*").cast("long").alias("df"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sum_c2"),
    )
    scored = (
        stats.where(F.col("df") >= 3)
        .crossJoin(F.broadcast(n))
        .select(
            "tok", "tf", "df", "sum_c2",
            F.expr(
                "CAST((1000 * (n_docs * sum_c2 - tf * tf))"
                " div (n_docs * tf) AS BIGINT)"
            ).alias("vmr_milli"),
        )
    )
    ranked = scored.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("vmr_milli").desc(), "tok")),
    )
    return ranked.where(F.col("rank") <= _BURST_TOPK).select(
        "tok", "tf", "df", "sum_c2", "vmr_milli",
        F.col("rank").cast("long").alias("rank"),
    )


@register("q_flesch_readability", r"""
WITH sents AS (
    SELECT doc_id,
           greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
               AS n_sentences
    FROM documents
), words AS (
    SELECT doc_id,
           unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
    FROM documents
), syl AS (
    SELECT doc_id, count(*)::BIGINT AS n_words,
           sum(greatest(len(regexp_extract_all(w, '[aeiouy]+')),
                        1))::BIGINT AS n_syllables
    FROM words GROUP BY doc_id
), scored AS (
    SELECT s.doc_id, s.n_sentences::BIGINT AS n_sentences,
           y.n_words, y.n_syllables,
           (206835 - (1015 * y.n_words) // s.n_sentences
                   - (84600 * y.n_syllables) // y.n_words)::BIGINT
               AS flesch_milli
    FROM sents s JOIN syl y USING (doc_id)
)
SELECT doc_id, n_sentences, n_words, n_syllables, flesch_milli,
       CASE WHEN flesch_milli >= 70000 THEN 'easy'
            WHEN flesch_milli >= 50000 THEN 'standard'
            WHEN flesch_milli >= 30000 THEN 'difficult'
            ELSE 'very_difficult' END AS band
FROM scored
""")
def q_flesch_readability(spark, sf_dir):
    """Flesch reading-ease per document with a vowel-group syllable
    heuristic — the classical readability gate in web-corpus
    curation stacks (a quality signal orthogonal to q_gopher_filters'
    structural ratios: boilerplate can pass length checks yet score
    as unreadable). ALL-INTEGER parity: sentence / word / vowel-group
    counts are integers and the score is computed in floor-divided
    milli-points (206.835 - 1.015 W/S - 84.6 Syl/W, x1000) — no
    double touches the hash; both guards (>=1 sentence, words>0 via
    the syl join dropping wordless docs... kept: docs with zero
    alpha words drop out of the join, deliberately) are identical in
    both engines. Scale shape: one doc-level regexp pass for
    sentences, one explode pass for words/syllables folded map-side
    per doc; the join is doc-keyed (co-partitioned by the same
    groupBy key), output is one row per doc."""
    docs = load_table(spark, sf_dir, "documents")
    sents = docs.select(
        "doc_id",
        F.greatest(
            F.size(F.regexp_extract_all(
                F.col("text"), F.lit(r"[.!?]+"), 0)),
            F.lit(1),
        ).cast("long").alias("n_sentences"),
    )
    words = docs.select(
        "doc_id",
        F.explode(parse.words("text")).alias("w"),
    )
    syl = words.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_words"),
        F.sum(
            F.greatest(
                F.size(F.regexp_extract_all(
                    F.col("w"), F.lit(r"[aeiouy]+"), 0)),
                F.lit(1),
            )
        ).cast("long").alias("n_syllables"),
    )
    scored = sents.join(syl, "doc_id").select(
        "doc_id", "n_sentences", "n_words", "n_syllables",
        F.expr(
            "CAST(206835 - (1015 * n_words) div n_sentences"
            " - (84600 * n_syllables) div n_words AS BIGINT)"
        ).alias("flesch_milli"),
    )
    return scored.withColumn(
        "band",
        F.when(F.col("flesch_milli") >= 70000, "easy")
        .when(F.col("flesch_milli") >= 50000, "standard")
        .when(F.col("flesch_milli") >= 30000, "difficult")
        .otherwise("very_difficult"),
    )


# ===================================================================
# §2.C/F continuation (round-7 session 2, batch C) — distribution
# divergence / seasonality strength / bounce / elasticity
# ===================================================================


@register("q_js_source_divergence", r"""
WITH toks AS (
    SELECT source, unnest(regexp_extract_all(lower(text), '\S+')) AS tok
    FROM documents
), tc AS (
    SELECT source, tok, count(*)::BIGINT AS c FROM toks GROUP BY 1, 2
), tot AS (
    SELECT source, sum(c)::BIGINT AS n FROM tc GROUP BY 1
), shared AS (
    SELECT a.source AS source_a, b.source AS source_b,
           a.c AS ca, b.c AS cb, ta.n AS na, tb.n AS nb
    FROM tc a JOIN tc b ON a.tok = b.tok AND a.source < b.source
    JOIN tot ta ON ta.source = a.source
    JOIN tot tb ON tb.source = b.source
), scored AS (
    SELECT source_a, source_b, na, nb, ca, cb,
           round(0.5 * (
               (ca::DOUBLE / na)
                   * ln((2.0 * (ca::DOUBLE / na))
                        / (ca::DOUBLE / na + cb::DOUBLE / nb))
             + (cb::DOUBLE / nb)
                   * ln((2.0 * (cb::DOUBLE / nb))
                        / (ca::DOUBLE / na + cb::DOUBLE / nb))
           ), 6) AS c6
    FROM shared
), agg AS (
    SELECT source_a, source_b, max(na) AS n_a, max(nb) AS n_b,
           sum(ca)::BIGINT AS shared_a, sum(cb)::BIGINT AS shared_b,
           sum(c6::DECIMAL(18,6)) AS shared_contrib
    FROM scored GROUP BY 1, 2
)
SELECT source_a, source_b, n_a, n_b, shared_a, shared_b,
       CAST((shared_contrib + CAST(round(
                0.5 * ln(2.0) * ((n_a - shared_a)::DOUBLE / n_a
                                 + (n_b - shared_b)::DOUBLE / n_b),
                6) AS DECIMAL(18,6))) * 1000000 AS BIGINT)
           AS jsd_micro_nats
FROM agg
""")
def q_js_source_divergence(spark, sf_dir):
    """Jensen-Shannon divergence between every source pair's token
    distribution — the symmetric, bounded (≤ ln 2) corpus-drift
    metric that answers 'are these two feeds the same kind of
    text?' before mixing them (KL explodes on disjoint support; JSD
    doesn't, which is exactly the web-corpus case). Decomposition
    for exactness: shared-term contributions are 6dp-rounded per
    term and decimal-summed; the EXCLUSIVE-term mass contributes a
    closed-form 0.5·ln2·((1-Sa)+(1-Sb)) term computed from exact
    integer shared-mass sums — so absent terms are never
    materialized as zero rows. Scale shape: one explode pass to
    per-source term counts (vocab x |sources|); the pair self-join
    on term is vocab-bounded x C(|sources|,2); totals broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(parse.tokens("text")).alias("tok"),
    )
    tc = toks.groupBy("source", "tok").agg(
        F.count("*").cast("long").alias("c"))
    tot = tc.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    a = tc.select(F.col("source").alias("source_a"), "tok",
                  F.col("c").alias("ca"))
    b = tc.select(F.col("source").alias("source_b"), "tok",
                  F.col("c").alias("cb"))
    ta_ = tot.select(F.col("source").alias("source_a"),
                     F.col("n").alias("na"))
    tb_ = tot.select(F.col("source").alias("source_b"),
                     F.col("n").alias("nb"))
    shared = (
        a.join(b, "tok")
        .where(F.col("source_a") < F.col("source_b"))
        .join(F.broadcast(ta_), "source_a")
        .join(F.broadcast(tb_), "source_b")
    )
    scored = shared.select(
        "source_a", "source_b", "na", "nb", "ca", "cb",
        F.round(
            0.5 * (
                (F.col("ca").cast("double") / F.col("na"))
                * F.log(
                    (2.0 * (F.col("ca").cast("double") / F.col("na")))
                    / (F.col("ca").cast("double") / F.col("na")
                       + F.col("cb").cast("double") / F.col("nb"))
                )
                + (F.col("cb").cast("double") / F.col("nb"))
                * F.log(
                    (2.0 * (F.col("cb").cast("double") / F.col("nb")))
                    / (F.col("ca").cast("double") / F.col("na")
                       + F.col("cb").cast("double") / F.col("nb"))
                )
            ),
            6,
        ).alias("c6"),
    )
    agg = scored.groupBy("source_a", "source_b").agg(
        F.max("na").alias("n_a"), F.max("nb").alias("n_b"),
        F.sum("ca").cast("long").alias("shared_a"),
        F.sum("cb").cast("long").alias("shared_b"),
        F.sum(F.col("c6").cast("decimal(18,6)")).alias("shared_contrib"),
    )
    return agg.select(
        "source_a", "source_b", "n_a", "n_b", "shared_a", "shared_b",
        F.expr(
            "CAST((shared_contrib + CAST(round("
            " 0.5 * ln(2.0) * ((CAST(n_a - shared_a AS DOUBLE) / n_a)"
            " + (CAST(n_b - shared_b AS DOUBLE) / n_b)),"
            " 6) AS DECIMAL(18,6))) * 1000000 AS BIGINT)"
        ).alias("jsd_micro_nats"),
    )


@register("q_seasonality_strength", f"""
WITH daily AS (
    SELECT event_type, epoch_us(ts) // {_DAY_US} AS day,
           count(*)::BIGINT AS x
    FROM events GROUP BY 1, 2
), grp AS (
    SELECT event_type, day % 7 AS dow,
           sum(x)::BIGINT AS s_g, count(*)::BIGINT AS c_g,
           sum(x * x)::BIGINT AS ss_g
    FROM daily GROUP BY 1, 2
), tot AS (
    SELECT event_type, sum(s_g)::BIGINT AS t,
           sum(c_g)::BIGINT AS n_days, sum(ss_g)::BIGINT AS ssq
    FROM grp GROUP BY 1
), parts AS (
    SELECT g.event_type,
           sum((g.s_g * g.s_g * 1000000) // g.c_g)::BIGINT AS term_e6
    FROM grp g GROUP BY 1
)
SELECT t.event_type, t.n_days,
       (p.term_e6 - (t.t * t.t * 1000000) // t.n_days)::BIGINT
           AS ss_between_e6,
       (t.ssq * 1000000 - (t.t * t.t * 1000000) // t.n_days)::BIGINT
           AS ss_total_e6,
       ((p.term_e6 - (t.t * t.t * 1000000) // t.n_days) * 1000000
            // (t.ssq * 1000000 - (t.t * t.t * 1000000) // t.n_days)
       )::BIGINT AS eta2_ppm
FROM tot t JOIN parts p USING (event_type)
""")
def q_seasonality_strength(spark, sf_dir):
    """Weekday-seasonality STRENGTH per event type — one-way ANOVA
    eta-squared (SS_between/SS_total over day-of-week groups) on the
    daily count series, in integer ppm: 'how much of this metric's
    daily variance is just the weekly rhythm?' is the question every
    anomaly threshold and forecast-model choice starts with, and
    eta^2~0 vs ~1 decides whether q_seasonal_anomaly's dow-profile
    adjustment is even needed. ALL-INTEGER parity: group terms
    S_g^2/c_g are floor-divided at 1e6 scale (deterministic both
    engines), SST uses the same scaled identity N*SSQ-like form —
    no double anywhere. Scale shape: one fact pass to daily counts,
    then everything runs on the ≤ 7·|types|-row group relation; dow
    is integer epoch-day arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.expr(f"(ts div 1000) div {_DAY_US}").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count("*").cast("long").alias("x"))
    )
    grp = (
        daily.withColumn("dow", F.expr("day % 7"))
        .groupBy("event_type", "dow")
        .agg(
            F.sum("x").cast("long").alias("s_g"),
            F.count("*").cast("long").alias("c_g"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("ss_g"),
        )
    )
    tot = grp.groupBy("event_type").agg(
        F.sum("s_g").cast("long").alias("t"),
        F.sum("c_g").cast("long").alias("n_days"),
        F.sum("ss_g").cast("long").alias("ssq"),
    )
    parts = grp.groupBy("event_type").agg(
        F.sum(F.expr("(s_g * s_g * 1000000) div c_g"))
        .cast("long").alias("term_e6")
    )
    return tot.join(parts, "event_type").select(
        "event_type", "n_days",
        F.expr("term_e6 - (t * t * 1000000) div n_days")
        .cast("long").alias("ss_between_e6"),
        F.expr("ssq * 1000000 - (t * t * 1000000) div n_days")
        .cast("long").alias("ss_total_e6"),
        F.expr(
            "(term_e6 - (t * t * 1000000) div n_days) * 1000000"
            " div (ssq * 1000000 - (t * t * 1000000) div n_days)"
        ).cast("long").alias("eta2_ppm"),
    )


@register("q_sessionized_bounce", f"""
WITH ordered AS (
    SELECT user_id, event_id, epoch_us(ts) AS ts_us,
           lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                   ORDER BY epoch_us(ts), event_id)
               AS prev_us
    FROM events
), flagged AS (
    SELECT *, CASE WHEN prev_us IS NULL
                     OR ts_us - prev_us > {_SESSION_GAP_US}
                   THEN 1 ELSE 0 END AS is_new
    FROM ordered
), sessions AS (
    SELECT *, sum(is_new) OVER (PARTITION BY user_id
                                ORDER BY ts_us, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS session_id
    FROM flagged
), per_sess AS (
    SELECT user_id, session_id, count(*)::BIGINT AS n_events,
           (min(ts_us) // {_DAY_US}) % 7 AS dow
    FROM sessions GROUP BY 1, 2
)
SELECT dow::BIGINT AS dow, count(*)::BIGINT AS n_sessions,
       sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)::BIGINT
           AS n_bounces,
       ((sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000000)
            // count(*))::BIGINT AS bounce_ppm,
       ((sum(n_events) * 1000) // count(*))::BIGINT
           AS mean_events_milli
FROM per_sess GROUP BY 1
""")
def q_sessionized_bounce(spark, sf_dir):
    """Bounce rate by day-of-week over gap-sessionized activity — the
    engagement-quality readout (a 'bounce' is a single-event
    session) that raw event counts hide: identical traffic volume
    with doubling bounce rate is a product regression, and weekday
    stratification separates weekend browsing from weekday intent.
    Reuses the repo's canonical 30-min-gap sessionization (the same
    windows as q_events_sessionize — per-user partitions, no global
    window on the fact), then rolls sessions up to the 7-row dow
    relation with integer ppm/milli metrics. Scale shape: the
    per-user lag+cumsum windows shuffle once on user_id; session
    rollup rides the same partitioning (partial agg); final 7-row
    rollup is trivial."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts div 1000"))
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
            w_order.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_sess = sessions.groupBy("user_id", "session_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.expr(f"(min(ts_us) div {_DAY_US}) % 7").alias("dow"),
    )
    return per_sess.groupBy(F.col("dow").cast("long").alias("dow")).agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("long").alias("n_bounces"),
        F.expr(
            "CAST((sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)"
            " * 1000000) div count(*) AS BIGINT)"
        ).alias("bounce_ppm"),
        F.expr("CAST((sum(n_events) * 1000) div count(*) AS BIGINT)")
        .alias("mean_events_milli"),
    )


@register("q_discount_elasticity", """
WITH pts AS (
    SELECT p.p_brand,
           CAST(round(l.l_discount * 10000) AS BIGINT) AS x_bp,
           CAST(l.l_quantity AS BIGINT) AS y
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
), sums AS (
    SELECT p_brand, count(*)::BIGINT AS n,
           sum(x_bp)::BIGINT AS sx, sum(y)::BIGINT AS sy,
           sum(x_bp * y)::BIGINT AS sxy,
           sum(x_bp * x_bp)::BIGINT AS sxx
    FROM pts GROUP BY 1
)
SELECT p_brand, n, sx, sy,
       ((n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx))::BIGINT
           AS slope_micro_qty_per_bp
FROM sums WHERE n * sxx - sx * sx > 0
""")
def q_discount_elasticity(spark, sf_dir):
    """Per-brand discount elasticity of demand: the OLS slope of
    ordered quantity on discount basis points — the pricing-team
    readout ('does a deeper discount actually move volume for THIS
    brand?') that q_trend_slope's global time-trend can't answer.
    ALL-INTEGER closed form: discounts become exact integer basis
    points (round of a 2dp-scaled double — same double, same round
    both engines), quantities are integral, and the slope is the
    scaled integer identity (n·Σxy − ΣxΣy)·1e6 / (n·Σxx − Σx²) with
    zero-variance brands filtered by the same integer predicate.
    Scale shape: one fact⋈dim join (part is SF-scaling — no
    broadcast hint, AQE decides, the repo rule), map-side partial
    sums, output ≤ |brands| rows."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.expr("CAST(round(l_discount * 10000) AS BIGINT)")
        .alias("x_bp"),
        F.col("l_quantity").cast("long").alias("y"),
    )
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    sums = (
        li.join(part, "l_partkey")
        .groupBy("p_brand")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("x_bp").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x_bp") * F.col("y")).cast("long").alias("sxy"),
            F.sum(F.col("x_bp") * F.col("x_bp")).cast("long")
            .alias("sxx"),
        )
    )
    return sums.where(
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0
    ).select(
        "p_brand", "n", "sx", "sy",
        F.expr(
            "(n * sxy - sx * sy) * 1000000 div (n * sxx - sx * sx)"
        ).cast("long").alias("slope_micro_qty_per_bp"),
    )


# ===================================================================
# §2.D/F continuation (round-7 session 2, batch D) — graph degree /
# diversity / vocabulary growth / novelty
# ===================================================================


@register("q_degree_distribution", _CC_CTES + """
, deg AS (
    SELECT a AS doc_id, count(*)::BIGINT AS degree
    FROM edges GROUP BY a
), n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
nz AS (SELECT count(*)::BIGINT AS n_with_edges FROM deg),
hist AS (
    SELECT degree, count(*)::BIGINT AS n_docs_at_degree FROM deg
    GROUP BY 1
    UNION ALL
    SELECT 0, n.n_docs - nz.n_with_edges FROM n, nz
)
SELECT degree, n_docs_at_degree,
       (SELECT (sum(degree * n_docs_at_degree) / 2)::BIGINT
        FROM hist) AS n_edges_total
FROM hist
""")
def q_degree_distribution(spark, sf_dir):
    """Degree distribution of the near-dup graph (including the
    degree-0 mass) — the graph-shape readout that VALIDATES the
    dedup pipeline's scaling assumptions: the LSH bucket caps and
    the components contraction both rely on near-dup degrees being
    small and flat, and a heavy-tailed degree histogram (one doc
    matching thousands) is the template-spam signature that shows up
    HERE before it blows up a pair join. Consumes the memoized
    verified-pair relation (the corpus snapshot artifact — same as
    components/cluster-sizes, computed once per session); the degree
    rollup, the 1-row totals, and the histogram are all
    ≤|clustered-docs|-sized. Degree-0 docs enter by arithmetic
    (n_docs − n_with_edges), never materialized."""
    pairs = _jaccard_pairs(spark, sf_dir)
    edges = pairs.select(
        F.col("doc_a").alias("doc_id")
    ).unionAll(pairs.select(F.col("doc_b").alias("doc_id")))
    deg = edges.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("degree"))
    n = load_table(spark, sf_dir, "documents").agg(
        F.count("*").cast("long").alias("n_docs"))
    nz = deg.agg(F.count("*").cast("long").alias("n_with_edges"))
    hist = deg.groupBy("degree").agg(
        F.count("*").cast("long").alias("n_docs_at_degree")
    ).unionAll(
        F.broadcast(n).crossJoin(F.broadcast(nz)).select(
            F.lit(0).cast("long").alias("degree"),
            (F.col("n_docs") - F.col("n_with_edges")).cast("long")
            .alias("n_docs_at_degree"),
        )
    )
    tot = hist.agg(
        F.expr("CAST(sum(degree * n_docs_at_degree) / 2 AS BIGINT)")
        .alias("n_edges_total"))
    return hist.crossJoin(F.broadcast(tot))


@register("q_simpson_diversity", r"""
WITH toks AS (
    SELECT source, unnest(regexp_extract_all(lower(text), '\S+')) AS tok
    FROM documents
), tc AS (
    SELECT source, tok, count(*)::BIGINT AS c FROM toks GROUP BY 1, 2
), agg AS (
    SELECT source, sum(c)::BIGINT AS n_tokens,
           count(*)::BIGINT AS n_terms,
           sum(c * (c - 1))::BIGINT AS coll
    FROM tc GROUP BY 1
)
SELECT source, n_tokens, n_terms,
       ((coll * 1000000) // (n_tokens * (n_tokens - 1)))::BIGINT
           AS simpson_ppm,
       (1000000 - (coll * 1000000) // (n_tokens * (n_tokens - 1)))::BIGINT
           AS diversity_ppm
FROM agg
""")
def q_simpson_diversity(spark, sf_dir):
    """Simpson's concentration index per source — the probability two
    random tokens from a source are the SAME type, with its
    complement (Gini-Simpson diversity). The all-integer companion
    to q_term_entropy_by_source: entropy weights rare types
    logarithmically, Simpson squares the heavy hitters, so a source
    that looks fine on entropy but spikes Simpson's lambda is
    dominated by a handful of boilerplate tokens — the exact failure
    the mixing-weight pass needs to see. Parity: lambda =
    Σc(c−1)/(N(N−1)) is integer-exact in ppm (no double anywhere).
    Scale shape: identical to the entropy query — one explode pass,
    vocab-bounded per-source counts, |sources|-row output."""
    docs = load_table(spark, sf_dir, "documents")
    tc = (
        docs.select(
            "source",
            F.explode(parse.tokens("text")).alias("tok"),
        )
        .groupBy("source", "tok")
        .agg(F.count("*").cast("long").alias("c"))
    )
    agg = tc.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_terms"),
        F.sum(F.col("c") * (F.col("c") - 1)).cast("long").alias("coll"),
    )
    return agg.select(
        "source", "n_tokens", "n_terms",
        F.expr(
            "CAST((coll * 1000000) div (n_tokens * (n_tokens - 1))"
            " AS BIGINT)"
        ).alias("simpson_ppm"),
        F.expr(
            "CAST(1000000 - (coll * 1000000)"
            " div (n_tokens * (n_tokens - 1)) AS BIGINT)"
        ).alias("diversity_ppm"),
    )


@register("q_heaps_law", r"""
WITH toks AS (
    SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS tok
    FROM documents
), firsts AS (
    SELECT tok, min(doc_id) AS first_doc FROM toks GROUP BY tok
), n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
marks AS (
    SELECT unnest(generate_series(1, {k})) AS i
), cuts AS (
    SELECT m.i, (n.n_docs * m.i) // {k} AS cut_doc
    FROM marks m, n
), vocab_at AS (
    SELECT c.i, c.cut_doc,
           (SELECT count(*) FROM firsts f
            WHERE f.first_doc < c.cut_doc)::BIGINT AS vocab_size,
           (SELECT count(*) FROM toks t
            WHERE t.doc_id < c.cut_doc)::BIGINT AS corpus_tokens
    FROM cuts c
)
SELECT i::BIGINT AS checkpoint, cut_doc::BIGINT AS cut_doc,
       corpus_tokens, vocab_size
FROM vocab_at
""".replace("{k}", str(_HEAPS_CHECKPOINTS)))
def q_heaps_law(spark, sf_dir):
    """Heaps'-law vocabulary-growth curve: distinct-type count vs
    corpus-token count at {k} doc-ordered checkpoints — the readout
    that sizes a tokenizer vocab and detects corpus exhaustion (a
    flattening curve means new data stops bringing new language;
    still-linear growth means the vocab budget is under-provisioned).
    Distributed trick: NO prefix re-scan per checkpoint — each
    term's FIRST document (min doc_id, one vocab-sized agg) places
    it on the curve, and each checkpoint's vocab is 'terms whose
    first_doc precedes the cut', a broadcast theta-join of {k} cut
    rows onto the vocab-sized firsts relation (same for token
    counts, doc-sized). Everything after the explode is one pass +
    two small joins; no window, no iteration.""".replace(
        "{k}", str(_HEAPS_CHECKPOINTS))
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(parse.tokens("text")).alias("tok"),
    )
    firsts = toks.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    n = docs.agg(F.count("*").cast("long").alias("n_docs"))
    cuts = (
        spark.range(1, _HEAPS_CHECKPOINTS + 1)
        .withColumnRenamed("id", "i")
        .crossJoin(F.broadcast(n))
        .select(
            "i",
            F.expr(f"(n_docs * i) div {_HEAPS_CHECKPOINTS}")
            .alias("cut_doc"),
        )
    )
    vocab_at = (
        firsts.crossJoin(F.broadcast(cuts))
        .where(F.col("first_doc") < F.col("cut_doc"))
        .groupBy("i", "cut_doc")
        .agg(F.count("*").cast("long").alias("vocab_size"))
    )
    toks_at = (
        toks.select("doc_id").crossJoin(F.broadcast(cuts))
        .where(F.col("doc_id") < F.col("cut_doc"))
        .groupBy("i", "cut_doc")
        .agg(F.count("*").cast("long").alias("corpus_tokens"))
    )
    return (
        vocab_at.join(toks_at, ["i", "cut_doc"])
        .select(
            F.col("i").cast("long").alias("checkpoint"),
            F.col("cut_doc").cast("long"),
            "corpus_tokens", "vocab_size",
        )
    )


@register("q_shingle_novelty", r"""
WITH toks AS (
    SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS ws
    FROM documents
), sh AS (
    SELECT doc_id,
           md5(list_aggregate(ws[i:i+{n}-1], 'string_agg', ' ')) AS h
    FROM toks, unnest(generate_series(1, greatest(len(ws) - {n} + 1, 1)))
         AS t(i)
    WHERE len(ws) >= 1
), df AS (
    SELECT h, count(DISTINCT doc_id)::BIGINT AS df FROM sh GROUP BY h
), per_doc AS (
    SELECT s.doc_id, count(*)::BIGINT AS n_shingles,
           sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END)::BIGINT AS n_unique
    FROM sh s JOIN df d USING (h) GROUP BY s.doc_id
)
SELECT doc_id, n_shingles, n_unique,
       ((n_unique * 1000000) // n_shingles)::BIGINT AS novelty_ppm
FROM per_doc
""".replace("{n}", str(_NOVEL_N)))
def q_shingle_novelty(spark, sf_dir):
    """Per-document novelty: the fraction of a doc's word {n}-gram
    shingles that appear NOWHERE else in the corpus — the
    document-granular complement to pairwise dedup (a doc can evade
    every pairwise threshold yet be 95% recombined boilerplate; its
    novelty ppm says so directly), and the metric data-mixing
    recipes weight 'fresh' content by. Shingle identity is the md5
    of the space-joined window (the repo's shingle convention), df
    comes from one vocab-style rollup, and each doc's unique-share
    joins back shingle-keyed — explode, two aggs, one join, integer
    ppm. Docs shorter than {n} words contribute their whole text as
    one truncated shingle (both engines, same rule).""".replace(
        "{n}", str(_NOVEL_N))
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        parse.tokens("text").alias("ws"),
    ).where(F.size("ws") >= 1)
    sh = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, greatest(size(ws) - {_NOVEL_N}"
                f" + 1, 1)), i -> md5(array_join(slice(ws, i,"
                f" {_NOVEL_N}), ' ')))"
            )
        ).alias("h"),
    )
    # r14 (guide §2.3/§2.4): ONE shingle-keyed exchange instead of two
    # tokenize passes + two shuffles. Repartition the exploded stream
    # by h once; hash(h) satisfies the clustering requirement of the
    # (h, doc_id) rollup, the df rollup AND the h-equi-join, so
    # everything downstream is exchange-free until the small per-doc
    # rollup. Identities: df(h) = #dhd rows per h (distinct docs);
    # per-doc occurrence counts are sum(k). Null guard vacuously true
    # (md5 output / corpus key) — pins one filter set on both consumer
    # branches so their shared exchange canonicalizes equal.
    shp = sh.where(
        F.col("h").isNotNull() & F.col("doc_id").isNotNull()
    ).repartition(F.col("h"))
    dhd = shp.groupBy("h", "doc_id").agg(
        F.count("*").cast("long").alias("k"))
    df = dhd.groupBy("h").agg(F.count("*").cast("long").alias("df"))
    per_doc = dhd.join(df, "h").groupBy("doc_id").agg(
        F.sum("k").cast("long").alias("n_shingles"),
        F.sum(F.when(F.col("df") == 1, F.col("k")).otherwise(0))
        .cast("long").alias("n_unique"),
    )
    return per_doc.select(
        "doc_id", "n_shingles", "n_unique",
        F.expr("CAST((n_unique * 1000000) div n_shingles AS BIGINT)")
        .alias("novelty_ppm"),
    )


@register("q_reciprocal_rank_fusion", rf"""
WITH toks AS (
    SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS term
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
), bm AS (
    SELECT q.doc_id,
           sum(round(i.idf * (q.tf::DOUBLE * {BM25_K1 + 1.0})
                 / (q.tf::DOUBLE + {BM25_K1}
                    * ({1.0 - BM25_B} + {BM25_B} * l.dl::DOUBLE
                       / (t.total_dl::DOUBLE / t.n_docs))), 6)
               ::DECIMAL(18,6))::DOUBLE AS bm25
    FROM qtf q JOIN idf i USING (term) JOIN dl l USING (doc_id), totals t
    GROUP BY q.doc_id
), list_a AS (
    SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id)
               AS rank_bm25
    FROM bm ORDER BY bm25 DESC, doc_id LIMIT {_RRF_LIST}
), vocab AS (
    SELECT term, count(*) AS cnt FROM toks GROUP BY term
), tot AS (SELECT count(*) AS n_total FROM toks),
surp AS (
    SELECT term, round(-log2(cnt / n_total), 6) AS s FROM vocab, tot
), lm AS (
    SELECT t.doc_id,
           (sum(s.s::DECIMAL(18,6)) * 1000000)::BIGINT
               // count(*) // 1000 AS bits_milli
    FROM toks t JOIN surp s USING (term) GROUP BY t.doc_id
), list_b AS (
    SELECT doc_id, row_number() OVER (ORDER BY bits_milli, doc_id)
               AS rank_lm
    FROM lm ORDER BY bits_milli, doc_id LIMIT {_RRF_LIST}
), fused AS (
    SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
           a.rank_bm25::BIGINT AS rank_bm25, b.rank_lm::BIGINT AS rank_lm,
           (coalesce(1000000 // ({_RRF_K} + a.rank_bm25), 0)
            + coalesce(1000000 // ({_RRF_K} + b.rank_lm), 0))::BIGINT
               AS rrf_e6
    FROM list_a a FULL OUTER JOIN list_b b USING (doc_id)
)
SELECT doc_id, rank_bm25, rank_lm, rrf_e6,
       CAST(rank_fused AS BIGINT) AS rank_fused
FROM (
    SELECT *, row_number() OVER (ORDER BY rrf_e6 DESC, doc_id)
                  AS rank_fused
    FROM fused
) WHERE rank_fused <= {_RRF_TOPK}
""")
def q_reciprocal_rank_fusion(spark, sf_dir):
    """Reciprocal-rank fusion of two retrieval rankings — BM25
    relevance (lexical) and unigram-LM fluency (quality) — the
    standard hybrid-search combiner (Cormack et al.: SIGMA
    1/(k+rank), k=60) that powers 'lexical + semantic' retrieval
    stacks; here the second list is the LM-surprisal ranking so the
    fusion is reproducible without a query embedding. Faithful to
    the operator's real definition: RRF is defined over TOP-K LISTS,
    so each ranking is cut to its top-{_RRF_LIST} by
    TakeOrderedAndProject (the scale-safe top-k — no global sort,
    no doc-sized window), ranks exist only within the two k-row
    lists, and docs missing from a list contribute zero by
    coalesce, exactly as production RRF treats them. All-integer
    fusion scores (1e6 floor-div), full outer join of two k-row
    relations, final top-{_RRF_TOPK} on the fused k-row relation."""
    bm = corpus.bm25_scores(
        load_table(spark, sf_dir, "documents"),
        BM25_TERMS, k1=BM25_K1, b=BM25_B,
    ).select("doc_id", "bm25")
    la = (
        bm.orderBy(F.col("bm25").desc(), "doc_id").limit(_RRF_LIST)
        .withColumn(
            "rank_bm25",
            F.row_number().over(
                Window.orderBy(F.col("bm25").desc(), "doc_id"))
            .cast("long"),
        )
        .select("doc_id", "rank_bm25")
    )
    lm = QUERIES["q_unigram_logprob"](spark, sf_dir).select(
        "doc_id", "bits_milli_per_token")
    lb = (
        lm.orderBy("bits_milli_per_token", "doc_id").limit(_RRF_LIST)
        .withColumn(
            "rank_lm",
            F.row_number().over(
                Window.orderBy("bits_milli_per_token", "doc_id"))
            .cast("long"),
        )
        .select("doc_id", "rank_lm")
    )
    fused = (
        la.join(lb, "doc_id", "full_outer")
        .select(
            "doc_id", "rank_bm25", "rank_lm",
            (
                F.coalesce(
                    F.expr(f"1000000 div ({_RRF_K} + rank_bm25)"),
                    F.lit(0),
                )
                + F.coalesce(
                    F.expr(f"1000000 div ({_RRF_K} + rank_lm)"),
                    F.lit(0),
                )
            ).cast("long").alias("rrf_e6"),
        )
    )
    ranked = fused.withColumn(
        "rank_fused",
        F.row_number().over(
            Window.orderBy(F.col("rrf_e6").desc(), "doc_id")),
    )
    return ranked.where(F.col("rank_fused") <= _RRF_TOPK).select(
        "doc_id", "rank_bm25", "rank_lm", "rrf_e6",
        F.col("rank_fused").cast("long"),
    )


@register("q_theil_sen_slope", f"""
WITH daily AS (
    SELECT event_type, epoch_us(ts) // {_DAY_US} AS day,
           count(*)::BIGINT AS n
    FROM events GROUP BY 1, 2
), pairs AS (
    SELECT a.event_type,
           (b.n - a.n)::DOUBLE / (b.day - a.day) AS slope
    FROM daily a JOIN daily b
      ON a.event_type = b.event_type AND a.day < b.day
)
SELECT event_type,
       (SELECT count(*) FROM daily d
        WHERE d.event_type = p.event_type)::BIGINT AS n_days,
       count(*)::BIGINT AS n_pairs,
       round(quantile_cont(slope, 0.5), 6) AS theil_sen_slope
FROM pairs p GROUP BY event_type
""")
def q_theil_sen_slope(spark, sf_dir):
    """Theil-Sen robust trend (median of all pairwise slopes) of the
    daily count series per event type — the estimator that survives
    ~29% outlier contamination where q_trend_slope's OLS line chases
    a single spike day; the pair is the standard robust/classical
    trend cross-check. Each pairwise slope is an exact ratio of
    integers (one double division — engine-identical), the median
    follows the repo's exact interpolated-percentile protocol
    (rounded 6dp). Scale shape: the fact collapses to the calendar-
    bounded daily relation FIRST; the pairwise self-join is
    C(|days|,2) per type — quadratic only in the calendar, never in
    rows (documented; at years-of-days scale the published
    O(n log n) median-of-slopes refinement slots in here)."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.expr(f"(ts div 1000) div {_DAY_US}").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count("*").cast("long").alias("n"))
    )
    a = daily.select("event_type", F.col("day").alias("da"),
                     F.col("n").alias("na"))
    b = daily.select("event_type", F.col("day").alias("db"),
                     F.col("n").alias("nb"))
    pairs = (
        a.join(b, "event_type")
        .where(F.col("da") < F.col("db"))
        .select(
            "event_type",
            ((F.col("nb") - F.col("na")).cast("double")
             / (F.col("db") - F.col("da"))).alias("slope"),
        )
    )
    n_days = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"))
    return (
        pairs.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.round(F.percentile("slope", F.lit(0.5)), 6)
            .alias("theil_sen_slope"),
        )
        .join(F.broadcast(n_days), "event_type")
        .select("event_type", "n_days", "n_pairs", "theil_sen_slope")
    )


@register("q_graph_assortativity", _CC_CTES + """
, deg AS (
    SELECT a AS id, count(*)::BIGINT AS d FROM edges GROUP BY a
), dd AS (
    SELECT da.d AS dx, db.d AS dy
    FROM edges e JOIN deg da ON da.id = e.a JOIN deg db ON db.id = e.b
), sums AS (
    SELECT count(*)::BIGINT AS n, sum(dx)::BIGINT AS sx,
           sum(dx * dy)::BIGINT AS sxy, sum(dx * dx)::BIGINT AS sxx
    FROM dd
)
SELECT n AS n_directed_edges, sx AS sum_deg, sxy, sxx,
       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
            ELSE ((n * sxy - sx * sx) * 1000
                  // (n * sxx - sx * sx)) END::BIGINT
           AS assortativity_milli
FROM sums
""")
def q_graph_assortativity(spark, sf_dir):
    """Degree assortativity of the near-dup graph — do high-degree
    docs link to other high-degree docs (r>0: one connected template
    blob — components will be FEW and GIANT) or to low-degree ones
    (r<0: hub-and-spoke spam)? This single number predicts the
    connected-components workload shape before CC runs, which is why
    graph pipelines compute it as a pre-flight. EXACT by symmetry:
    over the symmetric directed edge set the x- and y-marginals are
    identical, so Pearson's r = (n·Sxy − Sx²)/(n·Sxx − Sx²) — no
    sqrt, all integer, reported in milli (NULL on the
    all-degrees-equal degenerate graph, same rule both engines).
    Consumes the memoized pair snapshot; degree join + one-row
    sums."""
    pairs = _jaccard_pairs(spark, sf_dir)
    edges = pairs.select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    ).unionAll(pairs.select(F.col("doc_b").alias("a"),
                            F.col("doc_a").alias("b")))
    deg = edges.groupBy("a").agg(F.count("*").cast("long").alias("d"))
    dd = (
        edges.join(deg.withColumnRenamed("a", "id"),
                   F.col("a") == F.col("id"))
        .select("b", F.col("d").alias("dx"))
        .join(
            deg.select(F.col("a").alias("id2"),
                       F.col("d").alias("dy")),
            F.col("b") == F.col("id2"))
        .select("dx", "dy")
    )
    sums = dd.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("dx").cast("long").alias("sx"),
        F.sum(F.col("dx") * F.col("dy")).cast("long").alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast("long").alias("sxx"),
    )
    return sums.select(
        F.col("n").alias("n_directed_edges"),
        F.col("sx").alias("sum_deg"), "sxy", "sxx",
        F.expr(
            "CASE WHEN n * sxx - sx * sx = 0 THEN NULL"
            " ELSE (n * sxy - sx * sx) * 1000"
            " div (n * sxx - sx * sx) END"
        ).cast("long").alias("assortativity_milli"),
    )


@register("q_window_funnel", f"""
WITH e AS (
    SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
), viewers AS (
    SELECT DISTINCT user_id FROM e WHERE event_type = 'view'
), s2 AS (
    SELECT DISTINCT v.user_id
    FROM e v JOIN e c ON c.user_id = v.user_id
    WHERE v.event_type = 'view' AND c.event_type = 'click'
      AND c.ts_us > v.ts_us AND c.ts_us <= v.ts_us + {_FUNNEL_W_US}
), s3 AS (
    SELECT DISTINCT v.user_id
    FROM e v
    JOIN e c ON c.user_id = v.user_id
    JOIN e p ON p.user_id = v.user_id
    WHERE v.event_type = 'view' AND c.event_type = 'click'
      AND p.event_type = 'purchase'
      AND c.ts_us > v.ts_us AND c.ts_us <= v.ts_us + {_FUNNEL_W_US}
      AND p.ts_us > c.ts_us AND p.ts_us <= v.ts_us + {_FUNNEL_W_US}
)
SELECT (SELECT count(*) FROM viewers)::BIGINT AS n_view,
       (SELECT count(*) FROM s2)::BIGINT AS n_view_click,
       (SELECT count(*) FROM s3)::BIGINT AS n_full_funnel,
       ((SELECT count(*) FROM s3) * 1000000
            // (SELECT count(*) FROM viewers))::BIGINT
           AS full_funnel_ppm
""")
def q_window_funnel(spark, sf_dir):
    """Strict-order windowed funnel (ClickHouse windowFunnel
    semantics): a user converts only if view -> click -> purchase
    occur IN ORDER within one hour of the view — the product-funnel
    truth the firsts-based funnels (q_funnel_conversion,
    q_funnel_three_step) overcount, because a purchase days after
    the view doesn't belong to the session-scale funnel. ANY
    qualifying chain counts the user once (EXISTS via distinct
    semi-join shape). Scale shape: the step joins are user-keyed
    equi-joins with range residuals — per-user fanout is bounded by
    per-user event counts (the sessionized workload), and each step
    relation collapses to DISTINCT user_id before the final 1-row
    counts; at deeper funnels the per-user sort-fold
    (applyInPandas) variant replaces the k-way join, the documented
    trade."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr("ts div 1000").alias("ts_us"))
    v = e.where(F.col("event_type") == "view").select(
        "user_id", F.col("ts_us").alias("tv"))
    c = e.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts_us").alias("tc"))
    p = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts_us").alias("tp"))
    viewers = v.select("user_id").distinct()
    s2 = (
        v.join(c, "user_id")
        .where((F.col("tc") > F.col("tv"))
               & (F.col("tc") <= F.col("tv") + _FUNNEL_W_US))
        .select("user_id").distinct()
    )
    s3 = (
        v.join(c, "user_id")
        .where((F.col("tc") > F.col("tv"))
               & (F.col("tc") <= F.col("tv") + _FUNNEL_W_US))
        .join(p, "user_id")
        .where((F.col("tp") > F.col("tc"))
               & (F.col("tp") <= F.col("tv") + _FUNNEL_W_US))
        .select("user_id").distinct()
    )
    n1 = viewers.agg(F.count("*").cast("long").alias("n_view"))
    n2 = s2.agg(F.count("*").cast("long").alias("n_view_click"))
    n3 = s3.agg(F.count("*").cast("long").alias("n_full_funnel"))
    return (
        n1.crossJoin(F.broadcast(n2)).crossJoin(F.broadcast(n3))
        .select(
            "n_view", "n_view_click", "n_full_funnel",
            F.expr(
                "CAST((n_full_funnel * 1000000) div n_view AS BIGINT)")
            .alias("full_funnel_ppm"),
        )
    )


# ===================================================================
# §2.C continuation (round-7 session 2, batch G) — control charts /
# symbolic series / user diversity / randomness audit
# ===================================================================


@register("q_bollinger_bands", f"""
WITH daily AS (
    SELECT epoch_us(ts) // {_DAY_US} AS day,
           CAST(sum(value::DECIMAL(18,6)) * 100 AS BIGINT) AS v_cents
    FROM events GROUP BY 1
), win AS (
    SELECT day, v_cents,
           count(*) OVER w AS n,
           sum(v_cents::HUGEINT) OVER w AS s,
           sum(v_cents::HUGEINT * v_cents) OVER w AS ssq
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT day, v_cents, n::BIGINT AS n_window,
       CAST((s * 1000) // n AS BIGINT) AS mean_milli_cents,
       CAST((1000000 * CAST(round(sqrt((n * ssq - s * s)::DOUBLE))
                            AS HUGEINT)) // n AS BIGINT)
           AS sigma_micro_cents,
       (n * v_cents - s > 0 AND
        (n * v_cents - s) * (n * v_cents - s)
            > 4 * (n * ssq - s * s)) AS above_band,
       (n * v_cents - s < 0 AND
        (n * v_cents - s) * (n * v_cents - s)
            > 4 * (n * ssq - s * s)) AS below_band
FROM win
""")
def q_bollinger_bands(spark, sf_dir):
    """Bollinger control chart on daily transacted value: trailing
    7-day mean +/- 2 sigma bands with breakout flags — the
    operations-monitoring primitive between plain z-scores
    (q_events_anomaly, global baseline) and dow-profiles
    (q_seasonal_anomaly): the trailing window adapts to level
    shifts, so a metric that steps up permanently stops alerting
    after a week. Parity (round-8 rewrite after the r07 driver hash
    FAIL): the band flags are EXACT integer predicates — v > mean+2s
    with mean = s/n and s^2 = (n*ssq - s^2)/n^2 is algebraically
    (n*v - s) > 0 AND (n*v - s)^2 > 4*(n*ssq - s^2), all integer
    (squared terms in DECIMAL(19,0)*DECIMAL(19,0) for headroom to
    ~1e9-cent days, i.e. past sf10) — no rounded double ever feeds a
    comparison. The reported sigma goes through the repo's
    round(sqrt(BIGINT))->BIGINT protocol (one correctly-rounded IEEE
    sqrt of an exact integer, integer-rounded once — identical both
    engines, as q_kendall_tau) then exact integer scaling to
    micro-cents. The previous round(sqrt(double), 3) sigma violated
    the round-2 boundary rule and flipped at a .0005 boundary row.
    Scale shape: one fact pass to the calendar-sized daily relation;
    the trailing window runs there."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.expr(f"(ts div 1000) div {_DAY_US}").alias("day"),
            F.col("value").cast("decimal(18,6)").alias("v"),
        )
        .groupBy("day")
        .agg(F.expr("CAST(sum(v) * 100 AS BIGINT)").alias("v_cents"))
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    win = daily.select(
        "day", "v_cents",
        F.count("*").over(w).alias("n"),
        F.sum(F.col("v_cents").cast("decimal(20,0)")).over(w).alias("s"),
        F.sum(
            F.col("v_cents").cast("decimal(19,0)")
            * F.col("v_cents").cast("decimal(19,0)")
        ).over(w).alias("ssq"),
    )
    # wide-integer arithmetic (round-8 magnitude-stress fix): the
    # window sums/squares and all derived terms run in DECIMAL(38,0)
    # here and HUGEINT in the oracle — exact integers are engine-
    # identical at any width, and BIGINT ssq overflowed once daily
    # volume passed ~3e9 cents ($30M/day)
    return win.select(
        "day", "v_cents",
        F.col("n").cast("long").alias("n_window"),
        F.expr("CAST((s * 1000) div n AS BIGINT)")
        .alias("mean_milli_cents"),
        F.expr(
            "CAST((1000000 * CAST(round(sqrt(CAST(n * ssq - s * s"
            " AS DOUBLE))) AS DECIMAL(38,0))) div n AS BIGINT)"
        ).alias("sigma_micro_cents"),
        F.expr(
            "n * v_cents - s > 0 AND"
            " (n * v_cents - s) * (n * v_cents - s)"
            " > 4 * (n * ssq - s * s)"
        ).alias("above_band"),
        F.expr(
            "n * v_cents - s < 0 AND"
            " (n * v_cents - s) * (n * v_cents - s)"
            " > 4 * (n * ssq - s * s)"
        ).alias("below_band"),
    )


@register("q_sax_symbolic", f"""
WITH daily AS (
    SELECT epoch_us(ts) // {_DAY_US} AS day, count(*)::BIGINT AS x
    FROM events GROUP BY 1
), tot AS (
    SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS t,
           sum(x * x)::BIGINT AS ssq
    FROM daily
)
SELECT d.day, d.x,
       round((d.x * t.n - t.t)
             / (t.n::DOUBLE * sqrt((t.n * t.ssq - t.t * t.t)::DOUBLE
                                   / (t.n::DOUBLE * t.n))), 4) AS z,
       CASE
         WHEN (d.x * t.n - t.t)
              < -0.6745 * t.n * sqrt((t.n * t.ssq - t.t * t.t)::DOUBLE
                                     / (t.n::DOUBLE * t.n)) THEN 'a'
         WHEN (d.x * t.n - t.t) < 0 THEN 'b'
         WHEN (d.x * t.n - t.t)
              < 0.6745 * t.n * sqrt((t.n * t.ssq - t.t * t.t)::DOUBLE
                                    / (t.n::DOUBLE * t.n)) THEN 'c'
         ELSE 'd'
       END AS symbol
FROM daily d, tot t
""")
def q_sax_symbolic(spark, sf_dir):
    """SAX symbolization of the daily event-count series (alphabet 4,
    Gaussian quartile breakpoints ±0.6745): the time-series indexing
    primitive — once days are letters, motif discovery, series
    similarity and anomaly grammars become STRING problems (the
    contribution of Lin et al.'s SAX), which is how a 100 TB metric
    store searches its own history. Parity: z and the breakpoint
    comparisons are computed on the scaled-integer numerator
    (x·n − T, exact) against sigma terms built from exact integer
    sums and one IEEE sqrt (correctly rounded — identical both
    engines); comparisons use the same expression text so any
    boundary double resolves identically. One fact pass; everything
    else on the calendar relation with the 1-row stats broadcast."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(F.expr(f"(ts div 1000) div {_DAY_US}").alias("day"))
        .groupBy("day")
        .agg(F.count("*").cast("long").alias("x"))
    )
    tot = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("t"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("ssq"),
    )
    sig = ("sqrt(CAST(n * ssq - t * t AS DOUBLE)"
           " / (CAST(n AS DOUBLE) * n))")
    return daily.crossJoin(F.broadcast(tot)).select(
        "day", "x",
        F.expr(
            f"round((x * n - t) / (CAST(n AS DOUBLE) * {sig}), 4)"
        ).alias("z"),
        F.expr(
            f"CASE WHEN (x * n - t) < -0.6745 * n * {sig} THEN 'a' "
            f"WHEN (x * n - t) < 0 THEN 'b' "
            f"WHEN (x * n - t) < 0.6745 * n * {sig} THEN 'c' "
            f"ELSE 'd' END"
        ).alias("symbol"),
    )


@register("q_user_type_entropy", """
WITH cell AS (
    SELECT user_id, event_type, count(*)::BIGINT AS c
    FROM events GROUP BY 1, 2
), per_user AS (
    SELECT user_id, sum(c)::BIGINT AS n_events,
           count(*)::BIGINT AS n_types
    FROM cell GROUP BY 1
), surp AS (
    SELECT c.user_id, c.c,
           round(-ln(c.c / u.n_events), 6) AS s6,
           u.n_events, u.n_types
    FROM cell c JOIN per_user u USING (user_id)
)
SELECT user_id, max(n_events) AS n_events, max(n_types) AS n_types,
       (CAST(sum(c * s6::DECIMAL(18,6)) * 1000000 AS BIGINT)
            // max(n_events))::BIGINT AS entropy_micro_nats
FROM surp GROUP BY user_id
""")
def q_user_type_entropy(spark, sf_dir):
    """Per-user behavioral diversity: Shannon entropy of each user's
    event-type mix in integer micro-nats — the engagement-breadth
    signal (a monitoring bot fires one event type forever: entropy
    0; an engaged human spreads across types) that feeds both bot
    filtering and the activation/retention models' feature set. The
    same 6dp-surprisal + exact-decimal-sum protocol as the source-
    level entropy, at user granularity. Scale shape: one fact pass
    to |users|x|types| cells (map-side partial agg), user-keyed
    join of the per-user totals (co-partitioned with the cell
    groupBy — one shuffle total), per-user output."""
    ev = load_table(spark, sf_dir, "events")
    cell = ev.groupBy("user_id", "event_type").agg(
        F.count("*").cast("long").alias("c"))
    per_user = cell.groupBy("user_id").agg(
        F.sum("c").cast("long").alias("n_events"),
        F.count("*").cast("long").alias("n_types"),
    )
    surp = cell.join(per_user, "user_id").select(
        "user_id", "c", "n_events", "n_types",
        F.round(-F.log(F.col("c") / F.col("n_events")), 6).alias("s6"),
    )
    return surp.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("n_types").alias("n_types"),
        F.expr(
            "CAST(sum(c * CAST(s6 AS DECIMAL(18,6))) * 1000000"
            " AS BIGINT) div max(n_events)"
        ).cast("long").alias("entropy_micro_nats"),
    )


@register("q_runs_test", f"""
WITH daily AS (
    SELECT epoch_us(ts) // {_DAY_US} AS day, count(*)::BIGINT AS x
    FROM events GROUP BY 1
), med AS (
    SELECT round(quantile_cont(x, 0.5), 4) AS m FROM daily
), signed AS (
    SELECT d.day, CASE WHEN d.x > m.m THEN 1 ELSE 0 END AS up
    FROM daily d, med m
), runs AS (
    SELECT up,
           CASE WHEN lag(up) OVER (ORDER BY day) IS NULL
                  OR lag(up) OVER (ORDER BY day) != up
                THEN 1 ELSE 0 END AS is_new
    FROM signed
), sums AS (
    SELECT sum(is_new)::BIGINT AS n_runs,
           sum(up)::BIGINT AS n1,
           sum(1 - up)::BIGINT AS n2
    FROM runs
)
SELECT n_runs, n1, n2,
       round(1.0 + (2.0 * n1 * n2) / CAST(n1 + n2 AS DOUBLE), 4)
           AS expected_runs,
       round((n_runs - (1.0 + (2.0 * n1 * n2) / CAST(n1 + n2 AS DOUBLE)))
             / sqrt(((2.0 * n1 * n2) * (2.0 * n1 * n2 - n1 - n2))
                    / ((n1 + n2)::DOUBLE * (n1 + n2) * (n1 + n2 - 1))),
             4) AS z_stat
FROM sums
""")
def q_runs_test(spark, sf_dir):
    """Wald-Wolfowitz runs test on the daily series — the randomness
    audit that catches what mean/variance drift tests (KS, PSI,
    chi2) cannot: AUTOCORRELATION. Too few runs above/below the
    median means sticky regimes (trend/level shifts); too many
    means oscillation (over-correction, load-balancer flapping) —
    either way the i.i.d. assumption under every other threshold in
    the monitoring stack is broken, which is why this is the
    pre-flight. Parity: above/below flags compare integers to the
    4dp-rounded median, runs are counted with an integer lag flag,
    and the closed-form E[R]/sigma_R z-statistic is doubles from
    exact integers + IEEE sqrt, rounded 4dp. One fact pass; the lag
    window runs on the calendar relation."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(F.expr(f"(ts div 1000) div {_DAY_US}").alias("day"))
        .groupBy("day")
        .agg(F.count("*").cast("long").alias("x"))
    )
    med = daily.agg(
        F.round(F.percentile("x", F.lit(0.5)), 4).alias("m"))
    signed = daily.crossJoin(F.broadcast(med)).select(
        "day",
        F.when(F.col("x") > F.col("m"), 1).otherwise(0).alias("up"),
    )
    w = Window.orderBy("day")
    runs = signed.select(
        "up",
        F.when(
            F.lag("up").over(w).isNull()
            | (F.lag("up").over(w) != F.col("up")),
            1,
        ).otherwise(0).alias("is_new"),
    )
    sums = runs.agg(
        F.sum("is_new").cast("long").alias("n_runs"),
        F.sum("up").cast("long").alias("n1"),
        F.sum(1 - F.col("up")).cast("long").alias("n2"),
    )
    return sums.select(
        "n_runs", "n1", "n2",
        F.expr(
            "round(1.0 + (2.0 * n1 * n2) / CAST(n1 + n2 AS DOUBLE), 4)"
        ).alias("expected_runs"),
        F.expr(
            "round((n_runs - (1.0 + (2.0 * n1 * n2)"
            " / CAST(n1 + n2 AS DOUBLE)))"
            " / sqrt(((2.0 * n1 * n2) * (2.0 * n1 * n2 - n1 - n2))"
            " / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2) * (n1 + n2 - 1))),"
            " 4)"
        ).alias("z_stat"),
    )


def _nb_scores(docs):
    """Featurize the corpus and score every (doc_id, lang) under the
    in-engine multinomial Naive Bayes model — the chain both NB
    queries share: (doc_id, lang, len, score). Column pruning drops len
    where a caller does not read it.

    Featurize once (r14): the tokenize is aggregated ONCE by (doc_id,
    lang, tok) — lang is functionally dependent on doc_id, so this is
    the (doc_id, tok) relation with lang carried — and dt, dlen, model
    and vocab all DERIVE from it, so the four consumers share one
    ReusedExchange (see parse.doc_terms) and the regex tokenize and
    its shuffle run once. Values are identities: sum(m) per (lang,
    tok) == count(*) per (lang, tok) over the tokens, sum(m) per doc
    == token count per doc, distinct tok sets are equal."""
    dlt = parse.doc_terms(docs, "doc_id", "lang", tokenize=parse.words,
                          term="tok", count="m")
    dt = dlt.select("doc_id", "tok", "m")
    dlen = dlt.groupBy("doc_id").agg(F.sum("m").cast("long").alias("len"))
    model = dlt.groupBy("lang", "tok").agg(
        F.sum("m").cast("long").alias("c"))
    lt = model.groupBy("lang").agg(F.sum("c").cast("long").alias("t_l"))
    # the m >= 1 predicate is vacuously true (m is a count) — it
    # exists so column pruning cannot drop m from vocab's copy of the
    # shared aggregation, which would give this branch a DIFFERENT
    # exchange (no reuse) and a second tokenize pass
    vocab = dlt.where(F.col("m") >= 1).agg(
        F.countDistinct("tok").cast("long").alias("v"))
    priors = docs.groupBy("lang").agg(
        F.count("*").cast("long").alias("nd"))
    nn = docs.agg(F.count("*").cast("long").alias("n_docs"))
    params = (
        lt.join(priors, "lang")
        .crossJoin(F.broadcast(nn)).crossJoin(F.broadcast(vocab))
        .select(
            "lang", "t_l", "v",
            F.expr("round(ln(CAST(nd AS DOUBLE) / n_docs), 6)")
            .alias("prior6"),
            F.expr("round(ln(CAST(1.0 AS DOUBLE) / (t_l + v)), 6)").alias("ll0"),
        )
    )
    matched = (
        dt.join(F.broadcast(model), "tok")
        # ^ vocab x langs: Zipf-bounded; broadcasting the model
        # keeps the corpus-sized doc-term side unshuffled here

        .join(F.broadcast(params), "lang")
        .groupBy("doc_id", "lang")
        .agg(
            F.expr(
                "sum(m * CAST(round(ln((c + CAST(1.0 AS DOUBLE)) / (t_l + v)), 6)"
                " AS DECIMAL(18,6)))"
            ).alias("s_match"),
            F.sum("m").cast("long").alias("m_matched"),
        )
    )
    return (
        dlen.crossJoin(F.broadcast(params.select(
            "lang", "prior6", "ll0")))
        .join(matched, ["doc_id", "lang"], "left")
        .select(
            "doc_id", "lang", "len",
            F.expr(
                "coalesce(s_match, CAST(0 AS DECIMAL(18,6)))"
                " + (len - coalesce(m_matched, 0))"
                " * CAST(ll0 AS DECIMAL(18,6))"
                " + CAST(prior6 AS DECIMAL(18,6))"
            ).alias("score"),
        )
    )


@register("q_naive_bayes_lang", f"""
WITH {_NB_CTES}
SELECT d.lang AS true_lang, p.pred_lang, count(*)::BIGINT AS n_docs
FROM documents d JOIN pred p USING (doc_id)
GROUP BY 1, 2
""")
def q_naive_bayes_lang(spark, sf_dir):
    """Multinomial Naive Bayes language identification TRAINED AND
    SCORED entirely in the engine (Laplace-smoothed unigram
    likelihoods + log priors, argmax per doc), reported as the
    confusion matrix against the gold labels — the self-supervised
    sanity loop for labeled corpora, and the proof case that a
    trainable classifier is a closed-form SQL pipeline when the
    model is counting (this is how large-scale lang-ID actually
    runs: fastText-style linear models over count features). Parity:
    every ln (likelihood, absent-token floor, prior) is rounded 6dp,
    per-doc scores are exact decimal sums of (integer multiplicity x
    6dp decimal) — absent tokens contribute via the (len - matched)
    arithmetic identity, never as materialized zero cells — and
    argmax ties break on lang. Scale shape: the model is the
    vocab x |langs| relation (Zipf-broadcastable); the scoring join
    is token-keyed against the doc-term relation, then one
    |docs| x |langs| rollup; the confusion output is ≤ |langs|²
    rows."""
    docs = load_table(spark, sf_dir, "documents")
    scores = _nb_scores(docs)
    pred = (
        scores.withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("doc_id")
                .orderBy(F.col("score").desc(), "lang")),
        )
        .where(F.col("r") == 1)
        .select("doc_id", F.col("lang").alias("pred_lang"))
    )
    return (
        docs.select("doc_id", F.col("lang").alias("true_lang"))
        .join(pred, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


@register("q_dp_counts", f"""
WITH cnt AS (
    SELECT lang, count(*)::BIGINT AS n FROM documents GROUP BY 1
), noise AS (
    SELECT lang, n,
           (('0x' || substring(md5(lang || ':dp1'), 1, 13))::BIGINT
                / 4503599627370496.0) AS u
    FROM cnt
)
SELECT lang, n,
       CAST(round(1000.0 * (CASE WHEN u < 0.5
                 THEN ln(2.0 * u) ELSE -ln(2.0 * (1.0 - u)) END)
             / ({_DP_EPS_MILLI} / 1000.0)) AS BIGINT) AS noise_milli,
       n * 1000 + CAST(round(1000.0 * (CASE WHEN u < 0.5
                 THEN ln(2.0 * u) ELSE -ln(2.0 * (1.0 - u)) END)
             / ({_DP_EPS_MILLI} / 1000.0)) AS BIGINT)
           AS noisy_count_milli,
       {_DP_EPS_MILLI}::BIGINT AS epsilon_milli
FROM noise
""")
def q_dp_counts(spark, sf_dir):
    """Differentially-private group counts via the Laplace mechanism
    (sensitivity 1, epsilon 1) — the release path for aggregate
    statistics over user data, completing the privacy family
    (q_k_anonymity / q_l_diversity audit the quasi-identifiers; DP
    noises the release itself). The Laplace sample is DERIVED, not
    drawn: u comes from the md5 of the group key (the repo's
    seedless-uniform recipe — 52-bit mantissa), inverse-CDF
    transformed, so the 'noise' is reproducible for the oracle while
    exercising exactly the production arithmetic (swap the hash for
    a CSPRNG and the query is the real mechanism; documented, the
    same stub protocol as mm_*'s decode). Per-group ln on identical
    doubles rounded at milli; one groupBy, |groups|-row output."""
    docs = load_table(spark, sf_dir, "documents")
    cnt = docs.groupBy("lang").agg(F.count("*").cast("long").alias("n"))
    noise = cnt.withColumn(
        "u",
        F.expr(
            "CAST(conv(substring(md5(lang || ':dp1'), 1, 13), 16, 10)"
            " AS BIGINT) / 4503599627370496.0"
        ),
    )
    lap = (
        "CASE WHEN u < 0.5 THEN ln(2.0 * u)"
        " ELSE -ln(2.0 * (1.0 - u)) END"
    )
    return noise.select(
        "lang", "n",
        F.expr(
            f"CAST(round(1000.0 * ({lap})"
            f" / ({_DP_EPS_MILLI} / 1000.0)) AS BIGINT)"
        ).alias("noise_milli"),
        F.expr(
            f"n * 1000 + CAST(round(1000.0 * ({lap})"
            f" / ({_DP_EPS_MILLI} / 1000.0)) AS BIGINT)"
        ).alias("noisy_count_milli"),
        F.lit(_DP_EPS_MILLI).cast("long").alias("epsilon_milli"),
    )


@register("q_lorenz_curve", """
WITH rev AS (
    SELECT o_custkey,
           CAST(sum(o_totalprice::DECIMAL(18,6)) * 100 AS BIGINT)
               AS rev_cents
    FROM orders GROUP BY 1
), deciled AS (
    SELECT o_custkey, rev_cents,
           ntile(10) OVER (ORDER BY rev_cents, o_custkey) AS decile
    FROM rev
), agg AS (
    SELECT decile::BIGINT AS decile, count(*)::BIGINT AS n_customers,
           sum(rev_cents)::BIGINT AS decile_rev_cents
    FROM deciled GROUP BY 1
), tot AS (
    SELECT sum(decile_rev_cents)::BIGINT AS t,
           (1 + sum(decile_rev_cents) // 1000000000000)::BIGINT AS s
    FROM agg
)
SELECT a.decile, a.n_customers, a.decile_rev_cents,
       (((a.decile_rev_cents // t.s) * 1000000)
            // greatest(t.t // t.s, 1))::BIGINT AS share_ppm,
       (((sum(a.decile_rev_cents) OVER (ORDER BY a.decile) // t.s)
            * 1000000) // greatest(t.t // t.s, 1))::BIGINT
           AS cum_share_ppm
FROM agg a, tot t
""")
def q_lorenz_curve(spark, sf_dir):
    """Lorenz concentration curve of customer revenue by decile — the
    DISTRIBUTION readout behind q_revenue_gini's single number: the
    cum-share-at-decile points say WHERE the concentration lives
    ('bottom half contributes 9%') which is what account-tier and
    risk-concentration decisions actually read. Exact integers
    end-to-end: per-customer revenue in decimal cents, ntile over
    (revenue, custkey) — both engines assign earlier buckets the
    extra rows, same tiebreak — then ppm shares and the cumulative
    window on the 10-row decile relation. Scale: one fact rollup to
    per-customer revenue; the customer-sized ntile window is the
    documented trade (rank-by-sort at 100 TB, or the equi-depth
    sketch cut q_equi_depth_histogram demonstrates); ppm shares use
    the round-8 scale guard (s = 1 + total // 1e12 — see
    q_abc_classification) so cents totals past 9.2e12 can't overflow
    the 1e6 multiply."""
    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.expr(
            "CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) * 100"
            " AS BIGINT)"
        ).alias("rev_cents")
    )
    deciled = rev.withColumn(
        "decile",
        F.ntile(10).over(Window.orderBy("rev_cents", "o_custkey")),
    )
    agg = deciled.groupBy(F.col("decile").cast("long").alias("decile")).agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum("rev_cents").cast("long").alias("decile_rev_cents"),
    )
    tot = agg.agg(
        F.sum("decile_rev_cents").cast("long").alias("t"),
        F.expr(
            "CAST(1 + sum(decile_rev_cents) div 1000000000000"
            " AS BIGINT)").alias("s"),
    )
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "decile", "n_customers", "decile_rev_cents",
            F.expr(
                "CAST(((decile_rev_cents div s) * 1000000)"
                " div greatest(t div s, 1) AS BIGINT)"
            ).alias("share_ppm"),
            F.expr(
                "CAST(((sum(decile_rev_cents)"
                " OVER (ORDER BY decile) div s) * 1000000)"
                " div greatest(t div s, 1) AS BIGINT)"
            ).alias("cum_share_ppm"),
        )
    )


@register("q_rake_keywords", r"""
WITH toks AS (
    SELECT doc_id, i AS pos, ws[i] AS tok
    FROM (
        SELECT doc_id,
               regexp_extract_all(lower(text), '[a-z]+') AS ws
        FROM documents
    ), unnest(generate_series(1, len(ws))) AS t(i)
), stop AS (
    SELECT tok FROM (
        SELECT tok, count(*) AS c,
               row_number() OVER (ORDER BY count(*) DESC, tok) AS r
        FROM toks GROUP BY tok
    ) WHERE r <= {stop}
), nonstop AS (
    SELECT t.doc_id, t.pos, t.tok
    FROM toks t LEFT JOIN stop s USING (tok)
    WHERE s.tok IS NULL
), islands AS (
    SELECT doc_id, pos, tok,
           pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS island
    FROM nonstop
), phrases AS (
    SELECT doc_id, island,
           string_agg(tok, ' ' ORDER BY pos) AS phrase,
           count(*)::BIGINT AS plen
    FROM islands GROUP BY 1, 2
), wstats AS (
    SELECT i.tok, count(*)::BIGINT AS freq,
           sum(p.plen)::BIGINT AS degree
    FROM islands i JOIN phrases p USING (doc_id, island)
    GROUP BY i.tok
), wscore AS (
    SELECT tok, (degree * 1000) // freq AS score_milli FROM wstats
), pscore AS (
    SELECT p.phrase, count(DISTINCT (p.doc_id, p.island))::BIGINT
               AS n_occurrences,
           (sum(w.score_milli) / count(DISTINCT (p.doc_id, p.island))
           )::BIGINT AS phrase_score_milli
    FROM phrases p
    JOIN islands i USING (doc_id, island)
    JOIN wscore w ON w.tok = i.tok
    GROUP BY p.phrase
)
SELECT phrase, n_occurrences, phrase_score_milli,
       CAST(rank AS BIGINT) AS rank
FROM (
    SELECT *, row_number() OVER (ORDER BY phrase_score_milli DESC,
                                          phrase) AS rank
    FROM pscore
) WHERE rank <= {k}
""".replace("{stop}", str(_RAKE_STOP)).replace("{k}", str(_RAKE_TOPK)))
def q_rake_keywords(spark, sf_dir):
    """RAKE keyword extraction (Rose et al.): candidate phrases are
    maximal runs of non-stopword tokens, each word scores
    degree/frequency over the phrase graph, a phrase scores the sum
    of its word scores — the unsupervised keyword pass that needs no
    training data, run corpus-wide. The stopword list is DERIVED
    (top-{stop} corpus tokens, deterministic tiebreak) so the
    operator adapts to any corpus and both engines build the same
    list. The phrase segmentation is the classic gaps-and-islands
    identity (pos − row_number per doc), degree/frequency are
    integer rollups over the phrase-word incidence, and scores are
    integer milli (per-phrase score normalized by occurrence count
    so repeated phrases don't self-inflate). Scale shape: windows
    are doc-partitioned (never global on the fact), the stopword
    relation broadcasts, the incidence joins are (doc, island)- and
    token-keyed, top-k on the ≤|distinct phrases| relation.""".replace(
        "{stop}", str(_RAKE_STOP))
    # spread_scan (round 13): the posexplode tokenize ran on the
    # single local scan split (no-op on multi-split scans)
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        F.posexplode(parse.words("text")).alias("pos0", "tok"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    stop = (
        toks.groupBy("tok").agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "tok").limit(_RAKE_STOP)
        .select("tok")
    )
    nonstop = toks.join(F.broadcast(stop), "tok", "left_anti")
    islands = nonstop.withColumn(
        "island",
        F.col("pos")
        - F.row_number().over(
            Window.partitionBy("doc_id").orderBy("pos")),
    )
    phrases = islands.groupBy("doc_id", "island").agg(
        F.array_join(
            F.expr("transform(array_sort(collect_list(struct(pos, tok)))"
                   ", x -> x.tok)"),
            " ",
        ).alias("phrase"),
        F.count("*").cast("long").alias("plen"),
    )
    wstats = (
        islands.join(phrases, ["doc_id", "island"])
        .groupBy("tok")
        .agg(
            F.count("*").cast("long").alias("freq"),
            F.sum("plen").cast("long").alias("degree"),
        )
    )
    wscore = wstats.select(
        "tok", F.expr("(degree * 1000) div freq").alias("score_milli"))
    pscore = (
        phrases.join(islands, ["doc_id", "island"])
        .join(wscore, "tok")
        .groupBy("phrase")
        .agg(
            F.countDistinct("doc_id", "island").cast("long")
            .alias("n_occurrences"),
            F.expr(
                "CAST(sum(score_milli)"
                " / count(DISTINCT doc_id, island) AS BIGINT)"
            ).alias("phrase_score_milli"),
        )
    )
    ranked = pscore.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("phrase_score_milli").desc(), "phrase")),
    )
    return ranked.where(F.col("rank") <= _RAKE_TOPK).select(
        "phrase", "n_occurrences", "phrase_score_milli",
        F.col("rank").cast("long"),
    )


# ===================================================================
# §2.C/F continuation (round-7 session 2, batch I) — two-sample
# tests / optimal transport / long-memory estimation
# ===================================================================


@register("q_welch_ttest", """
WITH stats AS (
    SELECT source, count(*)::BIGINT AS n, sum(n_chars)::BIGINT AS s,
           sum(n_chars * n_chars)::BIGINT AS ssq
    FROM documents GROUP BY 1
), pairs AS (
    SELECT a.source AS source_a, b.source AS source_b,
           a.n AS na, a.s AS sa, a.ssq AS qa,
           b.n AS nb, b.s AS sb, b.ssq AS qb
    FROM stats a JOIN stats b ON a.source < b.source
)
SELECT source_a, source_b, na, nb,
       (sa * 1000) // na AS mean_a_milli,
       (sb * 1000) // nb AS mean_b_milli,
       round((sa::DOUBLE / na - sb::DOUBLE / nb)
             / sqrt((na * qa - sa * sa)::DOUBLE
                        / (na::DOUBLE * na * (na - 1))
                    + (nb * qb - sb * sb)::DOUBLE
                        / (nb::DOUBLE * nb * (nb - 1))), 4) AS t_stat
FROM pairs
""")
def q_welch_ttest(spark, sf_dir):
    """Welch's unequal-variance t-statistic for every source pair's
    document-length distribution — the parametric two-sample
    location test (the workhorse of 'did this feed's docs get
    shorter?'), deliberately Welch and not Student: feeds have
    different variances, and pooling them is the classic false-
    positive factory. Parity: group moments are exact integer sums
    (one fact pass, map-side partial agg), the t-statistic is
    doubles from those integers + one IEEE sqrt, rounded 4dp; means
    are reported in integer milli. The pair join runs on the
    ≤|sources|-row stats relation — the fact is scanned once no
    matter how many pairs."""
    docs = load_table(spark, sf_dir, "documents")
    stats = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("n_chars").cast("long").alias("s"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("long")
        .alias("ssq"),
    )
    a = stats.select(F.col("source").alias("source_a"),
                     F.col("n").alias("na"), F.col("s").alias("sa"),
                     F.col("ssq").alias("qa"))
    b = stats.select(F.col("source").alias("source_b"),
                     F.col("n").alias("nb"), F.col("s").alias("sb"),
                     F.col("ssq").alias("qb"))
    pairs = a.join(b, F.col("source_a") < F.col("source_b"))
    return pairs.select(
        "source_a", "source_b", "na", "nb",
        F.expr("(sa * 1000) div na").alias("mean_a_milli"),
        F.expr("(sb * 1000) div nb").alias("mean_b_milli"),
        F.expr(
            "round((CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb)"
            " / sqrt(CAST(na * qa - sa * sa AS DOUBLE)"
            "            / (CAST(na AS DOUBLE) * na * (na - 1))"
            "        + CAST(nb * qb - sb * sb AS DOUBLE)"
            "            / (CAST(nb AS DOUBLE) * nb * (nb - 1))), 4)"
        ).alias("t_stat"),
    )


@register("q_wasserstein_1d", """
WITH pairs_src AS (
    SELECT a.source AS source_a, b.source AS source_b
    FROM (SELECT DISTINCT source FROM documents) a
    JOIN (SELECT DISTINCT source FROM documents) b
      ON a.source < b.source
), hist AS (
    SELECT source, n_chars AS v, count(*)::BIGINT AS c
    FROM documents GROUP BY 1, 2
), tot AS (
    SELECT source, sum(c)::BIGINT AS n FROM hist GROUP BY 1
), support AS (
    SELECT p.source_a, p.source_b, h.v,
           coalesce(sum(CASE WHEN h.source = p.source_a
                             THEN h.c END), 0)::BIGINT AS ca,
           coalesce(sum(CASE WHEN h.source = p.source_b
                             THEN h.c END), 0)::BIGINT AS cb
    FROM pairs_src p
    JOIN hist h ON h.source IN (p.source_a, p.source_b)
    GROUP BY 1, 2, 3
), walk AS (
    SELECT source_a, source_b, v,
           sum(ca) OVER (PARTITION BY source_a, source_b
                         ORDER BY v)::BIGINT AS cum_a,
           sum(cb) OVER (PARTITION BY source_a, source_b
                         ORDER BY v)::BIGINT AS cum_b,
           lead(v) OVER (PARTITION BY source_a, source_b
                         ORDER BY v) AS v_next
    FROM support
), terms AS (
    SELECT w.source_a, w.source_b,
           abs(w.cum_a * tb.n - w.cum_b * ta.n)
               * (w.v_next - w.v) AS term,
           ta.n AS na, tb.n AS nb
    FROM walk w
    JOIN tot ta ON ta.source = w.source_a
    JOIN tot tb ON tb.source = w.source_b
    WHERE w.v_next IS NOT NULL
)
SELECT source_a, source_b, max(na) AS n_a, max(nb) AS n_b,
       (sum(term) * 1000 / (max(na) * max(nb)))::BIGINT
           AS wasserstein_milli
FROM terms GROUP BY 1, 2
""")
def q_wasserstein_1d(spark, sf_dir):
    """1-D Wasserstein (earth-mover's) distance between every source
    pair's doc-length distribution — the drift metric with UNITS
    (characters of transport work): KS says 'the CDFs differ', W1
    says 'by how much, in the metric of the variable', which is the
    number a data contract can threshold. Exact closed form: in 1-D,
    W1 = integral |CDF_a - CDF_b| dv = SIGMA over support gaps of
    |cum_a*n_b - cum_b*n_a| * gap / (n_a*n_b) — ALL-INTEGER until
    one final milli division (the cross-multiplied CDFs avoid any
    per-row double). Scale shape: the fact collapses to per-source
    value histograms first (domain-bounded support), the CDF walk
    is a window over each pair's ≤|support| rows, pairs come from
    the |sources|-row dim."""
    docs = load_table(spark, sf_dir, "documents")
    hist = docs.groupBy("source", F.col("n_chars").alias("v")).agg(
        F.count("*").cast("long").alias("c"))
    tot = hist.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    srcs = docs.select("source").distinct()
    pairs = (
        srcs.select(F.col("source").alias("source_a"))
        .join(srcs.select(F.col("source").alias("source_b")),
              F.col("source_a") < F.col("source_b"))
    )
    support = (
        pairs.join(
            hist,
            (F.col("source") == F.col("source_a"))
            | (F.col("source") == F.col("source_b")),
        )
        .groupBy("source_a", "source_b", "v")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("source") == F.col("source_a"),
                             F.col("c"))), F.lit(0)
            ).cast("long").alias("ca"),
            F.coalesce(
                F.sum(F.when(F.col("source") == F.col("source_b"),
                             F.col("c"))), F.lit(0)
            ).cast("long").alias("cb"),
        )
    )
    w = Window.partitionBy("source_a", "source_b").orderBy("v")
    walk = support.select(
        "source_a", "source_b", "v",
        F.sum("ca").over(w).cast("long").alias("cum_a"),
        F.sum("cb").over(w).cast("long").alias("cum_b"),
        F.lead("v").over(w).alias("v_next"),
    )
    ta = tot.select(F.col("source").alias("source_a"),
                    F.col("n").alias("na"))
    tb = tot.select(F.col("source").alias("source_b"),
                    F.col("n").alias("nb"))
    terms = (
        walk.where(F.col("v_next").isNotNull())
        .join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select(
            "source_a", "source_b", "na", "nb",
            (
                F.abs(F.col("cum_a") * F.col("nb")
                      - F.col("cum_b") * F.col("na"))
                * (F.col("v_next") - F.col("v"))
            ).alias("term"),
        )
    )
    return terms.groupBy("source_a", "source_b").agg(
        F.max("na").alias("n_a"), F.max("nb").alias("n_b"),
        F.expr(
            "CAST(sum(term) * 1000 / (max(na) * max(nb)) AS BIGINT)"
        ).alias("wasserstein_milli"),
    )


@register("q_mann_whitney_u", """
WITH hist AS (
    SELECT source, n_chars AS v, count(*)::BIGINT AS c
    FROM documents
    WHERE source IN (SELECT source FROM (
        SELECT source, row_number() OVER (ORDER BY source) AS r
        FROM (SELECT DISTINCT source FROM documents)
    ) WHERE r <= 2)
    GROUP BY 1, 2
), sides AS (
    SELECT v,
           sum(CASE WHEN source = (SELECT min(source) FROM hist)
                    THEN c ELSE 0 END)::BIGINT AS ca,
           sum(CASE WHEN source != (SELECT min(source) FROM hist)
                    THEN c ELSE 0 END)::BIGINT AS cb
    FROM hist GROUP BY v
), walk AS (
    SELECT v, ca, cb,
           coalesce(sum(cb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               ::BIGINT AS cb_below
    FROM sides
), sums AS (
    SELECT sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb,
           sum(2 * ca * cb_below + ca * cb)::BIGINT AS u2
    FROM walk
)
SELECT na, nb, u2,
       round((u2 - na::DOUBLE * nb)
             / (2.0 * sqrt(na::DOUBLE * nb * (na + nb + 1) / 12.0)),
             4) AS z_stat
FROM sums
""")
def q_mann_whitney_u(spark, sf_dir):
    """Mann-Whitney U between the first two sources' doc-length
    distributions — the NONPARAMETRIC two-sample test (rank-based:
    no normality assumption, robust to the heavy tails that break
    q_welch_ttest's calibration; the pair is the standard report).
    The distributed trick: U needs ranks, but ranking 100 TB is a
    global sort — instead U = SIGMA_v ca(v)·(cb_below(v) + cb(v)/2)
    over the VALUE HISTOGRAM (ties get the half credit), computed
    here doubled (u2 = 2U) so everything stays integer. One window
    over the domain-bounded support relation; z uses the closed-form
    normal approximation (doubles from integers + IEEE sqrt, 4dp).
    The two-source cut is deterministic (min two source keys)."""
    docs = load_table(spark, sf_dir, "documents")
    srcs = (
        docs.select("source").distinct()
        .orderBy("source").limit(2)
    )
    hist = (
        docs.join(F.broadcast(srcs), "source")
        .groupBy("source", F.col("n_chars").alias("v"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    lo = srcs.agg(F.min("source").alias("src_a"))
    sides = (
        hist.crossJoin(F.broadcast(lo))
        .groupBy("v")
        .agg(
            F.sum(F.when(F.col("source") == F.col("src_a"),
                         F.col("c")).otherwise(0))
            .cast("long").alias("ca"),
            F.sum(F.when(F.col("source") != F.col("src_a"),
                         F.col("c")).otherwise(0))
            .cast("long").alias("cb"),
        )
    )
    w = (Window.orderBy("v")
         .rowsBetween(Window.unboundedPreceding, -1))
    walk = sides.select(
        "v", "ca", "cb",
        F.coalesce(F.sum("cb").over(w), F.lit(0)).cast("long")
        .alias("cb_below"),
    )
    sums = walk.agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
        F.sum(2 * F.col("ca") * F.col("cb_below")
              + F.col("ca") * F.col("cb")).cast("long").alias("u2"),
    )
    return sums.select(
        "na", "nb", "u2",
        F.expr(
            "round((u2 - CAST(na AS DOUBLE) * nb)"
            " / (2.0 * sqrt(CAST(na AS DOUBLE) * nb * (na + nb + 1)"
            " / 12.0)), 4)"
        ).alias("z_stat"),
    )


@register("q_hurst_exponent", f"""
WITH daily AS (
    SELECT epoch_us(ts) // {_DAY_US} AS day, count(*)::BIGINT AS x
    FROM events GROUP BY 1
), idx AS (
    SELECT x, row_number() OVER (ORDER BY day) - 1 AS i FROM daily
), blocks AS (
    SELECT w.w, i.i // w.w AS blk, i.i % w.w AS k, i.x
    FROM idx i, (SELECT unnest([{", ".join(map(str, _HURST_WINDOWS))}])
                 AS w) w
    WHERE i.i < (SELECT (count(*) // w.w) * w.w FROM idx)
), bstat AS (
    SELECT w, blk, sum(x)::BIGINT AS s, count(*)::BIGINT AS n,
           sum(x * x)::BIGINT AS ssq
    FROM blocks GROUP BY 1, 2
), cum AS (
    SELECT b.w, b.blk, b.k,
           sum(b.x) OVER (PARTITION BY b.w, b.blk
                          ORDER BY b.k)::BIGINT AS pre
    FROM blocks b
), dev AS (
    SELECT c.w, c.blk,
           max(c.pre * s.n - (c.k + 1) * s.s)::BIGINT AS mx,
           min(c.pre * s.n - (c.k + 1) * s.s)::BIGINT AS mn
    FROM cum c JOIN bstat s ON s.w = c.w AND s.blk = c.blk
    GROUP BY c.w, c.blk
), rs AS (
    SELECT d.w,
           round(avg((d.mx - d.mn)::DOUBLE
                 / (s.n * sqrt((s.n * s.ssq - s.s * s.s)::DOUBLE
                               / (s.n::DOUBLE * s.n)))), 6) AS rs_mean
    FROM dev d JOIN bstat s ON s.w = d.w AND s.blk = d.blk
    WHERE s.n * s.ssq - s.s * s.s > 0
    GROUP BY d.w
), pts AS (
    SELECT round(ln(w::DOUBLE), 6) AS lx,
           round(ln(rs_mean), 6) AS ly
    FROM rs
), fit AS (
    SELECT count(*)::BIGINT AS n,
           sum(lx::DECIMAL(18,6)) AS sx, sum(ly::DECIMAL(18,6)) AS sy,
           sum((lx::DECIMAL(18,6)) * (ly::DECIMAL(18,6))) AS sxy,
           sum((lx::DECIMAL(18,6)) * (lx::DECIMAL(18,6))) AS sxx
    FROM pts
)
SELECT n AS n_windows,
       round(((n * sxy - sx * sy) / (n * sxx - sx * sx))::DOUBLE, 4)
           AS hurst
FROM fit
""")
def q_hurst_exponent(spark, sf_dir):
    """Hurst exponent of the daily event series by rescaled-range
    (R/S) analysis — the long-memory diagnostic: H~0.5 is a random
    walk, H>0.5 means persistent trends (today's surge predicts
    tomorrow's), H<0.5 anti-persistent mean reversion; it decides
    whether naive day-over-day forecasting (q_forecast_backtest) is
    even admissible. Pipeline: block the series at {len(_HURST_WINDOWS)}
    window sizes, per block compute the range of cumulative
    deviations SCALED BY n (pre*n - k*s — the exact-integer identity,
    mean never materialized) over the IEEE-sqrt std, average R/S per
    size (6dp), then the log-log OLS slope in exact decimal. Scale
    shape: one fact pass to the calendar relation; blocks/windows
    multiply the CALENDAR (x{len(_HURST_WINDOWS)}), not the fact;
    the fit runs on {len(_HURST_WINDOWS)} points."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(F.expr(f"(ts div 1000) div {_DAY_US}").alias("day"))
        .groupBy("day")
        .agg(F.count("*").cast("long").alias("x"))
    )
    # r14 (guide §2.4/§5): idx is the CALENDAR relation (n_days rows),
    # but nd, blocks -> bstat, blocks -> cum, dev, rs each re-inlined
    # the events scan + daily agg + the global row_number window.
    # localCheckpoint the tiny relation: one fact pass total.
    idx = daily.select(
        "x",
        (F.row_number().over(Window.orderBy("day")) - 1).alias("i"),
    ).localCheckpoint()
    nd = idx.agg(F.count("*").alias("n_days"))
    ws = spark.createDataFrame(
        [(w,) for w in _HURST_WINDOWS], "w int")
    blocks = (
        idx.crossJoin(F.broadcast(ws))
        .crossJoin(F.broadcast(nd))
        .where(F.col("i") < (F.col("n_days") / F.col("w"))
               .cast("long") * F.col("w"))
        .select(
            "w", F.expr("i div w").alias("blk"),
            F.expr("i % w").alias("k"), "x",
        )
    )
    bstat = blocks.groupBy("w", "blk").agg(
        F.sum("x").cast("long").alias("s"),
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("ssq"),
    )
    wcum = Window.partitionBy("w", "blk").orderBy("k")
    cum = blocks.select(
        "w", "blk", "k",
        F.sum("x").over(wcum).cast("long").alias("pre"),
    )
    dev = (
        cum.join(bstat, ["w", "blk"])
        .groupBy("w", "blk")
        .agg(
            F.max(F.col("pre") * F.col("n")
                  - (F.col("k") + 1) * F.col("s"))
            .cast("long").alias("mx"),
            F.min(F.col("pre") * F.col("n")
                  - (F.col("k") + 1) * F.col("s"))
            .cast("long").alias("mn"),
        )
    )
    rs = (
        dev.join(bstat, ["w", "blk"])
        .where(F.col("n") * F.col("ssq") - F.col("s") * F.col("s") > 0)
        .groupBy("w")
        .agg(
            F.round(
                F.avg(
                    (F.col("mx") - F.col("mn")).cast("double")
                    / (
                        F.col("n")
                        * F.sqrt(
                            (F.col("n") * F.col("ssq")
                             - F.col("s") * F.col("s")).cast("double")
                            / (F.col("n").cast("double") * F.col("n"))
                        )
                    )
                ),
                6,
            ).alias("rs_mean")
        )
    )
    pts = rs.select(
        F.round(F.log(F.col("w").cast("double")), 6).alias("lx"),
        F.round(F.log("rs_mean"), 6).alias("ly"),
    )
    fit = pts.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("lx").cast("decimal(18,6)")).alias("sx"),
        F.sum(F.col("ly").cast("decimal(18,6)")).alias("sy"),
        F.sum(F.col("lx").cast("decimal(18,6)")
              * F.col("ly").cast("decimal(18,6)")).alias("sxy"),
        F.sum(F.col("lx").cast("decimal(18,6)")
              * F.col("lx").cast("decimal(18,6)")).alias("sxx"),
    )
    return fit.select(
        F.col("n").alias("n_windows"),
        F.expr(
            "round(CAST((n * sxy - sx * sy) / (n * sxx - sx * sx)"
            " AS DOUBLE), 4)"
        ).alias("hurst"),
    )


# ===================================================================
# §2.F continuation (round-7 session 2, batch J) — PII rollup /
# code detection / dedup savings / Kneser-Ney LM
# ===================================================================


@register("q_pii_frequency", f"""
SELECT source, count(*)::BIGINT AS n_docs,
       sum(len(regexp_extract_all(text, '{ta.RE_EMAIL}')))::BIGINT
           AS n_emails,
       sum(len(regexp_extract_all(text, '{ta.RE_PHONE}')))::BIGINT
           AS n_phones,
       sum(len(regexp_extract_all(text, '{ta.RE_SSN}')))::BIGINT
           AS n_ssns,
       sum(length(text))::BIGINT AS n_chars,
       ((sum(len(regexp_extract_all(text, '{ta.RE_EMAIL}')))
         + sum(len(regexp_extract_all(text, '{ta.RE_PHONE}')))
         + sum(len(regexp_extract_all(text, '{ta.RE_SSN}'))))
        * 1000000 // greatest(sum(length(text)), 1))::BIGINT
           AS pii_per_mchar
FROM documents GROUP BY source
""")
def q_pii_frequency(spark, sf_dir):
    """PII density per source (emails / phones / SSNs per million
    characters) — the compliance TRIAGE readout that decides which
    feeds need the expensive redaction pass (pii_redact) at all, and
    the per-source rate is what a data-protection review actually
    asks for. Same RE2-safe regexes as the redaction operator (one
    definition, text_analysis.py), pure JVM regexp counting in a
    single fact pass with map-side partial agg; |sources|-row
    output, integer ppm."""
    docs = load_table(spark, sf_dir, "documents")

    def _n(rx):
        return F.size(F.regexp_extract_all(F.col("text"), F.lit(rx), 0))

    agg = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(_n(ta.RE_EMAIL)).cast("long").alias("n_emails"),
        F.sum(_n(ta.RE_PHONE)).cast("long").alias("n_phones"),
        F.sum(_n(ta.RE_SSN)).cast("long").alias("n_ssns"),
        F.sum(F.length("text")).cast("long").alias("n_chars"),
    )
    return agg.withColumn(
        "pii_per_mchar",
        F.expr(
            "CAST((n_emails + n_phones + n_ssns) * 1000000"
            " div greatest(n_chars, 1) AS BIGINT)"
        ),
    )


@register("q_code_like_score", r"""
WITH feats AS (
    SELECT doc_id, source,
           greatest(length(text), 1) AS nc,
           len(regexp_extract_all(text, '[{}();=<>\[\]]'))::BIGINT
               AS n_sym,
           len(regexp_extract_all(text, '[0-9]'))::BIGINT AS n_dig,
           len(regexp_extract_all(lower(text), '[a-z]+'))::BIGINT
               AS n_words
    FROM documents
)
SELECT doc_id, source, n_sym, n_dig, n_words,
       (n_sym * 1000 // nc)::BIGINT AS sym_milli,
       (n_dig * 1000 // nc)::BIGINT AS dig_milli,
       ((n_sym * 3000 + n_dig * 1000) // nc)::BIGINT AS code_score_milli,
       ((n_sym * 3000 + n_dig * 1000) // nc >= 120) AS code_like
FROM feats
""")
def q_code_like_score(spark, sf_dir):
    """Code-vs-prose detection per document via structural character
    densities (bracket/operator symbols, digits) — the corpus-
    routing gate every mixed web crawl needs: code belongs in the
    code mix with code-aware tokenization, and prose-quality filters
    (Gopher, CCNet) mis-score it as garbage if it isn't routed out
    first. Heuristic is deliberately arithmetic (weighted integer
    milli densities with a fixed threshold) — the same shape
    production fast-paths use before an expensive classifier; all
    counts are single-pass JVM regexp, integer floor-div, no
    shuffle beyond the scan."""
    docs = load_table(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id", "source",
        F.greatest(F.length("text"), F.lit(1)).alias("nc"),
        F.size(F.regexp_extract_all(
            F.col("text"), F.lit(r"[{}();=<>\[\]]"), 0))
        .cast("long").alias("n_sym"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[0-9]"), 0))
        .cast("long").alias("n_dig"),
        F.size(parse.words("text"))
        .cast("long").alias("n_words"),
    )
    return feats.select(
        "doc_id", "source", "n_sym", "n_dig", "n_words",
        F.expr("CAST(n_sym * 1000 div nc AS BIGINT)").alias("sym_milli"),
        F.expr("CAST(n_dig * 1000 div nc AS BIGINT)").alias("dig_milli"),
        F.expr("CAST((n_sym * 3000 + n_dig * 1000) div nc AS BIGINT)")
        .alias("code_score_milli"),
        F.expr("(n_sym * 3000 + n_dig * 1000) div nc >= 120")
        .alias("code_like"),
    )


@register("q_dedup_token_savings", r"""
WITH toks AS (
    SELECT doc_id, source,
           md5(coalesce(array_to_string(
               regexp_extract_all(lower(text), '\S+'), ' '), ''))
               AS h,
           len(regexp_extract_all(lower(text), '\S+'))::BIGINT
               AS n_toks
    FROM documents
), canon AS (
    SELECT h, min(doc_id) AS keep_id FROM toks GROUP BY h
)
SELECT t.source,
       count(*)::BIGINT AS n_docs,
       sum(t.n_toks)::BIGINT AS tokens_total,
       sum(CASE WHEN t.doc_id = c.keep_id
                THEN t.n_toks ELSE 0 END)::BIGINT AS tokens_kept,
       ((sum(t.n_toks) - sum(CASE WHEN t.doc_id = c.keep_id
                                  THEN t.n_toks ELSE 0 END))
        * 1000000 // greatest(sum(t.n_toks), 1))::BIGINT
           AS savings_ppm
FROM toks t JOIN canon c USING (h)
GROUP BY t.source
""")
def q_dedup_token_savings(spark, sf_dir):
    """Token savings from exact dedup, per source — the CURATION
    ECONOMICS readout: dedup's cost is justified in training tokens
    saved, and 'source X is 38% duplicate tokens' is the number that
    re-orders the ingest roadmap (dedup observability counts DOCS;
    training budgets count TOKENS — heavy duplication of long docs
    hides in doc counts). Uses the canonical exact-dup rule (min
    doc_id per whitespace-normalized md5 — same ONE definition as
    dedup_exact), one hash-keyed join of the doc-level relation,
    integer ppm. Scale: doc-level rows only (never token-exploded —
    token counts come from size(regexp_extract_all) in the scan
    projection)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source",
        F.md5(
            F.coalesce(
                F.array_join(
                    parse.tokens("text"),
                    " ",
                ),
                F.lit(""),
            )
        ).alias("h"),
        F.size(parse.tokens("text"))
        .cast("long").alias("n_toks"),
    )
    canon = toks.groupBy("h").agg(F.min("doc_id").alias("keep_id"))
    return (
        toks.join(canon, "h")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("tokens_total"),
            F.sum(F.when(F.col("doc_id") == F.col("keep_id"),
                         F.col("n_toks")).otherwise(0))
            .cast("long").alias("tokens_kept"),
            F.expr(
                "CAST((sum(n_toks) - sum(CASE WHEN doc_id = keep_id"
                " THEN n_toks ELSE 0 END)) * 1000000"
                " div greatest(sum(n_toks), 1) AS BIGINT)"
            ).alias("savings_ppm"),
        )
    )


@register("q_kneser_ney_bigram", r"""
WITH toks AS (
    SELECT doc_id, i AS pos, ws[i] AS tok
    FROM (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
        FROM documents
    ), unnest(generate_series(1, len(ws))) AS t(i)
), bg AS (
    SELECT a.tok AS w1, b.tok AS w2, count(*)::BIGINT AS c
    FROM toks a JOIN toks b
      ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    GROUP BY 1, 2
), uni AS (
    SELECT w1, sum(c)::BIGINT AS c1,
           count(*)::BIGINT AS n1f
    FROM bg GROUP BY 1
), cont AS (
    SELECT w2, count(*)::BIGINT AS n1p FROM bg GROUP BY 1
), btypes AS (
    SELECT count(*)::BIGINT AS b_total FROM bg
), scored AS (
    SELECT g.w1, g.w2, g.c, u.c1,
           round((g.c - {d}) / u.c1
                 + ({d} * u.n1f / u.c1) * (ct.n1p::DOUBLE / bt.b_total),
                 6) AS p_kn,
           round(g.c::DOUBLE / u.c1, 6) AS p_mle
    FROM bg g JOIN uni u USING (w1) JOIN cont ct USING (w2),
         btypes bt
)
SELECT w1, w2, c, c1,
       CAST(round(p_kn * 1000000) AS BIGINT) AS p_kn_micro,
       CAST(round(p_mle * 1000000) AS BIGINT) AS p_mle_micro,
       CAST(rank AS BIGINT) AS rank
FROM (
    SELECT *, row_number() OVER (ORDER BY c DESC, w1, w2) AS rank
    FROM scored
) WHERE rank <= {k}
""".replace("{d}", _KN_D_SQL).replace("{k}", str(_KN_TOPK)))
def q_kneser_ney_bigram(spark, sf_dir):
    """Interpolated Kneser-Ney bigram probabilities vs MLE for the
    top-{k} bigrams — the LM-smoothing upgrade over the Laplace
    bigram model (q_bigram_logprob): KN backs off to CONTINUATION
    counts ('in how many contexts does w2 start?') rather than raw
    frequency, which is why it was the pre-neural state of the art
    and why its continuation statistics still power data-quality
    perplexity filters. All model relations are count rollups over
    the bigram relation (vocab²-bounded, actual size far below):
    absolute discount D={d}, lambda = D·N1+(w1·)/c(w1), Pcont =
    N1+(·w2)/|bigram types| — probabilities are doubles from exact
    integers rounded 6dp (no transcendentals). Adjacency via the
    (doc, pos)-keyed self-join (the repo's bigram recipe); top-k on
    the vocab-bounded scored relation.""".replace(
        "{k}", str(_KN_TOPK)).replace("{d}", str(_KN_D))
    # spread_scan (round 13): the posexplode tokenize ran on the
    # single local scan split (no-op on multi-split scans)
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        F.posexplode(parse.words("text")).alias("pos0", "tok"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    a = toks.select("doc_id", "pos", F.col("tok").alias("w1"))
    b = toks.select(
        "doc_id", (F.col("pos") - 1).alias("pos"),
        F.col("tok").alias("w2"))
    # r14: vacuously-true null guard (w1/w2 come from the explode —
    # never null) pins one filter set on all four consumer branches
    # (uni, cont, btypes, scored), so their copies of this aggregation
    # share ONE reused exchange instead of four inlined tokenize +
    # positional-self-join subtrees (same recipe as parse.doc_terms).
    bg = (
        a.join(b, ["doc_id", "pos"])
        .where(F.col("w1").isNotNull() & F.col("w2").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("c"))
    )
    uni = bg.groupBy("w1").agg(
        F.sum("c").cast("long").alias("c1"),
        F.count("*").cast("long").alias("n1f"),
    )
    cont = bg.groupBy("w2").agg(F.count("*").cast("long").alias("n1p"))
    btypes = bg.agg(F.count("*").cast("long").alias("b_total"))
    scored = (
        bg.join(uni, "w1").join(cont, "w2")
        .crossJoin(F.broadcast(btypes))
        .select(
            "w1", "w2", "c", "c1",
            F.expr(
                f"round((c - {_KN_D_SQL}) / c1"
                f" + ({_KN_D_SQL} * n1f / c1)"
                f" * (CAST(n1p AS DOUBLE) / b_total), 6)"
            ).alias("p_kn"),
            F.expr("round(CAST(c AS DOUBLE) / c1, 6)").alias("p_mle"),
        )
    )
    ranked = scored.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("c").desc(), "w1", "w2")),
    )
    return ranked.where(F.col("rank") <= _KN_TOPK).select(
        "w1", "w2", "c", "c1",
        F.expr("CAST(round(p_kn * 1000000) AS BIGINT)")
        .alias("p_kn_micro"),
        F.expr("CAST(round(p_mle * 1000000) AS BIGINT)")
        .alias("p_mle_micro"),
        F.col("rank").cast("long"),
    )


# ===================================================================
# §2.C/E continuation (round-7 session 2, batch K) — embedding
# geometry / association strength / recursive changepoints
# ===================================================================


@register("q_embedding_norms", """
WITH norms AS (
    SELECT vec_id, label,
           CAST(round(sqrt(list_inner_product(embedding::DOUBLE[],
                                              embedding::DOUBLE[]))
                      * 1000000.0) AS BIGINT) AS l2_norm_micro
    FROM embeddings
), med AS (
    SELECT CAST(round(2 * quantile_cont(l2_norm_micro, 0.5)) AS BIGINT)
               AS m2 FROM norms
), mad AS (
    SELECT CAST(round(2 * quantile_cont(
               abs(2 * n.l2_norm_micro - med.m2), 0.5)) AS BIGINT) AS d4
    FROM norms n, med
)
SELECT n.vec_id, n.label, n.l2_norm_micro,
       2 * n.l2_norm_micro - med.m2 AS dev_micro_x2,
       (20000 * abs(2 * n.l2_norm_micro - med.m2)
            > 44478 * mad.d4) AS is_outlier
FROM norms n, med, mad
""")
def q_embedding_norms(spark, sf_dir):
    """Embedding L2-norm distribution with MAD-based outlier flags —
    the vector-hygiene gate before ANY cosine workload: a near-zero
    norm means a dead/failed embedding (its cosine is noise), a
    huge norm distorts every un-normalized dot product, and the
    MAD (not sigma) criterion survives the very outliers it hunts.
    Parity (round-8 rewrite, rounded-comparison protocol sweep): the
    old 4dp-rounded norms made the median a midpoint of two 1e-4
    grid points — an odd multiple of 5e-5 about half the time, i.e.
    EXACTLY on the re-round's HALF_UP boundary, where Spark
    (BigDecimal on the shortest decimal repr) and DuckDB (scale by
    1e4 then round) measurably diverge. Now the norm is integer
    micro-units via the blessed round-to-INTEGER step (no
    pre-scaling asymmetry: both engines round the same double), the
    median is doubled-then-rounded (a+b exact in double for ints
    < 2^52), deviations are exact integers in 2x units, the MAD in
    4x units, and the flag |dev| > 3*1.4826*MAD becomes the exact
    integer predicate 20000*|dev2| > 44478*mad4. Scale: two
    aggregation passes over the per-vector relation, 1-row stats
    broadcast back — at 100 TB the medians swap to t-digest."""
    emb = load_table(spark, sf_dir, "embeddings")
    norms = emb.select(
        "vec_id", "label",
        F.expr(
            "CAST(round(sqrt(aggregate(zip_with(CAST(embedding AS"
            " ARRAY<DOUBLE>), CAST(embedding AS ARRAY<DOUBLE>),"
            " (a, b) -> a * b), 0.0D, (acc, x) -> acc + x))"
            " * 1000000.0) AS BIGINT)"
        ).alias("l2_norm_micro"),
    )
    med = norms.agg(
        F.expr(
            "CAST(round(2 * percentile(l2_norm_micro, 0.5)) AS BIGINT)"
        ).alias("m2"))
    mad = (
        norms.crossJoin(F.broadcast(med))
        .agg(
            F.expr(
                "CAST(round(2 * percentile(abs(2 * l2_norm_micro - m2),"
                " 0.5)) AS BIGINT)"
            ).alias("d4")
        )
    )
    return (
        norms.crossJoin(F.broadcast(med)).crossJoin(F.broadcast(mad))
        .select(
            "vec_id", "label", "l2_norm_micro",
            (2 * F.col("l2_norm_micro") - F.col("m2"))
            .alias("dev_micro_x2"),
            (20000 * F.abs(2 * F.col("l2_norm_micro") - F.col("m2"))
             > 44478 * F.col("d4")).alias("is_outlier"),
        )
    )


@register("q_cramers_v", f"""
WITH cells AS (
    SELECT event_type AS x, (epoch_us(ts) // {_DAY_US}) % 7 AS y,
           count(*)::BIGINT AS o
    FROM events GROUP BY 1, 2
), rt AS (SELECT x, sum(o)::BIGINT AS r FROM cells GROUP BY 1),
ct AS (SELECT y, sum(o)::BIGINT AS c FROM cells GROUP BY 1),
tot AS (SELECT sum(o)::BIGINT AS n FROM cells),
dims AS (
    SELECT (SELECT count(*) FROM rt)::BIGINT AS nr,
           (SELECT count(*) FROM ct)::BIGINT AS nc
), terms AS (
    SELECT round(
               ((ce.o * t.n - r.r * c.c)::DOUBLE
                * (ce.o * t.n - r.r * c.c))
               / (r.r::DOUBLE * c.c * t.n), 6) AS chi2_term,
           t.n
    FROM cells ce JOIN rt r USING (x) JOIN ct c USING (y), tot t
)
SELECT max(n) AS n_events,
       CAST(sum(chi2_term::DECIMAL(18,6)) * 1000000 AS BIGINT)
           AS chi2_micro,
       round(sqrt(sum(chi2_term::DECIMAL(18,6))::DOUBLE
                  / (max(n) * least((SELECT nr FROM dims) - 1,
                                    (SELECT nc FROM dims) - 1))), 4)
           AS cramers_v
FROM terms
""")
def q_cramers_v(spark, sf_dir):
    """Cramer's V between event type and day-of-week — the NORMALIZED
    association strength ([0,1], comparable across tables of any
    shape) that completes the contingency family: chi2 (q_chi2_drift)
    scales with n so it can't be thresholded portably, MI
    (q_mutual_information) is in nats — V is the one you put in a
    data contract. Parity: per-cell chi2 terms use the cross-
    multiplied integer numerator (o·n − r·c, exact) over the exact
    integer denominator, rounded 6dp, decimal-summed; V adds one
    IEEE sqrt rounded 4dp. One fact pass to the |types| x 7 table;
    margins broadcast."""
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.select(
            F.col("event_type").alias("x"),
            F.expr(f"((ts div 1000) div {_DAY_US}) % 7").alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count("*").cast("long").alias("o"))
    )
    rt = cells.groupBy("x").agg(F.sum("o").cast("long").alias("r"))
    ct = cells.groupBy("y").agg(F.sum("o").cast("long").alias("c"))
    tot = cells.agg(F.sum("o").cast("long").alias("n"))
    dims = (
        rt.agg(F.count("*").cast("long").alias("nr"))
        .crossJoin(ct.agg(F.count("*").cast("long").alias("nc")))
    )
    terms = (
        cells.join(F.broadcast(rt), "x").join(F.broadcast(ct), "y")
        .crossJoin(F.broadcast(tot))
        .select(
            "n",
            F.expr(
                "round((CAST(o * n - r * c AS DOUBLE)"
                " * (o * n - r * c))"
                " / (CAST(r AS DOUBLE) * c * n), 6)"
            ).alias("chi2_term"),
        )
    )
    return (
        terms.agg(
            F.max("n").alias("n_events"),
            F.expr(
                "CAST(sum(CAST(chi2_term AS DECIMAL(18,6))) * 1000000"
                " AS BIGINT)"
            ).alias("chi2_micro"),
            F.expr(
                "sum(CAST(chi2_term AS DECIMAL(18,6)))"
            ).alias("_chi2"),
        )
        .crossJoin(F.broadcast(dims))
        .select(
            "n_events", "chi2_micro",
            F.expr(
                "round(sqrt(CAST(_chi2 AS DOUBLE)"
                " / (n_events * least(nr - 1, nc - 1))), 4)"
            ).alias("cramers_v"),
        )
    )


@register("q_binary_segmentation", f"""
WITH daily AS (
    SELECT epoch_us(ts) // {_DAY_US} AS day, count(*)::BIGINT AS n
    FROM events GROUP BY 1
), tot AS (
    SELECT sum(n)::BIGINT AS total, count(*)::BIGINT AS n_days
    FROM daily
), walk1 AS (
    SELECT day, n,
           sum(n) OVER (ORDER BY day)::BIGINT AS pre,
           row_number() OVER (ORDER BY day)::BIGINT AS k
    FROM daily
), cus1 AS (
    SELECT w.day, w.n,
           (t.n_days * w.pre - w.k * t.total)::BIGINT AS s
    FROM walk1 w, tot t
), cp1 AS (
    SELECT day AS cp_day, s FROM cus1
    ORDER BY abs(s) DESC, day LIMIT 1
), sided AS (
    SELECT d.day, d.n,
           CASE WHEN d.day <= c.cp_day THEN 0 ELSE 1 END AS side
    FROM daily d, cp1 c
), stot AS (
    SELECT side, sum(n)::BIGINT AS total, count(*)::BIGINT AS n_days
    FROM sided GROUP BY 1
), walk2 AS (
    SELECT side, day, n,
           sum(n) OVER (PARTITION BY side ORDER BY day)::BIGINT AS pre,
           row_number() OVER (PARTITION BY side ORDER BY day)::BIGINT
               AS k
    FROM sided
), cus2 AS (
    SELECT w.side, w.day,
           (t.n_days * w.pre - w.k * t.total)::BIGINT AS s,
           t.n_days
    FROM walk2 w JOIN stot t USING (side)
), cp2 AS (
    SELECT side, day, s, n_days FROM (
        SELECT *, row_number() OVER (PARTITION BY side
                      ORDER BY abs(s) DESC, day) AS r
        FROM cus2
    ) WHERE r = 1
)
SELECT 1::BIGINT AS level, -1::BIGINT AS side, c.cp_day AS cp_day,
       c.s AS cusum_scaled, t.n_days AS segment_days
FROM cp1 c, tot t
UNION ALL
SELECT 2, side, day, s, n_days FROM cp2
""")
def q_binary_segmentation(spark, sf_dir):
    """Two-level binary segmentation of the daily series: the level-1
    CUSUM changepoint splits the timeline, then each half gets its
    own CUSUM argmax — the standard recursive changepoint scheme
    (Scott-Knott / binary segmentation step 2) that turns 'one
    break' into a piecewise-regime map; q_changepoint_cusum is the
    single-split primitive, this is its recursion, and the emitted
    per-segment statistics say whether to recurse further. The
    integer identity survives recursion because each segment re-
    scales by ITS OWN (n_days, total) — still no division, no mean
    materialized. Scale shape: one fact pass; every window runs on
    the calendar relation (level-2 windows partitioned by side);
    the level-1 argmax is a 1-row LIMIT broadcast back."""
    ev = load_table(spark, sf_dir, "events")
    # r14 (guide §2.4/§5): daily is the CALENDAR relation, consumed by
    # tot, walk1, sided (and through sided by stot and walk2) — each
    # re-inlined the events scan + daily agg (9 scans in the r13 plan
    # audit). localCheckpoint it: one fact pass, the recursion runs on
    # n_days rows.
    daily = (
        ev.select(F.expr(f"(ts div 1000) div {_DAY_US}").alias("day"))
        .groupBy("day")
        .agg(F.count("*").cast("long").alias("n"))
    ).localCheckpoint()
    tot = daily.agg(
        F.sum("n").cast("long").alias("total"),
        F.count("*").cast("long").alias("n_days"),
    )
    w1 = Window.orderBy("day")
    walk1 = daily.select(
        "day", "n",
        F.sum("n").over(w1).cast("long").alias("pre"),
        F.row_number().over(w1).cast("long").alias("k"),
    )
    cus1 = walk1.crossJoin(F.broadcast(tot)).select(
        "day", "n",
        (F.col("n_days") * F.col("pre") - F.col("k") * F.col("total"))
        .cast("long").alias("s"),
    )
    cp1 = (
        cus1.orderBy(F.abs(F.col("s")).desc(), "day").limit(1)
        .select(F.col("day").alias("cp_day"), "s")
    )
    sided = daily.crossJoin(F.broadcast(cp1)).select(
        "day", "n",
        F.when(F.col("day") <= F.col("cp_day"), 0).otherwise(1)
        .alias("side"),
    )
    stot = sided.groupBy("side").agg(
        F.sum("n").cast("long").alias("total"),
        F.count("*").cast("long").alias("n_days"),
    )
    w2 = Window.partitionBy("side").orderBy("day")
    walk2 = sided.select(
        "side", "day", "n",
        F.sum("n").over(w2).cast("long").alias("pre"),
        F.row_number().over(w2).cast("long").alias("k"),
    )
    cus2 = walk2.join(F.broadcast(stot), "side").select(
        "side", "day",
        (F.col("n_days") * F.col("pre") - F.col("k") * F.col("total"))
        .cast("long").alias("s"),
        "n_days",
    )
    cp2 = (
        cus2.withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("side")
                .orderBy(F.abs(F.col("s")).desc(), "day")),
        )
        .where(F.col("r") == 1)
        .select(
            F.lit(2).cast("long").alias("level"),
            F.col("side").cast("long"),
            F.col("day").alias("cp_day"),
            F.col("s").alias("cusum_scaled"),
            F.col("n_days").alias("segment_days"),
        )
    )
    lvl1 = cp1.crossJoin(F.broadcast(tot)).select(
        F.lit(1).cast("long").alias("level"),
        F.lit(-1).cast("long").alias("side"),
        "cp_day",
        F.col("s").alias("cusum_scaled"),
        F.col("n_days").alias("segment_days"),
    )
    return lvl1.unionAll(cp2)


@register("q_centroid_similarity", """
WITH cent AS (
    SELECT e.label, i.i AS dim,
           round(sum((e.embedding[i.i])::DECIMAL(18,9))::DOUBLE
                 / count(*), 5) AS v
    FROM embeddings e, unnest(generate_series(1, 8)) AS i(i)
    GROUP BY e.label, i.i
), pairs AS (
    SELECT a.label AS label_a, b.label AS label_b,
           sum((a.v::DECIMAL(18,5)) * (b.v::DECIMAL(18,5))) AS dot,
           sum((a.v::DECIMAL(18,5)) * (a.v::DECIMAL(18,5))) AS na,
           sum((b.v::DECIMAL(18,5)) * (b.v::DECIMAL(18,5))) AS nb
    FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
    GROUP BY 1, 2
)
SELECT label_a, label_b,
       CASE WHEN na = 0 OR nb = 0 THEN 0.0
            ELSE round(dot::DOUBLE / (sqrt(na::DOUBLE)
                                      * sqrt(nb::DOUBLE)), 4)
       END AS centroid_cosine
FROM pairs
""")
def q_centroid_similarity(spark, sf_dir):
    """Pairwise cosine between per-label embedding centroids (first 8
    dims — the q_label_centroids relation): the CLASS-GEOMETRY
    readout that predicts classifier confusability and drives
    cluster-merge decisions in semdedup-style pipelines — two labels
    whose centroids sit at cosine 0.99 are one concept, and the ANN
    index (knn_ivf) will thrash between them. EXACT until the last
    step: centroid components are the established 5dp-rounded
    decimal means, dot/norm accumulate those decimals exactly (no
    double sum anywhere), one IEEE sqrt pair + 4dp round at the end;
    zero-norm guard mirrors the Arrow kernel rule (0, never NaN).
    The pair join runs on the |labels| x 8 centroid relation —
    embeddings are scanned exactly once."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label",
        F.posexplode(F.slice("embedding", 1, 8)).alias("pos", "v"),
    )
    cent = (
        dims.select("label", (F.col("pos") + 1).alias("dim"), "v")
        .groupBy("label", "dim")
        .agg(
            F.round(
                F.sum(F.col("v").cast("decimal(18,9)")).cast("double")
                / F.count("*"),
                5,
            ).alias("v")
        )
    )
    a = cent.select(F.col("label").alias("label_a"), "dim",
                    F.col("v").alias("va"))
    b = cent.select(F.col("label").alias("label_b"), "dim",
                    F.col("v").alias("vb"))
    pairs = (
        a.join(b, "dim")
        .where(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(F.col("va").cast("decimal(18,5)")
                  * F.col("vb").cast("decimal(18,5)")).alias("dot"),
            F.sum(F.col("va").cast("decimal(18,5)")
                  * F.col("va").cast("decimal(18,5)")).alias("na"),
            F.sum(F.col("vb").cast("decimal(18,5)")
                  * F.col("vb").cast("decimal(18,5)")).alias("nb"),
        )
    )
    return pairs.select(
        "label_a", "label_b",
        F.expr(
            "CASE WHEN na = 0 OR nb = 0 THEN 0.0"
            " ELSE round(CAST(dot AS DOUBLE)"
            " / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))),"
            " 4) END"
        ).alias("centroid_cosine"),
    )


# ===================================================================
# §2.C continuation (round-7 session 2, batch L) — concentration
# point / arrival process / peaks / regime runs
# ===================================================================


@register("q_pareto_point", """
WITH rev AS (
    SELECT o_custkey,
           CAST(sum(o_totalprice::DECIMAL(18,6)) * 100 AS BIGINT)
               AS rev_cents
    FROM orders GROUP BY 1
), tot AS (
    SELECT sum(rev_cents)::BIGINT AS t, count(*)::BIGINT AS n,
           (1 + sum(rev_cents) // 1000000000000)::BIGINT AS s
    FROM rev
), walk AS (
    SELECT rev_cents,
           sum(rev_cents) OVER (ORDER BY rev_cents DESC, o_custkey)
               ::BIGINT AS cum,
           row_number() OVER (ORDER BY rev_cents DESC, o_custkey)
               ::BIGINT AS k
    FROM rev
), hit AS (
    SELECT w.k, w.cum, t.t, t.n, t.s
    FROM walk w, tot t
    WHERE (w.cum // t.s) * 100 >= (t.t // t.s) * 80
    ORDER BY w.k LIMIT 1
)
SELECT n AS n_customers, k AS k_top_customers,
       ((k * 1000000) // n)::BIGINT AS top_share_ppm,
       (((cum // s) * 1000000) // greatest(t // s, 1))::BIGINT
           AS revenue_covered_ppm
FROM hit
""")
def q_pareto_point(spark, sf_dir):
    """The Pareto point of customer revenue: the SMALLEST top-k
    customer set covering >= 80% of revenue, as a ppm of the
    customer base — the single number behind 'is this an 80/20
    business?', and the readout that sizes key-account programs and
    concentration-risk limits (q_lorenz_curve shows the whole
    curve; this extracts the decision point). Exact: decimal-cent
    revenue, descending cumulative walk with a deterministic
    (revenue, custkey) order, the crossing row picked by an integer
    cross-multiplied predicate ((cum//s)·100 >= (t//s)·80 — no
    percentage double; s = 1 + t // 1e12 is the round-8 scale guard,
    1 until totals reach 1e12 cents, engine-identical at any size).
    The walk's window runs on the per-customer relation (same
    documented trade as q_lorenz_curve's ntile)."""
    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.expr(
            "CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) * 100"
            " AS BIGINT)"
        ).alias("rev_cents")
    )
    tot = rev.agg(
        F.sum("rev_cents").cast("long").alias("t"),
        F.count("*").cast("long").alias("n"),
        F.expr("CAST(1 + sum(rev_cents) div 1000000000000 AS BIGINT)")
        .alias("s"),
    )
    w = Window.orderBy(F.col("rev_cents").desc(), "o_custkey")
    walk = rev.select(
        "rev_cents",
        F.sum("rev_cents").over(w).cast("long").alias("cum"),
        F.row_number().over(w).cast("long").alias("k"),
    )
    hit = (
        walk.crossJoin(F.broadcast(tot))
        .where(F.expr("(cum div s) * 100 >= (t div s) * 80"))
        .orderBy("k").limit(1)
    )
    return hit.select(
        F.col("n").alias("n_customers"),
        F.col("k").alias("k_top_customers"),
        F.expr("CAST((k * 1000000) div n AS BIGINT)")
        .alias("top_share_ppm"),
        F.expr(
            "CAST(((cum div s) * 1000000) div greatest(t div s, 1)"
            " AS BIGINT)"
        ).alias("revenue_covered_ppm"),
    )


@register("q_interarrival_cv", """
WITH ordered AS (
    SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
           lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
                                   ORDER BY epoch_us(ts), event_id)
               AS prev_us
    FROM events
), gaps AS (
    SELECT event_type, (ts_us - prev_us) // 1000 AS g_ms
    FROM ordered WHERE prev_us IS NOT NULL
), sums AS (
    SELECT event_type, count(*)::BIGINT AS n_gaps,
           sum(g_ms)::BIGINT AS s,
           sum(g_ms::DECIMAL(38,0) * g_ms) AS ssq
    FROM gaps GROUP BY 1
)
SELECT event_type, n_gaps,
       ((s * 1000) // n_gaps)::BIGINT AS mean_gap_us,
       round(sqrt(greatest((n_gaps * ssq
                            - s::DECIMAL(38,0) * s)::DOUBLE, 0))
             / s, 4) AS cv
FROM sums
""")
def q_interarrival_cv(spark, sf_dir):
    """Inter-arrival-time coefficient of variation per event type —
    the arrival-process fingerprint capacity planning reads before
    choosing a queueing model: CV~1 is Poisson (memoryless — the
    M/M/c assumptions hold), CV>1 is bursty (provision for the
    bursts, not the mean), CV<1 is scheduled/regular (a cron, not
    humans). Per-(user, type) gaps via the repo's lag recipe (the
    partitioned window — one shuffle); gaps in integer MILLISECONDS
    (the data's granularity), squares accumulated in DECIMAL(38,0)
    so month-long gaps cannot overflow, and CV = sqrt(n·ssq − s²)/s
    — algebraically sqrt(var)/mean with ONE IEEE sqrt over an exact
    integer, identical both engines, rounded 4dp; the mean is
    reported in integer microseconds."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id",
        F.expr("ts div 1000").alias("ts_us"),
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts_us", "event_id")
    gaps = (
        ev.withColumn("prev_us", F.lag("ts_us").over(w))
        .where(F.col("prev_us").isNotNull())
        .select(
            "event_type",
            F.expr("(ts_us - prev_us) div 1000").alias("g_ms"),
        )
    )
    sums = gaps.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.sum("g_ms").cast("long").alias("s"),
        F.sum(F.col("g_ms").cast("decimal(38,0)") * F.col("g_ms"))
        .alias("ssq"),
    )
    return sums.select(
        "event_type", "n_gaps",
        F.expr("(s * 1000) div n_gaps").cast("long")
        .alias("mean_gap_us"),
        F.expr(
            "round(sqrt(greatest(CAST(n_gaps * ssq"
            " - CAST(s AS DECIMAL(38,0)) * s AS DOUBLE), 0))"
            " / s, 4)"
        ).alias("cv"),
    )


@register("q_peak_detection", f"""
WITH daily AS (
    SELECT event_type, epoch_us(ts) // {_DAY_US} AS day,
           count(*)::BIGINT AS n
    FROM events GROUP BY 1, 2
), ctx AS (
    SELECT event_type, day, n,
           lag(n) OVER (PARTITION BY event_type ORDER BY day) AS pn,
           lead(n) OVER (PARTITION BY event_type ORDER BY day) AS nn
    FROM daily
), med AS (
    SELECT event_type, round(quantile_cont(n, 0.5), 4) AS m
    FROM daily GROUP BY 1
)
SELECT c.event_type, c.day, c.n,
       c.pn AS prev_n, c.nn AS next_n
FROM ctx c JOIN med m USING (event_type)
WHERE c.pn IS NOT NULL AND c.nn IS NOT NULL
  AND c.n > c.pn AND c.n > c.nn
  AND c.n * 10 > m.m * 12
""")
def q_peak_detection(spark, sf_dir):
    """Local-peak detection on the daily series per event type: a day
    strictly above both neighbors AND 20% above the series median —
    the change-calendar primitive (launch days, incident spikes,
    campaign hits) that global anomaly scores smear out because a
    local peak need not be a global outlier. Strict-neighbor
    comparison via lag/lead on the type-partitioned calendar
    relation; the prominence floor is the integer cross-multiplied
    predicate n·10 > median·12 against the 4dp-rounded exact median
    (no percentage double). One fact pass; everything else
    calendar-sized."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.expr(f"(ts div 1000) div {_DAY_US}").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count("*").cast("long").alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    ctx = daily.select(
        "event_type", "day", "n",
        F.lag("n").over(w).alias("pn"),
        F.lead("n").over(w).alias("nn"),
    )
    med = daily.groupBy("event_type").agg(
        F.round(F.percentile("n", F.lit(0.5)), 4).alias("m"))
    return (
        ctx.join(F.broadcast(med), "event_type")
        .where(
            F.col("pn").isNotNull() & F.col("nn").isNotNull()
            & (F.col("n") > F.col("pn")) & (F.col("n") > F.col("nn"))
            & (F.col("n") * 10 > F.col("m") * 12)
        )
        .select("event_type", "day", "n",
                F.col("pn").alias("prev_n"),
                F.col("nn").alias("next_n"))
    )


@register("q_regime_runs", f"""
WITH daily AS (
    SELECT event_type, epoch_us(ts) // {_DAY_US} AS day,
           count(*)::BIGINT AS n
    FROM events GROUP BY 1, 2
), med AS (
    SELECT event_type, round(quantile_cont(n, 0.5), 4) AS m
    FROM daily GROUP BY 1
), signed AS (
    SELECT d.event_type, d.day,
           CASE WHEN d.n > m.m THEN 1 ELSE 0 END AS up
    FROM daily d JOIN med m USING (event_type)
), islands AS (
    SELECT event_type, day, up,
           day - row_number() OVER (PARTITION BY event_type, up
                                    ORDER BY day) AS grp
    FROM signed
), runs AS (
    SELECT event_type, up, grp, count(*)::BIGINT AS run_len,
           min(day)::BIGINT AS run_start
    FROM islands GROUP BY 1, 2, 3
)
SELECT event_type, up::BIGINT AS above_median,
       count(*)::BIGINT AS n_runs,
       max(run_len)::BIGINT AS longest_run,
       min(CASE WHEN run_len = (SELECT max(r2.run_len) FROM runs r2
                                WHERE r2.event_type = runs.event_type
                                  AND r2.up = runs.up)
                THEN run_start END)::BIGINT AS longest_run_start
FROM runs GROUP BY 1, 2
""")
def q_regime_runs(spark, sf_dir):
    """WHERE the regimes live: per event type, the count and LONGEST
    run of consecutive above/below-median days (with the start day
    of the longest run) — the locator companion to q_runs_test,
    which only says THAT the series is sticky; incident reviews and
    seasonality audits need the actual windows. Gaps-and-islands on
    the type-partitioned calendar relation (day − row_number per
    (type, side)), runs rolled up twice; the longest-run start uses
    a deterministic min-over-ties rule identical in both engines.
    One fact pass; all windows calendar-sized."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.expr(f"(ts div 1000) div {_DAY_US}").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count("*").cast("long").alias("n"))
    )
    med = daily.groupBy("event_type").agg(
        F.round(F.percentile("n", F.lit(0.5)), 4).alias("m"))
    signed = daily.join(F.broadcast(med), "event_type").select(
        "event_type", "day",
        F.when(F.col("n") > F.col("m"), 1).otherwise(0).alias("up"),
    )
    islands = signed.withColumn(
        "grp",
        F.col("day")
        - F.row_number().over(
            Window.partitionBy("event_type", "up").orderBy("day")),
    )
    runs = islands.groupBy("event_type", "up", "grp").agg(
        F.count("*").cast("long").alias("run_len"),
        F.min("day").cast("long").alias("run_start"),
    )
    longest = runs.groupBy("event_type", "up").agg(
        F.max("run_len").alias("max_len"))
    return (
        runs.join(longest, ["event_type", "up"])
        .groupBy("event_type", F.col("up").cast("long")
                 .alias("above_median"))
        .agg(
            F.count("*").cast("long").alias("n_runs"),
            F.max("run_len").cast("long").alias("longest_run"),
            F.min(
                F.when(F.col("run_len") == F.col("max_len"),
                       F.col("run_start"))
            ).cast("long").alias("longest_run_start"),
        )
    )


# ===================================================================
# §2.D/E/C continuation (round-7 session 2, batch M) — power-law
# fit / dim pruning / modularity / purchase cadence
# ===================================================================


@register("q_powerlaw_alpha", _CC_CTES + """
, comps AS (
    SELECT id, min(label) AS component_id FROM walk GROUP BY id
), sizes AS (
    SELECT component_id, count(*)::BIGINT AS s
    FROM comps GROUP BY 1
), xm AS (
    SELECT min(s)::BIGINT AS x_min, count(*)::BIGINT AS n_clusters
    FROM sizes
), fit AS (
    SELECT max(x.n_clusters) AS n_clusters, max(x.x_min) AS x_min,
           sum(CAST(round(ln(z.s::DOUBLE / x.x_min), 6)
                    AS DECIMAL(18,6))) AS log_sum
    FROM sizes z, xm x
)
SELECT n_clusters, x_min,
       CASE WHEN log_sum = 0 THEN NULL
            ELSE CAST(round(1000000.0 * (1.0 + n_clusters
                      / log_sum::DOUBLE)) AS BIGINT)
       END AS alpha_micro
FROM fit
""")
def q_powerlaw_alpha(spark, sf_dir):
    """Clauset-Shalizi-Newman MLE power-law exponent of the near-dup
    CLUSTER-SIZE distribution: alpha = 1 + n / SIGMA ln(x/xmin) —
    the one-number answer to 'is duplication dominated by a few
    template families?' (alpha < 2 means the largest clusters carry
    most of the duplicated mass — plan the dedup pass around them;
    alpha > 3 means noise-level duplication). Completes the dedup
    observability family: q_dedup_cluster_sizes shows the histogram,
    this fits it. Parity: per-cluster ln(s/xmin) rounded 6dp then
    decimal-summed (the unigram-surprisal recipe), alpha reported in
    integer micro (NULL for the degenerate all-minimum-size
    distribution — same rule both engines). Runs on the memoized
    components artifact; everything after is ≤|clusters| rows."""
    comps = _corpus_components(spark, sf_dir)
    sizes = comps.groupBy("component_id").agg(
        F.count("*").cast("long").alias("s"))
    xmin = sizes.agg(F.min("s").alias("x_min"),
                     F.count("*").cast("long").alias("n_clusters"))
    fit = (
        sizes.crossJoin(F.broadcast(xmin))
        .agg(
            F.max("n_clusters").alias("n_clusters"),
            F.max("x_min").alias("x_min"),
            F.sum(
                F.expr(
                    "CAST(round(ln(CAST(s AS DOUBLE) / x_min), 6)"
                    " AS DECIMAL(18,6))"
                )
            ).alias("log_sum"),
        )
    )
    return fit.select(
        "n_clusters", "x_min",
        F.expr(
            "CASE WHEN log_sum = 0 THEN NULL"
            " ELSE CAST(round(1000000.0 * (1.0 + n_clusters"
            " / CAST(log_sum AS DOUBLE))) AS BIGINT) END"
        ).alias("alpha_micro"),
    )


@register("q_dim_variance_prune", """
WITH e AS (
    SELECT unnest(generate_series(1, len(embedding))) AS i, embedding
    FROM embeddings
), stats AS (
    SELECT (i - 1)::BIGINT AS dim, count(*)::BIGINT AS n,
           sum((embedding[i])::DOUBLE::DECIMAL(18,9)) AS s,
           sum(((embedding[i])::DOUBLE::DECIMAL(18,9))
               * ((embedding[i])::DOUBLE::DECIMAL(18,9))) AS ssq
    FROM e GROUP BY 1
), scored AS (
    SELECT dim, n,
           CAST(round((n * ssq - s * s)::DOUBLE / (n::DOUBLE * n)
                      * 1000000000.0) AS BIGINT) AS variance_nano
    FROM stats
), med AS (
    SELECT CAST(round(2 * quantile_cont(variance_nano, 0.5)) AS BIGINT)
               AS m2 FROM scored
)
SELECT s.dim, s.n, s.variance_nano,
       (200 * s.variance_nano < m.m2) AS prune_candidate
FROM scored s, med m
""")
def q_dim_variance_prune(spark, sf_dir):
    """Near-zero-variance embedding dimensions — the feature-pruning
    audit before ANN indexing or quantization: a dimension whose
    variance sits two orders below the median carries no signal but
    still costs distance-compute and quantizer codebook space
    (q_embedding_dim_stats reports ranges; variance is what actually
    decides pruning). EXACT variance: per-element decimal(18,9)
    sums and sum-of-squares (the centroid recipe), the n*ssq - s^2
    identity in decimal, then ONE double division scaled to integer
    nano-units via the blessed round-to-INTEGER step (round-8
    protocol sweep: the old round(..., 9) put the median — a
    midpoint of two 1e-9 grid points, i.e. a 5e-10 half-grid value
    about half the time — exactly on the HALF_UP boundary where the
    engines' round(double, k) implementations diverge). The median
    is doubled-then-rounded (exact for ints < 2^52) and the prune
    flag is the exact integer predicate 200*v_nano < med_x2. One
    explode pass; dim-sized relation after."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>"))
        .alias("dim", "v"))
    stats = dims.groupBy("dim").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("v").cast("decimal(18,9)")).alias("s"),
        F.sum(F.col("v").cast("decimal(18,9)")
              * F.col("v").cast("decimal(18,9)")).alias("ssq"),
    )
    scored = stats.select(
        F.col("dim").cast("long"), "n",
        F.expr(
            "CAST(round(CAST(n * ssq - s * s AS DOUBLE)"
            " / (CAST(n AS DOUBLE) * n) * 1000000000.0) AS BIGINT)"
        ).alias("variance_nano"),
    )
    med = scored.agg(
        F.expr(
            "CAST(round(2 * percentile(variance_nano, 0.5)) AS BIGINT)"
        ).alias("m2"))
    return scored.crossJoin(F.broadcast(med)).select(
        "dim", "n", "variance_nano",
        (200 * F.col("variance_nano") < F.col("m2"))
        .alias("prune_candidate"),
    )


@register("q_graph_modularity", _CC_CTES + """
, src AS (
    SELECT doc_id, source FROM documents
), typed AS (
    SELECT e.a, e.b, sa.source AS src_a, sb.source AS src_b
    FROM edges e JOIN src sa ON sa.doc_id = e.a
    JOIN src sb ON sb.doc_id = e.b
), m2 AS (
    SELECT count(*)::BIGINT AS m2 FROM typed
), within AS (
    SELECT src_a AS source, count(*)::BIGINT AS e_in
    FROM typed WHERE src_a = src_b GROUP BY 1
), degsum AS (
    SELECT src_a AS source, count(*)::BIGINT AS d
    FROM typed GROUP BY 1
)
SELECT d.source,
       coalesce(w.e_in, 0) AS within_edges, d.d AS degree_sum,
       t.m2 AS total_directed_edges,
       (coalesce(w.e_in, 0) * 1000000 // t.m2
        - (d.d * d.d * 1000000) // (t.m2 * t.m2))::BIGINT
           AS modularity_contrib_micro
FROM degsum d LEFT JOIN within w USING (source), m2 t
""")
def q_graph_modularity(spark, sf_dir):
    """Newman modularity of the near-dup graph under the SOURCE
    partition: per source, e_ii − a_i² in integer micro — 'do
    near-duplicates stay inside their source?' A high-modularity
    graph deduplicates shard-locally (partition by source, skip the
    global shuffle); modularity ~0 means cross-source copying and
    the dedup pass must stay global — this one number picks the
    topology. ALL-INTEGER: within-community edge shares and squared
    degree shares both floor-divide at 1e6 over the directed edge
    count; the global Q is the sum of the emitted contributions.
    Consumes the memoized pair artifact; the source map joins
    doc-keyed, then everything is |sources|-row."""
    pairs = _jaccard_pairs(spark, sf_dir)
    edges = pairs.select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    ).unionAll(pairs.select(F.col("doc_b").alias("a"),
                            F.col("doc_a").alias("b")))
    src = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source")
    typed = (
        edges.join(src.withColumnRenamed("doc_id", "a")
                   .withColumnRenamed("source", "src_a"), "a")
        .join(src.withColumnRenamed("doc_id", "b")
              .withColumnRenamed("source", "src_b"), "b")
    )
    m2 = typed.agg(F.count("*").cast("long").alias("m2"))
    within = (
        typed.where(F.col("src_a") == F.col("src_b"))
        .groupBy(F.col("src_a").alias("source"))
        .agg(F.count("*").cast("long").alias("e_in"))
    )
    degsum = typed.groupBy(F.col("src_a").alias("source")).agg(
        F.count("*").cast("long").alias("d"))
    return (
        degsum.join(within, "source", "left")
        .crossJoin(F.broadcast(m2))
        .select(
            "source",
            F.coalesce(F.col("e_in"), F.lit(0)).cast("long")
            .alias("within_edges"),
            F.col("d").alias("degree_sum"),
            F.col("m2").alias("total_directed_edges"),
            F.expr(
                "CAST(coalesce(e_in, 0) * 1000000 div m2"
                " - (d * d * 1000000) div (m2 * m2) AS BIGINT)"
            ).alias("modularity_contrib_micro"),
        )
    )


@register("q_repeat_purchase_interval", f"""
WITH seq AS (
    SELECT o.o_custkey, c.c_mktsegment,
           epoch_us(o.o_orderdate) AS t_us,
           lag(epoch_us(o.o_orderdate))
               OVER (PARTITION BY o.o_custkey
                     ORDER BY epoch_us(o.o_orderdate), o.o_orderkey)
               AS prev_us
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
), gaps AS (
    SELECT c_mktsegment, (t_us - prev_us) // {_DAY_US} AS gap_days
    FROM seq WHERE prev_us IS NOT NULL
)
SELECT c_mktsegment, count(*)::BIGINT AS n_intervals,
       round(quantile_cont(gap_days, 0.5), 4) AS median_gap_days,
       (sum(gap_days) * 1000 // count(*))::BIGINT
           AS mean_gap_milli_days,
       sum(CASE WHEN gap_days <= 30 THEN 1 ELSE 0 END)::BIGINT
           AS n_within_30d
FROM gaps GROUP BY 1
""")
def q_repeat_purchase_interval(spark, sf_dir):
    """Repeat-purchase cadence per market segment: the distribution
    of days between a customer's consecutive orders — the
    replenishment-cycle readout behind reorder reminders, churn
    definitions ('inactive' should mean 2-3x the segment's median
    gap, not an arbitrary 90 days) and inventory cadence. Gaps via
    the per-customer lag window (customer-keyed partitions — one
    shuffle, same recipe as sessionize), integer day arithmetic,
    exact interpolated median, integer milli mean. The customer join
    carries no broadcast hint (customer is SF-scaling — AQE
    decides, the repo rule)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey",
        F.unix_micros(F.col("o_orderdate").cast("timestamp"))
        .alias("t_us"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
    w = Window.partitionBy("o_custkey").orderBy("t_us", "o_orderkey")
    seq = (
        orders.join(cust, "o_custkey")
        .withColumn("prev_us", F.lag("t_us").over(w))
    )
    gaps = seq.where(F.col("prev_us").isNotNull()).select(
        "c_mktsegment",
        F.expr(f"(t_us - prev_us) div {_DAY_US}").alias("gap_days"),
    )
    return gaps.groupBy("c_mktsegment").agg(
        F.count("*").cast("long").alias("n_intervals"),
        F.round(F.percentile("gap_days", F.lit(0.5)), 4)
        .alias("median_gap_days"),
        F.expr("CAST(sum(gap_days) * 1000 div count(*) AS BIGINT)")
        .alias("mean_gap_milli_days"),
        F.sum(F.when(F.col("gap_days") <= 30, 1).otherwise(0))
        .cast("long").alias("n_within_30d"),
    )


@register("q_t_closeness", """
WITH sens AS (
    SELECT event_type, (epoch_us(ts) // 3600000000) % 24 AS hod,
           CAST(floor(value / 50) AS BIGINT) AS band
    FROM events
), gdist AS (
    SELECT band, count(*)::BIGINT AS gc FROM sens GROUP BY 1
), gtot AS (SELECT sum(gc)::BIGINT AS gn,
                   count(*)::BIGINT AS m FROM gdist),
classes AS (
    SELECT event_type, hod, count(*)::BIGINT AS cn
    FROM sens GROUP BY 1, 2
), grid AS (
    SELECT c.event_type, c.hod, c.cn, g.band, g.gc
    FROM classes c CROSS JOIN gdist g
), cell AS (
    SELECT s.event_type, s.hod, s.band, count(*)::BIGINT AS cc
    FROM sens s GROUP BY 1, 2, 3
), walk AS (
    SELECT g.event_type, g.hod, g.band, g.cn,
           sum(coalesce(ce.cc, 0)) OVER (PARTITION BY g.event_type,
               g.hod ORDER BY g.band)::BIGINT AS cum_c,
           sum(g.gc) OVER (PARTITION BY g.event_type, g.hod
               ORDER BY g.band)::BIGINT AS cum_g
    FROM grid g LEFT JOIN cell ce
      ON ce.event_type = g.event_type AND ce.hod = g.hod
     AND ce.band = g.band
), emd AS (
    SELECT w.event_type, w.hod, max(w.cn) AS class_n,
           sum(abs(w.cum_c * t.gn - w.cum_g * w.cn))::BIGINT AS raw
    FROM walk w, gtot t
    GROUP BY 1, 2
)
SELECT e.event_type, e.hod::BIGINT AS hour_of_day, e.class_n,
       ((e.raw * 1000000) // (e.class_n * t.gn * (t.m - 1)))::BIGINT
           AS t_ppm,
       ((e.raw * 1000000) // (e.class_n * t.gn * (t.m - 1))
            > {tppm}) AS violates_t
FROM emd e, gtot t
""".replace("{tppm}", str(_TCLOSE_T_PPM)))
def q_t_closeness(spark, sf_dir):
    """t-closeness audit (Li et al.) completing the privacy ladder:
    k-anonymity bounds GROUP SIZE, l-diversity bounds VALUE VARIETY,
    t-closeness bounds what an attacker LEARNS — the ordered-EMD
    between each equivalence class's sensitive-value distribution
    (value bands) and the global one, normalized by (m-1). A class
    whose distribution sits far from the population leaks the
    sensitive attribute even if it is large and diverse. ALL-INTEGER
    ordered EMD: per-band cumulative diffs as cross-multiplied
    integers |cumC·N − cumG·nC| summed exactly, one ppm floor-div at
    the end; class×band grid built from two SMALL relations (classes
    ≤ |types|·24, bands domain-bounded) so absent cells cost a left
    join, not a fact blowup."""
    ev = load_table(spark, sf_dir, "events")
    sens = ev.select(
        "event_type",
        (F.expr("(ts div 1000) div 3600000000") % 24).alias("hod"),
        F.expr("CAST(floor(value / 50) AS BIGINT)").alias("band"),
    )
    gdist = sens.groupBy("band").agg(
        F.count("*").cast("long").alias("gc"))
    gtot = gdist.agg(F.sum("gc").cast("long").alias("gn"),
                     F.count("*").cast("long").alias("m"))
    classes = sens.groupBy("event_type", "hod").agg(
        F.count("*").cast("long").alias("cn"))
    cell = sens.groupBy("event_type", "hod", "band").agg(
        F.count("*").cast("long").alias("cc"))
    grid = classes.crossJoin(F.broadcast(gdist))
    w = Window.partitionBy("event_type", "hod").orderBy("band")
    walk = (
        grid.join(cell, ["event_type", "hod", "band"], "left")
        .select(
            "event_type", "hod", "band", "cn",
            F.sum(F.coalesce(F.col("cc"), F.lit(0))).over(w)
            .cast("long").alias("cum_c"),
            F.sum("gc").over(w).cast("long").alias("cum_g"),
        )
    )
    emd = (
        walk.crossJoin(F.broadcast(gtot))
        .groupBy("event_type", "hod")
        .agg(
            F.max("cn").alias("class_n"),
            F.sum(F.abs(F.col("cum_c") * F.col("gn")
                        - F.col("cum_g") * F.col("cn")))
            .cast("long").alias("raw"),
            F.max("gn").alias("gn"), F.max("m").alias("m"),
        )
    )
    return emd.select(
        "event_type", F.col("hod").cast("long").alias("hour_of_day"),
        "class_n",
        F.expr(
            "CAST((raw * 1000000) div (class_n * gn * (m - 1))"
            " AS BIGINT)"
        ).alias("t_ppm"),
        F.expr(
            f"(raw * 1000000) div (class_n * gn * (m - 1))"
            f" > {_TCLOSE_T_PPM}"
        ).alias("violates_t"),
    )


@register("q_catalog_coverage", """
WITH ordered_parts AS (
    SELECT DISTINCT l_partkey FROM lineitem
), flags AS (
    SELECT p.p_brand,
           CASE WHEN o.l_partkey IS NULL THEN 0 ELSE 1 END AS sold
    FROM part p LEFT JOIN ordered_parts o ON o.l_partkey = p.p_partkey
)
SELECT p_brand, count(*)::BIGINT AS n_parts,
       sum(sold)::BIGINT AS n_sold,
       (count(*) - sum(sold))::BIGINT AS n_never_sold,
       ((sum(sold) * 1000000) // count(*))::BIGINT AS coverage_ppm
FROM flags GROUP BY 1
""")
def q_catalog_coverage(spark, sf_dir):
    """Catalog coverage per brand: the share of parts that have EVER
    sold — the assortment-health readout (dead SKUs tie up catalog,
    storage and search space; a brand at 40% coverage needs pruning
    before it needs promotion). The distinct-partkey relation
    collapses the fact FIRST (far smaller than lineitem), then one
    left join against the part dim flags dead SKUs — the classic
    coverage anti-join expressed as a null-flag so sold and dead
    roll up in ONE pass. Integer ppm; |brands|-row output."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey").distinct()
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand")
    flags = part.join(li.withColumn("sold", F.lit(1)),
                      "l_partkey", "left")
    return flags.groupBy("p_brand").agg(
        F.count("*").cast("long").alias("n_parts"),
        F.sum(F.coalesce(F.col("sold"), F.lit(0))).cast("long")
        .alias("n_sold"),
        (F.count("*") - F.sum(F.coalesce(F.col("sold"), F.lit(0))))
        .cast("long").alias("n_never_sold"),
        F.expr(
            "CAST((sum(coalesce(sold, 0)) * 1000000) div count(*)"
            " AS BIGINT)"
        ).alias("coverage_ppm"),
    )


@register("q_unit_price_dispersion", """
WITH up AS (
    SELECT p.p_brand,
           CAST(round(round(l.l_extendedprice / l.l_quantity, 6)
                      * 1000000) AS BIGINT) AS u6
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_quantity > 0
), sums AS (
    SELECT p_brand, count(*)::BIGINT AS n,
           sum(u6)::BIGINT AS s,
           sum(u6::DECIMAL(38,0) * u6) AS ssq
    FROM up GROUP BY 1
)
SELECT p_brand, n,
       (s // n)::BIGINT AS mean_micro,
       round(sqrt(greatest(n::DOUBLE * ssq::DOUBLE
                           - s::DOUBLE * s::DOUBLE, 0))
             / s::DOUBLE, 4) AS cv
FROM sums WHERE s > 0
""")
def q_unit_price_dispersion(spark, sf_dir):
    """Unit-price dispersion per brand (CV of price-per-unit across
    line items) — the pricing-consistency audit: high dispersion
    inside one brand means discount leakage, channel conflict, or
    data errors (the audit that catches a misplaced decimal before
    it trains a demand model). Parity: the unit price is rounded to
    6dp ONCE (same double both engines) then becomes an exact
    integer MICRO unit price; sums are BIGINT, squares accumulate in
    DECIMAL(38,0) (the interarrival-CV recipe — no width overflow),
    and the n·ssq − s² identity is evaluated in DOUBLE with one IEEE
    sqrt (conversions of identical exact values are identical).
    Fact⋈dim with no hint on the SF-scaling part (AQE decides);
    map-side partial sums; |brands|-row output."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_quantity") > 0
    ).select(
        "l_partkey",
        F.expr(
            "CAST(round(round(l_extendedprice / l_quantity, 6)"
            " * 1000000) AS BIGINT)"
        ).alias("u6"),
    )
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand")
    sums = li.join(part, "l_partkey").groupBy("p_brand").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("u6").cast("long").alias("s"),
        F.sum(F.col("u6").cast("decimal(38,0)") * F.col("u6"))
        .alias("ssq"),
    )
    return sums.where(F.col("s") > 0).select(
        "p_brand", "n",
        F.expr("s div n").cast("long").alias("mean_micro"),
        F.expr(
            "round(sqrt(greatest(CAST(n AS DOUBLE) * CAST(ssq AS DOUBLE)"
            " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE), 0))"
            " / CAST(s AS DOUBLE), 4)"
        ).alias("cv"),
    )


@register("q_ab_power_sample", f"""
WITH {_AB_ARMS_SQL}, wide AS (
    SELECT sum(n)::BIGINT AS n_tot, sum(x)::BIGINT AS x_tot,
           min(n)::BIGINT AS n_min
    FROM arms
)
SELECT n_tot, x_tot, n_min,
       ((x_tot * 1000000) // n_tot)::BIGINT AS pbar_ppm,
       CAST(ceil(2.0 * (x_tot::DOUBLE / n_tot)
                 * (1.0 - x_tot::DOUBLE / n_tot)
                 * (1.959964 + 0.841621) * (1.959964 + 0.841621)
                 / ((0.1 * x_tot::DOUBLE / n_tot)
                    * (0.1 * x_tot::DOUBLE / n_tot))) AS BIGINT)
           AS n_required_per_arm,
       n_min >= CAST(ceil(2.0 * (x_tot::DOUBLE / n_tot)
                 * (1.0 - x_tot::DOUBLE / n_tot)
                 * (1.959964 + 0.841621) * (1.959964 + 0.841621)
                 / ((0.1 * x_tot::DOUBLE / n_tot)
                    * (0.1 * x_tot::DOUBLE / n_tot))) AS BIGINT)
           AS powered_now
FROM wide
""")
def q_ab_power_sample(spark, sf_dir):
    """A/B power analysis on the live experiment: the per-arm sample
    size required to detect a 10% RELATIVE lift at alpha=0.05,
    power=0.80 (two-proportion closed form, z constants 1.959964 /
    0.841621), against the arms the split audit actually has — the
    'is this experiment even decidable yet?' gate that stops teams
    from reading q_ab_lift_test before the design can support it.
    Consumes the ONE shared arm-assignment relation (_AB_ARMS_SQL /
    _ab_arms — same definition as the audit and the lift test, so
    the power statement is about exactly those arms). Doubles derive
    from exact integer (n, x) sums identically in both engines;
    ceil of identical doubles is identical; output is one row."""
    wide = _ab_arms(spark, sf_dir).agg(
        F.sum("n").cast("long").alias("n_tot"),
        F.sum("x").cast("long").alias("x_tot"),
        F.min("n").cast("long").alias("n_min"),
    )
    nreq = (
        "CAST(ceil(2.0 * (CAST(x_tot AS DOUBLE) / n_tot)"
        " * (1.0 - CAST(x_tot AS DOUBLE) / n_tot)"
        " * (1.959964 + 0.841621) * (1.959964 + 0.841621)"
        " / ((0.1 * CAST(x_tot AS DOUBLE) / n_tot)"
        " * (0.1 * CAST(x_tot AS DOUBLE) / n_tot))) AS BIGINT)"
    )
    return wide.select(
        "n_tot", "x_tot", "n_min",
        F.expr("CAST((x_tot * 1000000) div n_tot AS BIGINT)")
        .alias("pbar_ppm"),
        F.expr(nreq).alias("n_required_per_arm"),
        F.expr(f"n_min >= {nreq}").alias("powered_now"),
    )


@register("q_kendall_tau", f"""
WITH daily AS (
    SELECT event_type, epoch_us(ts) // {_DAY_US} AS day,
           count(*)::BIGINT AS x,
           sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS y
    FROM events GROUP BY 1, 2
), p AS (
    SELECT a.event_type,
           CASE WHEN (b.x - a.x) * (b.y - a.y) > 0 THEN 1 ELSE 0 END AS c,
           CASE WHEN (b.x - a.x) * (b.y - a.y) < 0 THEN 1 ELSE 0 END AS d,
           CASE WHEN b.x = a.x THEN 1 ELSE 0 END AS tx,
           CASE WHEN b.y = a.y THEN 1 ELSE 0 END AS ty
    FROM daily a JOIN daily b
      ON a.event_type = b.event_type AND a.day < b.day
), s AS (
    SELECT event_type, count(*)::BIGINT AS n0,
           sum(c)::BIGINT AS nc, sum(d)::BIGINT AS nd,
           sum(tx)::BIGINT AS ntx, sum(ty)::BIGINT AS nty
    FROM p GROUP BY 1
)
SELECT event_type,
       (SELECT count(*) FROM daily dd
        WHERE dd.event_type = s.event_type)::BIGINT AS n_days,
       nc AS concordant, nd AS discordant, ntx AS ties_x, nty AS ties_y,
       CASE WHEN n0 = ntx OR n0 = nty THEN 0
            ELSE (1000000 * (nc - nd))
                 // CAST(round(sqrt(CAST((n0 - ntx) AS DOUBLE)
                                    * CAST((n0 - nty) AS DOUBLE)))
                         AS BIGINT)
       END AS tau_b_ppm
FROM s
""")
def q_kendall_tau(spark, sf_dir):
    """Kendall tau-b rank correlation between the daily event COUNT
    and daily event VALUE series per event type — the distribution-
    free monotone-association check that q_spearman_rank_corr (doc-
    level) and q_autocorr_daily (self-lag Pearson) don't give: does
    volume move WITH monetary value, robust to outlier days and to
    ties? Concordant/discordant/tie counts are exact integers from
    the pairwise join; tau-b's tie correction sqrt((n0-n1)(n0-n2))
    goes through the round(sqrt)->BIGINT protocol and the final
    ratio is truncating-integer ppm. Scale shape: the fact collapses
    to the calendar-bounded (type, day) frame FIRST; the pair join
    is an equi-join on event_type with C(|days|,2) fanout per type —
    quadratic in the CALENDAR, constant in fact rows (the Knight
    O(n log n) merge-sort inversion count is the drop-in if the
    series ever outgrows the calendar bound)."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.expr(f"(ts div 1000) div {_DAY_US}").alias("day"),
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.count("*").cast("long").alias("x"),
             F.sum("cents").cast("long").alias("y"))
    )
    a = daily.select("event_type", F.col("day").alias("da"),
                     F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = daily.select("event_type", F.col("day").alias("db"),
                     F.col("x").alias("xb"), F.col("y").alias("yb"))
    s = (
        a.join(b, "event_type")
        .where(F.col("da") < F.col("db"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n0"),
            F.sum(F.expr(
                "CASE WHEN (xb - xa) * (yb - ya) > 0 THEN 1 ELSE 0 END"
            )).cast("long").alias("nc"),
            F.sum(F.expr(
                "CASE WHEN (xb - xa) * (yb - ya) < 0 THEN 1 ELSE 0 END"
            )).cast("long").alias("nd"),
            F.sum(F.expr("CASE WHEN xb = xa THEN 1 ELSE 0 END"))
            .cast("long").alias("ntx"),
            F.sum(F.expr("CASE WHEN yb = ya THEN 1 ELSE 0 END"))
            .cast("long").alias("nty"),
        )
    )
    n_days = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"))
    return (
        s.join(F.broadcast(n_days), "event_type")
        .select(
            "event_type", "n_days",
            F.col("nc").alias("concordant"),
            F.col("nd").alias("discordant"),
            F.col("ntx").alias("ties_x"), F.col("nty").alias("ties_y"),
            F.expr(
                "CASE WHEN n0 = ntx OR n0 = nty THEN 0"
                " ELSE (1000000 * (nc - nd))"
                " div CAST(round(sqrt(CAST((n0 - ntx) AS DOUBLE)"
                " * CAST((n0 - nty) AS DOUBLE))) AS BIGINT) END"
            ).cast("long").alias("tau_b_ppm"),
        )
    )


@register("q_entropy_rate", """
WITH seq AS (
    SELECT user_id, event_type, epoch_us(ts) AS ts_us,
           lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY epoch_us(ts), event_id)
               AS prev_type
    FROM events
), trans AS (
    SELECT prev_type, event_type, count(*)::BIGINT AS nij
    FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
), rowtot AS (
    SELECT prev_type, sum(nij)::BIGINT AS ni FROM trans GROUP BY 1
), terms AS (
    SELECT t.prev_type, r.ni,
           round(t.nij * log2(r.ni::DOUBLE / t.nij), 6)::DECIMAL(18,6)
               AS bits
    FROM trans t JOIN rowtot r ON r.prev_type = t.prev_type
), h AS (
    SELECT prev_type, max(ni)::BIGINT AS n_from,
           round((sum(bits)::DOUBLE) / max(ni), 6) AS h_cond_bits
    FROM terms GROUP BY 1
), tot AS (SELECT sum(n_from)::BIGINT AS n FROM h)
SELECT h.prev_type AS state, h.n_from, h.h_cond_bits,
       ((h.n_from * 1000000) // t.n)::BIGINT AS pi_ppm
FROM h, tot t
""")
def q_entropy_rate(spark, sf_dir):
    """Markov entropy rate of the per-user event-type chain: the
    conditional entropy H(next | state) per state plus the station-
    ary weight pi(state) — the sequence-predictability readout that
    q_event_transitions (raw matrix) and q_user_type_entropy
    (marginal, order-0) both stop short of: a state with low H is a
    funnel step whose successor is near-deterministic. Each term
    n_ij * log2(n_i / n_ij) is one double log of an exact integer
    ratio rounded 6dp (the zipf/ln protocol — rounding absorbs
    libm ulp skew), accumulated in exact DECIMAL; weights are
    truncating-integer ppm. The chain collapses to the |types|^2
    transition matrix in ONE window pass over user partitions —
    the same shuffle key the sessionizers use; everything after is
    driver-sized."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.expr("ts div 1000"), "event_id")
    seq = ev.select(
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).where(F.col("prev_type").isNotNull())
    trans = seq.groupBy("prev_type", "event_type").agg(
        F.count("*").cast("long").alias("nij"))
    rowtot = trans.groupBy("prev_type").agg(
        F.sum("nij").cast("long").alias("ni"))
    terms = trans.join(F.broadcast(rowtot), "prev_type").select(
        "prev_type", "ni",
        F.expr(
            "CAST(round(nij * log2(CAST(ni AS DOUBLE) / nij), 6)"
            " AS DECIMAL(18,6))"
        ).alias("bits"),
    )
    h = terms.groupBy("prev_type").agg(
        F.max("ni").cast("long").alias("n_from"),
        F.expr(
            "round(CAST(sum(bits) AS DOUBLE) / max(ni), 6)"
        ).alias("h_cond_bits"),
    )
    tot = h.agg(F.sum("n_from").cast("long").alias("n"))
    return h.crossJoin(F.broadcast(tot)).select(
        F.col("prev_type").alias("state"), "n_from", "h_cond_bits",
        F.expr("CAST((n_from * 1000000) div n AS BIGINT)")
        .alias("pi_ppm"),
    )

@register("q_gumbel_maxima", f"""
WITH daily AS (
    SELECT epoch_us(ts) // {_DAY_US} AS day, count(*)::BIGINT AS n
    FROM events GROUP BY 1
), blocks AS (
    SELECT day // 7 AS wk, max(n)::BIGINT AS m FROM daily GROUP BY 1
), s AS (
    SELECT count(*)::BIGINT AS nb, max(m)::BIGINT AS max_m,
           sum(m)::BIGINT AS sm, sum(m * m)::BIGINT AS smm
    FROM blocks
)
SELECT nb AS n_blocks, max_m AS max_weekly_peak,
       round(sm::DOUBLE / nb, 4) AS mean_peak,
       round(sqrt((nb::DOUBLE * smm - sm::DOUBLE * sm)
                  / (nb::DOUBLE * (nb - 1)))
             * 0.7796968012336761, 6) AS gumbel_beta,
       round(sm::DOUBLE / nb
             - {_GUMBEL_GAMMA}
               * round(sqrt((nb::DOUBLE * smm - sm::DOUBLE * sm)
                            / (nb::DOUBLE * (nb - 1)))
                       * 0.7796968012336761, 6), 6) AS gumbel_mu,
       round(round(sm::DOUBLE / nb
             - {_GUMBEL_GAMMA}
               * round(sqrt((nb::DOUBLE * smm - sm::DOUBLE * sm)
                            / (nb::DOUBLE * (nb - 1)))
                       * 0.7796968012336761, 6), 6)
             - round(sqrt((nb::DOUBLE * smm - sm::DOUBLE * sm)
                          / (nb::DOUBLE * (nb - 1)))
                     * 0.7796968012336761, 6)
               * CAST({_GUMBEL_LNLN} AS DOUBLE),
             4) AS return_level_{_GUMBEL_RET_BLOCKS}wk
FROM s
""")
def q_gumbel_maxima(spark, sf_dir):
    """Extreme-value (Gumbel) fit to WEEKLY block maxima of the daily
    event-count series, method of moments: beta = s*sqrt(6)/pi, mu =
    mean - gamma*beta, plus the {_GUMBEL_RET_BLOCKS}-week return
    level mu - beta*ln(-ln(1-1/T)) — the capacity-planning number
    ('the busiest day we should expect once a year') that mean+3
    sigma under-calls because maxima are Gumbel-, not normal-,
    tailed. Parity: moments come from exact integer (sum, sumsq)
    over the calendar-bounded block frame; sqrt is IEEE-exact;
    sqrt(6)/pi is one shared literal; the ln(-ln(1-1/T)) constant is
    precomputed in Python doubles and interpolated into BOTH engine
    texts (inline it types as Spark DECIMAL(8,6) vs DuckDB double —
    the r08 driver FAIL), and every derived stat is rounded before
    REUSE so both engines compose identical doubles. One output
    row; the only fact-sized work is the daily pre-aggregation."""
    ev = load_table(spark, sf_dir, "events")
    blocks = (
        ev.select(F.expr(f"(ts div 1000) div {_DAY_US}").alias("day"))
        .groupBy("day").agg(F.count("*").cast("long").alias("n"))
        .select(F.expr("day div 7").alias("wk"), "n")
        .groupBy("wk").agg(F.max("n").cast("long").alias("m"))
    )
    s = blocks.agg(
        F.count("*").cast("long").alias("nb"),
        F.max("m").cast("long").alias("max_m"),
        F.sum("m").cast("long").alias("sm"),
        F.sum(F.col("m") * F.col("m")).cast("long").alias("smm"),
    )
    beta = (
        "round(sqrt((CAST(nb AS DOUBLE) * smm - CAST(sm AS DOUBLE) * sm)"
        " / (CAST(nb AS DOUBLE) * (nb - 1))) * 0.7796968012336761, 6)"
    )
    mu = (
        f"round(CAST(sm AS DOUBLE) / nb - {_GUMBEL_GAMMA} * {beta}, 6)"
    )
    lnln = f"CAST({_GUMBEL_LNLN} AS DOUBLE)"
    return s.select(
        F.col("nb").alias("n_blocks"),
        F.col("max_m").alias("max_weekly_peak"),
        F.expr("round(CAST(sm AS DOUBLE) / nb, 4)").alias("mean_peak"),
        F.expr(beta).alias("gumbel_beta"),
        F.expr(mu).alias("gumbel_mu"),
        F.expr(f"round({mu} - {beta} * {lnln}, 4)")
        .alias(f"return_level_{_GUMBEL_RET_BLOCKS}wk"),
    )

@register("q_decision_stump", f"""
WITH per_user AS (
    SELECT user_id,
           sum(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END)
               ::BIGINT AS nx,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               ::BIGINT AS y
    FROM events GROUP BY 1
), bands AS (
    SELECT least(nx, {_STUMP_CAP}) AS band,
           count(*)::BIGINT AS n, sum(y)::BIGINT AS pos
    FROM per_user GROUP BY 1
), tot AS (
    SELECT sum(n)::BIGINT AS nn, sum(pos)::BIGINT AS pp FROM bands
), cum AS (
    SELECT band,
           sum(n) OVER (ORDER BY band)::BIGINT AS l,
           sum(pos) OVER (ORDER BY band)::BIGINT AS lp
    FROM bands
), scored AS (
    SELECT c.band, c.l, c.lp, t.nn - c.l AS r, t.pp - c.lp AS rp,
           t.nn, t.pp,
           round(CAST(2 AS DOUBLE) * c.lp * (c.l - c.lp) / c.l
                 + CAST(2 AS DOUBLE) * (t.pp - c.lp)
                   * ((t.nn - c.l) - (t.pp - c.lp)) / (t.nn - c.l), 6)
               AS gini_split
    FROM cum c, tot t WHERE t.nn - c.l > 0
), best AS (
    SELECT *, row_number() OVER (ORDER BY gini_split, band) AS rk
    FROM scored
)
SELECT band AS threshold, l AS n_left, lp AS pos_left,
       r AS n_right, rp AS pos_right, gini_split,
       round(CAST(2 AS DOUBLE) * pp * (nn - pp) / nn / nn, 6)
           AS gini_root
FROM best WHERE rk = 1
""")
def q_decision_stump(spark, sf_dir):
    """Best single-split decision stump, learned IN-ENGINE: the
    activity-count threshold that best separates purchasers from
    non-purchasers by weighted Gini — the fastest useful model for
    'how predictive is this feature at all' (and the building block
    of distributed tree learners: per-feature band histogram ->
    cumulative split scan, exactly PLANET/XGBoost's approx-split
    layout). The fact collapses to per-user (activity, label) then
    to a DOMAIN-BOUNDED band histogram (cap {_STUMP_CAP}); the
    split scan is one cumulative window over <= {_STUMP_CAP}+1 rows.
    Gini terms are doubles composed left-to-right from exact
    integers (identical in both engines), rounded 6dp; ties break
    on the lower threshold. Output: ONE row, the fitted stump vs
    the root Gini."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") != "purchase", 1).otherwise(0))
        .cast("long").alias("nx"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long").alias("y"),
    )
    bands = per_user.groupBy(
        F.least(F.col("nx"), F.lit(_STUMP_CAP)).alias("band")
    ).agg(F.count("*").cast("long").alias("n"),
          F.sum("y").cast("long").alias("pos"))
    tot = bands.agg(F.sum("n").cast("long").alias("nn"),
                    F.sum("pos").cast("long").alias("pp"))
    w = Window.orderBy("band")
    cum = bands.select(
        "band",
        F.sum("n").over(w).cast("long").alias("l"),
        F.sum("pos").over(w).cast("long").alias("lp"),
    )
    scored = (
        cum.crossJoin(F.broadcast(tot))
        .where(F.expr("nn - l > 0"))
        .select(
            "band", "l", "lp",
            F.expr("nn - l").alias("r"), F.expr("pp - lp").alias("rp"),
            "nn", "pp",
            F.expr(
                "round(CAST(2 AS DOUBLE) * lp * (l - lp) / l"
                " + CAST(2 AS DOUBLE) * (pp - lp) * ((nn - l) - (pp - lp))"
                " / (nn - l), 6)"
            ).alias("gini_split"),
        )
    )
    best = scored.withColumn(
        "rk", F.row_number().over(Window.orderBy("gini_split", "band"))
    ).where(F.col("rk") == 1)
    return best.select(
        F.col("band").alias("threshold"),
        F.col("l").alias("n_left"), F.col("lp").alias("pos_left"),
        F.col("r").alias("n_right"), F.col("rp").alias("pos_right"),
        "gini_split",
        F.expr(
            "round(CAST(2 AS DOUBLE) * pp * (nn - pp) / nn / nn, 6)"
        ).alias("gini_root"),
    )


@register("q_markov_backtest", """
WITH seq AS (
    SELECT user_id, event_type,
           ('0x' || substr(md5(user_id::VARCHAR), 1, 4))::INT % 10
               AS fold,
           lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY epoch_us(ts), event_id)
               AS prev_type
    FROM events
), trans AS (
    SELECT fold, prev_type, event_type, count(*)::BIGINT AS n
    FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2, 3
), model AS (
    SELECT prev_type, event_type AS pred_type,
           row_number() OVER (PARTITION BY prev_type
                              ORDER BY sum(n) DESC, event_type) AS rk
    FROM trans WHERE fold <> 0 GROUP BY prev_type, event_type
), test AS (
    SELECT prev_type, event_type, sum(n)::BIGINT AS n
    FROM trans WHERE fold = 0 GROUP BY 1, 2
)
SELECT t.prev_type AS state, m.pred_type AS predicted_next,
       sum(t.n)::BIGINT AS n_test,
       sum(CASE WHEN t.event_type = m.pred_type THEN t.n ELSE 0 END)
           ::BIGINT AS n_correct,
       ((sum(CASE WHEN t.event_type = m.pred_type THEN t.n ELSE 0 END)
         * 1000000) // sum(t.n))::BIGINT AS acc_ppm
FROM test t JOIN (SELECT * FROM model WHERE rk = 1) m
  ON m.prev_type = t.prev_type
GROUP BY 1, 2
""")
def q_markov_backtest(spark, sf_dir):
    """Backtested next-event prediction: train an order-1 Markov
    argmax model on 90% of users (deterministic md5 fold — the
    sample_hash protocol, so both engines and every re-run pick the
    SAME split), score top-1 accuracy on the held-out 10% — the
    honest sequel to q_entropy_rate (entropy says how predictable a
    state is in-sample; this MEASURES out-of-sample skill, the gate
    before shipping next-action recommendations). Transition counts
    roll up per fold in one window pass; model and test are
    |types|^2 relations; argmax ties break alphabetically. Integer
    ppm accuracy per state."""
    ev = load_table(spark, sf_dir, "events")
    fold = F.pmod(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 4),
               16, 10).cast("int"),
        F.lit(10),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.expr("ts div 1000"), "event_id")
    seq = ev.select(
        "event_type", fold.alias("fold"),
        F.lag("event_type").over(w).alias("prev_type"),
    ).where(F.col("prev_type").isNotNull())
    trans = seq.groupBy("fold", "prev_type", "event_type").agg(
        F.count("*").cast("long").alias("n"))
    model = (
        trans.where(F.col("fold") != 0)
        .groupBy("prev_type", "event_type")
        .agg(F.sum("n").alias("tn"))
        .withColumn("rk", F.row_number().over(
            Window.partitionBy("prev_type")
            .orderBy(F.col("tn").desc(), "event_type")))
        .where(F.col("rk") == 1)
        .select("prev_type", F.col("event_type").alias("pred_type"))
    )
    test = (
        trans.where(F.col("fold") == 0)
        .groupBy("prev_type", "event_type")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    return (
        test.join(F.broadcast(model), "prev_type")
        .groupBy(F.col("prev_type").alias("state"),
                 F.col("pred_type").alias("predicted_next"))
        .agg(
            F.sum("n").cast("long").alias("n_test"),
            F.sum(F.when(F.col("event_type") == F.col("pred_type"),
                         F.col("n")).otherwise(0))
            .cast("long").alias("n_correct"),
            F.expr(
                "CAST((sum(CASE WHEN event_type = pred_type THEN n"
                " ELSE 0 END) * 1000000) div sum(n) AS BIGINT)"
            ).alias("acc_ppm"),
        )
    )

@register("q_week_over_week_jaccard", f"""
WITH wu AS (
    SELECT DISTINCT epoch_us(ts) // {_WOW_WEEK_US} AS wk, user_id
    FROM events
), sizes AS (
    SELECT wk, count(*)::BIGINT AS n FROM wu GROUP BY 1
), inter AS (
    SELECT a.wk AS wk_a, b.wk AS wk_b, count(*)::BIGINT AS n_inter
    FROM wu a JOIN wu b
      ON b.user_id = a.user_id AND b.wk = a.wk + 1
    GROUP BY 1, 2
)
SELECT i.wk_a, i.wk_b, sa.n AS users_a, sb.n AS users_b, i.n_inter,
       ((i.n_inter * 1000000) // (sa.n + sb.n - i.n_inter))::BIGINT
           AS jaccard_ppm
FROM inter i
JOIN sizes sa ON sa.wk = i.wk_a
JOIN sizes sb ON sb.wk = i.wk_b
""")
def q_week_over_week_jaccard(spark, sf_dir):
    """Week-over-week audience-set stability: the Jaccard overlap of
    consecutive weeks' ACTIVE-USER sets — the population-churn
    reading that complements q_user_retention (cohort-anchored) and
    q_dau_wau_stickiness (window ratio): a product can hold DAU/WAU
    while quietly swapping its whole audience; this catches that.
    The fact collapses to the distinct (week, user) relation first
    (one shuffle); the consecutive-week intersection is an equi-join
    on user_id (shift by one week on the join key, no window, no
    self-cross); union sizes come from the calendar-bounded per-week
    counts joined back broadcast-small. Integer ppm."""
    ev = load_table(spark, sf_dir, "events")
    wu = ev.select(
        F.expr(f"(ts div 1000) div {_WOW_WEEK_US}").alias("wk"),
        "user_id",
    ).distinct()
    sizes = wu.groupBy("wk").agg(F.count("*").cast("long").alias("n"))
    a = wu.select(F.col("wk").alias("wk_a"),
                  F.col("user_id").alias("uid"))
    b = wu.select(F.col("wk").alias("wk_b"),
                  F.col("user_id").alias("uid_b"))
    inter = (
        a.join(b, (F.col("uid_b") == F.col("uid"))
               & (F.col("wk_b") == F.col("wk_a") + 1))
        .groupBy("wk_a", "wk_b")
        .agg(F.count("*").cast("long").alias("n_inter"))
    )
    return (
        inter
        .join(F.broadcast(sizes.withColumnsRenamed(
            {"wk": "wk_a", "n": "users_a"})), "wk_a")
        .join(F.broadcast(sizes.withColumnsRenamed(
            {"wk": "wk_b", "n": "users_b"})), "wk_b")
        .select(
            "wk_a", "wk_b", "users_a", "users_b", "n_inter",
            F.expr(
                "CAST((n_inter * 1000000)"
                " div (users_a + users_b - n_inter) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )


@register("q_simpson_check", """
WITH pts AS (
    SELECT l_returnflag AS grp,
           CAST(round(l_discount * 100) AS BIGINT) AS x,
           CAST(round(l_quantity) AS BIGINT) AS y
    FROM lineitem
), g AS (
    SELECT grp, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
           sum(y)::BIGINT AS sy, sum(x * y)::BIGINT AS sxy
    FROM pts GROUP BY 1
), pooled AS (
    SELECT sum(n)::BIGINT AS n, sum(sx)::BIGINT AS sx,
           sum(sy)::BIGINT AS sy, sum(sxy)::BIGINT AS sxy
    FROM g
)
SELECT g.grp, g.n,
       CASE WHEN g.n * g.sxy - g.sx * g.sy > 0 THEN 1
            WHEN g.n * g.sxy - g.sx * g.sy < 0 THEN -1
            ELSE 0 END AS group_slope_sign,
       CASE WHEN p.n * p.sxy - p.sx * p.sy > 0 THEN 1
            WHEN p.n * p.sxy - p.sx * p.sy < 0 THEN -1
            ELSE 0 END AS pooled_slope_sign,
       (CASE WHEN g.n * g.sxy - g.sx * g.sy > 0 THEN 1
             WHEN g.n * g.sxy - g.sx * g.sy < 0 THEN -1
             ELSE 0 END)
       * (CASE WHEN p.n * p.sxy - p.sx * p.sy > 0 THEN 1
               WHEN p.n * p.sxy - p.sx * p.sy < 0 THEN -1
               ELSE 0 END) = -1 AS sign_reversed
FROM g, pooled p
""")
def q_simpson_check(spark, sf_dir):
    """Simpson's-paradox audit on the discount->quantity relation:
    does the covariance SIGN within each return-flag stratum
    contradict the pooled sign? The aggregation-reversal trap that
    invalidates naive corpus-level correlations (and the reason
    q_discount_elasticity fits per-stratum); run it before quoting
    any pooled trend. Signs come from the exact integer covariance
    numerator n*sxy - sx*sy (denominators are positive, so the sign
    needs no division, no sqrt, no doubles at all); per-group sums
    are one map-side-combined groupBy and the pooled row is their
    rollup, broadcast back. Discounts compare as integer percent,
    quantities as integers — exact on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_returnflag").alias("grp"),
        F.expr("CAST(round(l_discount * 100) AS BIGINT)").alias("x"),
        F.expr("CAST(round(l_quantity) AS BIGINT)").alias("y"),
    )
    g = pts.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    pooled = g.agg(
        F.sum("n").cast("long").alias("pn"),
        F.sum("sx").cast("long").alias("psx"),
        F.sum("sy").cast("long").alias("psy"),
        F.sum("sxy").cast("long").alias("psxy"),
    )
    gsign = (
        "CASE WHEN n * sxy - sx * sy > 0 THEN 1"
        " WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 0 END"
    )
    psign = (
        "CASE WHEN pn * psxy - psx * psy > 0 THEN 1"
        " WHEN pn * psxy - psx * psy < 0 THEN -1 ELSE 0 END"
    )
    return g.crossJoin(F.broadcast(pooled)).select(
        "grp", "n",
        F.expr(gsign).cast("int").alias("group_slope_sign"),
        F.expr(psign).cast("int").alias("pooled_slope_sign"),
        F.expr(f"({gsign}) * ({psign}) = -1").alias("sign_reversed"),
    )


@register("q_poisson_bootstrap", f"""
WITH daily AS (
    SELECT epoch_us(o_orderdate) // {_DAY_US} AS day,
           sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
               AS cents
    FROM orders GROUP BY 1
), bs AS (SELECT unnest(generate_series(0, {_BOOT_B - 1})) AS b),
grid AS (
    SELECT bs.b, d.cents,
           {_pois_w("(('0x' || substr(md5(d.day::VARCHAR || ':' || "
                    "bs.b::VARCHAR), 1, 8))::BIGINT / 4294967296.0)")}
               AS w
    FROM daily d CROSS JOIN bs
), means AS (
    SELECT b, round(sum(w * cents)::DOUBLE / (100.0 * sum(w)), 6)
               AS mean_rev
    FROM grid GROUP BY b HAVING sum(w) > 0
), pt AS (
    SELECT count(*)::BIGINT AS n_days,
           round(sum(cents::DECIMAL(28,0))::DOUBLE / (100.0 * count(*)),
                 4) AS point_mean
    FROM daily
)
SELECT pt.n_days, {_BOOT_B} AS n_resamples, pt.point_mean,
       round(quantile_cont(m.mean_rev, 0.025), 4) AS ci_lo,
       round(quantile_cont(m.mean_rev, 0.975), 4) AS ci_hi
FROM means m, pt GROUP BY pt.n_days, pt.point_mean
""")
def q_poisson_bootstrap(spark, sf_dir):
    """Poisson bootstrap CI for mean daily revenue — the resampling
    method that actually DISTRIBUTES (Poisson(1) weights per row
    need no global resample index, the trick production A/B systems
    use), made hash-deterministic: the uniform for (day, b) is
    md5-derived, so both engines and every re-run draw the SAME 200
    resamples — a reproducible CI, unlike rand()-based bootstraps.
    Complements q_median_ci (order-statistic CI for the median)
    with a mean CI no closed form covers. The fact collapses to the
    calendar-bounded daily frame first; the grid is days x {_BOOT_B}
    (bounded); resample means use exact integer weighted sums; the
    CI is the exact interpolated percentile over {_BOOT_B} means."""
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.select(
            F.expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))"
                   f" div {_DAY_US}").alias("day"),
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
            .alias("c"),
        )
        .groupBy("day").agg(F.sum("c").cast("long").alias("cents"))
    )
    bs = spark.range(_BOOT_B).select(F.col("id").cast("int").alias("b"))
    u = (
        "(CAST(conv(substr(md5(CAST(day AS STRING) || ':' ||"
        " CAST(b AS STRING)), 1, 8), 16, 10) AS BIGINT)"
        " / 4294967296.0)"
    )
    grid = daily.crossJoin(F.broadcast(bs)).select(
        "b", "cents", F.expr(_pois_w(u)).alias("w"))
    means = (
        grid.groupBy("b")
        .agg(F.sum(F.col("w") * F.col("cents")).cast("long").alias("swc"),
             F.sum("w").cast("long").alias("sw"))
        .where(F.col("sw") > 0)
        .select(F.expr(
            "round(CAST(swc AS DOUBLE) / (100.0 * sw), 6)"
        ).alias("mean_rev"))
    )
    pt = daily.agg(
        F.count("*").cast("long").alias("n_days"),
        F.expr(
            "round(CAST(sum(CAST(cents AS DECIMAL(28,0))) AS DOUBLE)"
            " / (100.0 * count(*)), 4)"
        ).alias("point_mean"),
    )
    ci = means.agg(
        F.round(F.percentile("mean_rev", F.lit(0.025)), 4).alias("ci_lo"),
        F.round(F.percentile("mean_rev", F.lit(0.975)), 4).alias("ci_hi"),
    )
    return pt.crossJoin(F.broadcast(ci)).select(
        "n_days", F.lit(_BOOT_B).cast("long").alias("n_resamples"),
        "point_mean", "ci_lo", "ci_hi",
    )


@register("q_ab_covariate_balance", f"""
WITH {_AB_ASSIGN_SQL}, per_user AS (
    SELECT e.user_id, count(*)::BIGINT AS cnt,
           sum(CAST(round(e.value * 100) AS BIGINT))::BIGINT AS cents,
           count(DISTINCT epoch_us(e.ts) // {_DAY_US})::BIGINT AS days
    FROM events e GROUP BY 1
), joined AS (
    SELECT a.arm, p.cnt, p.cents, p.days
    FROM ab_assign a JOIN per_user p ON p.user_id = a.user_id
), wide AS (
    SELECT
      sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END)::BIGINT AS a_n,
      sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END)::BIGINT AS b_n,
      {", ".join(
        f"sum(CASE WHEN arm = 'A' THEN {col} ELSE 0 END)::BIGINT"
        f" AS a_s_{col}, "
        f"sum(CASE WHEN arm = 'B' THEN {col} ELSE 0 END)::BIGINT"
        f" AS b_s_{col}, "
        f"sum(CASE WHEN arm = 'A' THEN {col}::DECIMAL(38,0) * {col}"
        f" ELSE 0 END) AS a_q_{col}, "
        f"sum(CASE WHEN arm = 'B' THEN {col}::DECIMAL(38,0) * {col}"
        f" ELSE 0 END) AS b_q_{col}"
        for _, col in _SMD_COV)}
    FROM joined
)
{" UNION ALL ".join(
    f"SELECT '{name}' AS covariate, a_n, b_n,"
    f" round(CAST(a_s_{col} AS DOUBLE) / a_n, 4) AS mean_a,"
    f" round(CAST(b_s_{col} AS DOUBLE) / b_n, 4) AS mean_b,"
    f" {_smd_sql(col)} AS smd,"
    f" abs({_smd_sql(col)}) < 0.1 AS balanced FROM wide"
    for name, col in _SMD_COV)}
""")
def q_ab_covariate_balance(spark, sf_dir):
    """Covariate balance for the live A/B split: standardized mean
    difference (Cohen's d with pooled variance) of pre-exposure
    user covariates (event volume, spend, active days) between the
    md5-assigned arms — the randomization-health check that
    complements q_ab_split_audit (SRM catches count imbalance; SMD
    catches COVARIATE imbalance that silently biases the lift even
    when counts match; |SMD| < 0.1 is the standard 'balanced' bar).
    Per-arm sums are exact (squares in DECIMAL(38,0) — no width
    overflow at any SF); each SMD is ONE identically-composed
    double expression both engines evaluate on identical integers.
    The fact collapses to per-user covariates in one groupBy; the
    arm rollup is a second; output is |covariates| rows."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)"))
        .cast("long").alias("cents"),
        F.countDistinct(F.expr(f"(ts div 1000) div {_DAY_US}"))
        .cast("long").alias("days"),
    )
    assign = per_user.select(
        "*",
        F.expr(
            "CASE WHEN cast(conv(substring(md5(concat(cast(user_id"
            " as string), ':exp1')), 1, 8), 16, 10) as bigint) % 2 = 0"
            " THEN 'A' ELSE 'B' END"
        ).alias("arm"),
    )
    aggs = [
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0))
        .cast("long").alias("a_n"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0))
        .cast("long").alias("b_n"),
    ]
    for _, col in _SMD_COV:
        for arm, pre in (("A", "a"), ("B", "b")):
            aggs.append(
                F.sum(F.when(F.col("arm") == arm, F.col(col))
                      .otherwise(0)).cast("long")
                .alias(f"{pre}_s_{col}"))
            aggs.append(
                F.sum(F.when(
                    F.col("arm") == arm,
                    F.col(col).cast("decimal(38,0)") * F.col(col))
                    .otherwise(F.lit(0).cast("decimal(38,0)")))
                .alias(f"{pre}_q_{col}"))
    wide = assign.agg(*aggs)
    rows = []
    for name, col in _SMD_COV:
        rows.append(wide.select(
            F.lit(name).alias("covariate"), "a_n", "b_n",
            F.expr(f"round(CAST(a_s_{col} AS DOUBLE) / a_n, 4)")
            .alias("mean_a"),
            F.expr(f"round(CAST(b_s_{col} AS DOUBLE) / b_n, 4)")
            .alias("mean_b"),
            F.expr(_smd_sql(col)).alias("smd"),
            F.expr(f"abs({_smd_sql(col)}) < 0.1").alias("balanced"),
        ))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out

@register("q_gains_curve", f"""
WITH per_user AS (
    SELECT user_id,
           least(sum(CASE WHEN event_type <> 'purchase' THEN 1
                          ELSE 0 END), {_GAINS_CAP})::BIGINT AS band,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               ::BIGINT AS y
    FROM events GROUP BY 1
), bands AS (
    SELECT band, count(*)::BIGINT AS n, sum(y)::BIGINT AS pos
    FROM per_user GROUP BY 1
), tot AS (
    SELECT sum(n)::BIGINT AS nn, sum(pos)::BIGINT AS pp FROM bands
), cum AS (
    SELECT band,
           sum(n) OVER (ORDER BY band DESC)::BIGINT AS cum_n,
           sum(pos) OVER (ORDER BY band DESC)::BIGINT AS cum_pos
    FROM bands
)
SELECT c.band AS min_activity, c.cum_n AS n_targeted, c.cum_pos
           AS captured,
       ((c.cum_n * 1000000) // t.nn)::BIGINT AS targeted_ppm,
       ((c.cum_pos * 1000000) // t.pp)::BIGINT AS captured_ppm,
       CASE WHEN c.cum_n * t.pp = 0 THEN 0
            ELSE (c.cum_pos * t.nn * 1000) / (c.cum_n * t.pp) END
           ::BIGINT AS lift_milli
FROM cum c, tot t
""")
def q_gains_curve(spark, sf_dir):
    """Gains/lift table for activity-ranked purchase targeting: sweep
    the 'target users with >= k events' policy from the most active
    down, reporting share of users targeted vs share of purchasers
    captured and the cumulative lift over random targeting — the
    campaign-sizing curve that q_decision_stump's single split is
    one point of. Same domain-bounded band histogram (cap
    {_GAINS_CAP}); the sweep is one DESCENDING cumulative window
    over <= {_GAINS_CAP}+1 rows; ratios are truncating-integer
    ppm/milli (lift's triple product stays in BIGINT: cum_pos *
    nn * 1000 <= 1000 n^2 — fine to ~3e6 users per... at larger
    scale the band histogram is unchanged and the products move to
    DECIMAL)."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.least(
            F.sum(F.when(F.col("event_type") != "purchase", 1)
                  .otherwise(0)),
            F.lit(_GAINS_CAP),
        ).cast("long").alias("band"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long").alias("y"),
    )
    bands = per_user.groupBy("band").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"))
    tot = bands.agg(F.sum("n").cast("long").alias("nn"),
                    F.sum("pos").cast("long").alias("pp"))
    w = Window.orderBy(F.col("band").desc())
    cum = bands.select(
        "band",
        F.sum("n").over(w).cast("long").alias("cum_n"),
        F.sum("pos").over(w).cast("long").alias("cum_pos"),
    )
    return cum.crossJoin(F.broadcast(tot)).select(
        F.col("band").alias("min_activity"),
        F.col("cum_n").alias("n_targeted"),
        F.col("cum_pos").alias("captured"),
        F.expr("CAST((cum_n * 1000000) div nn AS BIGINT)")
        .alias("targeted_ppm"),
        F.expr("CAST((cum_pos * 1000000) div pp AS BIGINT)")
        .alias("captured_ppm"),
        F.expr(
            "CAST(CASE WHEN cum_n * pp = 0 THEN 0"
            " ELSE (cum_pos * nn * 1000) div (cum_n * pp) END"
            " AS BIGINT)"
        ).alias("lift_milli"),
    )

@register("q_crosscorr_daily", f"""
WITH daily AS (
    SELECT event_type, epoch_us(ts) // {_DAY_US} AS day,
           count(*)::BIGINT AS y
    FROM events GROUP BY 1, 2
), lags AS (
    SELECT unnest(generate_series(-{_XCORR_MAX_LAG},
                                  {_XCORR_MAX_LAG})) AS lag
), p AS (
    SELECT a.event_type AS type_x, b.event_type AS type_y, l.lag,
           a.y AS x, b.y AS yl
    FROM lags l, daily a
    JOIN daily b ON b.day = a.day + l.lag
    WHERE a.event_type < b.event_type
), s AS (
    SELECT type_x, type_y, lag, count(*)::BIGINT AS cnt,
           sum(x)::BIGINT AS sx, sum(yl)::BIGINT AS sy,
           sum(x * yl)::BIGINT AS sxy,
           sum(x * x)::BIGINT AS sxx, sum(yl * yl)::BIGINT AS syy
    FROM p GROUP BY 1, 2, 3
)
SELECT type_x, type_y, CAST(lag AS BIGINT) AS lag, cnt,
       CASE WHEN cnt * sxx - sx * sx = 0 OR cnt * syy - sy * sy = 0
            THEN 0
            ELSE (1000000 * (cnt * sxy - sx * sy))
                 // (CAST(round(sqrt(CAST(cnt * sxx - sx * sx
                                          AS DOUBLE))) AS BIGINT)
                     * CAST(round(sqrt(CAST(cnt * syy - sy * sy
                                            AS DOUBLE))) AS BIGINT))
       END AS corr_ppm
FROM s
""")
def q_crosscorr_daily(spark, sf_dir):
    """Cross-correlation between PAIRS of event types' daily series
    at lags -{_XCORR_MAX_LAG}..+{_XCORR_MAX_LAG} — the lead-lag
    detector ('views lead purchases by 2 days') that
    q_autocorr_daily's self-lag can't see; the argmax lag per pair
    is the input to any demand-forecast feature pipeline. Identical
    integer-Pearson protocol (exact sums, round(sqrt)->BIGINT,
    truncating ppm); the fact collapses to the calendar-bounded
    (type, day) frame ONCE, pairs join on the shifted day with
    type_x < type_y de-duping the symmetric half (corr at -lag
    covers the transpose)."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.expr(f"(ts div 1000) div {_DAY_US}").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count("*").cast("long").alias("y"))
    )
    lags = spark.range(-_XCORR_MAX_LAG, _XCORR_MAX_LAG + 1).select(
        F.col("id").alias("lag"))
    a = daily.select(F.col("event_type").alias("type_x"),
                     F.col("day").alias("da"), F.col("y").alias("x"))
    b = daily.select(F.col("event_type").alias("type_y"),
                     F.col("day").alias("db"), F.col("y").alias("yl"))
    p = (
        lags.crossJoin(a)
        .join(b, (F.col("db") == F.col("da") + F.col("lag"))
              & (F.col("type_x") < F.col("type_y")))
    )
    ss = p.groupBy("type_x", "type_y", "lag").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("yl").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("yl")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("yl") * F.col("yl")).cast("long").alias("syy"),
    )
    return ss.select(
        "type_x", "type_y", F.col("lag").cast("long").alias("lag"),
        "cnt",
        F.expr(
            "CASE WHEN cnt * sxx - sx * sx = 0"
            " OR cnt * syy - sy * sy = 0 THEN 0"
            " ELSE (1000000 * (cnt * sxy - sx * sy))"
            " div (CAST(round(sqrt(CAST(cnt * sxx - sx * sx"
            " AS DOUBLE))) AS BIGINT)"
            " * CAST(round(sqrt(CAST(cnt * syy - sy * sy"
            " AS DOUBLE))) AS BIGINT)) END"
        ).cast("long").alias("corr_ppm"),
    )

@register("q_capture_recapture", f"""
WITH wk AS (
    SELECT epoch_us(ts) // {7 * _DAY_US} AS w, user_id
    FROM events GROUP BY 1, 2
), bounds AS (SELECT min(w)::BIGINT AS w0 FROM wk),
occ_a AS (SELECT DISTINCT user_id FROM wk, bounds WHERE w = w0),
occ_b AS (SELECT DISTINCT user_id FROM wk, bounds WHERE w = w0 + 1),
m AS (
    SELECT count(*)::BIGINT AS overlap
    FROM occ_a a JOIN occ_b b ON b.user_id = a.user_id
), sizes AS (
    SELECT (SELECT count(*) FROM occ_a)::BIGINT AS na,
           (SELECT count(*) FROM occ_b)::BIGINT AS nb
), truth AS (
    SELECT count(DISTINCT user_id)::BIGINT AS true_users FROM events
)
SELECT s.na, s.nb, m.overlap,
       ((s.na + 1) * (s.nb + 1) // (m.overlap + 1) - 1)::BIGINT
           AS chapman_est,
       t.true_users,
       ((((s.na + 1) * (s.nb + 1) // (m.overlap + 1) - 1)
         - t.true_users) * 1000000 // t.true_users)::BIGINT
           AS est_bias_ppm
FROM sizes s, m, truth t
""")
def q_capture_recapture(spark, sf_dir):
    """Capture-recapture (Chapman-corrected Lincoln-Petersen)
    population estimate: treat the first two calendar weeks' active-
    user sets as two capture occasions and estimate the TOTAL user
    population from their overlap — the ecology estimator that data
    engineering reuses to size a population only partially observed
    per window (bot-farm sizing, true-reach estimation), graded here
    against the exact distinct count the batch engine can still
    afford. All-integer: Chapman's (na+1)(nb+1)/(m+1)-1 with
    truncating division, bias reported in ppm. The fact collapses
    to the distinct (week, user) relation once; occasions are two
    filters of it; the overlap is one equi-join on user_id."""
    ev = load_table(spark, sf_dir, "events")
    # r14 (guide §2.4/§5): the distinct (week, user) relation is the
    # one fact-sized operation, but w0 + both occasions' filters in
    # BOTH m and sizes re-inlined the events scan + distinct (the r13
    # plan audit counted 9 scans). localCheckpoint the small relation
    # (≤ weeks × users rows); `truth` is derived from it too — the
    # distinct user set of (week, user) IS the distinct user set of
    # events (every event lands in exactly one week), so the exact
    # count is unchanged and the last remaining fact scan disappears.
    wk = ev.select(
        F.expr(f"(ts div 1000) div {7 * _DAY_US}").alias("w"),
        "user_id",
    ).distinct().localCheckpoint()
    w0 = wk.agg(F.min("w").alias("w0"))
    wkb = wk.crossJoin(F.broadcast(w0))
    occ_a = wkb.where(F.col("w") == F.col("w0")).select("user_id")
    occ_b = wkb.where(F.col("w") == F.col("w0") + 1).select(
        F.col("user_id").alias("uid_b"))
    m = occ_a.join(occ_b, occ_a["user_id"] == occ_b["uid_b"]).agg(
        F.count("*").cast("long").alias("overlap"))
    sizes = occ_a.agg(F.count("*").cast("long").alias("na")).crossJoin(
        F.broadcast(occ_b.agg(F.count("*").cast("long").alias("nb"))))
    truth = wk.agg(
        F.countDistinct("user_id").cast("long").alias("true_users"))
    return (
        sizes.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(truth))
        .select(
            "na", "nb", "overlap",
            F.expr(
                "CAST((na + 1) * (nb + 1) div (overlap + 1) - 1"
                " AS BIGINT)"
            ).alias("chapman_est"),
            "true_users",
            F.expr(
                "CAST((((na + 1) * (nb + 1) div (overlap + 1) - 1)"
                " - true_users) * 1000000 div true_users AS BIGINT)"
            ).alias("est_bias_ppm"),
        )
    )


@register("q_jackknife_variance", f"""
WITH daily AS (
    SELECT epoch_us(o_orderdate) // {_DAY_US} AS day,
           sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
               AS cents
    FROM orders GROUP BY 1
), tot AS (
    SELECT count(*)::BIGINT AS n, sum(cents)::BIGINT AS s FROM daily
), d2 AS (
    SELECT sum(((t.s - t.n * d.cents)::DECIMAL(38,0)
                * (t.s - t.n * d.cents))) AS sum_d2
    FROM daily d, tot t
)
SELECT t.n AS n_days,
       round(CAST(t.s AS DOUBLE) / (100.0 * t.n), 4) AS mean_rev,
       round(sqrt(CAST(d.sum_d2 AS DOUBLE)
                  / (CAST(t.n AS DOUBLE) * t.n * t.n * (t.n - 1)))
             / 100.0, 4) AS jk_se,
       round(CAST(t.s AS DOUBLE) / (100.0 * t.n)
             - 1.959964 * round(sqrt(CAST(d.sum_d2 AS DOUBLE)
                  / (CAST(t.n AS DOUBLE) * t.n * t.n * (t.n - 1)))
             / 100.0, 4), 4) AS ci_lo,
       round(CAST(t.s AS DOUBLE) / (100.0 * t.n)
             + 1.959964 * round(sqrt(CAST(d.sum_d2 AS DOUBLE)
                  / (CAST(t.n AS DOUBLE) * t.n * t.n * (t.n - 1)))
             / 100.0, 4), 4) AS ci_hi
FROM tot t, d2 d
""")
def q_jackknife_variance(spark, sf_dir):
    """Leave-one-day-out jackknife standard error for mean daily
    revenue, in closed form: mean_(-i) - mean = (S - n*x_i)/(n(n-1)),
    so var_jk = sum((S - n*x_i)^2) / (n^3 (n-1)) — the deterministic
    resampling cross-check for q_poisson_bootstrap's CI (two
    independent error estimates agreeing is the audit; jackknife
    needs NO randomness at all, so it is the cheaper nightly guard).
    The deviations are exact integers squared in DECIMAL(38,0) (no
    width overflow); ONE IEEE sqrt; the rounded se is REUSED in the
    CI bounds so both engines compose identical doubles. The only
    fact-sized work is the daily pre-aggregation."""
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.select(
            F.expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))"
                   f" div {_DAY_US}").alias("day"),
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
            .alias("c"),
        )
        .groupBy("day").agg(F.sum("c").cast("long").alias("cents"))
    )
    tot = daily.agg(F.count("*").cast("long").alias("n"),
                    F.sum("cents").cast("long").alias("s"))
    d2 = daily.crossJoin(F.broadcast(tot)).agg(
        F.sum(F.expr(
            "CAST(s - n * cents AS DECIMAL(38,0)) * (s - n * cents)"
        )).alias("sum_d2"),
        F.max("n").alias("n"), F.max("s").alias("s"),
    )
    se = (
        "round(sqrt(CAST(sum_d2 AS DOUBLE)"
        " / (CAST(n AS DOUBLE) * n * n * (n - 1))) / 100.0, 4)"
    )
    mean = "round(CAST(s AS DOUBLE) / (100.0 * n), 4)"
    mean_raw = "CAST(s AS DOUBLE) / (100.0 * n)"
    return d2.select(
        F.col("n").alias("n_days"),
        F.expr(mean).alias("mean_rev"),
        F.expr(se).alias("jk_se"),
        F.expr(f"round({mean_raw} - 1.959964 * {se}, 4)").alias("ci_lo"),
        F.expr(f"round({mean_raw} + 1.959964 * {se}, 4)").alias("ci_hi"),
    )

@register("q_shapley_attribution", f"""
WITH per_user AS (
    SELECT user_id,
           CASE WHEN count(*) >= {_SHAP_F1_MIN} THEN 1 ELSE 0 END
               AS f1,
           CASE WHEN count(DISTINCT epoch_us(ts) // {_DAY_US})
                     >= {_SHAP_F2_MIN} THEN 1 ELSE 0 END AS f2,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS y
    FROM events GROUP BY 1
), cells AS (
    SELECT f1, f2, count(*)::BIGINT AS n, sum(y)::BIGINT AS pos
    FROM per_user GROUP BY 1, 2
), wide AS (
    SELECT
      max(CASE WHEN f1=0 AND f2=0 THEN n END)::BIGINT AS n00,
      max(CASE WHEN f1=1 AND f2=0 THEN n END)::BIGINT AS n10,
      max(CASE WHEN f1=0 AND f2=1 THEN n END)::BIGINT AS n01,
      max(CASE WHEN f1=1 AND f2=1 THEN n END)::BIGINT AS n11,
      max(CASE WHEN f1=0 AND f2=0 THEN pos END)::BIGINT AS p00,
      max(CASE WHEN f1=1 AND f2=0 THEN pos END)::BIGINT AS p10,
      max(CASE WHEN f1=0 AND f2=1 THEN pos END)::BIGINT AS p01,
      max(CASE WHEN f1=1 AND f2=1 THEN pos END)::BIGINT AS p11
    FROM cells
), rates AS (
    SELECT n00, n10, n01, n11,
           (p00 * 1000000) // n00 AS r00,
           (p10 * 1000000) // n10 AS r10,
           (p01 * 1000000) // n01 AS r01,
           (p11 * 1000000) // n11 AS r11
    FROM wide
)
SELECT n00, n10, n01, n11,
       r00::BIGINT AS rate00_ppm, r10::BIGINT AS rate10_ppm,
       r01::BIGINT AS rate01_ppm, r11::BIGINT AS rate11_ppm,
       ((r10 - r00) + (r11 - r01))::BIGINT AS phi_activity_ppm2,
       ((r01 - r00) + (r11 - r10))::BIGINT AS phi_spread_ppm2,
       ((r10 - r00) + (r11 - r01)) + ((r01 - r00) + (r11 - r10))
           = 2 * (r11 - r00) AS additivity_ok
FROM rates
""")
def q_shapley_attribution(spark, sf_dir):
    """EXACT two-feature Shapley attribution of the purchase-rate
    gap: how much of rate(active, multi-day) - rate(neither) belongs
    to activity volume vs day spread, averaged over both insertion
    orders (the 2! permutations, so these ARE the Shapley values,
    no sampling) — in-engine model explainability on the 2x2
    segment grid, with the efficiency axiom phi1+phi2 =
    v(full)-v(empty) checked EXACTLY in the output. Rates are
    truncating-integer ppm; the phis stay in doubled-ppm integer
    basis so no halving truncation can break the additivity check.
    One per-user pass, a 4-cell rollup, a 1-row pivot."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.expr(f"CASE WHEN count(*) >= {_SHAP_F1_MIN} THEN 1 ELSE 0"
               " END").alias("f1"),
        F.expr(
            f"CASE WHEN count(DISTINCT (ts div 1000) div {_DAY_US})"
            f" >= {_SHAP_F2_MIN} THEN 1 ELSE 0 END").alias("f2"),
        F.max(F.when(F.col("event_type") == "purchase", 1)
              .otherwise(0)).alias("y"),
    )
    cells = per_user.groupBy("f1", "f2").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"))
    aggs = []
    for a in (0, 1):
        for b in (0, 1):
            aggs.append(F.max(F.when(
                (F.col("f1") == a) & (F.col("f2") == b), F.col("n")))
                .cast("long").alias(f"n{a}{b}"))
            aggs.append(F.max(F.when(
                (F.col("f1") == a) & (F.col("f2") == b), F.col("pos")))
                .cast("long").alias(f"p{a}{b}"))
    wide = cells.agg(*aggs)
    rates = wide.select(
        "n00", "n10", "n01", "n11",
        *[F.expr(f"(p{a}{b} * 1000000) div n{a}{b}").alias(f"r{a}{b}")
          for a in (0, 1) for b in (0, 1)],
    )
    return rates.select(
        "n00", "n10", "n01", "n11",
        *[F.col(f"r{a}{b}").cast("long").alias(f"rate{a}{b}_ppm")
          for a in (0, 1) for b in (0, 1)],
        F.expr("CAST((r10 - r00) + (r11 - r01) AS BIGINT)")
        .alias("phi_activity_ppm2"),
        F.expr("CAST((r01 - r00) + (r11 - r10) AS BIGINT)")
        .alias("phi_spread_ppm2"),
        F.expr(
            "((r10 - r00) + (r11 - r01)) + ((r01 - r00) + (r11 - r10))"
            " = 2 * (r11 - r00)"
        ).alias("additivity_ok"),
    )

@register("q_tier_migration", f"""
WITH bounds AS (
    SELECT min(epoch_us(ts) // {_DAY_US})::BIGINT AS d0,
           max(epoch_us(ts) // {_DAY_US})::BIGINT AS d1
    FROM events
), halves AS (
    SELECT e.user_id,
           CASE WHEN epoch_us(e.ts) // {_DAY_US}
                     <= (b.d0 + b.d1) // 2 THEN 0 ELSE 1 END AS half
    FROM events e, bounds b
), counts AS (
    SELECT user_id, half, count(*)::BIGINT AS n
    FROM halves GROUP BY 1, 2
), tiers AS (
    SELECT user_id, half,
           CASE WHEN n >= {_TIER_HIGH} THEN 'high'
                WHEN n >= {_TIER_MED} THEN 'med'
                ELSE 'low' END AS tier
    FROM counts
), matrix AS (
    SELECT coalesce(a.tier, 'none') AS tier_h1,
           coalesce(b.tier, 'none') AS tier_h2,
           count(*)::BIGINT AS n_users
    FROM (SELECT user_id, tier FROM tiers WHERE half = 0) a
    FULL JOIN (SELECT user_id, tier FROM tiers WHERE half = 1) b
      ON b.user_id = a.user_id
    GROUP BY 1, 2
), rowtot AS (
    SELECT tier_h1, sum(n_users)::BIGINT AS rn FROM matrix GROUP BY 1
)
SELECT m.tier_h1, m.tier_h2, m.n_users,
       ((m.n_users * 1000000) // r.rn)::BIGINT AS row_share_ppm
FROM matrix m JOIN rowtot r ON r.tier_h1 = m.tier_h1
""")
def q_tier_migration(spark, sf_dir):
    """Engagement-tier migration matrix between the two halves of
    the observed timeline: every user's activity tier (high/med/
    low/none by event count) in H1 vs H2, with row-normalized
    transition shares — the upgrade/downgrade/churn/resurrection
    readout that turns q_user_retention's binary 'came back' into
    WHERE users moved; the diagonal is stability, the 'none' column
    is churn by tier. One pass buckets events into halves (midpoint
    from the broadcast min/max day), per-user-half counts shuffle
    once on user_id; the matrix is a full-outer self-join of two
    per-user relations; output <= 16 rows, integer ppm."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.expr(f"(ts div 1000) div {_DAY_US}")).cast("long")
        .alias("d0"),
        F.max(F.expr(f"(ts div 1000) div {_DAY_US}")).cast("long")
        .alias("d1"),
    )
    halves = ev.select(
        "user_id", F.expr(f"(ts div 1000) div {_DAY_US}").alias("day")
    ).crossJoin(F.broadcast(bounds)).select(
        "user_id",
        F.expr("CASE WHEN day <= (d0 + d1) div 2 THEN 0 ELSE 1 END")
        .alias("half"),
    )
    # r14 (guide §2.4/§5): tiers is the per-user-half relation
    # (≤ 2·|users| rows), but both occasion slices (a, b) re-inlined
    # the events scan + bounds agg + the per-user-half count.
    # localCheckpoint it: one fact pass.
    tiers = (
        halves.groupBy("user_id", "half")
        .agg(F.count("*").cast("long").alias("n"))
        .select(
            "user_id", "half",
            F.expr(
                f"CASE WHEN n >= {_TIER_HIGH} THEN 'high'"
                f" WHEN n >= {_TIER_MED} THEN 'med'"
                " ELSE 'low' END").alias("tier"),
        )
    ).localCheckpoint()
    a = tiers.where(F.col("half") == 0).select(
        "user_id", F.col("tier").alias("tier_a"))
    b = tiers.where(F.col("half") == 1).select(
        F.col("user_id").alias("uid_b"), F.col("tier").alias("tier_b"))
    matrix = (
        a.join(b, a["user_id"] == b["uid_b"], "full")
        .select(
            F.coalesce(F.col("tier_a"), F.lit("none")).alias("tier_h1"),
            F.coalesce(F.col("tier_b"), F.lit("none")).alias("tier_h2"),
        )
        .groupBy("tier_h1", "tier_h2")
        .agg(F.count("*").cast("long").alias("n_users"))
    )
    # r14 (guide §2.4): the row total is a window over the matrix's
    # own grouping key — the separate groupBy + broadcast join
    # re-executed the whole matrix subtree (full-outer join included)
    # a second time. Same exact long sum, one pass.
    return matrix.withColumn(
        "rn",
        F.sum("n_users").over(Window.partitionBy("tier_h1"))
        .cast("long"),
    ).select(
        "tier_h1", "tier_h2", "n_users",
        F.expr("CAST((n_users * 1000000) div rn AS BIGINT)")
        .alias("row_share_ppm"),
    )

@register("q_partial_corr", """
WITH pts AS (
    SELECT CAST(round(l_discount * 100) AS BIGINT) AS x,
           CAST(round(l_quantity) AS BIGINT) AS y,
           CAST(round(l_extendedprice) AS BIGINT) AS z
    FROM lineitem
), s AS (
    SELECT count(*)::BIGINT AS n,
           sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
           sum(z)::BIGINT AS sz,
           sum(x * y)::BIGINT AS sxy, sum(x * z)::BIGINT AS sxz,
           sum(y * z)::BIGINT AS syz,
           sum(x::DECIMAL(38,0) * x) AS sxx,
           sum(y::DECIMAL(38,0) * y) AS syy,
           sum(z::DECIMAL(38,0) * z) AS szz
    FROM pts
), r AS (
    SELECT n,
      round((CAST(n::DECIMAL(38,0) * sxy - sx::DECIMAL(38,0) * sy
                  AS DOUBLE))
            / (sqrt(CAST(n::DECIMAL(38,0) * sxx
                         - sx::DECIMAL(38,0) * sx AS DOUBLE))
               * sqrt(CAST(n::DECIMAL(38,0) * syy
                           - sy::DECIMAL(38,0) * sy AS DOUBLE))), 6)
          AS rxy,
      round((CAST(n::DECIMAL(38,0) * sxz - sx::DECIMAL(38,0) * sz
                  AS DOUBLE))
            / (sqrt(CAST(n::DECIMAL(38,0) * sxx
                         - sx::DECIMAL(38,0) * sx AS DOUBLE))
               * sqrt(CAST(n::DECIMAL(38,0) * szz
                           - sz::DECIMAL(38,0) * sz AS DOUBLE))), 6)
          AS rxz,
      round((CAST(n::DECIMAL(38,0) * syz - sy::DECIMAL(38,0) * sz
                  AS DOUBLE))
            / (sqrt(CAST(n::DECIMAL(38,0) * syy
                         - sy::DECIMAL(38,0) * sy AS DOUBLE))
               * sqrt(CAST(n::DECIMAL(38,0) * szz
                           - sz::DECIMAL(38,0) * sz AS DOUBLE))), 6)
          AS rzy
    FROM s
)
SELECT n, rxy, rxz, rzy,
       round((rxy - rxz * rzy)
             / sqrt((1.0 - rxz * rxz) * (1.0 - rzy * rzy)), 6)
           AS partial_rxy_given_z
FROM r
""")
def q_partial_corr(spark, sf_dir):
    """Partial correlation of discount vs quantity CONTROLLING for
    line price: r_xy.z = (rxy - rxz rzy)/sqrt((1-rxz^2)(1-rzy^2)) —
    the confounder-removal step between q_crosscorr_daily's raw
    association and q_discount_elasticity's causal read (a raw
    discount~quantity correlation can be entirely price-band
    mix; the partial says what survives). All three Pearsons come
    from ONE pass of exact sums (squares and cross-multiplied
    variance numerators in DECIMAL(38,0) — BIGINT would overflow on
    the price sums at scale); each r is rounded 6dp BEFORE the
    closed-form composition so both engines combine identical
    doubles. Single row out."""
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.expr("CAST(round(l_discount * 100) AS BIGINT)").alias("x"),
        F.expr("CAST(round(l_quantity) AS BIGINT)").alias("y"),
        F.expr("CAST(round(l_extendedprice) AS BIGINT)").alias("z"),
    )
    s = pts.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum("z").cast("long").alias("sz"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("z")).cast("long").alias("sxz"),
        F.sum(F.col("y") * F.col("z")).cast("long").alias("syz"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
        .alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        .alias("syy"),
        F.sum(F.col("z").cast("decimal(38,0)") * F.col("z"))
        .alias("szz"),
    )

    def _r(sab, a, b, saa, sbb):
        return (
            f"round((CAST(CAST(n AS DECIMAL(38,0)) * {sab}"
            f" - CAST({a} AS DECIMAL(38,0)) * {b} AS DOUBLE))"
            f" / (sqrt(CAST(CAST(n AS DECIMAL(38,0)) * {saa}"
            f" - CAST({a} AS DECIMAL(38,0)) * {a} AS DOUBLE))"
            f" * sqrt(CAST(CAST(n AS DECIMAL(38,0)) * {sbb}"
            f" - CAST({b} AS DECIMAL(38,0)) * {b} AS DOUBLE))), 6)"
        )

    r = s.select(
        "n",
        F.expr(_r("sxy", "sx", "sy", "sxx", "syy")).alias("rxy"),
        F.expr(_r("sxz", "sx", "sz", "sxx", "szz")).alias("rxz"),
        F.expr(_r("syz", "sy", "sz", "syy", "szz")).alias("rzy"),
    )
    return r.select(
        "n", "rxy", "rxz", "rzy",
        F.expr(
            "round((rxy - rxz * rzy)"
            " / sqrt((1.0 - rxz * rxz) * (1.0 - rzy * rzy)), 6)"
        ).alias("partial_rxy_given_z"),
    )


@register("q_abc_classification", """
WITH part_rev AS (
    SELECT l_partkey,
           sum(CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT
               AS cents
    FROM lineitem GROUP BY 1
), banded AS (
    SELECT (length(cents::VARCHAR) * 10
            + substr(cents::VARCHAR, 1, 1)::INT)::BIGINT AS band,
           count(*)::BIGINT AS n_parts, sum(cents)::BIGINT AS rev
    FROM part_rev WHERE cents > 0 GROUP BY 1
), tot AS (
    SELECT sum(rev)::BIGINT AS total,
           (1 + sum(rev) // 1000000000000)::BIGINT AS s
    FROM banded
),
cum AS (
    SELECT band, n_parts, rev,
           sum(rev) OVER (ORDER BY band DESC)::BIGINT AS cum_rev
    FROM banded
), classed AS (
    SELECT c.band, c.n_parts, c.rev,
           CASE WHEN (((c.cum_rev - c.rev) // t.s) * 1000000)
                     // greatest(t.total // t.s, 1)
                     < 800000 THEN 'A'
                WHEN (((c.cum_rev - c.rev) // t.s) * 1000000)
                     // greatest(t.total // t.s, 1)
                     < 950000 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM cum c, tot t
)
SELECT abc_class, sum(n_parts)::BIGINT AS n_parts,
       sum(rev)::BIGINT AS revenue_cents,
       (((sum(rev) // max(t.s)) * 1000000)
        // greatest(max(t.total) // max(t.s), 1))::BIGINT
           AS rev_share_ppm
FROM classed, tot t GROUP BY 1
""")
def q_abc_classification(spark, sf_dir):
    """ABC inventory classification at the 80/95 revenue cuts —
    band-histogram formulation that SURVIVES scale: parts collapse
    to revenue DIGIT bands (digit count x leading digit — exact
    integer log-scale banding, no transcendentals, no ulp-fragile
    floor(log2)), the descending cumulative runs over <= ~90 band
    rows instead of a global per-part rank window (the classic ABC
    sort is a single-partition window over an SF-scaling relation —
    the anti-pattern this repo lints against), and classes are
    assigned by the share BEFORE each band so the A/B boundary is
    decided identically in both engines. Class totals are exact
    integers; granularity is one band (documented trade for
    unbounded scale). ppm shares go through the SCALE GUARD (round 8,
    caught by the sf1-equivalent bench): `x * 1e6` overflows BIGINT
    once total cents pass ~9.2e12, so both engines compute
    ((x // s) * 1e6) // (total // s) with s = 1 + total // 1e12 —
    s = 1 (bit-identical to the plain formula) until totals reach
    1e12 cents, and an engine-IDENTICAL <=1e-6-relative approximation
    beyond, at any corpus size."""
    li = load_table(spark, sf_dir, "lineitem")
    part_rev = li.groupBy("l_partkey").agg(
        F.sum(F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
        .cast("long").alias("cents"))
    banded = (
        part_rev.where(F.col("cents") > 0)
        .groupBy(F.expr(
            "CAST(length(CAST(cents AS STRING)) * 10"
            " + CAST(substr(CAST(cents AS STRING), 1, 1) AS INT)"
            " AS BIGINT)").alias("band"))
        .agg(F.count("*").cast("long").alias("n_parts"),
             F.sum("cents").cast("long").alias("rev"))
    )
    tot = banded.agg(
        F.sum("rev").cast("long").alias("total"),
        F.expr("CAST(1 + sum(rev) div 1000000000000 AS BIGINT)")
        .alias("s"),
    )
    w = Window.orderBy(F.col("band").desc())
    cum = banded.select(
        "band", "n_parts", "rev",
        F.sum("rev").over(w).cast("long").alias("cum_rev"))
    classed = cum.crossJoin(F.broadcast(tot)).select(
        "n_parts", "rev", "total", "s",
        F.expr(
            "CASE WHEN (((cum_rev - rev) div s) * 1000000)"
            " div greatest(total div s, 1) < 800000 THEN 'A'"
            " WHEN (((cum_rev - rev) div s) * 1000000)"
            " div greatest(total div s, 1) < 950000"
            " THEN 'B' ELSE 'C' END").alias("abc_class"),
    )
    return classed.groupBy("abc_class").agg(
        F.sum("n_parts").cast("long").alias("n_parts"),
        F.sum("rev").cast("long").alias("revenue_cents"),
        F.expr(
            "CAST(((sum(rev) div max(s)) * 1000000)"
            " div greatest(max(total) div max(s), 1) AS BIGINT)"
        ).alias("rev_share_ppm"),
    )

@register("q_latency_anova", f"""
WITH lat AS (
    SELECT l.l_suppkey,
           ((epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate))
            // {_DAY_US})::BIGINT AS d
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
), per_s AS (
    SELECT l_suppkey, count(*)::BIGINT AS n, sum(d)::BIGINT AS s,
           sum(d::DECIMAL(38,0) * d) AS q
    FROM lat GROUP BY 1
), btw AS (
    SELECT count(*)::BIGINT AS k, sum(n)::BIGINT AS nn,
           sum(s)::BIGINT AS ss, sum(q) AS qq,
           sum(round(CAST(s::DECIMAL(38,0) * s AS DOUBLE) / n, 6)
               ::DECIMAL(28,6)) AS sb
    FROM per_s
)
SELECT nn AS n_rows, k AS n_suppliers,
       round(sb::DOUBLE - CAST(ss AS DOUBLE) * ss / nn, 4) AS ss_between,
       round(qq::DOUBLE - sb::DOUBLE, 4) AS ss_within,
       CAST(round((sb::DOUBLE - CAST(ss AS DOUBLE) * ss / nn)
                  / (qq::DOUBLE - CAST(ss AS DOUBLE) * ss / nn)
                  * 1000000, 0) AS BIGINT) AS eta2_ppm,
       round(((sb::DOUBLE - CAST(ss AS DOUBLE) * ss / nn) / (k - 1))
             / ((qq::DOUBLE - sb::DOUBLE) / (nn - k)), 4) AS f_stat
FROM btw
""")
def q_latency_anova(spark, sf_dir):
    """One-way ANOVA decomposition of order->ship latency BY
    SUPPLIER: how much of delivery-time variance is between
    suppliers (fixable by routing) vs within them (inherent noise)
    — eta^2 near zero says supplier choice doesn't matter and
    q15/q21's supplier rankings are reading noise; a large F says
    route around the tail. The supplier rollup carries exact
    (n, sum, sumsq-in-DECIMAL(38,0)); each s_h^2/n_h term is ONE
    rounded double accumulated in DECIMAL (the zipf protocol), so
    SSB/SSW/eta^2/F compose from identical values in both engines.
    Fact joins once (AQE decides the build side), then everything
    is |suppliers|-sized."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    lat = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            "l_suppkey",
            F.expr(
                "CAST((unix_micros(CAST(l_shipdate AS TIMESTAMP))"
                " - unix_micros(CAST(o_orderdate AS TIMESTAMP)))"
                f" div {_DAY_US} AS BIGINT)").alias("d"),
        )
    )
    per_s = lat.groupBy("l_suppkey").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("d").cast("long").alias("s"),
        F.sum(F.col("d").cast("decimal(38,0)") * F.col("d")).alias("q"),
    )
    btw = per_s.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("long").alias("nn"),
        F.sum("s").cast("long").alias("ss"),
        F.sum("q").alias("qq"),
        F.sum(F.expr(
            "CAST(round(CAST(CAST(s AS DECIMAL(38,0)) * s AS DOUBLE)"
            " / n, 6) AS DECIMAL(28,6))")).alias("sb"),
    )
    ssb = "(CAST(sb AS DOUBLE) - CAST(ss AS DOUBLE) * ss / nn)"
    sst = "(CAST(qq AS DOUBLE) - CAST(ss AS DOUBLE) * ss / nn)"
    ssw = "(CAST(qq AS DOUBLE) - CAST(sb AS DOUBLE))"
    return btw.select(
        F.col("nn").alias("n_rows"),
        F.col("k").alias("n_suppliers"),
        F.expr(f"round({ssb}, 4)").alias("ss_between"),
        F.expr(f"round({ssw}, 4)").alias("ss_within"),
        F.expr(
            f"CAST(round({ssb} / {sst} * 1000000, 0) AS BIGINT)"
        ).alias("eta2_ppm"),
        F.expr(
            f"round(({ssb} / (k - 1)) / ({ssw} / (nn - k)), 4)"
        ).alias("f_stat"),
    )

@register("q_neyman_allocation", f"""
WITH per_src AS (
    SELECT source, count(*)::BIGINT AS nh,
           sum(n_chars)::BIGINT AS s,
           sum(n_chars::DECIMAL(38,0) * n_chars) AS q
    FROM documents GROUP BY 1
), wts AS (
    SELECT source, nh,
           CAST(round(nh * round(sqrt((CAST(nh AS DOUBLE) * (q::DOUBLE)
                                       - CAST(s AS DOUBLE) * s)
                                      / (CAST(nh AS DOUBLE) * (nh - 1))),
                                 6)) AS BIGINT) AS w
    FROM per_src WHERE nh > 1
), tot AS (
    SELECT sum(w)::BIGINT AS wt, sum(nh)::BIGINT AS nn FROM wts
)
SELECT w.source, w.nh AS stratum_size,
       w.w AS neyman_weight,
       (({_NEYMAN_BUDGET} * w.w) // t.wt)::BIGINT AS alloc_neyman,
       (({_NEYMAN_BUDGET} * w.nh) // t.nn)::BIGINT AS alloc_proportional
FROM wts w, tot t
""")
def q_neyman_allocation(spark, sf_dir):
    """Neyman-optimal stratified sampling allocation for a
    {_NEYMAN_BUDGET}-item labeling budget: per source stratum,
    n_h proportional to N_h * S_h (size x within-stratum std of doc
    length) next to the naive proportional allocation — the survey-
    sampling result that minimizes the estimator's variance at
    fixed budget, and the difference column IS the argument for
    stratifying (high-variance strata earn more labels than their
    share). Exact integer moments (squares in DECIMAL(38,0)), one
    IEEE sqrt rounded 6dp, weights integerized BEFORE the
    truncating allocation so both engines allocate identically.
    One groupBy; |sources| rows."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("nh"),
        F.sum("n_chars").cast("long").alias("s"),
        F.sum(F.col("n_chars").cast("decimal(38,0)")
              * F.col("n_chars")).alias("q"),
    )
    wts = per_src.where(F.col("nh") > 1).select(
        "source", "nh",
        F.expr(
            "CAST(round(nh * round(sqrt((CAST(nh AS DOUBLE)"
            " * CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s)"
            " / (CAST(nh AS DOUBLE) * (nh - 1))), 6)) AS BIGINT)"
        ).alias("w"),
    )
    tot = wts.agg(F.sum("w").cast("long").alias("wt"),
                  F.sum("nh").cast("long").alias("nn"))
    return wts.crossJoin(F.broadcast(tot)).select(
        "source", F.col("nh").alias("stratum_size"),
        F.col("w").alias("neyman_weight"),
        F.expr(f"CAST(({_NEYMAN_BUDGET} * w) div wt AS BIGINT)")
        .alias("alloc_neyman"),
        F.expr(f"CAST(({_NEYMAN_BUDGET} * nh) div nn AS BIGINT)")
        .alias("alloc_proportional"),
    )


@register("q_diff_in_diff", f"""
WITH bounds AS (
    SELECT min(epoch_us(ts) // {_DAY_US})::BIGINT AS d0,
           max(epoch_us(ts) // {_DAY_US})::BIGINT AS d1
    FROM events
), {_AB_ASSIGN_SQL}, purch AS (
    SELECT e.user_id,
           CASE WHEN epoch_us(e.ts) // {_DAY_US}
                     <= (b.d0 + b.d1) // 2 THEN 0 ELSE 1 END AS post,
           count(*)::BIGINT AS k
    FROM events e, bounds b
    WHERE e.event_type = 'purchase'
    GROUP BY 1, 2
), arm_n AS (
    SELECT arm, count(*)::BIGINT AS n_users FROM ab_assign GROUP BY 1
), cell AS (
    SELECT a.arm, p.post, sum(p.k)::BIGINT AS purchases
    FROM purch p JOIN ab_assign a ON a.user_id = p.user_id
    GROUP BY 1, 2
), rates AS (
    SELECT c.arm, c.post,
           (c.purchases * 1000000) // n.n_users AS r
    FROM cell c JOIN arm_n n ON n.arm = c.arm
), wide AS (
    SELECT
      max(CASE WHEN arm = 'A' AND post = 0 THEN r END)::BIGINT AS ra0,
      max(CASE WHEN arm = 'A' AND post = 1 THEN r END)::BIGINT AS ra1,
      max(CASE WHEN arm = 'B' AND post = 0 THEN r END)::BIGINT AS rb0,
      max(CASE WHEN arm = 'B' AND post = 1 THEN r END)::BIGINT AS rb1
    FROM rates
)
SELECT ra0 AS rate_a_pre_ppm, ra1 AS rate_a_post_ppm,
       rb0 AS rate_b_pre_ppm, rb1 AS rate_b_post_ppm,
       ((rb1 - rb0) - (ra1 - ra0))::BIGINT AS did_ppm,
       (rb0 - ra0)::BIGINT AS pre_gap_ppm
FROM wide
""")
def q_diff_in_diff(spark, sf_dir):
    """Difference-in-differences on purchases-per-user (ppm) across
    the timeline midpoint, treating arm B as 'treated' in the post
    period: DiD = (B_post - B_pre) - (A_post - A_pre) removes both
    the arm-level baseline gap and the common time trend — the
    causal-inference estimator q_ab_lift_test (single-period)
    cannot be, plus the PRE-period gap as the parallel-trends
    sanity readout (a large pre-gap is the standard warning that
    DiD's identifying assumption is shaky). Consumes the shared
    md5 arm assignment; all rates are truncating-integer ppm over
    per-arm user counts, so the estimate is exact in both engines.
    One purchase rollup keyed by user, two small joins."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.expr(f"(ts div 1000) div {_DAY_US}")).cast("long")
        .alias("d0"),
        F.max(F.expr(f"(ts div 1000) div {_DAY_US}")).cast("long")
        .alias("d1"),
    )
    assign = ev.select("user_id").distinct().select(
        "user_id",
        F.expr(
            "CASE WHEN cast(conv(substring(md5(concat(cast(user_id"
            " as string), ':exp1')), 1, 8), 16, 10) as bigint) % 2 = 0"
            " THEN 'A' ELSE 'B' END").alias("arm"),
    )
    purch = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id",
                F.expr(f"(ts div 1000) div {_DAY_US}").alias("day"))
        .crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.expr("CASE WHEN day <= (d0 + d1) div 2 THEN 0 ELSE 1"
                   " END").alias("post"),
        )
        .groupBy("user_id", "post")
        .agg(F.count("*").cast("long").alias("k"))
    )
    arm_n = assign.groupBy("arm").agg(
        F.count("*").cast("long").alias("n_users"))
    cell = (
        purch.join(assign, "user_id")
        .groupBy("arm", "post")
        .agg(F.sum("k").cast("long").alias("purchases"))
    )
    rates = cell.join(F.broadcast(arm_n), "arm").select(
        "arm", "post",
        F.expr("(purchases * 1000000) div n_users").alias("r"))
    wide = rates.agg(*[
        F.max(F.when((F.col("arm") == a) & (F.col("post") == p),
                     F.col("r"))).cast("long").alias(f"r{a.lower()}{p}")
        for a in ("A", "B") for p in (0, 1)
    ])
    return wide.select(
        F.col("ra0").alias("rate_a_pre_ppm"),
        F.col("ra1").alias("rate_a_post_ppm"),
        F.col("rb0").alias("rate_b_pre_ppm"),
        F.col("rb1").alias("rate_b_post_ppm"),
        F.expr("CAST((rb1 - rb0) - (ra1 - ra0) AS BIGINT)")
        .alias("did_ppm"),
        F.expr("CAST(rb0 - ra0 AS BIGINT)").alias("pre_gap_ppm"),
    )

@register("q_ridge_2feature", """
WITH pts AS (
    SELECT CAST(round(l_discount * 100) AS BIGINT) AS x1,
           CAST(round(l_extendedprice) AS BIGINT) AS x2,
           CAST(round(l_quantity) AS BIGINT) AS y
    FROM lineitem
), s AS (
    SELECT count(*)::BIGINT AS n,
           sum(x1)::BIGINT AS s1, sum(x2)::BIGINT AS s2,
           sum(y)::BIGINT AS sy,
           sum(x1::DECIMAL(38,0) * x1) AS s11,
           sum(x1::DECIMAL(38,0) * x2) AS s12,
           sum(x2::DECIMAL(38,0) * x2) AS s22,
           sum(x1::DECIMAL(38,0) * y) AS s1y,
           sum(x2::DECIMAL(38,0) * y) AS s2y
    FROM pts
), c AS (
    SELECT n, s1, s2, sy,
           CAST(n::DECIMAL(38,0) * s11 - s1::DECIMAL(38,0) * s1
                AS DOUBLE) AS c11,
           CAST(n::DECIMAL(38,0) * s12 - s1::DECIMAL(38,0) * s2
                AS DOUBLE) AS c12,
           CAST(n::DECIMAL(38,0) * s22 - s2::DECIMAL(38,0) * s2
                AS DOUBLE) AS c22,
           CAST(n::DECIMAL(38,0) * s1y - s1::DECIMAL(38,0) * sy
                AS DOUBLE) AS c1y,
           CAST(n::DECIMAL(38,0) * s2y - s2::DECIMAL(38,0) * sy
                AS DOUBLE) AS c2y
    FROM s
), solved AS (
    SELECT n,
      round(((c22 + (c11 + c22) / 200.0) * c1y - c12 * c2y)
            / ((c11 + (c11 + c22) / 200.0)
               * (c22 + (c11 + c22) / 200.0) - c12 * c12), 6) + 0.0
          AS beta1_ridge,
      round(((c11 + (c11 + c22) / 200.0) * c2y - c12 * c1y)
            / ((c11 + (c11 + c22) / 200.0)
               * (c22 + (c11 + c22) / 200.0) - c12 * c12), 6) + 0.0
          AS beta2_ridge,
      round((c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12), 6) + 0.0
          AS beta1_ols,
      round((c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12), 6) + 0.0
          AS beta2_ols
    FROM c
)
SELECT n, beta1_ridge, beta2_ridge, beta1_ols, beta2_ols
FROM solved
""")
def q_ridge_2feature(spark, sf_dir):
    """Closed-form 2-feature ridge regression IN-ENGINE (quantity ~
    discount + price, centered normal equations with lambda = 0.5%
    of the trace — the scale-free shrinkage choice), next to the
    OLS solution: the shrinkage delta per coefficient is the
    collinearity readout (q_partial_corr diagnoses it; this shows
    what regularization DOES about it), and the whole fit is one
    aggregation pass + a 2x2 inverse — the pattern that scales to
    any p with p^2 sums (distributed normal equations, the
    spark.ml.linalg path without leaving SQL semantics). Centered
    cross-moments n*Sij - Si*Sj are exact DECIMAL(38,0) then ONE
    cast to double; both engines compose the identical closed form
    and round 6dp."""
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.expr("CAST(round(l_discount * 100) AS BIGINT)").alias("x1"),
        F.expr("CAST(round(l_extendedprice) AS BIGINT)").alias("x2"),
        F.expr("CAST(round(l_quantity) AS BIGINT)").alias("y"),
    )
    s = pts.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x1").cast("long").alias("s1"),
        F.sum("x2").cast("long").alias("s2"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x1").cast("decimal(38,0)") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1").cast("decimal(38,0)") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2").cast("decimal(38,0)") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1").cast("decimal(38,0)") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2").cast("decimal(38,0)") * F.col("y")).alias("s2y"),
    )
    c = s.select(
        "n",
        *[F.expr(
            f"CAST(CAST(n AS DECIMAL(38,0)) * {sij}"
            f" - CAST({si} AS DECIMAL(38,0)) * {sj} AS DOUBLE)"
        ).alias(name)
          for name, sij, si, sj in (
              ("c11", "s11", "s1", "s1"), ("c12", "s12", "s1", "s2"),
              ("c22", "s22", "s2", "s2"), ("c1y", "s1y", "s1", "sy"),
              ("c2y", "s2y", "s2", "sy"))],
    )
    lam = "(c11 + c22) / 200.0"
    det_r = f"((c11 + {lam}) * (c22 + {lam}) - c12 * c12)"
    return c.select(
        "n",
        F.expr(f"round(((c22 + {lam}) * c1y - c12 * c2y) / {det_r}, 6)"
               " + 0.0").alias("beta1_ridge"),
        F.expr(f"round(((c11 + {lam}) * c2y - c12 * c1y) / {det_r}, 6)"
               " + 0.0").alias("beta2_ridge"),
        F.expr("round((c22 * c1y - c12 * c2y)"
               " / (c11 * c22 - c12 * c12), 6) + 0.0").alias("beta1_ols"),
        F.expr("round((c11 * c2y - c12 * c1y)"
               " / (c11 * c22 - c12 * c12), 6) + 0.0").alias("beta2_ols"),
    )


@register("q_dup_source_matrix", _CC_CTES + """
, srcs AS (SELECT doc_id, source FROM documents),
pairs_s AS (
    SELECT least(sa.source, sb.source) AS source_x,
           greatest(sa.source, sb.source) AS source_y,
           count(*)::BIGINT AS n_pairs
    FROM jac j
    JOIN srcs sa ON sa.doc_id = j.doc_a
    JOIN srcs sb ON sb.doc_id = j.doc_b
    GROUP BY 1, 2
), tot AS (SELECT sum(n_pairs)::BIGINT AS t FROM pairs_s)
SELECT p.source_x, p.source_y, p.n_pairs,
       ((p.n_pairs * 1000000) // t.t)::BIGINT AS share_ppm,
       p.source_x = p.source_y AS within_source
FROM pairs_s p, tot t
""")
def q_dup_source_matrix(spark, sf_dir):
    """Provenance matrix of near-duplicate PAIRS by source pair
    (canonically ordered): which sources copy from each other vs
    duplicate internally — the flow map behind q_graph_modularity's
    single number (modularity says WHETHER cross-source copying
    dominates; this says WHICH source pairs, i.e. where the shared
    boilerplate or mirroring lives, and therefore which ingest
    streams need a cross-source dedup barrier at 100 TB and which
    can dedup shard-locally). Consumes the memoized verified-pair
    relation; two hash joins against the slim (doc_id, source)
    projection; output <= |sources|^2 rows, integer ppm."""
    pairs = _jaccard_pairs(spark, sf_dir)
    srcs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source")
    j = (
        pairs
        .join(srcs.withColumnsRenamed(
            {"doc_id": "doc_a", "source": "src_a"}), "doc_a")
        .join(srcs.withColumnsRenamed(
            {"doc_id": "doc_b", "source": "src_b"}), "doc_b")
        .groupBy(
            F.least("src_a", "src_b").alias("source_x"),
            F.greatest("src_a", "src_b").alias("source_y"))
        .agg(F.count("*").cast("long").alias("n_pairs"))
    )
    tot = j.agg(F.sum("n_pairs").cast("long").alias("t"))
    return j.crossJoin(F.broadcast(tot)).select(
        "source_x", "source_y", "n_pairs",
        F.expr("CAST((n_pairs * 1000000) div t AS BIGINT)")
        .alias("share_ppm"),
        F.expr("source_x = source_y").alias("within_source"),
    )

@register("q_negbin_fit", """
WITH per_user AS (
    SELECT user_id, count(*)::BIGINT AS k
    FROM events GROUP BY 1
), s AS (
    SELECT count(*)::BIGINT AS n, sum(k)::BIGINT AS sk,
           sum(k::DECIMAL(38,0) * k) AS skk
    FROM per_user
), mv AS (
    SELECT n, sk,
           CAST(sk AS DOUBLE) / n AS m,
           (CAST(n AS DOUBLE) * CAST(skk AS DOUBLE)
            - CAST(sk AS DOUBLE) * sk)
           / (CAST(n AS DOUBLE) * (n - 1)) AS v
    FROM s
)
SELECT n AS n_users,
       round(m, 4) AS mean_events,
       round(v, 4) AS var_events,
       CAST(round(v / m * 1000, 0) AS BIGINT) AS dispersion_milli,
       v > m AS overdispersed,
       CASE WHEN v > m THEN round(m * m / (v - m), 4) END AS nb_r,
       CASE WHEN v > m THEN CAST(round(m / v * 1000000, 0) AS BIGINT)
       END AS nb_p_ppm
FROM mv
""")
def q_negbin_fit(spark, sf_dir):
    """Negative-binomial method-of-moments fit to per-user event
    counts: r = m^2/(v-m), p = m/v — the model choice gate for any
    count regression or anomaly threshold on user activity (a
    Poisson assumption under overdispersion, v > m, under-calls the
    tail and pages on normal heavy users; q_burstiness flags the
    overdispersion, this FITS the distribution you should use
    instead, and NULL nb params honestly report 'not
    overdispersed, use Poisson'). Exact integer moments (squares
    in DECIMAL(38,0)); mean/variance composed identically; one
    per-user rollup then driver-sized."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("k")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("k").cast("long").alias("sk"),
        F.sum(F.col("k").cast("decimal(38,0)") * F.col("k"))
        .alias("skk"),
    )
    m = "(CAST(sk AS DOUBLE) / n)"
    v = ("((CAST(n AS DOUBLE) * CAST(skk AS DOUBLE)"
         " - CAST(sk AS DOUBLE) * sk) / (CAST(n AS DOUBLE) * (n - 1)))")
    return s.select(
        F.col("n").alias("n_users"),
        F.expr(f"round({m}, 4)").alias("mean_events"),
        F.expr(f"round({v}, 4)").alias("var_events"),
        F.expr(f"CAST(round({v} / {m} * 1000, 0) AS BIGINT)")
        .alias("dispersion_milli"),
        F.expr(f"{v} > {m}").alias("overdispersed"),
        F.expr(f"CASE WHEN {v} > {m}"
               f" THEN round({m} * {m} / ({v} - {m}), 4) END")
        .alias("nb_r"),
        F.expr(f"CASE WHEN {v} > {m}"
               f" THEN CAST(round({m} / {v} * 1000000, 0) AS BIGINT)"
               " END").alias("nb_p_ppm"),
    )


@register("q_price_index", f"""
WITH bounds AS (
    SELECT min(epoch_us(o_orderdate) // {_DAY_US})::BIGINT AS d0,
           max(epoch_us(o_orderdate) // {_DAY_US})::BIGINT AS d1
    FROM orders
), li2 AS (
    SELECT l.l_partkey,
           CASE WHEN epoch_us(o.o_orderdate) // {_DAY_US}
                     <= (b.d0 + b.d1) // 2 THEN 0 ELSE 1 END AS h,
           CAST(round(l.l_quantity) AS BIGINT) AS q,
           CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey,
         bounds b
    WHERE l.l_quantity > 0
), per AS (
    SELECT l_partkey, h, sum(q)::BIGINT AS q,
           sum(cents)::BIGINT AS cents
    FROM li2 GROUP BY 1, 2
), both_h AS (
    SELECT a.l_partkey, a.q AS q0, a.cents AS c0,
           b.q AS q1, b.cents AS c1
    FROM (SELECT * FROM per WHERE h = 0) a
    JOIN (SELECT * FROM per WHERE h = 1) b
      ON b.l_partkey = a.l_partkey
), sums AS (
    SELECT count(*)::BIGINT AS n_parts,
           sum(c0)::BIGINT AS p0q0,
           sum((c1 * q0) // q1)::BIGINT AS p1q0,
           sum(c1)::BIGINT AS p1q1,
           sum((c0 * q1) // q0)::BIGINT AS p0q1,
           (1 + (sum(c0) + sum((c1 * q0) // q1) + sum(c1)
                 + sum((c0 * q1) // q0)) // 1000000000000)::BIGINT AS s
    FROM both_h
)
SELECT n_parts,
       (((p1q0 // s) * 1000000) // greatest(p0q0 // s, 1))::BIGINT
           AS laspeyres_ppm,
       (((p1q1 // s) * 1000000) // greatest(p0q1 // s, 1))::BIGINT
           AS paasche_ppm,
       CAST(round(sqrt((CAST(p1q0 AS DOUBLE) / p0q0)
                       * (CAST(p1q1 AS DOUBLE) / p0q1)) * 1000000, 0)
            AS BIGINT) AS fisher_ppm
FROM sums
""")
def q_price_index(spark, sf_dir):
    """Laspeyres / Paasche / Fisher price indices between the two
    halves of the order timeline over the common part basket — the
    economics-grade 'did prices actually move or did the MIX move'
    decomposition that a raw average-unit-price trend (q_orders_
    monthly_trend) conflates: Laspeyres weights by the OLD basket,
    Paasche by the new, Fisher is their geometric mean, and the
    L-P gap itself measures substitution. Per-(part, half) unit
    values stay exact integers (cents*quantity cross terms in
    truncating integer div); the basket join keeps only parts
    traded in BOTH halves (the index's common-basket requirement);
    Fisher's sqrt is one IEEE call on ratios of exact integers."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    bounds = orders.agg(
        F.min(F.expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))"
                     f" div {_DAY_US}")).cast("long").alias("d0"),
        F.max(F.expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))"
                     f" div {_DAY_US}")).cast("long").alias("d1"),
    )
    li2 = (
        li.where(F.col("l_quantity") > 0)
        .join(orders.select(
            "o_orderkey",
            F.expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))"
                   f" div {_DAY_US}").alias("day")),
            li["l_orderkey"] == F.col("o_orderkey"))
        .crossJoin(F.broadcast(bounds))
        .select(
            "l_partkey",
            F.expr("CASE WHEN day <= (d0 + d1) div 2 THEN 0 ELSE 1"
                   " END").alias("h"),
            F.expr("CAST(round(l_quantity) AS BIGINT)").alias("q"),
            F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
            .alias("cents"),
        )
    )
    per = li2.groupBy("l_partkey", "h").agg(
        F.sum("q").cast("long").alias("q"),
        F.sum("cents").cast("long").alias("cents"))
    a = per.where(F.col("h") == 0).select(
        "l_partkey", F.col("q").alias("q0"), F.col("cents").alias("c0"))
    b = per.where(F.col("h") == 1).select(
        F.col("l_partkey").alias("pk_b"),
        F.col("q").alias("q1"), F.col("cents").alias("c1"))
    both = a.join(b, a["l_partkey"] == b["pk_b"])
    sums = both.agg(
        F.count("*").cast("long").alias("n_parts"),
        F.sum("c0").cast("long").alias("p0q0"),
        F.sum(F.expr("(c1 * q0) div q1")).cast("long").alias("p1q0"),
        F.sum("c1").cast("long").alias("p1q1"),
        F.sum(F.expr("(c0 * q1) div q0")).cast("long").alias("p0q1"),
        # round-8 scale guard (see q_abc_classification): all four
        # cents-scale sums share one reducer so the 1e6 ppm multiply
        # can't overflow at any corpus size
        F.expr(
            "CAST(1 + (sum(c0) + sum((c1 * q0) div q1) + sum(c1)"
            " + sum((c0 * q1) div q0)) div 1000000000000 AS BIGINT)"
        ).alias("s"),
    )
    return sums.select(
        "n_parts",
        F.expr(
            "CAST(((p1q0 div s) * 1000000) div greatest(p0q0 div s, 1)"
            " AS BIGINT)"
        ).alias("laspeyres_ppm"),
        F.expr(
            "CAST(((p1q1 div s) * 1000000) div greatest(p0q1 div s, 1)"
            " AS BIGINT)"
        ).alias("paasche_ppm"),
        F.expr(
            "CAST(round(sqrt((CAST(p1q0 AS DOUBLE) / p0q0)"
            " * (CAST(p1q1 AS DOUBLE) / p0q1)) * 1000000, 0)"
            " AS BIGINT)").alias("fisher_ppm"),
    )


@register("q_sprt_status", f"""
WITH {_AB_ARMS_SQL}, wide AS (
    SELECT
      max(CASE WHEN arm = 'A' THEN n END)::BIGINT AS na,
      max(CASE WHEN arm = 'A' THEN x END)::BIGINT AS xa,
      max(CASE WHEN arm = 'B' THEN n END)::BIGINT AS nb,
      max(CASE WHEN arm = 'B' THEN x END)::BIGINT AS xb
    FROM arms
), pars AS (
    SELECT na, xa, nb, xb,
           least(greatest((xa * 1000000) // na, 1), 909090) AS p0_ppm,
           CAST(least(greatest((xa * 1000000) // na, 1), 909090)
                AS DOUBLE) / 1000000.0 AS p0,
           CAST(least(greatest((xa * 1000000) // na, 1), 909090)
                AS DOUBLE) / 1000000.0 * 1.1 AS p1
    FROM wide
), llr AS (
    SELECT na, xa, nb, xb, p0_ppm,
           round(xb * round(ln(p1 / p0), 6)
                 + (nb - xb) * round(ln((1.0 - p1) / (1.0 - p0)), 6),
                 4) AS llr_b
    FROM pars
)
SELECT na AS n_control, xa AS x_control, nb AS n_treat, xb AS x_treat,
       p0_ppm, llr_b,
       CAST({_SPRT_UPPER} AS DOUBLE) AS upper_bound,
       CAST({_SPRT_LOWER} AS DOUBLE) AS lower_bound,
       CASE WHEN llr_b >= CAST({_SPRT_UPPER} AS DOUBLE) THEN 'accept_h1'
            WHEN llr_b <= CAST({_SPRT_LOWER} AS DOUBLE) THEN 'accept_h0'
            ELSE 'continue' END AS decision
FROM llr
""")
def q_sprt_status(spark, sf_dir):
    """Wald SPRT status for the live A/B experiment (H1 = +10%
    relative lift, alpha=.05, beta=.20): the treatment arm's
    log-likelihood ratio against the control-estimated baseline,
    with the accept/reject/continue boundaries ln((1-b)/a),
    ln(b/(1-a)) — the PEEKING-SAFE sequential answer to 'can we
    stop the test yet?' that repeatedly reading q_ab_lift_test's
    fixed-horizon p-value gets wrong (each peek inflates false
    positives; the SPRT's boundaries price the peeking in).
    Completes the experimentation suite: split/balance audits ->
    power gate -> sequential monitor -> fixed-horizon test.
    Consumes the ONE shared arms relation; each ln is rounded 6dp
    (zipf protocol) before the exact-integer-weighted composition;
    p0 is clamped to [1, 909090] ppm so the LLR stays finite when an
    arm has zero (or all) conversions at tiny SF; one row out."""
    wide = _ab_arms(spark, sf_dir).agg(*[
        F.max(F.when(F.col("arm") == a, F.col(c))).cast("long")
        .alias(f"{c}{a.lower()}")
        for a in ("A", "B") for c in ("n", "x")
    ])
    p0_ppm = "least(greatest((xa * 1000000) div na, 1), 909090)"
    p0 = f"(CAST({p0_ppm} AS DOUBLE) / 1000000.0)"
    p1 = f"({p0} * 1.1)"
    llr = (
        f"round(xb * round(ln({p1} / {p0}), 6)"
        f" + (nb - xb) * round(ln((1.0 - {p1}) / (1.0 - {p0})), 6), 4)"
    )
    return wide.select(
        F.col("na").alias("n_control"), F.col("xa").alias("x_control"),
        F.col("nb").alias("n_treat"), F.col("xb").alias("x_treat"),
        F.expr(f"CAST({p0_ppm} AS BIGINT)").alias("p0_ppm"),
        F.expr(llr).alias("llr_b"),
        F.expr(f"CAST({_SPRT_UPPER} AS DOUBLE)").alias("upper_bound"),
        F.expr(f"CAST({_SPRT_LOWER} AS DOUBLE)").alias("lower_bound"),
        F.expr(
            f"CASE WHEN {llr} >= CAST({_SPRT_UPPER} AS DOUBLE)"
            " THEN 'accept_h1'"
            f" WHEN {llr} <= CAST({_SPRT_LOWER} AS DOUBLE)"
            " THEN 'accept_h0'"
            " ELSE 'continue' END").alias("decision"),
    )

@register("q_linear_attribution", f"""
WITH purchases AS (
    SELECT event_id AS pid, user_id, epoch_us(ts) AS pts
    FROM events WHERE event_type = 'purchase'
), touches AS (
    SELECT p.pid, e.event_type
    FROM purchases p JOIN events e
      ON e.user_id = p.user_id
     AND e.event_type <> 'purchase'
     AND epoch_us(e.ts) < p.pts
     AND epoch_us(e.ts) >= p.pts - {_ATTR_WINDOW_US}
), k AS (
    SELECT pid, count(*)::BIGINT AS k FROM touches GROUP BY 1
), credit AS (
    SELECT t.event_type,
           sum((1000000 * cnt) // k.k)::BIGINT AS credit_ppm
    FROM (SELECT pid, event_type, count(*)::BIGINT AS cnt
          FROM touches GROUP BY 1, 2) t
    JOIN k ON k.pid = t.pid
    GROUP BY 1
), tot AS (
    SELECT sum(credit_ppm)::BIGINT AS t,
           (SELECT count(*) FROM k)::BIGINT AS n_converted
    FROM credit
)
SELECT c.event_type, c.credit_ppm,
       ((c.credit_ppm * 1000000) // t.t)::BIGINT AS share_ppm,
       t.n_converted
FROM credit c, tot t
""")
def q_linear_attribution(spark, sf_dir):
    """Linear multi-touch attribution: every purchase splits one
    unit of credit EQUALLY across the user's touches in the prior
    7 days — the model between q_events_attribution's last-touch
    (winner-take-all overvalues the closer) and data-driven Shapley
    (q_shapley_attribution, feature-level): per-channel credit
    shares that sum to the conversion count. The touch join is an
    equi-join on user_id with the window predicate as a filter
    (per-user fanout bounded by the 7-day horizon — never a time
    cross join); per-purchase credit is the truncating integer
    (1e6*cnt)/k so both engines split identically. Output is
    |event types| rows."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("puid"),
        F.expr("ts div 1000").alias("pts"),
    )
    touches = (
        purchases.join(
            ev.where(F.col("event_type") != "purchase").select(
                "user_id", "event_type",
                F.expr("ts div 1000").alias("ets")),
            (F.col("user_id") == F.col("puid"))
            & (F.col("ets") < F.col("pts"))
            & (F.col("ets") >= F.col("pts") - _ATTR_WINDOW_US))
        .select("pid", "event_type")
    )
    # r14: a checkpoint-the-per_type restructure was measured and
    # REVERTED — ABAB 1.03× at sf0.1 (wash), 1.23× at the 10× leg and
    # 1.29× at 8 cores: materializing the interval-join's aggregated
    # output costs more than the duplicated-but-concurrent subtrees
    # it saves (the ivf_recall lesson). The original shape stays.
    k = touches.groupBy("pid").agg(F.count("*").cast("long").alias("k"))
    per_type = touches.groupBy("pid", "event_type").agg(
        F.count("*").cast("long").alias("cnt"))
    credit = (
        per_type.join(k, "pid")
        .groupBy("event_type")
        .agg(F.sum(F.expr("(1000000 * cnt) div k")).cast("long")
             .alias("credit_ppm"))
    )
    tot = credit.agg(F.sum("credit_ppm").cast("long").alias("t"))
    ncv = k.agg(F.count("*").cast("long").alias("n_converted"))
    return (
        credit.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ncv))
        .select(
            "event_type", "credit_ppm",
            F.expr("CAST((credit_ppm * 1000000) div t AS BIGINT)")
            .alias("share_ppm"),
            "n_converted",
        )
    )


@register("q_hill_tail_index", """
WITH ranked AS (
    SELECT o_totalprice,
           row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey)
               AS r
    FROM orders
), thr AS (
    SELECT o_totalprice AS t FROM ranked WHERE r = 501
), ls AS (
    SELECT CAST(round(ln(rk.o_totalprice / thr.t) * 1000000, 0)
                AS BIGINT) AS lm
    FROM ranked rk, thr WHERE rk.r <= 500
), s AS (
    SELECT sum(lm)::BIGINT AS sl, count(*)::BIGINT AS k FROM ls
)
SELECT s.k,
       CAST(round(thr.t * 100, 0) AS BIGINT) AS threshold_cents,
       greatest(s.sl // s.k, 1) AS xi_ppm,
       (1000000000 // greatest(s.sl // s.k, 1)) AS alpha_milli
FROM s, thr
""")
def q_hill_tail_index(spark, sf_dir):
    """Hill estimator of the order-value tail index over the top-500
    order statistics: xi = mean ln(x_(i)/x_(501)), alpha = 1/xi — the
    heavy-tail risk reading that says whether revenue concentration
    (q_revenue_gini) comes from a power law (alpha < 2: variance
    effectively infinite, top-customer exposure unbounded) or a
    well-behaved tail; the order-statistics twin of the block-maxima
    Gumbel fit (q_gumbel_maxima). SCALE SHAPE: the only global
    operation is a distributed top-501 (TakeOrderedAndProject — each
    partition keeps 501, driver merges 501·P rows), the rank window
    then runs over that 501-row relation only. Each ln(x/thr) is an
    identical IEEE double ratio rounded to integer micro; the sum is
    exact BIGINT; xi clamped >= 1 ppm so alpha is finite on a
    degenerate (all-equal) tail."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_totalprice", "o_orderkey")
    top = o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey")) \
        .limit(501)
    ranked = top.select(
        "o_totalprice",
        F.row_number().over(
            Window.orderBy(F.col("o_totalprice").desc(),
                           F.col("o_orderkey"))).alias("r"),
    )
    thr = ranked.where(F.col("r") == 501).select(
        F.col("o_totalprice").alias("t"))
    s = (
        ranked.where(F.col("r") <= 500)
        .crossJoin(F.broadcast(thr))
        .select(F.expr(
            "CAST(round(ln(o_totalprice / t) * 1000000, 0) AS BIGINT)"
        ).alias("lm"))
        .agg(F.sum("lm").cast("long").alias("sl"),
             F.count("*").cast("long").alias("k"))
    )
    return s.crossJoin(F.broadcast(thr)).select(
        "k",
        F.expr("CAST(round(t * 100, 0) AS BIGINT)")
        .alias("threshold_cents"),
        F.expr("greatest(sl div k, 1)").alias("xi_ppm"),
        F.expr("1000000000 div greatest(sl div k, 1)")
        .alias("alpha_milli"),
    )

@register("q_bh_fdr", f"""
WITH {_AB_ARMS_SQL}, part AS (
    SELECT DISTINCT user_id, event_type FROM events
), nn AS (
    SELECT max(CASE WHEN arm = 'A' THEN n END)::BIGINT AS na,
           max(CASE WHEN arm = 'B' THEN n END)::BIGINT AS nb
    FROM arms
), x AS (
    SELECT p.event_type, a.arm, count(*)::BIGINT AS x
    FROM part p JOIN assign a USING (user_id)
    GROUP BY 1, 2
), wide AS (
    SELECT event_type,
           coalesce(max(CASE WHEN arm = 'A' THEN x END), 0)::BIGINT
               AS xa,
           coalesce(max(CASE WHEN arm = 'B' THEN x END), 0)::BIGINT
               AS xb
    FROM x GROUP BY 1
), zs AS (
    SELECT event_type, xa, xb, z,
           CASE WHEN z < 0 THEN -z ELSE z END AS az
    FROM (SELECT event_type, xa, xb, {_BH_Z} AS z FROM wide, nn)
), ps AS (
    SELECT event_type,
           CAST(round(z * 1000, 0) AS BIGINT) AS z_milli,
           least(CAST(round(2000000 * {_PHI_TAIL}, 0) AS BIGINT),
                 1000000) AS p_ppm
    FROM zs
), ranked AS (
    SELECT *, row_number() OVER (ORDER BY p_ppm, event_type) AS p_rank,
           (SELECT count(*) FROM ps)::BIGINT AS m
    FROM ps
), imax AS (
    SELECT coalesce(max(p_rank), 0)::BIGINT AS im
    FROM ranked WHERE p_ppm * m <= p_rank * 50000
)
SELECT event_type, z_milli, p_ppm, p_rank::BIGINT AS p_rank,
       (p_rank <= im) AS discovery
FROM ranked, imax
""")
def q_bh_fdr(spark, sf_dir):
    """Benjamini-Hochberg FDR correction over the per-event-type A/B
    participation tests: a two-proportion z-test per event type
    between the md5 arms (did the treatment shift ANY behavior, not
    just purchases), then the BH step-up at FDR 5% — the
    multiple-testing gate that q_ab_lift_test's single p-value
    doesn't need but a per-metric dashboard does (5 uncorrected
    tests at alpha=.05 false-alarm ~23% of healthy experiments).
    Engine parity: z is plain IEEE arithmetic + one correctly-
    rounded sqrt (identical both engines); the normal tail uses the
    Zelen-Severo polynomial SHARED TEXTUALLY with the oracle, its
    exp rounded 6dp; BH compares integer p_ppm * m <= rank * 50000.
    The rank window runs over the |event types| relation; the only
    data-sized shuffles are the distinct (user,type) relation and
    the user-keyed arm join."""
    ev = load_table(spark, sf_dir, "events")
    part = ev.select("user_id", "event_type").distinct()
    assign = _ab_arms_assign(spark, sf_dir)
    nn = _ab_arms(spark, sf_dir).agg(
        F.max(F.when(F.col("arm") == "A", F.col("n"))).cast("long")
        .alias("na"),
        F.max(F.when(F.col("arm") == "B", F.col("n"))).cast("long")
        .alias("nb"),
    )
    wide = (
        part.join(assign, "user_id")
        .groupBy("event_type")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("arm") == "A", 1)), F.lit(0))
            .cast("long").alias("xa"),
            F.coalesce(
                F.sum(F.when(F.col("arm") == "B", 1)), F.lit(0))
            .cast("long").alias("xb"),
        )
    )
    zs = (
        wide.crossJoin(F.broadcast(nn))
        .withColumn("z", F.expr(_BH_Z))
        .withColumn("az", F.expr("CASE WHEN z < 0 THEN -z ELSE z END"))
    )
    # localCheckpoint (round 13): ps is <= |event types| rows, but m,
    # the rank window, the BH step-up scan and the output each
    # re-inlined the distinct-participation join + arm aggregates
    # without it (measured: 12 parquet scans in one plan; 2 after)
    ps = zs.select(
        "event_type",
        F.expr("CAST(round(z * 1000, 0) AS BIGINT)").alias("z_milli"),
        F.expr(f"least(CAST(round(2000000 * {_PHI_TAIL}, 0) AS BIGINT),"
               " 1000000)").alias("p_ppm"),
    ).localCheckpoint()
    m = ps.agg(F.count("*").cast("long").alias("m"))
    ranked = ps.crossJoin(F.broadcast(m)).withColumn(
        "p_rank",
        F.row_number().over(Window.orderBy("p_ppm", "event_type"))
        .cast("long"),
    )
    imax = ranked.where(
        F.expr("p_ppm * m <= p_rank * 50000")
    ).agg(F.coalesce(F.max("p_rank"), F.lit(0)).cast("long").alias("im"))
    return ranked.crossJoin(F.broadcast(imax)).select(
        "event_type", "z_milli", "p_ppm", "p_rank",
        (F.col("p_rank") <= F.col("im")).alias("discovery"),
    )


@register("q_item_item_cosine", """
WITH cb AS (
    SELECT DISTINCT o.o_custkey AS c, p.p_brand AS b
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN part p ON p.p_partkey = l.l_partkey
), nb AS (
    SELECT b, count(*)::BIGINT AS n FROM cb GROUP BY 1
), co AS (
    SELECT a.b AS brand_x, b.b AS brand_y, count(*)::BIGINT AS co
    FROM cb a JOIN cb b ON a.c = b.c AND a.b < b.b
    GROUP BY 1, 2
), cos AS (
    SELECT c.brand_x, c.brand_y, c.co, nx.n AS n_x, ny.n AS n_y,
           ((c.co * 1000000)
            // CAST(round(sqrt(CAST(nx.n * ny.n AS DOUBLE)), 0)
                    AS BIGINT))::BIGINT AS cosine_ppm
    FROM co c
    JOIN nb nx ON nx.b = c.brand_x
    JOIN nb ny ON ny.b = c.brand_y
)
SELECT brand_x, brand_y, co AS n_co, n_x, n_y, cosine_ppm
FROM cos
ORDER BY cosine_ppm DESC, brand_x, brand_y
LIMIT 20
""")
def q_item_item_cosine(spark, sf_dir):
    """Item-item collaborative-filtering cosine over brands: top-20
    brand pairs by co-purchase cosine co(x,y)/sqrt(n_x*n_y) on the
    distinct (customer, brand) relation — the 'customers who buy X
    buy Y' primitive behind recommendations and assortment planning;
    the customer-level set-similarity twin of q_basket_lift's
    order-level probabilistic lift. SCALE SHAPE: the pair join runs
    WITHIN customer on the distinct relation, fanout <= C(|brands
    per customer|, 2) with |brands| a fixed catalog vocabulary (TPC-H
    ~25), so co-occurrence is brand^2-bounded however many customers
    exist; per-brand counts broadcast onto the pair relation; the
    final top-20 is TakeOrdered. Cosine in integer ppm against the
    round(sqrt)->BIGINT denominator (kendall-tau protocol)."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey"), F.col("o_custkey").alias("c"))
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey")
    p = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey"), F.col("p_brand").alias("b"))
    # localCheckpoint: cb feeds three consumers (nb, both pair-join
    # sides) — without it the orders⋈lineitem⋈part distinct runs
    # three times (round-10 verdict: ~1/3 of the query's wall)
    cb = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select("c", "b").distinct()
        .localCheckpoint()
    )
    nb = cb.groupBy("b").agg(F.count("*").cast("long").alias("n"))
    left = cb.withColumnsRenamed({"b": "brand_x"})
    right = cb.withColumnsRenamed({"b": "brand_y", "c": "c2"})
    co = (
        left.join(right, (F.col("c") == F.col("c2"))
                  & (F.col("brand_x") < F.col("brand_y")))
        .groupBy("brand_x", "brand_y")
        .agg(F.count("*").cast("long").alias("n_co"))
    )
    cos = (
        co.join(F.broadcast(nb.withColumnsRenamed(
            {"b": "brand_x", "n": "n_x"})), "brand_x")
        .join(F.broadcast(nb.withColumnsRenamed(
            {"b": "brand_y", "n": "n_y"})), "brand_y")
        .withColumn(
            "cosine_ppm",
            F.expr("CAST((n_co * 1000000)"
                   " div CAST(round(sqrt(CAST(n_x * n_y AS DOUBLE)), 0)"
                   " AS BIGINT) AS BIGINT)"),
        )
    )
    return (
        cos.select("brand_x", "brand_y", "n_co", "n_x", "n_y",
                   "cosine_ppm")
        .orderBy(F.col("cosine_ppm").desc(), "brand_x", "brand_y")
        .limit(20)
    )

@register("q_cuped_adjustment", f"""
WITH bounds AS (
    SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid
    FROM events
), assign AS (
    SELECT user_id,
           CASE WHEN (CAST(('0x' || substring(
                    md5(CAST(user_id AS VARCHAR) || ':exp1'), 1, 8))
                    AS BIGINT) % 2) = 0
                THEN 'A' ELSE 'B' END AS arm
    FROM (SELECT DISTINCT user_id FROM events)
), pre AS (
    SELECT e.user_id, count(*)::BIGINT AS x
    FROM events e, bounds b WHERE epoch_us(e.ts) < b.mid
    GROUP BY 1
), post AS (
    SELECT e.user_id, count(*)::BIGINT AS y
    FROM events e, bounds b
    WHERE epoch_us(e.ts) >= b.mid AND e.event_type = 'purchase'
    GROUP BY 1
), uxy AS (
    SELECT a.arm, coalesce(p.x, 0) AS x, coalesce(q.y, 0) AS y
    FROM assign a
    LEFT JOIN pre p USING (user_id)
    LEFT JOIN post q USING (user_id)
), s AS (
    SELECT count(*)::BIGINT AS n,
           sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
           sum(x * y)::BIGINT AS sxy,
           sum(x * x)::BIGINT AS sxx, sum(y * y)::BIGINT AS syy,
           sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END)::BIGINT AS na,
           sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END)::BIGINT AS nb,
           sum(CASE WHEN arm = 'A' THEN x ELSE 0 END)::BIGINT AS sxa,
           sum(CASE WHEN arm = 'B' THEN x ELSE 0 END)::BIGINT AS sxb,
           sum(CASE WHEN arm = 'A' THEN y ELSE 0 END)::BIGINT AS sya,
           sum(CASE WHEN arm = 'B' THEN y ELSE 0 END)::BIGINT AS syb
    FROM uxy
)
SELECT n AS n_users,
       CAST(round({_CUPED_THETA} * 1000000, 0) AS BIGINT)
           AS theta_micro,
       CAST(round({_CUPED_RAW} * 1000000, 0) AS BIGINT)
           AS lift_raw_micro,
       CAST(round({_CUPED_ADJ} * 1000000, 0) AS BIGINT)
           AS lift_cuped_micro,
       CAST(round({_CUPED_RHO2} * 1000000, 0) AS BIGINT)
           AS var_reduction_ppm
FROM s
""")
def q_cuped_adjustment(spark, sf_dir):
    """CUPED variance reduction (Deng 2013) for the live A/B
    experiment: pre-period activity per user as the covariate,
    post-period purchases as the outcome, theta = cov(X,Y)/var(X)
    pooled across arms, adjusted lift = raw lift - theta * covariate
    imbalance, and the variance-reduction factor rho^2 — the
    experimentation-platform standard that shrinks required sample
    size by exactly rho^2 (here measured, not assumed; it also
    corrects the lift for any pre-exposure activity imbalance the
    SRM/balance audits flag). ONE pass: per-user (x, y) via two
    conditional aggregations against the broadcast timeline
    midpoint, exact BIGINT moment sums, every derived statistic an
    identically-composed double expression shared textually with
    the oracle."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(F.expr(
        "(min(ts div 1000) + max(ts div 1000)) div 2").alias("mid"))
    assign = _ab_arms_assign(spark, sf_dir)
    peru = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.expr("ts div 1000 < mid"), 1).otherwise(0))
            .cast("long").alias("x"),
            F.sum(F.when(
                F.expr("ts div 1000 >= mid AND event_type = 'purchase'"),
                1).otherwise(0)).cast("long").alias("y"),
        )
    )
    uxy = (
        assign.join(peru, "user_id", "left")
        .select("arm",
                F.coalesce("x", F.lit(0)).cast("long").alias("x"),
                F.coalesce("y", F.lit(0)).cast("long").alias("y"))
    )
    s = uxy.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0)).cast("long")
        .alias("na"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0)).cast("long")
        .alias("nb"),
        F.sum(F.when(F.col("arm") == "A", F.col("x")).otherwise(0))
        .cast("long").alias("sxa"),
        F.sum(F.when(F.col("arm") == "B", F.col("x")).otherwise(0))
        .cast("long").alias("sxb"),
        F.sum(F.when(F.col("arm") == "A", F.col("y")).otherwise(0))
        .cast("long").alias("sya"),
        F.sum(F.when(F.col("arm") == "B", F.col("y")).otherwise(0))
        .cast("long").alias("syb"),
    )
    return s.select(
        F.col("n").alias("n_users"),
        F.expr(f"CAST(round({_CUPED_THETA} * 1000000, 0) AS BIGINT)")
        .alias("theta_micro"),
        F.expr(f"CAST(round({_CUPED_RAW} * 1000000, 0) AS BIGINT)")
        .alias("lift_raw_micro"),
        F.expr(f"CAST(round({_CUPED_ADJ} * 1000000, 0) AS BIGINT)")
        .alias("lift_cuped_micro"),
        F.expr(f"CAST(round({_CUPED_RHO2} * 1000000, 0) AS BIGINT)")
        .alias("var_reduction_ppm"),
    )

@register("q_markov_order_test", f"""
WITH seq AS (
    SELECT user_id, event_type AS c,
           lag(event_type, 1) OVER w AS b,
           lag(event_type, 2) OVER w AS a
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
), n3 AS (
    SELECT a, b, c, count(*)::BIGINT AS n
    FROM seq WHERE a IS NOT NULL GROUP BY 1, 2, 3
), n2l AS (
    SELECT a, b, sum(n)::BIGINT AS nl FROM n3 GROUP BY 1, 2
), n2r AS (
    SELECT b, c, sum(n)::BIGINT AS nr FROM n3 GROUP BY 1, 2
), n1 AS (
    SELECT b, sum(n)::BIGINT AS nb FROM n3 GROUP BY 1
), terms AS (
    SELECT t.n,
           round(ln((CAST(t.n AS DOUBLE) * m.nb)
                    / (CAST(l.nl AS DOUBLE) * r.nr)), 6) AS lr
    FROM n3 t
    JOIN n2l l USING (a, b) JOIN n2r r USING (b, c) JOIN n1 m USING (b)
), g AS (
    SELECT sum(n)::BIGINT AS n_triples,
           CAST(sum(n * lr::DECIMAL(18,6)) AS DOUBLE) AS s
    FROM terms
), dofs AS (
    SELECT sum((na - 1) * (nc - 1))::BIGINT AS dof
    FROM (SELECT b, count(DISTINCT a)::BIGINT AS na FROM n2l GROUP BY 1)
    JOIN (SELECT b, count(DISTINCT c)::BIGINT AS nc FROM n2r GROUP BY 1)
    USING (b)
), zs AS (
    SELECT n_triples,
           CAST(round(s * 2000, 0) AS BIGINT) AS g2_milli,
           greatest(dof, 1) AS dof,
           2.0 * greatest(s, 0.0) AS g2
    FROM g, dofs
), ps AS (
    SELECT n_triples, g2_milli, dof,
           CAST(round({_WH_Z} * 1000, 0) AS BIGINT) AS z_milli,
           {_WH_Z} AS z
    FROM zs
), fin AS (
    SELECT n_triples, g2_milli, dof, z_milli,
           CASE WHEN z < 0 THEN -z ELSE z END AS az, z
    FROM ps
)
SELECT n_triples, g2_milli, dof, z_milli,
       least(CAST(round(1000000 * (CASE WHEN z >= 0 THEN {_PHI_TAIL}
                  ELSE 1.0 - {_PHI_TAIL} END), 0) AS BIGINT),
             1000000) AS p_ppm,
       (least(CAST(round(1000000 * (CASE WHEN z >= 0 THEN {_PHI_TAIL}
                  ELSE 1.0 - {_PHI_TAIL} END), 0) AS BIGINT),
              1000000) > 50000) AS order1_sufficient
FROM fin
""")
def q_markov_order_test(spark, sf_dir):
    """Likelihood-ratio test of Markov ORDER for the per-user event
    chain: G^2 = 2 sum n(abc) ln(n(abc) n(b) / (n(ab) n(bc))) tests
    order-1 against order-2 — the model-adequacy gate for everything
    built on first-order transitions (q_entropy_rate's entropy,
    q_markov_backtest's predictor, q_event_transitions itself): a
    rejected test says sequences carry second-order structure those
    estimates flatten away. Per-cell ln rounded 6dp then exact
    decimal-weighted accumulation (entropy-rate protocol); exact
    per-middle-state dof sum (na-1)(nc-1); significance via the
    Wilson-Hilferty cube-root normal approximation (cbrt rounded
    6dp) through the shared Zelen-Severo tail. The only data-sized
    operation is the user-keyed lag window; every model relation is
    |types|^3-bounded."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.expr("ts div 1000"), "event_id")
    seq = ev.select(
        F.col("event_type").alias("c"),
        F.lag("event_type", 1).over(w).alias("b"),
        F.lag("event_type", 2).over(w).alias("a"),
    ).where(F.col("a").isNotNull())
    # r14 (guide §2.4/§5, the psi_drift pattern): n3 is the ≤|types|³
    # model relation, but SIX consumers (n2l, n2r, n1, na, nc via the
    # joins below) each re-inlined the events scan + the user-keyed
    # double-lag window. localCheckpoint the tiny relation so the one
    # data-sized operation runs once.
    n3 = seq.groupBy("a", "b", "c").agg(
        F.count("*").cast("long").alias("n")).localCheckpoint()
    n2l = n3.groupBy("a", "b").agg(F.sum("n").cast("long").alias("nl"))
    n2r = n3.groupBy("b", "c").agg(F.sum("n").cast("long").alias("nr"))
    n1 = n3.groupBy("b").agg(F.sum("n").cast("long").alias("nb"))
    terms = (
        n3.join(F.broadcast(n2l), ["a", "b"])
        .join(F.broadcast(n2r), ["b", "c"])
        .join(F.broadcast(n1), ["b"])
        .select(
            "n",
            F.expr("round(ln((CAST(n AS DOUBLE) * nb)"
                   " / (CAST(nl AS DOUBLE) * nr)), 6)").alias("lr"),
        )
    )
    g = terms.agg(
        F.sum("n").cast("long").alias("n_triples"),
        F.expr("CAST(sum(n * CAST(lr AS DECIMAL(18,6))) AS DOUBLE)")
        .alias("s"),
    )
    na = n2l.groupBy("b").agg(
        F.countDistinct("a").cast("long").alias("na"))
    nc = n2r.groupBy("b").agg(
        F.countDistinct("c").cast("long").alias("nc"))
    dofs = na.join(nc, "b").agg(
        F.sum(F.expr("(na - 1) * (nc - 1)")).cast("long").alias("dof"))
    zs = g.crossJoin(F.broadcast(dofs)).select(
        "n_triples",
        F.expr("CAST(round(s * 2000, 0) AS BIGINT)").alias("g2_milli"),
        F.expr("greatest(dof, 1)").alias("dof"),
        F.expr("2.0 * greatest(s, 0.0)").alias("g2"),
    )
    ps = zs.select(
        "n_triples", "g2_milli", "dof",
        F.expr(f"CAST(round({_WH_Z} * 1000, 0) AS BIGINT)")
        .alias("z_milli"),
        F.expr(_WH_Z).alias("z"),
    )
    fin = ps.withColumn(
        "az", F.expr("CASE WHEN z < 0 THEN -z ELSE z END"))
    p = (f"least(CAST(round(1000000 * (CASE WHEN z >= 0 THEN {_PHI_TAIL}"
         f" ELSE 1.0 - {_PHI_TAIL} END), 0) AS BIGINT), 1000000)")
    return fin.select(
        "n_triples", "g2_milli", "dof", "z_milli",
        F.expr(p).alias("p_ppm"),
        F.expr(f"({p}) > 50000").alias("order1_sufficient"),
    )


@register("q_nb_calibration", f"""
WITH {_NB_CTES}, smax AS (
    SELECT doc_id, max(score) AS sm FROM scores GROUP BY 1
), ws AS (
    SELECT s.doc_id, s.lang,
           round(exp((CAST(s.score AS DOUBLE) - CAST(x.sm AS DOUBLE))
                     / greatest(dl.len, 1)), 6)::DECIMAL(18,6) AS w
    FROM scores s JOIN smax x USING (doc_id)
    JOIN dlen dl USING (doc_id)
), perdoc AS (
    SELECT doc_id, sum(w) AS sw FROM ws GROUP BY 1
), conf AS (
    SELECT pd.doc_id,
           1.0 / CAST(pd.sw AS DOUBLE) AS c,
           (p.pred_lang = d.lang) AS correct
    FROM perdoc pd
    JOIN pred p USING (doc_id)
    JOIN documents d USING (doc_id)
), binned AS (
    SELECT least(CAST(floor(c * 10) AS BIGINT), 9) AS conf_bin,
           count(*)::BIGINT AS n_docs,
           sum(CASE WHEN correct THEN 1 ELSE 0 END)::BIGINT AS n_ok,
           CAST(round(sum(c::DECIMAL(18,6))::DOUBLE / count(*)
                      * 1000000, 0) AS BIGINT) AS mean_conf_ppm
    FROM conf GROUP BY 1
)
SELECT conf_bin, n_docs,
       ((n_ok * 1000000) // n_docs)::BIGINT AS accuracy_ppm,
       mean_conf_ppm,
       (abs((n_ok * 1000000) // n_docs - mean_conf_ppm) * n_docs)
           ::BIGINT AS ece_contrib_ppm_docs
FROM binned
""")
def q_nb_calibration(spark, sf_dir):
    """Reliability diagram of the in-engine NB language classifier:
    per confidence-decile bin, predicted-class confidence vs actual
    accuracy plus the bin's ECE contribution — the 'can I trust the
    score as a probability' audit that decides whether a model's
    confidence can gate downstream routing (q_naive_bayes_lang's
    confusion matrix says HOW OFTEN it's wrong; this says whether it
    KNOWS when it's wrong). Confidence is the LENGTH-NORMALIZED
    softmax (per-token margins — raw doc-level NB log-odds saturate
    to 1.0 and the diagram degenerates): w = exp((s - s_max)/len)
    rounded 6dp, conf = 1/sum(w) since the argmax margin is exactly
    0. Reuses the one shared NB CTE chain; everything after the
    |docs| x |langs| score relation is doc-keyed aggregation; output
    <= 10 rows."""
    docs = load_table(spark, sf_dir, "documents")
    scores = _nb_scores(docs)
    wdoc = Window.partitionBy("doc_id")
    ws = scores.select(
        "doc_id", "lang", "score", "len",
        F.max("score").over(wdoc).alias("sm"),
        F.row_number().over(
            wdoc.orderBy(F.col("score").desc(), "lang")).alias("r"),
    ).withColumn(
        "w",
        F.expr("CAST(round(exp((CAST(score AS DOUBLE)"
               " - CAST(sm AS DOUBLE)) / greatest(len, 1)), 6)"
               " AS DECIMAL(18,6))"),
    )
    perdoc = ws.groupBy("doc_id").agg(
        F.sum("w").alias("sw"),
        F.max(F.when(F.col("r") == 1, F.col("lang"))).alias("pred_lang"),
    )
    conf = (
        perdoc.join(docs.select("doc_id", "lang"), "doc_id")
        .select(
            F.expr("1.0 / CAST(sw AS DOUBLE)").alias("c"),
            (F.col("pred_lang") == F.col("lang")).alias("correct"),
        )
    )
    binned = conf.groupBy(
        F.expr("least(CAST(floor(c * 10) AS BIGINT), 9)")
        .alias("conf_bin")
    ).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("correct"), 1).otherwise(0)).cast("long")
        .alias("n_ok"),
        F.expr("CAST(round(CAST(sum(CAST(c AS DECIMAL(18,6))) AS DOUBLE)"
               " / count(*) * 1000000, 0) AS BIGINT)")
        .alias("mean_conf_ppm"),
    )
    return binned.select(
        "conf_bin", "n_docs",
        F.expr("CAST((n_ok * 1000000) div n_docs AS BIGINT)")
        .alias("accuracy_ppm"),
        "mean_conf_ppm",
        F.expr("CAST(abs((n_ok * 1000000) div n_docs - mean_conf_ppm)"
               " * n_docs AS BIGINT)").alias("ece_contrib_ppm_docs"),
    )
