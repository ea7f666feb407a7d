"""SURVEY §2.H — scale utilities: the @register query
definitions for this section (split out of the former monolithic
plans/queries.py in round 11; shared helpers live in
plans/_prelude.py, re-exported through plans/queries.py).
Importing this module registers the queries into the shared
QUERIES/ORACLES dicts."""

from __future__ import annotations

from ._prelude import *  # noqa: F401,F403



@register("q_skew_salted_join", """
SELECT s.s_name,
       count(*) AS n_items,
       round(sum(l.l_quantity::DECIMAL(18,6))::DOUBLE, 2) AS total_qty
FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
WHERE s.s_suppkey < 50
GROUP BY s.s_name
""")
def q_skew_salted_join(spark, sf_dir):
    """Skew-safe join with MEASURED salting: the fanout per key comes
    from the data's own distribution (skew.salt_plan — the
    key_skew_profile diagnostic wired to the knob it tunes), not a
    hardcoded constant. Keys above the per-task row target spread over
    ceil(n/target) sub-keys off the row hash; the small side explodes
    only for those keys. Result identical to the plain join, which IS
    the oracle. operators/skew.py:salt_plan/salted_join_profiled."""
    from ..operators.skew import salt_plan, salted_join_profiled

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("s_suppkey"), "l_quantity"
    )
    supp = load_table(spark, sf_dir, "supplier").where(
        F.col("s_suppkey") < 50
    ).select("s_suppkey", "s_name")
    # profile ONLY the keys that survive the join (the small side's
    # filter mirrored onto the big side): the s_suppkey < 50 predicate
    # pushes to the parquet scan, so the profile pass reads ~1/20th of
    # the fact table instead of all of it. Low per-task target at
    # bench SF so the measured path actually fans out.
    plan = salt_plan(
        li.where(F.col("s_suppkey") < 50),
        "s_suppkey", target_rows_per_task=250,
    )
    joined = salted_join_profiled(li, supp, key="s_suppkey", plan=plan)
    return joined.groupBy("s_name").agg(
        F.count("*").alias("n_items"),
        _money(F.col("l_quantity")).alias("total_qty"),
    )


@register("q_key_skew_profile", """
WITH counts AS (
    SELECT user_id, count(*) AS n_rows,
           (SELECT count(*) FROM events) AS total
    FROM events GROUP BY user_id
)
SELECT user_id, n_rows, round(n_rows / total, 6) AS share
FROM counts
ORDER BY n_rows DESC, user_id
LIMIT 20
""")
def q_key_skew_profile(spark, sf_dir):
    """The pre-salting diagnostic: top-20 hottest keys with their
    share of all rows (deterministic order: count desc, key asc)."""
    from ..operators.skew import key_skew_profile

    df = key_skew_profile(
        load_table(spark, sf_dir, "events"), key="user_id", top=20
    )
    return _long(df, "n_rows")


@register("q_countmin_heavy_hitters", f"""
WITH keyed AS (
    SELECT user_id, count(*) AS n FROM events GROUP BY user_id
), tot AS (
    SELECT CAST(sum(n) AS BIGINT) AS total FROM keyed
), feat AS (
    SELECT k.user_id, k.n, s.seed,
           ('0x' || substr(md5(s.seed::VARCHAR || ':'
                               || k.user_id::VARCHAR), 1, 8))::BIGINT
               % {_CMS_W} AS bucket
    FROM keyed k, {_CMS_SEEDS_SQL} s
), cms AS (
    SELECT seed, bucket, CAST(sum(n) AS BIGINT) AS c
    FROM feat GROUP BY 1, 2
), tops AS (
    SELECT user_id, n FROM keyed ORDER BY n DESC, user_id LIMIT {_CMS_TOP}
), est AS (
    SELECT t.user_id, t.n, min(c.c) AS cms_est
    FROM tops t
    JOIN feat f USING (user_id)
    JOIN cms c ON c.seed = f.seed AND c.bucket = f.bucket
    GROUP BY 1, 2
)
SELECT user_id, CAST(n AS BIGINT) AS exact_n, cms_est,
       TRUE AS overestimate_ok, TRUE AS within_eps_ok
FROM est
""")
def q_countmin_heavy_hitters(spark, sf_dir):
    """Count-min heavy hitters with the sketch guarantee made
    measurable: the exact top-20 event users next to their count-min
    estimates from a d×w = 4×256 counter table (fixed-size broadcast
    state at ANY key cardinality — the structure that replaces the
    exact per-key table when keys explode at 100 TB). The CMS
    one-sided guarantee (estimate ≥ truth, over by ≤ ε·N, ε = 2/w) is
    pinned TRUE in the oracle: wrong hashing or dropped counters fail
    the hash gate. Engine-identical md5 bucket hashing; all integer.
    operators/sketches.py:countmin_heavy_hitters."""
    from ..operators import sketches

    df = sketches.countmin_heavy_hitters(
        load_table(spark, sf_dir, "events"), "user_id",
        d=_CMS_D, w=_CMS_W, top=_CMS_TOP,
    )
    return df


@register("q_bloom_join_audit", f"""
WITH bkeys AS (
    SELECT DISTINCT c_custkey FROM customer
    WHERE c_custkey % {_BLOOM_MOD} = 0
), bits AS (
    SELECT DISTINCT ('0x' || substr(md5(s.seed::VARCHAR || ':'
                        || b.c_custkey::VARCHAR), 1, 8))::BIGINT
               % {_BLOOM_BITS} AS bit
    FROM bkeys b, {_BLOOM_SEEDS_SQL} s
), probes AS (
    SELECT c_custkey, (c_custkey % {_BLOOM_MOD} = 0) AS present
    FROM customer
), phits AS (
    SELECT p.c_custkey, count(*) AS hits
    FROM probes p, {_BLOOM_SEEDS_SQL} s
    JOIN bits ON bits.bit =
        ('0x' || substr(md5(s.seed::VARCHAR || ':'
                            || p.c_custkey::VARCHAR), 1, 8))::BIGINT
            % {_BLOOM_BITS}
    GROUP BY 1
), verdict AS (
    SELECT p.c_custkey, p.present,
           coalesce(h.hits, 0) = {_BLOOM_K} AS maybe
    FROM probes p LEFT JOIN phits h USING (c_custkey)
)
SELECT CAST((SELECT count(*) FROM bkeys) AS BIGINT) AS n_build_keys,
       CAST((SELECT count(*) FROM bits) AS BIGINT) AS n_bits_set,
       CAST(count(*) AS BIGINT) AS n_probes,
       CAST(sum(CASE WHEN present THEN 1 ELSE 0 END) AS BIGINT)
           AS n_present,
       CAST(sum(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT)
           AS n_maybe,
       CAST(sum(CASE WHEN maybe AND NOT present THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_pos,
       TRUE AS no_false_negatives,
       TRUE AS fp_within_bound
FROM verdict
""")
def q_bloom_join_audit(spark, sf_dir):
    """Bloom-filter semi-join pruning with its two guarantees pinned:
    the filter is built relationally (DISTINCT set-bits table, ≤
    num_bits rows — broadcastable to every scan task at 100 TB instead
    of shuffling the probe side), every probe key is flagged, and the
    oracle pins (a) zero false negatives — the Bloom guarantee — and
    (b) false positives within 10× the expected rate. Size rule at
    scale: m ≈ 10·n_keys bits, k = 3 (fp ≈ 1.7%); both engines compute
    the identical bits via md5 hashing, so the whole structure is
    hash-checked, not trusted. operators/sketches.py:bloom_bits/probe."""
    from ..operators import sketches

    cust = load_table(spark, sf_dir, "customer")
    bkeys = cust.where(
        F.col("c_custkey") % _BLOOM_MOD == 0
    ).select("c_custkey").distinct()
    bits = sketches.bloom_bits(
        bkeys, "c_custkey", num_bits=_BLOOM_BITS, k=_BLOOM_K
    )
    probes = cust.select(
        "c_custkey",
        (F.col("c_custkey") % _BLOOM_MOD == 0).alias("present"),
    )
    flagged = sketches.bloom_probe(
        probes, bits, "c_custkey", num_bits=_BLOOM_BITS, k=_BLOOM_K
    )
    nb = bkeys.agg(F.count("*").cast("long").alias("n_build_keys"))
    nbits = bits.agg(F.count("*").cast("long").alias("n_bits_set"))
    return (
        flagged.agg(
            F.count("*").cast("long").alias("n_probes"),
            F.sum(F.col("present").cast("long")).cast("long")
                .alias("n_present"),
            F.sum(F.col("bloom_maybe").cast("long")).cast("long")
                .alias("n_maybe"),
            F.sum(
                (F.col("bloom_maybe") & ~F.col("present")).cast("long")
            ).cast("long").alias("n_false_pos"),
            (F.sum(
                (F.col("present") & ~F.col("bloom_maybe")).cast("long")
            ) == 0).alias("no_false_negatives"),
        )
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(nbits))
        .withColumn(
            "fp_within_bound",
            F.col("n_false_pos") * 1000
            <= F.lit(_BLOOM_FP_PERMILLE)
            * (F.col("n_probes") - F.col("n_present")),
        )
        .select(
            "n_build_keys", "n_bits_set", "n_probes", "n_present",
            "n_maybe", "n_false_pos", "no_false_negatives",
            "fp_within_bound",
        )
    )


@register("q_zorder_layout", _zorder_oracle())
def q_zorder_layout(spark, sf_dir):
    """Z-order (Morton) layout audit — the Delta OPTIMIZE ZORDER /
    Iceberg sort-order rewrite, as a measured operator: orders are
    laid out into 64 files by (a) the z-interleave of 8-bit-normalized
    (custkey, orderdate-day) and (b) the single-column date layout,
    and for each file the min/max footer stats decide scan_hit for
    the SAME reference box predicate (middle 20% of both dimensions).
    The output IS the pruning comparison: z-order files are
    approximate rectangles in key-space, so the box touches a few of
    them; the linear layout spreads every custkey range across all
    date files (box hits every file with a matching date). All
    integer; the z-value expression for BOTH engines comes from one
    generator (operators/layout.py:interleave_bits[_sql]) so the bit
    layouts cannot drift. At scale the layout step is one
    repartitionByRange on z + footer stats at write; file assignment
    here is z div cell (deterministic, no global sort) so both
    engines replay it."""
    from ..operators.layout import interleave_bits

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("ck"),
        F.expr(f"unix_micros(cast(o_orderdate AS TIMESTAMP)) div {_DAY_US}")
        .alias("day"),
    )
    b = o.agg(
        F.min("ck").alias("ckl"), F.max("ck").alias("ckh"),
        F.min("day").alias("dl"), F.max("day").alias("dh"),
    )
    n = o.crossJoin(F.broadcast(b)).select(
        "ck", "day", "ckl", "ckh", "dl", "dh",
        F.expr("((ck - ckl) * 255) div greatest(ckh - ckl, 1)").alias("xq"),
        F.expr("((day - dl) * 255) div greatest(dh - dl, 1)").alias("yq"),
    )
    z = n.withColumn("zv", interleave_bits("xq", "yq", 8))
    assigned = (
        z.select(
            F.lit("zorder").alias("layout"),
            F.expr("zv div 1024").cast("long").alias("file_id"),
            "ck", "day",
        )
        .unionAll(
            z.select(
                F.lit("linear").alias("layout"),
                F.expr("yq div 4").cast("long").alias("file_id"),
                "ck", "day",
            )
        )
    )
    stats = assigned.groupBy("layout", "file_id").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.min("ck").cast("long").alias("min_ck"),
        F.max("ck").cast("long").alias("max_ck"),
        F.min("day").cast("long").alias("min_day"),
        F.max("day").cast("long").alias("max_day"),
    )
    box = b.select(
        F.expr("ckl + (ckh - ckl) * 2 div 5").alias("blo_ck"),
        F.expr("ckl + (ckh - ckl) * 3 div 5").alias("bhi_ck"),
        F.expr("dl + (dh - dl) * 2 div 5").alias("blo_d"),
        F.expr("dl + (dh - dl) * 3 div 5").alias("bhi_d"),
    )
    return stats.crossJoin(F.broadcast(box)).select(
        "layout", "file_id", "n_rows",
        "min_ck", "max_ck", "min_day", "max_day",
        (
            (F.col("min_ck") <= F.col("bhi_ck"))
            & (F.col("max_ck") >= F.col("blo_ck"))
            & (F.col("min_day") <= F.col("bhi_d"))
            & (F.col("max_day") >= F.col("blo_d"))
        ).alias("scan_hit"),
    )


@register("q_zorder3_layout", _zorder3_oracle())
def q_zorder3_layout(spark, sf_dir):
    """Three-dimension Z-order layout audit — the multi-column
    OPTIMIZE ZORDER claim (Delta supports 3+ columns) executed and
    MEASURED: orders are laid out into 64 files by (a) the 24-bit
    Morton interleave of 8-bit-normalized (custkey, orderdate-day,
    totalprice-cents), (b) the 2-dim interleave of (custkey, day)
    only, and (c) the single-column date layout; each file's min/max
    stats decide scan_hit for the SAME 3-dim box predicate (middle
    20% of every dimension). The readout is the pruning ladder:
    3-dim files are approximate boxes in all three dimensions, so the
    price bound prunes them too; the 2-dim layout's files span the
    full price range (price cannot prune); the linear layout is tight
    in date only. All integer (price via floor-to-cents — floor, not
    cast, because DuckDB's double→BIGINT cast rounds while Spark's
    truncates); both engines' z values come from ONE generator
    (operators/layout.py:interleave_bits_nd[_sql]). The layout is
    audited, not written: no write path of the package z-clusters
    files (tableformat.optimize_table clusters on one column)."""
    from ..operators.layout import interleave_bits_nd

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("ck"),
        F.expr(f"unix_micros(cast(o_orderdate AS TIMESTAMP)) div {_DAY_US}")
        .alias("day"),
        F.expr("cast(floor(o_totalprice * 100) as bigint)").alias("pc"),
    )
    b = o.agg(
        F.min("ck").alias("ckl"), F.max("ck").alias("ckh"),
        F.min("day").alias("dl"), F.max("day").alias("dh"),
        F.min("pc").alias("pl"), F.max("pc").alias("ph"),
    )
    n = o.crossJoin(F.broadcast(b)).select(
        "ck", "day", "pc", "ckl", "ckh", "dl", "dh", "pl", "ph",
        F.expr("((ck - ckl) * 255) div greatest(ckh - ckl, 1)").alias("xq"),
        F.expr("((day - dl) * 255) div greatest(dh - dl, 1)").alias("yq"),
        F.expr("((pc - pl) * 255) div greatest(ph - pl, 1)").alias("wq"),
    )
    z = n.withColumn(
        "zv3", interleave_bits_nd(["xq", "yq", "wq"], 8)
    ).withColumn("zv2", interleave_bits_nd(["xq", "yq"], 8))
    assigned = (
        z.select(
            F.lit("zorder3").alias("layout"),
            F.expr("zv3 div 262144").cast("long").alias("file_id"),
            "ck", "day", "pc",
        )
        .unionAll(z.select(
            F.lit("zorder2").alias("layout"),
            F.expr("zv2 div 1024").cast("long").alias("file_id"),
            "ck", "day", "pc",
        ))
        .unionAll(z.select(
            F.lit("linear").alias("layout"),
            F.expr("yq div 4").cast("long").alias("file_id"),
            "ck", "day", "pc",
        ))
    )
    stats = assigned.groupBy("layout", "file_id").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.min("ck").cast("long").alias("min_ck"),
        F.max("ck").cast("long").alias("max_ck"),
        F.min("day").cast("long").alias("min_day"),
        F.max("day").cast("long").alias("max_day"),
        F.min("pc").cast("long").alias("min_pc"),
        F.max("pc").cast("long").alias("max_pc"),
    )
    box = b.select(
        F.expr("ckl + (ckh - ckl) * 2 div 5").alias("blo_ck"),
        F.expr("ckl + (ckh - ckl) * 3 div 5").alias("bhi_ck"),
        F.expr("dl + (dh - dl) * 2 div 5").alias("blo_d"),
        F.expr("dl + (dh - dl) * 3 div 5").alias("bhi_d"),
        F.expr("pl + (ph - pl) * 2 div 5").alias("blo_p"),
        F.expr("pl + (ph - pl) * 3 div 5").alias("bhi_p"),
    )
    return stats.crossJoin(F.broadcast(box)).select(
        "layout", "file_id", "n_rows",
        "min_ck", "max_ck", "min_day", "max_day", "min_pc", "max_pc",
        (
            (F.col("min_ck") <= F.col("bhi_ck"))
            & (F.col("max_ck") >= F.col("blo_ck"))
            & (F.col("min_day") <= F.col("bhi_d"))
            & (F.col("max_day") >= F.col("blo_d"))
            & (F.col("min_pc") <= F.col("bhi_p"))
            & (F.col("max_pc") >= F.col("blo_p"))
        ).alias("scan_hit"),
    )

@register("q_bloom_planner", f"""
WITH keys AS (
    SELECT count(*)::BIGINT AS n_keys FROM orders
    WHERE o_orderstatus = 'O'
), probes AS (
    SELECT count(*)::BIGINT AS n_probes,
           sum(CASE WHEN o.o_orderkey IS NULL THEN 0 ELSE 1 END)
               ::BIGINT AS n_hits
    FROM lineitem l
    LEFT JOIN (SELECT o_orderkey FROM orders
               WHERE o_orderstatus = 'O') o
      ON o.o_orderkey = l.l_orderkey
), cfg(mpn) AS (VALUES {", ".join(f"({m})" for m in _BLOOM_PLAN_MPN)}),
fpr AS (
    SELECT cfg.mpn,
           CAST(round(cfg.mpn * 0.693147, 0) AS BIGINT) AS k,
           round(pow(1.0 - round(exp(-(CAST(round(cfg.mpn * 0.693147, 0)
                                            AS BIGINT) * 1.0e0) / cfg.mpn),
                                 6),
                     CAST(round(cfg.mpn * 0.693147, 0) AS BIGINT)), 6)
               AS fp_rate
    FROM cfg
)
SELECT f.mpn::BIGINT AS bits_per_key, f.k AS n_hash_fns, f.fp_rate,
       k2.n_keys, p.n_probes, p.n_hits,
       p.n_probes - p.n_hits AS n_misses,
       round(f.fp_rate * (p.n_probes - p.n_hits), 4)
           AS exp_false_pass,
       ((k2.n_keys * f.mpn) // 8)::BIGINT AS filter_bytes
FROM fpr f, keys k2, probes p
""")
def q_bloom_planner(spark, sf_dir):
    """Bloom-filter sizing planner for the open-orders semi-join,
    grounded in MEASURED cardinalities: for each bits-per-key
    budget, the optimal hash count k = round(m/n * ln2), the
    analytic false-positive rate (1 - e^(-k*n/m))^k, and what that
    MEANS against this data — expected false-passing probe rows and
    filter bytes — the decision table built BEFORE shipping a
    runtime filter at 100 TB (q_bloom_join_audit measures the
    chosen filter after; this ranks the budgets first, the same
    planner/auditor pairing as q_lsh_band_planner). Keys and probe
    hit-rate come from one aggregate each; the config table is a
    4-row broadcast; exp/pow follow the rounded-transcendental
    protocol."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    open_keys = orders.where(F.col("o_orderstatus") == "O").select(
        "o_orderkey")
    keys = open_keys.agg(F.count("*").cast("long").alias("n_keys"))
    probes = (
        li.select(F.col("l_orderkey"))
        .join(open_keys.withColumn("hit", F.lit(1)),
              li["l_orderkey"] == open_keys["o_orderkey"], "left")
        .agg(F.count("*").cast("long").alias("n_probes"),
             F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long")
             .alias("n_hits"))
    )
    cfg = spark.createDataFrame(
        [(m,) for m in _BLOOM_PLAN_MPN], "mpn int")
    kexpr = "CAST(round(mpn * 0.693147, 0) AS BIGINT)"
    fpr = cfg.select(
        "mpn", F.expr(kexpr).alias("k"),
        F.expr(
            f"round(pow(1.0 - round(exp(-({kexpr} * 1.0e0) / mpn), 6),"
            f" {kexpr}), 6)"
        ).alias("fp_rate"),
    )
    return (
        fpr.crossJoin(F.broadcast(keys))
        .crossJoin(F.broadcast(probes))
        .select(
            F.col("mpn").cast("long").alias("bits_per_key"),
            F.col("k").alias("n_hash_fns"), "fp_rate",
            "n_keys", "n_probes", "n_hits",
            F.expr("n_probes - n_hits").alias("n_misses"),
            F.expr("round(fp_rate * (n_probes - n_hits), 4)")
            .alias("exp_false_pass"),
            F.expr("CAST((n_keys * mpn) div 8 AS BIGINT)")
            .alias("filter_bytes"),
        )
    )

@register("q_partition_planner", f"""
WITH stats AS (
    SELECT 'lineitem' AS table_name, count(*)::BIGINT AS n_rows,
           sum(3 * 8 + 4 + 4 * 8 + 8
               + strlen(l_returnflag)
               + strlen(l_linestatus))::BIGINT AS est_bytes
    FROM lineitem
    UNION ALL
    SELECT 'events', count(*)::BIGINT,
           sum(8 + 8 + 8 + 8 + strlen(event_type)
               + strlen(coalesce(props, '')))::BIGINT
    FROM events
    UNION ALL
    SELECT 'documents', count(*)::BIGINT,
           sum(8 + 8 + strlen(text) + strlen(lang)
               + strlen(source))::BIGINT
    FROM documents
)
SELECT table_name, n_rows, est_bytes,
       (est_bytes // (1024 * 1024))::BIGINT AS est_mb,
       greatest((est_bytes + {_PART_TARGET_MB} * 1024 * 1024 - 1)
                // ({_PART_TARGET_MB} * 1024 * 1024), 1)::BIGINT
           AS partitions_{_PART_TARGET_MB}mb,
       (n_rows // greatest((est_bytes + {_PART_TARGET_MB} * 1024
                            * 1024 - 1)
                           // ({_PART_TARGET_MB} * 1024 * 1024), 1))
           ::BIGINT AS rows_per_partition
FROM stats
""")
def q_partition_planner(spark, sf_dir):
    """Shuffle/scan partition-count planner from MEASURED in-memory
    widths: per fact table, exact row count and a deterministic
    byte estimate (fixed widths for numerics/timestamps +
    octet_length for strings) -> the partition count that lands
    each partition at ~{_PART_TARGET_MB} MB — the number
    spark.sql.shuffle.partitions/maxPartitionBytes tuning actually
    needs, derived from the data instead of guessed (SURVEY §4's
    sizing rule, now a query). One aggregate per table (map-side
    combined sums, no shuffle beyond the final 1-row-per-table
    rollup); ceil-division in exact integers."""
    parts = []
    li = load_table(spark, sf_dir, "lineitem")
    parts.append(li.agg(
        F.lit("lineitem").alias("table_name"),
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.expr(
            "3 * 8 + 4 + 4 * 8 + 8 + octet_length(l_returnflag)"
            " + octet_length(l_linestatus)"
        )).cast("long").alias("est_bytes"),
    ))
    ev = load_table(spark, sf_dir, "events")
    parts.append(ev.agg(
        F.lit("events").alias("table_name"),
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.expr(
            "8 + 8 + 8 + 8 + octet_length(event_type)"
            " + octet_length(coalesce(props, ''))"
        )).cast("long").alias("est_bytes"),
    ))
    docs = load_table(spark, sf_dir, "documents")
    parts.append(docs.agg(
        F.lit("documents").alias("table_name"),
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.expr(
            "8 + 8 + octet_length(text) + octet_length(lang)"
            " + octet_length(source)"
        )).cast("long").alias("est_bytes"),
    ))
    stats = parts[0]
    for x in parts[1:]:
        stats = stats.unionAll(x)
    tgt = _PART_TARGET_MB * 1024 * 1024
    return stats.select(
        "table_name", "n_rows", "est_bytes",
        F.expr("CAST(est_bytes div (1024 * 1024) AS BIGINT)")
        .alias("est_mb"),
        F.expr(
            f"CAST(greatest((est_bytes + {tgt} - 1) div {tgt}, 1)"
            " AS BIGINT)"
        ).alias(f"partitions_{_PART_TARGET_MB}mb"),
        F.expr(
            f"CAST(n_rows div greatest((est_bytes + {tgt} - 1)"
            f" div {tgt}, 1) AS BIGINT)"
        ).alias("rows_per_partition"),
    )

@register("q_consistent_hash_balance", f"""
WITH vnodes AS (
    SELECT s.s AS shard,
           ('0x' || substr(md5(s.s::VARCHAR || ':' || r.r::VARCHAR),
                           1, 8))::BIGINT AS pos
    FROM (SELECT unnest(generate_series(0, {_RING_SHARDS - 1})) AS s) s,
         (SELECT unnest(generate_series(0, {_RING_REPLICAS - 1})) AS r) r
), keys AS (
    SELECT DISTINCT user_id,
           ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT AS kpos
    FROM events
), assign_all AS (
    SELECT k.user_id, v.shard,
           row_number() OVER (
               PARTITION BY k.user_id
               ORDER BY (v.pos - k.kpos + {_RING_SPACE})
                        % {_RING_SPACE}, v.shard, v.pos) AS rk
    FROM keys k CROSS JOIN vnodes v
), before AS (
    SELECT user_id, shard FROM assign_all WHERE rk = 1
), assign_drop AS (
    SELECT k.user_id, v.shard,
           row_number() OVER (
               PARTITION BY k.user_id
               ORDER BY (v.pos - k.kpos + {_RING_SPACE})
                        % {_RING_SPACE}, v.shard, v.pos) AS rk
    FROM keys k CROSS JOIN vnodes v
    WHERE v.shard <> {_RING_SHARDS - 1}
), after AS (
    SELECT user_id, shard FROM assign_drop WHERE rk = 1
), tot AS (SELECT count(*)::BIGINT AS n FROM keys)
SELECT b.shard,
       count(*)::BIGINT AS n_before,
       ((count(*) * 1000000) // max(t.n))::BIGINT AS share_before_ppm,
       sum(CASE WHEN a.shard = b.shard THEN 0 ELSE 1 END)::BIGINT
           AS moved_away
FROM before b JOIN after a ON a.user_id = b.user_id, tot t
GROUP BY b.shard
""")
def q_consistent_hash_balance(spark, sf_dir):
    """Consistent-hashing ring audit ({_RING_SHARDS} shards x
    {_RING_REPLICAS} virtual nodes): per-shard key load on the md5
    ring AND the reassignment count when the last shard is removed
    — the property that makes consistent hashing the scale answer
    (only the removed shard's keys move, ~1/{_RING_SHARDS} of the
    population; modulo hashing would reshuffle ~7/8 of ALL keys).
    The moved_away column is EXACTLY zero for surviving shards,
    machine-checkable. The ring is a {_RING_SHARDS * _RING_REPLICAS}
    -row broadcast; each key resolves its successor vnode via the
    broadcast cross + per-key argmin (at 1e9 keys the same lookup
    is a broadcast sorted-ring range join — same relation, tighter
    physical op, documented swap). All-integer ring arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    shards = spark.range(_RING_SHARDS).select(
        F.col("id").cast("int").alias("shard"))
    reps = spark.range(_RING_REPLICAS).select(
        F.col("id").cast("int").alias("r"))
    vnodes = shards.crossJoin(reps).select(
        "shard",
        F.expr(
            "CAST(conv(substr(md5(concat(CAST(shard AS STRING), ':',"
            " CAST(r AS STRING))), 1, 8), 16, 10) AS BIGINT)"
        ).alias("pos"),
    )
    # r14 (guide §2.4/§5): keys is the |users|-row ring-probe relation,
    # but both ring assignments AND tot re-inlined the events scan +
    # distinct + md5. localCheckpoint it: one fact pass; the two
    # ×vnodes window fanouts (the intrinsic work) run on the
    # materialized keys.
    keys = ev.select("user_id").distinct().select(
        "user_id",
        F.expr(
            "CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 8),"
            " 16, 10) AS BIGINT)").alias("kpos"),
    ).localCheckpoint()

    def ring_assign(vn):
        w = Window.partitionBy("user_id").orderBy(
            F.expr(f"(pos - kpos + {_RING_SPACE}) % {_RING_SPACE}"),
            "shard", "pos")
        return (
            keys.crossJoin(F.broadcast(vn))
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .select("user_id", "shard")
        )

    before = ring_assign(vnodes)
    after = ring_assign(
        vnodes.where(F.col("shard") != _RING_SHARDS - 1)).select(
        F.col("user_id").alias("uid_a"), F.col("shard").alias("shard_a"))
    tot = keys.agg(F.count("*").cast("long").alias("n"))
    return (
        before.join(after, before["user_id"] == after["uid_a"])
        .crossJoin(F.broadcast(tot))
        .groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_before"),
            F.expr(
                "CAST((count(*) * 1000000) div max(n) AS BIGINT)"
            ).alias("share_before_ppm"),
            F.sum(F.when(F.col("shard_a") == F.col("shard"), 0)
                  .otherwise(1)).cast("long").alias("moved_away"),
        )
    )


@register("q_broadcast_planner", f"""
WITH dims AS (
    SELECT 'region' AS dim_name, count(*)::BIGINT AS n_rows,
           sum(8 + strlen(r_name))::BIGINT AS est_bytes
    FROM region
    UNION ALL
    SELECT 'nation', count(*)::BIGINT,
           sum(8 + 8 + strlen(n_name))::BIGINT
    FROM nation
    UNION ALL
    SELECT 'supplier', count(*)::BIGINT,
           sum(8 + 8 + 8 + strlen(s_name))::BIGINT
    FROM supplier
    UNION ALL
    SELECT 'customer', count(*)::BIGINT,
           sum(8 + 8 + 8 + strlen(c_name) + strlen(c_mktsegment))
               ::BIGINT
    FROM customer
    UNION ALL
    SELECT 'part', count(*)::BIGINT,
           sum(8 + 8 + 8 + strlen(p_name) + strlen(p_brand)
               + strlen(p_type))::BIGINT
    FROM part
    UNION ALL
    SELECT 'open_order_keys', count(*)::BIGINT,
           (count(*) * 8)::BIGINT
    FROM orders WHERE o_orderstatus = 'O'
)
SELECT dim_name, n_rows, est_bytes,
       (est_bytes * {_BCAST_OVERHEAD_NUM})::BIGINT AS bcast_bytes,
       ((est_bytes * {_BCAST_OVERHEAD_NUM}) // (1024 * 1024))::BIGINT
           AS bcast_mb,
       (est_bytes * {_BCAST_OVERHEAD_NUM}
        <= {_BCAST_DEFAULT_MB} * 1024 * 1024) AS fits_default,
       greatest((est_bytes * {_BCAST_OVERHEAD_NUM} + 1024 * 1024 - 1)
                // (1024 * 1024), 1)::BIGINT AS min_threshold_mb
FROM dims
""")
def q_broadcast_planner(spark, sf_dir):
    """Broadcast-join threshold planner from MEASURED dimension
    sizes (SURVEY §7.15's per-SF broadcast-threshold tuning, the
    q_partition_planner shape applied to
    spark.sql.autoBroadcastJoinThreshold): per broadcast candidate —
    every TPC-H dimension plus the derived open-orders key set the
    bloom planner sizes — the exact row count, a deterministic
    in-memory byte estimate, the broadcast footprint under the 2x
    HashedRelation overhead, whether it fits the 10 MB default
    threshold, and the minimum threshold (MB) that would broadcast
    it. This is the decision table that says WHICH joins stay
    broadcast as the corpus scales 1000x — the planner input every
    q5/q7/q8-style star join depends on — derived from the data
    instead of guessed. One map-side-combined aggregate per
    dimension; exact integer ceil-division."""
    mb = 1024 * 1024
    parts = [
        load_table(spark, sf_dir, "region").agg(
            F.lit("region").alias("dim_name"),
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.expr("8 + octet_length(r_name)"))
            .cast("long").alias("est_bytes"),
        ),
        load_table(spark, sf_dir, "nation").agg(
            F.lit("nation").alias("dim_name"),
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.expr("8 + 8 + octet_length(n_name)"))
            .cast("long").alias("est_bytes"),
        ),
        load_table(spark, sf_dir, "supplier").agg(
            F.lit("supplier").alias("dim_name"),
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.expr("8 + 8 + 8 + octet_length(s_name)"))
            .cast("long").alias("est_bytes"),
        ),
        load_table(spark, sf_dir, "customer").agg(
            F.lit("customer").alias("dim_name"),
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.expr(
                "8 + 8 + 8 + octet_length(c_name)"
                " + octet_length(c_mktsegment)"))
            .cast("long").alias("est_bytes"),
        ),
        load_table(spark, sf_dir, "part").agg(
            F.lit("part").alias("dim_name"),
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.expr(
                "8 + 8 + 8 + octet_length(p_name)"
                " + octet_length(p_brand) + octet_length(p_type)"))
            .cast("long").alias("est_bytes"),
        ),
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "O").agg(
            F.lit("open_order_keys").alias("dim_name"),
            F.count("*").cast("long").alias("n_rows"),
            (F.count("*") * 8).cast("long").alias("est_bytes"),
        ),
    ]
    dims = parts[0]
    for x in parts[1:]:
        dims = dims.unionAll(x)
    ov = _BCAST_OVERHEAD_NUM
    return dims.select(
        "dim_name", "n_rows", "est_bytes",
        F.expr(f"CAST(est_bytes * {ov} AS BIGINT)").alias("bcast_bytes"),
        F.expr(f"CAST((est_bytes * {ov}) div {mb} AS BIGINT)")
        .alias("bcast_mb"),
        F.expr(f"est_bytes * {ov} <= {_BCAST_DEFAULT_MB} * {mb}")
        .alias("fits_default"),
        F.expr(
            f"CAST(greatest((est_bytes * {ov} + {mb} - 1) div {mb}, 1)"
            " AS BIGINT)").alias("min_threshold_mb"),
    )


@register("q_index_optimize_planner", f"""
WITH {_mh_sig_sql()},
bucketed AS (
    SELECT doc_id, band,
           CASE band WHEN 0 THEN md5(mh0 || mh1)
                     WHEN 1 THEN md5(mh2 || mh3)
                     WHEN 2 THEN md5(mh4 || mh5)
                     WHEN 3 THEN md5(mh6 || mh7) END AS bh
    FROM sigs CROSS JOIN (SELECT unnest([0,1,2,3]) AS band) b
),
ranked AS (
    SELECT doc_id,
           (row_number() OVER (ORDER BY doc_id) - 1) // {_NDOPT_B} + 1
               AS batch
    FROM documents
),
batched AS (
    SELECT bk.band, bk.bh, r.batch
    FROM bucketed bk JOIN ranked r USING (doc_id)
),
counts AS (
    SELECT band, bh, batch, count(*) AS n
    FROM batched GROUP BY band, bh, batch
),
cum AS (
    SELECT batch, n,
           coalesce(sum(n) OVER (
               PARTITION BY band, bh ORDER BY batch
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS idx_n
    FROM counts
),
per_batch AS (
    SELECT batch, sum(n) AS batch_rows, sum(idx_n) AS hit_rows
    FROM cum GROUP BY batch
),
with_idx AS (
    SELECT batch, hit_rows,
           coalesce(sum(batch_rows) OVER (
               ORDER BY batch
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS index_rows
    FROM per_batch
),
checkpoints AS (
    SELECT DISTINCT (nb * i + 3) // 4 AS t
    FROM (SELECT max(batch) AS nb FROM ranked)
    CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS i) u
)
SELECT CAST(w.batch AS BIGINT) AS after_batches,
       CAST(w.index_rows AS BIGINT) AS index_rows,
       CAST(w.hit_rows AS BIGINT) AS probe_rows_pruned,
       CAST((w.batch - 1) * {_NDOPT_FPB} AS BIGINT) AS files_fragmented,
       CAST(CASE WHEN w.index_rows = 0 THEN 0
            ELSE (w.index_rows + {_NDOPT_TFR} - 1) // {_NDOPT_TFR}
            END AS BIGINT) AS files_optimized,
       CAST(greatest((w.batch - 1) * {_NDOPT_FPB}
            - CASE WHEN w.index_rows = 0 THEN 0
              ELSE (w.index_rows + {_NDOPT_TFR} - 1) // {_NDOPT_TFR}
              END, 0) AS BIGINT) AS file_saving,
       CAST(w.index_rows AS BIGINT) AS optimize_cost_rows,
       CAST(CASE WHEN greatest((w.batch - 1) * {_NDOPT_FPB}
                 - CASE WHEN w.index_rows = 0 THEN 0
                   ELSE (w.index_rows + {_NDOPT_TFR} - 1) // {_NDOPT_TFR}
                   END, 0) > 0
            THEN (w.index_rows
                  + greatest((w.batch - 1) * {_NDOPT_FPB}
                    - CASE WHEN w.index_rows = 0 THEN 0
                      ELSE (w.index_rows + {_NDOPT_TFR} - 1)
                           // {_NDOPT_TFR} END, 0) * {_NDOPT_FTRE} - 1)
                 // (greatest((w.batch - 1) * {_NDOPT_FPB}
                     - CASE WHEN w.index_rows = 0 THEN 0
                       ELSE (w.index_rows + {_NDOPT_TFR} - 1)
                            // {_NDOPT_TFR} END, 0) * {_NDOPT_FTRE})
            ELSE NULL END AS BIGINT) AS batches_to_payback,
       (greatest((w.batch - 1) * {_NDOPT_FPB}
            - CASE WHEN w.index_rows = 0 THEN 0
              ELSE (w.index_rows + {_NDOPT_TFR} - 1) // {_NDOPT_TFR}
              END, 0) >= {_NDOPT_MINSAVE}
        AND coalesce((w.index_rows
                  + greatest((w.batch - 1) * {_NDOPT_FPB}
                    - CASE WHEN w.index_rows = 0 THEN 0
                      ELSE (w.index_rows + {_NDOPT_TFR} - 1)
                           // {_NDOPT_TFR} END, 0) * {_NDOPT_FTRE} - 1)
                 // (greatest((w.batch - 1) * {_NDOPT_FPB}
                     - CASE WHEN w.index_rows = 0 THEN 0
                       ELSE (w.index_rows + {_NDOPT_TFR} - 1)
                            // {_NDOPT_TFR} END, 0) * {_NDOPT_FTRE}),
              {_NDOPT_HORIZON} + 1) <= {_NDOPT_HORIZON})
           AS recommend_optimize
FROM with_idx w JOIN checkpoints c ON w.batch = c.t
ORDER BY after_batches
""")
def q_index_optimize_planner(spark, sf_dir):
    """OPTIMIZE-cadence planner for the streaming near-dup LSH index
    (SURVEY §7.15's declared round-10 candidate; the
    q_broadcast_planner shape applied to tableformat.optimize_table):
    simulate the stream_neardup ingest over the real documents corpus
    — {_NDOPT_B}-doc micro-batches, each appending
    {_NDOPT_FPB} bh-clustered files — and at four checkpoint batches
    report MEASURED index state (bucket rows in the index, actual
    bucket-collision rows a membership-pruned probe returns) next to
    the fragmentation model: files accumulated vs files after an
    OPTIMIZE to {_NDOPT_TFR}-row files, the per-probe file saving,
    the rewrite cost, and the payback point — ceil(rewrite_rows /
    (file_saving x {_NDOPT_FTRE} rows-equivalent per file task)) —
    with recommend_optimize true iff the saving reaches the
    {_NDOPT_MINSAVE}-file cadence floor AND payback lands within
    {_NDOPT_HORIZON} batches. This is the decision table
    neardup.maybe_optimize_index executes (same constants), derived
    from the data instead of guessed. All-integer arithmetic; the
    one global row_number is over doc COUNTS (batch assignment), not
    data movement — at corpus scale the simulation runs on a sample
    or on the real manifest, both documented in the module note."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    bk = dedup.minhash_buckets(docs, num_hashes=_MH_K,
                               band_size=_MH_BAND,
                               sigs=_minhash_sigs(spark, sf_dir))
    ranked = docs.select(
        "doc_id",
        F.row_number().over(Window.orderBy("doc_id")).alias("rn"),
    ).select(
        "doc_id",
        F.expr(f"(rn - 1) div {_NDOPT_B} + 1").alias("batch"),
    )
    counts = (
        bk.join(ranked, "doc_id")
        .groupBy("band", "bh", "batch")
        .agg(F.count("*").alias("n"))
    )
    wb = Window.partitionBy("band", "bh").orderBy("batch") \
        .rowsBetween(Window.unboundedPreceding, -1)
    cum = counts.select(
        "batch", "n",
        F.coalesce(F.sum("n").over(wb), F.lit(0)).alias("idx_n"),
    )
    per_batch = cum.groupBy("batch").agg(
        F.sum("n").alias("batch_rows"),
        F.sum("idx_n").alias("hit_rows"),
    )
    wt = Window.orderBy("batch") \
        .rowsBetween(Window.unboundedPreceding, -1)
    with_idx = per_batch.select(
        "batch", "hit_rows",
        F.coalesce(F.sum("batch_rows").over(wt), F.lit(0))
        .alias("index_rows"),
    )
    nb = ranked.agg(F.max("batch").alias("nb"))
    checkpoints = (
        nb.crossJoin(
            spark.range(1, 5).select(F.col("id").alias("i"))
        )
        .select(F.expr("(nb * i + 3) div 4").alias("t"))
        .distinct()
    )
    j = with_idx.join(checkpoints, F.col("batch") == F.col("t"))
    fopt = (
        f"CASE WHEN index_rows = 0 THEN 0"
        f" ELSE (index_rows + {_NDOPT_TFR} - 1) div {_NDOPT_TFR} END"
    )
    saving = f"greatest((batch - 1) * {_NDOPT_FPB} - ({fopt}), 0)"
    payback = (
        f"(index_rows + ({saving}) * {_NDOPT_FTRE} - 1)"
        f" div (({saving}) * {_NDOPT_FTRE})"
    )
    return j.select(
        F.col("batch").cast("long").alias("after_batches"),
        F.col("index_rows").cast("long").alias("index_rows"),
        F.col("hit_rows").cast("long").alias("probe_rows_pruned"),
        F.expr(f"CAST((batch - 1) * {_NDOPT_FPB} AS BIGINT)")
        .alias("files_fragmented"),
        F.expr(f"CAST({fopt} AS BIGINT)").alias("files_optimized"),
        F.expr(f"CAST({saving} AS BIGINT)").alias("file_saving"),
        F.col("index_rows").cast("long").alias("optimize_cost_rows"),
        F.expr(
            f"CAST(CASE WHEN ({saving}) > 0 THEN {payback}"
            " ELSE NULL END AS BIGINT)"
        ).alias("batches_to_payback"),
        F.expr(
            f"({saving}) >= {_NDOPT_MINSAVE} AND coalesce({payback},"
            f" {_NDOPT_HORIZON} + 1) <= {_NDOPT_HORIZON}"
        ).alias("recommend_optimize"),
    ).orderBy("after_batches")


@register("q_manifest_bloom_planner", f"""
WITH {_mh_sig_sql("mh_")}, {_mh_buckets_sql("mh_")},
corpus AS (
    SELECT CAST(count(*) AS BIGINT) AS bucket_rows FROM mh_bucketed
),
cfg(npf) AS (VALUES {", ".join(f"({n})" for n in _MBLOOM_NPF)}),
ev AS (
    SELECT cfg.npf, c.bucket_rows,
           round(1.0e0 - pow(1.0e0 - 1.0e0 / {_MBLOOM_M},
                             {_MBLOOM_K} * cfg.npf), 6) AS bit_density
    FROM cfg CROSS JOIN corpus c
),
ev2 AS (
    SELECT npf, bucket_rows, bit_density,
           round(pow(bit_density, {_MBLOOM_K}), 6) AS fpr_per_key,
           CAST((bucket_rows + npf - 1) // npf AS BIGINT) AS n_files
    FROM ev
)
SELECT CAST(npf AS BIGINT) AS rows_per_file, bucket_rows, n_files,
       bit_density, fpr_per_key,
       round(n_files * (1.0e0
             - round(pow(1.0e0 - fpr_per_key, {_NDOPT_B}), 6)), 4)
           AS exp_false_files_per_probe,
       CAST(n_files * ({_MBLOOM_M} // 8) // 1024 AS BIGINT)
           AS manifest_bloom_kb,
       npf >= {_MBLOOM_NSAT} AS saturated
FROM ev2
ORDER BY rows_per_file
""")
def q_manifest_bloom_planner(spark, sf_dir):
    """Sizing decision table for the table format's per-file
    membership blooms (m={_MBLOOM_M}, k={_MBLOOM_K} — constants
    pinned against sources/tableformat.py by test), grounded in the
    MEASURED corpus: per candidate rows-per-file {_MBLOOM_NPF} —
    the exact bucket-row count the streaming LSH index would hold,
    files at that size, analytic bit density 1-(1-1/m)^(kn) and
    per-key fpr density^k (rounded-transcendental protocol), the
    expected FALSE files a {_NDOPT_B}-key new-ids-guard probe reads
    (files x (1-(1-fpr)^keys) — the number that must stay ~0 for
    the guard's zero-read property), manifest bloom overhead in KB,
    and a saturation flag (n >= {_MBLOOM_NSAT}, the Python-precomputed
    density-0.5 crossing: the bloom degrades toward
    read-everything — never wrong, just useless). One count over
    the bucket frame + a 4-row broadcast grid."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = dedup.minhash_buckets(
        docs, num_hashes=_MH_K, band_size=_MH_BAND,
        sigs=_minhash_sigs(spark, sf_dir),
    ).agg(F.count("*").cast("long").alias("bucket_rows"))
    cfg = spark.createDataFrame(
        [(n,) for n in _MBLOOM_NPF], "npf int")
    ev = cfg.crossJoin(F.broadcast(corpus)).select(
        "npf", "bucket_rows",
        F.expr(
            f"round(1.0e0 - pow(1.0e0 - 1.0e0 / {_MBLOOM_M},"
            f" {_MBLOOM_K} * npf), 6)"
        ).alias("bit_density"),
    )
    ev2 = ev.select(
        "npf", "bucket_rows", "bit_density",
        F.expr(f"round(pow(bit_density, {_MBLOOM_K}), 6)")
        .alias("fpr_per_key"),
        F.expr("CAST((bucket_rows + npf - 1) div npf AS BIGINT)")
        .alias("n_files"),
    )
    return ev2.select(
        F.col("npf").cast("long").alias("rows_per_file"),
        "bucket_rows", "n_files", "bit_density", "fpr_per_key",
        F.expr(
            f"round(n_files * (1.0e0"
            f" - round(pow(1.0e0 - fpr_per_key, {_NDOPT_B}), 6)), 4)"
        ).alias("exp_false_files_per_probe"),
        F.expr(
            f"CAST(n_files * ({_MBLOOM_M} div 8) div 1024 AS BIGINT)"
        ).alias("manifest_bloom_kb"),
        F.expr(f"npf >= {_MBLOOM_NSAT}").alias("saturated"),
    ).orderBy("rows_per_file")


def _bpa_grid_sql() -> str:
    return ", ".join(
        f"({nk}, {_BPA_CROSS[nk][0]}, {_BPA_CROSS[nk][1]})"
        for nk in _BPA_PROBES
    )


@register("q_bloom_popcount_audit", f"""
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
    WHERE mh0 IS NOT NULL
), pos AS (
    SELECT doc_id // {_BPA_DOCS_PER_FILE} AS file_id, doc_id,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                           1 + 4 * j, 4))::BIGINT AS pos
    FROM bucketed
    CROSS JOIN (SELECT unnest([0,1,2,3,4,5,6,7]) AS j) jj
), per_file AS (
    SELECT file_id,
           count(*) // 8 AS rows_in_file,
           count(DISTINCT doc_id) AS distinct_keys,
           count(DISTINCT pos) AS nbits
    FROM pos GROUP BY file_id
), grid(n_keys, nbits_lim, rows_lim) AS (VALUES {_bpa_grid_sql()})
SELECT f.file_id::BIGINT AS file_id,
       g.n_keys::BIGINT AS n_keys,
       f.rows_in_file::BIGINT AS rows_in_file,
       f.distinct_keys::BIGINT AS distinct_keys,
       f.nbits::BIGINT AS nbits,
       f.nbits < g.nbits_lim AS prunable_measured,
       f.rows_in_file < g.rows_lim AS prunable_estimated,
       (f.nbits < g.nbits_lim AND NOT (f.rows_in_file < g.rows_lim))
           AS popcount_gain
FROM per_file f CROSS JOIN grid g
ORDER BY file_id, n_keys
""")
def q_bloom_popcount_audit(spark, sf_dir):
    """MEASURED-vs-ESTIMATED bloom prunability over the standing LSH
    index's file layout — the decision table behind the round-13
    sidecar-POPCOUNT fix. The index is the blooms' primary customer
    and its files repeat keys (every doc contributes bands rows per
    file), so the pre-r13 row-count density estimate OVERSHOOTS and
    refuses exactly the probes the blooms were built for; manifests
    now record the file's exact popcount (``nbits``) and
    tableformat._bloom_prunable decides from measured bits. Per
    modeled index file (one {_BPA_DOCS_PER_FILE}-doc append, the
    ENGAGED rows-per-file decision) × probe size: rows, distinct
    keys, the exact nbits (count of distinct md5 bit positions — the
    same expression _write_files aggregates), and the two prunable
    verdicts as pure INTEGER comparisons against Python-precomputed
    crossings (tableformat.bloom_prunable_crossings — one shared
    derivation with the engaged gate, pinned by
    tests/test_round_protocol). ``popcount_gain`` marks files the
    measured decision prunes that the estimate would have read —
    the audit's headline column. One explode + count-distinct agg
    over the standing signature artifact; grid broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    buckets = dedup.minhash_buckets(
        docs, num_hashes=_MH_K, band_size=_MH_BAND,
        sigs=_minhash_sigs(spark, sf_dir),
    )
    h = F.md5(F.col("doc_id").cast("string"))
    pos = F.array(*[
        F.conv(F.substring(h, 1 + 4 * j, 4), 16, 10).cast("long")
        for j in range(_MBLOOM_K)
    ])
    exploded = buckets.select(
        F.expr(f"doc_id div {_BPA_DOCS_PER_FILE}").alias("file_id"),
        "doc_id", F.explode(pos).alias("pos"),
    )
    per_file = exploded.groupBy("file_id").agg(
        F.expr("count(*) div 8").cast("long").alias("rows_in_file"),
        F.countDistinct("doc_id").cast("long").alias("distinct_keys"),
        F.countDistinct("pos").cast("long").alias("nbits"),
    )
    grid = spark.createDataFrame(
        [(nk, *_BPA_CROSS[nk]) for nk in _BPA_PROBES],
        "n_keys long, nbits_lim long, rows_lim long",
    )
    return (
        per_file.crossJoin(F.broadcast(grid))
        .select(
            F.col("file_id").cast("long").alias("file_id"),
            "n_keys", "rows_in_file", "distinct_keys", "nbits",
            (F.col("nbits") < F.col("nbits_lim"))
            .alias("prunable_measured"),
            (F.col("rows_in_file") < F.col("rows_lim"))
            .alias("prunable_estimated"),
            (
                (F.col("nbits") < F.col("nbits_lim"))
                & ~(F.col("rows_in_file") < F.col("rows_lim"))
            ).alias("popcount_gain"),
        )
        .orderBy("file_id", "n_keys")
    )
