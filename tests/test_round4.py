"""Round-4 operators: bucketed range join, CDC latest-state, SCD2
state history, sketch rank audit, DAU/WAU stickiness, BM25."""

import pytest
from pyspark.sql import Row, functions as F

from document_parsing_etl_pipeline_spark.catalog import load_table
from document_parsing_etl_pipeline_spark.operators import corpus
from document_parsing_etl_pipeline_spark.operators.rangejoin import (
    range_join_count,
)
from document_parsing_etl_pipeline_spark.plans.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"


# -------------------------------------------------------------------
# range join: equivalence with the naive cross-join formulation
# -------------------------------------------------------------------

def _naive_counts(left_rows, right_rows, lo, hi):
    return sorted(
        (lid, lk, sum(lk + lo <= rk < lk + hi for rk in right_rows))
        for lid, lk in left_rows
    )


@pytest.mark.parametrize("lo,hi,bucket", [
    (-10, 10, 10),   # symmetric window, bucket == half-width
    (-10, 10, 7),    # bucket not dividing the window
    (0, 5, 5),       # trailing-only window
    (-25, -5, 8),    # strictly-past window (lo < hi < 0)
])
def test_range_join_matches_naive(spark, lo, hi, bucket):
    left_rows = [(i, k) for i, k in enumerate(
        [0, 3, 9, 10, 11, 20, 35, 50, 99, 100])]
    right_rows = [0, 1, 5, 9, 10, 15, 19, 20, 30, 44, 45, 90, 100, 101]
    left = spark.createDataFrame(
        [Row(lid=i, lk=k) for i, k in left_rows])
    right = spark.createDataFrame([Row(rk=k) for k in right_rows])

    got = sorted(
        (r["lid"], r["lk"], r["n_matches"])
        for r in range_join_count(
            left, right, "lk", "rk", lo, hi, bucket, left_id="lid"
        ).collect()
    )
    assert got == _naive_counts(left_rows, right_rows, lo, hi)


def test_range_join_count_keeps_unmatched_lefts(spark):
    left = spark.createDataFrame(
        [Row(lid=1, lk=0), Row(lid=2, lk=1000), Row(lid=3, lk=50)])
    right = spark.createDataFrame(
        [Row(rk=1), Row(rk=2), Row(rk=55), Row(rk=49)])
    out = {
        r["lid"]: r["n_matches"]
        for r in range_join_count(
            left, right, "lk", "rk", -5, 6, 5, left_id="lid"
        ).collect()
    }
    # lid=1 window [-5, 6) matches rk 1,2; lid=2 matches nothing but
    # must survive with 0; lid=3 window [45, 56) matches 49 and 55
    assert out == {1: 2, 2: 0, 3: 2}


def test_range_join_count_duplicate_left_rows(spark):
    # duplicate left rows (same id+key twice, and one id with two
    # different keys) must each come back with their OWN match count —
    # not merge into one group with a combined count
    left = spark.createDataFrame([
        Row(lid=1, lk=0), Row(lid=1, lk=0),      # exact duplicate row
        Row(lid=2, lk=0), Row(lid=2, lk=1000),   # same id, two keys
    ])
    right = spark.createDataFrame(
        [Row(rk=1), Row(rk=2), Row(rk=1001)])
    got = sorted(
        (r["lid"], r["lk"], r["n_matches"])
        for r in range_join_count(
            left, right, "lk", "rk", -5, 6, 5, left_id="lid"
        ).collect()
    )
    assert got == [(1, 0, 2), (1, 0, 2), (2, 0, 2), (2, 1000, 1)]


def test_events_ts_normalization_is_timezone_independent(spark):
    # catalog.load_table must yield identical epoch nanos whatever
    # spark.sql.session.timeZone is — a cast through LTZ would shift
    # NTZ wall clocks by the session offset
    tz = spark.conf.get("spark.sql.session.timeZone")
    base = [r["ts"] for r in
            load_table(spark, SF_DIR, "events")
            .orderBy("event_id").limit(20).collect()]
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        shifted = [r["ts"] for r in
                   load_table(spark, SF_DIR, "events")
                   .orderBy("event_id").limit(20).collect()]
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    assert base == shifted


# -------------------------------------------------------------------
# CDC latest state ≡ the window formulation
# -------------------------------------------------------------------

def test_cdc_latest_state_equals_window_formulation(spark):
    from pyspark.sql.window import Window

    agg = {
        (r["user_id"], r["last_ts_us"], r["last_event_id"],
         r["last_event_type"], r["last_value"], r["n_events"])
        for r in QUERIES["q_cdc_latest_state"](spark, SF_DIR).collect()
    }
    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", F.expr("ts div 1000").alias("ts_us"),
        "event_id", "event_type", "value",
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc()
    )
    wn = Window.partitionBy("user_id")
    via_window = {
        (r["user_id"], r["ts_us"], r["event_id"], r["event_type"],
         r["value"], r["n_events"])
        for r in ev.withColumn("rn", F.row_number().over(w))
        .withColumn("n_events", F.count("*").over(wn))
        .where(F.col("rn") == 1).drop("rn").collect()
    }
    assert agg == via_window and len(agg) > 0


# -------------------------------------------------------------------
# SCD2 state history invariants
# -------------------------------------------------------------------

def test_state_history_intervals_chain(spark):
    rows = QUERIES["q_user_state_history"](spark, SF_DIR).collect()
    ev_count = load_table(spark, SF_DIR, "events").count()
    assert sum(r["n_events"] for r in rows) == ev_count
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for user, ivs in by_user.items():
        ivs.sort(key=lambda r: r["version"])
        # versions are contiguous from 1
        assert [r["version"] for r in ivs] == list(range(1, len(ivs) + 1))
        for a, b in zip(ivs, ivs[1:]):
            # consecutive intervals chain exactly and change state
            assert a["valid_to_us"] == b["valid_from_us"]
            assert a["state"] != b["state"]
        assert ivs[-1]["valid_to_us"] == -1  # open current row


# -------------------------------------------------------------------
# sketch audit + stickiness sanity
# -------------------------------------------------------------------

def test_sketch_rank_audit_within_contract(spark):
    rows = QUERIES["q_sketch_rank_audit"](spark, SF_DIR).collect()
    assert len(rows) > 0
    assert all(r["p50_within_eps"] and r["p95_within_eps"] for r in rows)


def test_stickiness_bounds(spark):
    rows = QUERIES["q_dau_wau_stickiness"](spark, SF_DIR).collect()
    assert len(rows) > 0
    for r in rows:
        # mean daily actives can never exceed weekly actives
        assert 0 < r["stickiness_permille"] <= 1000
        assert r["dau_sum"] >= r["wau"]        # each day ⊆ week
        assert r["dau_sum"] <= r["wau"] * r["n_days"]


# -------------------------------------------------------------------
# BM25
# -------------------------------------------------------------------

def test_bm25_orders_by_term_frequency_at_equal_length(spark):
    docs = spark.createDataFrame([
        Row(doc_id=1, text="join join join pad1 pad2 pad3"),
        Row(doc_id=2, text="join pad0 pad1 pad2 pad3 pad4"),
        Row(doc_id=3, text="pad0 pad1 pad2 pad3 pad4 pad5"),
    ])
    out = {r["doc_id"]: r for r in corpus.bm25_scores(
        docs, ("join",)).collect()}
    assert set(out) == {1, 2}          # doc 3 matches nothing
    # same doc length → more occurrences of the query term wins
    assert out[1]["bm25"] > out[2]["bm25"] > 0
    assert out[1]["n_terms_matched"] == out[2]["n_terms_matched"] == 1


def test_bm25_rare_term_outweighs_common_at_equal_tf(spark):
    # 'rare' appears in 1 of 4 docs, 'common' in all 4; tf and doc
    # length equal where both appear → idf dominates
    docs = spark.createDataFrame([
        Row(doc_id=1, text="rare x y z"),
        Row(doc_id=2, text="common x y z"),
        Row(doc_id=3, text="common a b c"),
        Row(doc_id=4, text="common d e f"),
    ])
    out = {r["doc_id"]: r["bm25"] for r in corpus.bm25_scores(
        docs, ("rare", "common")).collect()}
    assert out[1] > out[2]


# -------------------------------------------------------------------
# streaming CDC latest-state compaction
# -------------------------------------------------------------------

def test_latest_state_stream_last_row_wins_across_batches(spark, tmp_path):
    import json

    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from document_parsing_etl_pipeline_spark.streaming.stateful import (
        latest_state_stream,
    )

    drop = tmp_path / "in"
    drop.mkdir()
    schema = StructType([
        StructField("user_id", LongType()),
        StructField("ts_us", LongType()),
        StructField("event_id", LongType()),
        StructField("event_type", StringType()),
    ])
    out = str(tmp_path / "out")

    def run_batch():
        stream = spark.readStream.schema(schema).json(str(drop))
        q = (latest_state_stream(stream).writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", str(tmp_path / "ck"))
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    rows = [
        {"user_id": 1, "ts_us": 100, "event_id": 1, "event_type": "a"},
        {"user_id": 1, "ts_us": 300, "event_id": 3, "event_type": "c"},
        {"user_id": 1, "ts_us": 200, "event_id": 2, "event_type": "b"},
        {"user_id": 2, "ts_us": 50, "event_id": 4, "event_type": "x"},
    ]
    (drop / "b1.json").write_text("\n".join(json.dumps(r) for r in rows))
    run_batch()

    # batch 2: a LATE row for user 1 (must not regress the state) and
    # a genuinely newer row for user 2
    late = [
        {"user_id": 1, "ts_us": 150, "event_id": 9, "event_type": "z"},
        {"user_id": 2, "ts_us": 60, "event_id": 5, "event_type": "y"},
    ]
    (drop / "b2.json").write_text("\n".join(json.dumps(r) for r in late))
    run_batch()

    # materialize the changelog: last emitted row per key wins
    latest = {}
    for r in spark.read.parquet(out).collect():
        prev = latest.get(r.user_id)
        if prev is None or r.n_updates > prev.n_updates:
            latest[r.user_id] = r
    assert latest[1].last_ts_us == 300
    assert latest[1].last_event_type == "c"
    assert latest[1].n_updates == 4          # saw all 4 user-1 rows
    assert latest[2].last_ts_us == 60
    assert latest[2].last_event_type == "y"


# -------------------------------------------------------------------
# SemDeDup
# -------------------------------------------------------------------

def test_semdedup_derives_k_from_corpus_size(spark):
    from document_parsing_etl_pipeline_spark.operators.dedup import (
        SEMDEDUP_TARGET_POP,
        semdedup_keep,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    n = emb.count()
    expect_k = max(1, -(-n // SEMDEDUP_TARGET_POP))
    out = semdedup_keep(emb)
    cents = {r["centroid_id"] for r in
             out.select("centroid_id").distinct().collect()}
    # every assigned centroid id comes from the derived seed set, and
    # the seed set is actually used (≥1 cluster, ≤ derived k)
    assert cents <= set(range(expect_k)) and len(cents) >= 1
    assert out.count() == n


def test_semdedup_drop_rule_matches_numpy_recompute(spark, monkeypatch):
    import numpy as np

    from document_parsing_etl_pipeline_spark.operators import dedup
    from document_parsing_etl_pipeline_spark.operators.dedup import (
        semdedup_keep,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    # four clusters: a population target of ceil(n / 4)
    monkeypatch.setattr(dedup, "SEMDEDUP_TARGET_POP", -(-emb.count() // 4))
    out = semdedup_keep(emb, threshold=0.3).collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}

    def cos(u, v):
        nu, nv = np.linalg.norm(u), np.linalg.norm(v)
        if nu == 0 or nv == 0:
            return 0.0
        return float(u @ v / (nu * nv))

    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["centroid_id"], []).append(r)
    n_dropped = 0
    for cid, rows in by_cluster.items():
        rows.sort(key=lambda r: r["vec_id"])
        ids = [r["vec_id"] for r in rows]
        for r in rows:
            expect_drop = any(
                round(cos(vecs[u], vecs[r["vec_id"]]), 4) >= 0.3
                for u in ids if u < r["vec_id"]
            )
            assert r["keep"] == (not expect_drop), (cid, r["vec_id"])
            n_dropped += (not r["keep"])
    assert len(out) == len(vecs)     # one verdict per vector
    assert 0 < n_dropped < len(vecs)  # threshold actually bites


# -------------------------------------------------------------------
# stream-stream interval join
# -------------------------------------------------------------------

def test_stream_stream_interval_join(spark, tmp_path):
    import json

    from document_parsing_etl_pipeline_spark.streaming import events as ev

    drop = tmp_path / "ev"
    drop.mkdir()
    rows = [
        {"event_id": 1, "ts": "2024-01-01T00:00:30", "user_id": 1,
         "event_type": "error", "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01T00:01:00", "user_id": 2,
         "event_type": "view", "value": 1.0},   # within 1 min of #1
        {"event_id": 3, "ts": "2024-01-01T00:05:00", "user_id": 3,
         "event_type": "view", "value": 1.0},   # too far from #1
    ]
    (drop / "e.json").write_text("\n".join(json.dumps(r) for r in rows))
    stream = ev.read_event_stream(spark, str(drop))
    errors = stream.where(F.col("event_type") == "error")
    views = stream.where(F.col("event_type") == "view")
    joined = ev.interval_join_streams(errors, views, window_seconds=60)
    q = (joined.writeStream.format("memory").queryName("ij")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.l_id, r.r_id) for r in spark.sql("SELECT * FROM ij").collect()}
    assert got == {(1, 2)}  # error #1 ⋈ view #2 only; #3 outside window


# -------------------------------------------------------------------
# DSIR importance weights
# -------------------------------------------------------------------

def test_dsir_targets_score_higher_on_average(spark):
    rows = QUERIES["q_dsir_weights"](spark, SF_DIR).collect()
    n_docs = load_table(spark, SF_DIR, "documents").count()
    assert len(rows) == n_docs
    tgt = [r["dsir_micro_nats"] / r["n_tokens"]
           for r in rows if r["is_target"]]
    raw = [r["dsir_micro_nats"] / r["n_tokens"]
           for r in rows if not r["is_target"]]
    assert tgt and raw
    # the target slice defines the target distribution: its own
    # importance weight must be higher in expectation
    assert sum(tgt) / len(tgt) > sum(raw) / len(raw)


# -------------------------------------------------------------------
# training-shard writer sink
# -------------------------------------------------------------------

def test_semdedup_materialized_matches_default(spark, monkeypatch):
    from document_parsing_etl_pipeline_spark.operators import dedup
    from document_parsing_etl_pipeline_spark.operators.dedup import (
        semdedup_keep,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    # four clusters: a population target of ceil(n / 4)
    monkeypatch.setattr(dedup, "SEMDEDUP_TARGET_POP", -(-emb.count() // 4))
    base = {(r["vec_id"], r["centroid_id"], r["keep"])
            for r in semdedup_keep(emb, 0.3).collect()}
    mat = {(r["vec_id"], r["centroid_id"], r["keep"])
           for r in semdedup_keep(emb, 0.3, materialize=True).collect()}
    assert base == mat and len(base) > 0


def test_hll_audit_within_contract(spark):
    rows = QUERIES["q_hll_audit"](spark, SF_DIR).collect()
    assert len(rows) > 0
    assert all(r["hll_within_bound"] for r in rows)


# -------------------------------------------------------------------
# robust JSONL ingest (corrupt-record quarantine)
# -------------------------------------------------------------------

# -------------------------------------------------------------------
# round 5: sketch structures
# -------------------------------------------------------------------

def test_countmin_never_underestimates_and_is_exact_when_sparse(spark):
    from document_parsing_etl_pipeline_spark.operators.sketches import (
        countmin_heavy_hitters,
    )

    rows = [Row(k="hot")] * 500 + [Row(k=f"u{i}") for i in range(30)]
    out = {r.k: r for r in
           countmin_heavy_hitters(
               spark.createDataFrame(rows), "k", top=5
           ).collect()}
    assert out["hot"].exact_n == 500
    assert all(r.cms_est >= r.exact_n for r in out.values())
    assert all(r.overestimate_ok and r.within_eps_ok
               for r in out.values())


def test_bloom_probe_no_false_negatives_and_dup_safe(spark):
    from document_parsing_etl_pipeline_spark.operators.sketches import (
        bloom_bits, bloom_probe,
    )

    build = spark.createDataFrame([Row(k=i * 3) for i in range(50)])
    bits = bloom_bits(build, "k", num_bits=1024, k=3)
    # duplicate probe rows on purpose: each copy must get the same flag
    probes = spark.createDataFrame(
        [Row(k=i) for i in range(150)] + [Row(k=0), Row(k=1)]
    )
    got = bloom_probe(probes, bits, "k", num_bits=1024, k=3).collect()
    by_key: dict[int, list] = {}
    for r in got:
        by_key.setdefault(r.k, []).append(r.bloom_maybe)
    # no false negatives: every multiple of 3 flags maybe
    assert all(all(v) for k, v in by_key.items() if k % 3 == 0)
    # duplicates got consistent flags and survived (k=0 twice, k=1 twice)
    assert len(by_key[0]) == 2 and len(by_key[1]) == 2
    assert len(set(by_key[1])) == 1
    # the filter actually prunes: most non-members are rejected
    rejected = sum(1 for k, v in by_key.items()
                   if k % 3 != 0 and not v[0])
    assert rejected > 60


def test_mixing_weights_upsample_low_resource_strata(spark):
    from document_parsing_etl_pipeline_spark.operators.corpus import (
        mixing_weights,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=i, lang="en") for i in range(900)]
        + [Row(doc_id=1000 + i, lang="yo") for i in range(100)]
    )
    out = {r.lang: r for r in mixing_weights(docs).collect()}
    # raw shares: 900/100 ppm split; alpha=0.5 tempers toward uniform
    assert out["en"].raw_ppm == 900_000 and out["yo"].raw_ppm == 100_000
    assert out["yo"].alpha_ppm > out["yo"].raw_ppm      # upsampled
    assert out["en"].alpha_ppm < out["en"].raw_ppm      # downsampled
    assert out["en"].alpha_ppm > out["yo"].alpha_ppm    # order kept


def test_rate_limit_audit_token_bucket_semantics(spark):
    from document_parsing_etl_pipeline_spark.operators.ratelimit import (
        rate_limit_audit,
    )

    # cap 2 tokens; refill_div=10 => 1 micro-token per 10 us, i.e. one
    # full token per 10^7 us. User 1: burst of 3 at t=0..2 (third
    # rejected: bucket empty, negligible refill), then t=5*10^7
    # (refilled ~5 tokens, clamped to cap -> allowed). User 2
    # independent (full bucket at its first event).
    ev = spark.createDataFrame(
        [Row(event_id=1, user_id=1, ts_us=0),
         Row(event_id=2, user_id=1, ts_us=1),
         Row(event_id=3, user_id=1, ts_us=2),
         Row(event_id=4, user_id=1, ts_us=50_000_000),
         Row(event_id=5, user_id=2, ts_us=2)]
    )
    out = {r.event_id: r for r in
           rate_limit_audit(ev, cap=2, refill_div=10).collect()}
    assert out[1].allowed and out[1].tokens_after_micro == 1_000_000
    assert out[2].allowed and out[2].tokens_after_micro == 0
    assert not out[3].allowed                 # throttled mid-burst
    assert out[4].allowed                     # refilled after the gap
    # refill clamped at cap (2 tokens), one consumed
    assert out[4].tokens_after_micro == 1_000_000
    assert out[5].allowed                     # fresh bucket per user


def test_rate_limit_stream_matches_batch_replay(spark, tmp_path):
    import json

    from pyspark.sql.types import LongType, StructField, StructType

    from document_parsing_etl_pipeline_spark.operators.ratelimit import (
        rate_limit_audit,
    )
    from document_parsing_etl_pipeline_spark.streaming.stateful import (
        rate_limit_stream,
    )

    drop = tmp_path / "rl_in"
    drop.mkdir()
    schema = StructType([
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("ts_us", LongType()),
    ])
    out = str(tmp_path / "rl_out")

    def run_batch():
        stream = spark.readStream.schema(schema).json(str(drop))
        q = (rate_limit_stream(stream, cap=2, refill_div=10)
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", str(tmp_path / "rl_ck"))
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    # burst then spaced refills for u1; u2 steady — split across two
    # micro-batches so state genuinely carries over
    b1 = [
        {"event_id": 1, "user_id": 1, "ts_us": 0},
        {"event_id": 2, "user_id": 1, "ts_us": 1},
        {"event_id": 3, "user_id": 1, "ts_us": 2},      # denied: bucket dry
        {"event_id": 7, "user_id": 2, "ts_us": 0},
    ]
    b2 = [
        # Δt=2.5e7 µs at 1 micro-token/10 µs -> bucket refills to cap 2
        {"event_id": 4, "user_id": 1, "ts_us": 25_000_000},
        {"event_id": 5, "user_id": 1, "ts_us": 25_000_001},
        {"event_id": 6, "user_id": 1, "ts_us": 25_000_002},  # denied again
        {"event_id": 8, "user_id": 2, "ts_us": 30_000_000},
    ]
    (drop / "b1.json").write_text("\n".join(json.dumps(r) for r in b1))
    run_batch()
    (drop / "b2.json").write_text("\n".join(json.dumps(r) for r in b2))
    run_batch()

    got = {
        r.event_id: (r.allowed, r.tokens_after_micro)
        for r in spark.read.parquet(out).collect()
    }
    ev = spark.createDataFrame(
        [(r["event_id"], r["user_id"], r["ts_us"]) for r in b1 + b2],
        "event_id long, user_id long, ts_us long",
    )
    want = {
        r.event_id: (r.allowed, r.tokens_after_micro)
        for r in rate_limit_audit(ev, cap=2, refill_div=10).collect()
    }
    assert got == want
    assert got[3][0] is False and got[6][0] is False
    assert got[4][0] is True
