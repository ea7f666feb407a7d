"""Streaming pipeline tests: file-source watcher (reference watchdog/
Airflow parity) and watermarked event aggregation, via availableNow
micro-batches."""

import json

from document_parsing_etl_pipeline_spark.streaming import events as ev
from document_parsing_etl_pipeline_spark.streaming import watcher


def test_windowed_counts_with_watermark(tmp_path, spark):
    drop = tmp_path / "ev"
    drop.mkdir()
    rows = [
        {"event_id": 1, "ts": "2024-01-01T00:01:00", "user_id": 1,
         "event_type": "click", "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01T00:02:00", "user_id": 1,
         "event_type": "click", "value": 2.0},
        {"event_id": 3, "ts": "2024-01-01T00:07:00", "user_id": 1,
         "event_type": "view", "value": 3.0},
    ]
    (drop / "e.json").write_text("\n".join(json.dumps(r) for r in rows))
    stream = ev.read_event_stream(spark, str(drop))
    agg = ev.windowed_counts(stream)
    q = (agg.writeStream.format("memory").queryName("win")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.window_start.minute, r.event_type): r.n_events
           for r in spark.sql("SELECT * FROM win").collect()}
    assert got[(0, "click")] == 2
    assert got[(5, "view")] == 1


def test_full_pipeline_writes_three_tables_and_rejects(tmp_path, spark):
    watch, store, ckpt = (str(tmp_path / d) for d in ("in", "store", "ck"))
    (tmp_path / "in").mkdir()
    good = {"doc_id": 5, "text": "table vector words " * 30, "lang": "en",
            "source": "drop", "n_chars": 570}
    (tmp_path / "in" / "good.json").write_text(json.dumps(good))
    (tmp_path / "in" / "bad.json").write_text('{"text": "no id"}\nnot json at all')

    q = watcher.start_full_pipeline(spark, watch, store, ckpt)
    q.awaitTermination(120)

    docs = spark.read.parquet(str(tmp_path / "store" / "documents"))
    chunks = spark.read.parquet(str(tmp_path / "store" / "chunks"))
    charts = spark.read.parquet(str(tmp_path / "store" / "charts"))
    assert docs.where(docs.doc_id == 5).count() == 1
    assert docs.collect()[0].total_chunks == chunks.count() > 0
    assert charts.count() > 0  # 'table'/'vector' markers produce charts
    assert chunks.where(chunks.doc_id == 5).count() == chunks.count()
    rejects = spark.read.parquet(str(tmp_path / "store" / "rejects"))
    assert rejects.count() >= 1  # malformed rows quarantined, not fatal


def test_watcher_lands_each_doc_once_under_batch_dirs(tmp_path, spark):
    """Two runs of the watcher over one checkpoint: each run's new file
    lands in its own ``batch_id=<n>`` directories, and reading a table
    back with ``spark.read.parquet`` yields every doc exactly once with
    its ``batch_id`` column (the layout perfbench's watcher phase
    reads)."""
    import os
    watch, store, ckpt = (str(tmp_path / d) for d in ("in2", "store2", "ck2"))
    (tmp_path / "in2").mkdir()
    d1 = {"doc_id": 1, "text": "alpha words " * 40, "lang": "en",
          "source": "a", "n_chars": 480}
    (tmp_path / "in2" / "one.json").write_text(json.dumps(d1))
    q = watcher.start_full_pipeline(spark, watch, store, ckpt)
    q.awaitTermination(120)
    # second batch: a new file, new stream run over the same checkpoint
    d2 = {"doc_id": 2, "text": "beta words " * 40, "lang": "en",
          "source": "b", "n_chars": 440}
    (tmp_path / "in2" / "two.json").write_text(json.dumps(d2))
    q = watcher.start_full_pipeline(spark, watch, store, ckpt)
    q.awaitTermination(120)

    for name in ("documents", "chunks"):
        assert all(p.startswith("batch_id=") for p in os.listdir(
            os.path.join(store, name)) if not p.startswith(("_", ".")))
    docs = spark.read.parquet(os.path.join(store, "documents"))
    rows = sorted((r.doc_id, r.batch_id)
                  for r in docs.select("doc_id", "batch_id").collect())
    assert [doc for doc, _ in rows] == [1, 2]
    assert rows[0][1] < rows[1][1]
    # each doc's chunks sit in the batch that landed the doc
    chunks = spark.read.parquet(os.path.join(store, "chunks"))
    assert sorted(tuple(r) for r in chunks.select(
        "doc_id", "batch_id").distinct().collect()) == rows


def test_full_pipeline_takes_one_file_per_trigger(tmp_path, spark):
    """``max_files_per_trigger=1`` over three drop files runs three
    micro-batches, and each doc lands in the store once."""
    import os

    watch, store, ckpt = (str(tmp_path / d) for d in ("in3", "st3", "ck3"))
    os.makedirs(watch)
    for doc_id in (1, 2, 3):
        (tmp_path / "in3" / f"d{doc_id}.json").write_text(json.dumps({
            "doc_id": doc_id, "text": f"words of doc {doc_id} " * 20,
            "lang": "en", "source": "drop", "n_chars": 300}))
    q = watcher.start_full_pipeline(spark, watch, store, ckpt,
                                    max_files_per_trigger=1)
    q.awaitTermination(120)
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) == 3
    docs = spark.read.parquet(os.path.join(store, "documents"))
    assert sorted(r.doc_id for r in docs.collect()) == [1, 2, 3]
    chunks = spark.read.parquet(os.path.join(store, "chunks"))
    assert sorted(r.doc_id for r in chunks.select(
        "doc_id", "batch_id").distinct().collect()) == [1, 2, 3]


def test_stream_merge_into_table_exactly_once(tmp_path, spark):
    from document_parsing_etl_pipeline_spark.sources import (
        tableformat as tf,
    )
    from document_parsing_etl_pipeline_spark.streaming import table_sink

    root = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 0), (3, "c", 0)],
        "user_id long, state string, seq long",
    )
    tf.create_table(spark, base, root, stats_cols=["user_id"])

    drop = tmp_path / "cdc"
    drop.mkdir()
    rows = [
        # two updates for user 1 in one batch: latest (seq 12) must win
        {"user_id": 1, "state": "a1", "seq": 11},
        {"user_id": 1, "state": "a2", "seq": 12},
        {"user_id": 4, "state": "d", "seq": 10},
    ]
    (drop / "b1.json").write_text("\n".join(json.dumps(r) for r in rows))
    stream = (
        spark.readStream.format("json")
        .schema("user_id long, state string, seq long")
        .load(str(drop))
    )
    ckpt = str(tmp_path / "ckpt")
    q = table_sink.stream_merge_into_table(
        spark, stream, root, key="user_id", seq_col="seq",
        checkpoint_dir=ckpt,
    )
    q.awaitTermination(120)

    got = {
        r.user_id: (r.state, r.seq)
        for r in tf.read(spark, root).collect()
    }
    assert got == {
        1: ("a2", 12), 2: ("b", 0), 3: ("c", 0), 4: ("d", 10),
    }
    v_after = tf._versions(root)[-1]

    # replay the SAME batch (post-crash foreachBatch retry): the sink
    # skips it — no new snapshot, no duplicate rows
    assert table_sink.last_committed_batch(root) == 0
    batch = spark.createDataFrame(
        rows, "user_id long, state string, seq long"
    )
    committed = table_sink.merge_batch(
        spark, batch, root, key="user_id", seq_col="seq", batch_id=0
    )
    assert committed is False
    assert tf._versions(root)[-1] == v_after
    assert {
        r.user_id: (r.state, r.seq) for r in tf.read(spark, root).collect()
    } == got

    # a NEW batch continues from the checkpoint and commits
    (drop / "b2.json").write_text(json.dumps(
        {"user_id": 2, "state": "b2", "seq": 20}
    ))
    q2 = table_sink.stream_merge_into_table(
        spark, stream, root, key="user_id", seq_col="seq",
        checkpoint_dir=ckpt,
    )
    q2.awaitTermination(120)
    got2 = {r.user_id: r.state for r in tf.read(spark, root).collect()}
    assert got2[2] == "b2" and table_sink.last_committed_batch(root) == 1


def test_interval_join_keeps_colliding_ids_across_distinct_streams(
    tmp_path, spark
):
    """Two genuinely distinct streams whose event_id spaces collide:
    the default (exclude_same_id=False) must KEEP the matched pair
    that happens to share an id — dropping it would silently lose a
    legitimate cross-stream match. The opt-in exclusion is for
    self-joins only (covered below)."""
    left_dir, right_dir = tmp_path / "l", tmp_path / "r"
    left_dir.mkdir(); right_dir.mkdir()
    (left_dir / "l.json").write_text(json.dumps(
        {"event_id": 7, "ts": "2024-01-01T00:00:30", "user_id": 1,
         "event_type": "error", "value": 1.0}
    ))
    (right_dir / "r.json").write_text("\n".join(json.dumps(r) for r in [
        {"event_id": 7, "ts": "2024-01-01T00:01:00", "user_id": 2,
         "event_type": "view", "value": 1.0},   # id collides, in window
        {"event_id": 8, "ts": "2024-01-01T00:01:10", "user_id": 3,
         "event_type": "view", "value": 1.0},
    ]))
    joined = ev.interval_join_streams(
        ev.read_event_stream(spark, str(left_dir)),
        ev.read_event_stream(spark, str(right_dir)),
        window_seconds=60,
    )
    q = (joined.writeStream.format("memory").queryName("ij_collide")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.l_id, r.r_id)
           for r in spark.sql("SELECT * FROM ij_collide").collect()}
    assert got == {(7, 7), (7, 8)}


def test_interval_join_self_join_excludes_self_pairs_opt_in(
    tmp_path, spark
):
    """Self-join of one stream against itself: with exclude_same_id
    a row never pairs with itself, while true neighbors still match
    in both directions."""
    drop = tmp_path / "self"
    drop.mkdir()
    (drop / "e.json").write_text("\n".join(json.dumps(r) for r in [
        {"event_id": 1, "ts": "2024-01-01T00:00:30", "user_id": 1,
         "event_type": "click", "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01T00:01:00", "user_id": 2,
         "event_type": "click", "value": 1.0},
    ]))
    stream = ev.read_event_stream(spark, str(drop))
    joined = ev.interval_join_streams(
        stream, stream, window_seconds=60, exclude_same_id=True,
    )
    q = (joined.writeStream.format("memory").queryName("ij_self")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.l_id, r.r_id)
           for r in spark.sql("SELECT * FROM ij_self").collect()}
    assert got == {(1, 2), (2, 1)}  # no (1,1)/(2,2) self-pairs


def test_stream_neardup_ingest_flags_and_exactly_once(tmp_path, spark):
    """Streaming incremental near-dup: batch 2 docs flag against
    batch 1's standing index; within-batch copies flag against the
    smaller id; checkpoint replays of a committed batch are no-ops."""
    import time as _time

    from document_parsing_etl_pipeline_spark.sources import tableformat as tf
    from document_parsing_etl_pipeline_spark.streaming import neardup

    drop = tmp_path / "docs_in"
    drop.mkdir()
    index_root = str(tmp_path / "lsh_index")
    flags_root = str(tmp_path / "flags")
    a_text = "the quick brown fox jumps over the lazy dog " * 8
    b_text = "completely different content about spark shuffles " * 8
    c_text = "a third unique document discussing parquet footers " * 8
    (drop / "a.json").write_text("\n".join([
        json.dumps({"doc_id": 1, "text": a_text}),
        json.dumps({"doc_id": 2, "text": b_text}),
    ]))
    _time.sleep(1.1)  # file-source batches order by mod time
    (drop / "b.json").write_text("\n".join([
        json.dumps({"doc_id": 10, "text": a_text}),   # dup of ingested 1
        json.dumps({"doc_id": 11, "text": c_text}),   # unique
        json.dumps({"doc_id": 12,
                    "text": "fresh pair of copies inside one batch " * 8}),
        json.dumps({"doc_id": 13,                       # dup of 12
                    "text": "fresh pair of copies inside one batch " * 8}),
    ]))

    neardup.create_index(spark, index_root)
    stream = (
        spark.readStream.format("json")
        .schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .load(str(drop))
    )
    q = neardup.stream_neardup_ingest(
        spark, stream, index_root, flags_root,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    flags = {
        r.doc_id: (r.is_dup, r.first_match_doc)
        for r in spark.read.parquet(flags_root).collect()
    }
    assert flags[1] == (False, -1) and flags[2] == (False, -1)
    assert flags[10] == (True, 1)      # cross-batch dup
    assert flags[11] == (False, -1)
    assert flags[12] == (False, -1)    # first copy keeps
    assert flags[13] == (True, 12)     # within-batch dup
    # index holds every ingested doc's buckets exactly once
    idx = tf.read(spark, index_root)
    assert set(
        r.doc_id for r in idx.select("doc_id").distinct().collect()
    ) == {1, 2, 10, 11, 12, 13}
    n_rows = idx.count()
    # replaying the last committed batch is a no-op
    last_batch = spark.read.json(str(drop / "b.json"))
    from document_parsing_etl_pipeline_spark.streaming.table_sink import (
        last_committed_batch,
    )
    bid = last_committed_batch(index_root)
    assert neardup.ingest_batch(
        spark, last_batch, index_root, flags_root, bid
    ) is False
    assert tf.read(spark, index_root).count() == n_rows

    # round-9 ADVICE item: the 'ids are new' append contract is now
    # ENFORCED — re-ingesting an already-indexed doc_id as a NEW batch
    # id raises (instead of silently duplicating its bucket rows), and
    # the index is untouched
    import pytest as _pytest
    with _pytest.raises(ValueError, match="contract violation"):
        neardup.ingest_batch(
            spark, last_batch, index_root, flags_root, bid + 1
        )
    assert tf.read(spark, index_root).count() == n_rows
    # round-13 advice: the violating batch's flag partition must not
    # linger — the batch will never be indexed, so a visible flag
    # output for it would break the flags/watermark contract
    import os as _os
    assert not _os.path.exists(
        _os.path.join(flags_root, f"batch_id={bid + 1}")
    )
    # genuinely-new ids (beyond every file's doc_id stats range) pass
    # through the zero-files-read manifest fast path and append
    fresh = spark.createDataFrame(
        [(100, "an entirely new document about bloom filter sizing "
          * 8)], "doc_id long, text string")
    assert neardup.ingest_batch(
        spark, fresh, index_root, flags_root, bid + 1
    ) is True
    assert tf.read(spark, index_root).count() > n_rows
    # the updating-ingest escape hatch stays available: with the guard
    # off, the caller owns dedup semantics
    assert neardup.ingest_batch(
        spark, last_batch, index_root, flags_root, bid + 2,
        validate_new_ids=False,
    ) is True


def test_interval_join_left_outer_emits_unmatched_after_watermark(
    tmp_path, spark
):
    """left_outer: matched pairs emit as usual; a left event with no
    right partner emits exactly ONE null-extended row once the
    watermark closes its match window (the single-bucket-left design:
    an exploded left would emit one null row per bucket)."""
    left_dir, right_dir = tmp_path / "lo_l", tmp_path / "lo_r"
    left_dir.mkdir(); right_dir.mkdir()
    (left_dir / "l.json").write_text("\n".join(json.dumps(r) for r in [
        {"event_id": 1, "ts": "2024-01-01T00:00:30", "user_id": 1,
         "event_type": "error", "value": 1.0},   # matched by 100
        {"event_id": 2, "ts": "2024-01-01T00:05:00", "user_id": 2,
         "event_type": "error", "value": 1.0},   # unmatched, old
        # late sentinel to push the watermark far past event 2
        {"event_id": 3, "ts": "2024-01-01T03:00:00", "user_id": 3,
         "event_type": "error", "value": 1.0},
    ]))
    (right_dir / "r.json").write_text("\n".join(json.dumps(r) for r in [
        {"event_id": 100, "ts": "2024-01-01T00:01:00", "user_id": 9,
         "event_type": "view", "value": 1.0},
        {"event_id": 101, "ts": "2024-01-01T03:00:00", "user_id": 9,
         "event_type": "view", "value": 1.0},    # watermark pusher
    ]))
    joined = ev.interval_join_streams(
        ev.read_event_stream(spark, str(left_dir)),
        ev.read_event_stream(spark, str(right_dir)),
        window_seconds=60,
        watermark="1 minute",
        join_type="left_outer",
    )
    q = (joined.writeStream.format("memory").queryName("ij_lo")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    rows = spark.sql("SELECT l_id, r_id FROM ij_lo").collect()
    got = sorted((r.l_id, r.r_id) for r in rows)
    # 1 matched; 2 unmatched -> exactly one (2, None); 3 matched 101
    assert got == [(1, 100), (2, None), (3, 101)]


def _drop_items(path, items, start_id=0, ts0=0):
    rows = [
        {"item": it, "ts_us": ts0 + i, "event_id": start_id + i}
        for i, it in enumerate(items)
    ]
    path.write_text("\n".join(json.dumps(r) for r in rows))


def test_quantile_stream_bounded_relative_error(tmp_path, spark):
    """Uniform 1..1000: p50/p95/p99 estimates stay within the
    documented per-bucket relative bound at B=8 (~4.4% midpoint, use
    10% slack for quantile-rank granularity)."""
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    from document_parsing_etl_pipeline_spark.streaming import quantile

    drop = tmp_path / "qs1"
    drop.mkdir()
    rows = [{"key": "k", "value": float(v)} for v in range(1, 1001)]
    (drop / "a.json").write_text(
        "\n".join(json.dumps(r) for r in rows))
    schema = StructType([
        StructField("key", StringType()),
        StructField("value", DoubleType()),
    ])
    stream = spark.readStream.format("json").schema(schema).load(str(drop))
    out = quantile.quantile_stream(stream)
    q = (out.writeStream.format("memory").queryName("qs1")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows_out = spark.sql(
        "SELECT * FROM qs1 ORDER BY seq DESC LIMIT 1").collect()
    assert len(rows_out) == 1
    r = rows_out[0]
    assert r.n == 1000
    for est, true in ((r.p50_est, 500), (r.p95_est, 950),
                      (r.p99_est, 990)):
        assert abs(est - true) / true < 0.10, (est, true)


def test_quantile_stream_state_carries_across_batches(tmp_path, spark):
    """A second file arriving later folds into the SAME histogram:
    n accumulates and the median moves to the combined value."""
    import time

    from pyspark.sql.types import (
        DoubleType, StringType, StructField, StructType,
    )

    from document_parsing_etl_pipeline_spark.streaming import quantile

    drop = tmp_path / "qs2"
    drop.mkdir()
    schema = StructType([
        StructField("key", StringType()),
        StructField("value", DoubleType()),
    ])
    (drop / "a.json").write_text("\n".join(
        json.dumps({"key": "k", "value": 10.0}) for _ in range(100)))
    ck = str(tmp_path / "ck2")
    sink = str(tmp_path / "qs2out")

    def run_once():
        stream = (spark.readStream.format("json").schema(schema)
                  .load(str(drop)))
        out = quantile.quantile_stream(stream)
        q = (out.writeStream.format("parquet")
             .option("path", sink)
             .option("checkpointLocation", ck)
             .outputMode("append")
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_once()
    time.sleep(0.1)
    (drop / "b.json").write_text("\n".join(
        json.dumps({"key": "k", "value": 1000.0}) for _ in range(300)))
    run_once()
    last = (spark.read.parquet(sink)
            .orderBy("seq", ascending=False).collect()[0])
    assert last.n == 400          # state carried: 100 + 300
    assert last.seq == 2
    # 300 of 400 values are 1000 -> median sits in the 1000 bucket
    assert abs(last.p50_est - 1000.0) / 1000.0 < 0.10


def test_quantile_stream_cap_forces_coarsening(tmp_path, spark):
    """A tiny max_buckets forces resolution halving: b_eff drops
    below B, the bucket count respects the cap, and estimates stay
    within the coarser (doubled-per-halving) bound."""
    from pyspark.sql.types import (
        DoubleType, StringType, StructField, StructType,
    )

    from document_parsing_etl_pipeline_spark.streaming import quantile

    drop = tmp_path / "qs3"
    drop.mkdir()
    # 100 values dense over [1, 16): ~32 sub-buckets at B=8, which a
    # cap of 16 can only satisfy by halving to B=4 (octave span is 4,
    # so the floor b_eff=1 layout would need just 4 buckets)
    rows = [{"key": "k", "value": 1.0 + 15.0 * i / 100.0}
            for i in range(100)]
    (drop / "a.json").write_text(
        "\n".join(json.dumps(r) for r in rows))
    schema = StructType([
        StructField("key", StringType()),
        StructField("value", DoubleType()),
    ])
    stream = spark.readStream.format("json").schema(schema).load(str(drop))
    out = quantile.quantile_stream(stream, max_buckets=16)
    q = (out.writeStream.format("memory").queryName("qs3")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck3"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    r = spark.sql(
        "SELECT * FROM qs3 ORDER BY seq DESC LIMIT 1").collect()[0]
    assert r.n_buckets <= 16
    assert r.b_eff < 8            # at least one halving happened
    assert r.n == 100


def test_quantile_stream_keys_isolated(tmp_path, spark):
    """Keys keep independent histograms."""
    from pyspark.sql.types import (
        DoubleType, StringType, StructField, StructType,
    )

    from document_parsing_etl_pipeline_spark.streaming import quantile

    drop = tmp_path / "qs4"
    drop.mkdir()
    rows = ([{"key": "lo", "value": 1.0} for _ in range(50)]
            + [{"key": "hi", "value": 1000.0} for _ in range(50)])
    (drop / "a.json").write_text(
        "\n".join(json.dumps(r) for r in rows))
    schema = StructType([
        StructField("key", StringType()),
        StructField("value", DoubleType()),
    ])
    stream = spark.readStream.format("json").schema(schema).load(str(drop))
    out = quantile.quantile_stream(stream)
    q = (out.writeStream.format("memory").queryName("qs4")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck4"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.key: r.p50_est for r in spark.sql(
        "SELECT * FROM qs4").collect()}
    assert abs(got["lo"] - 1.0) < 0.1
    assert abs(got["hi"] - 1000.0) / 1000.0 < 0.10


def test_quantile_stream_cap_holds_on_adversarial_spread(tmp_path, spark):
    """The max_buckets cap is HARD (round-8 advisor finding): a value
    spread covering hundreds of octaves (a double spans ~2100) can't
    be satisfied by resolution halving alone — after b_eff bottoms
    out at 1, the outermost octaves must saturate into edge buckets
    so the state bound survives any input distribution."""
    from pyspark.sql.types import (
        DoubleType, StringType, StructField, StructType,
    )

    from document_parsing_etl_pipeline_spark.streaming import quantile

    drop = tmp_path / "qs5"
    drop.mkdir()
    # magnitudes from 1e-280 to 1e+280: ~1860 octaves, plus negatives
    rows = [{"key": "k", "value": 10.0 ** e}
            for e in range(-280, 281, 4)]
    rows += [{"key": "k", "value": -(10.0 ** e)}
             for e in range(-280, 281, 8)]
    (drop / "a.json").write_text(
        "\n".join(json.dumps(r) for r in rows))
    schema = StructType([
        StructField("key", StringType()),
        StructField("value", DoubleType()),
    ])
    stream = spark.readStream.format("json").schema(schema).load(str(drop))
    out = quantile.quantile_stream(stream, max_buckets=16)
    q = (out.writeStream.format("memory").queryName("qs5")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck5"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    r = spark.sql(
        "SELECT * FROM qs5 ORDER BY seq DESC LIMIT 1").collect()[0]
    assert r.n_buckets <= 16      # the cap held
    assert r.b_eff == 1           # coarsening bottomed out first
    assert r.n == len(rows)
    # p50 keeps the right SIGN and a sane central magnitude even with
    # saturated tails (2/3 of the mass is positive)
    assert r.p50_est > 0


def test_neardup_index_pushdown_prunes_and_matches_full_read(
    tmp_path, spark
):
    """Round-9 scale lever: the standing LSH index is appended
    CLUSTERED on bh, so once the index spans many files a batch's
    bucket-key set prunes the snapshot scan (scan_keys) to a subset
    of files — and the pruned flag join returns EXACTLY the full-read
    answer (files without a matching key hold no matching rows)."""
    from pyspark.sql import functions as F

    from document_parsing_etl_pipeline_spark.catalog import load_table
    from document_parsing_etl_pipeline_spark.operators.dedup import (
        lsh_flag_ingest, minhash_buckets,
    )
    from document_parsing_etl_pipeline_spark.sources import (
        tableformat as tf,
    )
    from document_parsing_etl_pipeline_spark.streaming import neardup

    docs = load_table(
        spark, "/root/testdata/sf0.001", "documents"
    ).select("doc_id", "text")
    idx = str(tmp_path / "idx")
    neardup.create_index(spark, idx)
    # 20 micro-batches x INDEX_FILES_PER_BATCH files: enough files
    # that a small probe's key set cannot hit them all
    for i in range(20):
        b = docs.where(f"doc_id % 20 = {i}").localCheckpoint()
        assert neardup.ingest_batch(
            spark, b, idx, str(tmp_path / "fl"), i + 1,
            validate_new_ids=False,  # mod-20 slices interleave ids
            optimize_cadence=False,  # keep the fragmented layout
        )
    head = tf._load_manifest(idx, tf._versions(idx)[-1])
    # round 10: bloomed appends coalesce instead of range-shuffling,
    # so each batch lands ≤ INDEX_FILES_PER_BATCH files (here 1) and
    # the pushdown engages on blooms at ANY file count — the old
    # PUSHDOWN_MIN_FILES gate applies only to bloomless indexes
    assert len(head["files"]) >= 20
    assert "bh" in head["stats_cols"]
    assert "bh" in head["bloom_cols"]

    # the maintenance pass of the deployment story: re-cluster the
    # whole index on bh so per-file bucket-hash ranges are NARROW and
    # disjoint (per-batch appends only cluster within their batch)
    total = tf.read(spark, idx).count()
    tf.optimize_table(spark, idx, target_file_rows=max(1, total // 64),
                      cluster_by="bh")

    # probe: 3 docs re-hashed (dups of ingested docs)
    probe = docs.where("doc_id IN (3, 7, 11)").localCheckpoint()
    pb = minhash_buckets(probe, num_hashes=8, band_size=2) \
        .localCheckpoint()
    keys = [r["bh"] for r in pb.select("bh").distinct().collect()]
    pruned, files_read, files_total = tf.scan_keys(
        spark, idx, "bh", keys)
    assert 0 < files_read < files_total, (files_read, files_total)

    full = tf.read(spark, idx)
    want = sorted(map(tuple, lsh_flag_ingest(
        probe.select("doc_id"), pb, full).collect()))
    got = sorted(map(tuple, lsh_flag_ingest(
        probe.select("doc_id"), pb, pruned).collect()))
    assert got == want
    # the probes are true dups of indexed docs: flagged unless every
    # shared bucket was cap-dropped (cap semantics allow that)
    assert any(r[1] for r in got)


def test_neardup_optimize_cadence_preserves_flags_and_replay(
    tmp_path, spark
):
    """Round-10 OPTIMIZE cadence: with a forced-low cadence floor the
    mid-stream re-cluster fires, yet (a) flags equal the
    never-optimized run byte-for-byte, (b) the index relation is
    row-identical, (c) stream_batch_id survives the rewrite so a
    replayed batch is still a no-op, and (d) the compacted file
    count stays bounded while the fragmented run's grows."""
    from document_parsing_etl_pipeline_spark.catalog import load_table
    from document_parsing_etl_pipeline_spark.sources import (
        tableformat as tf,
    )
    from document_parsing_etl_pipeline_spark.streaming import neardup
    from document_parsing_etl_pipeline_spark.streaming.table_sink import (
        last_committed_batch,
    )

    docs = load_table(
        spark, "/root/testdata/sf0.001", "documents"
    ).select("doc_id", "text")
    batches = [
        docs.where(f"doc_id % 10 = {i}").localCheckpoint()
        for i in range(10)
    ]

    idx_a, fl_a = str(tmp_path / "ia"), str(tmp_path / "fa")
    idx_b, fl_b = str(tmp_path / "ib"), str(tmp_path / "fb")
    neardup.create_index(spark, idx_a)
    neardup.create_index(spark, idx_b)
    n_opts = 0
    for i, b in enumerate(batches):
        assert neardup.ingest_batch(
            spark, b, idx_a, fl_a, i + 1,
            validate_new_ids=False, optimize_cadence=False,
        )
        assert neardup.ingest_batch(
            spark, b, idx_b, fl_b, i + 1,
            validate_new_ids=False, optimize_cadence=False,
        )
        # forced-low floor: with coalesced appends (~1 file/batch)
        # this fires roughly every 3-4 batches
        if neardup.maybe_optimize_index(
            spark, idx_b, min_file_saving=3,
        ):
            n_opts += 1
    assert n_opts >= 2  # the cadence actually exercised

    # (a) flags identical
    fa = sorted(map(tuple, spark.read.parquet(fl_a).collect()))
    fb = sorted(map(tuple, spark.read.parquet(fl_b).collect()))
    assert fa == fb
    # (b) index rows identical
    ra = sorted(map(tuple, tf.read(spark, idx_a).collect()))
    rb = sorted(map(tuple, tf.read(spark, idx_b).collect()))
    assert ra == rb
    # (c) exactly-once watermark survives the rewrites
    assert last_committed_batch(idx_b) == 10
    assert neardup.ingest_batch(
        spark, batches[-1], idx_b, fl_b, 10,
        validate_new_ids=False,
    ) is False
    # (d) compaction bounded the live file count
    files_a = len(tf._load_manifest(idx_a, tf._versions(idx_a)[-1])["files"])
    files_b = len(tf._load_manifest(idx_b, tf._versions(idx_b)[-1])["files"])
    assert files_b < files_a
    # blooms recomputed by the rewrite: membership probe still prunes
    head_b = tf._load_manifest(idx_b, tf._versions(idx_b)[-1])
    assert all("blooms" in e for e in head_b["files"])
    _, fr, _ = tf.scan_membership(
        spark, idx_b, "doc_id", [987654321]
    )
    assert fr == 0


def test_neardup_guard_bloom_prunes_shuffled_ids(tmp_path, spark):
    """Round-10 bloom guard: under SHUFFLED ingest ids every batch's
    [lo,hi] range overlaps every index file, but genuinely-new ids
    miss all per-file blooms, so the guard reads ZERO files — and a
    true duplicate id still raises through the bloom path."""
    from document_parsing_etl_pipeline_spark.catalog import load_table
    from document_parsing_etl_pipeline_spark.sources import (
        tableformat as tf,
    )
    from document_parsing_etl_pipeline_spark.streaming import neardup

    docs = load_table(
        spark, "/root/testdata/sf0.001", "documents"
    ).select("doc_id", "text")
    idx, fl = str(tmp_path / "idx"), str(tmp_path / "fl")
    neardup.create_index(spark, idx)
    # interleaved id slices: every batch spans the whole id range
    for i in range(4):
        b = docs.where(f"doc_id % 10 = {i}").localCheckpoint()
        assert neardup.ingest_batch(
            spark, b, idx, fl, i + 1,
            validate_new_ids=True, optimize_cadence=False,
        )
    # the guard accepted interleaved-but-new ids (no exception above)
    # and the membership scan is what made that cheap: new ids -> 0
    new_ids = [r.doc_id + 1_000_000 for r in docs.limit(5).collect()]
    _, fr, ft = tf.scan_membership(spark, idx, "doc_id", new_ids)
    assert ft > 0 and fr == 0
    # a true duplicate still raises
    dup = docs.where("doc_id % 10 = 2").localCheckpoint()
    import pytest as _pytest
    with _pytest.raises(ValueError, match="contract violation"):
        neardup.ingest_batch(spark, dup, idx, fl, 5)


def test_neardup_replay_discards_orphaned_stage(tmp_path, spark):
    """Round-10 WAP ingest: a crash between stage_append and publish
    leaves an orphaned stage; the replay of that batch must discard
    it and re-ingest cleanly (exactly-once preserved, no stage-name
    collision)."""
    from document_parsing_etl_pipeline_spark.catalog import load_table
    from document_parsing_etl_pipeline_spark.sources import (
        tableformat as tf,
    )
    from document_parsing_etl_pipeline_spark.streaming import neardup
    from document_parsing_etl_pipeline_spark.streaming.table_sink import (
        last_committed_batch,
    )

    docs = load_table(
        spark, "/root/testdata/sf0.001", "documents"
    ).select("doc_id", "text").limit(20).localCheckpoint()
    idx, fl = str(tmp_path / "idx"), str(tmp_path / "fl")
    neardup.create_index(spark, idx)
    # simulate the crashed prior attempt: stage written, never
    # published (watermark still at 0)
    from document_parsing_etl_pipeline_spark.operators.dedup import (
        minhash_buckets,
    )
    bb = minhash_buckets(docs, num_hashes=8, band_size=2)
    tf.stage_append(spark, bb.coalesce(1), idx, "nd-1",
                    extra_meta={"stream_batch_id": 1})
    assert last_committed_batch(idx) < 1  # nothing published yet
    # replay ingests batch 1 cleanly: orphan discarded, publish lands
    assert neardup.ingest_batch(spark, docs, idx, fl, 1) is True
    assert last_committed_batch(idx) == 1
    got = sorted(map(tuple, tf.read(spark, idx).collect()))
    want = sorted(map(tuple, bb.collect()))
    assert got == want


def test_neardup_replay_cleans_orphaned_data_dir(tmp_path, spark):
    """Round-11 (r10 ADVICE): a crash AFTER the stage data write but
    BEFORE the stage JSON lands leaves a data dir no manifest or
    stage references; the retry used to die on mode('error') against
    that dir (the stage-JSON-keyed cleanup never fired) and the
    stream wedged until manual cleanup. stage_append must remove the
    orphan when no stage JSON exists."""
    import os

    from document_parsing_etl_pipeline_spark.catalog import load_table
    from document_parsing_etl_pipeline_spark.sources import (
        tableformat as tf,
    )
    from document_parsing_etl_pipeline_spark.streaming import neardup
    from document_parsing_etl_pipeline_spark.streaming.table_sink import (
        last_committed_batch,
    )

    docs = load_table(
        spark, "/root/testdata/sf0.001", "documents"
    ).select("doc_id", "text").limit(20).localCheckpoint()
    idx, fl = str(tmp_path / "idx"), str(tmp_path / "fl")
    neardup.create_index(spark, idx)
    head_v = tf._versions(idx)[-1]
    # simulate the crash window: data dir written, stage JSON absent
    orphan = os.path.join(idx, "data", f"stage-nd-1-v{head_v}")
    docs.limit(3).coalesce(1).write.parquet(orphan)
    assert not os.path.exists(
        os.path.join(idx, tf._STAGE_DIR, "nd-1.json")
    )
    # retry ingests batch 1 cleanly instead of colliding
    assert neardup.ingest_batch(spark, docs, idx, fl, 1) is True
    assert last_committed_batch(idx) == 1
    # the published index holds exactly the batch's bucket rows —
    # nothing from the orphaned attempt leaked in
    from document_parsing_etl_pipeline_spark.operators.dedup import (
        minhash_buckets,
    )
    got = sorted(map(tuple, tf.read(spark, idx).collect()))
    want = sorted(map(tuple, minhash_buckets(
        docs, num_hashes=8, band_size=2).collect()))
    assert got == want


def test_ingest_batch_joins_flag_thread_on_stage_failure(
    tmp_path, spark, monkeypatch
):
    """Round-11 (r10 ADVICE): if stage_append raises while the flag
    writer thread is in flight, ingest_batch must JOIN the thread
    before propagating — otherwise the foreachBatch retry overwrites
    the same flags path concurrently with the still-running writer.
    After the failure the retry must ingest cleanly."""
    from document_parsing_etl_pipeline_spark.catalog import load_table
    from document_parsing_etl_pipeline_spark.sources import (
        tableformat as tf,
    )
    from document_parsing_etl_pipeline_spark.streaming import neardup
    from document_parsing_etl_pipeline_spark.streaming.table_sink import (
        last_committed_batch,
    )

    docs = load_table(
        spark, "/root/testdata/sf0.001", "documents"
    ).select("doc_id", "text").limit(20).localCheckpoint()
    idx, fl = str(tmp_path / "idx"), str(tmp_path / "fl")
    neardup.create_index(spark, idx)

    import os

    import pytest

    real_stage_append = tf.stage_append

    def boom(*a, **k):
        raise RuntimeError("staged write lost a race")

    monkeypatch.setattr(neardup.tf, "stage_append", boom)
    with pytest.raises(RuntimeError, match="staged write"):
        neardup.ingest_batch(spark, docs, idx, fl, 1)
    # boom raised instantly while the flag write takes a Spark job:
    # the write's _SUCCESS marker existing at exception time proves
    # the thread was joined before the exception escaped (without the
    # join the dir is still mid-write here)
    assert os.path.exists(
        os.path.join(fl, "batch_id=1", "_SUCCESS")
    )
    assert last_committed_batch(idx) < 1
    monkeypatch.setattr(neardup.tf, "stage_append", real_stage_append)
    assert neardup.ingest_batch(spark, docs, idx, fl, 1) is True
    assert last_committed_batch(idx) == 1


def test_aqe_toggle_refcount_survives_concurrent_interleave(spark):
    """Round-13 advice: the per-batch AQE toggle is refcounted per
    session, so the save/set/restore of two concurrent foreachBatch
    sinks composes — the classic interleave (A enters, B enters, A
    exits, B exits) must restore the AMBIENT value, not the 'false' B
    observed while A held the toggle."""
    from document_parsing_etl_pipeline_spark.streaming import neardup

    key = "spark.sql.adaptive.enabled"
    ambient = spark.conf.get(key, "true")
    spark.conf.set(key, "true")
    try:
        a = neardup._aqe_disabled(spark)
        b = neardup._aqe_disabled(spark)
        a.__enter__()
        assert spark.conf.get(key) == "false"
        b.__enter__()          # B sees false; naive code would save it
        assert spark.conf.get(key) == "false"
        a.__exit__(None, None, None)
        # still held by B — must NOT restore yet
        assert spark.conf.get(key) == "false"
        b.__exit__(None, None, None)
        assert spark.conf.get(key) == "true"
        # state fully drained: a fresh cycle works and restores again
        with neardup._aqe_disabled(spark):
            assert spark.conf.get(key) == "false"
        assert spark.conf.get(key) == "true"
    finally:
        spark.conf.set(key, ambient)


def test_neardup_ingest_zero_token_docs_get_flag_rows(tmp_path, spark):
    """The one-checkpoint spine (round 13): zero-token docs can't
    bucket, but they are still batch members — they must get a
    not-dup flag row (the spine rides the keep_empty bucket
    checkpoint), and their NULL-bh rows must never reach the index."""
    from document_parsing_etl_pipeline_spark.sources import (
        tableformat as tf,
    )
    from document_parsing_etl_pipeline_spark.streaming import neardup

    idx, fl = str(tmp_path / "idx"), str(tmp_path / "fl")
    neardup.create_index(spark, idx)
    batch = spark.createDataFrame(
        [(1, "a real document with plenty of words to shingle on "
          * 4),
         (2, ""), (3, None)],
        "doc_id long, text string")
    assert neardup.ingest_batch(spark, batch, idx, fl, 1) is True
    flags = {r.doc_id: (r.is_dup, r.first_match_doc)
             for r in spark.read.parquet(fl).collect()}
    assert set(flags) == {1, 2, 3}
    assert flags[2] == (False, -1) and flags[3] == (False, -1)
    idx_rows = tf.read(spark, idx)
    assert idx_rows.where("bh IS NULL").count() == 0
    assert set(r.doc_id for r in
               idx_rows.select("doc_id").distinct().collect()) == {1}
