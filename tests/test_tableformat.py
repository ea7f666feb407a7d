import os

import pytest

from conftest import append_published

from document_parsing_etl_pipeline_spark.sources import tableformat as tf


@pytest.fixture()
def table(spark, tmp_path):
    root = str(tmp_path / "tbl")
    df = spark.range(0, 100).selectExpr(
        "id AS doc_id", "concat('t', id) AS text", "id % 7 AS grp"
    ).repartition(4, "doc_id")
    tf.create_table(spark, df, root, stats_cols=["doc_id"])
    return root


def test_create_append_and_time_travel(spark, table):
    assert tf.read(spark, table).count() == 100
    more = spark.range(100, 150).selectExpr(
        "id AS doc_id", "concat('t', id) AS text", "id % 7 AS grp"
    )
    v2 = append_published(spark, more, table)
    assert tf.read(spark, table).count() == 150
    # old snapshot still intact
    assert tf.read(spark, table, version=1).count() == 100
    assert tf.read(spark, table, version=v2).count() == 150


def test_merge_rewrites_only_hit_files(spark, table):
    n_before = len(tf._load_manifest(table, 1)["files"])
    upd = spark.createDataFrame(
        [(3, "updated", 3), (999, "new", 5)],
        "doc_id long, text string, grp long",
    )
    tf.merge_into(spark, upd, table, key="doc_id")
    head = tf._load_manifest(table, 2)
    cur = tf.read(spark, table)
    assert cur.count() == 101
    rows = {r.doc_id: r.text for r in cur.where("doc_id in (3, 4, 999)").collect()}
    assert rows[3] == "updated" and rows[999] == "new"
    assert rows[4] == "t4"  # neighbors untouched
    # v1 time travel still shows the original value
    old = tf.read(spark, table, version=1)
    assert old.where("doc_id = 3").first().text == "t3"
    assert old.count() == 100
    # doc_id 0..99 round-robined over 4 files -> every file holds key 3?
    # repartition(4, doc_id) hashes: only files containing key 3 rewritten,
    # others carried by reference (path unchanged from v1)
    v1_paths = {e["path"] for e in tf._load_manifest(table, 1)["files"]}
    carried = {e["path"] for e in head["files"]} & v1_paths
    assert len(carried) == n_before - 1  # exactly one file held doc_id=3


def test_scan_prunes_files_by_manifest_stats(spark, tmp_path):
    root = str(tmp_path / "tbl2")
    # range-partitioned by doc_id -> disjoint per-file key ranges
    df = spark.range(0, 1000).selectExpr("id AS doc_id", "id * 2 AS v") \
        .repartitionByRange(8, "doc_id")
    tf.create_table(spark, df, root, stats_cols=["doc_id"])
    out, files_read, files_total = tf.scan(spark, root, "doc_id", 100, 120)
    assert files_total == 8 and files_read <= 2
    got = sorted(r.doc_id for r in out.collect())
    assert got == list(range(100, 121))
    # fully out-of-range scan reads zero files
    _, zero_read, _ = tf.scan(spark, root, "doc_id", 5000, 6000)
    assert zero_read == 0


def test_commit_is_atomic_per_version(spark, table):
    # simulate a concurrent writer landing the same version number
    import json
    m = tf._load_manifest(table, 1)
    with pytest.raises(FileExistsError):
        fd = os.open(tf._manifest_path(table, 1),
                     os.O_WRONLY | os.O_CREAT | os.O_EXCL)
        os.write(fd, json.dumps(m).encode())


def test_schema_evolution_append_new_column(spark, table):
    evolved = spark.range(200, 210).selectExpr(
        "id AS doc_id", "concat('t', id) AS text", "id % 7 AS grp",
        "cast(id AS double) / 1000 AS quality",
    )
    append_published(spark, evolved, table)
    head = tf.read(spark, table)
    assert "quality" in head.columns
    rows = {r.doc_id: r.quality for r in head.collect()}
    assert rows[205] == 0.205          # new rows carry the column
    assert rows[5] is None             # pre-evolution rows read as NULL
    # time travel to the pre-evolution snapshot: column absent
    assert "quality" not in tf.read(spark, table, version=1).columns


def test_optimize_compacts_small_files(spark, tmp_path):
    root = str(tmp_path / "opt")
    base = spark.range(0, 200).selectExpr(
        "id AS doc_id", "concat('t', id) AS text", "(id * 37) % 100 AS grp"
    ).repartition(10)
    tf.create_table(spark, base, root, stats_cols=["doc_id", "grp"])
    n_before = len(tf._load_manifest(root, 1)["files"])
    assert n_before >= 8  # many small files

    v = tf.optimize_table(spark, root, target_file_rows=25)
    head = tf._load_manifest(root, v)
    assert head["operation"] == "optimize"
    assert len(head["files"]) == 8  # 200 rows / 25 per file
    # content identical, pre-optimize snapshot intact
    assert sorted(r.doc_id for r in tf.read(spark, root).collect()) == \
        list(range(200))
    assert tf.read(spark, root, version=1).count() == 200


def test_merge_into_empty_table_uses_recorded_schema(spark, tmp_path):
    # the CDC-sink bootstrap pattern: create a typed EMPTY table, then
    # MERGE the first batch in. Regression: read() of an empty
    # snapshot used a hardcoded fallback schema and broke the merge.
    root = str(tmp_path / "empty_tbl")
    seed = spark.createDataFrame(
        [], "user_id long, state string, seq long"
    )
    tf.create_table(spark, seed, root, stats_cols=["user_id"])
    empty = tf.read(spark, root)
    assert empty.columns == ["user_id", "state", "seq"]
    assert empty.count() == 0

    first = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 11)], "user_id long, state string, seq long"
    )
    tf.merge_into(spark, first, root, key="user_id")
    got = {r.user_id: r.state for r in tf.read(spark, root).collect()}
    assert got == {1: "a", 2: "b"}


def test_merge_into_empty_updates_is_safe(spark, table):
    # streaming foreachBatch delivers zero-row batches; merge_into
    # must not compare None key bounds against file stats
    empty = spark.createDataFrame([], "doc_id long, text string, grp long")
    v = tf.merge_into(spark, empty, table, key="doc_id")
    head = tf._load_manifest(table, v)
    v1_paths = {e["path"] for e in tf._load_manifest(table, 1)["files"]}
    # every original file carried by reference, nothing rewritten
    assert v1_paths <= {e["path"] for e in head["files"]}
    assert tf.read(spark, table).count() == 100


def test_merge_batch_short_circuits_empty_batch(spark, table):
    from document_parsing_etl_pipeline_spark.streaming import table_sink as ts

    empty = spark.createDataFrame([], "doc_id long, text string, grp long")
    v_before = tf._versions(table)[-1]
    assert ts.merge_batch(spark, empty, table, "doc_id", "grp", 0) is False
    assert tf._versions(table)[-1] == v_before  # no commit
    assert ts.last_committed_batch(table) == -1


def test_stream_batch_id_survives_maintenance_commits(spark, table):
    # exactly-once watermark must ride along merge/optimize/append
    # commits after the one that first recorded it
    from document_parsing_etl_pipeline_spark.streaming import table_sink as ts

    upd = spark.createDataFrame(
        [(3, "u", 3)], "doc_id long, text string, grp long"
    )
    assert ts.merge_batch(spark, upd, table, "doc_id", "grp", 7) is True
    tf.merge_into(spark, upd, table, key="doc_id")
    tf.optimize_table(spark, table, target_file_rows=50)
    more = spark.range(500, 510).selectExpr(
        "id AS doc_id", "concat('t', id) AS text", "id % 7 AS grp"
    )
    append_published(spark, more, table)
    assert ts.last_committed_batch(table) == 7
    # a checkpoint replay of batch 7 is still skipped
    assert ts.merge_batch(spark, upd, table, "doc_id", "grp", 7) is False


def test_scan_merges_schemas_across_evolution(spark, tmp_path):
    root = str(tmp_path / "scan_evo")
    base = spark.range(0, 100).selectExpr("id AS doc_id", "id * 2 AS v") \
        .repartitionByRange(4, "doc_id")
    tf.create_table(spark, base, root, stats_cols=["doc_id"])
    evolved = spark.range(100, 200).selectExpr(
        "id AS doc_id", "id * 2 AS v", "cast(id AS double) AS quality"
    ).repartitionByRange(4, "doc_id")
    append_published(spark, evolved, root)
    # a scan spanning pre- and post-evolution files must surface the
    # evolved column (NULL for old files), same as read()
    out, files_read, _ = tf.scan(spark, root, "doc_id", 90, 110)
    assert "quality" in out.columns
    rows = {r.doc_id: r.quality for r in out.collect()}
    assert rows[95] is None and rows[105] == 105.0
    # empty-prune branch returns the same schema
    empty, zero, _ = tf.scan(spark, root, "doc_id", 10_000, 20_000)
    assert zero == 0 and set(empty.columns) == set(out.columns)


def test_append_narrower_df_does_not_narrow_recorded_schema(spark, table):
    # table has (doc_id, text, grp); append a df lacking `grp`
    narrow = spark.range(300, 310).selectExpr(
        "id AS doc_id", "concat('t', id) AS text"
    )
    append_published(spark, narrow, table)
    head = tf._load_manifest(table, tf._versions(table)[-1])
    import json as _json
    names = [f["name"] for f in _json.loads(head["schema"])["fields"]]
    assert names == ["doc_id", "text", "grp"]
    got = tf.read(spark, table)
    assert set(got.columns) == {"doc_id", "text", "grp"}
    assert got.where("doc_id = 305").first().grp is None


def test_interleave_bits_nd_matches_sql_oracle(spark):
    import duckdb

    from document_parsing_etl_pipeline_spark.operators.layout import (
        interleave_bits_nd, interleave_bits_nd_sql,
    )

    df = spark.range(0, 256).selectExpr(
        "id % 16 AS a", "(id * 7) % 16 AS b", "(id * 3) % 16 AS c"
    )
    got = [
        r.z for r in df.select(
            interleave_bits_nd(["a", "b", "c"], 4).alias("z")
        ).orderBy("z").collect()
    ]
    frag = interleave_bits_nd_sql(["a", "b", "c"], 4)
    want = [
        r[0] for r in duckdb.sql(
            "SELECT " + frag + " AS z FROM ("
            "SELECT i % 16 AS a, (i * 7) % 16 AS b, (i * 3) % 16 AS c "
            "FROM range(256) t(i)) ORDER BY z"
        ).fetchall()
    ]
    assert got == want


def test_write_audit_publish_flow(spark, table):
    good = spark.createDataFrame(
        [(600, "staged row", 1)], "doc_id long, text string, grp long"
    )
    out = tf.stage_append(spark, good, table, stage="nightly")
    # main is untouched while staged
    assert tf.read(spark, table).where("doc_id = 600").count() == 0
    v = tf.publish_stage(table, "nightly")
    assert v == out["base_version"] + 1
    assert not os.path.exists(tf._stage_path(table, "nightly"))
    # the published candidate is the base snapshot plus the staged rows
    published = tf.read(spark, table, version=v)
    base = tf.read(spark, table, version=out["base_version"])
    assert published.count() == 101 and base.count() == 100
    assert [tuple(r) for r in published.exceptAll(base).collect()] == [
        (600, "staged row", 1)]


def test_publish_refuses_on_base_drift_and_discard_removes_files(
    spark, table
):
    import os as _os

    import pytest as _pytest

    staged = spark.createDataFrame(
        [(700, "candidate", 1)], "doc_id long, text string, grp long"
    )
    tf.stage_append(spark, staged, table, stage="wap")
    # main advances underneath the stage
    append_published(spark, spark.createDataFrame(
        [(701, "interleaved", 2)], "doc_id long, text string, grp long"
    ), table)
    with _pytest.raises(RuntimeError, match="re-stage"):
        tf.publish_stage(table, "wap")
    removed = tf.discard_stage(table, "wap")
    assert removed >= 1
    assert not _os.path.exists(tf._stage_path(table, "wap"))
    # the interleaved commit is intact; candidate rows never published
    cur = tf.read(spark, table)
    assert cur.where("doc_id = 701").count() == 1
    assert cur.where("doc_id = 700").count() == 0


def test_scan_keys_prunes_on_clustered_table(spark, tmp_path):
    """scan_keys (round-9): manifest IN-list pruning on a clustered
    column — keys inside one file's range read just that file; keys
    outside every range read nothing; the unpruned rows are a superset
    of exact matches (stats pruning is I/O, not the predicate)."""
    root = str(tmp_path / "t")
    df = spark.range(0, 1000).selectExpr(
        "id AS k", "concat('v', id) AS v"
    ).repartitionByRange(8, "k")
    tf.create_table(spark, df, root, stats_cols=["k"])

    got, files_read, files_total = tf.scan_keys(spark, root, "k", [3, 7])
    assert files_total == 8 and files_read == 1
    assert {r.k for r in got.where("k in (3, 7)").collect()} == {3, 7}

    # keys beyond every file range: zero files, empty relation
    got0, fr0, ft0 = tf.scan_keys(spark, root, "k", [5000])
    assert fr0 == 0 and ft0 == 8 and got0.count() == 0

    # empty key set: zero files
    gote, fre, _ = tf.scan_keys(spark, root, "k", [])
    assert fre == 0 and gote.count() == 0

    # keys spanning several ranges read only the covering files
    _, frm, _ = tf.scan_keys(spark, root, "k", [10, 990])
    assert frm == 2


def test_scan_degrades_to_full_read_without_stats(spark, tmp_path):
    """Round-10 (r09 advisory): scan/scan_keys on a column with NO
    recorded stats (older commits under a different stats_cols set)
    must read every such file — pruning degrades to correctness, the
    public API never raises KeyError."""
    root = str(tmp_path / "t")
    df = spark.range(0, 100).selectExpr(
        "id AS k", "id % 10 AS v"
    ).repartitionByRange(4, "k")
    tf.create_table(spark, df, root, stats_cols=["k"])

    # probe a column that has no stats: all files conservatively read
    got, fr, ft = tf.scan(spark, root, "v", 3, 3)
    assert fr == ft == 4
    assert got.count() == 10  # the row filter still applies

    gk, frk, ftk = tf.scan_keys(spark, root, "v", [3])
    assert frk == ftk == 4
    assert gk.where("v = 3").count() == 10


# ------------------------------------------------- per-file blooms


@pytest.fixture()
def bloom_table(spark, tmp_path):
    root = str(tmp_path / "btbl")
    df = spark.range(0, 400).selectExpr(
        "id AS doc_id", "md5(cast(id % 50 AS string)) AS bh"
    ).repartition(4, "doc_id")
    tf.create_table(
        spark, df, root, stats_cols=["doc_id", "bh"],
        bloom_cols=["doc_id", "bh"],
    )
    return root


def test_bloom_positions_match_spark_md5(spark):
    # the cross-engine contract: Python bloom_positions must equal
    # the 16-bit slices of Spark's md5(cast(col as string)) — over
    # EVERY type create_table admits as a bloom column
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(7, 7, 7, 7, "s-7"), (123, 123, 12345, 123456789, "x y")],
        "kb tinyint, ks smallint, ki int, kl long, kstr string",
    )
    for c in df.columns:
        rows = df.select(
            F.col(c).alias("k"),
            F.md5(F.col(c).cast("string")).alias("h"),
        ).collect()
        for r in rows:
            expect = [int(r["h"][4 * j:4 * j + 4], 16) for j in range(8)]
            assert tf.bloom_positions(r["k"]) == expect, c


def test_create_table_rejects_unsafe_bloom_types(spark, tmp_path):
    # boolean/double/timestamp stringify differently in Python vs
    # Spark ('True' vs 'true', '1e-07' vs '1.0E-7') — a bloom on such
    # a column would false-negative every probe, so create_table must
    # refuse it instead of silently corrupting scan_membership
    df = spark.createDataFrame(
        [(1, True, 1e-7)], "doc_id long, flag boolean, score double"
    )
    for bad in ("flag", "score"):
        with pytest.raises(ValueError, match="bloom_cols"):
            tf.create_table(
                spark, df, str(tmp_path / f"t_{bad}"),
                stats_cols=["doc_id"], bloom_cols=[bad],
            )
    # integral + string columns stay accepted
    tf.create_table(
        spark, df.selectExpr("doc_id", "cast(doc_id as string) AS s"),
        str(tmp_path / "t_ok"), stats_cols=["doc_id"],
        bloom_cols=["doc_id", "s"],
    )


def test_scan_keys_bloom_prunes_when_stats_missing(spark, tmp_path):
    # a column outside stats_cols but inside bloom_cols: scan_keys
    # used to read every file (missing stats returned True before the
    # bloom check); it must fall through to the bloom like
    # scan_membership does
    root = str(tmp_path / "nostats")
    df = spark.range(0, 200).selectExpr(
        "id AS doc_id", "md5(cast(id AS string)) AS bh"
    ).repartition(4, "doc_id")
    tf.create_table(
        spark, df, root, stats_cols=["doc_id"], bloom_cols=["bh"],
    )
    import hashlib

    absent = [hashlib.md5(f"zz{i}".encode()).hexdigest() for i in range(20)]
    _, fr, ft = tf.scan_keys(spark, root, "bh", absent)
    assert ft == 4 and fr == 0
    present = [hashlib.md5(b"42").hexdigest()]
    got, fr, _ = tf.scan_keys(spark, root, "bh", present)
    assert fr >= 1
    assert got.where("doc_id = 42").count() == 1


def test_scan_membership_prunes_absent_keys(spark, bloom_table):
    # present key: at least the holding file is read, row comes back
    df, fr, ft = tf.scan_membership(spark, bloom_table, "doc_id", [123])
    assert ft == 4 and fr >= 1
    assert df.where("doc_id = 123").count() == 1
    # absent keys: every bloom misses -> zero files read
    df, fr, _ = tf.scan_membership(
        spark, bloom_table, "doc_id", [10_000_001, 10_000_002]
    )
    assert fr == 0 and df.count() == 0
    # string column probes work the same way
    import hashlib

    present = hashlib.md5(b"7").hexdigest()
    _, fr, _ = tf.scan_membership(spark, bloom_table, "bh", [present])
    assert fr >= 1
    _, fr, _ = tf.scan_membership(spark, bloom_table, "bh", ["no-such"])
    assert fr == 0


def test_scan_membership_degrades_without_blooms(spark, table):
    # a table created WITHOUT bloom_cols must read range-overlapping
    # files (conservative), never skip
    df, fr, ft = tf.scan_membership(spark, table, "doc_id", [3])
    assert fr >= 1
    assert df.where("doc_id = 3").count() == 1


def test_scan_keys_uses_blooms_when_ranges_are_wide(spark, tmp_path):
    # files clustered on doc_id -> every file's bh [min,max] spans the
    # hex space, so a multi-key bh probe RANGE-hits all files; the
    # bloom must still prune files not holding any probed bucket
    root = str(tmp_path / "wtbl")
    df = spark.range(0, 400).selectExpr(
        "id AS doc_id", "md5(cast(id AS string)) AS bh"
    )
    tf.create_table(
        spark, df.repartitionByRange(4, "doc_id"), root,
        stats_cols=["doc_id", "bh"], bloom_cols=["bh"],
    )
    import hashlib

    absent = [hashlib.md5(f"x{i}".encode()).hexdigest() for i in range(50)]
    _, fr, ft = tf.scan_keys(spark, root, "bh", absent)
    assert ft == 4 and fr == 0
    present = [hashlib.md5(b"42").hexdigest()]
    got, fr, _ = tf.scan_keys(spark, root, "bh", present)
    assert fr == 1
    assert got.where("doc_id = 42").count() == 1


def test_blooms_maintained_across_append_merge_optimize(spark, bloom_table):
    more = spark.range(1000, 1050).selectExpr(
        "id AS doc_id", "md5(cast(id AS string)) AS bh"
    )
    append_published(spark, more, bloom_table)
    _, fr, _ = tf.scan_membership(spark, bloom_table, "doc_id", [1025])
    assert fr >= 1
    # merge rewrites keep blooms on rewritten + new files
    upd = spark.createDataFrame(
        [(1025, "zz"), (7777, "new")], "doc_id long, bh string"
    )
    tf.merge_into(spark, upd, bloom_table, key="doc_id")
    head = tf._load_manifest(bloom_table, tf._versions(bloom_table)[-1])
    assert all("blooms" in e for e in head["files"])
    _, fr, _ = tf.scan_membership(spark, bloom_table, "doc_id", [7777])
    assert fr >= 1
    # optimize re-clusters and recomputes blooms
    tf.optimize_table(spark, bloom_table, 200, cluster_by="bh")
    head = tf._load_manifest(bloom_table, tf._versions(bloom_table)[-1])
    assert all("blooms" in e for e in head["files"])
    got, fr, _ = tf.scan_membership(spark, bloom_table, "doc_id", [7777])
    assert got.where("doc_id = 7777").count() == 1
    _, fr, _ = tf.scan_membership(spark, bloom_table, "doc_id", [424242])
    assert fr == 0


def test_bloom_null_handling(spark, tmp_path):
    root = str(tmp_path / "ntbl")
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c")], "doc_id long, bh string"
    ).coalesce(1)
    tf.create_table(
        spark, df, root, stats_cols=["doc_id"], bloom_cols=["bh"],
    )
    # a NULL probe must hit the file that holds a NULL
    _, fr, _ = tf.scan_membership(spark, root, "bh", [None])
    assert fr == 1
    # and a NULL probe against a null-free file misses
    root2 = str(tmp_path / "ntbl2")
    tf.create_table(
        spark,
        spark.createDataFrame([(1, "a")], "doc_id long, bh string"),
        root2, stats_cols=["doc_id"], bloom_cols=["bh"],
    )
    _, fr, _ = tf.scan_membership(spark, root2, "bh", [None])
    assert fr == 0


def test_bloom_sidecar_layout_and_manifest_size(spark, bloom_table):
    """Round 11 (puffin swap): bitmaps live in one per-commit sidecar
    JSON next to the data files; the manifest entry keeps only
    has_null + the sidecar ref + content hash. At ~10k files the old
    inline form was 8 KiB × files × cols of manifest — the manifest
    must stay KB-sized regardless of file count."""
    import os

    head = tf._load_manifest(bloom_table, tf._versions(bloom_table)[-1])
    refs = set()
    for e in head["files"]:
        for c, b in e["blooms"].items():
            assert "b64" not in b, "bitmap must not be inline"
            assert "ref" in b and "sha256" in b
            refs.add(b["ref"])
            assert os.path.exists(os.path.join(bloom_table, b["ref"]))
    assert refs  # at least one sidecar
    # 4 files x 2 bloom cols inline would be ~87 KiB of base64; the
    # manifest with refs stays tiny
    msize = os.path.getsize(
        tf._manifest_path(bloom_table, head["version"]))
    assert msize < 8_000, msize


def test_bloom_sidecar_corruption_refuses_to_prune(spark, tmp_path):
    import json
    import os

    root = str(tmp_path / "ctbl")
    df = spark.range(0, 50).selectExpr(
        "id AS doc_id", "md5(cast(id AS string)) AS bh")
    tf.create_table(spark, df.coalesce(1), root,
                    stats_cols=["doc_id"], bloom_cols=["bh"])
    head = tf._load_manifest(root, tf._versions(root)[-1])
    ref = head["files"][0]["blooms"]["bh"]["ref"]
    side_path = os.path.join(root, ref)
    with open(side_path) as f:
        side = json.load(f)
    # flip the bitmap: same shape, different bytes
    k = next(iter(side))
    side[k]["bh"]["b64"] = "A" * len(side[k]["bh"]["b64"])
    with open(side_path, "w") as f:
        json.dump(side, f)
    tf._SIDECAR_CACHE.clear()
    with pytest.raises(ValueError, match="sidecar"):
        tf.scan_membership(spark, root, "bh", ["zz"])


def test_sidecar_cache_rechecks_sha_on_path_reuse(spark, tmp_path):
    """A cache hit must be honored only when the manifest ref's sha256
    matches the cached entry's verified sha: a sidecar path rewritten
    with different bytes (stage-retry reusing data/stage-{s}-vN/) must
    be re-read and re-verified, never served stale from the cache."""
    import hashlib
    import json
    import os

    root = str(tmp_path / "shatbl")
    df = spark.range(0, 50).selectExpr(
        "id AS doc_id", "md5(cast(id AS string)) AS bh")
    tf.create_table(spark, df.coalesce(1), root,
                    stats_cols=["doc_id"], bloom_cols=["bh"])
    head = tf._load_manifest(root, tf._versions(root)[-1])
    ref = dict(head["files"][0]["blooms"]["bh"])
    side_path = os.path.normpath(os.path.join(root, ref["ref"]))

    tf._SIDECAR_CACHE.clear()
    first = tf._load_bloom_sidecar(root, ref)
    assert side_path in tf._SIDECAR_CACHE

    # rewrite the SAME path with different (valid) bytes, as a stage
    # retry that reuses the stage dir would
    with open(side_path) as f:
        side = json.load(f)
    k = next(iter(side))
    side[k]["bh"]["b64"] = "A" * len(side[k]["bh"]["b64"])
    raw = json.dumps(side).encode()
    with open(side_path, "wb") as f:
        f.write(raw)
    new_ref = {"ref": ref["ref"], "sha256": hashlib.sha256(raw).hexdigest()}

    # a ref carrying the NEW sha must get the new bytes (cache miss +
    # re-verify), not the stale cached dict
    fresh = tf._load_bloom_sidecar(root, new_ref)
    assert fresh != first
    assert fresh[k]["bh"]["b64"] == "A" * len(side[k]["bh"]["b64"])
    # and a ref still carrying the OLD sha now fails verification
    # loudly instead of silently serving either version from cache
    tf._SIDECAR_CACHE.clear()
    with pytest.raises(ValueError, match="sidecar"):
        tf._load_bloom_sidecar(root, ref)


def test_bloom_popcount_exact_prunability_on_key_repeating_table(
    spark, tmp_path,
):
    """Round-13 sidecar-POPCOUNT fix: on a key-REPEATING table (the
    LSH index shape: few distinct keys, many rows each) the analytic
    row-count density estimate overshoots and skips the bloom, while
    the manifest's measured nbits keeps it engaged — pruning decided
    from measured bits, not modeled rows."""
    root = str(tmp_path / "reptbl")
    # 20_000 rows but only 40 distinct keys per file: estimated
    # density from rows ~0.91 (unprunable for any probe); measured
    # nbits <= 40*8 = 320 bits -> density ~0.005 (sharp)
    df = spark.range(0, 40_000).selectExpr(
        "id AS doc_id",
        "concat('k', cast(pmod(id, 80) AS string)) AS bh",
    ).repartitionByRange(2, "bh")
    tf.create_table(spark, df, root,
                    stats_cols=["doc_id"], bloom_cols=["bh"])
    head = tf._load_manifest(root, tf._versions(root)[-1])
    for e in head["files"]:
        b = e["blooms"]["bh"]
        assert 0 < b["nbits"] <= 80 * tf._BLOOM_K
        # measured: prunable even for a 100-key probe
        assert tf._bloom_prunable(e, "bh", 100)
        # the pre-r13 estimate (rows-based) refuses the same probe —
        # drop nbits to prove the fallback is what used to happen
        no_nbits = dict(e, blooms={"bh": {
            k: v for k, v in b.items() if k != "nbits"
        }})
        assert not tf._bloom_prunable(no_nbits, "bh", 100)
    # and the engaged gate actually prunes: absent keys read 0 files
    _, fr, ft = tf.scan_keys(
        spark, root, "bh", [f"x{i}" for i in range(100)]
    )
    assert ft == 2 and fr == 0
    # present key reads only its file(s), rows exact
    got, fr, _ = tf.scan_keys(spark, root, "bh", ["k7"])
    assert 1 <= fr <= 2
    assert got.where("bh = 'k7'").count() == 500


def test_stage_json_write_is_atomic_and_exclusive(spark, table):
    more = spark.range(100, 120).selectExpr(
        "id AS doc_id", "concat('t', id) AS text", "id % 7 AS grp"
    )
    tf.stage_append(spark, more, table, "s1")
    # no tmp leftovers next to the stage manifest
    sdir = os.path.join(table, tf._STAGE_DIR)
    assert sorted(os.listdir(sdir)) == ["s1.json"]
    # the exactly-one-winner contract survives the tmp+link rewrite:
    # re-staging the same tag from a NEW base (different data dir, so
    # only the manifest link can collide) raises instead of clobbering
    # the in-flight stage's manifest
    append_published(spark, more.limit(1), table)
    with pytest.raises(FileExistsError):
        tf.stage_append(spark, more, table, "s1")
    assert sorted(os.listdir(sdir)) == ["s1.json"]  # tmp cleaned up
    import json as _json
    with open(tf._stage_path(table, "s1")) as f:
        assert _json.load(f)["base_version"] == 1  # original intact
    with pytest.raises(RuntimeError, match="re-stage"):
        tf.publish_stage(table, "s1")  # base drifted (the append)
    tf.discard_stage(table, "s1")
