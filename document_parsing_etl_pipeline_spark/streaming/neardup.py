"""Streaming incremental near-dup ingest: every document micro-batch
is flagged against the STANDING LSH index, then its own buckets join
the index — so each batch dedups against everything ingested before
it, the continuous-corpus-building loop running as a stream.

The standing index is a snapshot-manifest table
(sources/tableformat.py) holding minhash_buckets rows
(doc_id, band, bh): the batch's bucket keys broadcast and
semi-join-prune the index scan, pair fanout is batch×bucket under the
index-side cap — the corpus is never paired with itself
(operators/dedup.py:lsh_flag_ingest, the one-action fusion of the
lsh_flag_against_index core the batch query q_incremental_dedup
verifies against its oracle; equivalence pinned by
test_lsh_flag_ingest_equals_two_call_composition).

Exactly-once: the index APPEND records stream_batch_id in the
committed manifest (the table_sink recipe) and replayed batches are
skipped; the per-batch flag output writes to a batch_id-keyed
directory with overwrite, so replays rewrite identical bytes instead
of duplicating rows.

Within-batch duplicates are also caught: a batch doc matches earlier
ingested docs AND smaller-id docs of its own batch (the batch's own
buckets stand in as a second index restricted to corpus_doc <
batch_doc), so two copies arriving in ONE micro-batch still dedup.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import lsh_flag_ingest, minhash_buckets
from ..sources import tableformat as tf
from .table_sink import last_committed_batch


def _assert_ids_new(
    spark, bb: DataFrame, index_root: str, lo, hi, ids_fn,
) -> None:
    """Enforce the append contract 'ingest doc_ids are new', in two
    driver-side manifest passes before any data is read:

    1. RANGE: files whose doc_id [min,max] misses the batch's
       [lo, hi] are out — for monotone ingest ids that is ZERO files
       and zero extra jobs (the bounds ride the batch checkpoint as
       an Observation).
    2. BLOOM (round 10): for range-overlapping files — the normal
       state under SHUFFLED ingest ids, where every file overlaps
       every batch — the batch's doc_ids (``ids_fn``, the shared
       bounded collect off the checkpointed bucket relation) probe
       each file's membership bloom. Genuinely-new ids miss every
       bloom (fpr ~1e-6/key/file), so the check costs ~ms of driver
       numpy and ZERO file reads; pre-bloom index tables degrade to
       reading the overlapping files.

    Only files that survive BOTH passes pay the confirming semi-join.
    A violation raises instead of silently duplicating the
    violator's bucket rows."""
    if lo is None:
        return
    pruned, files_read, _ = tf.scan(spark, index_root, "doc_id", lo, hi)
    if files_read == 0:
        return
    pruned, files_read, _ = tf.scan_membership(
        spark, index_root, "doc_id", ids_fn()
    )
    if files_read == 0:
        return
    hits = [
        r["doc_id"]
        for r in pruned.select("doc_id").distinct()
        .join(bb.select("doc_id").distinct(), "doc_id", "left_semi")
        .limit(5).collect()
    ]
    if hits:
        raise ValueError(
            f"near-dup ingest contract violation: doc_ids {hits} are "
            f"already in the standing index {index_root!r}. Appending "
            "would duplicate their bucket rows — use tf.merge_into "
            "for an updating ingest, or fix the id assignment."
        )


def ingest_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    index_root: str,
    flags_root: str,
    batch_id: int,
    validate_new_ids: bool = True,
    optimize_cadence: bool = True,
) -> bool:
    """Flag one micro-batch against the standing index, write the
    flags, and APPEND the batch's buckets to the index exactly once
    (Write-Audit-Publish: both writes overlap, the manifest commit
    lands last). Returns False for replayed or empty batches.

    Runs with AQE disabled for the batch's jobs (restored after):
    every relation here is trigger-bounded with no skew or size
    surprises, so adaptive re-planning buys nothing while its
    per-exchange stage materialization adds ~0.1-0.15 s of driver
    latency per action — measured on the sf0.1 ingest legs, where
    per-batch FIXED latency, not data volume, is the whole cost."""
    if batch_id <= last_committed_batch(index_root):
        return False
    with _aqe_disabled(spark):
        return _ingest_batch_run(
            spark, batch_df, index_root, flags_root, batch_id,
            validate_new_ids, optimize_cadence,
        )


# AQE toggle refcount (round 13, advice): spark.sql.adaptive.enabled
# is SESSION-global, and foreachBatch runs each streaming query's sink
# on its own driver thread — two concurrent ingest streams doing a
# naive save/set/restore interleave ("A saves true, B saves false, A
# restores true, B restores false") would leave AQE permanently off
# for the whole session. The refcount saves the ambient value only on
# the 0→1 transition and restores it only on the 1→0 transition, so
# any number of concurrent ingest batches compose; non-ingest queries
# running concurrently still see AQE off for the overlap window —
# that is inherent to a session-global conf and documented here as
# the contract (run latency-sensitive non-ingest work on a separate
# session if that matters).
import contextlib as _contextlib
import threading as _threading

_AQE_KEY = "spark.sql.adaptive.enabled"
_SHUF_KEY = "spark.sql.shuffle.partitions"
_AQE_LOCK = _threading.Lock()
_AQE_STATE: dict = {}  # id(spark) -> [depth, {key: saved_value}]

# Reduce-side parallelism for the ingest's trigger-bounded jobs
# (round 14): with AQE off (the measured latency choice above) every
# exchange in the bucket/flag plans runs the session default (32+)
# reduce tasks over a few thousand rows — pure scheduling latency at
# any trigger size, because ingest relations are bounded by the
# TRIGGER, not the corpus (the standing index side is read pruned and
# joined bucket-bounded). This is AQE's partition coalescing done
# statically for plans AQE doesn't see; it scales with the trigger,
# not with the core count.
INGEST_SHUFFLE_PARTITIONS = 8


@_contextlib.contextmanager
def _aqe_disabled(spark: SparkSession):
    sid = id(spark)
    with _AQE_LOCK:
        st = _AQE_STATE.setdefault(sid, [0, {}])
        if st[0] == 0:
            st[1] = {
                _AQE_KEY: spark.conf.get(_AQE_KEY, "true"),
                _SHUF_KEY: spark.conf.get(_SHUF_KEY, "200"),
            }
            spark.conf.set(_AQE_KEY, "false")
            spark.conf.set(_SHUF_KEY, str(INGEST_SHUFFLE_PARTITIONS))
        st[0] += 1
    try:
        yield
    finally:
        with _AQE_LOCK:
            st = _AQE_STATE[sid]
            st[0] -= 1
            if st[0] == 0:
                for k, v in st[1].items():
                    spark.conf.set(k, v)
                del _AQE_STATE[sid]


def _ingest_batch_run(
    spark: SparkSession,
    batch_df: DataFrame,
    index_root: str,
    flags_root: str,
    batch_id: int,
    validate_new_ids: bool,
    optimize_cadence: bool,
) -> bool:
    # ONE localCheckpoint per batch (round 13; was two): the batch's
    # count/id-bounds Observation rides the BUCKET checkpoint's
    # action, so parse + bucket + count + bounds are a single job and
    # the former separate batch checkpoint (its own action + local
    # block write) is gone. keep_empty=True makes the checkpointed
    # relation carry the COMPLETE doc_id spine (zero-token docs
    # survive as NULL-bh rows), so the flag join derives its id side
    # from the checkpoint too and the batch source is parsed exactly
    # ONCE per micro-batch — the first cut of this change re-read the
    # source for the id spine, which won at small triggers but lost
    # at 17k-doc JSON triggers where a second parse is a real job
    # (ABAB-measured, see BENCH_NEARDUP_AB_r13).
    from pyspark.sql import Observation

    obs = Observation(f"nd_batch_{batch_id}")
    bb_all = minhash_buckets(
        batch_df.observe(
            obs,
            F.count(F.lit(1)).alias("cnt"),
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
        ),
        keep_empty=True,
    ).localCheckpoint()
    bb = bb_all.where(F.col("bh").isNotNull())
    # the id spine: band 0 holds exactly one row per batch doc
    # (keep_empty included), so this is a shuffle-free filter off the
    # checkpoint — a distinct() here would add an exchange to the
    # flag plan
    batch_ids = bb_all.where(F.col("band") == 0).select("doc_id")
    got = obs.get
    if got["cnt"] == 0:
        return False
    # ONE bounded collect (≤ bands × trigger-size rows off the local
    # checkpoint) feeds BOTH driver-side probes: the new-ids guard's
    # doc_id membership test and the bucket-key pushdown's bh set —
    # lazily, so the monotone fast path (guard range-misses every
    # file, rangeless pushdown skipped) never pays it
    import threading

    pairs = None  # pandas frame of the batch's (doc_id, bh) rows
    pairs_lock = threading.Lock()  # guard + pushdown race on the memo

    def _pairs():
        nonlocal pairs
        with pairs_lock:
            if pairs is not None:
                return pairs
            # no .distinct(): that's a shuffle job on a relation the
            # band fanout already bounds (bands x trigger size) —
            # fetching raw off the local checkpoint and deduping
            # driver-side is strictly cheaper at these sizes. Arrow
            # toPandas, NOT collect(): Row materialization is ~5-10us
            # per row of pure driver Python (measured ~0.4s at a 17k-
            # doc trigger — it scaled linearly with trigger size),
            # the Arrow batch path is ~ms; uniques are numpy
            pairs = bb.select("doc_id", "bh").toPandas()
        return pairs

    def _batch_ids() -> list:
        import numpy as np

        return [int(x) for x in np.unique(_pairs()["doc_id"].to_numpy())]

    def _batch_keys() -> list:
        import numpy as np

        return [str(x) for x in
                np.unique(_pairs()["bh"].to_numpy().astype(str))]

    # START the index append first (round 12): the stage write is
    # independent of the guard, the scan, and the flag join, and
    # Write-Audit-Publish makes the overlap safe — publish happens
    # strictly last, and any failure on either side discards the
    # stage. Threading it here (instead of after the guard) takes the
    # guard + pruned-scan latency off the critical path: the stage's
    # file write + stats/bloom back-read run concurrently with them.
    head = tf._load_manifest(index_root, tf._versions(index_root)[-1])
    has_bh_bloom = "bh" in (head.get("bloom_cols") or [])
    # the file COUNT is the engaged q_manifest_bloom_planner decision
    # — files sized to INDEX_ROWS_PER_FILE (largest rows-per-file
    # whose bloom stays unsaturated) from the batch's exact
    # bucket-row count (cnt × bands, already observed — no extra
    # job), replacing the fixed 4-files-per-batch constant. Pre-bloom
    # indexes keep the bh-clustered append (range stats are their
    # only pruning axis).
    n_files = index_files_for(got["cnt"] * 4)  # 8 hashes, bands of 2
    if has_bh_bloom:
        buckets_out = bb.coalesce(n_files)
    else:
        buckets_out = bb.repartitionByRange(n_files, "bh")
    stage = f"nd-{batch_id}"
    if os.path.exists(
        os.path.join(index_root, tf._STAGE_DIR, f"{stage}.json")
    ):
        tf.discard_stage(index_root, stage)  # crashed prior attempt
    stage_err: list[BaseException] = []

    def _write_stage() -> None:
        try:
            tf.stage_append(
                spark, buckets_out, index_root, stage,
                extra_meta={"stream_batch_id": batch_id},
            )
        except BaseException as e:  # surface on the caller thread
            stage_err.append(e)

    th = threading.Thread(target=_write_stage, daemon=True)
    th.start()
    # the new-ids GUARD runs on its own thread too (round 12): its
    # verdict gates PUBLISH, not the writes — at large shuffled-id
    # triggers its confirming semi-join is a real Spark job, and
    # serializing it before the flag join put it on the critical
    # path. Three concurrent job groups (stage write, guard, flag
    # join + write), one publish barrier; a guard violation still
    # discards the stage and raises before anything becomes visible.
    guard_err: list[BaseException] = []

    def _run_guard() -> None:
        try:
            if validate_new_ids:
                _assert_ids_new(
                    spark, bb, index_root, got["lo"], got["hi"],
                    ids_fn=_batch_ids,
                )
        except BaseException as e:  # surface at the publish barrier
            guard_err.append(e)

    gth = threading.Thread(target=_run_guard, daemon=True)
    gth.start()
    # bucket-key pushdown into the snapshot scan (round-9): the
    # batch's key set — bounded by 4x the trigger size, a
    # driver-safe collect — prunes the index read to files that can
    # hold a matching bucket, keeping per-batch flagging flat as the
    # standing index grows to corpus scale. Round 10: with per-file
    # bh BLOOMS on the index (create_index), scan_keys prunes by
    # MEMBERSHIP, so it stays sharp even though a many-key probe
    # range-hits every file — bloomed indexes engage immediately,
    # range-stats-only ones still wait for PUSHDOWN_MIN_FILES where
    # pruning can beat the collect's fixed cost. Pre-bh-stats index
    # tables fall back to the full read. (``head`` reflects the
    # pre-append snapshot regardless of the in-flight stage thread —
    # stages never touch the main version chain until publish.)
    try:
        if ("bh" in head.get("stats_cols", [])
                and head["files"]
                and (has_bh_bloom
                     or len(head["files"]) > PUSHDOWN_MIN_FILES)):
            keys = _batch_keys()
            index, _, _ = tf.scan_keys(
                spark, index_root, "bh", keys)
        else:
            index = tf.read(spark, index_root)
        # one-pass flagging against index AND own-batch smaller ids
        # (round-8: fuses the former two lsh_flag_against_index
        # actions + reconciliation join into a single action; round
        # 12 cut its plan from 7 exchanges to 2 — the leg's cost is
        # fixed per-stage latency, not data volume)
        flags = lsh_flag_ingest(batch_ids, bb, index)
        # index update is an APPEND, not a MERGE (round-8 throughput
        # fix): ingest doc_ids are new by contract — ENFORCED by
        # _assert_ids_new's stats-pruned check above — and replays
        # are skipped by the stream_batch_id guard, so the CoW
        # MERGE's per-batch key-bounds collect + hit-detection scan
        # over every candidate index file (O(index) reads per batch)
        # bought nothing. An updating ingest should tf.merge_into
        # here and pay the rewrite. The flag write runs on THIS
        # thread, concurrent with the stage thread's file write +
        # stats/bloom back-read (two threads, one session — supported
        # scheduling); the manifest COMMIT happens strictly after
        # both succeed, so the exactly-once contract is unchanged: a
        # crash before publish leaves the watermark at the prior
        # batch and the replay rewrites both outputs (the orphaned
        # stage is discarded on re-entry).
        # one output file: the flag relation is trigger-bounded (one
        # row per batch doc), so a multi-task write is pure commit/
        # listing overhead per batch (guide §6 small files)
        flags.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(flags_root, f"batch_id={batch_id}")
        )
    except BaseException:
        # join BOTH helper threads BEFORE propagating: a foreachBatch
        # retry re-enters ingest_batch and must not race an in-flight
        # stage write on the same stage tag (or a guard job); the
        # landed stage JSON is discarded, never published
        th.join()
        gth.join()
        if os.path.exists(
            os.path.join(index_root, tf._STAGE_DIR, f"{stage}.json")
        ):
            tf.discard_stage(index_root, stage)
        raise
    th.join()
    gth.join()
    if guard_err or stage_err:
        if os.path.exists(
            os.path.join(index_root, tf._STAGE_DIR, f"{stage}.json")
        ):
            tf.discard_stage(index_root, stage)
        if guard_err:
            # a guard violation is a PERSISTENT contract breach (the
            # ids are already indexed), not a transient retryable
            # failure: the batch will never be indexed, so the flag
            # partition written above must not linger as a visible
            # output for a never-committed batch (round 13, advice).
            # Transient failures (stage_err / the except path) keep
            # their flags — the replay overwrites them byte-for-byte.
            import shutil

            shutil.rmtree(
                os.path.join(flags_root, f"batch_id={batch_id}"),
                ignore_errors=True,
            )
        raise (guard_err or stage_err)[0]
    tf.publish_stage(index_root, stage)
    # OPTIMIZE cadence (round 10): a driver-side manifest check per
    # batch, a bh re-cluster only when the planner rule says the
    # rewrite pays back (maybe_optimize_index docstring) — keeps the
    # per-probe live-file count bounded as the index grows without
    # re-introducing per-batch O(index) rewrites
    if optimize_cadence:
        maybe_optimize_index(spark, index_root)
    return True


# rows per appended index file: the ENGAGED decision from
# q_manifest_bloom_planner's grid (round 12, closing the last fixed
# layout constant a planner already grades). Per-file blooms prune by
# membership, and a bloom saturates (bit density > 0.5 — degrades
# toward read-everything) once a file holds more than
# ln2 / (k·-ln(1-1/m)) keys; the decision is the LARGEST candidate
# rows-per-file still below that crossing — fewest files (smallest
# manifest, fewest fixed per-probe file costs) whose blooms stay
# sharp. Derived from the bloom geometry tableformat actually ships
# (_BLOOM_M/_BLOOM_K), not chosen; the planner query renders the full
# decision table for the same grid and test_round_protocol pins the
# two to each other.
BLOOM_NPF_CANDIDATES = (1000, 4000, 16000, 65536)


def bloom_rows_per_file() -> int:
    """Largest candidate rows-per-file below the bloom saturation
    crossing of the table format's (m, k) — the shared implementation
    behind q_manifest_bloom_planner's `saturated` flag and the ingest
    append's file sizing (the _cap_decision pattern: one derivation,
    engaged and graded, so they cannot diverge)."""
    import math

    nsat = int(math.floor(
        math.log(2) / (-math.log(1.0 - 1.0 / tf._BLOOM_M) * tf._BLOOM_K)
    )) + 1
    fit = [n for n in BLOOM_NPF_CANDIDATES if n < nsat]
    return max(fit) if fit else min(BLOOM_NPF_CANDIDATES)


INDEX_ROWS_PER_FILE = bloom_rows_per_file()


def index_files_for(bucket_rows: int) -> int:
    """Files for one batch's index append: ceil(bucket rows /
    INDEX_ROWS_PER_FILE), min 1. A 125-doc trigger (500 bucket rows
    at 4 bands) lands ONE file instead of the former fixed 4 — 4×
    less manifest growth and per-probe fixed file cost — while a
    100k-doc backfill batch fans out to enough files that every
    file's bloom stays unsaturated."""
    return max(1, -(-int(bucket_rows) // INDEX_ROWS_PER_FILE))

# engage the bucket-key pushdown only once the index spans enough
# files that pruning can beat its own cost (one distinct-keys collect
# per batch, bounded by 4x the trigger size): below this every file
# is hit by some key anyway and the plain snapshot read is cheaper —
# measured ~0.2 s/batch of pure tax on a 3-batch local index.
# (Round 10: indexes with per-file bh BLOOMS engage immediately —
# membership pruning is effective at any file count, see ingest_batch.)
PUSHDOWN_MIN_FILES = 64

# OPTIMIZE cadence (round 10, SURVEY §7.15): each batch appends
# index_files_for(bucket rows) files, so per-probe fixed file costs grow
# linearly until a re-cluster compacts them. maybe_optimize_index
# executes the SAME payback rule q_index_optimize_planner derives
# from the data (plans/queries.py q_index_optimize_planner docstring
# has the model): rewrite when the per-probe file saving is large
# enough that the rewrite pays back within OPT_PAYBACK_HORIZON
# probes, at OPT_FTRE rows-equivalent fixed cost per file task.
OPT_TARGET_FILE_ROWS = 100_000
OPT_FTRE = 2000
OPT_PAYBACK_HORIZON = 16
OPT_MIN_FILE_SAVING = 24


def maybe_optimize_index(
    spark: SparkSession,
    index_root: str,
    min_file_saving: int = OPT_MIN_FILE_SAVING,
) -> bool:
    """Re-cluster the standing index on bh iff the planner rule says
    the rewrite pays back: file_saving = n_files -
    ceil(rows / OPT_TARGET_FILE_ROWS), payback_batches =
    ceil(rows / (file_saving * OPT_FTRE)); OPTIMIZE when
    file_saving >= min_file_saving AND payback <= OPT_PAYBACK_HORIZON. The
    min-saving floor is what makes this a CADENCE rather than churn:
    without it the payback test alone fires on every batch of a
    small index (fixed per-file cost dominates tiny row counts) and
    the stream would rewrite the whole index per batch — the exact
    O(index)-per-batch cost the round-8 MERGE→APPEND fix removed.
    At min_file_saving=24 and the planner-derived file sizing
    (index_files_for: 1 file per small trigger batch, more only when
    a batch's blooms would saturate) the rewrite fires every ≥24
    small batches, amortizing to <=1/24 of the index per batch while
    per-probe file counts stay bounded by opt_files + 24. The decision is a driver-side manifest pass
    (zero jobs when it declines); the OPTIMIZE itself is
    row-preserving, carries stream_batch_id, and recomputes per-file
    stats AND blooms, so exactly-once replay and both pruning probes
    survive it (tested). Returns True iff it rewrote."""
    head = tf._load_manifest(index_root, tf._versions(index_root)[-1])
    n_files = len(head["files"])
    rows = sum(e["rows"] for e in head["files"])
    if rows == 0:
        return False
    opt_files = -(-rows // OPT_TARGET_FILE_ROWS)
    saving = n_files - opt_files
    if saving < min_file_saving:
        return False
    payback = -(-rows // (saving * OPT_FTRE))
    if payback > OPT_PAYBACK_HORIZON:
        return False
    tf.optimize_table(
        spark, index_root, OPT_TARGET_FILE_ROWS, cluster_by="bh"
    )
    return True


def create_index(spark: SparkSession, index_root: str) -> int:
    """Create an empty standing LSH index table (minhash_buckets
    schema) ready for streaming ingest. Stats on doc_id power the
    new-ids guard's range pruning; stats on bh power the per-batch
    bucket-key pushdown; per-file BLOOMS on both (round 10) keep
    either probe sharp when range stats go wide — shuffled ingest
    ids, or a many-key bucket probe against bh-clustered files."""
    seed = spark.createDataFrame(
        [], "doc_id long, band int, bh string"
    )
    return tf.create_table(spark, seed, index_root,
                           stats_cols=["doc_id", "bh"],
                           bloom_cols=["doc_id", "bh"])


def stream_neardup_ingest(
    spark: SparkSession,
    doc_stream: DataFrame,
    index_root: str,
    flags_root: str,
    checkpoint_dir: str,
):
    """Start the foreachBatch near-dup ingest over a document stream
    (needs doc_id + text columns), run with an available-now trigger.
    The index table must exist (create_index). Returns the
    StreamingQuery.

    Flags-path read contract: a flag partition at
    ``flags_root/batch_id=N`` is AUTHORITATIVE only for
    N <= last_committed_batch(index_root) — the index manifest's
    stream_batch_id watermark is the commit point, and a partition
    above it belongs to an in-flight (or crashed, soon-replayed)
    batch whose bytes may still change. Guard violations additionally
    delete their flag partition outright (the batch will never
    commit), so watermark-honoring readers never see it either way."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch(spark, batch_df, index_root, flags_root, batch_id)

    return (
        doc_stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
