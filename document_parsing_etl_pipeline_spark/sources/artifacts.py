"""Materialized dedup artifacts through the table format.

The near-dup pair relations, component maps, and the similarity-join
index are computed once per CORPUS SNAPSHOT and consumed by many
queries (dedup_components, q_dedup_cluster_sizes,
q_incremental_components, ...). Locally that sharing is a
localCheckpoint memo keyed by (session, sf_dir) in plans/queries.py —
correct, but session-scoped: a new session rebuilds everything. The
deployment story (SURVEY §4 "incremental dedup maintenance") is a
snapshot TABLE per artifact: written once by the dedup pass through
sources/tableformat (atomic manifests, time travel, expire/OPTIMIZE),
read by every later session until the corpus snapshot changes.

Set ``SPARK_GRAFT_ARTIFACTS=<dir>`` to turn the memos into table-
format tables under ``<dir>/<corpus-slug>/<artifact>``:

- first request computes the artifact and commits it as a table;
- later requests — INCLUDING after a session restart — read the
  committed snapshot instead of recomputing (tested in
  tests/test_dedup_similarity.py);
- every commit records an ``artifact_fingerprint`` = md5 of the
  source-table file stats (size + mtime_ns per file) and the build
  parameter string. A later request whose fingerprint differs —
  corpus regenerated in place, or dedup parameters changed — REPLACES
  the table with a fresh build instead of silently serving stale
  rows; a table written before fingerprints existed counts as stale
  (fail loud on the side of rebuilding).
- ``optimize_table`` applies like any table.

Unset (the default, and what the driver's correctness/bench runs
use), load_or_build falls back to the in-session localCheckpoint
memo: zero behavior change, no hidden disk state.

The streaming near-dup ingest (streaming/neardup.py) already keeps
its standing LSH index in a table-format table; this module brings
the BATCH artifacts to the same story.
"""

from __future__ import annotations

import hashlib
import os
import re
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

from . import tableformat as tf


def artifacts_root() -> str | None:
    """The artifact store root, or None for session-memo mode."""
    return os.environ.get("SPARK_GRAFT_ARTIFACTS") or None


def _slug(sf_dir: str) -> str:
    return re.sub(r"[^A-Za-z0-9._-]+", "_", sf_dir.strip("/"))


def table_root(base: str, sf_dir: str, name: str) -> str:
    return os.path.join(base, _slug(sf_dir), name)


def exists(root: str) -> bool:
    return bool(tf._versions(root))


def fingerprint_parts(sf_dir: str, params: str) -> list[str]:
    """The per-file stat lines an artifact's fingerprint (_digest)
    hashes: one line per DATA file of the source ``documents`` table
    (size + mtime_ns) plus the build-parameter line. Metadata files
    (_SUCCESS, .crc, ...) are excluded — they carry no row identity,
    and a writer touching _SUCCESS on an append would otherwise make
    every append look like an in-place rewrite and defeat append
    detection (round 13)."""
    parts = [f"params={params}"]
    path = os.path.join(sf_dir, "documents.parquet")
    if os.path.isdir(path):
        # recursive walk: a partitioned table (key=val subdirs)
        # regenerated in place changes file stats INSIDE the
        # subdirectories while the top-level entry list stays
        # identical — a flat listdir would keep the stale
        # fingerprint and serve a stale artifact
        for dirpath, dirs, files in os.walk(path):
            dirs.sort()
            rel = os.path.relpath(dirpath, path)
            for fn in sorted(files):
                if fn.startswith(("_", ".")):
                    continue
                st = os.stat(os.path.join(dirpath, fn))
                parts.append(
                    f"documents/{rel}/{fn}:{st.st_size}:{st.st_mtime_ns}")
    elif os.path.exists(path):
        st = os.stat(path)
        parts.append(f"documents:{st.st_size}:{st.st_mtime_ns}")
    else:
        parts.append("documents:absent")
    return parts


def _digest(parts: Sequence[str]) -> str:
    """Identity of an artifact build: md5 over its fingerprint_parts
    lines. Cheap (no data read), and any in-place corpus regeneration
    or parameter change flips it."""
    return hashlib.md5("|".join(parts).encode()).hexdigest()


def _append_delta(
    old_parts: Sequence[str] | None,
    new_parts: Sequence[str],
    sf_dir: str,
) -> list[str] | None:
    """APPEND detection (round 13): if the new source state is the
    old state plus extra data files — params identical, every old
    file line present byte-for-byte, only directory-table additions —
    return the appended files' paths; else None (full rebuild). An
    in-place rewrite, a deleted file, a single-file table change, or
    any params drift all return None: append-only growth is the ONE
    case the incremental refreshers are exactly-equal for."""
    if not old_parts:
        return None
    old, new = list(old_parts), list(new_parts)
    if old[0] != new[0]:  # params line
        return None
    old_set, new_set = set(old[1:]), set(new[1:])
    if not (old_set < new_set):
        return None
    added = []
    for line in sorted(new_set - old_set):
        stat_part = line.rsplit(":", 2)[0]
        if "/" not in stat_part:
            return None  # single-file table changed: not an append
        t, rel, fn = stat_part.split("/", 2)
        added.append(os.path.normpath(
            os.path.join(sf_dir, f"{t}.parquet", rel, fn)))
    return added or None


# observability + test hook: one dict per artifact (re)build this
# process, {"name", "mode": "create" | "rebuild" | "refresh"}
REFRESH_EVENTS: list[dict] = []


def _stored_fingerprint(root: str) -> str | None:
    versions = tf._versions(root)
    if not versions:
        return None
    return tf._load_manifest(root, versions[-1]).get(
        "artifact_fingerprint")


def _lead_bloom(df: DataFrame) -> list[str]:
    """Bloom the artifact's LEAD column when its type supports the
    per-file membership bloom (string/integral — tableformat's
    correctness gate): the lead column is the artifact's key
    (doc_a for pairs, doc_id for component maps), and the bloom is
    what makes scan_keys() prune key-scoped consumers' reads at
    corpus scale instead of degrading to a whole-table scan."""
    lead = df.columns[0]
    if df.schema[lead].dataType.simpleString() in tf._BLOOM_SAFE_TYPES:
        return [lead]
    return []


def _cluster_lead(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Cluster an artifact relation on its lead column before writing
    (repartitionByRange + in-file sort): per-file [min,max] stats go
    disjoint along the key the table serves, which is what makes
    scan_keys prune files for key-scoped probes instead of
    range-hitting everything. Partition count = session shuffle
    parallelism (at deployment the layout planner's knob)."""
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    lead = df.columns[0]
    return df.repartitionByRange(n_parts, lead).sortWithinPartitions(lead)


def _stored_sources(root: str) -> list[str] | None:
    versions = tf._versions(root)
    if not versions:
        return None
    return tf._load_manifest(root, versions[-1]).get("artifact_sources")


def _ensure_table(
    spark: SparkSession, root: str, df_fn: Callable[[], DataFrame],
    fp: str,
    cluster: bool = False,
    parts: Sequence[str] | None = None,
    sf_dir: str | None = None,
    refresher: Callable | None = None,
) -> bool:
    """Create or fingerprint-refresh one artifact table. Returns True
    if a (re)build happened.

    ``refresher`` (round 13): incremental maintenance under
    APPEND-ONLY corpus growth — called as ``refresher(old_df,
    appended_df)`` when the staleness is exactly "the old source
    files plus new ones" (params unchanged, detected from the stored
    per-file stat lines), where old_df is the current artifact
    snapshot and appended_df reads ONLY the new source files. It
    returns ("append", delta_rows) — the rows to append to the
    artifact (pair relations: batch×corpus pairs only; commit cost
    scales with the batch) — or ("replace", full_rows) when the
    artifact's existing rows can change (component maps: labels merge
    across batches). Any non-append staleness, or refresher=None,
    keeps the full rebuild: at 100 TB this is the difference between
    re-shingling the corpus daily and paying batch-sized work per
    append — the equality incremental ≡ from-scratch is the one
    q_incremental_components' oracle proves, and the refresh test
    asserts it on a mutated store."""
    meta = {"artifact_fingerprint": fp}
    if parts is not None:
        meta["artifact_sources"] = list(parts)
    if not exists(root):
        df = df_fn()
        if cluster:
            df = _cluster_lead(spark, df)
        tf.create_table(spark, df, root, stats_cols=[df.columns[0]],
                        bloom_cols=_lead_bloom(df), extra_meta=meta)
        REFRESH_EVENTS.append(
            {"name": os.path.basename(root), "mode": "create"})
        return True
    if _stored_fingerprint(root) == fp:
        return False
    if refresher is not None and parts is not None and sf_dir:
        added = _append_delta(_stored_sources(root), parts, sf_dir)
        if added:
            appended = spark.read.parquet(*added)
            mode, out = refresher(tf.read(spark, root), appended)
            if cluster:
                out = _cluster_lead(spark, out)
            if mode == "append":
                tf.append(spark, out, root, extra_meta=meta)
            else:
                tf.replace(spark, out, root, extra_meta=meta,
                           stats_cols=[out.columns[0]],
                           bloom_cols=_lead_bloom(out))
            REFRESH_EVENTS.append(
                {"name": os.path.basename(root), "mode": "refresh"})
            return True
    # stale (corpus or params changed) or pre-fingerprint table:
    # REPLACE with a fresh build — never serve stale rows to a
    # hash-validated query. The rebuild re-asserts the CURRENT
    # layout (lead-column stats + bloom) instead of carrying the
    # prior head's config: a table created before blooms existed
    # gains the lead bloom here (round 13, advice — otherwise
    # scan_artifact_keys on pre-bloom stores degraded to
    # range-stats-only pruning forever).
    df = df_fn()
    if cluster:
        df = _cluster_lead(spark, df)
    tf.replace(spark, df, root, extra_meta=meta,
               stats_cols=[df.columns[0]],
               bloom_cols=_lead_bloom(df))
    REFRESH_EVENTS.append(
        {"name": os.path.basename(root), "mode": "rebuild"})
    return True


def load_or_build(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    builder: Callable[[], DataFrame],
    memo: dict,
    memo_key: tuple,
    params: str = "",
    refresher: Callable | None = None,
) -> DataFrame:
    """The artifact access path shared by the plans-layer memo
    helpers: table-format table when SPARK_GRAFT_ARTIFACTS is set
    (compute-once-per-snapshot, survives session restart, rebuilt
    when the source fingerprint changes — or incrementally REFRESHED
    under append-only growth when ``refresher`` is provided, see
    _ensure_table), else the in-session localCheckpoint memo. The
    in-memory memo fronts both modes so one session never re-reads
    the table per consumer."""
    if memo_key in memo:
        return memo[memo_key]
    base = artifacts_root()
    if base is None:
        memo[memo_key] = builder().localCheckpoint()
        return memo[memo_key]
    root = table_root(base, sf_dir, name)
    parts = fingerprint_parts(sf_dir, params)
    _ensure_table(
        spark, root, builder,
        _digest(parts),
        parts=parts, sf_dir=sf_dir, refresher=refresher,
    )
    memo[memo_key] = tf.read(spark, root)
    return memo[memo_key]


def _ensure_group(
    spark: SparkSession,
    base: str,
    sf_dir: str,
    names: Sequence[str],
    builder_all: Callable[[], tuple[DataFrame, ...]],
    params: str,
    cluster: Sequence[str] = (),
    refresher: Callable | None = None,
) -> list[str]:
    """Create or fingerprint-refresh a GROUP of artifact tables that
    come out of ONE derivation (the setsim index's four relations):
    if ANY member is missing or stale, run ``builder_all`` exactly
    once and write every member from that same build — the persisted
    relations are mutually consistent by construction, not by hoping
    independent builds tie-break identically. Members named in
    ``cluster`` are written CLUSTERED on their lead column
    (repartitionByRange + in-file sort), so per-file [min,max] stats
    are disjoint along the key the member serves — that is what lets
    scan_member_keys prune the file list for a key-scoped probe
    instead of range-hitting every file (the posting-list pushdown;
    at deployment the partition count is the table layout planner's
    job, locally it is the session shuffle parallelism). Returns the
    member roots."""
    parts = fingerprint_parts(sf_dir, params)
    fp = _digest(parts)
    meta = {"artifact_fingerprint": fp, "artifact_sources": parts}
    roots = [table_root(base, sf_dir, n) for n in names]
    stale = [
        r for r in roots
        if not exists(r) or _stored_fingerprint(r) != fp
    ]
    if not stale:
        return roots
    # group-level APPEND refresh (round 13): when every member exists
    # and the only staleness is append-only source growth, the group
    # ``refresher(old_dfs, appended_df)`` returns one (mode, df) per
    # member — per-doc members append their delta, order-dependent
    # ones (the df-ranked prefixes) replace — all derived from ONE
    # pass over the appended files instead of re-deriving the corpus.
    if (refresher is not None and all(exists(r) for r in roots)):
        added = _append_delta(_stored_sources(roots[0]), parts, sf_dir)
        if added:
            appended = spark.read.parquet(*added)
            outs = refresher(
                tuple(tf.read(spark, r) for r in roots), appended)
            for name, root, (mode, df) in zip(names, roots, outs):
                if name in cluster:
                    df = _cluster_lead(spark, df)
                if mode == "append":
                    tf.append(spark, df, root, extra_meta=meta)
                else:
                    tf.replace(spark, df, root, extra_meta=meta,
                               stats_cols=[df.columns[0]],
                               bloom_cols=_lead_bloom(df))
                REFRESH_EVENTS.append(
                    {"name": name, "mode": "refresh"})
            return roots
    built = builder_all()
    for name, root, df in zip(names, roots, built):
        if name in cluster:
            df = _cluster_lead(spark, df)
        if exists(root):
            # same layout re-assertion as _ensure_table's stale
            # path: the rebuild upgrades pre-bloom member tables
            tf.replace(spark, df, root, extra_meta=meta,
                       stats_cols=[df.columns[0]],
                       bloom_cols=_lead_bloom(df))
            REFRESH_EVENTS.append({"name": name, "mode": "rebuild"})
        else:
            tf.create_table(spark, df, root,
                            stats_cols=[df.columns[0]],
                            bloom_cols=_lead_bloom(df),
                            extra_meta=meta)
            REFRESH_EVENTS.append({"name": name, "mode": "create"})
    return roots


def load_or_build_many(
    spark: SparkSession,
    sf_dir: str,
    names: Sequence[str],
    builder_all: Callable[[], tuple[DataFrame, ...]],
    memo: dict,
    memo_key: tuple,
    params: str = "",
    cluster: Sequence[str] = (),
    refresher: Callable | None = None,
) -> tuple[DataFrame, ...]:
    """Group variant of load_or_build (see _ensure_group for the
    consistency story). In memo mode the single build is
    localCheckpointed per member as before."""
    if memo_key in memo:
        return memo[memo_key]
    base = artifacts_root()
    if base is None:
        memo[memo_key] = tuple(
            df.localCheckpoint() for df in builder_all())
        return memo[memo_key]
    roots = _ensure_group(
        spark, base, sf_dir, names, builder_all, params, cluster,
        refresher,
    )
    memo[memo_key] = tuple(tf.read(spark, r) for r in roots)
    return memo[memo_key]


def scan_member_keys(
    spark: SparkSession,
    sf_dir: str,
    names: Sequence[str],
    builder_all: Callable[[], tuple[DataFrame, ...]],
    memo: dict,
    memo_key: tuple,
    member: str,
    col: str,
    keys: Sequence,
    params: str = "",
    cluster: Sequence[str] = (),
    refresher: Callable | None = None,
) -> DataFrame:
    """KEY-SCOPED read of ONE member of a group artifact — the
    scan_artifact_keys shape for the standing setsim INDEX: the
    incremental similarity join touches only the corpus posting lists
    of the batch's prefix terms and the signature/array rows of its
    surviving candidates, so in table mode the member's manifest
    range stats (files clustered on the lead column) + the
    lead-column membership bloom prune the file list BEFORE any data
    is read — O(files holding a probed key), not O(index). Rows are
    then filtered exactly. In memo mode it is the identical exact
    filter over the session-memoized member (what the driver's
    correctness runs exercise)."""
    keys = list(keys)
    base = artifacts_root()
    if base is None:
        tup = load_or_build_many(
            spark, sf_dir, names, builder_all, memo, memo_key, params,
        )
        df = tup[list(names).index(member)]
        return df.where(df[col].isin(keys))
    roots = _ensure_group(
        spark, base, sf_dir, names, builder_all, params, cluster,
        refresher,
    )
    root = roots[list(names).index(member)]
    pruned, _read, _total = tf.scan_keys(spark, root, col, keys)
    return pruned.where(pruned[col].isin(keys))


def scan_artifact_keys(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    builder: Callable[[], DataFrame],
    memo: dict,
    memo_key: tuple,
    col: str,
    keys: Sequence,
    params: str = "",
    cluster: bool = False,
    refresher: Callable | None = None,
) -> DataFrame:
    """KEY-SCOPED artifact access — the 100 TB read path for consumers
    that touch a handful of artifact keys (component lookups, the
    incremental ingest's contraction join), where reading the whole
    standing pair/component table per query is the scan that stops
    scaling. In table mode (SPARK_GRAFT_ARTIFACTS) the read goes
    through tf.scan_keys: manifest range stats + the lead-column
    membership bloom prune the file list BEFORE any data is read, so
    the scan is O(files holding a probed key), not O(artifact); rows
    are then filtered exactly (scan_keys prunes files, not rows). In
    memo mode it is the same exact filter over the session-memoized
    relation — identical rows, no hidden disk state (what the
    driver's correctness runs exercise)."""
    keys = list(keys)
    base = artifacts_root()
    if base is None:
        df = load_or_build(
            spark, sf_dir, name, builder, memo, memo_key, params,
        )
        return df.where(df[col].isin(keys))
    root = table_root(base, sf_dir, name)
    parts = fingerprint_parts(sf_dir, params)
    _ensure_table(
        spark, root, builder,
        _digest(parts),
        cluster=cluster, parts=parts, sf_dir=sf_dir,
        refresher=refresher,
    )
    pruned, _read, _total = tf.scan_keys(spark, root, col, keys)
    return pruned.where(pruned[col].isin(keys))
