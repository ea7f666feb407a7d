"""Snapshot-manifest table format: versioned parquet with MERGE,
time travel, and file-level min/max pruning.

A 100 TB deployment wants table-format semantics (Delta/Iceberg) for
its mutable tables. This module implements the minimal open-table-format
design on plain parquet + JSON manifests, so the repo's semantics match
what the at-scale swap would provide. Its callers are the streaming
sinks (``streaming/table_sink``; ``streaming/neardup``, which commits
through write-audit-publish stages) and ``bench.py``'s streaming merge
leg:

- a table is ``root/data/*.parquet`` plus ``root/_manifests/v{N}.json``;
  a manifest is the COMPLETE file list of that snapshot with per-file
  row counts and per-column min/max stats (the Iceberg manifest-entry
  shape, flattened);
- every write is copy-on-write: new files + a new manifest; old
  snapshots stay readable (time travel by version) and keep their
  files: no caller needs a vacuum, so none is kept;
- MERGE rewrites only the files that actually contain matched keys —
  candidate files come from manifest key-range pruning, confirmed
  membership from a semi-join, everything else is carried by
  reference;
- reads prune files against the manifest stats BEFORE touching
  parquet (partition-pruning semantics without a partition layout);
- commits are atomic via O_EXCL manifest creation (single winner per
  version; losers retry on a real system — here they raise);
- ``optimize_table`` compacts a snapshot into target-sized files,
  optionally range-clustered on one column.

Everything data-sized runs in Spark (per-file stats are one
``input_file_name()`` aggregation); only manifest bookkeeping (file
lists, KB of JSON) touches the driver.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_MANIFEST_DIR = "_manifests"

# ------------------------------------------------- per-file blooms
# Parquet-spec-style split-block bloom filters, lifted to the MANIFEST
# so pruning happens driver-side before any task launches (the same
# role Iceberg puffin sidecars / parquet column blooms play — see the
# parquet-format BloomFilter spec for the public design this follows).
# Range min/max stats prune RANGE probes; blooms prune MEMBERSHIP
# probes, which ranges can't: a file clustered on one column covers a
# wide [min,max] of another, so any probe with more than a handful of
# uniform keys range-hits EVERY file, while a bloom answers "does this
# file plausibly CONTAIN one of the keys" at ~1e-6 false-positive per
# (key, file). Both engines hash identically: md5 of the value's
# canonical string form, eight 16-bit slices of the digest as bit
# positions (k=8, m=65536 → fpr ≈ (1-e^{-8n/m})^8, ~1e-6 at n=1600
# rows/file; the bitmap saturates — reads everything, never skips
# wrongly — beyond n ≈ m/k). 8 KiB bitmap per (file, column), base64
# in the manifest entry; at real scale the same bytes live in a
# sidecar (puffin), the probe logic is unchanged.

_BLOOM_M = 65536  # bits per bloom
_BLOOM_K = 8      # 16-bit md5 slices used as positions

# Types whose Python str(key) form is guaranteed identical to Spark's
# CAST(col AS STRING) — the cross-engine hashing contract below. str
# and integrals agree ('42' == '42'); boolean ('True' vs 'true'),
# float/double (repr '1e-07' vs Java '1.0E-7'), timestamp and decimal
# all diverge, which would make EVERY probe false-negative: wrong
# results (silently skipped files), not just lost pruning. create_table
# rejects them up front.
_BLOOM_SAFE_TYPES = ("string", "tinyint", "smallint", "int", "bigint")


def _check_bloom_cols(df: DataFrame, bloom_cols) -> None:
    for c in bloom_cols or ():
        t = df.schema[c].dataType.simpleString()
        if t not in _BLOOM_SAFE_TYPES:
            raise ValueError(
                f"bloom_cols[{c!r}] has type {t}; per-file blooms hash "
                f"str(key) driver-side against CAST(col AS STRING) "
                f"engine-side, and those only agree for "
                f"{_BLOOM_SAFE_TYPES} — a {t} bloom would false-negative "
                f"every probe and silently skip files that hold the key"
            )


def bloom_positions(key) -> list[int]:
    """The k bit positions for ``key`` — md5 of str(key), split into
    eight 16-bit words. MUST stay in lockstep with the Spark-side
    expression in _write_files (md5(cast(col as string)))."""
    h = hashlib.md5(str(key).encode()).hexdigest()
    return [int(h[4 * j:4 * j + 4], 16) for j in range(_BLOOM_K)]


def _bloom_build(positions) -> dict:
    """Bitmap manifest entry from an iterable of set bit positions."""
    bm = bytearray(_BLOOM_M // 8)
    for p in positions:
        if p is not None:
            bm[p >> 3] |= 1 << (p & 7)
    return {
        "m": _BLOOM_M, "k": _BLOOM_K,
        "b64": base64.b64encode(bytes(bm)).decode("ascii"),
    }


def _bloom_any_hit(entry: dict, probe_positions: list[list[int]]) -> bool:
    """True iff ANY probe key has all k bits set in the file's bloom
    (i.e. the file might contain it). Vectorized: one numpy gather
    over a [n_keys, k] position matrix — microseconds per file, so a
    thousand-file manifest probes in ~ms driver-side."""
    import numpy as np

    bm = np.frombuffer(base64.b64decode(entry["b64"]), dtype=np.uint8)
    if not probe_positions:
        return False
    pos = np.asarray(probe_positions, dtype=np.int64)
    bits = (bm[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
    return bool(bits.all(axis=1).any())


def _bloom_probe(keys) -> dict:
    """Hash the probe key set ONCE: {'pos': [[k ints]...] for non-null
    keys, 'has_null': whether the probe itself contains NULL}."""
    return {
        "pos": [bloom_positions(k) for k in keys if k is not None],
        "has_null": any(k is None for k in keys),
    }


def _lazy_bloom_probe(keys):
    """Deferred _bloom_probe: hashing a probe set costs ~2-4 us/key
    of driver Python (md5 + slicing), which at a 60k-key streaming
    pushdown is ~0.2-0.3 s paid BEFORE any file check — wasted
    whenever every candidate file is bloom-unprunable anyway
    (_bloom_prunable). The scans hash lazily: only when the first
    prunable file actually needs the probe."""
    state: dict = {}

    def get() -> dict:
        if "p" not in state:
            state["p"] = _bloom_probe(keys)
        return state["p"]

    return get


def _bloom_prunable(e: dict, col: str, n_keys: int) -> bool:
    """Could this file's bloom plausibly RULE OUT a probe of
    ``n_keys`` uniformly-hashed keys? Expected false hits are
    n_keys x density^k; at >= 0.5 expected hits the file would
    almost surely hit anyway, so probing it costs hashing without
    buying pruning. This is what keeps the bloom path sharp for
    point lookups while LARGE probes (a 17k-doc streaming batch)
    fall through to range stats + the confirming read instead of
    paying ~0.3 s of dead probe hashing per batch.

    Density (round 13, the sidecar-POPCOUNT fix): commits since this
    round record the EXACT bit density — ``nbits``, the popcount of
    the file's bitmap, known for free at write time as the size of
    the distinct-positions set — in the manifest bloom entry, so the
    decision is measured, not modeled. Entries without it (pre-r13
    commits) fall back to the analytic row-count estimate, which
    OVERestimates density whenever rows repeat keys (the LSH index:
    ~bands× rows per doc, plus bucket collisions) and skipped the
    bloom on exactly the tables the blooms were built for —
    conservative (reads too much, never wrong-skips), but blind."""
    b = e.get("blooms", {}).get(col)
    if b is None:
        return False
    nbits = b.get("nbits")
    if nbits is not None:
        density = nbits / _BLOOM_M
    else:
        density = 1.0 - (1.0 - 1.0 / _BLOOM_M) ** (
            _BLOOM_K * max(int(e.get("rows", 0)), 0))
    return n_keys * density ** _BLOOM_K < 0.5


def bloom_prunable_crossings(n_keys: int) -> tuple[int, int]:
    """The INTEGER crossings of _bloom_prunable's rule for a probe of
    ``n_keys`` keys: (nbits_lim, rows_lim) such that the measured
    path prunes iff nbits < nbits_lim and the rows-estimate path
    prunes iff the file's row count < rows_lim. One shared derivation
    (this function) feeds both the engaged gate's audit query
    (q_bloom_popcount_audit renders the thresholds as SQL literals,
    so neither engine ever compares a transcendental) and the pytest
    that pins the gate to it — the _cap_decision pattern."""
    if n_keys <= 0:
        return _BLOOM_M + 1, 1 << 62  # any bloom rules out a 0-key probe

    def _meas(nb: int) -> bool:
        return n_keys * (nb / _BLOOM_M) ** _BLOOM_K < 0.5

    def _est(rows: int) -> bool:
        d = 1.0 - (1.0 - 1.0 / _BLOOM_M) ** (_BLOOM_K * rows)
        return n_keys * d ** _BLOOM_K < 0.5

    import bisect

    nbits_lim = bisect.bisect_left(
        range(_BLOOM_M + 1), True, key=lambda nb: not _meas(nb)
    )
    rows_lim = bisect.bisect_left(
        range(1 << 30), True, key=lambda r: not _est(r)
    )
    return nbits_lim, rows_lim


# sidecar bitmap cache: {abs sidecar path: (verified sha256, parsed
# dict)}. Sidecars are immutable once written (copy-on-write never
# edits one in place), but the cache does NOT trust that: a hit is
# served only when the manifest ref's sha256 matches the sha the
# cached bytes verified against — a rewritten path (stage-retry
# orphan cleanup reusing data/stage-{s}-vN/_blooms.json) or two refs
# disagreeing about one path re-reads and re-verifies instead of
# silently serving the other commit's bitmaps. Entries are ~8 KiB ×
# files × cols per sidecar. Bounded FIFO (insertion-ordered dict) so
# a long-lived session touching many tables/commits can't accumulate
# without limit — eviction only costs a re-read + re-verify.
_SIDECAR_CACHE: dict = {}
_SIDECAR_CACHE_MAX = 64


def _load_bloom_sidecar(root: str, ref: dict) -> dict:
    """Load (and cache) the bloom SIDECAR a manifest entry points to,
    verifying the content hash the manifest recorded — an entry
    whose sidecar was corrupted or swapped fails loudly instead of
    silently mis-pruning, and a CACHE hit is honored only when this
    ref's sha256 matches the cached entry's verified sha (path reuse
    with different bytes falls through to a fresh read+verify).
    Returns {file_basename: {col: bloom}}."""
    path = os.path.normpath(os.path.join(root, ref["ref"]))
    hit = _SIDECAR_CACHE.get(path)
    if hit is not None and hit[0] == ref["sha256"]:
        return hit[1]
    import hashlib as _hl

    with open(path, "rb") as f:
        raw = f.read()
    got = _hl.sha256(raw).hexdigest()
    if got != ref["sha256"]:
        raise ValueError(
            f"bloom sidecar {path} content hash {got[:12]}… does not "
            f"match the manifest's {ref['sha256'][:12]}… — refusing "
            "to prune on corrupt bitmaps"
        )
    parsed = json.loads(raw)
    while len(_SIDECAR_CACHE) >= _SIDECAR_CACHE_MAX:
        _SIDECAR_CACHE.pop(next(iter(_SIDECAR_CACHE)))
    _SIDECAR_CACHE[path] = (got, parsed)
    return parsed


def _bloom_file_hit(e: dict, col: str, probe: dict,
                    root: str | None = None) -> bool:
    """Can file entry ``e`` contain any probe key, per its bloom?
    Conservative: entries without a bloom for ``col`` (pre-bloom
    commits, or a table without bloom_cols) always hit. The bitmap
    lives either inline (pre-round-11 manifests, still readable) or
    in a per-commit SIDECAR file the entry references by relative
    path + sha256 (the Iceberg-puffin shape: the manifest stays
    KB-sized however many files the table accretes; ~10k files × 8
    KiB bitmaps inline was a manifest wall)."""
    b = e.get("blooms", {}).get(col)
    if b is None:
        return True
    if probe["has_null"] and b.get("has_null"):
        return True
    if "b64" not in b:
        if root is None:
            return True  # no root to resolve the sidecar: read the file
        side = _load_bloom_sidecar(root, b)
        bm = side.get(os.path.basename(e["path"]), {}).get(col)
        if bm is None:
            return True
        return _bloom_any_hit(bm, probe["pos"])
    return _bloom_any_hit(b, probe["pos"])


# ---------------------------------------------------------------- util

def _localpath(uri: str) -> str:
    """input_file_name() returns a file: URI; normalize to a plain
    local path comparable with os.path.join output."""
    if uri.startswith("file:"):
        uri = uri[5:]
    return os.path.normpath(uri)


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(root, _MANIFEST_DIR, f"v{version}.json")


def _versions(root: str) -> list[int]:
    d = os.path.join(root, _MANIFEST_DIR)
    if not os.path.isdir(d):
        return []
    out = []
    for n in os.listdir(d):
        if n.startswith("v") and n.endswith(".json"):
            try:
                out.append(int(n[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def _load_manifest(root: str, version: int) -> dict:
    with open(_manifest_path(root, version)) as f:
        return json.load(f)


def _commit(root: str, manifest: dict) -> int:
    """Atomically write the next manifest version (O_EXCL: exactly one
    winner per version number — the optimistic-concurrency primitive)."""
    os.makedirs(os.path.join(root, _MANIFEST_DIR), exist_ok=True)
    version = (max(_versions(root)) if _versions(root) else 0) + 1
    manifest["version"] = version
    manifest["committed_us"] = time.time_ns() // 1_000
    path = _manifest_path(root, version)
    fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
    with os.fdopen(fd, "w") as f:
        json.dump(manifest, f)
    return version


def _write_files(
    spark: SparkSession, df: DataFrame, root: str, tag: str,
    stats_cols: list[str], bloom_cols: list[str] | tuple = (),
) -> list[dict]:
    """Write df as parquet under data/<tag>/ and return manifest
    entries with per-file rows + min/max stats (ONE distributed
    aggregation over input_file_name — no per-file driver loop).
    ``bloom_cols`` additionally collects each file's DISTINCT md5
    bit positions for those columns (bounded by m=65536 per file per
    column via array_distinct — a saturated bloom degrades to
    read-everything, never to a wrong skip) and stores the bitmap in
    the entry, plus a has_null flag so NULL probes stay sound."""
    out_dir = os.path.join(root, "data", tag)
    df.write.mode("error").parquet(out_dir)
    back = spark.read.parquet(out_dir)
    aggs = [F.count("*").alias("_rows")]
    for c in stats_cols:
        aggs += [F.min(c).alias(f"_min_{c}"), F.max(c).alias(f"_max_{c}")]
    for c in bloom_cols:
        h = F.md5(F.col(c).cast("string"))
        pos = F.array(*[
            F.conv(F.substring(h, 1 + 4 * j, 4), 16, 10).cast("int")
            for j in range(_BLOOM_K)
        ])
        aggs += [
            F.array_distinct(F.flatten(F.collect_list(pos)))
            .alias(f"_bpos_{c}"),
            F.max(F.col(c).isNull()).alias(f"_bnull_{c}"),
        ]
    rows = (
        back.withColumn("_f", F.input_file_name())
        .groupBy("_f").agg(*aggs).collect()
    )
    entries = []
    side: dict = {}
    for r in rows:
        relpath = os.path.relpath(_localpath(r["_f"]), root)
        e = {
            "path": relpath,
            "rows": r["_rows"],
            "stats": {
                c: [r[f"_min_{c}"], r[f"_max_{c}"]] for c in stats_cols
            },
        }
        if bloom_cols:
            # bitmaps go to a per-commit SIDECAR (one JSON next to the
            # data files); the manifest entry keeps only the tiny
            # probe-relevant fields + the sidecar ref — 8 KiB ×
            # (files × cols) never lands in the manifest (the
            # puffin-style swap; ref/sha256 filled in below)
            side[os.path.basename(relpath)] = {
                c: _bloom_build(r[f"_bpos_{c}"]) for c in bloom_cols
            }
            # nbits = the file's exact bloom POPCOUNT, free at write
            # time: positions are already distinct per file, so the
            # set-bit count is just the non-null position count. It
            # rides the manifest entry (not the sidecar) because
            # _bloom_prunable needs it during driver-side pruning
            # BEFORE any sidecar is opened.
            e["blooms"] = {
                c: {
                    "has_null": bool(r[f"_bnull_{c}"]),
                    "nbits": sum(
                        1 for p in (r[f"_bpos_{c}"] or ())
                        if p is not None
                    ),
                }
                for c in bloom_cols
            }
        entries.append(e)
    if bloom_cols and side:
        import hashlib as _hl

        raw = json.dumps(side).encode()
        sha = _hl.sha256(raw).hexdigest()
        side_rel = os.path.join("data", tag, "_blooms.json")
        with open(os.path.join(root, side_rel), "wb") as f:
            f.write(raw)
        for e in entries:
            for c in bloom_cols:
                e["blooms"][c].update({"ref": side_rel, "sha256": sha})
    return entries


# ------------------------------------------------------------ public

def create_table(
    spark: SparkSession, df: DataFrame, root: str,
    stats_cols: list[str],
    bloom_cols: list[str] | None = None,
) -> int:
    """v1 snapshot of ``df`` with stats on ``stats_cols``; columns in
    ``bloom_cols`` additionally get a per-file membership bloom every
    later commit maintains (scan_membership / scan_keys prune on it).
    Bloom columns must be string or integral — the only types whose
    driver-side str(key) equals Spark's CAST(col AS STRING)
    (_check_bloom_cols raises otherwise)."""
    _check_bloom_cols(df, bloom_cols)
    entries = _write_files(
        spark, df, root, "v1", stats_cols, bloom_cols or ()
    )
    return _commit(root, {
        "operation": "create", "stats_cols": stats_cols, "files": entries,
        "schema": df.schema.json(),
        **({"bloom_cols": bloom_cols} if bloom_cols else {}),
    })


def _carry_meta(head: dict) -> dict:
    """Manifest metadata every commit must propagate from its parent:
    the table schema, the streaming sink's exactly-once watermark
    (stream_batch_id) and the bloom columns. Without the watermark, a
    merge or optimize commit would drop the last recorded batch id and
    let a checkpoint replay re-apply a batch. bloom_cols is table
    CONFIG (like stats_cols) and rides every commit."""
    keys = ("schema", "stream_batch_id", "bloom_cols")
    return {k: head[k] for k in keys if k in head}


def _bcols(head: dict) -> tuple:
    """The table's configured bloom columns (empty for tables created
    without them — every write path passes this to _write_files so
    blooms stay maintained across appends, merges, and rewrites)."""
    return tuple(head.get("bloom_cols") or ())


def _merged_schema_json(head: dict, df: DataFrame) -> str:
    """Table schema after appending ``df``: union of the recorded
    fields and the incoming ones (head order first, new fields
    appended). Appending a narrower DataFrame must NOT narrow the
    recorded schema — older files still carry the missing columns."""
    if "schema" not in head:
        return df.schema.json()
    prior = StructType.fromJson(json.loads(head["schema"]))
    have = {f.name for f in prior.fields}
    merged = StructType(
        prior.fields + [f for f in df.schema.fields if f.name not in have]
    )
    return merged.json()


def _read_files(
    spark: SparkSession, root: str, entries: list[dict],
) -> DataFrame:
    """The data files of manifest ``entries``, read with mergeSchema:
    a snapshot, or the subset of it a scan keeps, may mix files written
    before and after a column was added (schema evolution). Without it
    the picked schema is nondeterministic; with it the read is
    union-by-name and old files surface the new column as NULL. Time
    travel to a pre-evolution snapshot lacks the column, because its
    manifest references only pre-evolution files."""
    return spark.read.option("mergeSchema", "true").parquet(
        *[os.path.join(root, e["path"]) for e in entries]
    )


def read(
    spark: SparkSession, root: str, version: int | None = None,
) -> DataFrame:
    """Time-travel read: the snapshot at ``version``, or the latest."""
    if version is None:
        version = _versions(root)[-1]
    m = _load_manifest(root, version)
    if not m["files"]:
        # empty snapshot: the manifest records the table schema so an
        # empty table is still a TYPED relation (a hardcoded fallback
        # schema broke MERGE into freshly-created empty tables)
        if "schema" in m:
            schema = StructType.fromJson(json.loads(m["schema"]))
        else:
            schema = "doc_id long"  # legacy manifests
        return spark.createDataFrame([], schema=schema)
    return _read_files(spark, root, m["files"])


def scan(
    spark: SparkSession, root: str, col: str, lo, hi,
) -> tuple[DataFrame, int, int]:
    """Manifest-pruned range scan: only files whose [min,max] stats
    intersect [lo,hi] are read; returns (df, files_read, files_total).
    The df still carries the filter — stats pruning is an I/O
    optimization, not the predicate."""
    m = _load_manifest(root, _versions(root)[-1])
    # missing stats for col (mixed stats_cols history) → conservative
    # keep: the file is read and the row filter below decides
    keep = [
        e for e in m["files"]
        if e["stats"].get(col) is None
        or (
            e["stats"][col][0] is not None
            and not (e["stats"][col][0] > hi or e["stats"][col][1] < lo)
        )
    ]
    if not keep:
        empty = read(spark, root).limit(0)
        return empty.where(F.col(col).between(lo, hi)), 0, len(m["files"])
    df = _read_files(spark, root, keep)
    return df.where(F.col(col).between(lo, hi)), len(keep), len(m["files"])


def scan_keys(
    spark: SparkSession, root: str, col: str, keys: list,
) -> tuple[DataFrame, int, int]:
    """Manifest-pruned KEY-SET scan (the IN-list pushdown): only
    files whose [min,max] stats contain at least one of ``keys`` are
    read; returns (df, files_read, files_total). The returned df is
    NOT row-filtered — callers that need row-level key matching join
    it (stats pruning is an I/O optimization, exactly like scan()).
    With files written CLUSTERED on ``col`` (e.g. the streaming LSH
    index appends sorted by bucket hash), a probe whose key set is
    small relative to the table prunes to O(|keys|) files instead of
    scanning the whole snapshot."""
    m = _load_manifest(root, _versions(root)[-1])
    ks = sorted(keys)
    import bisect

    probe = _lazy_bloom_probe(keys)

    def _hit(e: dict) -> bool:
        # a file entry with NO recorded stats for col (older commits
        # written under a different stats_cols set) falls through to
        # the bloom check — a file written under old stats_cols can
        # still carry a bloom for col (mixed-history tables), and
        # _bloom_file_hit itself degrades to True when it doesn't
        # (same independent-checks shape as scan_membership).
        # _bloom_prunable gates every bloom use: a probe too large to
        # clear this file skips the (hash-the-probe) cost entirely
        st = e["stats"].get(col)
        if st is None:
            if not _bloom_prunable(e, col, len(ks)):
                return True
            return _bloom_file_hit(e, col, probe(), root)
        lo, hi = st
        if lo is None:
            return False
        i = bisect.bisect_left(ks, lo)
        if not (i < len(ks) and ks[i] <= hi):
            return False
        # range says maybe — a membership bloom (if this file has one
        # for col) can still rule the file out: files clustered on a
        # DIFFERENT column have wide [lo,hi] on this one, and with
        # more than a handful of keys the range test keeps everything
        if not _bloom_prunable(e, col, len(ks)):
            return True
        return _bloom_file_hit(e, col, probe(), root)

    keep = [e for e in m["files"] if _hit(e)]
    if not keep:
        return read(spark, root).limit(0), 0, len(m["files"])
    return _read_files(spark, root, keep), len(keep), len(m["files"])


def scan_membership(
    spark: SparkSession, root: str, col: str, keys: list,
) -> tuple[DataFrame, int, int]:
    """Manifest-pruned scan by BLOOM membership alone: only files
    whose per-file bloom says "might contain one of ``keys``" are
    read; returns (df, files_read, files_total), df NOT row-filtered
    (callers join, exactly like scan_keys — bloom hits are
    probabilistic supersets). This is the probe that stays sharp
    where range stats can't: a probe of many uniformly-hashed keys
    range-hits every file of a table clustered on a different
    column, but bloom-hits only the files that plausibly HOLD one —
    the streaming near-dup ingest's new-ids guard drops from
    O(index) data reads per batch to ~zero this way. Files without a
    bloom for ``col`` are conservatively read (range stats, when
    present, still apply first)."""
    m = _load_manifest(root, _versions(root)[-1])
    ks = sorted(k for k in keys if k is not None)
    has_null = any(k is None for k in keys)
    probe = _lazy_bloom_probe(keys)
    import bisect

    def _range_hit(e: dict) -> bool:
        st = e["stats"].get(col)
        if st is None:
            return True
        lo, hi = st
        if lo is None:
            return has_null
        if not ks:
            return has_null
        i = bisect.bisect_left(ks, lo)
        return (i < len(ks) and ks[i] <= hi) or has_null

    # _bloom_prunable gates the probe (see scan_keys): a probe too
    # large to clear a file reads it without paying the hash cost
    keep = [
        e for e in m["files"]
        if _range_hit(e) and (
            not _bloom_prunable(e, col, len(ks))
            or _bloom_file_hit(e, col, probe(), root)
        )
    ]
    if not keep:
        return read(spark, root).limit(0), 0, len(m["files"])
    return _read_files(spark, root, keep), len(keep), len(m["files"])


def merge_into(
    spark: SparkSession, updates: DataFrame, root: str, key: str,
    extra_meta: dict | None = None,
) -> int:
    """Copy-on-write MERGE (upsert on ``key``): manifest key-range
    pruning picks candidate files, a distinct-key semi-join confirms
    which actually hold matched rows; ONLY those are rewritten (minus
    matched rows, plus all update rows in new files). Untouched files
    carry over by reference — the Delta/Iceberg CoW write path."""
    head = _load_manifest(root, _versions(root)[-1])
    stats_cols = head["stats_cols"]
    keys_df = updates.select(key).distinct()
    k_lo, k_hi = keys_df.agg(F.min(key), F.max(key)).first()

    candidates, untouched = [], []
    for e in head["files"]:
        lo, hi = e["stats"].get(key, [None, None])
        # k_lo is None <=> updates is empty (streaming foreachBatch
        # does deliver zero-row batches): no file can match, carry
        # everything by reference instead of comparing int to None.
        if (
            k_lo is not None
            and lo is not None
            and not (lo > k_hi or hi < k_lo)
        ):
            candidates.append(e)
        else:
            untouched.append(e)

    rewritten: list[dict] = []
    tag = f"v{head['version'] + 1}"
    if candidates:
        cand_df = spark.read.parquet(
            *[os.path.join(root, e["path"]) for e in candidates]
        ).withColumn("_src", F.input_file_name())
        # files that truly contain matched keys get rewritten; pruned-
        # in-name-only candidates carry over untouched
        hit_files = {
            _localpath(r["_src"])
            for r in cand_df.join(F.broadcast(keys_df), key, "semi")
            .select("_src").distinct().collect()
        }

        def _is_hit(e):
            return os.path.normpath(
                os.path.join(root, e["path"])
            ) in hit_files

        untouched += [e for e in candidates if not _is_hit(e)]
        hit = [e for e in candidates if _is_hit(e)]
        if hit:
            hit_df = spark.read.parquet(
                *[os.path.join(root, e["path"]) for e in hit]
            )
            survivors = hit_df.join(F.broadcast(keys_df), key, "anti")
            rewritten += _write_files(
                spark, survivors, root, f"{tag}-rw", stats_cols,
                _bcols(head),
            )
    new_entries = _write_files(
        spark, updates.select(*read(spark, root).columns), root,
        f"{tag}-new", stats_cols, _bcols(head),
    )
    return _commit(root, {
        "operation": "merge", "stats_cols": stats_cols,
        "files": untouched + rewritten + new_entries,
        **_carry_meta(head),
        **(extra_meta or {}),
    })


# ------------------------------------------------- write-audit-publish

_STAGE_DIR = "_staged"


def _stage_path(root: str, stage: str) -> str:
    return os.path.join(root, _STAGE_DIR, f"{stage}.json")


def stage_append(
    spark: SparkSession, df: DataFrame, root: str, stage: str,
    extra_meta: dict | None = None,
) -> dict:
    """Write-Audit-Publish, step 1 (the Iceberg WAP pattern): write
    the data files and a CANDIDATE snapshot manifest under _staged/ —
    the main version chain is untouched, so readers never see the
    rows. The staged manifest records the base version it was built
    on; publish_stage refuses if main has advanced since (optimistic
    concurrency — re-stage on the new head instead of silently
    dropping the interleaved commit's files). Step 2, the audit, is
    the caller's: ``streaming/neardup`` runs its guard job between the
    stage and the publish. Returns {stage, base_version, n_new_files}."""
    head = _load_manifest(root, _versions(root)[-1])
    # the data dir is keyed by (stage, base version): a published
    # stage's files live on under the old dir, and a discarded+
    # re-staged attempt on a NEW head writes a fresh dir — no
    # mode("error") collision on the retry path
    tag = f"stage-{stage}-v{head['version']}"
    # crash-window cleanup: a prior attempt that died AFTER the data
    # write but BEFORE its stage JSON landed (stats/bloom collect
    # failure, process crash) leaves an orphaned data dir that no
    # manifest or stage references — without this, the retry's
    # mode("error") write collides and the stream wedges until manual
    # cleanup. Only safe when the stage JSON is absent: with a JSON
    # present the dir IS referenced and the O_EXCL create below is
    # the collision the caller must resolve via discard_stage.
    orphan = os.path.join(root, "data", tag)
    if os.path.isdir(orphan) and not os.path.exists(
        _stage_path(root, stage)
    ):
        import shutil

        shutil.rmtree(orphan, ignore_errors=True)
    entries = _write_files(
        spark, df, root, tag, head["stats_cols"], _bcols(head),
    )
    os.makedirs(os.path.join(root, _STAGE_DIR), exist_ok=True)
    staged = {
        "operation": "append",
        "stats_cols": head["stats_cols"],
        "files": head["files"] + entries,
        "new_files": [e["path"] for e in entries],
        "base_version": head["version"],
        **_carry_meta(head),
        "schema": _merged_schema_json(head, df),
        **(extra_meta or {}),
    }
    # atomic-exclusive stage publish (round 13, advice): json.dump
    # straight into an O_EXCL fd left a window where a concurrent
    # reader could json.load a partially-written manifest and crash.
    # Write the full bytes to a tmp file first, then os.link() them
    # to the final name — link is atomic AND fails with FileExistsError
    # on an existing stage, so the exactly-one-winner contract of the
    # former O_EXCL create is preserved byte-for-byte.
    tmp = _stage_path(root, stage) + f".tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(staged, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, _stage_path(root, stage))
    finally:
        os.remove(tmp)
    return {
        "stage": stage,
        "base_version": head["version"],
        "n_new_files": len(entries),
    }


def publish_stage(root: str, stage: str) -> int:
    """Write-Audit-Publish, step 3: atomically promote the audited
    candidate to the next main version. The commit is PINNED at
    base_version + 1 — the O_EXCL manifest create itself is the
    concurrency check, so a commit interleaved between any head
    inspection and the write COLLIDES and raises instead of being
    silently dropped (a floating max+1 version number would happily
    publish a file list missing the interleaved commit's files).
    On conflict: re-stage on the new head."""
    with open(_stage_path(root, stage)) as f:
        m = json.load(f)
    base = m.pop("base_version")
    m.pop("new_files")
    version = base + 1
    m["version"] = version
    m["committed_us"] = time.time_ns() // 1_000
    os.makedirs(os.path.join(root, _MANIFEST_DIR), exist_ok=True)
    try:
        fd = os.open(
            _manifest_path(root, version),
            os.O_WRONLY | os.O_CREAT | os.O_EXCL,
        )
    except FileExistsError:
        raise RuntimeError(
            f"stage {stage!r} was built on v{base} but main has advanced"
            f" past it; re-stage on the current head"
        ) from None
    with os.fdopen(fd, "w") as f:
        json.dump(m, f)
    os.remove(_stage_path(root, stage))
    return version


def discard_stage(root: str, stage: str) -> int:
    """Drop a staged candidate: remove its data files, their stage
    directory (leaving it would make a re-stage on the SAME base
    collide with mode('error')), and the staged manifest — none were
    ever referenced by a published snapshot. Returns the number of
    files removed."""
    import shutil

    with open(_stage_path(root, stage)) as f:
        m = json.load(f)
    removed = 0
    dirs = set()
    for p in m["new_files"]:
        full = os.path.join(root, p)
        dirs.add(os.path.dirname(full))
        if os.path.exists(full):
            os.remove(full)
            removed += 1
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)
    os.remove(_stage_path(root, stage))
    return removed


def optimize_table(
    spark: SparkSession,
    root: str,
    target_file_rows: int,
    cluster_by: str | None = None,
) -> int:
    """OPTIMIZE (Delta OPTIMIZE / Iceberg rewrite_data_files): rewrite
    the current snapshot into ~target_file_rows-sized files in one
    copy-on-write commit. With ``cluster_by`` the files take disjoint
    ranges of that column (one repartitionByRange; works for STRING
    keys), so scan()/scan_keys() prune on it — the maintenance pass
    that keeps the streaming LSH index's bucket-key pushdown sharp as
    appends accumulate. Old snapshots stay readable (time travel) and
    keep the pre-optimize files."""
    head = _load_manifest(root, _versions(root)[-1])
    stats_cols = head["stats_cols"]
    df = read(spark, root)
    total = df.count()
    n_files = max(1, -(-total // target_file_rows))
    tag = f"v{head['version'] + 1}-opt"
    if cluster_by is not None:
        clustered = df.repartitionByRange(n_files, cluster_by)
    else:
        clustered = df.repartition(n_files)
    entries = _write_files(
        spark, clustered, root, tag, stats_cols, _bcols(head)
    )
    return _commit(root, {
        "operation": "optimize", "stats_cols": stats_cols,
        "files": entries,
        **_carry_meta(head),
    })
