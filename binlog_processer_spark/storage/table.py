"""Snapshot-committed table storage — the Iceberg stand-in.

Design target is an Iceberg catalog (`df.writeTo(tbl).append()`, snapshot
rollback, MERGE INTO); this environment ships no Iceberg runtime jar, so the
same contract is implemented on partitioned Parquet + JSON manifests:

- every write lands in a fresh immutable snapshot directory
  ``<table>/snap-<n>/`` (no file is ever mutated);
- a snapshot manifest records the data location + lineage of its parents,
  AND the complete data-file inventory (Iceberg manifests do exactly this):
  readers and ``data_files()`` consume the recorded list — no directory
  walking on the read path, so planning cost is one manifest read however
  many files the table has, and the same contract ports to HDFS/S3 where
  listing is slow and non-atomic;
- ``rewrite_files`` commits a snapshot that replaces a subset of files
  (the partition/file-scoped alternative to a full-table overwrite);
- ``write_deletes`` commits Iceberg-v2-style equality-delete files
  (merge-on-read row-level deletes: kilobytes written, no data file
  touched; readers apply a sequence-scoped anti-join and
  ``materialize_deletes`` folds the debt in);
- ``_current`` is flipped by an atomic rename — the temp→rename commit the
  reference does per Avro file (PartitionWriterManager.java:98-116,
  HdfsStorage.java:40-51), promoted to table level;
- readers resolve ``_current`` then read only that snapshot's data —
  uncommitted writes are invisible (snapshot isolation);
- ``rollback(n)`` re-points ``_current`` — the resume story's safety net.

``append`` mode creates a snapshot whose manifest unions the parent's data
dirs; ``overwrite`` replaces them. Partition pruning still works: data dirs
use Hive-style ``k=v`` layout and readers pass ``basePath`` so Spark prunes
on partition filters.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import time
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructType

from . import fs as fsmod

if TYPE_CHECKING:
    import pyarrow as pa


def _bloom_bits_from_keys(
    keys, n: int, bits_per_key: int, k: int
) -> tuple[int, bytes]:
    """Bloom bit array over ``n`` canonical byte keys — module-level so
    the commit-time ``applyInPandas`` builder ships it to executors by
    module reference. Same blake2b double-hash scheme as
    ``SnapshotTable._bloom_seed``/``_bloom_might_contain`` probe-side."""
    m_bits = max(64, ((n * bits_per_key + 7) // 8) * 8)
    bits = bytearray(m_bits // 8)
    for vb in keys:
        d = hashlib.blake2b(vb, digest_size=16).digest()
        h1 = int.from_bytes(d[:8], "little")
        h2 = int.from_bytes(d[8:], "little") | 1
        for i in range(k):
            p = (h1 + i * h2) % m_bits
            bits[p >> 3] |= 1 << (p & 7)
    return m_bits, bytes(bits)

# widening promotions the Spark 4 parquet reader applies at SCAN time (so a
# migrated schema serves old files unrewritten) — deliberately the same set
# the reference's SchemaConverter.java:14-74 promotes between schema
# versions, mirrored engine-side by functions/compat.widen_types
_WIDEN_PAIRS = {
    ("integer", "long"),
    ("float", "double"),
    ("binary", "string"),
}


class CommitConflict(RuntimeError):
    """Raised when an optimistic commit loses the race: the table (or
    catalog) advanced past the parent this writer built on. The staged
    snapshot directory is orphaned (never referenced) and reclaimed by
    ``expire_snapshots``; the caller re-reads and retries."""


def _widens(old: DataType, new: DataType) -> bool:
    """True when parquet files written as ``old`` read correctly under
    ``new`` without a rewrite (equality, a widening promotion, or the same
    recursively inside arrays/maps/structs; nested structs may also gain
    fields — the reader null-fills them)."""
    if old == new:
        return True
    if (old.typeName(), new.typeName()) in _WIDEN_PAIRS:
        return True
    if isinstance(old, ArrayType) and isinstance(new, ArrayType):
        return _widens(old.elementType, new.elementType)
    if isinstance(old, MapType) and isinstance(new, MapType):
        return _widens(old.keyType, new.keyType) and _widens(
            old.valueType, new.valueType
        )
    if isinstance(old, StructType) and isinstance(new, StructType):
        newf = {f.name: f for f in new.fields}
        if {f.name for f in old.fields} - set(newf):
            return False  # dropping a nested field loses data silently
        return all(
            _widens(f.dataType, newf[f.name].dataType) for f in old.fields
        )
    return False


class SnapshotTable:
    """Root may be a plain path or any Hadoop-supported URI (``hdfs://``,
    ``s3a://``, ``file://``): metadata I/O routes through storage/fs.py, the
    data I/O through Spark itself (see fs.py for the commit-atomicity
    caveats per scheme)."""

    def __init__(self, root: str):
        self.root = root
        self._fsimpl: fsmod.FS | None = None
        if not fsmod.is_uri(root):
            os.makedirs(root, exist_ok=True)

    @property
    def _fs(self) -> fsmod.FS:
        # lazy: a HadoopFS binds to the active SparkSession, which may not
        # exist yet when the table handle is constructed
        if self._fsimpl is None:
            self._fsimpl = fsmod.fs_for(self.root)
        return self._fsimpl

    def _join(self, *parts: str) -> str:
        return fsmod.join(self.root, *parts)

    # -- manifest plumbing ---------------------------------------------------
    def _current_path(self) -> str:
        return self._join("_current")

    def current_snapshot(self) -> int | None:
        try:
            return json.loads(self._fs.read_text(self._current_path()))[
                "snapshot"
            ]
        except FileNotFoundError:
            return None

    def _next_snapshot(self) -> int:
        """Mint a snapshot id: successor of the current pointer, bumped
        past any snap-N directory already on disk. Ids never reuse —
        after a rollback the orphaned (rolled-past) snapshots keep their
        dirs until expire_snapshots vacuums them, and the next commit
        must not collide with or silently adopt them (Iceberg ids are
        monotone for the same reason). One root listing per commit,
        bounded by the retained-snapshot count."""
        parent = self.current_snapshot()
        nxt = (parent + 1) if parent is not None else 0
        for d in self._fs.list_dirs(self.root):
            name = d.rsplit("/", 1)[-1]
            if name.startswith("snap-"):
                try:
                    nxt = max(nxt, int(name[5:]) + 1)
                except ValueError:
                    continue
        return nxt

    def _manifest(self, snap: int) -> dict:
        return json.loads(
            self._fs.read_text(self._join(f"snap-{snap}", "manifest.json"))
        )

    def _reserve_snapshot(self) -> tuple[int, str]:
        """Mint AND atomically claim a snapshot id: O_EXCL on a
        ``.reserved`` marker inside the candidate dir, bumping on loss.
        Without the claim, two concurrent writers that minted the same id
        both pass Spark's errorifexists pre-check and MERGE their output
        files into one snap dir — the winner's snapshot then contains the
        loser's rows, and the loser's retry lands them twice (caught by
        tests/test_table_maintenance.py's concurrent-append test). A
        reserved-but-never-committed dir (CAS loser, crash) is invisible
        to readers and vacuumed by ``expire_snapshots``."""
        n = self._next_snapshot()
        token = json.dumps({"ts": time.time(), "pid": os.getpid()})
        while True:
            snap_dir = self._join(f"snap-{n}")
            self._fs.mkdirs(snap_dir)
            if self._fs.create_exclusive(
                fsmod.join(snap_dir, ".reserved"), token
            ):
                return n, snap_dir
            n += 1

    # a crashed committer's lock blocks writers for at most this long;
    # the lock is held only across two metadata reads + one pointer flip
    _LOCK_TTL_S = 60.0
    # a reserved-but-uncommitted snap dir younger than this survives
    # expire_snapshots (in-flight writer grace — Iceberg orphan min-age)
    _RESERVE_GRACE_S = 300.0
    _UNCHECKED = object()  # sentinel: pointer move without a parent check

    def _commit(self, snap: int, expected_parent=_UNCHECKED) -> None:
        """Flip ``_current``. With ``expected_parent`` set, the flip is an
        optimistic compare-and-swap (Iceberg's commit contract): under a
        short exclusive lock, verify the table still points at the parent
        this writer built on, else raise :class:`CommitConflict` — two
        concurrent writers can both stage snapshots, but only one lineage
        survives and the loser FAILS instead of silently orphaning the
        winner's commit. ``rollback`` stays an unchecked, explicit move."""
        doc = json.dumps({"snapshot": snap})
        if expected_parent is self._UNCHECKED:
            self._fs.write_text_atomic(self._current_path(), doc)
            return
        try:
            with fsmod.commit_lock(
                self._fs, self._join("_commit.lock"), self._LOCK_TTL_S
            ):
                cur = self.current_snapshot()
                if cur != expected_parent:
                    raise CommitConflict(
                        f"concurrent commit on {self.root}: built on parent "
                        f"{expected_parent} but the table now points at "
                        f"{cur}; re-read and retry"
                    )
                self._fs.write_text_atomic(self._current_path(), doc)
        except fsmod.LockHeld:
            raise CommitConflict(
                f"commit lock on {self.root} is held by another writer; "
                "retry the commit"
            ) from None

    def _write_manifest(self, snap_dir: str, manifest: dict) -> None:
        self._fs.write_text_atomic(
            fsmod.join(snap_dir, "manifest.json"), json.dumps(manifest, indent=1)
        )

    def _walk_rel(self, base: str, ext: str) -> list[str]:
        """Root-relative data files under ``base`` — used ONCE per write, at
        commit time, over the freshly written dir (the writer's own output);
        never on the read path."""
        return sorted(
            fsmod.rel_to(p, self.root)
            for p in self._fs.list_files(base, ext)
        )

    def _sizes_rel(self, base: str, ext: str) -> dict[str, int]:
        """Root-relative {file: bytes} under ``base`` — same single listing
        as ``_walk_rel`` (Hadoop statuses carry lengths), used at commit time
        to record the inventory's sizes in the manifest (Iceberg manifests
        record per-file sizes for exactly this reason: planners — e.g.
        compaction — never stat data files)."""
        return {
            fsmod.rel_to(p, self.root): s
            for p, s in self._fs.list_sizes(base, ext).items()
        }

    def _files_rel(self, m: dict) -> list[str]:
        """Root-relative inventory of the data files a manifest reads.

        Manifests written by this version carry the inventory (``files``);
        legacy manifests fall back to a directory walk with exclusions."""
        if "files" in m:
            return m["files"]
        ext = "." + ("orc" if m.get("format", "parquet") == "orc" else "parquet")
        excluded = set(m.get("excluded_files", []))
        out: list[str] = []
        for d in m["data_dirs"]:
            out.extend(
                p
                for p in self._walk_rel(self._join(d), ext)
                if p not in excluded
            )
        return sorted(out)

    # -- zone-map stats --------------------------------------------------
    @staticmethod
    def _stat_scalar(v):
        """JSON-comparable form of a footer stat or predicate bound:
        ints/floats/strings/bools pass through, timestamps become epoch
        MICROSECONDS (naive datetimes read as UTC — the engine pins the
        session timezone to UTC), dates become ISO strings (lexicographic
        order = date order). Returns None for types with no stable order
        across a JSON round-trip — the caller treats those as unknown.
        The SAME conversion runs at record time and at prune time, so a
        datetime predicate compares against datetime-derived stats
        consistently; the residual filter in ``read_where`` keeps results
        exact even if a bound of a mismatched type disables pruning."""
        import datetime as _dt

        if isinstance(v, (bool, int, float, str)):
            return v
        if isinstance(v, _dt.datetime):
            if v.tzinfo is None:
                v = v.replace(tzinfo=_dt.timezone.utc)
            return int(v.timestamp() * 1_000_000)
        if isinstance(v, _dt.date):
            return v.isoformat()
        return None

    # Spark dtypes whose min/max survive a JSON round-trip order-intact
    # (the _stat_scalar contract); everything else is skipped → unknown →
    # pruning keeps the file, exactness never at risk
    _STAT_DTYPES = (
        "tinyint", "smallint", "int", "bigint", "float", "double",
        "string", "boolean", "date", "timestamp",
    )
    # dtypes whose canonical byte form matches _bloom_bytes after a
    # cast-to-string (str(int) == Spark's int→string cast; strings as-is)
    _BLOOM_DTYPES = ("string", "tinyint", "smallint", "int", "bigint")

    def _collect_file_stats(
        self,
        spark: SparkSession,
        rel_files: list[str],
        stats_columns: list[str],
        bloom_columns: list[str],
    ) -> tuple[dict[str, dict], dict[str, dict]]:
        """Per-file zone maps AND bloom filters for freshly written files,
        computed ON THE EXECUTORS — ``(file_stats, blooms)``.

        One column-pruned Spark read of the new files, keyed by
        ``input_file_name()``:

        - zone maps: a codegen min/max aggregate, one tiny row per file
          collected. ``[min, max]`` per column; ``None`` when the file
          holds no non-null value (range predicates drop it outright);
          ABSENT when the column is missing from the files' physical
          schema (partition columns live in the path) or its type has no
          stable JSON order — pruning then keeps the file, always safe.
        - blooms: distinct ``(file, column, value)`` triples (map-side
          partial distinct shrinks the shuffle to the keys), then an
          ``applyInPandas`` per (file, column) group builds the bit
          array — Python cost bounded by distinct keys per file, parallel
          across files, never on the driver.

        Works identically for plain and URI-rooted (HDFS/S3) tables: the
        executors read through Hadoop exactly as the write did, so remote
        tables keep file pruning — the feature that matters most at 10^12
        rows (the reference's native habitat is HDFS,
        HdfsStorage.java:40-104). The commit critical section (_commit's
        pointer flip) stays metadata-only; this runs before it.

        New files always come from ONE DataFrame's save, so they share a
        physical schema — mixed-schema hazards (a column in one file's
        data and another file's path) cannot arise within a commit.
        """
        if not rel_files or not (stats_columns or bloom_columns):
            return {}, {}
        df = spark.read.parquet(*[self._join(p) for p in rel_files])
        have = dict(df.dtypes)
        scols = [
            c
            for c in stats_columns or []
            if have.get(c, "").startswith(self._STAT_DTYPES)
        ]
        bcols = [
            c
            for c in bloom_columns or []
            if have.get(c) in self._BLOOM_DTYPES
        ]

        file_stats: dict[str, dict] = {}
        if scols:
            aggs = []
            for i, c in enumerate(scols):
                aggs += [
                    F.min(c).alias(f"__mn{i}"),
                    F.max(c).alias(f"__mx{i}"),
                ]
            for r in (
                df.groupBy(F.input_file_name().alias("__f"))
                .agg(*aggs)
                .collect()
            ):
                per: dict = {}
                for i, c in enumerate(scols):
                    mn, mx = r[f"__mn{i}"], r[f"__mx{i}"]
                    if mn is None:
                        per[c] = None  # no non-null values in this file
                        continue
                    mns, mxs = self._stat_scalar(mn), self._stat_scalar(mx)
                    if mns is None or mxs is None:
                        continue  # not JSON-order-comparable → unknown
                    per[c] = [mns, mxs]
                file_stats[self._rel(r["__f"])] = per

        blooms: dict[str, dict] = {}
        if bcols:
            kv = [
                x
                for c in bcols
                for x in (F.lit(c), F.col(c).cast("string"))
            ]
            pairs = (
                df.select(
                    F.input_file_name().alias("__f"),
                    F.explode(F.create_map(*kv)).alias("__c", "__v"),
                )
                .where(F.col("__v").isNotNull())
                .distinct()
            )
            bpk, k, max_keys = (
                self._BLOOM_BITS_PER_KEY,
                self._BLOOM_K,
                self._BLOOM_MAX_KEYS,
            )

            def _build(pdf):
                import pandas as pd

                n = len(pdf)
                if n == 0 or n > max_keys:
                    # beyond the cap: not recorded (pruning keeps the file)
                    return pd.DataFrame(
                        {"__f": [], "__c": [], "m": [], "k": [], "b64": []}
                    )
                m_bits, raw = _bloom_bits_from_keys(
                    (v.encode("utf-8") for v in pdf["__v"]), n, bpk, k
                )
                return pd.DataFrame(
                    [
                        {
                            "__f": pdf["__f"].iloc[0],
                            "__c": pdf["__c"].iloc[0],
                            "m": m_bits,
                            "k": k,
                            "b64": base64.b64encode(raw).decode("ascii"),
                        }
                    ]
                )

            for r in (
                pairs.groupBy("__f", "__c")
                .applyInPandas(
                    _build, "__f string, __c string, m int, k int, b64 string"
                )
                .collect()
            ):
                blooms.setdefault(self._rel(r["__f"]), {})[r["__c"]] = {
                    "m": r["m"],
                    "k": r["k"],
                    "b64": r["b64"],
                }
        return file_stats, blooms

    # -- bloom file index --------------------------------------------------
    _BLOOM_BITS_PER_KEY = 16
    _BLOOM_K = 11  # ≈ ln2 · bits/key → fpp ≈ 0.05%
    _BLOOM_MAX_KEYS = 2_000_000  # per file per column; beyond → not recorded

    @staticmethod
    def _bloom_bytes(v) -> bytes | None:
        """Canonical byte form a value hashes under — the SAME at build and
        probe time. Strings and integers only: their canonical form survives
        JSON/pyarrow round-trips; floats/timestamps/bools do not reliably,
        and an inconsistent canon would prune a file that matches — those
        types are never recorded (absent ⇒ keep the file ⇒ exact)."""
        if isinstance(v, bool) or v is None:
            return None
        if isinstance(v, str):
            return v.encode("utf-8")
        if isinstance(v, int):
            return str(v).encode("ascii")
        return None

    @staticmethod
    def _bloom_seed(vb: bytes) -> tuple[int, int]:
        """(h1, h2) double-hashing seed for a value — position i is
        (h1 + i·h2) mod m, h2 forced odd for a full-period stride."""
        d = hashlib.blake2b(vb, digest_size=16).digest()
        return (
            int.from_bytes(d[:8], "little"),
            int.from_bytes(d[8:], "little") | 1,
        )

    @staticmethod
    def _bloom_might_contain(entry: dict, seed: tuple[int, int]) -> bool:
        bits = base64.b64decode(entry["b64"])
        m, k = entry["m"], entry["k"]
        h1, h2 = seed
        return all(
            bits[p >> 3] & (1 << (p & 7))
            for p in ((h1 + i * h2) % m for i in range(k))
        )

    def _load_blooms(self, m: dict) -> dict:
        rel = m.get("blooms")
        if not rel:
            return {}
        try:
            return json.loads(self._fs.read_text(self._join(rel)))
        except FileNotFoundError:
            # expired/absent sidecar: pruning degrades, reads stay exact
            return {}

    def _bloom_manifest_keys(
        self,
        snap_dir: str,
        parent_m: dict | None,
        new_blooms: dict[str, dict],
        bloom_columns: list[str] | None = None,
        drop: set[str] | frozenset[str] = frozenset(),
    ) -> dict:
        """Manifest entries for the bloom index at commit: inherit the
        parent's column contract (a table that records blooms keeps
        recording them), carry surviving per-file entries, merge the new
        files' executor-built blooms (``_collect_file_stats``), and write
        THIS snapshot's own sidecar — snap dirs are self-contained because
        expire_snapshots deletes expired dirs wholesale. Returns {} when
        the table records no blooms."""
        cols = bloom_columns or (parent_m or {}).get("bloom_columns")
        if not cols:
            return {}
        carried = {
            f: e
            for f, e in self._load_blooms(parent_m or {}).items()
            if f not in drop
        }
        carried.update(new_blooms)
        p = fsmod.join(snap_dir, "blooms.json")
        self._fs.write_text_atomic(p, json.dumps(carried))
        return {
            "bloom_columns": cols,
            "blooms": fsmod.rel_to(p, self.root),
        }

    def prune_files(
        self,
        predicates: dict[str, tuple],
        snapshot: int | None = None,
    ) -> list[str]:
        """Manifest-only file pruning: root-relative files of the snapshot
        that MAY contain rows matching every predicate. ``predicates`` maps
        column → inclusive ``(lo, hi)`` bounds (either side ``None`` =
        unbounded; equality = ``(v, v)``). A file is dropped only when its
        recorded zone map PROVES a predicate empty (or, for an EQUALITY
        predicate on a bloom-indexed column, the file's bloom proves the
        key absent) — missing stats always keep the file, so the result
        is a superset of the matching files and exactness lives in the
        residual filter (``read_where``). Zone maps live in the manifest
        (one JSON read); blooms in the snapshot's sidecar, loaded only
        when an equality probe can use them."""
        snap = self.current_snapshot() if snapshot is None else snapshot
        if snap is None:
            raise FileNotFoundError(f"no committed snapshot in {self.root}")
        m = self._manifest(snap)
        stats = m.get("file_stats", {})
        bloom_cols = set(m.get("bloom_columns") or [])
        probes: dict[str, tuple[int, int]] = {}
        for col, (lo, hi) in predicates.items():
            if col in bloom_cols and lo is not None and lo == hi:
                vb = self._bloom_bytes(lo)
                if vb is not None:
                    probes[col] = self._bloom_seed(vb)
        blooms = self._load_blooms(m) if probes else {}
        keep: list[str] = []
        for rel in self._files_rel(m):
            fst = stats.get(rel) or {}
            skip = False
            for col, (lo, hi) in predicates.items():
                if col not in fst:
                    continue  # unknown → cannot prune on this column
                rng = fst[col]
                if rng is None:  # no non-null values: no range can match
                    skip = True
                    break
                mn, mx = rng
                lo_s = self._stat_scalar(lo) if lo is not None else None
                hi_s = self._stat_scalar(hi) if hi is not None else None
                if (lo_s is not None and mx < lo_s) or (
                    hi_s is not None and mn > hi_s
                ):
                    skip = True
                    break
            if not skip and probes:
                fb = blooms.get(rel, {})
                for col, seed in probes.items():
                    entry = fb.get(col)
                    if entry is not None and not self._bloom_might_contain(
                        entry, seed
                    ):
                        skip = True
                        break
            if not skip:
                keep.append(rel)
        return keep

    def prune_files_any(
        self,
        column: str,
        values: list,
        snapshot: int | None = None,
        max_probes: int = 50_000_000,
    ) -> list[str] | None:
        """Files that MAY contain ANY of ``values`` in ``column`` — the
        multi-key point-lookup planner (the streaming upsert asks 'which
        state files hold any of this micro-batch's keys' every trigger;
        answering it from the bloom index replaces a full table scan with
        metadata probes). Returns a SUPERSET of the true hit set (bloom
        fp ≈ 0.05%; files without a recorded bloom are always kept), or
        ``None`` when the snapshot records no bloom for the column, a
        value's type is unsupported, or the probe budget
        (values × files) exceeds ``max_probes`` — callers fall back to
        their scan path; correctness never depends on this planner."""
        snap = self.current_snapshot() if snapshot is None else snapshot
        if snap is None:
            raise FileNotFoundError(f"no committed snapshot in {self.root}")
        m = self._manifest(snap)
        if column not in (m.get("bloom_columns") or []):
            return None
        files = self._files_rel(m)
        seeds: list[tuple[int, int]] = []
        for v in values:
            vb = self._bloom_bytes(v)
            if vb is None:
                return None
            seeds.append(self._bloom_seed(vb))
        if len(seeds) * len(files) > max_probes:
            return None
        blooms = self._load_blooms(m)
        keep: list[str] = []
        for rel in files:
            entry = (blooms.get(rel) or {}).get(column)
            if entry is None:
                keep.append(rel)  # unknown → may contain
                continue
            bits = base64.b64decode(entry["b64"])
            mb, k = entry["m"], entry["k"]
            for h1, h2 in seeds:
                if all(
                    bits[p >> 3] & (1 << (p & 7))
                    for p in ((h1 + i * h2) % mb for i in range(k))
                ):
                    keep.append(rel)
                    break
        return keep

    def read_where(
        self,
        spark: SparkSession,
        predicates: dict[str, tuple],
        snapshot: int | None = None,
    ) -> DataFrame:
        """Zone-map-pruned scan with the EXACT residual filter applied:
        plans only the files ``prune_files`` keeps, then filters rows to
        the predicate bounds, so results are identical to
        ``read().filter(...)`` whether or not any stats were recorded —
        stats only decide how many files the scan opens."""
        snap = self.current_snapshot() if snapshot is None else snapshot
        if snap is None:
            raise FileNotFoundError(f"no committed snapshot in {self.root}")
        files = self.prune_files(predicates, snap)
        if files:
            df = self.read_files(spark, files, snap)
        else:
            m = self._manifest(snap)
            df = spark.createDataFrame(
                [], StructType.fromJson(json.loads(m["schema"]))
            )
        for col, (lo, hi) in predicates.items():
            if lo is not None:
                df = df.filter(F.col(col) >= lo)
            if hi is not None:
                df = df.filter(F.col(col) <= hi)
        return df

    # -- write ---------------------------------------------------------------
    def write(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        mode: str = "overwrite",
        properties: dict | None = None,
        file_format: str = "parquet",
        stats_columns: list[str] | None = None,
        cluster_by: list[str] | None = None,
        bloom_columns: list[str] | None = None,
        zorder_by: list[str] | None = None,
        zorder_bits: int = 16,
        evolve_partitioning: bool = False,
    ) -> int:
        """``file_format``: 'parquet' (default) or 'orc' — the ORC path is the
        Hive-side S9 analogue (HiveCompareByFile.java reads ORC tables); a
        table keeps one format for its whole lineage.

        ``stats_columns``: record per-file min/max zone maps in the manifest
        at commit (see ``prune_files``/``read_where``). ``cluster_by``:
        range-distribute rows across tasks on these columns before writing
        (one extra shuffle — Iceberg's ``write.distribution-mode=range`` +
        sort-order analogue) so each data file covers a tight value range.
        Without it zone maps are technically correct but prune nothing:
        every task holds rows from the whole domain, so every file's
        min/max spans the whole domain too — in-task sorting alone cannot
        narrow a file's range, only routing can.

        ``zorder_by``: like ``cluster_by`` but on the columns' interleaved
        Morton key (storage/zorder.py) — every listed column gets tight
        per-file ranges instead of only the leading one; stats for those
        columns are recorded automatically. Costs one extra tiny min/max
        aggregate over the input for the fixed-point domains.

        ``bloom_columns``: record a per-file bloom filter over each listed
        string/int column's distinct values (parquet tables only; see
        ``_build_blooms``) — point-lookup pruning for high-cardinality keys
        that zone maps cannot narrow, NO clustering required: equality
        probes in ``prune_files``/``read_where`` skip files whose bloom
        proves the key absent."""
        parent = self.current_snapshot()
        snap, snap_dir = self._reserve_snapshot()
        data_dir = fsmod.join(snap_dir, "data")
        excluded: list[str] = []
        if parent is not None:
            pm = self._manifest(parent)
            pfmt = pm.get("format", "parquet")
            if pfmt != file_format and mode == "append":
                raise ValueError(
                    f"cannot append {file_format} to a {pfmt} table"
                )
            if mode == "append":
                # appends must not fork the table's schema: Spark silently
                # NULL-fills missing parquet columns on read, so a mixed
                # table reads back wrong instead of failing. Schema changes
                # require an explicit overwrite (migration rewrites data).
                parent_schema = StructType.fromJson(json.loads(pm["schema"]))
                # names + types only, order-insensitive: nullability varies
                # with how a DataFrame was derived (parquet re-reads are
                # all-nullable) and partitioned re-reads move the partition
                # columns last — neither is a read-back hazard (reads apply
                # the manifest schema by name)
                def _shape(s: StructType) -> list:
                    return sorted((f.name, f.dataType) for f in s.fields)

                if _shape(df.schema) != _shape(parent_schema):
                    raise ValueError(
                        "append schema mismatch vs committed table schema "
                        f"in {self.root}: appending {df.schema.simpleString()} "
                        f"to {parent_schema.simpleString()}; overwrite (with "
                        "a migration) to change a table's schema"
                    )
                excluded = pm.get("excluded_files", [])
                if (partition_by or []) != pm.get("partition_by", []) and (
                    not evolve_partitioning
                ):
                    # partition-spec evolution (Iceberg-style) is legal —
                    # each data dir keeps its own Hive layout and the scan
                    # resolves values per dir via basePath, with columns
                    # that moved between path and data served either way —
                    # but an ACCIDENTAL spec change silently degrades
                    # partition pruning for the new data, so it must be
                    # asked for explicitly
                    raise ValueError(
                        f"append partitioning {partition_by or []} differs "
                        f"from the table spec {pm.get('partition_by', [])} "
                        f"in {self.root}; pass evolve_partitioning=True to "
                        "evolve the spec (new data only; old dirs keep "
                        "their layout)"
                    )
        if zorder_by:
            # Morton-curve clustering (storage/zorder.py): every listed
            # column gets tight per-file zone maps, not just the leading
            # one — the multi-dimension form of cluster_by. Implies
            # recording stats for those columns (clustering without the
            # zone maps would prune nothing).
            if cluster_by:
                raise ValueError("zorder_by and cluster_by are exclusive")
            from .zorder import zorder_cluster

            df = zorder_cluster(
                df, list(zorder_by), bits=zorder_bits,
                prefix_cols=partition_by,
            )
            stats_columns = sorted(set(stats_columns or []) | set(zorder_by))
        if cluster_by:
            df = df.repartitionByRange(*cluster_by).sortWithinPartitions(
                *cluster_by
            )
        w = df.write.mode("errorifexists")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.format(file_format).save(data_dir)

        ext = "." + ("orc" if file_format == "orc" else "parquet")
        sizes = self._sizes_rel(data_dir, ext)
        files = sorted(sizes)
        new_files = files
        file_stats: dict[str, dict] = {}
        parent_for_blooms = None
        if mode == "append" and parent is not None:
            pm = self._manifest(parent)
            data_dirs_parent = pm["data_dirs"]
            parent_for_blooms = pm
            # a table that records zone maps keeps recording them: appends
            # inherit the stats contract (and the parent files' stats)
            stats_columns = stats_columns or pm.get("stats_columns") or None
            file_stats.update(pm.get("file_stats", {}))
        eff_bloom_cols = (
            bloom_columns or (parent_for_blooms or {}).get("bloom_columns")
        )
        new_blooms: dict[str, dict] = {}
        if file_format == "parquet" and (stats_columns or eff_bloom_cols):
            # executor-side stats+bloom pass over the new files only —
            # works for URI-rooted tables too, never reads driver-side
            new_stats, new_blooms = self._collect_file_stats(
                df.sparkSession,
                new_files,
                stats_columns or [],
                eff_bloom_cols or [],
            )
            file_stats.update(new_stats)
        data_dirs = [fsmod.rel_to(data_dir, self.root)]
        if mode == "append" and parent is not None:
            data_dirs = data_dirs_parent + data_dirs
            files = sorted(self._files_rel(pm) + files)
            sizes.update(pm.get("file_bytes", {}))
        manifest = {
            "snapshot": snap,
            "parent": parent,
            "mode": mode,
            "created_ms": int(time.time() * 1000),
            "partition_by": partition_by or [],
            "data_dirs": data_dirs,
            "format": file_format,
            # complete file inventory, recorded at commit (Iceberg-style):
            # the read path never lists directories again
            "files": files,
            # per-file sizes from the same commit-time listing; planners
            # (compaction) read them here instead of statting data files.
            # Files inherited from a pre-sizes manifest may be absent —
            # consumers stat those lazily (file_sizes()).
            "file_bytes": sizes,
            "excluded_files": excluded,
            # schema travels in metadata (Iceberg-style): readers never pay
            # inference, and empty snapshots stay readable
            "schema": df.schema.json(),
            "properties": properties or {},
        }
        if mode == "append" and parent is not None:
            # equality-delete debt outlives appends: the new files' commit
            # sequence is later than every carried delete, so the deletes
            # keep applying to old files only (overwrite resets the debt
            # with everything else)
            carried_deletes = pm.get("delete_files")
            if carried_deletes:
                manifest["delete_files"] = carried_deletes
        if stats_columns and file_format == "parquet":
            # per-file [min,max] zone maps from the commit-time footer
            # pass — prune_files/read_where plan file-skipping from these
            manifest["stats_columns"] = stats_columns
            manifest["file_stats"] = {
                p: file_stats[p] for p in files if p in file_stats
            }
        if file_format == "parquet":
            manifest.update(
                self._bloom_manifest_keys(
                    snap_dir,
                    parent_for_blooms,
                    new_blooms,
                    bloom_columns=bloom_columns,
                )
            )
        self._write_manifest(snap_dir, manifest)
        self._commit(snap, expected_parent=parent)
        return snap

    def write_small(
        self,
        spark: SparkSession,
        rows: pa.Table | list[tuple],
        schema: StructType,
        mode: str = "overwrite",
    ) -> int:
        """Commit a METADATA-SCALE relation already held on the driver:
        ``write_rows`` (no Spark job) on a local root, one single-file
        Spark write on a URI root, where pyarrow has no filesystem."""
        if not fsmod.is_uri(self.root):
            return self.write_rows(rows, schema, mode=mode)
        return self.write(
            spark.createDataFrame(rows, schema).coalesce(1), mode=mode
        )

    def write_rows(
        self,
        rows: pa.Table | list[tuple],
        schema: StructType,
        mode: str = "overwrite",
        properties: dict | None = None,
    ) -> int:
        """Driver-side single-file commit for METADATA-SCALE tables (run
        reports, pipeline rollups, quarantine rows): one pyarrow parquet
        write + the same snapshot/manifest/commit path as ``write()``,
        bypassing the Spark job a 20-row relation would otherwise pay
        (~2 s of planning + committer overhead per call — measured on the
        process_report write). ``rows`` is an Arrow table (e.g.
        ``DataFrame.toArrow()``, columns matched by name) or tuples in
        ``schema`` order. The file carries the types Spark writes:
        timestamps as UTC-adjusted micros (naive datetimes are UTC wall
        times), dates as date32. Parquet only, unpartitioned, no
        stats/blooms; URI-rooted tables go through ``write_small``.
        Appends enforce the same shape-compatible-schema contract as
        ``write()``."""
        if fsmod.is_uri(self.root):
            raise ValueError(
                "write_rows needs a local root; use write() for URI roots"
            )
        import pyarrow as pa
        import pyarrow.parquet as pq

        parent = self.current_snapshot()
        if mode == "append" and parent is not None:
            pm = self._manifest(parent)
            if pm.get("format", "parquet") != "parquet":
                raise ValueError("cannot append parquet to a non-parquet table")
            parent_schema = StructType.fromJson(json.loads(pm["schema"]))

            def _shape(s: StructType) -> list:
                return sorted((f.name, f.dataType) for f in s.fields)

            if _shape(schema) != _shape(parent_schema):
                raise ValueError(
                    "append schema mismatch vs committed table schema "
                    f"in {self.root}"
                )
        snap, snap_dir = self._reserve_snapshot()
        data_dir = fsmod.join(snap_dir, "data")
        self._fs.mkdirs(data_dir)
        # the physical types Spark's own parquet write produces:
        # TimestampType is an instant (isAdjustedToUTC=true micros — a naive
        # pa.timestamp would land as TIMESTAMP_NTZ), ints as int64/int32
        _PA = {
            "string": pa.string(), "bigint": pa.int64(), "int": pa.int32(),
            "double": pa.float64(), "boolean": pa.bool_(),
            "timestamp": pa.timestamp("us", tz="UTC"), "date": pa.date32(),
        }
        fields = []
        for f in schema.fields:
            t = _PA.get(f.dataType.simpleString())
            if t is None:
                raise ValueError(
                    f"write_rows: unsupported dtype {f.dataType.simpleString()}"
                    " (use write() for complex schemas)"
                )
            fields.append(pa.field(f.name, t, nullable=f.nullable))
        target = pa.schema(fields)
        if isinstance(rows, pa.Table):
            tbl = rows.select(target.names).cast(target)
        else:
            tbl = pa.table(
                [
                    pa.array([r[i] for r in rows], type=f.type)
                    for i, f in enumerate(target)
                ],
                schema=target,
            )
        fname = "part-00000-driver.parquet"
        pq.write_table(tbl, os.path.join(data_dir, fname))
        sizes = self._sizes_rel(data_dir, ".parquet")
        files = sorted(sizes)
        data_dirs = [fsmod.rel_to(data_dir, self.root)]
        excluded: list[str] = []
        if mode == "append" and parent is not None:
            pm = self._manifest(parent)
            data_dirs = pm["data_dirs"] + data_dirs
            files = sorted(self._files_rel(pm) + files)
            sizes.update(pm.get("file_bytes", {}))
            excluded = pm.get("excluded_files", [])
        manifest = {
            "snapshot": snap,
            "parent": parent,
            "mode": mode,
            "created_ms": int(time.time() * 1000),
            "partition_by": [],
            "data_dirs": data_dirs,
            "format": "parquet",
            "files": files,
            "file_bytes": sizes,
            "excluded_files": excluded,
            "schema": schema.json(),
            "properties": properties or {},
        }
        self._write_manifest(snap_dir, manifest)
        self._commit(snap, expected_parent=parent)
        return snap

    def exclude_files(self, files: list[str]) -> int:
        """Metadata-only snapshot that drops the given data files from the
        table (paths absolute or root-relative) — the structural-quarantine
        commit for corrupt output files (ListCorruptAvroFile.java:34-44:
        unreadable Avro files are moved aside so the table stays readable).
        No data is touched; the parent snapshot still serves the old view."""
        parent = self.current_snapshot()
        if parent is None:
            raise FileNotFoundError(f"no committed snapshot in {self.root}")
        m = self._manifest(parent)
        rel = {self._rel(p) for p in files}
        snap, snap_dir = self._reserve_snapshot()
        self._fs.mkdirs(snap_dir)
        manifest = {
            **m,
            "snapshot": snap,
            "parent": parent,
            "mode": "exclude",
            "created_ms": int(time.time() * 1000),
            # the inventory IS the exclusion mechanism: a manifest diff
            "files": sorted(set(self._files_rel(m)) - rel),
            "file_bytes": {
                p: s
                for p, s in m.get("file_bytes", {}).items()
                if p not in rel
            },
            "excluded_files": sorted(set(m.get("excluded_files", [])) | rel),
        }
        if "file_stats" in m:
            manifest["file_stats"] = {
                p: s for p, s in m["file_stats"].items() if p not in rel
            }
        # self-contained sidecar: re-point "blooms" at THIS snap dir
        # (expired parents' dirs are deleted wholesale), dropping the
        # excluded files' entries
        manifest.update(self._bloom_manifest_keys(snap_dir, m, {}, drop=rel))
        self._write_manifest(snap_dir, manifest)
        self._commit(snap, expected_parent=parent)
        return snap

    def write_deletes(
        self, keys: DataFrame, key_cols: list[str] | None = None
    ) -> int:
        """Merge-on-read equality-delete commit (Iceberg v2 semantics):
        record the key tuples to delete in small parquet delete files under
        this commit's snap dir instead of rewriting any data file. Readers
        apply them as a scoped anti-join (see ``_apply_deletes``); rows with
        a matching key written in LATER commits are unaffected (sequence-
        number scoping), so delete-then-reappend round-trips correctly.

        This is THE row-level delete at 10^12 rows: a GDPR erasure of a few
        thousand keys on a 100 TB table commits in seconds and moves
        kilobytes; the read-side anti-join cost is amortized until
        ``materialize_deletes`` (or any compaction/rewrite of the affected
        files) folds the debt in. ``keys`` is distinct-reduced and cast to
        the table's column types before writing, so the stored keys match
        the data bit-for-bit however the caller derived them.

        Reference parity note: the reference deletes rows only by rewriting
        whole files at repair time (PartitionWriterManager.java analogue);
        delete files are the scale-path generalization.
        """
        parent = self.current_snapshot()
        if parent is None:
            raise FileNotFoundError(f"no committed snapshot in {self.root}")
        pm = self._manifest(parent)
        schema = StructType.fromJson(json.loads(pm["schema"]))
        types = {f.name: f.dataType for f in schema.fields}
        kcols = list(keys.columns if key_cols is None else key_cols)
        if not kcols:
            raise ValueError("write_deletes: key_cols must be non-empty")
        unknown = [c for c in kcols if c not in types]
        if unknown:
            raise ValueError(
                f"write_deletes: key columns {unknown} not in the table "
                f"schema of {self.root}"
            )
        snap, snap_dir = self._reserve_snapshot()
        del_dir = fsmod.join(snap_dir, "deletes")
        (
            keys.select(
                *[F.col(c).cast(types[c]).alias(c) for c in kcols]
            )
            .distinct()
            .write.mode("errorifexists")
            .parquet(del_dir)
        )
        new_rel = self._walk_rel(del_dir, ".parquet")
        manifest = {
            **pm,
            "snapshot": snap,
            "parent": parent,
            "mode": "delete",
            "created_ms": int(time.time() * 1000),
            "delete_files": list(pm.get("delete_files") or [])
            + [
                {"path": p, "seq": snap, "key_cols": kcols}
                for p in new_rel
            ],
        }
        # re-point the bloom sidecar at THIS (self-contained) snap dir
        manifest.update(self._bloom_manifest_keys(snap_dir, pm, {}))
        self._write_manifest(snap_dir, manifest)
        self._commit(snap, expected_parent=parent)
        return snap

    def materialize_deletes(self, spark: SparkSession) -> int:
        """Fold the table's equality-delete debt into the data files: every
        data file some delete could apply to (commit sequence older than a
        delete's) is rewritten with the deletes applied; files newer than
        every delete are untouched (carried by reference, never read); the
        delete files are dropped from the new manifest. Reads before and
        after return identical rows — this trades the per-read anti-join
        for one bounded rewrite, the compaction half of the merge-on-read
        contract. Returns the new snapshot (current one if there was no
        debt to fold)."""
        parent = self.current_snapshot()
        if parent is None:
            raise FileNotFoundError(f"no committed snapshot in {self.root}")
        m = self._manifest(parent)
        entries = m.get("delete_files") or []
        if not entries:
            return parent
        max_seq = max(int(e["seq"]) for e in entries)
        candidates = sorted(
            f
            for f in self._files_rel(m)
            if self._dir_seq(f) < max_seq
        )
        if candidates:
            replacement = self._scan(spark, m, candidates)
            return self.rewrite_files(
                candidates, replacement, _clear_deletes=True
            )
        # deletes with no live target files: metadata-only clear
        snap, snap_dir = self._reserve_snapshot()
        self._fs.mkdirs(snap_dir)
        manifest = {
            **m,
            "snapshot": snap,
            "parent": parent,
            "mode": "materialize",
            "created_ms": int(time.time() * 1000),
            "delete_files": [],
        }
        manifest.update(self._bloom_manifest_keys(snap_dir, m, {}))
        self._write_manifest(snap_dir, manifest)
        self._commit(snap, expected_parent=parent)
        return snap

    def migrate_schema(self, new_schema: StructType) -> int:
        """Metadata-only schema evolution (Iceberg-style): widen column
        types (int→long, float→double, binary→string — the reference's
        SchemaConverter.java:14-74 promotion set) and/or add nullable
        columns, WITHOUT touching a single data file. Spark's parquet
        reader applies widening promotions at scan time and null-fills
        absent columns, so every existing file serves the new schema as-is;
        subsequent appends are checked against (and must match) the new
        schema. Narrowing, drops, and renames are rejected — each would
        silently corrupt reads. At 10^12 rows this turns a full-table
        rewrite into one JSON commit."""
        parent = self.current_snapshot()
        if parent is None:
            raise FileNotFoundError(f"no committed snapshot in {self.root}")
        m = self._manifest(parent)
        if m.get("format", "parquet") != "parquet":
            raise ValueError(
                "migrate_schema is parquet-only: Spark's ORC reader does "
                "not apply widening promotions at scan time"
            )
        old = StructType.fromJson(json.loads(m["schema"]))
        newf = {f.name: f for f in new_schema.fields}
        dropped = [f.name for f in old.fields if f.name not in newf]
        if dropped:
            raise ValueError(
                f"migrate_schema cannot drop columns {dropped}: dropped "
                "data reads back silently missing; use an explicit "
                "overwrite migration"
            )
        bad = [
            f.name
            for f in old.fields
            if not _widens(f.dataType, newf[f.name].dataType)
        ]
        if bad:
            raise ValueError(
                f"migrate_schema: non-widening change on {bad} (allowed: "
                "int->long, float->double, binary->string, nullable adds)"
            )
        old_names = {f.name for f in old.fields}
        narrow_adds = [
            f.name
            for f in new_schema.fields
            if f.name not in old_names and not f.nullable
        ]
        if narrow_adds:
            raise ValueError(
                f"migrate_schema: added columns {narrow_adds} must be "
                "nullable (existing rows have no value for them)"
            )
        snap, snap_dir = self._reserve_snapshot()
        self._fs.mkdirs(snap_dir)
        manifest = {
            **m,
            "snapshot": snap,
            "parent": parent,
            "mode": "migrate",
            "created_ms": int(time.time() * 1000),
            "schema": new_schema.json(),
        }
        # carry the bloom sidecar into this (self-contained) snap dir
        manifest.update(self._bloom_manifest_keys(snap_dir, m, {}))
        self._write_manifest(snap_dir, manifest)
        self._commit(snap, expected_parent=parent)
        return snap

    def _rel(self, p: str) -> str:
        """Normalize a file path (absolute, root-relative, scheme URI) to
        root-relative form — ``input_file_name()`` returns URIs."""
        if fsmod.is_uri(self.root):
            try:
                return fsmod.rel_to(p, self.root)
            except ValueError:
                return p  # already root-relative
        if p.startswith("file:"):
            p = "/" + p[5:].lstrip("/")
        return os.path.relpath(p, self.root) if os.path.isabs(p) else p

    def rewrite_files(
        self,
        removed: list[str],
        replacement: DataFrame,
        extra_stats_columns: list[str] | None = None,
        _clear_deletes: bool = False,
    ) -> int:
        """Commit a snapshot that drops ``removed`` data files and adds the
        ``replacement`` rows — the file-scoped overwrite (Iceberg's
        copy-on-write row-level delete granularity). Untouched files are
        carried by reference in the manifest: they are never read, moved, or
        rewritten, so at 10^12 rows the cost scales with the affected files
        only. Schema and format are pinned to the table's (same guard as
        append)."""
        parent = self.current_snapshot()
        if parent is None:
            raise FileNotFoundError(f"no committed snapshot in {self.root}")
        pm = self._manifest(parent)
        file_format = pm.get("format", "parquet")
        parent_schema = StructType.fromJson(json.loads(pm["schema"]))

        def _shape(s: StructType) -> list:
            return sorted((f.name, f.dataType) for f in s.fields)

        if _shape(replacement.schema) != _shape(parent_schema):
            raise ValueError(
                "rewrite_files schema mismatch vs committed table schema in "
                f"{self.root}: {replacement.schema.simpleString()} vs "
                f"{parent_schema.simpleString()}"
            )
        rel_removed = {self._rel(p) for p in removed}
        inventory = set(self._files_rel(pm))
        unknown = rel_removed - inventory
        if unknown:
            raise ValueError(
                f"rewrite_files: not in the current snapshot: {sorted(unknown)[:5]}"
            )
        snap, snap_dir = self._reserve_snapshot()
        data_dir = fsmod.join(snap_dir, "data")
        w = replacement.write.mode("errorifexists")
        partition_by = pm.get("partition_by") or []
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.format(file_format).save(data_dir)
        ext = "." + ("orc" if file_format == "orc" else "parquet")
        new_sizes = self._sizes_rel(data_dir, ext)
        kept_sizes = {
            p: s
            for p, s in pm.get("file_bytes", {}).items()
            if p not in rel_removed
        }
        manifest = {
            "snapshot": snap,
            "parent": parent,
            "mode": "rewrite",
            "created_ms": int(time.time() * 1000),
            "partition_by": partition_by,
            "data_dirs": pm["data_dirs"] + [fsmod.rel_to(data_dir, self.root)],
            "format": file_format,
            "files": sorted((inventory - rel_removed) | set(new_sizes)),
            "file_bytes": {**kept_sizes, **new_sizes},
            "excluded_files": [],
            "schema": pm["schema"],
            "properties": pm.get("properties", {}),
        }
        if not _clear_deletes and pm.get("delete_files"):
            # kept (unrewritten) files may still owe equality deletes; the
            # new files' later sequence exempts them (their rows came from
            # a read that already applied the deletes)
            manifest["delete_files"] = pm["delete_files"]
        stats_cols = pm.get("stats_columns")
        if extra_stats_columns:
            # a clustering rewrite (e.g. z-order) may introduce pruning
            # columns the table never recorded; kept files simply lack the
            # new columns' stats (pruning keeps them — always safe)
            stats_cols = sorted(set(stats_cols or []) | set(extra_stats_columns))
        bloom_cols = pm.get("bloom_columns")
        new_stats: dict[str, dict] = {}
        new_blooms: dict[str, dict] = {}
        if file_format == "parquet" and (stats_cols or bloom_cols):
            new_stats, new_blooms = self._collect_file_stats(
                replacement.sparkSession,
                sorted(new_sizes),
                stats_cols or [],
                bloom_cols or [],
            )
        if stats_cols and file_format == "parquet":
            kept_stats = {
                p: s
                for p, s in pm.get("file_stats", {}).items()
                if p not in rel_removed
            }
            manifest["stats_columns"] = stats_cols
            manifest["file_stats"] = {**kept_stats, **new_stats}
        if file_format == "parquet":
            manifest.update(
                self._bloom_manifest_keys(
                    snap_dir, pm, new_blooms, drop=rel_removed
                )
            )
        self._write_manifest(snap_dir, manifest)
        self._commit(snap, expected_parent=parent)
        return snap

    def file_sizes(self, snapshot: int | None = None) -> dict[str, int]:
        """Root-relative {data file: bytes} for the given (default current)
        snapshot. Served from the manifest's commit-time record; files
        inherited from pre-``file_bytes`` manifests are statted once here
        (the legacy fallback — new commits always record sizes)."""
        snap = self.current_snapshot() if snapshot is None else snapshot
        if snap is None:
            return {}
        m = self._manifest(snap)
        recorded = m.get("file_bytes", {})
        return {
            p: recorded[p] if p in recorded else self._fs.size(self._join(p))
            for p in self._files_rel(m)
        }

    def data_files(self, snapshot: int | None = None) -> list[str]:
        """Absolute paths of the data files the given (default current)
        snapshot reads — straight from the manifest inventory (one JSON
        read, no directory listing)."""
        snap = self.current_snapshot() if snapshot is None else snapshot
        if snap is None:
            return []
        return [
            self._join(p) for p in self._files_rel(self._manifest(snap))
        ]

    # -- read ----------------------------------------------------------------
    def read(
        self, spark: SparkSession, snapshot: int | str | None = None
    ) -> DataFrame:
        """Scan exactly the manifest's file inventory (walk-free planning).
        ``snapshot`` may be an id or a tag name (``refs()``).

        Files are grouped by their snapshot data dir so each group's
        ``basePath`` resolves Hive-style partition values; partition-filter
        pruning still applies within each group."""
        snap = self.resolve(snapshot)
        if snap is None:
            raise FileNotFoundError(f"no committed snapshot in {self.root}")
        m = self._manifest(snap)
        return self._scan(spark, m, self._files_rel(m))

    def read_files(
        self,
        spark: SparkSession,
        files: list[str],
        snapshot: int | None = None,
    ) -> DataFrame:
        """Scan a SUBSET of the snapshot's files (absolute, root-relative, or
        file: URIs — ``input_file_name()`` output is accepted). The planned
        scan touches only these files; rows outside them are never read —
        the building block for file-scoped rewrites."""
        snap = self.current_snapshot() if snapshot is None else snapshot
        if snap is None:
            raise FileNotFoundError(f"no committed snapshot in {self.root}")
        m = self._manifest(snap)
        rel = sorted({self._rel(p) for p in files})
        unknown = set(rel) - set(self._files_rel(m))
        if unknown:
            raise ValueError(
                f"read_files: not in snap-{snap}: {sorted(unknown)[:5]}"
            )
        return self._scan(spark, m, rel)

    def _scan(
        self,
        spark: SparkSession,
        m: dict,
        rel_files: list[str],
        apply_deletes: bool = True,
    ) -> DataFrame:
        fmt = m.get("format", "parquet")
        schema = StructType.fromJson(json.loads(m["schema"]))
        by_dir: dict[str, list[str]] = {}
        dirs = sorted(m["data_dirs"], key=len, reverse=True)
        for rel in rel_files:
            d = next((d for d in dirs if rel.startswith(d + "/")), None)
            if d is None:  # file outside any known data dir: manifest bug
                raise ValueError(f"{rel} not under any data_dir of the manifest")
            by_dir.setdefault(d, []).append(self._join(rel))

        # merge-on-read equality deletes: when the manifest carries delete
        # files, every branch is tagged with its commit sequence (parsed
        # from the snap-N dir — each data dir belongs to exactly one
        # commit) so the anti-join below can scope each delete to rows
        # written BEFORE it. Tables without deletes pay nothing.
        entries = (m.get("delete_files") or []) if apply_deletes else []
        branches = []
        for d, files in sorted(by_dir.items()):
            b = (
                spark.read.schema(schema)
                .option("basePath", self._join(d))
                .format(fmt)
                .load(files)
            )
            if entries:
                b = b.withColumn(
                    "__mor_seq__", F.lit(self._dir_seq(d)).cast("bigint")
                )
            branches.append(b)
        if not branches:
            return spark.createDataFrame([], schema)
        out = branches[0]
        for d in branches[1:]:
            out = out.unionByName(d)
        if entries:
            out = self._apply_deletes(spark, out, schema, entries)
        return out

    @staticmethod
    def _dir_seq(rel_path: str) -> int:
        """Commit sequence of a root-relative data/delete path: the snap-N
        prefix every committed path carries by construction."""
        head = rel_path.split("/", 1)[0]
        if not head.startswith("snap-"):
            raise ValueError(f"no snap-N prefix on {rel_path!r}")
        return int(head[5:])

    def _apply_deletes(
        self,
        spark: SparkSession,
        data: DataFrame,
        schema: StructType,
        entries: list[dict],
    ) -> DataFrame:
        """Anti-join the scan against the manifest's equality-delete files
        (Iceberg v2 merge-on-read): a row is dropped iff some delete whose
        commit sequence is LATER than the row's data file matches its key
        (null-safe, Iceberg's equality semantics) — so a key re-appended
        AFTER its delete survives. Delete files of one key set are unioned
        and reduced to max(seq) per key (a row dies iff ANY later delete
        matches ⟺ the max is later), keeping the join side one row per
        key; distinct key_cols sets (rare) each get their own anti-join.
        The join is an equi-hash anti join on the keys — AQE broadcasts
        the delete side when it is small (the common case: deletes are
        thousands of keys against billions of rows)."""
        types = {f.name: f for f in schema.fields}
        groups: dict[tuple, list[dict]] = {}
        for e in entries:
            groups.setdefault(tuple(e["key_cols"]), []).append(e)
        for kcols, es in sorted(groups.items()):
            kschema = StructType([types[c] for c in kcols])
            by_seq: dict[int, list[str]] = {}
            for e in es:
                by_seq.setdefault(int(e["seq"]), []).append(e["path"])
            sides = [
                spark.read.schema(kschema)
                .parquet(*[self._join(p) for p in paths])
                .withColumn("__mor_dseq__", F.lit(seq).cast("bigint"))
                for seq, paths in sorted(by_seq.items())
            ]
            dels = sides[0]
            for s in sides[1:]:
                dels = dels.unionByName(s)
            dels = dels.groupBy(*kcols).agg(
                F.max("__mor_dseq__").alias("__mor_dseq__")
            )
            cond = data["__mor_seq__"] < dels["__mor_dseq__"]
            for c in kcols:
                cond = cond & data[c].eqNullSafe(dels[c])
            data = data.join(dels, cond, "left_anti")
        return data.drop("__mor_seq__")

    def added_files(self, since: int, snapshot: int | None = None) -> list[str]:
        """Root-relative data files present in ``snapshot`` (default
        current) but not in ``since`` — a pure manifest-set diff, the
        planning step of an incremental scan.

        File-level semantics (same caveat as Iceberg's incremental scan):
        on an append-only history the diff is exactly the new rows; a
        rewrite (compaction, repair) surfaces its rewritten files. For
        row-level change semantics — including merge-on-read delete
        commits, which change rows without changing this file set — use
        ``storage.changes.table_changes``."""
        snap = self.current_snapshot() if snapshot is None else snapshot
        if snap is None:
            raise FileNotFoundError(f"no committed snapshot in {self.root}")
        base = set(self._files_rel(self._manifest(since)))
        return sorted(
            f
            for f in self._files_rel(self._manifest(snap))
            if f not in base
        )

    def read_incremental(
        self, spark: SparkSession, since: int, snapshot: int | None = None
    ) -> DataFrame:
        """Scan ONLY the data added between ``since`` and ``snapshot``
        (default current) — the downstream-consumer refresh path: a nightly
        training-data job reads the day's delta, never the 100 TB table.
        Empty delta → empty DataFrame with the table schema."""
        snap = self.current_snapshot() if snapshot is None else snapshot
        m = self._manifest(snap)
        return self._scan(spark, m, self.added_files(since, snap))

    def expire_snapshots(
        self,
        keep_last: int = 2,
        keep_snapshots: set[int] | frozenset[int] | None = None,
    ) -> dict:
        """Iceberg ``expireSnapshots``: drop history older than the last
        ``keep_last`` snapshots of the current lineage and physically
        delete every file no kept snapshot references — rewritten-away and
        excluded data files, expired manifests, and orphan branches left
        behind by ``rollback`` (snapshots no longer on the current chain).
        Time travel / rollback remain possible within the kept window only.

        Metadata-driven throughout: referenced files come from kept
        manifests, candidates from expired manifests plus a snap-dir
        listing — never a data-tree walk. Returns a summary dict."""
        if keep_last < 1:
            raise ValueError("expire_snapshots: keep_last must be >= 1")
        current = self.current_snapshot()
        if current is None:
            raise FileNotFoundError(f"no committed snapshot in {self.root}")
        chain = [m["snapshot"] for m in self.history()]  # current → root
        kept = set(chain[:keep_last])
        # tagged snapshots are pinned (Iceberg ref-retention): a release
        # tag keeps its snapshot and files alive through routine expiry
        kept |= set(self.refs().values())
        # ...and any snapshots the caller pins explicitly (e.g. a warehouse
        # Catalog's retained versions — Catalog.pinned_snapshots)
        kept |= set(keep_snapshots or ())
        referenced: set[str] = set()
        for s in sorted(kept):
            try:
                km = self._manifest(s)
            except FileNotFoundError:
                kept.discard(s)  # tag predating this retention scheme
                continue
            referenced.update(self._files_rel(km))
            # live equality-delete files are load-bearing for kept reads
            referenced.update(
                e["path"] for e in km.get("delete_files", [])
            )

        removed_snaps, removed_files, freed = [], 0, 0
        for name in self._fs.list_dirs(self.root):
            if not name.startswith("snap-"):
                continue
            s = int(name.split("-", 1)[1])
            if s in kept:
                continue
            # an in-flight writer's freshly reserved dir (marker, no
            # manifest yet) must survive expiry: Spark may be mid-save
            # into it, and rmtree here loses its files between the save
            # and the commit-time inventory (Iceberg's orphan-file
            # min-age). Only stale reservations (crashed writers) past
            # the grace TTL are vacuumed.
            try:
                self._manifest(s)
            except FileNotFoundError:
                try:
                    token = json.loads(
                        self._fs.read_text(
                            fsmod.join(self._join(name), ".reserved")
                        )
                    )
                    if time.time() - float(token.get("ts", 0)) < (
                        self._RESERVE_GRACE_S
                    ):
                        continue  # live reservation — leave it alone
                except (FileNotFoundError, ValueError, TypeError):
                    pass  # no marker / unreadable: legacy orphan, vacuum
            removed_snaps.append(s)
            # expired snapshot's files that no kept snapshot still reads
            try:
                m = self._manifest(s)
                candidates = (
                    set(self._files_rel(m))
                    | set(m.get("excluded_files", []))
                    | {e["path"] for e in m.get("delete_files", [])}
                )
            except FileNotFoundError:
                candidates = set()
            for rel in sorted(candidates - referenced):
                p = self._join(rel)
                try:
                    freed += self._fs.size(p)
                    self._fs.delete_file(p)
                    removed_files += 1
                except (FileNotFoundError, OSError):
                    pass  # already gone (shared dir cleaned by another pass)
            snap_dir = self._join(name)
            # the snapshot's own data dir (if any) and manifest go with it —
            # unless a kept snapshot still references files inside it, in
            # which case only the manifest is dropped
            keeps_data = any(
                r.startswith(f"{name}/") for r in referenced
            )
            if keeps_data:
                try:
                    self._fs.delete_file(
                        fsmod.join(snap_dir, "manifest.json")
                    )
                except (FileNotFoundError, OSError):
                    pass
            else:
                self._fs.delete_dir(snap_dir)
        return {
            "kept": sorted(kept),
            "snapshots_removed": sorted(removed_snaps),
            "files_deleted": removed_files,
            "bytes_freed": freed,
        }

    def rollback(self, snapshot: int) -> None:
        self._manifest(snapshot)  # existence check
        self._commit(snapshot)

    # -- named refs (Iceberg tags) ----------------------------------------
    def _refs_path(self) -> str:
        return self._join("_refs")

    def refs(self) -> dict[str, int]:
        """Named snapshot refs (Iceberg tags): {name: snapshot}. Tagged
        snapshots are pinned — ``expire_snapshots`` keeps them and their
        files however old they are, so a release tag stays readable
        (and time-travel-able) after routine history expiry."""
        try:
            return json.loads(self._fs.read_text(self._refs_path()))
        except FileNotFoundError:
            return {}

    def tag(self, name: str, snapshot: int | None = None) -> int:
        """Tag a snapshot (default: current) with a stable name. One
        atomic metadata write; re-tagging an existing name re-points it."""
        snap = self.current_snapshot() if snapshot is None else snapshot
        if snap is None:
            raise FileNotFoundError(f"no committed snapshot in {self.root}")
        self._manifest(snap)  # existence check
        refs = self.refs()
        refs[name] = snap
        self._fs.write_text_atomic(self._refs_path(), json.dumps(refs))
        return snap

    def drop_tag(self, name: str) -> None:
        refs = self.refs()
        if name not in refs:
            raise KeyError(f"no tag {name!r} on {self.root}")
        del refs[name]
        self._fs.write_text_atomic(self._refs_path(), json.dumps(refs))

    def resolve(self, ref: int | str | None) -> int | None:
        """Snapshot id for a ref: int passes through, str resolves a tag,
        None resolves the current snapshot."""
        if ref is None:
            return self.current_snapshot()
        if isinstance(ref, str):
            refs = self.refs()
            if ref not in refs:
                raise KeyError(f"no tag {ref!r} on {self.root}")
            return refs[ref]
        return ref

    def snapshot_as_of(self, ts_ms: int) -> int:
        """Newest snapshot on the current lineage committed at or before
        ``ts_ms`` (epoch millis) — Iceberg's ``FOR SYSTEM_TIME AS OF``
        resolution against the ``created_ms`` each manifest records at
        commit. Walks manifests only (one JSON read per retained
        snapshot); raises if the timestamp predates the retained history
        (expired ancestors cannot be resolved — same contract as
        Iceberg after ``expireSnapshots``)."""
        for m in self.history():  # newest first
            if m["created_ms"] <= ts_ms:
                return m["snapshot"]
        raise FileNotFoundError(
            f"no snapshot at or before {ts_ms} in the retained history "
            f"of {self.root}"
        )

    def read_as_of(self, spark: SparkSession, ts_ms: int) -> DataFrame:
        """Time-travel scan: the table exactly as of ``ts_ms``."""
        return self.read(spark, self.snapshot_as_of(ts_ms))

    def history(self) -> list[dict]:
        """Current snapshot's lineage, newest first. Stops at the expiry
        horizon: ``expire_snapshots`` removes ancestors' manifests, so a
        missing parent ends the (still-valid) chain rather than erroring."""
        out, snap = [], self.current_snapshot()
        while snap is not None:
            try:
                m = self._manifest(snap)
            except FileNotFoundError:
                break
            out.append(m)
            snap = m["parent"]
        return out


def plan_hit_files(
    spark: SparkSession,
    table: SnapshotTable,
    touched: DataFrame,
    key_cols: list[str],
    bloom_col: str | None = None,
) -> list[str]:
    """Files of ``table`` that MAY contain any ``touched`` key — the hit
    scope every file-scoped mutation (MERGE, CDF mirror apply, streaming
    upsert) plans its rewrite from. Always a SUPERSET of the true hit set:
    a false positive only rewrites a file unchanged, so exactness never
    depends on the planner.

    Fast path: bloom-index probes on ``bloom_col`` (defaults to the key
    when single-column) — metadata only, the table is not read. NULL key
    values disable it (a bloom cannot prove NULL absent; None also breaks
    value ordering), falling back to the scan plan: an
    ``input_file_name()`` semi-join using NULL-SAFE equality, so
    NULL-keyed rows land in the hit scope instead of silently escaping
    the mutation."""
    if bloom_col is None and len(key_cols) == 1:
        bloom_col = key_cols[0]
    if bloom_col is not None:
        vals = [
            r[bloom_col]
            for r in touched.select(bloom_col).distinct().collect()
        ]  # bounded by the mutation's churned keys
        if all(v is not None for v in vals):
            rel = table.prune_files_any(bloom_col, sorted(vals))
            if rel is not None:
                return sorted(rel)
    cur = table.read(spark).withColumn(
        "__f", F.input_file_name()
    ).alias("c")
    cond = F.expr(" AND ".join(f"c.{k} <=> k.{k}" for k in key_cols))
    return sorted(
        r["__f"]
        for r in cur.join(touched.alias("k"), cond, "left_semi")
        .select("__f")
        .distinct()
        .collect()
    )
