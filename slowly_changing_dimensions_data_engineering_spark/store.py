"""Versioned parquet table store — the lakehouse substrate.

The reference runs on Snowflake tables + a transactional CDC stream
(``CREATE STREAM … ON TABLE`` at ``SCD-Configuration Setup.sql:58``).
Delta Lake is the natural Spark analogue, but this engine cannot assume
it is installed, so we provide the minimal subset the pipeline needs on
plain parquet:

- **Versioned snapshots**: each commit writes an immutable directory
  ``<table>/v{N}/`` and then atomically swaps a pointer file. Readers
  resolve the pointer first, so a reader never sees a half-written
  version (same pointer-swap protocol object-store tables use; on HDFS/
  S3 the pointer write is a single small PUT). TRUNCATE and RESTORE
  are metadata-only commits: a pointer swap with no directory.
- **Change feed** (reference stream, C1/C2): a commit may attach the CDC
  rows it produced as ``<table>/_changes/v{N}/``. Reading the stream =
  reading every change batch past a consumer's offset.
- **Consume-once offsets** (C3, ``SCD-Automation.sql:142`` — "Stream data
  once used will be GONE permanently"): per-consumer offset files,
  advanced by the consumer after its downstream commit lands.

- **Key-bucketed tables + pruned rewrites**: a table created with
  ``bucket_by=(cols, n)`` stores every snapshot hash-partitioned into
  ``n`` key buckets (``v{N}/_bucket=K/``), and the pointer tracks the
  latest version PER BUCKET. An incremental merge then rewrites only the
  buckets containing touched keys (``commit_buckets``) — the Delta-merge
  file-pruning cost profile: a 0.1% delta load rewrites ~0.1% of the
  table, not 100 TB.

- **Optimistic concurrency** (Snowflake/Delta transaction validation):
  data is written lock-free to per-transaction staging dirs
  (``<table>/_txn/``); the pointer swap runs in a tiny critical
  section that re-reads the current meta and validates this
  transaction's read version against it. Blind appends never
  conflict; bucketed commits touching DISJOINT buckets rebase onto
  the concurrent writer's bucket map automatically; overlapping
  buckets and snapshot-derived full rewrites raise
  ``ConcurrentCommitError`` (the DML operators re-derive and retry).
  Version numbers are assigned in COMMIT order inside the section, so
  consumer offsets (version high-watermarks) stay monotonic.

Scale notes: version directories are immutable and parallel-writable by
all executors; only the tiny pointer swap is serialized. History
cleanup = deleting old ``v{N}`` dirs (VACUUM analogue). On object
storage the swap maps to a conditional PUT / CAS of the pointer object
and staging promotion to a manifest registration — the protocol shape
is unchanged.
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import shutil
import threading
import time
import urllib.parse
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schemas import cdc_schema

# Commit-lock tuning. A legitimate hold is microseconds (one json
# read-modify-write of a pointer file); the timeout only guards a
# wedged box, never a crashed holder — the kernel releases a crashed
# holder's flock the instant its fds close, so there is no staleness
# heuristic and no steal protocol (see _swap_meta).
LOCK_TIMEOUT_SECS = 60.0

#: Size a commit's write aims for per parquet file (and so per write
#: task) — the OPTIMIZE default of Delta and Iceberg.
TARGET_FILE_BYTES = 128 * 1024 * 1024


class ConcurrentCommitError(RuntimeError):
    """Another writer committed a conflicting change between this
    transaction's snapshot read and its pointer swap. Non-conflicting
    interleavings (blind appends; bucketed commits touching DISJOINT
    buckets) are rebased automatically and never raise — this error
    means the two transactions really did touch the same data, so the
    loser must re-read the new current state and re-derive its write
    (``merge_upsert`` does this automatically up to its retry budget).
    The Snowflake/Delta analogue is a transaction failing optimistic
    concurrency validation."""


#: Optional plan-capture hook (tools/plan_ledger.py): when set, called
#: as ``PLAN_CAPTURE(table_name, kind, df)`` with the exact frame each
#: commit path is about to write (post bucket-clustering), BEFORE the
#: write executes. Lets the plan ledger freeze per-commit merge shapes
#: for the multi-commit pipeline queries without instrumenting every
#: call site. None (the default) costs one ``is not None`` per commit.
PLAN_CAPTURE = None


def bucket_id(cols: list[str], n: int) -> F.Column:
    """Deterministic bucket assignment: pmod(hash(key), n). Murmur3 via
    F.hash — uniform, so buckets stay balanced under skewed key text."""
    return F.pmod(F.hash(*[F.col(c) for c in cols]), F.lit(n))


def morton_key(cols: list[str], mins: list[float], maxs: list[float],
               bits: int = 16) -> F.Column:
    """The interleaved-bit Z-ORDER key as a pure expression over LITERAL
    per-column min/max bounds — for call sites that cannot ride the
    in-plan broadcast-stats join (e.g. a sortWithinPartitions expression
    inside the bucketed write path). Same bit layout as
    ``zorder_cluster``; constant columns scale to 0 and drop out.
    ``None`` bounds (a non-numeric column whose double cast is all-NULL,
    or an empty table) are the constant-column case — the column drops
    out of the ordering instead of raising on the comparison."""
    top = (1 << bits) - 1
    scaled = []
    for c, mn, mx in zip(cols, mins, maxs):
        if mn is not None and mx is not None and mx > mn:
            frac = (F.col(c).try_cast("double") - F.lit(mn)) / (mx - mn)
            scaled.append((frac * top).cast("long"))
        else:
            scaled.append(F.lit(0).cast("long"))
    k = len(cols)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, s in enumerate(scaled):
            z = z + F.shiftleft(F.shiftright(s, b).bitwiseAND(1), b * k + i)
    return z


def zorder_cluster(df: DataFrame, cols: list[str], n_parts: int,
                   bits: int = 16) -> DataFrame:
    """Rows of ``df`` range-partitioned into ``n_parts`` splits and
    sorted by the Z-ORDER key of ``cols`` (numeric): each column is
    min/max-scaled to ``bits`` bits and the bit patterns are interleaved
    (Morton code), so contiguous key ranges are small hyper-rectangles
    in value space — every output file/row group gets tight min/max
    stats on EVERY cluster column (multi-dimensional data skipping; the
    OPTIMIZE ZORDER layout Delta/Iceberg apply before write).

    All in-plan and JVM-side: the per-column min/max ride a broadcast
    1-row aggregate (no driver action), the Morton code is a folded
    shift/mask expression, and the only data movement is the range
    shuffle the rewrite needs anyway. Constant columns scale to 0 and
    simply drop out of the ordering."""
    stats = df.agg(*[F.min(F.col(c).try_cast("double")).alias(f"_mn_{c}")
                     for c in cols],
                   *[F.max(F.col(c).try_cast("double")).alias(f"_mx_{c}")
                     for c in cols])
    top = (1 << bits) - 1
    j = df.crossJoin(F.broadcast(stats))
    scaled = []
    for c in cols:
        mn, mx = F.col(f"_mn_{c}"), F.col(f"_mx_{c}")
        frac = (F.col(c).try_cast("double") - mn) / (mx - mn)
        scaled.append(F.when(mx > mn, (frac * top).cast("long"))
                       .otherwise(F.lit(0)))
    k = len(cols)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, s in enumerate(scaled):
            z = z + F.shiftleft(F.shiftright(s, b).bitwiseAND(1), b * k + i)
    return (j.withColumn("_z", z)
            .repartitionByRange(n_parts, "_z")
            .sortWithinPartitions("_z")
            .select(*df.columns))


class TableStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "_meta"), exist_ok=True)
        os.makedirs(os.path.join(root, "_offsets"), exist_ok=True)
        # Tables for which THIS thread holds the exclusive-writer
        # derivation lock (see exclusive_writer) — lets the holder's own
        # commit skip the shared gate instead of self-deadlocking.
        self._tl = threading.local()

    @staticmethod
    def stabilize(df: DataFrame, mode: str | None = None) -> DataFrame:
        """Materialize-once barrier used by the DML operators so snapshot
        and CDC consumers observe ONE evaluation of a shared frame.
        Strategy (local checkpoint / reliable checkpoint / pure lineage)
        comes from the ``spark.sds.stabilize.mode`` session conf — see
        ``session.stabilize`` for the cluster-fault-tolerance tradeoff."""
        from .session import stabilize
        return stabilize(df, mode)

    # ---- paths -----------------------------------------------------------
    def _tdir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _vdir(self, name: str, v: int) -> str:
        return os.path.join(self._tdir(name), f"v{v:06d}")

    def _cdir(self, name: str, v: int) -> str:
        return os.path.join(self._tdir(name), "_changes", f"v{v:06d}")

    def _meta_path(self, name: str) -> str:
        return os.path.join(self.root, "_meta", f"{name}.json")

    def _derive_lock_path(self, name: str) -> str:
        return self._meta_path(name) + ".derive.lock"

    @staticmethod
    def _flock_timeout(fd: int, op: int, what: str) -> None:
        """Acquire ``op`` (LOCK_SH/LOCK_EX) on ``fd`` with the store's
        standard bounded wait — same contract as the meta lock: advisory
        kernel flock, released on fd close (including crash)."""
        t0 = time.time()
        while True:
            try:
                fcntl.flock(fd, op | fcntl.LOCK_NB)
                return
            except OSError:
                if time.time() - t0 > LOCK_TIMEOUT_SECS:
                    raise TimeoutError(
                        f"{what} busy for {LOCK_TIMEOUT_SECS:.0f}s")
                time.sleep(0.005)

    @contextlib.contextmanager
    def exclusive_writer(self, name: str):
        """Pessimistic fallback for writers losing repeated optimistic
        races: hold the table's DERIVATION lock (flock EX on a permanent
        sidecar file) across a whole snapshot-read → derive → commit,
        while every ordinary commit's pointer swap takes the same lock
        SHARED for the microseconds of ``_swap_meta``. While the holder
        derives, optimistic writers therefore finish in-flight swaps
        but cannot land NEW commits — so the holder's first attempt
        under the lock validates cleanly and its retry depth is bounded
        by the fallback threshold, never by contention (the starvation
        measured by tools/bench_occ_soak.py: depth 59 of a 100 budget
        at 6 writers on one hot key, derivation being re-run outside
        any lock each time).

        Cost model: the uncontended path pays one extra SH flock per
        commit (microseconds); the lock serializes commits only while a
        fallback holder is actually deriving (seconds at bench scale —
        SH waiters share the meta lock's LOCK_TIMEOUT_SECS bound, so a
        derivation longer than that surfaces loudly rather than
        wedging). Reentrancy: the holder's own commit skips the SH gate
        via a thread-local (two opens of one file are DISTINCT flock
        owners even in-process — the gate would self-deadlock). On
        object storage this maps to a lease on the table's commit
        service; single-writer-per-table deployments never touch it."""
        held = getattr(self._tl, "exclusive", None)
        if held is None:
            held = self._tl.exclusive = set()
        fd = os.open(self._derive_lock_path(name), os.O_CREAT | os.O_RDWR,
                     0o644)
        try:
            self._flock_timeout(fd, fcntl.LOCK_EX,
                                f"derivation lock for table {name!r}")
            held.add(name)
            try:
                yield
            finally:
                held.discard(name)
        finally:
            os.close(fd)

    # ---- metadata --------------------------------------------------------
    def _read_meta(self, name: str) -> dict:
        p = self._meta_path(name)
        if not os.path.exists(p):
            raise KeyError(f"table {name!r} does not exist in store {self.root}")
        with open(p) as f:
            return json.load(f)

    def _write_meta(self, name: str, meta: dict) -> None:
        p = self._meta_path(name)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, p)  # atomic pointer swap

    def exists(self, name: str) -> bool:
        return os.path.exists(self._meta_path(name))

    # ---- D1: catalog introspection (Setup.sql:5-10,60) --------------------
    def show_tables(self) -> list[str]:
        """SHOW TABLES — every table registered in this store."""
        mdir = os.path.join(self.root, "_meta")
        return sorted(f[:-5] for f in os.listdir(mdir) if f.endswith(".json"))

    def show_streams(self) -> list[str]:
        """SHOW STREAMS (Setup.sql:60) — tables with a change feed
        attached (≥1 committed change batch)."""
        return sorted(
            t for t in self.show_tables()
            if os.path.isdir(os.path.join(self._tdir(t), "_changes"))
        )

    def version(self, name: str) -> int:
        return self._read_meta(name)["latest"]

    def schema(self, name: str) -> T.StructType:
        return T.StructType.fromJson(json.loads(self._read_meta(name)["schema"]))

    def bucket_spec(self, name: str) -> tuple[list[str], int] | None:
        """(bucket_cols, n_buckets) for a bucketed table, else None."""
        b = self._read_meta(name).get("bucket")
        return (b["cols"], b["n"]) if b else None

    # ---- DDL (S7: CREATE TABLE, Setup.sql:14-51) ---------------------------
    def create(self, name: str, schema: T.StructType, overwrite: bool = True,
               bucket_by: tuple[list[str], int] | None = None) -> None:
        """CREATE OR REPLACE TABLE with a fixed explicit schema.

        ``bucket_by=(cols, n)`` declares a key-bucketed layout: snapshots
        are stored hash-partitioned on ``cols`` into ``n`` buckets and
        incremental merges rewrite only touched buckets."""
        if self.exists(name) and not overwrite:
            return
        tdir = self._tdir(name)
        if os.path.exists(tdir):
            shutil.rmtree(tdir)
        os.makedirs(tdir)
        meta = {"latest": -1, "schema": schema.json()}
        if bucket_by is not None:
            cols, n = bucket_by
            meta["bucket"] = {"cols": list(cols), "n": int(n)}
            meta["buckets"] = {}  # bucket id (str) -> version it was last written
        self._write_meta(name, meta)

    def add_column(self, name: str, field: T.StructField) -> None:
        """``ALTER TABLE … ADD COLUMN`` — metadata-only schema evolution.

        Snowflake evolves tables in place rather than CREATE-OR-REPLACE
        round trips; here the declared schema gains the field and NO
        data is rewritten: every read passes the declared schema to the
        parquet reader explicitly, and columns absent from older files
        materialize as NULL (at 100 TB, rewriting for an added column is
        exactly the job you must not run). The next commit must already
        carry the new column (schema validation is strict both ways).
        The field must be nullable — existing rows have no value for it.
        Time travel keeps the CURRENT declared schema (old snapshots
        read with the new column NULL), matching the lakehouse
        convention (Delta) rather than per-version schema archaeology.
        The read-validate-write runs inside the pointer-swap critical
        section, so a concurrent commit can never be lost to the ALTER
        (and two concurrent ALTERs serialize — the second fails the
        already-exists check instead of silently dropping the first)."""
        def apply(fresh: dict) -> None:
            schema = T.StructType.fromJson(json.loads(fresh["schema"]))
            if field.name in schema.fieldNames():
                raise ValueError(
                    f"column {field.name!r} already exists on {name!r}")
            if not field.nullable:
                raise ValueError(
                    f"added column {field.name!r} must be nullable: rows "
                    "committed before the ALTER have no value for it")
            fresh["schema"] = T.StructType(schema.fields + [field]).json()
            # Schema epoch: the ALTER does not bump ``latest`` (no data
            # changed), so data-version validation alone cannot see it.
            # Bumping the epoch makes in-flight commits that validated
            # their frames against the OLD schema fail conflict
            # validation (the Delta metadata-change rule) instead of
            # landing pre-ALTER files.
            fresh["schema_epoch"] = fresh.get("schema_epoch", 0) + 1

        self._swap_meta(name, apply)

    def history_df(self, spark: SparkSession, name: str) -> DataFrame:
        """``DESCRIBE HISTORY`` analogue (Snowflake: SHOW VERSIONS /
        time-travel metadata): one row per still-referenced commit —
        version, commit wall-time, whether a CDC batch was attached, and
        the storage footprint kind (segments vs bucket map). Versions
        pruned by vacuum disappear here exactly when time travel to them
        stops working, so this is the discovery surface for ``read``'s
        ``version=``/``as_of=`` parameters."""
        meta = self._read_meta(name)
        rows = []
        for h in meta.get("history", []):
            rows.append((int(h["v"]),
                         float(h["ts"]) if h.get("ts") is not None else None,
                         os.path.isdir(self._cdir(name, int(h["v"]))),
                         len(h["segments"]) if "segments" in h else None,
                         len(h["buckets"]) if "buckets" in h else None))
        schema = ("version long, commit_ts double, has_changes boolean, "
                  "n_segments long, n_buckets long")
        return spark.createDataFrame(rows, schema)

    def register_views(self, spark: SparkSession,
                       names: Iterable[str] | None = None) -> list[str]:
        """Expose store tables to ``spark.sql`` as temp views (the
        reference's users write SQL against Snowflake tables; this is
        the equivalent facade). Views pin the CURRENT snapshot — call
        again after commits to advance, exactly the snapshot-isolation
        contract ``read`` documents."""
        ts = list(names) if names is not None else self.show_tables()
        for t in ts:
            self.read(spark, t).createOrReplaceTempView(t)
        return ts

    def drop(self, name: str) -> None:
        """``DROP TABLE`` — remove the table, its history, its change
        feed, and its catalog entry. Missing table raises KeyError (use
        ``exists`` for IF EXISTS semantics)."""
        self._read_meta(name)  # raises for unknown tables
        os.remove(self._meta_path(name))
        shutil.rmtree(self._tdir(name), ignore_errors=True)

    def rename(self, old: str, new: str) -> None:
        """``ALTER TABLE … RENAME TO`` — pure catalog operation: the data
        directory and meta file move; versions, history, change feed and
        schema ride along untouched. Consumer offsets are store-global
        names, not table-bound, so they are unaffected."""
        if self.exists(new):
            raise ValueError(f"table {new!r} already exists")
        self._read_meta(old)
        os.rename(self._tdir(old), self._tdir(new))
        os.rename(self._meta_path(old), self._meta_path(new))

    def clone(self, src: str, dst: str) -> None:
        """``CREATE TABLE … CLONE`` — Snowflake's zero-copy clone: the
        new table starts as a snapshot of ``src``'s CURRENT state and
        diverges independently from there; no data is serialized.

        Local implementation: the clone's v0 directory HARD-LINKS the
        source snapshot's parquet files (O(#files) metadata ops, zero
        bytes copied; vacuum on either side just unlinks, the filesystem
        refcounts). On object storage the same contract is a manifest
        pointer copy — the store's segment lists are exactly that
        manifest, so only this link step would change. The clone gets
        fresh history/stream state: cloning does not clone the change
        feed (Snowflake: streams are not cloned), and the source's
        un-consumed changes stay with the source."""
        if self.exists(dst):
            raise ValueError(f"table {dst!r} already exists")
        meta = self._read_meta(src)
        new_meta = {"latest": -1, "schema": meta["schema"]}
        if meta.get("bucket"):
            new_meta["bucket"] = dict(meta["bucket"])
            new_meta["buckets"] = {}
        self._write_meta(dst, new_meta)
        os.makedirs(self._tdir(dst), exist_ok=True)
        if meta["latest"] < 0:
            return
        dstdir = self._vdir(dst, 0)
        if meta.get("bucket"):
            # per-bucket dirs: link each bucket's current files
            src_paths = {k: os.path.join(self._vdir(src, bv), f"_bucket={k}")
                         for k, bv in meta.get("buckets", {}).items()}
            for k, p in src_paths.items():
                if os.path.isdir(p):
                    self._link_tree(p, os.path.join(dstdir, f"_bucket={k}"))
            new_meta["buckets"] = {k: 0 for k in meta.get("buckets", {})}
            new_meta.setdefault("history", []).append(
                {"v": 0, "buckets": dict(new_meta["buckets"]),
                 "ts": time.time()})
        else:
            segs = meta.get("segments", [meta["latest"]])
            for s in segs:
                self._link_tree(self._vdir(src, s), dstdir)
            # a truncated source has no segments, so neither has v0
            new_meta["segments"] = [0] if segs else []
            new_meta.setdefault("history", []).append(
                {"v": 0, "segments": list(new_meta["segments"]),
                 "ts": time.time()})
        new_meta["latest"] = 0
        self._write_meta(dst, new_meta)

    @staticmethod
    def _link_tree(src_dir: str, dst_dir: str) -> None:
        """Hard-link every parquet file of ``src_dir`` into ``dst_dir``
        (flat: segment provenance is irrelevant once cloned; names are
        prefixed with a counter to avoid collisions across segments)."""
        os.makedirs(dst_dir, exist_ok=True)
        n = len(os.listdir(dst_dir))
        for f in sorted(TableStore._parquet_files(src_dir)):
            os.link(f, os.path.join(dst_dir, f"c{n:04d}-{os.path.basename(f)}"))
            n += 1

    # ---- read ------------------------------------------------------------
    def _bucket_paths(self, name: str, meta: dict,
                      bucket_ids: Iterable[int] | None = None) -> list[str]:
        """Latest on-disk partition dir per bucket (missing dir == the
        bucket was empty in its last rewrite)."""
        wanted = None if bucket_ids is None else {int(b) for b in bucket_ids}
        paths = []
        for k, bv in meta.get("buckets", {}).items():
            if wanted is not None and int(k) not in wanted:
                continue
            p = os.path.join(self._vdir(name, bv), f"_bucket={k}")
            if os.path.exists(p):
                paths.append(p)
        return paths

    def version_at(self, name: str, ts: float) -> int:
        """Resolve Snowflake ``AT(TIMESTAMP => …)`` time travel: the
        latest version whose commit wall-time is ≤ ``ts`` (epoch
        seconds; ``datetime`` accepted). Raises KeyError if the table
        has no commit at or before ``ts`` (or its history predates
        commit timestamps / was vacuumed away)."""
        if hasattr(ts, "timestamp"):
            ts = ts.timestamp()
        hist = self._read_meta(name).get("history", [])
        cands = [h["v"] for h in hist
                 if h.get("ts") is not None and h["ts"] <= ts]
        if not cands:
            raise KeyError(
                f"no commit of {name!r} at or before ts={ts} "
                "(before first commit, or history pruned by vacuum?)")
        return max(cands)

    def read(self, spark: SparkSession, name: str, version: int | None = None,
             as_of=None) -> DataFrame:
        """Read the latest snapshot, or time-travel to ``version`` (the
        reference's ``AT(STATEMENT/OFFSET)``) or to the wall-clock
        ``as_of`` timestamp (``AT(TIMESTAMP => …)``). On a
        bucketed table a historical version is reconstructed from the
        per-bucket pointer map recorded at that commit (a version dir
        alone holds only the buckets that commit rewrote); on a plain
        table, from the segment list recorded at that commit (an append
        commit's dir holds only the appended rows). A snapshot with no
        files (before the first commit, or truncated) reads as the empty
        frame."""
        if as_of is not None:
            if version is not None:
                raise ValueError("pass either version or as_of, not both")
            version = self.version_at(name, as_of)
        meta = self._read_meta(name)
        v = meta["latest"] if version is None else version
        schema = T.StructType.fromJson(json.loads(meta["schema"]))
        if v < 0:
            paths = []
        elif meta.get("bucket"):
            if version is not None and version != meta["latest"]:
                hist = {h["v"]: h["buckets"] for h in meta.get("history", [])}
                if version not in hist:
                    raise KeyError(
                        f"no recorded bucket map for {name!r} v{version}")
                meta = dict(meta, buckets=hist[version])
            paths = self._bucket_paths(name, meta)
        elif version is not None and version != meta["latest"]:
            hist = meta.get("history", [])
            if hist:
                seg_map = {h["v"]: h.get("segments", [h["v"]]) for h in hist}
                if version not in seg_map:
                    # The version's history entry was pruned (vacuum):
                    # falling back to [version] would silently read back
                    # ONLY that commit's appended segment as if it were
                    # the whole snapshot. Fail loudly instead, matching
                    # the bucketed branch above.
                    raise KeyError(
                        f"no recorded segment list for {name!r} v{version} "
                        "(history pruned by vacuum?)")
                segs = seg_map[version]
            else:
                # pre-history meta: every version dir is a full snapshot
                segs = [version]
            paths = [self._vdir(name, s) for s in segs]
        else:
            paths = [self._vdir(name, s) for s in meta.get("segments", [v])]
        if not paths:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(*paths)

    def read_buckets(self, spark: SparkSession, name: str,
                     bucket_ids: Iterable[int]) -> DataFrame:
        """Scan ONLY the given key buckets — the pruned-merge read path.
        At scale this is the file-skipping step: untouched buckets are
        never listed, opened, or shuffled."""
        meta = self._read_meta(name)
        schema = T.StructType.fromJson(json.loads(meta["schema"]))
        paths = self._bucket_paths(name, meta, bucket_ids)
        if not paths:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(*paths)

    # ---- commit ----------------------------------------------------------
    # How many tasks a commit's write uses — and so how many files it
    # leaves — follows from the bytes being written, never from a core
    # or bucket count. Every write task pays a fixed cost (deserializing
    # the write job, opening and closing a file), so at delta sizes the
    # rule is what keeps a commit from being bound by that fixed cost:
    # - bucketed snapshots: ``_clustered`` — one coalescable shuffle on
    #   the bucket id, one file per bucket;
    # - plain snapshots: ``_sized`` — coalesced to
    #   ceil(input bytes / target file bytes);
    # - change batches: ``_stage_write`` — one AQE-sized shuffle.
    @staticmethod
    def _clustered(df: DataFrame, cols: list[str], n: int,
                   sort_within: list[F.Column] | None = None) -> DataFrame:
        """Cluster rows by bucket before a partitionBy write. The
        shuffle on ``_bucket`` has no explicit partition count, so AQE
        coalesces its partitions by size: a small rewrite is written by
        one task, a large one by as many as its bytes need. Coalescing
        only merges whole partitions, so every bucket is written by
        exactly one task — ONE file per rewritten bucket per commit,
        which is what keeps ``compact(max_files_per_bucket)``
        converging (a REBALANCE would split large buckets across tasks,
        and without any shuffle every task would emit a file into every
        bucket dir). ``sort_within`` additionally orders rows INSIDE
        each bucket (sortWithinPartitions — no extra shuffle); the
        per-bucket Z-ORDER path rides this."""
        out = (df.withColumn("_bucket", bucket_id(cols, n))
               .repartition(F.col("_bucket")))
        if sort_within:
            out = out.sortWithinPartitions(F.col("_bucket"), *sort_within)
        return out

    @staticmethod
    def _file_bytes(files: Iterable[str]) -> int:
        """On-disk bytes of ``files``: local paths, or the ``file:`` URIs
        ``DataFrame.inputFiles()`` returns. The store's one size
        estimate — plain commits size their writes by it, and compact
        judges fragmentation by it."""
        return sum(os.path.getsize(
            urllib.parse.unquote(urllib.parse.urlparse(f).path)
            if f.startswith("file:") else f) for f in files)

    @staticmethod
    def _n_files(nbytes: int, target_file_bytes: int) -> int:
        return max(1, -(-nbytes // target_file_bytes))  # ceil, at least 1

    @classmethod
    def _sized(cls, df: DataFrame, target_file_bytes: int) -> DataFrame:
        """A plain snapshot write coalesced to ceil(input bytes / target
        file bytes) tasks, input bytes being the files ``df`` reads (a
        MASTER rebuild over a small STAGING is one task and one file).
        ``compact`` sizes by the same rule from the table's own bytes,
        so a fresh commit is a no-op for it whenever its output is no
        smaller than its input (and always while both fit one target
        file). A frame that reads no files (built in memory, or from a
        checkpoint) gives no estimate and keeps its own partitioning."""
        files = df.inputFiles()
        if not files:
            return df
        return df.coalesce(cls._n_files(cls._file_bytes(files),
                                        target_file_bytes))

    @staticmethod
    def _stage_write(name: str, kind: str, stage: str, out: DataFrame,
                     changes: DataFrame | None, bucketed: bool) -> None:
        """Write a transaction's data (and change batch) to its staging
        dir. The change batch goes through one AQE-sized shuffle: a
        small batch is one task and one file, not one per branch of the
        union that built it."""
        if PLAN_CAPTURE is not None:
            PLAN_CAPTURE(name, kind, out)
        writer = out.write.mode("errorifexists")
        if bucketed:
            writer = writer.partitionBy("_bucket")
        writer.parquet(os.path.join(stage, "data"))
        if changes is not None:
            (changes.hint("rebalance").write.mode("errorifexists")
             .parquet(os.path.join(stage, "changes")))

    def _stage_dir(self, name: str) -> str:
        """A private staging directory for one transaction's data
        writes, under ``<table>/_txn/``. Version directories are only
        ever CREATED inside the commit critical section (a rename of
        the staged write), so two concurrent writers can never collide
        on a version dir, and version numbers are assigned in COMMIT
        order — the change feed's consumer offsets (version-number
        high-watermarks) stay monotonic under concurrency. A crashed
        transaction leaves an orphan staging dir the pointer never
        references; ``vacuum`` sweeps stale ones."""
        txn = os.path.join(self._tdir(name), "_txn")
        os.makedirs(txn, exist_ok=True)
        import tempfile
        return tempfile.mkdtemp(prefix="txn_", dir=txn)

    def _promote(self, name: str, stage: str, v: int,
                 has_changes: bool) -> None:
        """Move a transaction's staged writes to their final version
        paths — called INSIDE the commit critical section, after
        conflict validation assigned the final version number. Local
        FS: two O(1) directory renames; on object storage the staged
        manifest would be registered under the final version key
        instead (manifests make this a metadata op there too).

        A pre-existing directory at the destination can only be a
        crash orphan from a pre-staging-era writer (v = latest+1 is
        assigned under the lock, so no committed version references
        it, and live writers stage under ``_txn/``) — cleared here,
        race-free, so the table can never wedge on it."""
        self._clear_orphans(name, v)
        os.rename(os.path.join(stage, "data"), self._vdir(name, v))
        if has_changes:
            os.makedirs(os.path.join(self._tdir(name), "_changes"),
                        exist_ok=True)
            os.rename(os.path.join(stage, "changes"), self._cdir(name, v))
        shutil.rmtree(stage, ignore_errors=True)

    def _clear_orphans(self, name: str, v: int) -> None:
        """Remove crash orphans at version ``v``'s data and change paths
        (see ``_promote``) — called inside the critical section that
        assigns ``v``."""
        for orphan in (self._vdir(name, v), self._cdir(name, v)):
            if os.path.exists(orphan):
                shutil.rmtree(orphan)

    def _swap_meta(self, name: str, apply):
        """The optimistic-concurrency critical section: re-read the
        CURRENT meta under a short lock, let ``apply(fresh)`` validate
        against it (raising ``ConcurrentCommitError`` on a true
        conflict) and fold this transaction's changes in, then
        atomically swap the pointer. Returns ``apply``'s return value
        (the commit paths return their assigned version through it).
        The lock guards only this tiny read-modify-write (microseconds
        — json load/dump of a pointer file), never a data write; data
        version dirs are written lock-free in parallel by all writers.

        Locking is an advisory ``fcntl.flock`` on a PERMANENT per-table
        lock file. The kernel ties the lock to the open file
        description and releases it the instant the holder's fds close
        — including on crash — so there is no staleness heuristic, no
        grace period, and no steal protocol. (The previous
        existence-based O_EXCL lock needed a rename-based stale-lock
        steal, which could transiently vacate the lock path while a
        live holder was inside the section and admit a second writer —
        ADVICE r16. flock makes that whole class impossible: the lock
        path is never vacated because the file is never unlinked.)
        The lock file must NEVER be unlinked: unlink+recreate would let
        a waiter flocking the old inode and a new acquirer flocking the
        new inode both "hold the lock". On object storage this whole
        section is one compare-and-swap / conditional PUT of the
        pointer object."""
        # Shared gate on the derivation lock (see exclusive_writer):
        # while a pessimistic-fallback writer holds it EX, no other
        # commit may land — the holder's derivation stays conflict-free.
        # Lock order everywhere: derivation lock, THEN meta lock.
        gate_fd = None
        if name not in getattr(self._tl, "exclusive", ()):
            gate_fd = os.open(self._derive_lock_path(name),
                              os.O_CREAT | os.O_RDWR, 0o644)
            try:
                self._flock_timeout(
                    gate_fd, fcntl.LOCK_SH,
                    f"derivation lock for table {name!r} (commit gate)")
            except BaseException:
                os.close(gate_fd)
                raise
        lock = self._meta_path(name) + ".lock"
        try:
            fd = os.open(lock, os.O_CREAT | os.O_RDWR, 0o644)
            try:
                self._flock_timeout(fd, fcntl.LOCK_EX,
                                    f"commit lock for table {name!r}")
                fresh = self._read_meta(name)
                ret = apply(fresh)
                self._write_meta(name, fresh)
                return ret
            finally:
                os.close(fd)  # closing the fd releases the flock
        finally:
            if gate_fd is not None:
                os.close(gate_fd)

    @staticmethod
    def _denull(dt: T.DataType) -> T.DataType:
        """Canonicalize nullability at EVERY nesting level (array
        containsNull, map valueContainsNull, struct field nullable) so
        schema comparison is 'names + types' as documented — top-level
        nullability is already outside the comparison, and a commit
        differing only in, say, array<double> containsNull must not be
        rejected as drift."""
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(TableStore._denull(dt.elementType), True)
        if isinstance(dt, T.MapType):
            return T.MapType(TableStore._denull(dt.keyType),
                             TableStore._denull(dt.valueType), True)
        if isinstance(dt, T.StructType):
            return T.StructType([
                T.StructField(f.name, TableStore._denull(f.dataType), True)
                for f in dt.fields])
        return dt

    def _check_schema(self, name: str, meta: dict, df: DataFrame) -> DataFrame:
        """A commit must match the declared schema (names + types;
        nullability is advisory at every nesting level, column order is
        canonicalized to the declaration). The reference's tables are
        Snowflake DDL-typed — silently adopting a DataFrame's schema (or
        silently dropping its new columns on the bucketed path) would be
        accidental schema evolution in either direction."""
        declared = T.StructType.fromJson(json.loads(meta["schema"]))
        got = {f.name: self._denull(f.dataType) for f in df.schema.fields}
        want = {f.name: self._denull(f.dataType) for f in declared.fields}
        if got != want:
            raise ValueError(
                f"commit to {name!r} does not match declared schema:\n"
                f"  declared: {sorted(want.items())}\n"
                f"  got:      {sorted(got.items())}\n"
                "Recreate the table (CREATE OR REPLACE) to evolve its schema.")
        return df.select(*[f.name for f in declared.fields])

    def commit(self, name: str, df: DataFrame, changes: DataFrame | None = None,
               sort_within: list[F.Column] | None = None,
               offsets: dict[str, int] | None = None,
               read_version: int | None = None) -> int:
        """Write a new immutable snapshot (+ optional change batch) and swap
        the pointer. One commit == one reference DML statement (Snowflake's
        per-statement transactionality, SURVEY.md §3.1). ``sort_within``
        (bucketed tables) orders rows inside each bucket at write time —
        the per-bucket Z-ORDER layout hook used by ``compact``.

        The write's task count follows from its bytes (see the rule
        above ``_clustered``): a bucketed snapshot is written one file
        per bucket by as few tasks as AQE coalesces its shuffle to; a
        plain snapshot by ceil(input bytes / ``TARGET_FILE_BYTES``)
        tasks, one file each.

        ``offsets`` = {consumer: consumed_to_version} records stream
        consumption ATOMICALLY with this commit — the map lands in the
        same ``meta.json`` rewrite as the snapshot pointer (one
        ``os.replace``), re-creating Snowflake's "DML over a stream
        advances its offset in the same transaction" semantics
        (SCD-Automation.sql:142). Consumers read it back via
        ``get_offset(consumer, table=name)``; the standalone
        ``set_offset`` file stays a best-effort global mirror only.

        Optimistic concurrency: the data is written lock-free to a
        staging dir; the pointer swap validates that NO other writer
        committed since this transaction's snapshot read (a full
        rewrite derives from that snapshot, so ANY interleaved commit
        is a true conflict) and raises ``ConcurrentCommitError``,
        leaving the table exactly as the other writer committed it.

        ``read_version`` is the version the caller's SNAPSHOT READ
        resolved — the validation baseline. Pass it whenever the frame
        was derived from an earlier ``store.read`` (the DML operators
        do): capturing the baseline here at commit entry instead would
        leave the whole derivation (table-sized Spark jobs) as an
        unvalidated window in which a concurrent commit is silently
        lost. ``None`` keeps the entry-captured baseline for frames
        built in the same breath as the commit (CREATE+load, overwrite
        semantics). A concurrent ``add_column`` is a conflict too — the
        schema this commit validated against is gone (Delta's
        metadata-change rule): detected via the meta's schema epoch."""
        return self._commit(name, df, changes, sort_within, offsets,
                            read_version, TARGET_FILE_BYTES)

    def _commit(self, name: str, df: DataFrame,
                changes: DataFrame | None = None,
                sort_within: list[F.Column] | None = None,
                offsets: dict[str, int] | None = None,
                read_version: int | None = None,
                target_file_bytes: int = TARGET_FILE_BYTES) -> int:
        """``commit`` with the plain-snapshot file size as a parameter
        (``compact`` passes its own)."""
        meta = self._read_meta(name)
        df = self._check_schema(name, meta, df)
        if read_version is None:
            read_version = meta["latest"]
        elif meta["latest"] != read_version:
            # Already stale at commit entry — fail fast before staging
            # a table-sized write that the swap is certain to reject.
            raise ConcurrentCommitError(
                f"full-snapshot commit to {name!r} read v{read_version} "
                f"but v{meta['latest']} was committed concurrently; "
                "re-read and re-derive the write")
        read_epoch = meta.get("schema_epoch", 0)
        stage = self._stage_dir(name)
        bucket = meta.get("bucket")
        if bucket:
            n = bucket["n"]
            out = self._clustered(df, bucket["cols"], n, sort_within)
        else:
            out = self._sized(df, target_file_bytes)
        self._stage_write(name, "commit", stage, out, changes, bool(bucket))

        def apply(fresh: dict) -> None:
            if fresh["latest"] != read_version:
                raise ConcurrentCommitError(
                    f"full-snapshot commit to {name!r} read v{read_version} "
                    f"but v{fresh['latest']} was committed concurrently; "
                    "re-read and re-derive the write")
            self._check_epoch(name, fresh, read_epoch)
            v = fresh["latest"] + 1
            self._promote(name, stage, v, changes is not None)
            if bucket:
                fresh["buckets"] = {str(k): v for k in range(n)}
                fresh.setdefault("history", []).append(
                    {"v": v, "buckets": dict(fresh["buckets"]),
                     "ts": time.time()})
            else:
                fresh["segments"] = [v]
                fresh.setdefault("history", []).append(
                    {"v": v, "segments": [v], "ts": time.time()})
            fresh["latest"] = v
            self._merge_offsets(fresh, offsets)
            return v

        return self._commit_with(name, stage, apply)

    @staticmethod
    def _check_epoch(name: str, fresh: dict, read_epoch: int) -> None:
        """Metadata-change conflict rule (Delta convention): a commit
        whose data was derived and schema-validated under epoch E must
        not land after a concurrent ALTER bumped the epoch — its files
        carry the pre-ALTER schema. Null-fill on read would make that
        MOSTLY benign, but silently committing old-schema files past a
        schema change diverges from the transactional contract the
        docstrings cite, so it conflicts like any other lost race."""
        if fresh.get("schema_epoch", 0) != read_epoch:
            raise ConcurrentCommitError(
                f"commit to {name!r} was derived under schema epoch "
                f"{read_epoch} but a concurrent ALTER moved the table to "
                f"epoch {fresh.get('schema_epoch', 0)}; re-validate the "
                "frame against the evolved schema and retry")

    def _commit_with(self, name: str, stage: str, apply) -> int:
        """Run ``apply`` inside the pointer-swap critical section and
        return the version it assigned; on ANY failure — a concurrency
        conflict, a lock timeout, a validation error raised by
        ``apply`` — the staged (never-referenced) write is deleted
        before the error propagates, instead of leaking a table-sized
        ``_txn`` orphan until vacuum's age-gated sweep."""
        try:
            return self._swap_meta(name, apply)
        except BaseException:
            shutil.rmtree(stage, ignore_errors=True)
            raise

    @staticmethod
    def _merge_offsets(meta: dict, offsets: dict[str, int] | None) -> None:
        """Fold consumer high-watermarks into the meta dict about to be
        atomically swapped in — the C3 crash-consistency carrier. A
        watermark never moves backwards (RESTORE repoints ``latest`` but
        must not un-consume a stream)."""
        if offsets:
            consumed = meta.setdefault("consumed", {})
            for c, vv in offsets.items():
                consumed[c] = max(int(vv), consumed.get(c, -1))

    def commit_append(self, name: str, df: DataFrame,
                      changes: DataFrame | None = None,
                      offsets: dict[str, int] | None = None,
                      read_version: int | None = None) -> int:
        """True append: write ONLY the new rows as a segment dir and add
        it to the snapshot's segment list — the append cost is the new
        data's size, never a rewrite of current contents (at 100 TB a
        load appends gigabytes without touching the table). Bucketed
        tables keep the 'one dir = whole bucket' invariant instead —
        append there via merge/commit_buckets.

        Concurrency: a BLIND append depends on nothing it read, so it
        NEVER conflicts — an interleaved commit just means this
        segment joins the other writer's segment list (the Delta
        blind-append rule). An append whose CONTENT was derived from
        a snapshot read (e.g. the SCD Type-0 anti-join: "insert keys
        not already present") is NOT blind — it passes
        ``read_version`` and the swap raises ``ConcurrentCommitError``
        if any commit landed since, exactly like the rewrite paths
        (otherwise two racing insert-only loads of one key would both
        append it). One exception to "blind never conflicts": a
        concurrent ``add_column`` bumps the schema epoch and conflicts
        even a blind append (Delta's metadata-change rule — the frame
        was schema-checked against the pre-ALTER declaration)."""
        meta = self._read_meta(name)
        if meta.get("bucket"):
            raise ValueError(
                f"table {name!r} is bucketed; append via merge_upsert/"
                "commit_buckets so bucket dirs stay complete")
        df = self._check_schema(name, meta, df)
        read_epoch = meta.get("schema_epoch", 0)
        stage = self._stage_dir(name)
        self._stage_write(name, "append", stage, df, changes, False)

        def apply(fresh: dict) -> int:
            if read_version is not None and fresh["latest"] != read_version:
                raise ConcurrentCommitError(
                    f"snapshot-derived append to {name!r} read "
                    f"v{read_version} but v{fresh['latest']} was committed "
                    "concurrently; re-read and re-derive the append")
            self._check_epoch(name, fresh, read_epoch)
            v = fresh["latest"] + 1
            self._promote(name, stage, v, changes is not None)
            segs = list(fresh.get(
                "segments", [fresh["latest"]] if fresh["latest"] >= 0 else []))
            segs.append(v)
            fresh["segments"] = segs
            fresh.setdefault("history", []).append(
                {"v": v, "segments": list(segs), "ts": time.time()})
            fresh["latest"] = v
            self._merge_offsets(fresh, offsets)
            return v

        return self._commit_with(name, stage, apply)

    def commit_buckets(self, name: str, df: DataFrame, bucket_ids: Iterable[int],
                       changes: DataFrame | None = None,
                       offsets: dict[str, int] | None = None,
                       read_version: int | None = None) -> int:
        """Partial commit: ``df`` holds the complete new contents of the
        given buckets (and ONLY those buckets); every other bucket keeps
        its current pointer. This is the pruned-merge write path — the
        write cost scales with the touched-key footprint, not the table.

        Concurrency: the swap compares the CURRENT bucket map against
        the map at this transaction's read version. A concurrent commit
        that touched only OTHER buckets is rebased automatically (our
        pointers land next to theirs — the two merges were physically
        independent, the partition-disjoint case Delta validates the
        same way); a concurrent touch of ANY bucket this commit
        rewrites raises ``ConcurrentCommitError``, because this
        commit's contents were derived from a now-stale read of that
        bucket.

        ``read_version`` is the version the caller's snapshot read
        resolved (pass it whenever ``df`` derives from an earlier
        ``read_buckets`` — the DML operators do); the matching base
        bucket map is recovered from the commit history. ``None``
        keeps the entry-captured baseline. A pruned history entry for
        ``read_version`` conflicts conservatively (the precise
        per-bucket diff is unrecoverable)."""
        meta = self._read_meta(name)
        if not meta.get("bucket"):
            raise ValueError(f"table {name!r} is not bucketed")
        cols, n = meta["bucket"]["cols"], meta["bucket"]["n"]
        read_epoch = meta.get("schema_epoch", 0)
        if read_version is None or read_version == meta["latest"]:
            read_version = meta["latest"]
            base_map = dict(meta.get("buckets", {}))
        else:
            hist = {h["v"]: h.get("buckets")
                    for h in meta.get("history", [])}
            base_map = hist.get(read_version)
            if base_map is None:
                raise ConcurrentCommitError(
                    f"bucketed commit to {name!r} read v{read_version} "
                    f"but v{meta['latest']} is current and no bucket map "
                    "for the read version survives in history; re-read "
                    "and re-derive the write")
            base_map = dict(base_map)
        ours = {str(int(k)) for k in bucket_ids}
        stage = self._stage_dir(name)
        self._stage_write(name, "commit_buckets", stage,
                          self._clustered(df, cols, n), changes, True)

        def apply(fresh: dict) -> int:
            if fresh["latest"] != read_version:
                theirs = {k for k in set(fresh["buckets"]) | set(base_map)
                          if fresh["buckets"].get(k) != base_map.get(k)}
                clash = sorted(ours & theirs)
                if clash:
                    raise ConcurrentCommitError(
                        f"bucketed commit to {name!r} read v{read_version} "
                        f"but a concurrent commit (now v{fresh['latest']}) "
                        f"rewrote bucket(s) {clash} this transaction also "
                        "rewrites; re-read and re-derive the write")
            self._check_epoch(name, fresh, read_epoch)
            v = fresh["latest"] + 1
            self._promote(name, stage, v, changes is not None)
            for k in ours:
                fresh["buckets"][k] = v
            fresh.setdefault("history", []).append(
                {"v": v, "buckets": dict(fresh["buckets"]),
                 "ts": time.time()})
            fresh["latest"] = v
            self._merge_offsets(fresh, offsets)
            return v

        return self._commit_with(name, stage, apply)

    # ---- compaction (OPTIMIZE analogue) -----------------------------------
    @staticmethod
    def _parquet_files(path: str) -> list[str]:
        out = []
        for root, _dirs, files in os.walk(path):
            out.extend(os.path.join(root, f) for f in files
                       if f.endswith(".parquet"))
        return out

    def compact(self, spark: SparkSession, name: str,
                target_file_bytes: int = 128 * 1024 * 1024,
                max_files_per_bucket: int = 4,
                cluster_by: list[str] | None = None) -> int:
        """OPTIMIZE analogue: rewrite fragmented storage into few
        size-targeted files, leaving table CONTENTS bit-identical.

        Plain tables: an append-built snapshot is a list of segment dirs
        (one per COPY/insert — at 100 TB a day of micro-batches is
        thousands of small files, and every read pays the per-file open
        cost). Compaction reads the current snapshot once, coalesces to
        ceil(bytes / target_file_bytes) files and commits it as a single
        segment. Bucketed tables: only buckets whose dir holds more than
        ``max_files_per_bucket`` files are rewritten (commit_buckets);
        untouched buckets keep their current pointers, so the cost
        scales with the fragmented footprint, not the table.

        Data-neutral by construction: no change batch is written (a
        compaction must be INVISIBLE to the CDC stream — consumers would
        otherwise re-process the whole table as phantom updates), and
        time travel to pre-compaction versions still resolves through
        their recorded segment/bucket maps until vacuum prunes them.
        ``cluster_by`` additionally Z-ORDERS the rewrite: on plain
        tables rows are range-partitioned and sorted by the interleaved
        bit key of the named numeric columns; on bucketed tables the
        hash-bucket layout is preserved and rows are Morton-sorted
        WITHIN each bucket (data skipping composes with bucket
        pruning). Either way every output file — and every parquet row
        group inside it — covers a NARROW value range in EVERY cluster
        column. Parquet min/max (and any engine's
        file-skipping on those stats) then prunes scans filtered on any
        clustered column, not just a single sort leader; at 100 TB this
        is the difference between reading one file and reading them all
        for a point/range predicate on the second dimension. Clustering
        forces the rewrite even if the file count is already compact
        (layout, not just size, is the point).

        Returns the new version, or the current one if nothing needed
        compacting (no empty commit). Exception: ``cluster_by`` is an
        UNCONDITIONAL full-rewrite commit — layout, not fragmentation,
        is what it changes, and the store records no clustering state to
        detect "already clustered", so calling it twice rewrites twice.
        Schedule it on layout change, not per cycle."""
        meta = self._read_meta(name)
        latest = meta["latest"]
        if latest < 0:
            return latest
        if cluster_by and meta.get("bucket"):
            # Per-bucket Z-ORDER: the hash-bucket layout stays (pruned
            # merges depend on it); rows are Morton-sorted WITHIN each
            # bucket, so every row group inside a bucket file carries
            # tight min/max on every cluster column — data skipping
            # composes with bucket pruning (Delta's ZORDER-on-partitioned
            # behavior). The min/max bounds ride a 1-row driver agg
            # (compact is a maintenance command that already does
            # driver-side file walks; the in-plan broadcast-stats
            # variant stays on the plain-table path) and the sort is
            # sortWithinPartitions — no shuffle beyond the bucket
            # clustering the write performs anyway.
            cur = self.read(spark, name)
            row = cur.agg(*[F.min(F.col(c).try_cast("double")).alias(f"mn_{c}")
                            for c in cluster_by],
                          *[F.max(F.col(c).try_cast("double")).alias(f"mx_{c}")
                            for c in cluster_by]).head()
            z = morton_key(cluster_by,
                           [row[f"mn_{c}"] for c in cluster_by],
                           [row[f"mx_{c}"] for c in cluster_by])
            return self.commit(name, cur, sort_within=[z])
        if meta.get("bucket"):
            frag = []
            for k, bv in meta.get("buckets", {}).items():
                p = os.path.join(self._vdir(name, bv), f"_bucket={k}")
                if os.path.isdir(p) and \
                        len(self._parquet_files(p)) > max_files_per_bucket:
                    frag.append(int(k))
            if not frag:
                return latest
            return self.commit_buckets(
                name, self.read_buckets(spark, name, frag), frag)
        segs = meta.get("segments", [latest])
        files = [f for s in segs
                 for f in self._parquet_files(self._vdir(name, s))]
        need = self._n_files(self._file_bytes(files), target_file_bytes)
        if cluster_by:
            cur = zorder_cluster(self.read(spark, name), cluster_by, need)
        elif len(segs) <= 1 and len(files) <= need:
            return latest
        else:
            cur = self.read(spark, name)  # the commit coalesces it to need
        return self._commit(name, cur, target_file_bytes=target_file_bytes)

    def restore(self, name: str, version: int) -> int:
        """``RESTORE TABLE … TO VERSION`` (Delta RESTORE / Snowflake
        UNDROP-era rollback): make the CURRENT state equal an earlier
        version's — as a NEW commit, metadata-only. The pointer entry
        for the new version simply references the restored version's
        segment list / bucket map; zero bytes are rewritten, history
        after the restored point stays readable (a restore is an
        addition to history, not a rewind), and vacuum liveness follows
        the new pointer so the restored files cannot be reclaimed.

        No change batch is attached: reconstructing the rollback's
        row-level delta without a rewrite requires a diff — consumers
        that must fold the rollback use ``operators.diff.snapshot_diff``
        between the pre-restore and restored versions. Raises KeyError
        if the target version's metadata was pruned by vacuum, and
        ``ConcurrentCommitError`` if another writer commits between the
        restore's snapshot read and its swap (a rollback racing live
        DML must be an explicit user decision, never a silent
        last-writer-wins)."""
        read_version = self._read_meta(name)["latest"]
        if version == read_version:
            return read_version

        def apply(fresh: dict) -> int:
            if fresh["latest"] != read_version:
                raise ConcurrentCommitError(
                    f"restore of {name!r} read v{read_version} but "
                    f"v{fresh['latest']} was committed concurrently")
            hist = fresh.get("history", [])
            v = fresh["latest"] + 1
            if fresh.get("bucket"):
                maps = {h["v"]: h["buckets"] for h in hist}
                if version not in maps:
                    raise KeyError(
                        f"no recorded bucket map for {name!r} "
                        f"v{version} (history pruned by vacuum?)")
                fresh["buckets"] = dict(maps[version])
                fresh.setdefault("history", []).append(
                    {"v": v, "buckets": dict(fresh["buckets"]),
                     "ts": time.time()})
            else:
                segs = {h["v"]: h.get("segments", [h["v"]]) for h in hist}
                if version not in segs:
                    raise KeyError(
                        f"no recorded segment list for {name!r} "
                        f"v{version} (history pruned by vacuum?)")
                fresh["segments"] = list(segs[version])
                fresh.setdefault("history", []).append(
                    {"v": v, "segments": list(fresh["segments"]),
                     "ts": time.time()})
            fresh["latest"] = v
            return v

        return self._swap_meta(name, apply)

    # ---- history cleanup (VACUUM analogue) --------------------------------
    def vacuum(self, name: str, keep_last: int = 1) -> list[int]:
        """Delete snapshot version dirs no longer referenced by the last
        ``keep_last`` readable versions (bucketed tables reference OLD
        version dirs through their bucket pointers, so liveness is the
        union of the kept bucket maps, not a recency cutoff). Change
        batches (the stream) are never touched — consumers own those via
        offsets. Returns the versions removed.

        Concurrency: the history trim happens inside the pointer-swap
        critical section against the FRESH meta (a commit landing just
        before the trim keeps its history entry), and directory
        deletion afterwards is bounded to versions ≤ the latest seen
        under the lock — a commit landing right after the trim can
        never have its brand-new version dir swept. In-flight staged
        writes live under ``_txn/`` (not version dirs) and are only
        swept when stale (>24h — no transaction holds a stage that
        long)."""

        def apply(fresh: dict):
            latest = fresh["latest"]
            if latest < 0:
                return None
            live: set[int] = set()
            if fresh.get("bucket"):
                hist = fresh.get("history", [])
                kept = hist[-keep_last:] if keep_last > 0 else hist[-1:]
                for h in kept:
                    live |= {int(bv) for bv in h["buckets"].values()}
                fresh["history"] = kept
            elif fresh.get("history"):
                # Liveness = union of the kept snapshots' segment lists
                # (an append-built snapshot references OLD version dirs).
                hist = fresh["history"]
                kept = hist[-keep_last:] if keep_last > 0 else hist[-1:]
                for h in kept:
                    live |= {int(s) for s in h.get("segments", [h["v"]])}
                fresh["history"] = kept
            else:
                live = set(range(max(latest - keep_last + 1, 0), latest + 1))
            return latest, live

        state = self._swap_meta(name, apply)
        if state is None:
            return []
        latest, live = state
        removed = []
        tdir = self._tdir(name)
        for d in sorted(os.listdir(tdir)):
            if not d.startswith("v"):
                continue
            v = int(d[1:])
            if v <= latest and v not in live:
                shutil.rmtree(os.path.join(tdir, d))
                removed.append(v)
        # stale staged transactions (crashed writers): age-gated sweep
        txn = os.path.join(tdir, "_txn")
        if os.path.isdir(txn):
            for d in os.listdir(txn):
                p = os.path.join(txn, d)
                try:
                    if time.time() - os.path.getmtime(p) > 24 * 3600:
                        shutil.rmtree(p, ignore_errors=True)
                except OSError:
                    pass
        return removed

    def vacuum_changes(self, name: str, through_version: int) -> list[int]:
        """Change-feed retention: delete change batches at versions
        ≤ ``through_version``. Snowflake streams expire with the
        retention window; here the caller states what is consumed —
        pass ``min(get_offset(c) for c in <this table's consumers>)``
        so no consumer loses unread batches (offsets are store-global
        names; the store cannot know which consumers read which table).
        At 100 TB the ``_changes`` tree otherwise grows with every merge
        forever. Returns the versions removed. Unlike ``vacuum``, this
        never touches snapshots — time travel is unaffected."""
        removed = []
        for v in self.change_versions(name, -1):
            if v <= through_version:
                shutil.rmtree(self._cdir(name, v))
                removed.append(v)
        return removed

    def truncate(self, spark: SparkSession, name: str) -> int:
        """S8: TRUNCATE TABLE (SCD-Automation.sql:38) — commit an empty
        snapshot, metadata-only like ``restore``: no Spark job, no data
        written. A plain table's new version lists no segments; on a
        bucketed table every bucket points at the new version, which
        has no directory (a missing bucket dir is an empty bucket).
        History (and any unconsumed changes) stays intact. ``spark`` is
        unused and kept for the call signature."""
        def apply(fresh: dict) -> int:
            v = fresh["latest"] + 1
            self._clear_orphans(name, v)
            entry = {"v": v, "ts": time.time()}
            if fresh.get("bucket"):
                fresh["buckets"] = {str(k): v
                                    for k in range(fresh["bucket"]["n"])}
                entry["buckets"] = dict(fresh["buckets"])
            else:
                fresh["segments"] = entry["segments"] = []
            fresh.setdefault("history", []).append(entry)
            fresh["latest"] = v
            return v

        return self._swap_meta(name, apply)

    # ---- change feed (C1/C2/C3) -------------------------------------------
    def change_versions(self, name: str, since: int) -> list[int]:
        cdir = os.path.join(self._tdir(name), "_changes")
        if not os.path.isdir(cdir):
            return []
        vs = sorted(int(d[1:]) for d in os.listdir(cdir) if d.startswith("v"))
        return [v for v in vs if v > since]

    def read_changes(self, spark: SparkSession, name: str, since: int) -> DataFrame | None:
        """C2: ``SELECT * FROM stream`` — all change rows committed after
        version ``since`` (Setup.sql:127,218). Returns None if no batches."""
        vs = self.change_versions(name, since)
        if not vs:
            return None
        # The declared change schema, not one batch's footer: batches
        # committed before an ADD COLUMN lack the column (it reads as
        # NULL), and no schema-inference job runs.
        return spark.read.schema(cdc_schema(self.schema(name))).parquet(
            *[self._cdir(name, v) for v in vs])

    # ---- consumer offsets (C3) ---------------------------------------------
    def _offset_path(self, consumer: str) -> str:
        return os.path.join(self.root, "_offsets", f"{consumer}.json")

    def get_offset(self, consumer: str, table: str | None = None) -> int:
        """Last consumed source version for ``consumer``.

        ``table`` names the table whose commits CARRY this consumer's
        offset (``commit(..., offsets=...)``): the meta-carried
        watermark is then AUTHORITATIVE and the global offset file is
        ignored — the consuming commit recorded consumption atomically,
        and a crash between that commit and the post-commit
        ``set_offset`` mirror can never replay the batch. The mirror is
        deliberately NOT folded in (an earlier revision took the max of
        the two): the mirror file is keyed by consumer name alone, so
        if one name were ever reused across two carrier tables, the
        other table's consumption would silently skip this table's
        pending batches. Without ``table`` the mirror file is all there
        is (retention/observability reads)."""
        if table is not None and self.exists(table):
            return self._read_meta(table).get("consumed", {}).get(consumer, -1)
        p = self._offset_path(consumer)
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)["version"]
        return -1

    def set_offset(self, consumer: str, version: int) -> None:
        """Global offset mirror (observability + change retention). NOT
        the crash-safety mechanism — consuming DML passes ``offsets=`` to
        its commit so the advance rides the same atomic meta swap; this
        file may lag behind after a crash, which only RETAINS change
        batches longer (vacuum_changes uses the min consumer offset)."""
        # Writer-unique tmp name: concurrent mirror writers sharing one
        # fixed ".tmp" race on the os.replace (the loser's tmp is
        # already gone — FileNotFoundError, caught live by
        # tools/bench_occ_soak.py's N-consumer drill). Last-replace-wins
        # may briefly park the mirror at an OLDER version; harmless by
        # this mirror's contract — a low watermark only RETAINS change
        # batches longer, and the authoritative offset rides the table
        # meta.
        import threading as _threading
        tmp = (f"{self._offset_path(consumer)}.tmp-"
               f"{os.getpid()}-{_threading.get_ident()}")
        with open(tmp, "w") as f:
            json.dump({"version": version}, f)
        os.replace(tmp, self._offset_path(consumer))


class Catalog:
    """D1 — database/schema namespace management
    (``CREATE DATABASE SCD_TYPE2`` / ``CREATE SCHEMA …`` / ``USE``,
    SCD-Configuration Setup.sql:5-10). A namespace is a directory level;
    ``database(db, schema)`` returns the TableStore rooted there, which
    is the ``USE db.schema`` analogue — all table DDL/DML then resolves
    inside that namespace."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _dbdir(self, db: str, schema: str | None = None) -> str:
        p = os.path.join(self.root, db)
        return os.path.join(p, schema) if schema else p

    def create_database(self, db: str, schema: str = "public") -> "TableStore":
        os.makedirs(self._dbdir(db, schema), exist_ok=True)
        return self.database(db, schema)

    def database(self, db: str, schema: str = "public") -> "TableStore":
        p = self._dbdir(db, schema)
        if not os.path.isdir(p):
            raise KeyError(f"database {db}.{schema} does not exist")
        return TableStore(p)

    def show_databases(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d)))

    def show_schemas(self, db: str) -> list[str]:
        p = self._dbdir(db)
        if not os.path.isdir(p):
            raise KeyError(f"database {db} does not exist")
        return sorted(
            d for d in os.listdir(p) if os.path.isdir(os.path.join(p, d)))

    def drop_database(self, db: str) -> None:
        shutil.rmtree(self._dbdir(db), ignore_errors=True)
