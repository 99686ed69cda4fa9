"""T1-T4 — the 5-task SCD2 pipeline DAG, batch and scheduled variants.

Re-implements ``SCD-Automation.sql:31-122``: a linear 5-task chain fired
every minute —

    task1 TRUNCATE RAW            (Automation:34-38)
    task2 COPY stage → RAW, PURGE (Automation:43-49, AFTER task1)
    task3 MERGE raw → landing     (Automation:53-74, AFTER task2)
    task4 MERGE stream → staging  (Automation:79-93, AFTER task3)
    task5 INSERT OVERWRITE master (Automation:97-102, AFTER task4)

A strictly linear chain needs no DAG scheduler (SURVEY.md §3.3): one
``run_cycle()`` executes the five steps as five store commits. The
scheduled variant loops with an interval, mirroring
``SCHEDULE = '1 minute'``; run history lands in a ``pipeline_runs`` log
(T4, the TASK_HISTORY analogue at Automation:116,147).

Consume-once stream semantics (C3, Automation:142): task4 passes the
``scd2`` consumer's high-watermark INTO the staging commit
(``offsets=``), so consumption is recorded in the same atomic
``meta.json`` swap as the merge itself — Snowflake advances a stream's
offset in the consuming DML's transaction, and so do we. A crash at any
point either re-runs the whole batch against pre-merge staging (commit
never landed) or skips it entirely (commit landed, watermark with it);
the replayed-batch window that existed when the advance was a separate
post-commit file write is closed (drilled in
tests/test_incremental.py::test_crash_between_commit_and_offset_*).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time

from pyspark.sql import SparkSession

from . import schemas
from .operators.merge import merge_upsert
from .operators.scd2 import merge_from_stream, refresh_master
from .sources.csv import Stage, copy_into
from .store import TableStore

RAW, LANDING, STAGING, MASTER = (
    "supplier_raw", "supplier_landing", "supplier_staging", "supplier_master",
)
STREAM_CONSUMER = "scd2"  # the stream's single DML consumer (task4)

MERGE_KEY = ["supplier_code"]                       # J1 (Automation:59)
SCD2_KEY = ["supplier_code", "supplier_state"]      # J2 (Automation:85)
COMPARE_COLS = ["supplier_state", "supplier_name", "supplier_key"]  # J3


class SupplierPipeline:
    """The reference pipeline: 4 tables + 1 stage + 1 CDC stream."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.store = TableStore(root)
        self.stage = Stage(os.path.join(root, "_stage"))
        self._runs_path = os.path.join(root, "_meta", "pipeline_runs.jsonl")

    # D1 — namespace/DDL bootstrap (Setup.sql:5-51)
    def setup(self, n_buckets: int = 8) -> None:
        """LANDING and STAGING are key-bucketed on supplier_code so the
        two merges rewrite only buckets containing the load's keys (the
        100 TB path: a sparse delta touches a handful of buckets, not the
        table). RAW is truncate-and-reload and MASTER a full rebuild each
        cycle (reference semantics) — bucketing buys them nothing."""
        self.store.create(RAW, schemas.SUPPLIER)
        self.store.create(LANDING, schemas.SUPPLIER,
                          bucket_by=(["supplier_code"], n_buckets))
        self.store.create(STAGING, schemas.SUPPLIER_STAGING,
                          bucket_by=(["supplier_code"], n_buckets))
        self.store.create(MASTER, schemas.SUPPLIER)

    # ---- the five tasks -----------------------------------------------
    def task1_truncate_raw(self) -> None:
        self.store.truncate(self.spark, RAW)

    def task2_copy_into_raw(self, purge: bool = True) -> None:
        copy_into(self.store, self.spark, RAW, self.stage, purge=purge)

    def task3_merge_landing(self) -> None:
        raw = self.store.read(self.spark, RAW)
        merge_upsert(self.store, self.spark, LANDING, raw, MERGE_KEY, COMPARE_COLS)

    def task4_scd2_merge(self, now: dt.datetime) -> None:
        # One composed statement (MERGE INTO staging USING stream,
        # Automation:83-93): stream read, merge, and offset advance in
        # one optimistic transaction — the offset rides the staging
        # commit's atomic meta swap (C3, Automation:142), and a
        # concurrent staging writer makes the whole statement re-derive
        # against the winner's watermark, never replaying a consumed
        # batch or dropping an unconsumed one.
        merge_from_stream(self.store, self.spark, STAGING, LANDING,
                          STREAM_CONSUMER, SCD2_KEY, now)

    def task5_refresh_master(self) -> None:
        refresh_master(self.store, self.spark, MASTER, STAGING)

    def task6_maintenance(self, keep_versions: int = 3,
                          max_files_per_bucket: int = 4) -> dict:
        """MAINTENANCE (engine surface beyond the reference DAG): the
        storage-hygiene pass every production deployment schedules next
        to its load — compact fragmented buckets (OPTIMIZE), prune
        version history past the time-travel window (VACUUM), and
        retire change batches every consumer has read (stream
        retention). Each step is the already-tested store primitive;
        composing them here pins cadence + ordering: compaction FIRST
        (it commits a version, which vacuum's keep-window must count),
        vacuum second, change-retention last using the MINIMUM consumer
        offset so an unread batch can never be reclaimed (with task4 as
        the stream's only consumer, that is the scd2 offset). All
        data-neutral: pipeline results are identical with or without a
        maintenance tick (tests/test_orchestration.py)."""
        out: dict = {}
        for t in (LANDING, STAGING):
            out[f"compact_{t}"] = self.store.compact(
                self.spark, t, max_files_per_bucket=max_files_per_bucket)
        out["compact_master"] = self.store.compact(self.spark, MASTER)
        for t in (RAW, LANDING, STAGING, MASTER):
            out[f"vacuum_{t}"] = self.store.vacuum(t, keep_last=keep_versions)
        out["changes_retired"] = self.store.vacuum_changes(
            LANDING, self.store.get_offset(STREAM_CONSUMER, table=STAGING))
        return out

    # ---- orchestration ---------------------------------------------------
    def run_cycle(self, now: dt.datetime | None = None, purge: bool = True) -> dict:
        """One schedule tick: the five tasks in AFTER-chain order.

        ``now`` is evaluated ONCE per cycle — the statement-constant
        timestamp all SCD2 rows of this load share (F1, golden
        Setup.sql:255-258).

        Every tick lands in the run history: a task that raises stops
        the chain, and the run is recorded as FAILED with the task and
        its error (the reference's TASK_HISTORY, Automation:116,147)
        before the error propagates."""
        now = now or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        t0 = time.time()
        tasks = [
            ("task1_truncate_raw", ()),
            ("task2_copy_into_raw", (purge,)),
            ("task3_merge_landing", ()),
            ("task4_scd2_merge", (now,)),
            ("task5_refresh_master", ()),
        ]
        for task, args in tasks:
            try:
                getattr(self, task)(*args)
            except Exception as e:
                self._record_run(t0, state="FAILED", task=task,
                                 error=f"{type(e).__name__}: {e}")
                raise
        return self._record_run(t0, state="SUCCEEDED")

    def _record_run(self, t0: float, **outcome) -> dict:
        run = {
            "completed_time": dt.datetime.now(dt.timezone.utc).isoformat(),
            "duration_sec": round(time.time() - t0, 3),
            "landing_version": self.store.version(LANDING),
            "staging_version": self.store.version(STAGING),
            **outcome,
        }
        with open(self._runs_path, "a") as f:  # T4 run history
            f.write(json.dumps(run) + "\n")
        return run

    def run_scheduled(self, interval_sec: float = 60.0, max_cycles: int | None = None,
                      stop_when_stage_empty: bool = False) -> list[dict]:
        """T1 — the 1-minute schedule loop (Automation:36), foreground."""
        # Snapshot the stop handle ONCE: suspend() may null self._stop
        # concurrently, and a worker must never observe it half-cleared.
        stop = self._stop
        runs = []
        while max_cycles is None or len(runs) < max_cycles:
            if stop_when_stage_empty and not self.stage.list():
                break
            runs.append(self.run_cycle())
            if max_cycles is not None and len(runs) >= max_cycles:
                break
            if stop is not None:
                if stop.wait(interval_sec):
                    break
            else:
                time.sleep(interval_sec)
        return runs

    # T3 — ALTER TASK … RESUME / SUSPEND (Automation:108-122): a handle
    # to start and stop the schedule without blocking the caller.
    _thread = None
    _stop = None

    def resume(self, interval_sec: float = 60.0) -> None:
        """ALTER TASK RESUME — start the schedule in the background
        (idempotent: resuming a running pipeline is a no-op, as in the
        reference)."""
        import threading
        if self._thread is not None and self._thread.is_alive():
            return
        self._stop = threading.Event()
        self._thread = threading.Thread(
            target=self.run_scheduled, kwargs={"interval_sec": interval_sec},
            daemon=True)
        self._thread.start()

    def suspend(self, timeout: float = 60.0) -> bool:
        """ALTER TASK SUSPEND — stop after the in-flight cycle (tasks
        are never killed mid-statement, matching Snowflake).

        Returns True when the worker actually stopped. If the in-flight
        cycle outlives ``timeout``, the handles are KEPT (the stop flag
        stays set, so the worker still exits after its cycle) and a later
        suspend() — or is_running — can re-check; clearing them while the
        thread lives would orphan an unstoppable loop."""
        if self._stop is not None:
            self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout)
            if self._thread.is_alive():
                return False
            self._thread = None
        self._stop = None
        return True

    @property
    def is_running(self) -> bool:
        return self._thread is not None and self._thread.is_alive()

    def task_history(self) -> list[dict]:
        """T4 — TASK_HISTORY ORDER BY COMPLETED_TIME DESC
        (Automation:116,147)."""
        if not os.path.exists(self._runs_path):
            return []
        with open(self._runs_path) as f:
            runs = [json.loads(line) for line in f if line.strip()]
        return sorted(runs, key=lambda r: r["completed_time"], reverse=True)
