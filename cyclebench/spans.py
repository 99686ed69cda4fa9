"""Spans, Spark job attribution and store counters, recorded from the
benchmark's own files.

A span has a name, start, end and parent. Every span is also a Spark job
group (``spark.jobGroup.id``), so each Spark job is charged to the
innermost span open when it started; after each root span the listener
bus is drained and the jobs and stages are read back from the local UI
REST API, SKIPPED stages included. Self time is a span's duration minus
its children's.

Untraced runs open only the root spans (one per cycle, one per read
round): that costs a local property set and a REST read between cycles,
and no Spark job. ``instrument`` adds the per-layer spans by wrapping the
package's public entry points where they are looked up.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
import urllib.request
from urllib.parse import urlparse

# (owner, attribute, span name, kind). ``pipeline.py`` binds the operator
# functions by ``from … import``, so they are patched in ``pipeline``'s
# namespace; the read mix calls ``asof_join``/``snapshot_diff`` through
# their modules. kind "write" walks the store around the span, "read"
# counts the parquet files the returned frame resolves.
def _entry_points():
    from slowly_changing_dimensions_data_engineering_spark import pipeline
    from slowly_changing_dimensions_data_engineering_spark.operators import asof, diff
    from slowly_changing_dimensions_data_engineering_spark.store import TableStore

    P = pipeline.SupplierPipeline
    return [
        (P, "task1_truncate_raw", "task1", None),
        (P, "task2_copy_into_raw", "task2", None),
        (P, "task3_merge_landing", "task3", None),
        (P, "task4_scd2_merge", "task4", None),
        (P, "task5_refresh_master", "task5", None),
        (pipeline, "copy_into", "copy_into", None),
        (pipeline, "merge_upsert", "merge_upsert", None),
        (pipeline, "merge_from_stream", "merge_from_stream", None),
        (pipeline, "refresh_master", "refresh_master", None),
        (asof, "asof_join", "asof_join", None),
        (diff, "snapshot_diff", "snapshot_diff", None),
        (TableStore, "commit", "commit", "write"),
        (TableStore, "commit_buckets", "commit_buckets", "write"),
        (TableStore, "commit_append", "commit_append", "write"),
        (TableStore, "truncate", "truncate", None),
        (TableStore, "read", "read", "read"),
        (TableStore, "read_buckets", "read_buckets", "read"),
        (TableStore, "read_changes", "read_changes", "read"),
    ]


def walk(root: str) -> dict[str, int]:
    """path -> size of every file under ``root``."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:   # a commit's staging dir moved away
                pass
    return out


def written(before: dict[str, int], after: dict[str, int]) -> dict[str, int]:
    """Parquet files and bytes that appeared between two walks (the store
    never rewrites a file in place: every commit adds a version dir)."""
    new = [p for p in after if p not in before and p.endswith(".parquet")]
    return {"files": len(new), "bytes": sum(after[p] for p in new)}


class Tracer:
    def __init__(self, spark, store_root: str, traced: bool):
        self.sc = spark.sparkContext
        self.root = store_root
        self.traced = traced
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._seen_jobs: set[int] = set()
        self._seen_stages: set[int] = set()
        ui = urlparse(self.sc.uiWebUrl)
        # The UI binds every interface; talk to it over loopback.
        self._api = (f"http://127.0.0.1:{ui.port}/api/v1/applications/"
                     f"{self.sc.applicationId}")

    # ---- spans ----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, kind: str | None = None, root: bool = False):
        if not (root or self.traced):
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None, "jobs": []}
        self.spans.append(rec)
        self._stack.append(rec)
        self._group(rec["id"])
        before = walk(self.root) if kind == "write" else None
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if before is not None:
                rec["store"] = written(before, walk(self.root))
            self._stack.pop()
            self._group(self._stack[-1]["id"] if self._stack else None)

    def _group(self, span_id: int | None) -> None:
        self.sc.setLocalProperty(
            "spark.jobGroup.id", None if span_id is None else f"span-{span_id}")

    @contextlib.contextmanager
    def instrument(self):
        """Wrap every public entry point in ``_entry_points`` in a span for
        the duration of the block (traced runs only)."""
        if not self.traced:
            yield
            return
        saved = []
        for owner, attr, name, kind in _entry_points():
            fn = getattr(owner, attr)
            saved.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(fn, name, kind))
        try:
            yield
        finally:
            for owner, attr, fn in reversed(saved):
                setattr(owner, attr, fn)

    def _wrap(self, fn, name: str, kind: str | None):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with self.span(name, kind) as rec:
                out = fn(*a, **kw)
                if kind == "read":
                    rec["files"] = len(out.inputFiles()) if out is not None else 0
                return out
        return wrapper

    # ---- Spark jobs -----------------------------------------------------
    def _get(self, path: str):
        with urllib.request.urlopen(self._api + path, timeout=30) as r:
            return json.load(r)

    def collect_jobs(self) -> None:
        """Drain the listener bus, then charge every job not seen before to
        the span whose group it carries, with the metrics of its stages."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = [j for j in self._get("/jobs") if j["jobId"] not in self._seen_jobs]
        if not jobs:
            return
        stages = {}
        for s in self._get("/stages"):
            stages.setdefault(s["stageId"], []).append(s)
        by_id = {r["id"]: r for r in self.spans}
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            self._seen_jobs.add(j["jobId"])
            group = j.get("jobGroup") or ""
            if not group.startswith("span-"):
                continue
            rec = {"job": j["jobId"], "stages": len(j["stageIds"]),
                   "skipped": 0, "tasks": 0, "input_bytes": 0,
                   "shuffle_write_bytes": 0, "spill_bytes": 0, "gc_ms": 0,
                   "executor_run_ms": 0}
            for sid in j["stageIds"]:
                attempts = stages.get(sid, [])
                if not attempts or all(a["status"] == "SKIPPED" for a in attempts):
                    rec["skipped"] += 1
                    continue
                if sid in self._seen_stages:   # ran for an earlier job
                    rec["skipped"] += 1
                    continue
                self._seen_stages.add(sid)
                for a in attempts:
                    rec["tasks"] += a["numCompleteTasks"]
                    rec["input_bytes"] += a["inputBytes"]
                    rec["shuffle_write_bytes"] += a["shuffleWriteBytes"]
                    rec["spill_bytes"] += a["memoryBytesSpilled"] + a["diskBytesSpilled"]
                    rec["gc_ms"] += a["jvmGcTime"]
                    rec["executor_run_ms"] += a["executorRunTime"]
            by_id[int(group[5:])]["jobs"].append(rec)


SPARK_KEYS = ("stages", "skipped", "tasks", "input_bytes", "shuffle_write_bytes",
              "spill_bytes", "gc_ms", "executor_run_ms")


def spark_totals(spans: list[dict], root: dict) -> dict[str, int]:
    """Jobs and stage metrics of ``root`` and every span below it."""
    below = {root["id"]}
    for s in spans:              # parents precede children in ``spans``
        if s["parent"] in below:
            below.add(s["id"])
    out = dict.fromkeys(("jobs",) + SPARK_KEYS, 0)
    for s in spans:
        if s["id"] in below:
            out["jobs"] += len(s["jobs"])
            for j in s["jobs"]:
                for k in SPARK_KEYS:
                    out[k] += j[k]
    return out


def self_time(spans: list[dict], rec: dict) -> float:
    kids = sum(s["end"] - s["start"] for s in spans if s["parent"] == rec["id"])
    return rec["end"] - rec["start"] - kids
