"""The three workloads: one client drives ``SupplierPipeline.run_cycle``
in a closed loop (each cycle starts when the previous one has committed
MASTER) and, where the workload asks, a seeded read mix over the store.

Each run: session start, empty store, the initial load (plus, for
``history_reads``, the bulk cycle that builds its history), untimed
warm-up cycles — all of that is ``setup_s`` — then the timed cycle window,
untimed warm-up read rounds and the timed read rounds, then the
correctness gate against the ``gen.Model``.
"""

from __future__ import annotations

import dataclasses
import math
import os
import statistics
import sys
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from slowly_changing_dimensions_data_engineering_spark import pipeline as pl
from slowly_changing_dimensions_data_engineering_spark.operators import asof, diff
from slowly_changing_dimensions_data_engineering_spark.operators.rangejoin import interval_join
from slowly_changing_dimensions_data_engineering_spark.session import get_spark

from gen import CYCLE_STEP, Model
from spans import Tracer, self_time, spark_totals, walk, written


@dataclasses.dataclass(frozen=True)
class Spec:
    dim: int            # codes in the initial load
    history: int        # setup bulk cycles that change every code
    changes: int        # existing codes moved to a new state, per cycle
    new: int            # new codes, per cycle
    warmup: int         # untimed cycles before the window
    facts: int          # facts the point-in-time / as-of joins read


SPECS = {
    "cycle_sparse": Spec(dim=20_000, history=0, changes=250, new=250,
                         warmup=1, facts=20_000),
    "cycle_bulk": Spec(dim=10_000, history=0, changes=4_500, new=500,
                       warmup=1, facts=20_000),
    "history_reads": Spec(dim=10_000, history=1, changes=250, new=250,
                          warmup=1, facts=50_000),
}
MIN_CYCLES = 3       # a short window still yields a median
READ_WARMUP = 2      # untimed read rounds after the cycle window
READ_ROUNDS = 3      # timed read rounds after those
LOOKUPS = 1_000      # MASTER codes looked up per read round
N_BUCKETS = 8        # SupplierPipeline.setup() default


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def tail(xs: list[float]) -> tuple[int, float]:
    """The highest of p99/p95/p90/p75/p50 with at least ten samples beyond
    it; below twenty samples no percentile qualifies and the maximum is
    reported as p100."""
    for p in (99, 95, 90, 75, 50):
        if len(xs) * (100 - p) / 100 >= 10:
            return p, percentile(xs, p)
    return 100, max(xs)


def _sig(df, cols):
    from pyspark.sql import functions as F
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(F.crc32(F.concat_ws(
        "|", *[F.col(c).cast("string") for c in cols]))).alias("h")).first()
    return r["n"], r["h"] or 0


def _buckets(meta: dict) -> dict:
    return dict(meta.get("buckets", {}))


def _cpu_ticks(stat_path: str) -> int:
    """utime + stime, in clock ticks, from a /proc stat file."""
    with open(stat_path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


def _jit_threads(pid: int) -> list[str]:
    """Task ids of the JVM's JIT compiler threads. The launcher starts the
    JVM with ``-XX:-UseDynamicNumberOfCompilerThreads``, so they all exist
    from start-up and never exit (an exited thread's CPU would drop out of
    the sum and be counted as work)."""
    tids = []
    for t in os.listdir(f"/proc/{pid}/task"):
        with open(f"/proc/{pid}/task/{t}/comm") as f:
            if f.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                tids.append(t)
    if not tids:
        raise RuntimeError(f"no JIT compiler threads in JVM {pid}")
    return tids


class Run:
    def __init__(self, name: str, seed: int, seconds: int, traced: bool,
                 work: str, t0: float):
        self.name, self.spec = name, SPECS[name]
        self.seed, self.seconds, self.t0 = seed, seconds, t0
        self.work = work
        self.root = os.path.join(work, "store")
        self.inbox = os.path.join(work, "in")
        os.makedirs(self.inbox)
        self.model = Model(seed)
        self.rng = np.random.default_rng(seed)
        self.spark = get_spark(app_name=f"cyclebench-{name}")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        self.jit_tids = _jit_threads(self.jvm_pid)
        self.p = pl.SupplierPipeline(self.spark, self.root)
        self.tracer = Tracer(self.spark, self.root, traced)
        self.staged_bytes = 0
        self.cycles: list[dict] = []
        self.rounds: list[dict] = []
        self.errors: list[str] = []
        self.attempted = self.failed = 0
        self.phases: dict[str, float] = {}

    # ---- one cycle --------------------------------------------------------
    def _stage(self, changes: int, new: int):
        rows = self.model.load(changes, new)
        path = os.path.join(self.inbox, f"load{self.model.cycles - 1:05d}.csv")
        with open(path, "w", encoding="ascii") as f:
            f.writelines(f"{k},{c},{n},{s}\n" for k, c, n, s in rows)
        size = os.path.getsize(path)
        self.staged_bytes += size
        self.p.stage.put(path)
        os.remove(path)
        return len(rows), size

    def cycle(self, changes: int, new: int, timed: bool) -> None:
        now = self.model.now(self.model.cycles)
        n_rows, csv_bytes = self._stage(changes, new)
        if not timed:
            self.p.run_cycle(now=now)
            self.model.record(self.p.store.version(pl.LANDING))
            return
        store = self.p.store
        files0 = walk(self.root)
        meta0 = {t: store._read_meta(t) for t in (pl.RAW, pl.LANDING, pl.STAGING, pl.MASTER)}
        with self.tracer.span("cycle", root=True) as span:
            cpu, t = self.cpu(), time.perf_counter()
            self.p.run_cycle(now=now)
            secs, (cpu, jit) = time.perf_counter() - t, self.cpu_since(cpu)
        self.tracer.collect_jobs()
        lv = store.version(pl.LANDING)
        self.model.record(lv)
        meta1 = {t: store._read_meta(t) for t in meta0}
        files1 = walk(self.root)
        w = written(files0, files1)
        touched = {t: sum(1 for k, v in _buckets(meta1[t]).items()
                          if _buckets(meta0[t]).get(k) != v)
                   for t in (pl.LANDING, pl.STAGING)}
        cdc = os.path.join(self.root, pl.LANDING, "_changes", f"v{lv:06d}")
        cdc_rows = sum(pq.read_metadata(os.path.join(d, f)).num_rows
                       for d, _, fs in os.walk(cdc) for f in fs if f.endswith(".parquet"))
        self.cycles.append({
            "cycle": self.model.cycles - 1, "s": secs, "cpu_s": cpu, "jit_cpu_s": jit,
            "rows": n_rows,
            "csv_bytes": csv_bytes, "files": w["files"], "bytes": w["bytes"],
            "commits": sum(meta1[t]["latest"] - meta0[t]["latest"] for t in meta0),
            "landing_buckets": touched[pl.LANDING],
            "staging_buckets": touched[pl.STAGING],
            "cdc_rows": cdc_rows, "opened": changes + new, "closed": changes,
            "meta_bytes": sum(sz for p, sz in files1.items()
                              if os.path.dirname(p).endswith("_meta") and p.endswith(".json")),
            **spark_totals(self.tracer.spans, span), "span": span["id"],
        })
        if len(self.cycles) == MIN_CYCLES:
            # At a fixed cycle count, so the ratio does not depend on how
            # many cycles fit the window.
            self.store_ratio = sum(files1.values()) / self.staged_bytes
        if cdc_rows != 2 * changes + new:
            self.errors.append(f"cycle {self.model.cycles - 1}: {cdc_rows} change rows, "
                               f"model {2 * changes + new}")

    # ---- one read round -----------------------------------------------------
    def read_round(self, i: int, timed: bool = True) -> None:
        from pyspark.sql import functions as F
        spark, store, m, tr = self.spark, self.p.store, self.model, self.tracer
        # Seeded by the round alone: every seed's round i reads the same
        # versions, so what a round costs does not depend on the seed's draw.
        rng = np.random.default_rng(i)
        versions = sorted(m.landing)
        with tr.span("read_round", root=True) as span:
            cpu, t = self.cpu(), time.perf_counter()
            staging = store.read(spark, pl.STAGING)
            with tr.span("read.pit_join"):
                t_end = m.now(m.cycles) + CYCLE_STEP
                right = staging.select(
                    "supplier_code", "supplier_state", "start_date",
                    F.coalesce("end_date", F.lit(t_end).cast("timestamp_ntz")).alias("end_x"))
                got = _sig(interval_join(self.facts, right, "ts", "start_date", "end_x",
                                         by=[("code", "supplier_code")], bucket_seconds=3600),
                           ["code", "supplier_state"])
                self._check("pit_join", got, self.facts_expect)
            with tr.span("read.asof_join"):
                j = asof.asof_join(self.facts, staging.select(
                    "supplier_code", "start_date", "supplier_state"),
                    on="ts", right_on="start_date", by="code",
                    right_by="supplier_code", right_cols=["supplier_state"])
                got = _sig(j.filter(F.col("supplier_state").isNotNull()),
                           ["code", "supplier_state"])
                self._check("asof_join", got, self.facts_expect)
            with tr.span("read.master_lookup"):
                codes = [m.codes[k] for k in rng.choice(len(m.codes), LOOKUPS, replace=False)]
                rows = (store.read(spark, pl.MASTER)
                        .filter(F.col("supplier_code").isin(codes))
                        .select("supplier_code", "supplier_state").collect())
                self._check("master_lookup", dict(map(tuple, rows)), m.lookup(codes))
            with tr.span("read.time_travel"):
                v = int(rng.choice(versions[:-1]))
                got = _sig(store.read(spark, pl.LANDING, version=v),
                           ["supplier_key", "supplier_code", "supplier_name", "supplier_state"])
                self._check(f"time_travel v{v}", got, m.landing[v])
            with tr.span("read.changes"):
                since = int(rng.choice(versions[:-1]))
                rows = (store.read_changes(spark, pl.LANDING, since=since)
                        .groupBy("`METADATA$ACTION`").count().collect())
                self._check(f"changes since v{since}", dict(map(tuple, rows)),
                            m.changes_since(since))
            with tr.span("read.snapshot_diff"):
                a, b = sorted(int(x) for x in rng.choice(versions, 2, replace=False))
                rows = (diff.snapshot_diff(store, spark, pl.LANDING, a, b,
                                           key=["supplier_code"], check_keys=False)
                        .groupBy("change_type").count().collect())
                self._check(f"snapshot_diff v{a}..v{b}", dict(map(tuple, rows)),
                            {k: n for k, n in m.diff(a, b).items() if n})
            secs, (cpu, jit) = time.perf_counter() - t, self.cpu_since(cpu)
        tr.collect_jobs()
        if not timed:
            return
        self.rounds.append({"round": i, "s": secs, "cpu_s": cpu, "jit_cpu_s": jit,
                            **spark_totals(tr.spans, span),
                            "span": span["id"]})

    def _check(self, what: str, got, want) -> None:
        if got != want:
            self.errors.append(f"{what}: got {got}, model {want}")

    # ---- the run ------------------------------------------------------------
    def setup(self) -> None:
        s = self.spec
        mark = self._phase("session")
        self.p.setup(n_buckets=N_BUCKETS)
        self.cycle(0, s.dim, timed=False)
        mark("initial_load")
        for _ in range(s.history):
            self.cycle(len(self.model.codes), 0, timed=False)
        mark("history")
        for _ in range(s.warmup):
            self.cycle(s.changes, s.new, timed=False)
        mark("warmup")
        codes, ts, self.facts_expect = self.model.facts(s.facts, self.rng)
        path = os.path.join(self.work, "facts.parquet")
        pq.write_table(pa.table({"code": codes, "ts": ts}), path)
        self.facts = self.spark.read.parquet(path)
        mark("facts")

    def _phase(self, first: str):
        """Record setup phase durations in ``self.phases``; the first phase
        ran from process start."""
        last = [self.t0]

        def mark(name: str) -> None:
            now = time.perf_counter()
            self.phases[name] = now - last[0]
            last[0] = now
        mark(first)
        return mark

    def window(self) -> None:
        s = self.spec
        deadline = time.perf_counter() + self.seconds
        with self.tracer.instrument():
            while len(self.cycles) < MIN_CYCLES or time.perf_counter() < deadline:
                if not self._op(self.cycle, s.changes, s.new, timed=True):
                    return
            # The first read rounds of a process run the read path's code
            # cold; they are checked but not timed.
            for i in range(1, READ_WARMUP + READ_ROUNDS + 1):
                if not self._op(self.read_round, i, timed=i > READ_WARMUP):
                    return

    def _op(self, fn, *a, **kw) -> bool:
        self.attempted += 1
        try:
            fn(*a, **kw)
            return True
        except Exception:        # the run reports it and stops: the model is now unreliable
            self.failed += 1
            self.errors.append(traceback.format_exc())
            return False

    def gate(self) -> None:
        """MASTER, STAGING and the consumer offset against the model."""
        from pyspark.sql import functions as F
        store, spark, m = self.p.store, self.spark, self.model
        self._check("master", _sig(store.read(spark, pl.MASTER),
                                   ["supplier_key", "supplier_code", "supplier_name",
                                    "supplier_state"]), tuple(m.master_sig))
        per_code = (store.read(spark, pl.STAGING).groupBy("supplier_code").agg(
            F.count(F.lit(1)).alias("v"),
            F.sum(F.when(F.col("current_flag") == "Y", 1).otherwise(0)).alias("y")))
        self._check("staging", _sig(per_code, ["supplier_code", "v", "y"]), m.staging_sig())
        self._check("scd2 offset", store.get_offset(pl.STREAM_CONSUMER, table=pl.STAGING),
                    max(store.change_versions(pl.LANDING, -1)))

    def cpu(self) -> tuple[float, float]:
        """(work, JIT) CPU seconds used so far. Work is the driver JVM's
        threads other than its JIT compiler threads, plus this process; JIT
        is the compiler threads. Unlike wall time, CPU time leaves out time
        the host's other guests took the CPUs (steal). The compiler threads
        are kept apart because Spark generates new classes for every query,
        so the JIT takes half the CPU of the first cycles and read rounds
        and its share falls run by run: counted in, it would spread the
        work figures by how warm the JVM happened to be."""
        jvm = _cpu_ticks(f"/proc/{self.jvm_pid}/stat")
        jit = sum(_cpu_ticks(f"/proc/{self.jvm_pid}/task/{t}/stat") for t in self.jit_tids)
        t = os.times()
        tck = os.sysconf("SC_CLK_TCK")
        return (jvm - jit) / tck + t.user + t.system, jit / tck

    def cpu_since(self, before: tuple[float, float]) -> tuple[float, float]:
        return tuple(b - a for a, b in zip(before, self.cpu()))

    def jvm_peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("no VmHWM in /proc status")

    def execute(self) -> dict:
        self.setup()
        # Set-up in work CPU seconds, like the other timed metrics: the JVM
        # since launch and this process since start.
        setup_wall_s, setup_s = time.perf_counter() - self.t0, self.cpu()[0]
        self.window()
        if not self.failed:
            try:
                self.gate()
            except Exception:
                self.errors.append(traceback.format_exc())
        return {"setup_s": setup_s, "setup_wall_s": setup_wall_s,
                "jvm_peak_rss_mb": self.jvm_peak_rss_mb()}

    def stop(self) -> None:
        from pyspark import SparkContext
        gw = SparkContext._gateway
        self.spark.stop()
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)


# ---- metrics ----------------------------------------------------------------
def end_to_end(run: Run, base: dict) -> tuple[dict, dict]:
    """The gated metrics, and the wall-clock latencies as printed notes:
    on a host whose other guests take CPU time (steal) wall time spread
    0.3-0.45 between seeds, CPU time about half that."""
    cs = [c["s"] for c in run.cycles]
    rs = [r["s"] for r in run.rounds]
    cpu = [c["cpu_s"] for c in run.cycles]
    metrics = {
        "setup_s": (base["setup_s"], "s"),
        "cycle_cpu_s.p50": (statistics.median(cpu), "s"),
        "read_round_cpu_s.p50": (statistics.median(r["cpu_s"] for r in run.rounds), "s"),
        "delta_rows_per_cpu_s": (sum(c["rows"] for c in run.cycles) / sum(cpu), "rows/s"),
        "store_bytes_per_input_byte": (run.store_ratio, "ratio"),
        "jvm_peak_rss_mb": (base["jvm_peak_rss_mb"], "MiB"),
    }
    cp, ct = tail(cs)
    rp, rt = tail(rs)
    notes = {
        "cycle_s.p50": f"{statistics.median(cs):.3f} s",
        "cycle_s.tail": f"{ct:.3f} s = p{cp} of n={len(cs)}",
        "delta_rows_per_s": f"{sum(c['rows'] for c in run.cycles) / sum(cs):.1f} rows/s",
        "read_round_s.p50": f"{statistics.median(rs):.3f} s",
        "read_round_s.tail": f"{rt:.3f} s = p{rp} of n={len(rs)}",
        "cycle_jit_cpu_s.p50": f"{statistics.median(c['jit_cpu_s'] for c in run.cycles):.3f} s",
        "read_round_jit_cpu_s.p50":
            f"{statistics.median(r['jit_cpu_s'] for r in run.rounds):.3f} s",
        "cycle_cpu_s": " ".join(f"{x:.2f}" for x in cpu),
        "read_round_cpu_s": " ".join(f"{r['cpu_s']:.2f}" for r in run.rounds),
        "cycle_s": " ".join(f"{x:.2f}" for x in cs),
        "read_round_s": " ".join(f"{x:.2f}" for x in rs),
        "setup_wall_s": f"{base['setup_wall_s']:.3f} s",
        "setup": " ".join(f"{k}={v:.1f}" for k, v in run.phases.items()),
    }
    return metrics, notes


def per_layer(run: Run) -> dict:
    spans = run.tracer.spans
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def below(root_id: int, name: str) -> list[dict]:
        out, todo = [], list(kids.get(root_id, []))
        while todo:
            s = todo.pop()
            if s["name"] == name:
                out.append(s)
            todo.extend(kids.get(s["id"], []))
        return out

    def dur(root_id, *names):
        return sum(s["end"] - s["start"] for n in names for s in below(root_id, n))

    def own(root_id, name):
        return sum(self_time(spans, s) for s in below(root_id, name))

    def jobs(root_id, name):
        return sum(spark_totals(spans, s)["jobs"] for s in below(root_id, name))

    med = statistics.median
    C, R = run.cycles, run.rounds
    out = {}
    for k in range(1, 6):
        out[f"pipeline.task{k}_s"] = (med(dur(c["span"], f"task{k}") for c in C), "s")
    out.update({
        "csv.copy_into_s": (med(dur(c["span"], "copy_into") for c in C), "s"),
        "csv.copy_into_self_s": (med(own(c["span"], "copy_into") for c in C), "s"),
        "csv.rows": (med(c["rows"] for c in C), "count"),
        "csv.bytes_staged": (med(c["csv_bytes"] for c in C), "B"),
        "merge.upsert_s": (med(dur(c["span"], "merge_upsert") for c in C), "s"),
        "merge.upsert_self_s": (med(own(c["span"], "merge_upsert") for c in C), "s"),
        "merge.buckets_touched": (med(c["landing_buckets"] for c in C), "count"),
        "merge.buckets_total": (N_BUCKETS, "count"),
        "merge.cdc_rows": (med(c["cdc_rows"] for c in C), "count"),
        "scd2.merge_s": (med(dur(c["span"], "merge_from_stream") for c in C), "s"),
        "scd2.merge_self_s": (med(own(c["span"], "merge_from_stream") for c in C), "s"),
        "scd2.master_s": (med(dur(c["span"], "refresh_master") for c in C), "s"),
        "scd2.master_self_s": (med(own(c["span"], "refresh_master") for c in C), "s"),
        "scd2.buckets_touched": (med(c["staging_buckets"] for c in C), "count"),
        "scd2.rows_opened": (med(c["opened"] for c in C), "count"),
        "scd2.rows_closed": (med(c["closed"] for c in C), "count"),
        "store.commits": (med(c["commits"] for c in C), "count"),
        "store.commit_s": (med(dur(c["span"], "commit", "commit_buckets", "commit_append")
                               for c in C), "s"),
        "store.bytes_written": (med(c["bytes"] for c in C), "B"),
        "store.files_written": (med(c["files"] for c in C), "count"),
        "store.write_amp": (med(c["bytes"] / c["csv_bytes"] for c in C), "ratio"),
        "store.meta_bytes": (C[-1]["meta_bytes"], "B"),
        "store.read_s": (med(dur(r["span"], "read", "read_buckets", "read_changes")
                             for r in R), "s"),
        "store.files_per_read": (med(
            statistics.mean(s["files"] for n in ("read", "read_buckets", "read_changes")
                            for s in below(r["span"], n)) for r in R), "count"),
    })
    for key, unit in (("jobs", "count"), ("stages", "count"), ("skipped", "count"),
                      ("tasks", "count"), ("input_bytes", "B"),
                      ("shuffle_write_bytes", "B"), ("spill_bytes", "B"),
                      ("gc_ms", "ms"), ("executor_run_ms", "ms")):
        name = "spark.stages_skipped" if key == "skipped" else f"spark.{key}"
        out[name] = (med(c[key] for c in C), unit)
    for k in range(1, 6):
        out[f"spark.task{k}_jobs"] = (med(jobs(c["span"], f"task{k}") for c in C), "count")
    out.update({
        "spark.read_round_jobs": (med(r["jobs"] for r in R), "count"),
        "spark.read_round_executor_run_ms": (med(r["executor_run_ms"] for r in R), "ms"),
        "reads.pit_join_s": (med(dur(r["span"], "read.pit_join") for r in R), "s"),
        "asof.join_s": (med(dur(r["span"], "read.asof_join") for r in R), "s"),
        "reads.master_lookup_s": (med(dur(r["span"], "read.master_lookup") for r in R), "s"),
        "reads.time_travel_s": (med(dur(r["span"], "read.time_travel") for r in R), "s"),
        "reads.changes_s": (med(dur(r["span"], "read.changes") for r in R), "s"),
        "diff.snapshot_diff_s": (med(dur(r["span"], "read.snapshot_diff") for r in R), "s"),
        "trace.cycle_s": (med(c["s"] for c in C), "s"),
        "trace.read_round_s": (med(r["s"] for r in R), "s"),
        "trace.cycle_cpu_s": (med(c["cpu_s"] for c in C), "s"),
        "trace.read_round_cpu_s": (med(r["cpu_s"] for r in R), "s"),
        "jvm.cycle_jit_cpu_s": (med(c["jit_cpu_s"] for c in C), "s"),
        "jvm.read_round_jit_cpu_s": (med(r["jit_cpu_s"] for r in R), "s"),
    })
    return out


def run(name: str, seed: int, seconds: int, traced: bool, work: str, t0: float) -> dict:
    r = Run(name, seed, seconds, traced, work, t0)
    try:
        base = r.execute()
    finally:
        r.stop()
    for e in r.errors:
        print(e, file=sys.stderr)
    metrics, notes = end_to_end(r, base) if r.cycles and r.rounds else ({}, {})
    if traced and r.cycles and r.rounds:
        metrics = per_layer(r)
    return {
        "correct": not r.errors and not r.failed,
        "attempted": r.attempted, "failed": r.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "notes": notes, "errors": r.errors, "setup_phases": r.phases,
        "cycles": r.cycles, "rounds": r.rounds,
        "spans": r.tracer.spans if traced else [],
    }
