"""SCD2 pipeline-cycle benchmark.

    python3 cyclebench/run.py --workload cycle_bulk --seed 1 --seconds 8 --trace 0

Runs one workload (``cycle_sparse``, ``cycle_bulk``, ``history_reads``;
see ``README.md``) in a fresh process and prints, as its last line, one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
package's entry points are wrapped in spans and the metrics are the
per-layer ones. Without ``--workload`` every workload runs, untraced and
traced, each in its own process, and the tracing overhead is printed.

The launcher pins the environment before the Spark session exists: one
Spark thread per available CPU, a driver heap that fits a small box, and
a fresh store, Spark scratch and temp directory under
``.cyclebench/`` in the checkout, removed when the run ends. Each run's
full record (per-cycle counters, read rounds, spans) is kept in
``.cyclebench/results/``. The exit code is 1 on any correctness mismatch
or failed operation.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
OUT = os.path.join(CHECKOUT, ".cyclebench")
WORKLOADS = ("cycle_sparse", "cycle_bulk", "history_reads")
DRIVER_MEM = "1g"


def pin_env(work: str) -> dict:
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_PRETOUCH": "1",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CKPT_DIR": os.path.join(work, "ckpt"),
        "TMPDIR": tmp,
        # The JVM's temp files and perf-data file stay out of /tmp too;
        # the JIT compiler threads live as long as the JVM, so the
        # benchmark can leave their CPU time out (see workloads.Run.cpu).
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                             " -XX:-UseDynamicNumberOfCompilerThreads",
    }
    os.environ.update(env)
    return {"cpus": cpus, "driver_mem": DRIVER_MEM, "pretouch": 1}


def run_one(args) -> int:
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    os.makedirs(OUT, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{tag}-", dir=OUT)
    try:
        env = pin_env(work)
        sys.path.append(CHECKOUT)
        import workloads
        res = workloads.run(args.workload, args.seed, args.seconds,
                            bool(args.trace), work, T0)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res["env"] = {**env, "seed": args.seed, "seconds": args.seconds}
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    with open(os.path.join(OUT, "results", os.path.basename(work) + ".json"), "w") as f:
        json.dump(res, f, indent=1)
    print(f"# {tag} env {json.dumps(res['env'])}")
    for name, note in res["notes"].items():
        print(f"# {name} = {note}")
    for name, m in res["metrics"].items():
        print(f"# {name:<36} {m['value']:>14.6g} {m['unit']}")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0 if res["correct"] else 1


def run_all(args) -> int:
    """Every workload, untraced then traced, one process each."""
    results, rc = {}, 0
    for w in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            sys.stdout.write(p.stdout)
            rc |= p.returncode
            try:
                results[w, trace] = json.loads(p.stdout.strip().splitlines()[-1])
            except (IndexError, json.JSONDecodeError):
                rc |= 1
                results[w, trace] = {"correct": False, "attempted": 0,
                                     "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        plain, traced = results[w, 0]["metrics"], results[w, 1]["metrics"]
        for e2e, tr in (("cycle_cpu_s.p50", "trace.cycle_cpu_s"),
                        ("read_round_cpu_s.p50", "trace.read_round_cpu_s")):
            if e2e not in plain or tr not in traced:
                continue
            d = traced[tr]["value"] - plain[e2e]["value"]
            print(f"# {w} tracing overhead on {e2e}: {d:+.3f} s "
                  f"({d / plain[e2e]['value']:+.1%})")
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{k}": v for (w, t), r in results.items() if t == 0
                    for k, v in r["metrics"].items()},
    }))
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    return run_one(args) if args.workload else run_all(args)


if __name__ == "__main__":
    sys.exit(main())
