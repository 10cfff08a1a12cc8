"""RAG engine benchmark.

    python3 perfbench/run.py --workload retrieve --seed 1 --seconds 10 --trace 0

Run from the repository root. One run generates its inputs from the
seed into a private directory under ``.perfbench/``, starts a Spark
session on ``local[<cores>]``, sets up the workload several times,
runs its operations in a closed loop with one client for ``--seconds``,
checks every output, tears everything down and prints, as the last
line of standard output::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` every engine call runs inside a span and the metrics are
the per-layer ones. A fuller record of the run (versions, core count,
host-speed calibration before and after, input properties, set-up and
operation times, per-layer medians and self times, and with tracing
the spans) goes to ``.perfbench/records/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
WORKLOADS = ("retrieve", "batch")     # as in workloads.WORKLOADS
SPARK_DRIVER_MEM = "2g"

END_TO_END = {           # name -> unit
    "setup_s": "s",
    "op_p50_s": "s",
    "work_per_s": "1/s",
}
PER_LAYER = {
    "session.start_s": "s",
    "catalog.load_s": "s",
    "plans.build_s": "s",
    "plans.exec_s": "s",
    "plans.eager_jobs": "count",
    "driver.gap_s": "s",
    "executor.jobs": "count",
    "executor.tasks": "count",
    "executor.task_cpu_s": "s",
    "executor.busy_share": "share",
    "executor.shuffle_read_mb": "MB",
    "executor.shuffle_write_mb": "MB",
    "executor.spill_mb": "MB",
    "executor.input_rows": "count",
    "jvm.peak_heap_mb": "MB",
    "trace.readback_s": "s",
    "trace.op_p50_s": "s",
}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def calibration_s(runs: int = 3) -> float:
    """Host-speed marker: a fixed pure-Python loop, best of ``runs``.
    A loaded or slower host moves it by the factor it moves the
    measured walls; a code change does not move it."""
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        acc = 0
        for i in range(2_000_000):
            acc = (acc * 31 + i) % 1_000_003
        best = min(best, time.perf_counter() - t0)
    return best


def private_dirs(workload: str, seed: int) -> dict:
    base = os.path.join(ROOT, ".perfbench", f"run-{workload}-{seed}-{os.getpid()}")
    dirs = {k: os.path.join(base, k) for k in
            ("data", "work", "tmp", "local", "warehouse", "derby")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    dirs["base"] = base
    return dirs


def spark_env(dirs: dict) -> None:
    """Sandbox the session before pyspark starts the JVM: all Spark,
    derby and temp files go under the run's private directory."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_DRIVER_MEM"] = SPARK_DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    # -XX:-UsePerfData: HotSpot writes its perf-data file under /tmp otherwise
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    java_opts = (f"-Dderby.system.home={dirs['derby']} -Djava.io.tmpdir={dirs['tmp']} "
                 "-XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={dirs['warehouse']}",
        f"--conf spark.local.dir={dirs['local']}",
        f"--driver-java-options '{java_opts}'",
        "pyspark-shell",
    ])
    import tempfile
    tempfile.tempdir = dirs["tmp"]


class Ctx:
    def __init__(self, seed, tables, data_dir, work_dir) -> None:
        self.seed = seed
        self.tables = tables
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.spark = None
        self.tracer = None

    @staticmethod
    def log(msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def start_session():
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM pyspark launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def median(xs, default=0.0) -> float:
    return statistics.median(xs) if xs else default


def layer_metrics(tracer, op_spans, n_cores: int, setups: list, heap_mb: float) -> dict:
    """Per-layer medians over the timed operations."""
    per_op = []
    for root in op_spans:
        tree = tracer.descendants(root)
        tot = tracer.totals(root)
        builds = [s for s in tree if s.name.endswith("build")]
        execs = [s for s in tree if s.name.endswith("exec")]
        per_op.append({
            "plans.build_s": sum(s.wall for s in builds),
            "plans.exec_s": sum(s.wall for s in execs),
            "plans.eager_jobs": sum(len(s.jobs) for s in builds),
            "driver.gap_s": tot["driver_gap_s"],
            "executor.jobs": tot["jobs"],
            "executor.tasks": tot["tasks"],
            "executor.task_cpu_s": tot["task_cpu_s"],
            "executor.busy_share": tot["task_run_s"] / (root.wall * n_cores),
            "executor.shuffle_read_mb": tot["shuffle_read_mb"],
            "executor.shuffle_write_mb": tot["shuffle_write_mb"],
            "executor.spill_mb": tot["spill_mb"],
            "executor.input_rows": tot["input_rows"],
        })
    out = {k: median([o[k] for o in per_op]) for k in per_op[0]} if per_op else {}
    out["session.start_s"] = setups[0]["session_s"]
    out["catalog.load_s"] = median(
        [s.wall for s in tracer.spans if s.name == "catalog.load_table"])
    out["jvm.peak_heap_mb"] = heap_mb
    out["trace.readback_s"] = tracer.overhead_s / max(1, len(op_spans))
    out["trace.op_p50_s"] = median([s.wall for s in op_spans])
    return out


def detail_metrics(tracer, op_spans, wl) -> dict:
    """Every named layer span, as a per-operation median of its summed
    wall time (and jobs, for builders), plus layer self times. Goes to
    the run record, since most apply to one workload only."""
    per_op: list[dict] = []
    self_t: list[dict] = []
    for root in op_spans:
        d: dict = {}
        st: dict = {}
        for s in tracer.descendants(root):
            if s is root:
                continue
            d[f"{s.name}_s"] = d.get(f"{s.name}_s", 0.0) + s.wall
            if s.name.endswith("build"):
                d[f"{s.name}.eager_jobs"] = d.get(f"{s.name}.eager_jobs", 0) + len(s.jobs)
            if s.name == "operators.pq_index.search_exec" and s.out_rows:
                d["operators.pq_index.rows_read_per_result"] = (
                    s.stages["input_rows"] / s.out_rows)
            st[s.name] = st.get(s.name, 0.0) + tracer.self_time(s)
        st["op"] = tracer.self_time(root)
        per_op.append(d)
        self_t.append(st)
    keys = sorted({k for d in per_op for k in d})
    out = {k: median([d.get(k, 0.0) for d in per_op]) for k in keys}
    # set-up spans: index build, the maintenance batch, searcher opens
    setup_spans: dict = {}
    for s in tracer.spans:
        if s.request is None and s.name.startswith("operators."):
            setup_spans.setdefault(f"{s.name}_s", []).append(s.wall)
    out.update((k, median(v)) for k, v in setup_spans.items() if k not in out)
    out["self_s"] = {k: median([d.get(k, 0.0) for d in self_t])
                     for k in sorted({k for d in self_t for k in d})}
    if hasattr(wl, "recalls") and wl.recalls:
        out["operators.pq_index.recall_at_k"] = statistics.mean(wl.recalls)
    if hasattr(wl, "layout"):
        files = wl.layout()
        out["index.files"] = len(files)
        out["index.bytes"] = sum(files.values())
    if hasattr(wl, "rewritten_mb"):
        out["index.rewritten_mb_per_batch"] = wl.rewritten_mb
    return out


def run(args) -> dict:
    dirs = private_dirs(args.workload, args.seed)
    try:
        return _run(args, dirs)
    finally:
        shutil.rmtree(dirs["base"], ignore_errors=True)
        with contextlib.suppress(OSError):   # only if no other run uses it
            os.rmdir(os.path.dirname(dirs["base"]))


def _run(args, dirs) -> dict:
    spark_env(dirs)
    sys.path[:0] = [HERE, ROOT]
    import datagen
    from spans import HeapSampler, Tracer
    from workloads import WORKLOADS

    calib_before = calibration_s()
    tables = datagen.make_tables(args.seed)
    datagen.write_tables(tables, dirs["data"])
    ctx = Ctx(args.seed, tables, dirs["data"], dirs["work"])
    wl = WORKLOADS[args.workload](ctx)

    setups: list[dict] = []
    spark = None
    try:
        # set-up 0 starts the JVM and session; every set-up opens the
        # workload's state. The warm-up follows the last one: the first
        # operation after an open is slower, so it is timed on its own
        # and kept out of both setup_s and the timed operations.
        spark, session_s = start_session()
        ctx.spark = spark
        ctx.tracer = Tracer(spark, enabled=bool(args.trace))
        t0 = time.perf_counter()
        wl.build(ctx)                   # one-time layout build, outside setup_s
        ctx.tracer.resolve()
        build_s = time.perf_counter() - t0
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.open(ctx)
            ctx.tracer.resolve()
            open_s = time.perf_counter() - t0
            start_s = session_s if rep == 0 else 0.0
            setups.append({"session_s": start_s, "open_s": open_s,
                           "total_s": start_s + open_s})
        t0 = time.perf_counter()
        wl.warm(ctx)
        ctx.tracer.resolve()
        warm_s = time.perf_counter() - t0

        heap = HeapSampler(spark) if args.trace else None
        tracer = ctx.tracer
        lat, units, failed_ops, op_spans = [], 0, set(), []
        deadline = time.perf_counter() + args.seconds
        i = 0
        while True:
            t0 = time.perf_counter()
            try:
                with tracer.request(i), tracer.span("op") as root:
                    units += wl.op(ctx, i)
                if root is not None:
                    op_spans.append(root)
            except Exception:
                ctx.log(f"operation {i} failed:\n{traceback.format_exc()}")
                failed_ops.add(i)
            lat.append(time.perf_counter() - t0)
            i += 1
            if time.perf_counter() >= deadline:
                break
        heap_mb = heap.stop() if heap else 0.0

        try:
            failed_ops |= wl.check(ctx)
        except Exception:
            ctx.log(f"output check failed:\n{traceback.format_exc()}")
            failed_ops |= set(range(i))
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cores": cores(),
            "versions": {
                "spark": spark.version,
                "python": sys.version.split()[0],
                "java": spark._jvm.java.lang.System.getProperty("java.version"),
            },
            "driver_mem": SPARK_DRIVER_MEM,
            "inputs": wl.describe(ctx),
            "setups": setups, "build_s": build_s, "warm_s": warm_s, "op_s": lat,
        }
        if args.trace:
            record["layers"] = layer_metrics(tracer, op_spans, cores(), setups, heap_mb)
            record["detail"] = detail_metrics(tracer, op_spans, wl)
            record["spans"] = tracer.records()
    finally:
        if spark is not None:
            stop_jvm(spark)
    record["calibration_s"] = {"before": calib_before, "after": calibration_s()}

    n_ops = len(lat)
    if args.trace:
        metrics = {k: {"value": record["layers"][k], "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        values = {
            "setup_s": median([s["total_s"] for s in setups]),
            "op_p50_s": median(lat),
            "work_per_s": units / sum(lat),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    record["result"] = {"correct": not failed_ops, "attempted": n_ops,
                        "failed": len(failed_ops), "metrics": metrics}
    return record


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # on SIGTERM, unwind so the JVM is stopped and the run directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    record = run(args)
    out_dir = os.path.join(ROOT, ".perfbench", "records")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    untraced = path.replace("-trace1.json", "-trace0.json")
    if args.trace and os.path.exists(untraced):
        # tracing overhead: traced minus untraced median operation time
        with open(untraced) as f:
            base = json.load(f)["result"]["metrics"]["op_p50_s"]["value"]
        record["trace_overhead_s"] = record["layers"]["trace.op_p50_s"] - base
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=float)
    summary = {k: record[k] for k in ("workload", "seed", "cores", "versions",
                                      "calibration_s", "build_s", "warm_s")}
    summary["setup_s"] = [round(s["total_s"], 4) for s in record["setups"]]
    summary["op_s"] = [round(x, 4) for x in record["op_s"]]
    print(json.dumps(summary))
    print(json.dumps(record["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
