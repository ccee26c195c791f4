"""Workload benchmark for hipporag_spark.

    python3 perfbench/run.py --workload {churn,analytics} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. One process, one closed-loop client, Spark
on ``local[nproc]``. Prints an ``env`` line (pinned environment and
versions), a ``report`` line (every named end-to-end metric with its unit,
and for each timing its sample count and the highest percentile that has
at least ten samples beyond it), and as the last line the result object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
of BENCHMARK.json with ``--trace 0``, the per-layer metrics with
``--trace 1``. Everything the run writes lives under ``.bench_run/`` in
the working directory and is removed before exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time


def _mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1 << 20)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_environment(root: str, run_dir: str) -> dict:
    """Pin what the program reads from the environment before anything
    imports NumPy or starts the JVM; workers inherit it."""
    nproc = len(os.sched_getaffinity(0))
    # the package's 48g default does not fit a small box: a quarter of
    # RAM leaves the rest to the Python workers and the page cache
    driver_gb = max(1, min(8, int(_mem_total_gb() // 4)))
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "spark-local", "scratch", "spill")}
    for d in dirs.values():
        os.makedirs(d)
    pinned = {
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_gb}g",
        "OPENBLAS_NUM_THREADS": "1",
        "OMP_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "PYTHONPATH": root,
        "SPARK_GRAFT_LOCAL_DIR": dirs["spark-local"],
        "SPARK_GRAFT_SCRATCH_DIR": dirs["scratch"],
        "TMPDIR": dirs["tmp"],
        # HotSpot writes perf counters to /tmp whatever java.io.tmpdir says
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }
    os.environ.update(pinned)
    return {"nproc": nproc, "spill_dir": dirs["spill"], "tmp_dir": dirs["tmp"], "env": pinned}


def pin_spill_dirs(spill_root: str) -> None:
    """The package mmaps graph arrays from spill dirs it creates under
    /dev/shm; root them in the run directory instead so the run writes
    only inside its checkout."""
    import tempfile

    from hipporag_spark import fsio, nputil
    from hipporag_spark.algo import ppr
    from hipporag_spark.graph import blocked

    def make_spill_dir(prefix: str) -> str:
        return tempfile.mkdtemp(prefix=prefix, dir=spill_root)

    for mod in (nputil, fsio, ppr, blocked):
        mod.make_spill_dir = make_spill_dir


# ------------------------------------------------------------ process tree


def _process_table() -> dict[int, tuple[int, int, str]]:
    """pid -> (ppid, resident bytes, command name) for every visible process."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                rss = int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue  # exited while we looked
        comm, rest = stat[stat.index("(") + 1 :].rsplit(")", 1)
        out[int(name)] = (int(rest.split()[1]), rss, comm)
    return out


def descendants(root: int, table=None) -> list[int]:
    table = table if table is not None else _process_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def tree_rss(me: int, table) -> int:
    """Summed RSS of this process, its JVM and the JVM's Python processes
    (the daemon and its workers). Other descendants are left out: a child
    the JVM is spawning shares the JVM's pages until it execs (vfork) and
    would count them twice; after exec it is a short-lived helper."""
    total = table[me][1]
    for jvm in descendants(me, table):
        if table[jvm][0] != me or table[jvm][2] != "java":
            continue
        total += table[jvm][1]
        total += sum(
            table[p][1] for p in descendants(jvm, table) if table[p][2].startswith("python")
        )
    return total


class PeakRss(threading.Thread):
    """Peak of :func:`tree_rss`, sampled every 250 ms."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self):
        me = os.getpid()
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, tree_rss(me, _process_table()))
            self._stop_evt.wait(0.25)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join(timeout=5)
        return self.peak / (1 << 30)


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM (it exits when its stdin closes) and wait
    until every process this run started has exited."""
    from pyspark import SparkContext

    me = os.getpid()
    started = descendants(me)
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=5)
            except subprocess.TimeoutExpired:
                proc.kill()  # the context is stopped; nothing is left to flush
                proc.wait(timeout=10)
    deadline = time.time() + 20
    while time.time() < deadline:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in started:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


# ------------------------------------------------------------ metrics

TIMINGS = {  # sample name -> end-to-end metric it feeds
    "retrieve": "retrieve_p50_s",
    "index": "index_p50_s",
    "delete": "delete_p50_s",
    "ppr": "ppr_s",
    "cc": "cc_s",
    "lp": "lp_s",
}


def summarize(samples: list[float]) -> dict:
    """Median, sample count, and the highest whole percentile with at least
    ten samples beyond it (None below eleven samples)."""
    import numpy as np

    n = len(samples)
    out = {"p50": statistics.median(samples), "n": n, "tail_pct": None, "tail": None}
    if n > 10:
        pct = (100 * (n - 10)) // n
        out.update(tail_pct=pct, tail=float(np.percentile(samples, pct)))
    return out


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def layer_metrics(run, session_start_s: float) -> dict:
    """Per-layer metrics from the traced operations (0 for a layer the
    workload does not run). Per-operation values are medians over the
    measured operations of that kind."""
    ops = run.rec.ops
    by = {}
    for op in ops:
        by.setdefault(op.name, []).append(op)
    timed = [op for op in ops if not op.name.startswith("setup.")]
    extra = run.extra

    def spark_med(name, key):
        return _med(op.spark.get(key, 0) for op in by.get(name, []))

    m = {"session.start_s": session_start_s}
    index_ops = "index" if "index" in by else "setup.index"
    for layer, name in (("engine.index", index_ops), ("engine.delete", "delete")):
        for key in ("jobs", "tasks", "shuffle_write_mb", "exec_busy_s", "driver_gap_s"):
            m[f"{layer}.{key}"] = spark_med(name, key)
    rets = by.get("retrieve", [])
    m["retrieval.self_s"] = _med(
        op.wall_s - op.span_s("ppr_batch") - op.span_s("coo_collect") for op in rets
    )
    for key in ("jobs", "tasks", "driver_gap_s", "shuffle_write_mb"):
        m[f"retrieval.{key}"] = spark_med("retrieve", key)
    m["algo.ppr.batch_s"] = _med(op.span_s("ppr_batch") for op in rets)
    m["algo.ppr.batch_iterations"] = _med(op.counts.get("ppr_batch_iterations", 0) for op in rets)
    collects = [s for op in ops for s in op.spans.get("coo_collect", [])]
    m["algo.ppr.coo_collect_s"] = _med(collects)
    m["algo.ppr.coo_collects"] = float(sum(len(op.spans.get("coo_collect", [])) for op in timed))
    m["graph.blocked.compile_s"] = float(sum(op.span_s("compile_blocks") for op in ops))
    m["graph.blocked.num_blocks"] = float(extra.get("num_blocks", 0))
    pprs = by.get("ppr", [])
    m["algo.ppr.supersteps"] = _med(extra.get("supersteps", []))
    m["algo.ppr.superstep_p50_s"] = _med(extra.get("superstep_p50_s", []))
    for key in ("jobs", "tasks", "shuffle_write_mb", "exec_busy_s", "driver_gap_s"):
        m[f"algo.ppr.{key}"] = spark_med("ppr", key)
    m["algo.ppr.edges_per_s"] = _med(
        extra["n_adj_rows"] * k / op.wall_s for op, k in zip(pprs, extra.get("supersteps", []))
    )
    m["checkpointing.write_s"] = _med(op.span_s("checkpoint_write") for op in pprs)
    m["checkpointing.writes"] = _med(len(op.spans.get("checkpoint_write", [])) for op in pprs)
    m["checkpointing.mb"] = _med(op.counts.get("checkpoint_bytes", 0) / 1e6 for op in pprs)
    m["algo.components.supersteps"] = _med(extra.get("cc_supersteps", []))
    for key in ("jobs", "shuffle_write_mb", "driver_gap_s"):
        m[f"algo.components.{key}"] = spark_med("cc", key)
    m["algo.labelprop.rounds"] = _med(extra.get("lp_rounds", []))
    for key in ("jobs", "shuffle_write_mb", "driver_gap_s"):
        m[f"algo.labelprop.{key}"] = spark_med("lp", key)
    for key in ("failed_tasks", "gc_s", "fetch_wait_s"):
        m[f"spark.{key}"] = float(sum(op.spark.get(key, 0) for op in timed))
    m["oracle.ppr_numpy_s"] = _med(extra.get("oracle_ppr_s", []))
    return m


# ------------------------------------------------------------ main


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("churn", "analytics"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(root, "hipporag_spark")) or not os.path.isfile(spec_path):
        print("run from a checkout holding hipporag_spark/ and BENCHMARK.json", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    sys.path.insert(0, root)
    run_dir = os.path.join(root, ".bench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        return _run(args, root, run_dir, spec)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))  # only when no other run is using it
        except OSError:
            pass


def _run(args, root: str, run_dir: str, spec: dict) -> int:
    pinned = pin_environment(root, run_dir)
    rss = PeakRss()
    rss.start()
    t_start = time.perf_counter()

    import numpy as np
    import pyspark

    from hipporag_spark.session import get_spark

    from perfbench.trace import Recorder
    from perfbench.workloads import WORKLOADS, Run

    spark = get_spark(
        parallelism=pinned["nproc"],
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            # a fixed heap (-Xms = -Xmx): G1 otherwise grows it at GC-timing
            # dependent moments, and peak RSS varied by 20% between runs
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={pinned['tmp_dir']} -XX:-UsePerfData "
                f"-Xms{pinned['env']['SPARK_GRAFT_DRIVER_MEM']}"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    session_start_s = time.perf_counter() - t_start
    try:
        pin_spill_dirs(pinned["spill_dir"])
        env = {
            "nproc": pinned["nproc"],
            "mem_total_gb": round(_mem_total_gb(), 2),
            "spark": pyspark.__version__,
            "numpy": np.__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": sys.version.split()[0],
            "driver_java_options": spark.sparkContext.getConf().get(
                "spark.driver.extraJavaOptions"
            ),
            **pinned["env"],
        }
        rec = Recorder(spark, trace=bool(args.trace))
        run = Run(spark, rec, args.seed, args.seconds, run_dir, t_start)
        run.log(f"session {session_start_s:.2f}s")
        WORKLOADS[args.workload](run)
        run.log("workload done")
    finally:
        stop_spark(spark)
        peak_rss_gb = rss.stop()
    run.log("spark stopped")

    report = {name: {"value": v, "unit": u} for name, (v, u) in run.report.items()}
    for sample, metric in TIMINGS.items():
        if run.samples.get(sample):
            s = summarize(run.samples[sample])
            report[metric] = {"value": s.pop("p50"), "unit": "s", **s}
    report["ops_failed_frac"] = {"value": run.failed / max(1, run.attempted), "unit": "1"}
    report["peak_rss_gb"] = {"value": peak_rss_gb, "unit": "GB"}
    print(json.dumps({"env": env}))
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "report": report, "errors": run.errors,
                      "setup_phases_s": {op.name: op.wall_s for op in rec.ops
                                         if op.name.startswith("setup.")}}))

    if args.trace:
        values = layer_metrics(run, session_start_s)
        values["trace.setup_s"] = report["setup_s"]["value"]
        values["trace.op_p50_s"] = report["op_p50_s"]["value"]
        wanted = spec["per_layer"]
    else:
        values = {k: v["value"] for k, v in report.items()}
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
