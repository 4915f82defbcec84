"""Benchmark command for the vervectordb_spark engine.

    python3 perfbench/run.py --workload serve|mutate|curate --seed N \
        --seconds S --trace 0|1

Run from the repository root. It generates the workload's inputs from the
seed under `.perfbench_work/`, starts Spark on `local[nproc]`, drives the
engine through its public API, checks every result, removes what it
wrote, and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
the per-layer ones from the traced run (see perfbench/README.md). The
line before it holds the run's details: per-op p50 and tail latencies,
input stats, host steal, and which checks failed. The exit code is 0 only
when every op and check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
TRACE_DIR = os.path.join(ROOT, ".perfbench_trace")
RUN_LIMIT_S = 150.0        # stop measuring early rather than overrun
DRIVER_MEM = "2g"


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# -------------------------------------------------------------------- host
def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat, as bench.py records them."""
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of `root` and all its descendants (JVM and Python
    workers included)."""
    total, todo, seen = 0, [root], set()
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
        todo.extend(_children(pid))
    return total


class RssSampler(threading.Thread):
    def __init__(self, period: float = 0.1):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        pid = os.getpid()
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop_evt.wait(self.period)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)


# ------------------------------------------------------------------- stats
def tail(samples: list[float]) -> dict | None:
    """The highest percentile with at least 10 samples beyond it."""
    n = len(samples)
    if n < 11:
        return None
    s = sorted(samples)
    return {"value": s[n - 11], "pct": round(100.0 * (n - 10) / n, 1), "n": n}


def summarize(lat: dict[str, list[float]]) -> dict:
    return {k: {"n": len(v), "p50_s": statistics.median(v), "tail": tail(v)}
            for k, v in sorted(lat.items()) if v}


# ------------------------------------------------------------------- spark
def start_spark(work: str):
    from vervectordb_spark.session import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            # the progress bar writes over stdout and cannot be turned off
            # once the session exists
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                f"-Dderby.system.home={os.path.join(work, 'derby')} "
                "-XX:-UsePerfData",
        })


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 -- last resort: do not leave it
            proc.kill()
            proc.wait(timeout=10)


def stray_scratch(root_before: set[str], data_dir: str) -> list[str]:
    """Scratch the run left behind: new entries in the checkout root (a
    warehouse or metastore directory, a derby log; bytecode caches do not
    count) and atomic-save temporaries (`*.__tmp__`, `*.__old__`) among
    the workload's files."""
    ours = {os.path.basename(WORK), os.path.basename(TRACE_DIR), "__pycache__"}
    stray = sorted(set(os.listdir(ROOT)) - root_before - ours)
    for dirpath, dirs, files in os.walk(data_dir):
        stray += [os.path.join(dirpath, n) for n in dirs + files
                  if n.endswith((".__tmp__", ".__old__"))]
    return stray


def persistent_rdds(spark) -> set[int]:
    return {int(k) for k in
            spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def write_spans(spans: list[dict], args) -> str:
    """Write the traced run's spans (kept in memory until now), each with
    its self time."""
    from tracing import self_time

    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    for s in spans:
        s["self_s"] = self_time(s, kids.get(s["id"], []))
    os.makedirs(TRACE_DIR, exist_ok=True)
    path = os.path.join(TRACE_DIR, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump(spans, f, default=str)
    return os.path.relpath(path, ROOT)


# -------------------------------------------------------------------- main
def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "vervectordb_spark")):
        _die(f"no vervectordb_spark package under {ROOT}; "
             "run from the repository root")
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        _die(f"unknown workload {args.workload!r}; "
             f"choose from {sorted(workloads.WORKLOADS)}")

    t_start = time.perf_counter()
    root_before = set(os.listdir(ROOT))
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    for d in ("tmp", "spark-local", "data"):
        os.makedirs(os.path.join(work, d))
    # Python workers start outside this process: they find the engine
    # through PYTHONPATH, and every temporary file stays in the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM

    rss = RssSampler()
    rss.start()
    steal0, total0 = cpu_ticks()
    spark = start_spark(work)
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM (class loading, first task launch, code generation)
    # before anything is timed
    spark.range(0, 1 << 16, numPartitions=nproc).selectExpr(
        "sum(id)").collect()
    session_s = time.perf_counter() - t_start

    tracer = None
    if args.trace:
        import layers

        tracer = layers.install(spark)
    ctx = workloads.Ctx(spark, tracer, os.path.join(work, "data"), args.seed,
                        args.seconds, t_start + RUN_LIMIT_S)
    pinned_before = persistent_rdds(spark)
    result = None
    try:
        if tracer:
            result = layers.run_traced(ctx, workloads.WORKLOADS[args.workload])
        else:
            result = workloads.WORKLOADS[args.workload](ctx)
    except Exception as e:  # noqa: BLE001 -- reported as a failed run
        ctx.failed += 1
        ctx.attempted += 1
        ctx.errors.append(f"workload: {type(e).__name__}: {e}"[:400])
    leaked = persistent_rdds(spark) - pinned_before
    ctx.attempted += 1
    if leaked:
        ctx.failed += 1
        ctx.errors.append(f"state leak: persistent RDDs {sorted(leaked)}")
    spans = tracer.spans if tracer else []
    stop_spark(spark)
    steal1, total1 = cpu_ticks()
    rss.stop()

    ctx.attempted += 1
    stray = stray_scratch(root_before, os.path.join(work, "data"))
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(WORK)
    except OSError:
        pass
    if os.path.exists(work):
        stray.append(work)
    if stray:
        ctx.failed += 1
        ctx.errors.append(f"scratch left behind: {stray[:5]}")

    metrics = {}
    if result is not None:
        if tracer:
            metrics = result["layers"]
        else:
            head = ctx.lat.get(result["headline"], [])
            metrics = {
                "setup_s": (statistics.median(result["setup"]), "s"),
                "op_p50_s": (statistics.median(head) if head else None, "s"),
                "throughput_per_s": (result["throughput"], "1/s"),
            }
    details = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": nproc, "session_s": session_s,
        "wall_s": time.perf_counter() - t_start,
        "window_s": ctx.window_s,
        "host_steal_frac": (steal1 - steal0) / max(total1 - total0, 1),
        "failed_frac": ctx.failed / max(ctx.attempted, 1),
        "errors": ctx.errors[:20],
        "ops": summarize(ctx.lat),
        "peak_rss_mb": rss.peak / (1 << 20),
        **ctx.info,
    }
    if tracer:
        details["spans_file"] = write_spans(spans, args)
    print(json.dumps(details, default=str))
    correct = ctx.failed == 0 and result is not None and all(
        v is not None for v, _ in metrics.values())
    print(json.dumps({
        "correct": correct,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
