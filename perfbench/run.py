"""Layer-attributed benchmark of the spatial engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload flagship_join --seed 1 --seconds 1 --trace 0

Workloads: flagship_join, raster_tiles, north_star_write, or ``all`` to run
each in its own process (perfbench/workloads.py; why each exists is in
perfbench/README.md).

One process runs ``local[nproc]`` with nproc shuffle partitions.  Set-up is
measured twice: each cycle starts a SparkSession and makes the workload's
first calls on a small input.  The first cycle also launches the JVM and
compiles cold; the second starts a fresh SparkContext on the same JVM.
``setup_s`` is the median of the two.  Then iterations run back to back for
``--seconds``.

``--trace 0`` prints end-to-end metrics.  ``--trace 1`` turns on the
uncompressed Spark event log and span wrappers, runs the loop once untraced
and once traced (the difference is ``trace.overhead_s``), forces single
layers, and prints per-layer metrics.  Spans and per-(phase, call site)
event-log records are written to ``.bench_work/trace/<workload>-seed<seed>/``.

The last stdout line is one JSON object: correct, attempted, failed, metrics.
The exit code is 0 only if every output check passed.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "whitebox_geospatial_analysis_tools_spark"
SETUP_CYCLES = 2
NPROC = len(os.sched_getaffinity(0))
now = time.perf_counter


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# host context
# ---------------------------------------------------------------------------
_ALU_LOOP = """
import sys, time
dur, t0, x, n = float(sys.argv[1]), time.perf_counter(), 1, 0
while time.perf_counter() - t0 < dur:
    for _ in range(20_000):
        x = (x * 1103515245 + 12345) & 0x7FFFFFFF
    n += 20_000
print(n / (time.perf_counter() - t0))
"""


def alu_control(procs: int, dur: float = 0.5) -> float:
    """Pure-ALU busy loop on ``procs`` processes -> M LCG steps/s (context
    for reading absolute timings on a shared host; never gated).  Plain
    subprocesses, each waited for: multiprocessing would leave its
    resource-tracker process running past this one."""
    ps = [subprocess.Popen([sys.executable, "-c", _ALU_LOOP, str(dur)],
                           stdout=subprocess.PIPE, text=True) for _ in range(procs)]
    total = 0.0
    for p in ps:
        out, _ = p.communicate(timeout=60)
        total += float(out)
    return total / 1e6


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make every process started under this one (the JVM, Python workers
    the JVM forks) re-parent to it when orphaned, so reap_children() can
    wait for all of them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        log(f"prctl(PR_SET_CHILD_SUBREAPER) failed: errno {ctypes.get_errno()}")


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    if int(fh.read().rsplit(")", 1)[1].split()[1]) == me:
                        kids.append(int(d))
            except (OSError, IndexError, ValueError):
                pass
    return kids


def reap_children(grace: float = 10.0) -> None:
    """Stop every process left under this one and wait until each has
    ended: SIGTERM first, SIGKILL after ``grace`` seconds."""
    deadline, sig = now() + grace, signal.SIGTERM
    signalled: set[int] = set()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        kids = _children()
        if not kids:
            return
        if sig == signal.SIGTERM and now() > deadline:
            sig, signalled = signal.SIGKILL, set()
        for pid in kids:
            if pid not in signalled:
                log(f"stopping left-over process {pid} with {sig.name}")
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
                signalled.add(pid)
        time.sleep(0.05)


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants (JVM, Python
    workers), sampled from /proc."""

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        parent = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as fh:
                        parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    pass
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in tree]
            tree.update(kids)
            frontier.extend(kids)
        rss = 0
        for p in tree:
            try:
                with open(f"/proc/{p}/statm") as fh:
                    rss += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return rss

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop_evt.wait(self.period)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join(timeout=10)
        return self.peak / 2**20


# ---------------------------------------------------------------------------
def configure_env(work: str, event_dir: str | None) -> None:
    """Everything the JVM and the Python workers read must be set before the
    first session starts.  PYTHONPATH makes the engine importable inside
    Python-worker tasks whatever the working directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            # this environment has no zstandard module to read the default
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    import shlex
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()) + " pyspark-shell"


def stop_jvm(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — last resort: never leave it running
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_loop(wl, spark, seconds: float, first_iter: int, stats: dict) -> list[float]:
    """Closed loop: iterations back to back until ``seconds`` have passed."""
    walls = []
    t_end = now() + seconds
    i = first_iter
    while True:
        wl.tr.iteration = i
        stats["attempted"] += 1
        try:
            walls.append(wl.iteration(spark, i))
        except Exception as e:  # noqa: BLE001 — count the failure, keep measuring
            stats["failed"] += 1
            stats["errors"].append(f"iteration {i}: {type(e).__name__}: {e}")
            log(traceback.format_exc())
        i += 1
        if now() >= t_end:
            return walls


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, help="a workload name, or 'all'")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    become_subreaper()
    # a SIGTERM (or Ctrl-C) still stops the JVM and every worker on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return dispatch(args)
    finally:
        reap_children()


def dispatch(args) -> int:
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        log(f"engine package {PKG}/ not found under {ROOT}")
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from workloads import WORKLOADS

    if args.workload == "all":
        return run_all(args, list(WORKLOADS))
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)} or 'all'")
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        return measure(args, WORKLOADS[args.workload], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_all(args, names: list[str]) -> int:
    """Every workload in turn, one process each.  Prints ``<workload>
    <metric> <value> <unit>`` lines, then one JSON line whose metric names
    are prefixed with the workload; exits 1 if any output check failed."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in names:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        try:
            res = json.loads(lines[-1])
        except (IndexError, ValueError):
            res = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
        total["correct"] &= proc.returncode == 0 and res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            print(f"{name} {k} {v['value']:.6g} {v['unit']}", flush=True)
            total["metrics"][f"{name}.{k}"] = v
    print(json.dumps(total), flush=True)
    return 0 if total["correct"] else 1


def measure(args, workload_cls, work: str) -> int:
    from tracing import Tracer, parse_event_log

    traced = bool(args.trace)
    trace_dir = os.path.join(ROOT, ".bench_work", "trace", f"{args.workload}-seed{args.seed}")
    event_dir = os.path.join(work, "eventlog") if traced else None
    configure_env(work, event_dir)
    rss = RssSampler()
    rss.start()

    from whitebox_geospatial_analysis_tools_spark.session import get_spark

    tracer = Tracer(args.workload, traced)
    wl = workload_cls(args.seed, work, tracer)
    stats = {"attempted": 0, "failed": 0, "errors": []}
    spark = None
    try:
        wl.prepare()
        wl.wrap()
        cycles = []
        for k in range(SETUP_CYCLES):
            if spark is not None:
                spark.stop()
            tracer.iteration = f"setup{k}"
            t0 = now()
            spark = get_spark(app="perfbench", master=f"local[{NPROC}]", shuffle_partitions=NPROC)
            t1 = now()
            wl.warmup(spark)
            cycles.append({"session_s": t1 - t0, "setup_s": now() - t0})
        setup_s = statistics.median(c["setup_s"] for c in cycles)
        log(f"set-up cycles {[round(c['setup_s'], 3) for c in cycles]}")

        traced_walls, probes = [], {}
        tracer.enabled = False
        if traced:
            # the first full-size iteration is slower (JIT); keep it out of
            # both sides of the tracing overhead comparison
            run_loop(wl, spark, 0, -1, stats)
        untraced_walls = run_loop(wl, spark, args.seconds, 0, stats)
        if traced:
            tracer.enabled = True
            traced_walls = run_loop(wl, spark, args.seconds, 1000, stats)
            tracer.iteration = "probe"
            probes = wl.probes(spark)
        tracer.iteration = "final_check"
        try:
            wl.final_check(spark)
        except Exception as e:  # noqa: BLE001
            stats["attempted"] += 1
            stats["failed"] += 1
            stats["errors"].append(f"final check: {type(e).__name__}: {e}")
            log(traceback.format_exc())
        app_id = spark.sparkContext.applicationId
    finally:
        if spark is not None:
            stop_jvm(spark)
        peak_rss_mb = rss.stop()
        tracer.unwrap()
    alu = alu_control(NPROC)

    walls = traced_walls if traced else untraced_walls
    context = {
        "workload": args.workload, "seed": args.seed, "nproc": NPROC,
        "master": f"local[{NPROC}]", "alu_control_mops": alu,
        "setup_cycles": cycles, "peak_rss_mb": peak_rss_mb,
        "iter_n": len(walls), "iter_walls_s": walls,
        "input_rows": wl.input_rows, "errors": stats["errors"],
        **{k: v for k, v in wl.context.items() if k != "flagship_result"},
    }
    print("context " + json.dumps(context, default=str), flush=True)
    correct = stats["failed"] == 0 and bool(walls)
    if not walls:
        log("no iteration completed")
        return 1

    if not traced:
        iter_s = statistics.median(walls)
        metrics = {
            "setup_s": (setup_s, "s"),
            "iter_s": (iter_s, "s"),
            "input_rows_per_s": (wl.input_rows / iter_s, "1/s"),
        }
    else:
        from layers import layer_metrics

        records = parse_event_log(event_dir, app_id)
        metrics = layer_metrics(wl, tracer, records, probes, cycles, stats,
                                untraced_walls, traced_walls)
        # summed RSS repeats only within about 20% between runs, so it is a
        # layer metric rather than a gated end-to-end one
        metrics["peak_rss_mb"] = (peak_rss_mb, "MB")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, "spans.json"), "w") as fh:
            json.dump(tracer.spans, fh)
        with open(os.path.join(trace_dir, "records.json"), "w") as fh:
            json.dump(records, fh, default=str)
    print(json.dumps({
        "correct": correct, "attempted": stats["attempted"], "failed": stats["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
