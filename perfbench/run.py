"""Benchmark for the PySpark KG-construction and curation engine.

    python3 perfbench/run.py --workload build --seed 1 --seconds 5 --trace 0

Runs one workload in this fresh process on local[<nproc>], from the root of
a checkout of the repository, with the package's own session defaults
except for the driver heap (``DRIVER_MEMORY``) and the local directory.
Set-up (session start including the package's own warm-up, and the median
of three input set-ups from the seed) is timed as ``setup_s``; then
operations run back to back for ``--seconds`` (at least one), each one
timed and its output checked against the first and against the values
pinned for the seed. The first operation runs the workload's plans for the
first time in the process, as a fresh batch job does; its JIT and codegen
cost lands inside the layers that run it (see the traced run).

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` — end-to-end metrics with
``--trace 0``, per-layer metrics from spans with ``--trace 1``. The line
before it is a drift record (CPU calibration probe, nproc, versions, source
digest, seed, outputs), not used to rescale anything.

Everything the run writes lives under ``.perfbench/`` in the working
directory; its work directory (inputs, Spark local dirs, temp files) is
deleted on exit, failure included. Traced runs keep their spans in
``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

SETUP_INPUT_REPEATS = 3
# The package's 8g driver default is sized for a 32-core box. On 4 vCPUs
# G1 grows the heap to a size that varies from run to run: peak RSS spread
# 0.21 of its median over five seeds at 8g, 0.045 at 2g.
DRIVER_MEMORY = "2g"

_K = ("self_s", "jobs", "task_s", "shuffle_bytes", "spill_bytes")
_UNIT = {"jobs": "count", "shuffle_bytes": "bytes", "spill_bytes": "bytes",
         "python_bytes_sent": "bytes", "python_bytes_returned": "bytes"}


def _layer(name: str, keys=_K) -> list[str]:
    return [f"{name}.{k}" for k in keys]


def per_layer_names() -> list[str]:
    from workloads import FUNNEL_STAGES

    return (
        _layer("extraction", _K + ("python_run_s", "python_bytes_sent",
                                   "python_bytes_returned", "triples"))
        + _layer("canonicalize", _K + ("mapping_rows",))
        + _layer("merge", _K + ("nodes", "edges"))
        + ["build.self_s"]
        + _layer("upsert") + _layer("index", _K + ("python_run_s",))
        + ["pipeline.self_s"]
        + [f"query.{c}.{k}" for c in ("structured", "text", "khop")
           for k in ("construct_s", "execute_s", "jobs")]
        + ["update_query.update_s", "update_query.round_growth"]
        + [n for layer in ("cleaning", "textstats", "dedup", "sampling")
           for n in _layer(layer)]
        + ["curation.self_s"]
        + [f"curation.rows.{s}" for s in FUNNEL_STAGES]
        + ["session.get_spark_s", "sources.write_s", "spark.jobs",
           "spark.idle_core_frac", "trace.overhead_s"])


def unit_of(name: str) -> str:
    key = name.rsplit(".", 1)[-1]
    if key in _UNIT:
        return _UNIT[key]
    if key.endswith("_s"):
        return "s"
    if key in ("round_growth", "idle_core_frac"):
        return "ratio"
    return "count"


# -- process-tree memory ------------------------------------------------------


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def _tree_rss_bytes(root: int) -> int:
    total, page = 0, os.sysconf("SC_PAGE_SIZE")
    for pid in [root, *_descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler(threading.Thread):
    """High-water RSS of this process and every descendant (the JVM and
    the Python workers), sampled every 100 ms."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self):
        while not self._stop_evt.wait(0.1):
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))

    def stop(self) -> float:
        self._stop_evt.set()
        self.join(timeout=5)
        return self.peak / (1 << 20)


# -- drift record -------------------------------------------------------------


def calibration_s() -> float:
    """Fixed single-core CPU probe: best of 3 runs of the same loop."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc = (acc + i * i) % 1_000_003
        best = min(best, time.perf_counter() - t0)
    return best


def source_digest(root: str) -> str:
    h = hashlib.sha1()
    pkg = os.path.join(root, "knowledge_graph_studio_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                              capture_output=True, text=True, timeout=10,
                              check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None


# -- the run ------------------------------------------------------------------


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # shuffle and spill files in the checkout, not on the package's tmpfs
    # default: a run writes only inside its checkout. At these input sizes
    # the first build operation took as long either way, within noise.
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM, the spark-submit launcher's included: temp files under
    # ``work`` and no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (os.getcwd(), os.environ.get("PYTHONPATH")) if p)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _session_conf(work: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # keep every job/stage/execution of the run for span attribution
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until every child process
    (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except (OSError, AttributeError):
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _reap_children(timeout: float = 15.0) -> None:
    """Wait for every descendant to exit; kill what is left after
    ``timeout`` and wait for that too."""
    me = os.getpid()
    deadline = time.time() + timeout
    while time.time() < deadline and _descendants(me):
        time.sleep(0.2)
    for pid in _descendants(me):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.time() + 5
    while time.time() < deadline and _descendants(me):
        time.sleep(0.1)


class Ops:
    """Attempted/failed accounting for checked operations."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.errors.extend(problems)

    def fail_all(self, problems: list[str]) -> None:
        """A problem in the reference output fails every operation that
        agreed with it."""
        if problems:
            self.failed = self.attempted
            self.errors.extend(problems)

    def add(self, attempted: int, failed: int) -> None:
        self.attempted += attempted
        self.failed += failed


def run_ops(wl, ops: Ops, seconds: float, op) -> list[tuple[float, int]]:
    """Run ``op`` back to back until ``seconds`` have passed (at least
    once); returns (wall, items) of every operation."""
    done = []
    t_end = time.perf_counter() + seconds
    while not done or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        try:
            values, items, *_ = op()
        except Exception:  # an operation that raises counts as failed
            ops.record([traceback.format_exc(limit=3)])
            done.append((time.perf_counter() - t0, 0))
            continue
        wall = time.perf_counter() - t0
        ops.record(wl.check(values))
        done.append((wall, items))
    return done


def measure(args, work: str, record: dict) -> tuple[Ops, dict]:
    from knowledge_graph_studio_spark.session import get_spark

    from workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", cores=cores,
                      extra=_session_conf(work))
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        record["java"] = spark._jvm.System.getProperty("java.version")
        record["cores"] = cores
        wl = WORKLOADS[args.workload](spark, work, args.seed, cores)
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
        input_s = []
        for _ in range(SETUP_INPUT_REPEATS):
            t0 = time.perf_counter()
            wl.make_inputs()
            input_s.append(time.perf_counter() - t0)
        ops = Ops()
        setup_s = session_s + statistics.median(input_s)
        record["setup"] = {"session_s": round(session_s, 3),
                           "input_s": [round(x, 3) for x in input_s]}
        if tracer is None:
            done = run_ops(wl, ops, args.seconds, wl.op)
            record["ops"] = [round(w, 4) for w, _ in done]
            metrics = {"setup_s": setup_s, "items_per_s": statistics.median(
                items / wall for wall, items in done)}
        else:
            metrics = traced(args, wl, tracer, ops, record)
            metrics["session.get_spark_s"] = session_s
            metrics["sources.write_s"] = statistics.median(input_s)
        ops.fail_all(wl.final_checks())
        record["outputs"] = wl.reference
        return ops, metrics
    finally:
        _stop_spark(spark)


def traced(args, wl, tracer, ops: Ops, record: dict) -> dict:
    """The first operation, staged by the workload and traced: its layers
    are those of the operation an untraced run times. Then the workload's
    extra traced client."""
    counts: list[dict] = []

    def op():
        values, items, c = wl.traced_op(tracer)
        counts.append(c)
        return values, items

    first_trace, own0 = tracer.trace_id + 1, tracer.own_s
    done = run_ops(wl, ops, 0, op)
    traces = set(range(first_trace, tracer.trace_id + 1))
    own_s = tracer.own_s - own0
    t0 = time.perf_counter()
    extra, attempted, failed = wl.extra_trace(tracer)
    extra_s = time.perf_counter() - t0
    ops.add(attempted, failed)
    tracer.harvest()
    tot = tracer.layer_totals(traces)
    metrics: dict[str, float] = dict(extra)
    for layer in wl.layers:
        for k, v in tot.get(layer, {}).items():
            if k == "self_s" or layer not in ("build", "curation"):
                metrics[f"{layer}.{k}"] = v
    metrics.update(counts[0] if counts else {})
    wall = done[0][0]
    task = sum(t["task_s"] for t in tot.values())
    metrics["spark.jobs"] = sum(t["jobs"] for t in tot.values())
    metrics["spark.idle_core_frac"] = 1.0 - task / (wl.cores * wall)
    metrics["trace.overhead_s"] = own_s
    record["trace"] = {"op_s": round(wall, 3),
                       "extra_client_s": round(extra_s, 3)}
    os.makedirs(os.path.join(os.getcwd(), ".perfbench", "traces"),
                exist_ok=True)
    path = os.path.join(".perfbench", "traces",
                        f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
    tracer.write(path)
    record["spans"] = path
    return metrics


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("build", "curate"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(1, root)
    if not os.path.isdir(os.path.join(root, "knowledge_graph_studio_spark")):
        print("perfbench: run from the root of a checkout that holds "
              "knowledge_graph_studio_spark/", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    rss = RssSampler()
    try:
        _prepare_env(work)
        import pyspark

        record = {"workload": args.workload, "seed": args.seed,
                  "trace": args.trace, "nproc": os.cpu_count(),
                  "calibration_s": calibration_s(),
                  "pyspark": pyspark.__version__,
                  "python": platform.python_version(),
                  "commit": git_commit(root),
                  "source_sha1": source_digest(root)}
        rss.start()
        ops, metrics = measure(args, work, record)
    finally:
        peak_mb = rss.stop() if rss.is_alive() else 0.0
        _reap_children()
        shutil.rmtree(work, ignore_errors=True)
        try:  # leave no empty .perfbench/ behind
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    if not args.trace:
        metrics["peak_rss_mb"] = peak_mb
        metrics["ok_frac"] = 1.0 - ops.failed / ops.attempted
        wanted = ("setup_s", "items_per_s", "peak_rss_mb", "ok_frac")
        units = {"setup_s": "s", "items_per_s": "1/s", "peak_rss_mb": "MB",
                 "ok_frac": "ratio"}
    else:
        wanted = per_layer_names()
        units = {n: unit_of(n) for n in wanted}
    record["errors"] = ops.errors[:5]
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": ops.failed == 0, "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {n: {"value": float(metrics.get(n, 0.0)),
                        "unit": units[n]} for n in wanted}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
