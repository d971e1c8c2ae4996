"""Record-linkage benchmark: one workload per invocation.

    python3 perfbench/run.py --workload code_stream --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The run sets up the workload's
``SETUP_REPS`` times (Spark session start, seeded input generation, the
workload's own set-up) and reports the median as ``setup_s`` (a traced run
sets up once); then it runs measured units until ``--seconds`` have passed
(at least one), checks every unit's outputs, and prints one JSON line as the
last line of standard output.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` also runs one
traced unit (see ``spans.py``), asserts that its final assignments equal the
untraced ones, writes its spans to ``.perfbench_out/`` and reports the
per-layer metrics instead.

All scratch state (Spark local dirs, checkpoints, snapshot stores, temp
files) lives in a fresh ``.perfbench_run/<pid>`` directory of the checkout
and is removed when the run ends.
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
import traceback
import urllib.parse

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
# Spark driver heap: 2g holds every workload at the sizes in workloads.py and
# lets runs share a 15 GB, 4-core host; the library default (24g) does not fit.
DRIVER_MEM = "2g"


def prepare_env(run_dir: str) -> None:
    """Point every temp/scratch location into ``run_dir`` and put the package
    on the Python workers' path.  Must run before pyspark is imported."""
    sys.dont_write_bytecode = True  # keep the benchmark directory unchanged
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # every JVM, the spark-submit launcher's too: temp files into the run
    # directory, no hsperfdata files in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["HER_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT, HERE]


def spark_conf(run_dir: str) -> dict:
    return {
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads every job of a unit back from the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }


class RssSampler:
    """Peak resident memory of this process's descendants (the driver JVM
    and the Python workers it forks), sampled from /proc."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _descendants(self) -> list[tuple[int, int]]:
        """(pid, parent pid) of every descendant of this process."""
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        out, todo = [], [os.getpid()]
        while todo:
            parent = todo.pop()
            for c in children.get(parent, []):
                out.append((c, parent))
                todo.append(c)
        return out

    def sample(self) -> int:
        total = 0
        for pid, ppid in self._descendants():
            try:
                exe = os.readlink(f"/proc/{pid}/exe")
                # a JVM child between fork and exec (launching a Python
                # worker) still maps the whole JVM: counting it would add
                # the JVM's resident size a second time
                if os.path.basename(exe) == "java" and exe == os.readlink(f"/proc/{ppid}/exe"):
                    continue
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, self.sample())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False


def run(args, run_dir: str) -> dict:
    from healthcare_entity_resolution_spark.plans.lineage import LineageLog
    from healthcare_entity_resolution_spark.session import get_spark

    import spans
    import workloads as W

    cls = W.WORKLOADS[args.workload]
    conf = spark_conf(run_dir)

    setup_times, spark, wl = [], None, None
    # a traced run reports no setup_s: one set-up is enough
    for rep in range(1 if args.trace else cls.SETUP_REPS):
        if spark is not None:
            spark.stop()
            shutil.rmtree(wl.work_dir, ignore_errors=True)
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", cores=CORES, extra_conf=conf)
        wl = cls(spark, args.seed, os.path.join(run_dir, f"work{rep}"))
        setup_times.append(time.perf_counter() - t0)

    def finish(res: dict) -> int:
        """Check a unit's outputs and score them; returns 1 if a check failed."""
        errs = wl.check(res)
        for e in errs:
            print("CHECK FAILED:", e, file=sys.stderr)
        res["quality"] = wl.quality(res)
        return bool(errs)

    attempted = failed = 0
    units = []
    with RssSampler() as rss:
        t_start = time.perf_counter()
        while not units or time.perf_counter() - t_start < args.seconds:
            attempted += 1
            try:
                res = wl.unit(LineageLog())
            except Exception:  # a failed unit is counted, not fatal
                traceback.print_exc()
                failed += 1
                break
            failed += finish(res)
            wl.release(res)
            units.append(res)
        peak_rss = rss.peak
    if not units:
        return dict(correct=False, attempted=attempted, failed=failed, metrics={})

    walls = [sum(u["latencies"]) for u in units]
    wall = statistics.median(walls)
    if not args.trace:
        pair_f1, cl_f1 = units[0]["quality"]
        metrics = {
            "setup_s": (statistics.median(setup_times), "s"),
            "wall_s": (wall, "s"),
            "records_per_s": (wl.records / wall, "1/s"),
            "batch_p50_s": (statistics.median(
                [x for u in units for x in u["latencies"]]), "s"),
            "pair_f1": (pair_f1, "ratio"),
            "cluster_f1": (cl_f1, "ratio"),
            "peak_rss_mb": (peak_rss / 1e6, "MB"),
        }
    else:
        attempted += 1
        ckpt = urllib.parse.urlparse(spark.sparkContext.getCheckpointDir()).path
        tracer = spans.Tracer(spark, ckpt)
        lineage = LineageLog()
        root = tracer.open("unit", args.workload)
        try:
            with spans.Interposer(tracer):
                res = wl.unit(lineage)
        finally:
            tracer.close(root)
        tracer.collect()
        counters = W.layer_counters(wl, res, tracer, lineage, CORES)
        same = res["assignments"] == units[0]["assignments"]
        if not same:
            print("CHECK FAILED: traced unit's final assignments differ from the "
                  "untraced unit's", file=sys.stderr)
        failed += finish(res) or not same
        wl.release(res)
        counters["trace.wall_s"] = sum(res["latencies"])
        counters["trace.overhead_s"] = counters["trace.wall_s"] - wall
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl"))
        metrics = {k: (v, UNITS[k.split(".", 1)[1]]) for k, v in counters.items()}
    return dict(
        correct=failed == 0,
        attempted=attempted,
        failed=failed,
        metrics={k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    )


# unit of each per-layer metric, by the part after the layer name
UNITS = {
    "s": "s", "jobs": "count", "tasks": "count", "task_s": "s",
    "shuffle_write_mb": "MB", "busy_share": "ratio", "rows": "count",
    "candidate_pairs": "count", "hot_blocks": "count", "pairs_dropped": "count",
    "pair_completeness": "ratio", "pairs_quality": "ratio", "pairs_per_s": "1/s",
    "batch_ms_p50": "ms", "match_share": "ratio", "uncertain_share": "ratio",
    "iterations": "count", "checkpoint_mb": "MB", "edges_removed": "count",
    "recluster_calls": "count", "entities": "count", "pagerank_iterations": "count",
    "append_s": "s", "commit_s": "s", "compact_s": "s", "bytes_written_mb": "MB",
    "jobs_per_batch": "count", "wall_s": "s", "overhead_s": "s",
}


def stop_processes() -> None:
    """Stop Spark and the JVM PySpark launched, and wait until the JVM and
    every process below it (the Python workers) have exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while RssSampler()._descendants() and time.monotonic() < deadline:
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    run_dir = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    prepare_env(run_dir)
    try:
        result = run(args, run_dir)
    finally:
        if "pyspark" in sys.modules:
            stop_processes()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:  # another run still owns a sibling directory
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
