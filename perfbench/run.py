#!/usr/bin/env python3
"""Run one benchmark workload against the package's public API and print
its result.

    python3 perfbench/run.py --workload deep_frontier --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. All inputs are generated from ``--seed``;
every run checks the program's outputs before it reports numbers. The last
line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``. The line before it
is the full result row (host, versions, seed, every number measured).
Scratch files live in ``.perfbench_work/`` under the checkout root.
Exit codes: 0 ok, 1 a correctness gate failed or the run crashed or timed
out, 2 the checkout is incomplete.
"""

from __future__ import annotations

import argparse
import glob
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
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
DEADLINE_S = 170.0
SETUP_REPEATS = 3
# env knobs get_spark reads to alter its conf: cleared, so every run uses
# the session defaults as shipped
CONF_ENV = ("SPARK_GRAFT_EXTRA_CONF", "SPARK_GRAFT_WORKER_REUSE",
            "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_SHUFFLE_PARTITIONS",
            "SPARK_GRAFT_CPUS")


def _workloads():
    """name -> the workload's runner, called with the Context."""
    from perfbench import crawl_bench, extract_bench
    from perfbench.crawl_bench import CrawlShape

    def crawl(shape):
        return lambda ctx: crawl_bench.run_workload(ctx, shape)

    return {
        "crawl_waves": crawl(CrawlShape(n_seeds=10_000, n_hosts=400,
                                        budget=64, fanout=4, n_waves=3,
                                        compact_every=8)),
        "deep_frontier": crawl(CrawlShape(n_seeds=50_000, n_hosts=100,
                                          budget=2, fanout=4, n_waves=2,
                                          compact_every=1)),
        "extract_pages": extract_bench.run_workload,
    }


def _ident(batches):
    yield from batches


class Context:
    """What a workload needs from the harness: the session, its seed and
    time budget, attempt/failure counters and the measurement hooks."""

    def __init__(self, args, nproc: int, per_layer_names: list[str]):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.nproc = nproc
        self.work = WORK
        self.per_layer_names = per_layer_names
        self.attempted = 0
        self.failed = 0
        self.peak_rss_mb = 0.0
        self.spark = None
        self.phases: dict[str, float] = {}  # harness walls, for the row

    @contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = (self.phases.get(name, 0.0)
                                 + time.perf_counter() - t0)

    def start_session(self, extra_conf: dict | None = None) -> float:
        """get_spark + a warm-up job (Python worker, shuffle); returns its
        wall in seconds."""
        from pyspark.sql import functions as F

        from llm_scraper_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench",
                               master=f"local[{self.nproc}]",
                               extra_conf=extra_conf)
        (self.spark.range(100_000, numPartitions=self.nproc)
         .withColumn("k", F.col("id") % 97)
         .mapInPandas(_ident, "id long, k long")
         .groupBy("k").count().collect())
        return time.perf_counter() - t0

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def start_traced_session(self):
        """Restart the session with the Spark event log on; returns the
        session and the epoch-ms after which its tasks belong to the
        traced run."""
        from perfbench.tracing import EVENT_LOG_CONF

        log_dir = os.path.join(self.work, "eventlog")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        self.stop_session()
        self.start_session({**EVENT_LOG_CONF,
                            "spark.eventLog.dir": f"file://{log_dir}"})
        return self.spark, time.time() * 1000.0

    def spark_layers(self, window_ms: tuple[float, float], wall_s: float) -> dict:
        """Stop the traced session (which flushes its event log) and fold
        the task metrics of the jobs submitted inside ``window_ms``."""
        from perfbench.tracing import fold_event_log, spark_layer_metrics

        self.stop_session()
        fold = fold_event_log(os.path.join(self.work, "eventlog"), *window_ms)
        return spark_layer_metrics(fold, wall_s, self.nproc)

    @contextmanager
    def rss_sampler(self):
        from perfbench.tracing import WorkerRssSampler

        with WorkerRssSampler() as s:
            yield s
        self.peak_rss_mb = max(self.peak_rss_mb, s.peak_mb)

    def shutdown(self) -> None:
        """Stop the session and the JVM behind it, and wait for both."""
        from pyspark import SparkContext

        self.stop_session()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        workers = _descendants(proc.pid)  # the PySpark daemon and workers
        try:
            gw.shutdown()
        except Exception:  # the gateway may already be gone; proc is what matters
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.monotonic() + 10
        for pid in workers:  # they exit on EOF from the JVM
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(stat.split("/")[2]))
    out, stack = [], [root]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _prepare_env() -> None:
    for sub in ("state", "state_traced", "extract_out",
                "eventlog", "spark-local", "warehouse", "tmp", "configs"):
        shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    for k in CONF_ENV:
        os.environ.pop(k, None)
    # keep every file the run writes inside the checkout (Spark lets
    # SPARK_LOCAL_DIRS override spark.local.dir)
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData")


def _provenance(seed: int, nproc: int) -> dict:
    import pyarrow
    import pyspark

    import bench

    def first(path, prefix):
        with open(path) as f:
            return next((ln.split(":", 1)[1].strip() for ln in f
                         if ln.startswith(prefix)), None)

    try:  # only this checkout's own repository, never an enclosing one
        top, commit = subprocess.run(
            ["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
            capture_output=True, text=True, timeout=10).stdout.split() or (None, None)
        commit = commit if top and os.path.samefile(top, ROOT) else None
    except (OSError, ValueError, subprocess.TimeoutExpired):
        commit = None
    mem_kb = first("/proc/meminfo", "MemTotal")
    return {
        "nproc": nproc,
        "cpu_model": first("/proc/cpuinfo", "model name") or platform.processor(),
        "ram_gb": int(mem_kb.split()[0]) / 2**20 if mem_kb else None,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "git_commit": commit,
        "seed": seed,
        "master": f"local[{nproc}]",
        # procs/s of a fixed CPU burn at 1 and nproc processes
        "hardware_parallel_ceiling": bench.hardware_parallel_ceiling(
            levels=(1, nproc), work=2_000_000),
    }


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _result_line(correct: bool, ctx, metrics: dict) -> str:
    return json.dumps({"correct": correct, "attempted": max(ctx.attempted, 1),
                       "failed": ctx.failed, "metrics": metrics})


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "llm_scraper_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "bench.py"))):
        print(f"perfbench: no llm_scraper_spark package or bench.py under "
              f"{ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    workloads = _workloads()
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads)}", file=sys.stderr)
        return 2
    spec = _load_spec()
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}

    t_start = time.perf_counter()
    os.makedirs(WORK, exist_ok=True)
    _prepare_env()
    nproc = len(os.sched_getaffinity(0))
    prov = _provenance(args.seed, nproc)  # forks: before any thread or JVM
    ctx = Context(args, nproc, list(per_layer))

    def on_timeout():
        print(f"perfbench: run exceeded {DEADLINE_S:.0f}s", file=sys.stderr)
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            gw.proc.kill()
            gw.proc.wait()
        ctx.failed = ctx.attempted = max(ctx.attempted, 1)
        print(_result_line(False, ctx, {}), flush=True)
        os._exit(1)

    watchdog = threading.Timer(DEADLINE_S - (time.perf_counter() - t_start),
                               on_timeout)
    watchdog.daemon = True
    watchdog.start()

    from perfbench.crawl_bench import CheckFailed

    correct, error, out = True, None, {}
    try:
        setups = []
        with ctx.phase("setup"):
            for i in range(SETUP_REPEATS):
                if i:
                    ctx.stop_session()
                setups.append(ctx.start_session())
        out = workloads[args.workload](ctx)
        out["metrics"]["setup_s"] = statistics.median(setups)
        out["metrics"]["peak_worker_rss_mb"] = ctx.peak_rss_mb
        out["detail"]["setup_samples_s"] = setups
        if set(out["metrics"]) != set(e2e):
            raise RuntimeError(f"end-to-end metrics {sorted(out['metrics'])} "
                               f"!= BENCHMARK.json {sorted(e2e)}")
        if ctx.trace and set(out["layers"]) != set(per_layer):
            raise RuntimeError(
                f"per-layer metrics differ from BENCHMARK.json: missing "
                f"{sorted(set(per_layer) - set(out['layers']))}, extra "
                f"{sorted(set(out['layers']) - set(per_layer))}")
    except CheckFailed as e:
        correct, error = False, f"correctness gate failed: {e}"
    except Exception:
        correct, error = False, traceback.format_exc()
        ctx.failed = ctx.attempted = max(ctx.attempted, 1)
    finally:
        ctx.shutdown()
        watchdog.cancel()

    row = {"workload": args.workload, "seconds": args.seconds,
           "phases_s": ctx.phases,
           "trace": args.trace, "correct": correct, "error": error,
           "attempted": ctx.attempted, "failed": ctx.failed,
           "failed_frac": ctx.failed / max(ctx.attempted, 1),
           "total_wall_s": time.perf_counter() - t_start,
           "provenance": prov, **out}
    with open(os.path.join(WORK, "results.jsonl"), "a") as f:
        f.write(json.dumps(row) + "\n")
    if error:
        print(f"perfbench: {error}", file=sys.stderr)
    print(json.dumps(row))
    if not correct:
        print(_result_line(False, ctx, {}), flush=True)
        return 1
    units = per_layer if ctx.trace else e2e
    values = out["layers"] if ctx.trace else out["metrics"]
    print(_result_line(True, ctx, {k: {"value": values[k], "unit": units[k]}
                                   for k in units}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
