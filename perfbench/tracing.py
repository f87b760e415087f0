"""Measurement plumbing for the benchmark: spans, the Python-worker RSS
sampler, the Spark event-log fold, and the runtime wrappers that put
spans around calls into ``crawl.waves``, ``crawl.state`` and
``operators.seen``.

Everything here runs in the driver process. The wrappers are installed
only for the traced run and removed right after it, so the untraced runs
time the unmodified package.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans: (name, start, end, parent, trace id).

    The parent of a span is the innermost open span of the same thread; a
    span opened on another thread (the crawl's pipelined state writes run
    on a pool) hangs off the trace's root span.
    """

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: int | None = None

    @contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else self._root
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "trace_id": self.trace_id}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        if self._root is None:
            self._root = rec["id"]
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if self._root == rec["id"]:
                self._root = None

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def with_self_time(self) -> list[dict]:
        """Spans with ``self_s``: duration minus the union of the intervals
        its children cover (children may overlap: concurrent writes)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = []
        for s in self.spans:
            end = s["end"] if s["end"] is not None else s["start"]
            covered, cur = 0.0, None
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, s["start"]), min(b, end)
                if b <= a:
                    continue
                if cur is None or a > cur[1]:
                    if cur is not None:
                        covered += cur[1] - cur[0]
                    cur = [a, b]
                else:
                    cur[1] = max(cur[1], b)
            if cur is not None:
                covered += cur[1] - cur[0]
            out.append({**s, "end": end, "dur_s": end - s["start"],
                        "self_s": (end - s["start"]) - covered})
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"trace_id": self.trace_id,
                       "spans": self.with_self_time()}, f, indent=1)


def _wrap(tracer: Tracer, fn, name_of, found: dict):
    def wrapper(*args, **kwargs):
        name = name_of(args, kwargs)
        with tracer.span(name):
            out = fn(*args, **kwargs)
        if name == "seen.bloom_full":
            # the standing filter: per-wave deltas are OR-ed into it in place
            found["standing_bloom"] = out
        return out
    return wrapper


@contextmanager
def layer_wrappers(tracer: Tracer):
    """Spans around the public entry points of crawl.waves, crawl.state and
    operators.seen for the duration of the ``with`` block, which gets a
    dict holding the last fully built Bloom filter (``standing_bloom``).

    ``seen.build_bloom_distributed`` is split by call shape: a ``capacity=``
    call is a full build over the seen table, a ``geometry=`` call builds
    the per-wave delta that is OR-merged into the standing filter.
    """
    from llm_scraper_spark.crawl import state as state_mod
    from llm_scraper_spark.crawl import waves as waves_mod
    from llm_scraper_spark.operators import seen as seen_mod

    patches = [
        (waves_mod.CrawlRun, "init_from_seeds",
         lambda a, k: "waves.init_from_seeds"),
        (waves_mod.CrawlRun, "run_wave", lambda a, k: "waves.run_wave"),
        (state_mod.CrawlState, "write", lambda a, k: f"state.write.{a[1]}"),
        (state_mod.CrawlState, "read_pending", lambda a, k: "state.read_pending"),
        (state_mod.CrawlState, "read_seen", lambda a, k: "state.read_seen"),
        (state_mod.CrawlState, "commit_wave", lambda a, k: "state.commit_wave"),
        (state_mod.CrawlState, "compact_frontier",
         lambda a, k: "state.compact_frontier"),
        (seen_mod, "build_bloom_distributed",
         lambda a, k: ("seen.bloom_delta" if k.get("geometry") is not None
                       else "seen.bloom_full")),
    ]
    saved, found = [], {}
    try:
        for owner, attr, name_of in patches:
            orig = owner.__dict__[attr]
            saved.append((owner, attr, orig))
            setattr(owner, attr, _wrap(tracer, orig, name_of, found))
        yield found
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


class WorkerRssSampler:
    """Samples the RSS of every PySpark Python worker (the daemon and its
    forked task workers) from /proc at a fixed interval; ``peak_mb`` is the
    largest single-process RSS seen."""

    MARKERS = (b"pyspark.daemon", b"pyspark/daemon", b"pyspark.worker",
               b"pyspark/worker")

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _scan(self) -> None:
        for status in glob.glob("/proc/[0-9]*/cmdline"):
            try:
                with open(status, "rb") as f:
                    cmd = f.read()
                if not any(m in cmd for m in self.MARKERS):
                    continue
                with open(status[:-7] + "status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            self.peak_kb = max(self.peak_kb,
                                               int(line.split()[1]))
                            break
            except (OSError, ValueError):
                continue  # the worker exited between listing and reading

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._scan()

    def __enter__(self):
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._scan()
        return False

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

_PY_ACCUMS = {
    "data sent to Python workers": "python_sent_b",
    "data returned from Python workers": "python_recv_b",
    "time to run Python workers": "python_time_ms",
    "time to start Python workers": "python_boot_ms",
    "time to initialize Python workers": "python_init_ms",
}


def fold_event_log(log_dir: str, since_ms: float, until_ms: float) -> dict:
    """Sum SparkListenerTaskEnd task metrics and the Python-worker SQL
    accumulables over tasks launched in [since_ms, until_ms) (epoch ms)."""
    tot = {"jobs": 0, "tasks": 0, "task_failures": 0, "run_ms": 0,
           "cpu_ns": 0, "gc_ms": 0, "shuffle_write_b": 0,
           "shuffle_read_b": 0, "spill_b": 0,
           **{v: 0 for v in _PY_ACCUMS.values()}}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if since_ms <= ev.get("Submission Time", 0) < until_ms:
                        tot["jobs"] += 1
                    continue
                if kind != "SparkListenerTaskEnd":
                    continue
                info = ev.get("Task Info", {})
                if not since_ms <= info.get("Launch Time", 0) < until_ms:
                    continue
                tot["tasks"] += 1
                if ev.get("Task End Reason", {}).get("Reason") != "Success":
                    tot["task_failures"] += 1
                m = ev.get("Task Metrics") or {}
                tot["run_ms"] += m.get("Executor Run Time", 0)
                tot["cpu_ns"] += m.get("Executor CPU Time", 0)
                tot["gc_ms"] += m.get("JVM GC Time", 0)
                sw = m.get("Shuffle Write Metrics", {})
                sr = m.get("Shuffle Read Metrics", {})
                tot["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
                tot["shuffle_read_b"] += (sr.get("Remote Bytes Read", 0)
                                          + sr.get("Local Bytes Read", 0))
                tot["spill_b"] += m.get("Disk Bytes Spilled", 0)
                for acc in info.get("Accumulables", []):
                    key = _PY_ACCUMS.get(acc.get("Name"))
                    if key is not None:
                        tot[key] += int(acc.get("Update") or 0)
    return tot


def spark_layer_metrics(fold: dict, wall_s: float, nproc: int) -> dict:
    mb = 1e6
    return {
        "spark.executor_run_s": fold["run_ms"] / 1e3,
        "spark.executor_cpu_s": fold["cpu_ns"] / 1e9,
        "spark.gc_s": fold["gc_ms"] / 1e3,
        "spark.cpu_util": fold["cpu_ns"] / 1e9 / (wall_s * nproc),
        "spark.shuffle_write_mb": fold["shuffle_write_b"] / mb,
        "spark.shuffle_read_mb": fold["shuffle_read_b"] / mb,
        "spark.spill_mb": fold["spill_b"] / mb,
        "spark.python_sent_mb": fold["python_sent_b"] / mb,
        "spark.python_recv_mb": fold["python_recv_b"] / mb,
        "spark.python_time_s": fold["python_time_ms"] / 1e3,
        "spark.python_boot_s": fold["python_boot_ms"] / 1e3,
        "spark.python_init_s": fold["python_init_ms"] / 1e3,
        "spark.jobs": fold["jobs"],
        "spark.tasks": fold["tasks"],
        "spark.task_failures": fold["task_failures"],
    }


def rate(fn, items, min_s: float = 0.3) -> float:
    """Items per second of ``fn(items)`` on one core, repeated until at
    least ``min_s`` has passed."""
    n, t0 = 0, time.perf_counter()
    while True:
        fn(items)
        n += len(items)
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return n / dt
