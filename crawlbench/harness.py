"""Session lifecycle, process-tree memory sampling and tracing.

Tracing keeps spans (name, start, end, parent) in memory. At every span
boundary it reads Spark's status store for jobs that finished since the
last read and attributes each job to a layer: by its call-site module when
the job was triggered from inside the engine package, otherwise to the
innermost open span.
"""

from __future__ import annotations

import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

DRIVER_MEMORY = "2g"  # leaves most of a 15 GiB machine to Python workers
RSS_PERIOD_S = 0.1  # process-tree RSS sampling period

# engine module (path under web_scraper_v1_spark/) -> layer name
MODULE_LAYER = {
    "sources/corpus.py": "corpus",
    "functions/urls.py": "urls",
    "operators/seen.py": "seen",
    "operators/frontier.py": "frontier",
    "sources/livefetch.py": "livefetch",
    "functions/extraction.py": "extraction",
    "plans/throughput.py": "throughput",
    "operators/ordering.py": "ordering",
    "sources/snapshots.py": "snapshots",
    "plans/crawl.py": "crawl",
}
LAYERS = (
    "corpus", "urls", "seen", "frontier", "fetch", "livefetch",
    "extraction", "throughput", "ordering", "snapshots", "crawl",
)
SPARK_COUNTERS = (
    "jobs", "tasks", "executor_run_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "cpu_busy_frac",
)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(app: str, work: str):
    from web_scraper_v1_spark.session import build_session

    return build_session(
        app_name=app,
        cores=cores(),
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(work, "spark-local"),
            # hsperfdata would go to /tmp, outside the run directory
            "spark.driver.extraJavaOptions": "-XX:-UsePerfData -Djava.io.tmpdir="
            + os.path.join(work, "tmp"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the gateway JVM exits on stdin EOF
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids[ppid].append(int(d))
    return kids


def descendants(root: int, exclude: set[int] = frozenset()) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        if p in exclude:
            continue
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


class RssSampler:
    """Peak summed RSS of this process and its descendants (driver, JVM,
    Python workers), minus the excluded subtrees (the live origin)."""

    def __init__(self):
        self.exclude: set[int] = set()
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        total = 0
        for pid in descendants(os.getpid(), self.exclude):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                pass
        self.peak_bytes = max(self.peak_bytes, total)
        return total

    def _run(self) -> None:
        while not self._stop.wait(RSS_PERIOD_S):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()


def merged_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    covered, cur = 0.0, None
    for a, b in sorted(intervals):
        if cur is None or a > cur[1]:
            if cur is not None:
                covered += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    return covered + (cur[1] - cur[0] if cur is not None else 0.0)


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class Tracer:
    """In-memory spans plus Spark job attribution (see module docstring)."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.jobs: list[dict] = []
        self._stack: list[dict] = []
        self._done_jobs: set[int] = set()
        self._done_stages: set[int] = set()
        self._next_id = 0
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._cores = cores()
        self.active = False
        self.own_s = 0.0  # time spent in the tracer itself (overhead)

    def start(self) -> None:
        """Begin tracing; jobs that finished before belong to no span."""
        self._read_jobs(None, record=False)
        self.active = self.enabled

    def open(self, name: str) -> dict:
        t = time.perf_counter()
        self._read_jobs(self._stack[-1] if self._stack else None)
        s = {
            "id": self._next_id,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(),
        }
        self._next_id += 1
        self._stack.append(s)
        self.own_s += time.perf_counter() - t
        return s

    def close(self, s: dict) -> None:
        s["end"] = time.time()
        t = time.perf_counter()
        self._read_jobs(s)
        self._stack.remove(s)
        self.spans.append(s)
        self.own_s += time.perf_counter() - t

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        s = self.open(name)
        try:
            yield
        finally:
            self.close(s)

    def _read_jobs(self, owner: dict | None, record: bool = True) -> None:
        it = self._store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            jid = j.jobId()
            if jid in self._done_jobs or j.status().toString() == "RUNNING":
                continue
            self._done_jobs.add(jid)
            if not record:
                continue
            rec = {
                "id": jid,
                "call_site": j.name(),
                "span": owner["id"] if owner else None,
                "layer": self._layer(j.name(), owner),
                "submit": _opt_ms(j.submissionTime()),
                "end": _opt_ms(j.completionTime()),
                "tasks": 0, "executor_run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                "shuffle_read_bytes": 0,
                "shuffle_write_bytes": 0, "spill_bytes": 0,
            }
            sids = j.stageIds().iterator()
            while sids.hasNext():
                sid = sids.next()
                if sid in self._done_stages:  # shared with an earlier job
                    continue
                self._done_stages.add(sid)
                try:
                    attempts = self._store.stageData(sid, False, None, False, None)
                except Exception:  # py4j: a skipped stage has no record
                    continue
                ait = attempts.iterator()
                while ait.hasNext():
                    sd = ait.next()
                    rec["tasks"] += sd.numCompleteTasks()
                    rec["executor_run_s"] += sd.executorRunTime() / 1e3
                    rec["cpu_s"] += sd.executorCpuTime() / 1e9
                    rec["gc_s"] += sd.jvmGcTime() / 1e3
                    rec["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    rec["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    rec["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            self.jobs.append(rec)

    @staticmethod
    def _layer(call_site: str | None, owner: dict | None) -> str | None:
        site = (call_site or "").rsplit(" at ", 1)[-1]
        marker = "web_scraper_v1_spark/"
        if marker in site:
            mod = site.split(marker, 1)[1].rsplit(":", 1)[0]
            if mod in MODULE_LAYER:
                return MODULE_LAYER[mod]
        return owner["name"].split(".", 1)[0] if owner else None

    # -- derived figures ---------------------------------------------------
    def self_time(self, span: dict) -> float:
        """Span duration minus the part of it its child spans cover."""
        kids = [(c["start"], c["end"]) for c in self.spans if c["parent"] == span["id"]]
        return span["end"] - span["start"] - merged_length(kids)

    def layer_time(self, name: str) -> float:
        return sum(self.self_time(s) for s in self.spans if s["name"] == name)

    def spans_named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def jobs_in(self, names: set[str]) -> list[dict]:
        ids = {s["id"] for s in self.spans if s["name"] in names}
        return [j for j in self.jobs if j["span"] in ids]

    def spark_counters(self) -> dict[str, float]:
        """``<layer>.spark.<counter>`` for every layer; cpu_busy_frac is
        executor CPU over the wall time of the layer's jobs times cores."""
        out = {}
        for layer in LAYERS:
            js = [j for j in self.jobs if j["layer"] == layer]
            wall = sum(j["end"] - j["submit"] for j in js if j["end"] and j["submit"])
            cpu = sum(j["cpu_s"] for j in js)
            vals = {
                "jobs": len(js),
                "tasks": sum(j["tasks"] for j in js),
                "executor_run_s": sum(j["executor_run_s"] for j in js),
                "gc_s": sum(j["gc_s"] for j in js),
                "shuffle_read_bytes": sum(j["shuffle_read_bytes"] for j in js),
                "shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in js),
                "spill_bytes": sum(j["spill_bytes"] for j in js),
                "cpu_busy_frac": cpu / (wall * self._cores) if wall > 0 else 0.0,
            }
            for k in SPARK_COUNTERS:
                out[f"{layer}.spark.{k}"] = vals[k]
        return out

    def dump(self) -> dict:
        return {"spans": self.spans, "jobs": self.jobs}
