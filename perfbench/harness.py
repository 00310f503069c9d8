"""Measurement plumbing shared by the workloads: spans, output pins,
peak-RSS sampling, host probes and Spark runtime metrics."""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time
import traceback
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HERE = os.path.dirname(os.path.abspath(__file__))
PINS_PATH = os.path.join(HERE, "pins.json")


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent) around each call into an
    engine module. Kept for the whole run and written out when it ends."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "run": self.run_id,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self.t0,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()

    def timed(self, name: str, fn, **attrs):
        """Run fn inside a span; return (result, seconds)."""
        with self.span(name, **attrs) as rec:
            out = fn()
        return out, rec["end"] - rec["start"]


# ---------------------------------------------------------------------------
# output pins
# ---------------------------------------------------------------------------


def digest(df: DataFrame) -> list:
    """[row count, order-independent hash]: the sum of one xxhash64 per row
    over the columns in name order, as an exact decimal."""
    cols = sorted(df.columns)
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return [int(r["n"]), str(r["h"] if r["h"] is not None else 0)]


class Checker:
    """Counts operations and compares each output with its pin. A mismatch
    or an exception is counted as failed and the run carries on. With
    ``record`` set, observed values are stored as the new pins instead."""

    def __init__(self, scale: str, workload: str, record: bool = False):
        self.scale = scale
        self.workload = workload
        self.record = record
        self.attempted = 0
        self.failed = 0
        self.observed: dict = {}
        with open(PINS_PATH) as f:
            self.pins = json.load(f)
        self.expected = self.pins.get(scale, {}).get(workload, {})

    def check(self, op: str, got) -> None:
        self.attempted += 1
        self.observed[op] = got
        want = self.expected.get(op)
        if not self.record and want != got:
            self.failed += 1
            print(f"[perfbench] MISMATCH {op}: got {got}, pinned {want}", file=sys.stderr)

    def attempt(self, op: str, fn):
        """Run fn; an exception counts as one failed operation."""
        try:
            return fn()
        except Exception:  # noqa: BLE001 -- a failed op is counted, not fatal
            self.attempted += 1
            self.failed += 1
            print(f"[perfbench] FAILED {op}:\n{traceback.format_exc()}", file=sys.stderr)
            return None

    def save(self) -> None:
        self.pins.setdefault(self.scale, {})[self.workload] = self.observed
        with open(PINS_PATH, "w") as f:
            json.dump(self.pins, f, indent=1, sort_keys=True)
            f.write("\n")


# ---------------------------------------------------------------------------
# host
# ---------------------------------------------------------------------------


def box_info() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"cores": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024}


def host_probe() -> dict:
    """load1 plus a fixed pure-Python CPU probe (best of 3): a co-tenant
    storm shows as a high load and a slow probe."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        sum(i * i for i in range(200_000))
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return {"load1": load1, "cpu_probe_ms": round(best * 1e3, 3)}


def descendants() -> list[int]:
    """Every live process started by this one, at any depth."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class RssSampler:
    """Peak RSS of the processes this one started, sampled from /proc: the
    driver JVM, its Python workers, and their sum."""

    INTERVAL_S = 0.2

    def __init__(self):
        self.peak = {"total": 0, "jvm": 0, "python": 0}  # bytes
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> None:
        now = {"total": 0, "jvm": 0, "python": 0}
        for pid in descendants():
            try:
                with open(f"/proc/{pid}/comm") as f:
                    kind = "jvm" if f.read().strip() == "java" else "python"
                with open(f"/proc/{pid}/statm") as f:
                    rss = int(f.read().split()[1]) * self._page
            except OSError:
                continue
            now[kind] += rss
            now["total"] += rss
        for k, v in now.items():
            self.peak[k] = max(self.peak[k], v)

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def peak_mb(self, kind: str = "total") -> float:
        return self.peak[kind] / 2**20


# ---------------------------------------------------------------------------
# Spark runtime metrics (this session's SQL status store)
# ---------------------------------------------------------------------------

_SCALE = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
PYTHON_METRIC = "time to run Python workers"


def metric_total(text: str) -> float:
    """Total of a formatted SQL metric: '11.5 s' or, for several tasks,
    'total (min, med, max ...)\\n11.5 s (2.9 s, ...)'."""
    head = text.strip().splitlines()[-1].split(" (")[0]
    num, unit = head.split()
    return float(num.replace(",", "")) * _SCALE[unit]


class SparkRuntime:
    """Per-unit runtime counters read over py4j from the session's status
    stores after a timed call: time in Python workers, shuffle bytes
    written, spill, tasks, task-time skew of the longest stage, and the
    number of Exchange nodes in the executed plans."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext._jsc.sc()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.app = self.sc.statusStore()

    def mark(self) -> int:
        """The newest execution id so far (-1 if none)."""
        execs = self.sql.executionsList()
        return max((execs.apply(i).executionId() for i in range(execs.size())), default=-1)

    def collect(self, since: int) -> dict:
        self.sc.listenerBus().waitUntilEmpty()
        out = {
            "python_worker_s": 0.0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
            "tasks": 0,
            "exchanges": 0,
        }
        longest = None  # (executor run time, stage id, attempt id)
        execs = self.sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            if eid <= since:
                continue
            values = self.sql.executionMetrics(eid)
            ms = e.metrics()
            for j in range(ms.size()):
                m = ms.apply(j)
                if m.name() == PYTHON_METRIC:
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out["python_worker_s"] += metric_total(v.get())
            nodes = self.sql.planGraph(eid).allNodes()
            out["exchanges"] += sum(
                1 for k in range(nodes.size()) if nodes.apply(k).name() == "Exchange"
            )
            jobs = e.jobs().keysIterator()
            while jobs.hasNext():
                stage_ids = self.app.job(jobs.next()).stageIds()
                for s in range(stage_ids.size()):
                    try:
                        st = self.app.lastStageAttempt(stage_ids.apply(s))
                    except Exception:  # noqa: BLE001 -- skipped stage: no attempt
                        continue
                    if st.status().toString() != "COMPLETE":
                        continue
                    out["tasks"] += st.numCompleteTasks()
                    out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    out["spill_bytes"] += st.memoryBytesSpilled()
                    run_ms = st.executorRunTime()
                    if longest is None or run_ms > longest[0]:
                        longest = (run_ms, st.stageId(), st.attemptId())
        out["task_skew"] = self._skew(longest)
        return out

    def _skew(self, longest) -> float:
        if longest is None:
            return 0.0
        gw = self.spark.sparkContext._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self.app.taskSummary(longest[1], longest[2], q)
        if not summary.isDefined():
            return 0.0
        run = summary.get().executorRunTime()
        med, mx = run.apply(0), run.apply(1)
        return mx / med if med > 0 else 0.0


def median_of_units(units: list[dict]) -> dict:
    """Per-key median over units' runtime counters, as spark.<key>."""
    if not units:
        return {}
    return {f"spark.{k}": median(u[k] for u in units) for k in units[0]}
