"""Measurement taken from outside the package: spans recorded around calls
into each layer, Spark engine counters read from the status stores, and a
resident-memory sampler over the Python and JVM processes."""

from __future__ import annotations

import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    counters: dict


class Tracer:
    """In-memory spans, written out when the run ends. ``span(name)``
    nests under whichever span is open; ``parent=`` overrides that for a
    layer that is materialized standalone just before the span that
    re-runs it internally (see README, "Traced run")."""

    def __init__(self, engine: "EngineCounters"):
        self.spans: list[Span] = []
        self._open: list[str] = []
        self._engine = engine

    @contextmanager
    def span(self, name: str, parent: str | None = None):
        if parent is None and self._open:
            parent = self._open[-1]
        before = self._engine.snapshot()
        self._open.append(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._open.pop()
            counters = self._engine.delta(before, self._engine.snapshot())
            self.spans.append(Span(name, start, end, parent, counters))

    def duration(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def self_time(self, name: str) -> float:
        """Span duration minus the durations of its child spans."""
        kids = sum(s.end - s.start for s in self.spans if s.parent == name)
        return max(0.0, self.duration(name) - kids)

    def to_json(self) -> list[dict]:
        t0 = min((s.start for s in self.spans), default=0.0)
        return [
            {"name": s.name, "start": round(s.start - t0, 6), "end": round(s.end - t0, 6),
             "parent": s.parent, "counters": s.counters}
            for s in sorted(self.spans, key=lambda s: s.start)
        ]


_EXCHANGE = re.compile(r"^\W*(Exchange|BroadcastExchange) \(\d+\)")


def count_exchanges(plan: str) -> int:
    """Exchange nodes in a formatted physical plan: the final adaptive plan
    when there is one, else the whole tree."""
    tree = plan.split("\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return sum(1 for line in tree.splitlines() if _EXCHANGE.match(line))


class EngineCounters:
    """Cumulative engine counters from the Spark status stores, which work
    with ``spark.ui.enabled=false``. ``delta`` of two snapshots gives the
    work done in between."""

    def __init__(self, spark):
        self._spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        gw = spark.sparkContext._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def storage_mb(self) -> float:
        ex = self._sc.statusStore().executorList(True)
        return sum(ex.apply(i).memoryUsed() for i in range(ex.size())) / 2**20

    def snapshot(self) -> dict:
        self._drain()
        store = self._sc.statusStore()
        ex = store.executorList(True)
        shuffle = gc = tasks = 0
        for i in range(ex.size()):
            e = ex.apply(i)
            shuffle += e.totalShuffleWrite()
            gc += e.totalGCTime()
            tasks += e.totalTasks()
        stages = store.stageList(None, False, False, self._no_quantiles, None)
        spill = {}
        for i in range(stages.size()):
            s = stages.apply(i)
            spill[(s.stageId(), s.attemptId())] = s.memoryBytesSpilled() + s.diskBytesSpilled()
        execs = self._spark._jsparkSession.sharedState().statusStore().executionsList()
        plans = {}
        for i in range(execs.size()):
            x = execs.apply(i)
            plans[x.executionId()] = x.physicalPlanDescription()
        return {"shuffle": shuffle, "gc_ms": gc, "tasks": tasks, "spill": spill, "plans": plans}

    @staticmethod
    def delta(a: dict, b: dict) -> dict:
        new_plans = [p for k, p in b["plans"].items() if k not in a["plans"]]
        return {
            "shuffle_write_mb": (b["shuffle"] - a["shuffle"]) / 2**20,
            "spill_mb": sum(v for k, v in b["spill"].items() if k not in a["spill"]) / 2**20,
            "gc_s": (b["gc_ms"] - a["gc_ms"]) / 1000.0,
            "tasks": b["tasks"] - a["tasks"],
            "exchanges": sum(count_exchanges(p) for p in new_plans),
        }


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class Sampler:
    """Background thread sampling the summed resident memory of ``pids``
    and, when given, the engine's storage memory. Peaks only; ``with``
    starts and stops it. Short-lived children are left out on purpose:
    between fork and exec a child reports its parent's whole RSS."""

    def __init__(self, pids: list[int], engine: EngineCounters | None = None,
                 period_s: float = 0.25):
        self._pids = pids
        self._engine = engine
        self._period = period_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self.peak_rss_mb = 0.0
        self.peak_storage_mb = 0.0

    def _sample(self) -> None:
        rss = sum(_rss_kb(p) for p in self._pids) / 1024.0
        self.peak_rss_mb = max(self.peak_rss_mb, rss)
        if self._engine is not None:
            self.peak_storage_mb = max(self.peak_storage_mb, self._engine.storage_mb())

    def _run(self) -> None:
        while not self._stop.wait(self._period):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
        return False
