"""Per-layer tracing for the benchmark's traced repetitions.

Spans come from wrappers the benchmark installs around the public
functions of each layer for the length of one repetition; the program
itself is not changed. Spark job time, shuffle bytes and Python-worker
metrics come from Spark's SQL status store, read once after the
repetition.
"""

from __future__ import annotations

import functools
import re
import time
from collections import defaultdict

from crawl4ai_spark.engine import bloom, frontier, tables

# (owner, attribute, span name). Functions the engine imported by name
# are wrapped where the engine looks them up: the frontier module.
TARGETS = (
    (frontier.CrawlEngine, "run", "crawl"),
    (frontier.CrawlEngine, "init_from_seed_df", "init"),
    (tables.SnapshotTable, "read", "tables.read"),
    (tables.SnapshotTable, "adopt_dirs", "tables.commit"),
    (tables.SnapshotTable, "append_rows", "tables.commit"),
    (tables.SnapshotTable, "drop_dirs", "tables.commit"),
    (tables.Warehouse, "commit_round", "tables.commit"),
    (frontier, "select_fetch_batch", "politeness"),
    (frontier, "update_host_state", "politeness"),
    (frontier, "apply_robots_gate", "robots"),
    (bloom.BloomSeenSet, "build", "bloom.build"),
    (bloom.BloomSeenSet, "add_hashes", "bloom.add"),
)

# status-store metric name -> key summed per execution
SQL_METRICS = {
    "shuffle bytes written": "shuffle_bytes",
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_start_s",
    "data sent to Python workers": "arrow_to_py_bytes",
    "data returned from Python workers": "arrow_from_py_bytes",
}

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0,
          "h": 3600.0}
_VALUE = re.compile(r"\s*([0-9][0-9.,]*)\s*([A-Za-z]*)")
# the write node's details line: "Arguments: file:<output path>, ..."
_INSERT = re.compile(r"Arguments: file:([^,\s]+)")


def parse_metric(text: str) -> float:
    """Total of a status-store metric string, in bytes or seconds.
    Multi-task metrics read 'total (min, med, max ...)\\n<total> (...)'."""
    m = _VALUE.match(text.split("\n")[-1])
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class Tracer:
    """Collects spans (name, start, end, round) while installed.

    The round of a span is counted from the crawl's own commits: -1
    during seeding, then one more after each ``commit_round``."""

    def __init__(self):
        self.spans: list[tuple[str, float, float, int]] = []
        self.round = -1
        self.bounds: list[float] = []   # seeding end, then each commit
        self._saved: list[tuple[object, str, object]] = []

    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            rnd = self.round
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.time()
                self.spans.append((name, t0, t1, rnd))
                if name == "init":
                    self.round = 0
                    self.bounds.append(t1)
                elif fn.__name__ == "commit_round":
                    self.round += 1
                    self.bounds.append(t1)
        return traced

    def __enter__(self):
        for owner, attr, name in TARGETS:
            fn = getattr(owner, attr)
            self._saved.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(fn, name))
        return self

    def __exit__(self, *exc):
        for owner, attr, fn in reversed(self._saved):
            setattr(owner, attr, fn)
        self._saved.clear()
        return False

    def total(self, name: str) -> float:
        return sum(t1 - t0 for n, t0, t1, _ in self.spans if n == name)

    def count(self, name: str) -> int:
        return sum(1 for n, *_ in self.spans if n == name)

    def round_windows(self) -> list[tuple[float, float]]:
        """Wall-clock window of each crawl round, seeding end to commit."""
        return list(zip(self.bounds[:-1], self.bounds[1:]))


def last_execution_id(spark) -> int:
    lst = spark._jsparkSession.sharedState().statusStore().executionsList()
    return max((lst.apply(k).executionId() for k in range(lst.size())),
               default=-1)


def sql_executions(spark, after_id: int) -> list[dict]:
    """Every finished SQL execution with id > after_id: wall-clock
    start/end, the path it wrote (if any) and the summed metrics of
    SQL_METRICS. One pass over the status store."""
    store = spark._jsparkSession.sharedState().statusStore()
    lst = store.executionsList()
    out = []
    for k in range(lst.size()):
        e = lst.apply(k)
        eid = e.executionId()
        done = e.completionTime()
        if eid <= after_id or not done.isDefined():
            continue
        values = store.executionMetrics(eid)
        sums: dict[str, float] = defaultdict(float)
        metrics = e.metrics()
        for j in range(metrics.size()):
            m = metrics.apply(j)
            key = SQL_METRICS.get(m.name())
            if key is None:
                continue
            v = values.get(m.accumulatorId())
            if v.isDefined():
                sums[key] += parse_metric(v.get())
        path = _INSERT.search(e.physicalPlanDescription() or "")
        out.append({
            "id": eid,
            "start": e.submissionTime() / 1000.0,
            "end": done.get().getTime() / 1000.0,
            "writes": path.group(1) if path else "",
            **sums,
        })
    return out


def job_kind(ex: dict) -> str:
    """Which crawl job an execution is, from the table it wrote."""
    w = ex["writes"]
    if "/state/r" in w:
        return "job2"
    if "/pages/" in w:
        return "job1"
    if "/seen_bloom/" in w:
        return "bloom"
    if "/frontier/" in w or "/seen/" in w:
        return "init"
    return "other"


def state_round(ex: dict) -> int | None:
    m = re.search(r"/state/r(\d+)", ex["writes"])
    return int(m.group(1)) if m else None
