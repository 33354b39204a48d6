"""Spans and Spark counters for the traced benchmark run.

A span records name, start, end, parent and run id.  Spans are kept in
memory and written once, when the run ends.  Every Spark job launched
while a span is open carries the span's id as its job group, so the
span's counters (executor run/CPU/GC time, input rows and bytes,
shuffle and output bytes) are read back afterwards from Spark's status
store, which launches no Spark job.

Spans are placed by :func:`instrument`, which wraps the public
functions of the engine's modules from the outside; the engine itself
is not changed.  Untraced runs use :class:`NullTracer` and wrap
nothing.
"""

from __future__ import annotations

import functools
import itertools
import json
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# physical operators that run Python workers
_PYTHON_OPS = re.compile(
    r"^(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|"
    r"PythonMapInArrow|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|"
    r"AggregateInPandas|WindowInPandas|ArrowEvalPythonUDTF|"
    r"BatchEvalPythonUDTF|FlatMapGroupsInArrow|FlatMapCoGroupsInArrow)"
)
# the per-group salt column of shuffle.topk_per_group
_SALT_COL = "__salt"
_SIZE = re.compile(r"([0-9.]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}

STAGE_FIELDS = (
    "executorRunTime", "executorCpuTime", "jvmGcTime", "inputBytes",
    "inputRecords", "outputBytes", "outputRecords", "shuffleWriteBytes",
    "shuffleReadBytes",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    counters: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class NullTracer:
    """Tracing off: spans cost one context-manager entry."""

    enabled = False

    @contextmanager
    def span(self, name: str, **attrs):
        yield None


class Tracer:
    """In-memory span recorder bound to one Spark session."""

    enabled = True

    def __init__(self, spark, run_id: str) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main_top: int | None = None
        self._main = threading.get_ident()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _group(self, span_id: int) -> str:
        return f"bench-{self.run_id}-{span_id}"

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        # a span opened on a helper thread (e.g. the compaction pool)
        # hangs under whatever the main thread has open
        parent = stack[-1].id if stack else self._main_top
        sp = Span(next(self._ids), name, parent, time.perf_counter(), attrs=attrs)
        self.spans.append(sp)
        stack.append(sp)
        if threading.get_ident() == self._main:
            self._main_top = sp.id
        self.sc.setJobGroup(self._group(sp.id), name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if threading.get_ident() == self._main:
                self._main_top = stack[-1].id if stack else None
            if stack:
                self.sc.setJobGroup(self._group(stack[-1].id), stack[-1].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    # ------------------------------------------------------ counters
    def collect_counters(self) -> None:
        """Attach Spark counters to every span (after the timed work).

        Each stage is charged to the first job that ran it; later jobs
        list it again as skipped."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60_000)
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        job_span: dict[int, Span] = {}
        for sp in self.spans:
            for j in tracker.getJobIdsForGroup(self._group(sp.id)):
                job_span[j] = sp
        charged: set[int] = set()
        for j in sorted(job_span):
            sp = job_span[j]
            c = sp.counters
            c["jobs"] = c.get("jobs", 0) + 1
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                if sid in charged:
                    continue
                charged.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # stage evicted from the store
                    c["stages_missing"] = c.get("stages_missing", 0) + 1
                    continue
                c["stages"] = c.get("stages", 0) + 1
                for f in STAGE_FIELDS:
                    c[f] = c.get(f, 0) + int(getattr(sd, f)())
        self._sql_counters(job_span)

    def _sql_counters(self, job_span: dict[int, "Span"]) -> None:
        """Per SQL execution: Python-worker operators in its final plan
        and bytes written by salted exchanges, charged to the span that
        ran the execution's first job."""
        sq = self.spark._jsparkSession.sharedState().statusStore()
        it = sq.executionsList().iterator()
        while it.hasNext():
            ex = it.next()
            jobs = [int(t._1()) for t in _iter(ex.jobs())]
            owners = [job_span[j] for j in sorted(jobs) if j in job_span]
            if not owners:
                continue
            sp = owners[0]
            graph = sq.planGraph(ex.executionId())
            nodes = list(_iter(graph.allNodes()))
            n_py = sum(1 for n in nodes if _PYTHON_OPS.match(n.name()))
            sp.counters["python_ops"] = sp.counters.get("python_ops", 0) + n_py
            salted_ids = []
            for n in nodes:
                if n.name() == "Exchange" and _SALT_COL in n.desc():
                    for m in _iter(n.metrics()):
                        if m.name() == "shuffle bytes written":
                            salted_ids.append(int(m.accumulatorId()))
            if salted_ids:
                vals = {int(t._1()): t._2()
                        for t in _iter(sq.executionMetrics(ex.executionId()))}
                b = sum(_parse_size(vals.get(a, "")) for a in salted_ids)
                sp.counters["salted_exchange_bytes"] = (
                    sp.counters.get("salted_exchange_bytes", 0) + b)

    # --------------------------------------------------------- output
    def self_time(self, sp: Span) -> float:
        """Duration minus the part of it covered by child spans."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == sp.id)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.dur - covered

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.id]

    def dump(self, path: str) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "run": self.run_id, "id": s.id, "name": s.name,
                    "parent": s.parent, "start": s.start - t0,
                    "end": s.end - t0, "self": self.self_time(s),
                    "attrs": s.attrs, "counters": s.counters,
                }, default=str) + "\n")


def _iter(scala_iterable):
    it = scala_iterable.iterator()
    while it.hasNext():
        yield it.next()


def _parse_size(text: str) -> int:
    """First size in a formatted SQL metric ("total (min, med, max)\\n
    1.2 MiB (...)") in bytes."""
    m = _SIZE.search(text.split("\n", 1)[-1])
    return int(float(m.group(1)) * _UNIT[m.group(2)]) if m else 0


def counters_of(tracer: Tracer, spans) -> dict:
    """Summed counters of ``spans`` and all their descendants."""
    kids: dict[int | None, list[Span]] = {}
    for s in tracer.spans:
        kids.setdefault(s.parent, []).append(s)
    seen: set[int] = set()
    todo = list(spans)
    out: dict = {}
    while todo:
        s = todo.pop()
        if s.id in seen:
            continue
        seen.add(s.id)
        for k, v in s.counters.items():
            out[k] = out.get(k, 0) + v
        todo += kids.get(s.id, [])
    return out


def _wrap(owner, attr: str, tracer: Tracer, name_of,
          keep_result: bool = False) -> None:
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        name, attrs = name_of(*args, **kwargs)
        with tracer.span(name, **attrs) as sp:
            out = fn(*args, **kwargs)
            if keep_result:
                sp.attrs["result"] = out
            return out

    setattr(owner, attr, wrapper)


def instrument(tracer: Tracer) -> None:
    """Wrap the engine's public functions in spans.

    Functions that return a DataFrame (``topk_per_group``,
    ``build_vectors``, ``hybrid_query``) are timed for planning only;
    their execution is charged to the span of the action that runs it.
    The ``run_round`` span records the gate decisions the engine takes
    from the same state: point lookup, bucketed dedup, Bloom."""
    from doccrawler_spark import crawl, pipeline, query
    from doccrawler_spark.ops import similarity
    from doccrawler_spark.snapshots import SnapshotCatalog

    _wrap(crawl, "crawl", tracer, lambda *a, **k: (
        "crawl.crawl", {"resume": bool(k.get("resume"))}))
    _wrap(crawl, "seed_round", tracer, lambda *a, **k: ("crawl.seed_round", {}))
    _wrap(crawl, "run_round", tracer, lambda spark, catalog, web, cfg, round_, state, **k: (
        "crawl.run_round", {
            "round": round_,
            "frontier_size": state.get("frontier_size") or 0,
            "seen_size": state.get("seen_size") or 0,
            "point_lookup": 0 < (state.get("frontier_size") or 0)
            <= cfg.point_lookup_max_frontier and cfg.fetcher is None,
            "bucketed_dedup": (state.get("frontier_size") or 0)
            >= cfg.broadcast_dedup_max_frontier,
            "bloom": cfg.bloom_prefilter
            and (state.get("seen_size") or 0) >= cfg.bloom_min_seen,
        }))
    _wrap(crawl, "topk_per_group", tracer, lambda *a, **k: (
        "shuffle.topk_per_group", {}))
    _wrap(SnapshotCatalog, "write", tracer, lambda self, df, table, round_, *a, **k: (
        f"snapshots.write.{table}", {"table": table, "round": round_,
                                     "path": self.data_dir(table, round_)}))
    _wrap(SnapshotCatalog, "compact", tracer, lambda self, spark, table, *a, **k: (
        "snapshots.compact", {"table": table}), keep_result=True)
    _wrap(SnapshotCatalog, "write_state", tracer, lambda *a, **k: (
        "snapshots.write_state", {}))
    _wrap(pipeline, "fit_bm25_distributed", tracer, lambda *a, **k: (
        "pipeline.fit_bm25", {}))
    _wrap(pipeline, "build_vectors", tracer, lambda *a, **k: (
        "pipeline.build_vectors", {}))
    _wrap(query, "hybrid_query", tracer, lambda *a, **k: ("query.hybrid_query", {}))
    _wrap(similarity, "write_ivf_index", tracer, lambda *a, **k: (
        "ops.write_ivf_index", {}))
