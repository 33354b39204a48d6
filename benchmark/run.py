#!/usr/bin/env python3
"""Run one benchmark workload and print one JSON result line.

    python3 benchmark/run.py --workload crawl_polite --seed 1 --seconds 10 --trace 0

Workloads: crawl_polite, corpus (see benchmark/README.md).
Inputs are generated from --seed and cached under .benchwork/ (outside
all timing).  Timed passes repeat until --seconds have elapsed, at
least once.  With --trace 0 the result carries the end-to-end metrics;
with --trace 1 the per-layer metrics from spans, and the spans are
written to .benchwork/spans-<workload>-<seed>.jsonl.  The last stdout
line is the result; engine output goes to stderr.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import signal
import statistics
import sys
import threading
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl_polite", "corpus")


def _meminfo_kb(field: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    raise KeyError(field)


def driver_heap_mb() -> int:
    """A quarter of physical memory, at most half of what is free, in
    [1, 4] GiB — the engine's 48g default does not fit small boxes."""
    mb = min(_meminfo_kb("MemTotal") // 4, _meminfo_kb("MemAvailable") // 2) // 1024
    return max(1024, min(4096, mb))


class RssSampler:
    """Peak summed RSS of one process tree (the driver JVM and the
    Python workers it forks).  The tree is re-read from /proc once a
    second and its members' RSS every 100 ms, so sampling stays cheap
    next to the driver's own Python work."""

    def __init__(self) -> None:
        self.pid: int | None = None
        self.peak_kb = 0
        self._page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_kb / 1024

    def _tree(self) -> list[int]:
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
        tree, todo = [], [self.pid]
        while todo:
            p = todo.pop()
            tree.append(p)
            todo += kids.get(p, [])
        return tree

    def _rss_kb(self, pids: list[int]) -> int:
        total = 0
        for p in pids:
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * self._page_kb
            except (OSError, IndexError, ValueError):
                continue
        return total

    def _loop(self) -> None:
        pids: list[int] = []
        tick = 0
        while not self._stop.wait(0.1):
            if self.pid is None:
                continue
            if tick % 10 == 0:
                pids = self._tree()
            tick += 1
            self.peak_kb = max(self.peak_kb, self._rss_kb(pids))


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts: a Python
    worker that outlives its JVM is re-parented here, not to init, so
    reap_children() can wait for it."""
    import ctypes

    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                if int(f.read().rsplit(")", 1)[1].split()[1]) == me:
                    kids.append(int(d))
        except (OSError, IndexError, ValueError):
            continue
    return kids


def reap_children(grace: float = 20.0) -> None:
    """Wait until every process this run started has ended: SIGTERM
    whatever is left after ``grace`` seconds, SIGKILL 5 s later."""
    deadline = time.monotonic() + grace
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            return
        late = time.monotonic() - deadline
        if late > 0:
            for pid in _children():
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL if late > 5 else signal.SIGTERM)
        time.sleep(0.05)


def on_sigterm(signum, frame) -> None:
    """Stop every child (the JVM, then the Python workers it leaves
    behind), wait for them and leave without a result.  Raising here
    instead could be swallowed by a broad ``except`` in a library."""
    for pid in _children():
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGTERM)
    reap_children(grace=10.0)
    os._exit(128 + signum)


def start_session(cores: int, work: str):
    from doccrawler_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        app_name="doccrawler_benchmark",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": f"{driver_heap_mb()}m",
            "spark.driver.extraJavaOptions":
                f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep every job, stage and SQL execution of a run in the
            # status store, where the traced run reads its counters
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.sql.ui.retainedExecutions": "1000000",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM: it exits when its stdin closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gw is not None:
            proc = gw.proc
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()


def warm_arrow(spark) -> None:
    """One Arrow-UDF job per core: every Python worker imports the
    engine before the clock starts."""
    from pyspark.sql import functions as F

    from doccrawler_spark import functions as Fx

    n = spark.sparkContext.defaultParallelism
    (spark.range(0, n, 1, n)
     .withColumn("h", F.encode(F.lit("<p>warm</p>"), "utf-8"))
     .withColumn("page", Fx.extract_page_udf(F.col("h")))
     .select(F.sum(F.length("page.text"))).collect())


def log(msg: str) -> None:
    print(f"[bench {time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "doccrawler_spark")):
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".benchwork")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # everything the run and its children write stays in the checkout
    # (-XX:-UsePerfData: no JVM perf file under /tmp/hsperfdata_<user>)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import tempfile
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)
    cores = len(os.sched_getaffinity(0))

    adopt_orphans()
    signal.signal(signal.SIGTERM, on_sigterm)
    try:
        with contextlib.redirect_stdout(sys.stderr):
            result = run(args, work, cores)
    finally:
        reap_children()
    print(json.dumps(result))
    return 0


def run(args, work: str, cores: int) -> dict:
    from benchmark import corpus_workload as CW
    from benchmark import crawl_workloads as CR
    from benchmark import trace as T

    name = args.workload
    crawl = name == "crawl_polite"

    # ---- untimed: inputs and oracle answers (cached per seed)
    if crawl:
        prepared = CR.prepare(args.seed, work)
    else:
        prepared = CW.prepare(args.seed, work)
    log("inputs ready")

    # ---- set-up: session start, input load, warm-up
    rss = RssSampler()
    rss.start()
    t0 = time.perf_counter()
    spark = start_session(cores, work)
    rss.pid = spark.sparkContext._gateway.proc.pid
    t1 = time.perf_counter()
    try:
        snap = os.path.join(work, f"snap-{name}")
        if crawl:
            data = CR.load(spark, prepared)
            CR.warm_up(spark, data, prepared, snap)
        else:
            warm_arrow(spark)
            data = CW.load(spark, prepared)
        t2 = time.perf_counter()
        log("set-up done")

        tracer = T.Tracer(spark, f"{name}-{args.seed}") if args.trace else T.NullTracer()
        if args.trace:
            T.instrument(tracer)

        # ---- timed passes
        passes = []
        start = time.perf_counter()
        while not passes or time.perf_counter() - start < args.seconds:
            with tracer.span("workload.pass"):
                if crawl:
                    p = CR.run_pass(spark, data, prepared, snap)
                    p["work_s"] = p["crawl_s"]
                else:
                    p = CW.run_pass(spark, data, prepared, tracer)
                    p["work_s"] = p["index_build_s"] + p["ops_s"]
            passes.append(p)
            log(f"pass {len(passes)}: work {p['work_s']:.2f} s")
        peak_rss_mb = rss.stop()

        failures = [f for p in passes for f in p["failures"]]
        for f in failures:
            print(f"CHECK FAILED: {f}", file=sys.stderr)
        attempted = sum(p["attempted"] for p in passes)
        failed = min(attempted, len(failures))
        work_s = statistics.median(p["work_s"] for p in passes)
        metrics = {
            "setup_s": (t2 - t0, "s"),
            "work_s": (work_s, "s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }
        if args.trace:
            tc = time.perf_counter()
            tracer.collect_counters()
            layers = {
                "session.start_s": t1 - t0,
                "session.warmup_s": t2 - t1,
                "trace.work_s": work_s,
                "trace.peak_rss_mb": peak_rss_mb,
                "fail_frac": failed / attempted,
            }
            if crawl:
                pages = statistics.median(p["pages"] for p in passes)
                layers["crawl_s"] = work_s
                layers["pages_per_s"] = pages / work_s
                layers.update(CR.layer_metrics(tracer, passes, cores))
            else:
                layers["index_build_s"] = statistics.median(p["index_build_s"] for p in passes)
                layers["ops_s"] = statistics.median(p["ops_s"] for p in passes)
                layers.update(CW.layer_metrics(tracer))
            tracer.dump(os.path.join(work, f"spans-{name}-{args.seed}.jsonl"))
            layers["trace.collect_s"] = time.perf_counter() - tc
            # layers this workload never enters read 0: no span opened
            metrics = {k: (layers.get(k, 0.0), unit_of(k)) for k in per_layer_names()}
    finally:
        stop_session(spark)
        log("stopped")
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


def per_layer_names() -> list[str]:
    """Every per-layer metric, in BENCHMARK.json order."""
    from benchmark import corpus_workload as CW

    names = [
        "session.start_s", "session.warmup_s", "trace.work_s", "trace.peak_rss_mb",
        "trace.collect_s", "fail_frac", "crawl_s", "pages_per_s", "index_build_s",
        "ops_s",
        "crawl.seed_s", "crawl.rounds", "crawl.rounds_s", "crawl.round_s_p50",
        "crawl.jobs_per_round", "crawl.plan_s", "crawl.busy_frac",
        "crawl.fetch_extract_write_s", "crawl.fetch_extract_write.executor_cpu_s",
        "crawl.discover_dedup_frontier_s", "crawl.metrics_s", "crawl.errors_s",
        "crawl.budget_s", "crawl.resume_s", "crawl.gc_s", "crawl.shuffle_write_mb",
        "crawl.bucketed_dedup_rounds",
        "fetch.point_lookup_rounds", "fetch.input_rows_per_page", "fetch.input_mb",
        "fetch.miss_frac",
        "extract.pages", "extract.html_mb",
        "shuffle.salted_exchange_mb",
        "bloom.engaged_rounds",
        "snapshots.commits", "snapshots.write_mb_per_page", "snapshots.compact_s",
        "snapshots.files_before_compact", "snapshots.files_after_compact",
        "pipeline.bm25_fit_s", "pipeline.vectors_plan_s",
        "ops.ann_layout_build_s",
        "query.plan_ms_p50",
    ]
    for leaf in CW.LEAVES:
        names += [f"ops.{leaf}_s", f"ops.{leaf}.shuffle_mb", f"ops.{leaf}.python_ops"]
    return names


_UNITS = (
    ("pages_per_s", "pages/s"), ("_mb_per_page", "MB/page"), ("_ms_p50", "ms"),
    ("_s_p50", "s"), ("_s", "s"), ("_mb", "MB"), ("_frac", "ratio"),
)


def unit_of(name: str) -> str:
    for suffix, unit in _UNITS:
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    sys.exit(main())
