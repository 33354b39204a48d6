#!/usr/bin/env python
"""Query-only measurement harness for optimization work (guide §1).

Times ``bench.QUERY_SUBSET`` through ``bench.py``'s own timing loop
(``bench.time_query``: fresh plan per rep, best-of-N, a ``noop`` sink)
but WITHOUT the crawl leg, so a query-level change can be measured in ~1
minute instead of ~10.  Also captures ``.explain('formatted')`` per
query when asked — the plan evidence committed under ``plans/r09/``.

Env knobs:
  SPARK_GRAFT_SF_DIR   default /root/testdata/sf1.0
  SPARK_GRAFT_CPUS     default os.cpu_count()
  BENCH_QUERY_REPEATS  default 2 (same best-of protocol as bench.py)
  BENCH_ONLY           comma-separated query-name filter
  BENCH_PLANS_DIR      if set, write <dir>/<query>_<suffix>.txt explains
  BENCH_PLANS_SUFFIX   default "before"

Prints one JSON line: {"queries": {...}, "total": ..., "sf": ...}.
"""

from __future__ import annotations

import json
import os
import sys


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from doccrawler_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    shuffle_parts = int(os.environ.get("BENCH_SHUFFLE_PARTITIONS", "64"))
    spark = get_spark(app_name="doccrawler_bench_extra",
                      master=f"local[{cpus}]",
                      shuffle_partitions=shuffle_parts)

    import __spark_entry__ as E
    import bench

    qs = E.queries()
    only = os.environ.get("BENCH_ONLY")
    names = [n for n in bench.QUERY_SUBSET
             if not only or n in only.split(",")]

    plans_dir = os.environ.get("BENCH_PLANS_DIR")
    suffix = os.environ.get("BENCH_PLANS_SUFFIX", "before")
    if plans_dir:
        os.makedirs(plans_dir, exist_ok=True)

    bench.warm_queries(spark, qs, sf_dir)
    q_reps = int(os.environ.get("BENCH_QUERY_REPEATS", "2"))
    queries: dict[str, float] = {}
    for name in names:
        try:
            if plans_dir:
                df = qs[name](spark, sf_dir)
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted")
                with open(os.path.join(plans_dir,
                                       f"{name}_{suffix}.txt"), "w") as f:
                    f.write(plan)
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            queries[name] = bench.time_query(spark, qs, name, sf_dir, q_reps)
        except Exception as e:
            queries[name] = -1.0
            print(f"[bench_extra] {name} FAILED: {e}", file=sys.stderr)
        finally:
            spark.sparkContext.setJobDescription(None)

    total = sum(v for v in queries.values() if v > 0)
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else None
    print(json.dumps({"queries": queries, "total": round(total, 2), "sf": sf}))


if __name__ == "__main__":
    main()
