"""Count the generated classes each registry query compiles in one session.

Spark compiles every whole-stage pipeline and generated projection with
Janino and keeps the classes in a cache of ``spark.sql.codegen.cache.maxEntries``
entries (set in ``session.get_session``). A class found in the cache is not
compiled again, so a query whose plan shapes a session has already compiled
compiles nothing. This prints, per query, the classes it compiled (a cache
miss each, read from Spark's ``CodegenMetrics``) and its seconds, then the
session total per pass and the JVM's Metaspace and code-cache use.

Usage:
    python scripts/codegen_census.py --sf DIR [--passes N] [key ...]

With no key, every registry query runs, in registry order. Each query is
forced with a ``noop`` write, as the benchmark's ``query_mix`` does, with
Spark's cache and the engine's index memos cleared before each pass. Run
with ``--passes 2``: the second pass compiles only what the cache could not
hold, so its total tells whether the cache fits the working set.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ.setdefault("SPARK_GRAFT_CPUS", "4")


def jvm_memory_mb(spark) -> dict[str, float]:
    """Used MB of the JVM's Metaspace and of its code cache (all code heaps)."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    used = {"metaspace_mb": 0.0, "code_cache_mb": 0.0}
    for pool in mf.getMemoryPoolMXBeans():
        name = pool.getName()
        mb = pool.getUsage().getUsed() / 2**20
        if name == "Metaspace":
            used["metaspace_mb"] += mb
        elif name.startswith("CodeHeap") or name == "Code Cache":
            used["code_cache_mb"] += mb
    return used


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--sf", required=True, help="catalog lake directory (e.g. an sf0.001 lake)")
    p.add_argument("--passes", type=int, default=1)
    p.add_argument("keys", nargs="*", help="registry query keys (default: all)")
    args = p.parse_args(argv)

    from dbsurveyor_spark import registry
    from dbsurveyor_spark.plans.cache import clear_index_memos
    from dbsurveyor_spark.session import classes_compiled, get_session

    qs = registry.queries()
    keys = args.keys or list(qs)
    unknown = [k for k in keys if k not in qs]
    if unknown:
        p.error(f"unknown query keys: {', '.join(unknown)}")
    spark = get_session("codegen-census")
    spark.sparkContext.setLogLevel("ERROR")
    cache = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    mem = jvm_memory_mb(spark)
    print(
        f"spark.sql.codegen.cache.maxEntries={cache}  queries={len(keys)}  sf={args.sf}"
        f"  at start: metaspace {mem['metaspace_mb']:.0f} MB;"
        f" code cache {mem['code_cache_mb']:.0f} MB"
    )
    try:
        for n in range(1, args.passes + 1):
            spark.catalog.clearCache()
            clear_index_memos()
            start = classes_compiled(spark)
            failed = 0
            for key in keys:
                before = classes_compiled(spark)
                t0 = time.perf_counter()
                try:
                    qs[key](spark, args.sf).write.format("noop").mode("overwrite").save()
                    status = ""
                except Exception as exc:  # report it and go on with the census
                    failed += 1
                    status = f"  FAILED {type(exc).__name__}"
                print(
                    f"pass {n}  {key:<40} {classes_compiled(spark) - before:>5} classes"
                    f" {time.perf_counter() - t0:>7.2f} s{status}",
                    flush=True,
                )
            mem = jvm_memory_mb(spark)
            print(
                f"pass {n}  total {classes_compiled(spark) - start} classes over"
                f" {len(keys)} queries ({failed} failed); session total"
                f" {classes_compiled(spark)}; metaspace {mem['metaspace_mb']:.0f} MB;"
                f" code cache {mem['code_cache_mb']:.0f} MB",
                flush=True,
            )
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
