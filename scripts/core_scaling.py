"""Core-scaling evidence at sf1: the same ops at 8 vs 32 cores.

VERDICT r8 item #7: at sf0.1 the whole suite is job-latency bound, so the
8-vs-32-core suite ratio is ~1.0 and says nothing about the 100 TB story.
This harness runs the heavy operators at the synthetic sf1 lake (10× the
bench SF, built by scripts/scale_smoke.py's replicator) under whatever
``$SPARK_GRAFT_CPUS`` is set, so invoking it twice —

    SPARK_GRAFT_CPUS=32 python scripts/core_scaling.py > c32.json
    SPARK_GRAFT_CPUS=8  python scripts/core_scaling.py > c8.json

— yields per-op core-scaling ratios at a data size where compute, not job
latency, dominates. Ops whose 8-core time is ≈ their 32-core time at sf1
are still latency/driver-bound even at 10× and are the §2 targets for the
next round. Output: ONE JSON line {op: sec, ...} (min of PASSES runs).

The lake is documents/embeddings/lineitem/part only (same as scale_smoke);
the op list is restricted to operators that read those tables.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

import scale_smoke  # noqa: E402
from dbsurveyor_spark import registry  # noqa: E402
from dbsurveyor_spark.session import get_session  # noqa: E402

OPS = [
    "graph_pagerank_parts",
    "graph_triangle_count",
    "graph_connected_components",
    "graph_link_prediction",
    "graph_kcore",
    "dedup_ngram_jaccard",
    "dedup_semantic_corpus",
    "dedup_containment",
    "dedup_substring_corpus",
    "split_leakage_neardup",
    "knn_graph",
    "mm_audio_dedup_corpus",
    "basket_copurchase_lift",
    "text_cooccurrence_pmi",
    "sample_kcenter_greedy",
    "abc_part_classification",
    "text_zipf_fit",
]
PASSES = 2


def main() -> None:
    # Never let the persisted index store warm anything (same hygiene as
    # scale_smoke): every timing computes from the parquet inputs.
    os.environ.pop("DBSURVEYOR_INDEX_DIR", None)
    dst = scale_smoke.DST
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_session(f"core-scaling-c{cpus}")
    if not os.path.isdir(f"{dst}/documents.parquet"):
        scale_smoke._replicate(spark)
    qs = registry.queries()
    from dbsurveyor_spark.plans.cache import clear_index_memos

    spark.range(1000).selectExpr("sum(id)").collect()
    out: dict[str, float] = {}
    for key in OPS:
        best = None
        for _ in range(PASSES):
            spark.catalog.clearCache()
            clear_index_memos()
            dt = scale_smoke._time_op(spark, qs[key], dst)
            best = dt if best is None else min(best, dt)
        out[key] = best
        print(f"# {key}: {best}s (cpus={cpus})", file=sys.stderr, flush=True)
    print(json.dumps({"cpus": cpus, "sf": "sf1-synthetic", "ops": out}))
    spark.stop()


if __name__ == "__main__":
    main()
