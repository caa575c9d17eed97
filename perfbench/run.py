"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload survey_full --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Set-up starts the Spark session, writes
the seeded inputs under ``.perfbench_work/`` and runs the workload's
untimed warm-up. The run then times whole passes until they add up to
``--seconds`` and number at least the workload's ``min_passes``, checks
every output, and prints one
detail line (quartiles, sample counts, deployment settings, inputs) and,
last, the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the measured passes run with spans around every layer call (see
``spans.py``) and the metrics are the per-layer ones, per pass.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

T0 = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import workloads  # noqa: E402

SPARK_LAYERS = (
    "cli.sample",
    "survey.export",
    "survey.profile",
    "survey.quality",
    "sources.documents",
    "operators.relational",
    "operators.dedup",
    "operators.similarity",
    "operators.graph",
    "operators.textstats",
    "operators.other",
    "streaming.events",
    "multimodal",
    "plans.cache",
)
SPARK_LAYER_METRICS = (
    ("wall_s", "s"),
    ("self_s", "s"),
    ("driver_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("exec_cpu_s", "s"),
    ("shuffle_mb", "MB"),
    ("core_util", "ratio"),
)
PLAIN_LAYERS = ("cli", "security", "sources.sqlite")  # no Spark jobs of their own
RUN_METRICS = (
    ("session.wall_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.input_mb", "MB"),
    ("spark.failed_tasks", "count"),
    ("plans.cache.memo_entries", "count"),
    ("trace.harvest_s", "s"),
    ("trace.pass_wall_s", "s"),
)
END_TO_END = (
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("op_p50_s", "s"),
    ("op_p90_s", "s"),
    ("peak_rss_mb", "MB"),
)

# (module, attribute, layer) of every public call the traced run wraps;
# every binding of the same function in a loaded engine module is wrapped.
TRACED_CALLS = (
    ("dbsurveyor_spark.cli", "main", "cli"),
    ("dbsurveyor_spark.cli", "_sample_tables", "cli.sample"),
    ("dbsurveyor_spark.survey.quality", "collect_quality_metrics", "survey.quality"),
    ("dbsurveyor_spark.survey.profile", "survey_schema_overview", "survey.profile"),
    ("dbsurveyor_spark.survey.profile", "survey_pk_inference", "survey.profile"),
    ("dbsurveyor_spark.survey.profile", "survey_fk_inference", "survey.profile"),
    ("dbsurveyor_spark.survey.export", "collect_database_schema", "survey.export"),
    ("dbsurveyor_spark.survey.export", "collect_multi_database_schema", "survey.export"),
    ("dbsurveyor_spark.survey.export", "write_schema_json", "survey.export"),
    ("dbsurveyor_spark.survey.export", "load_schema_json", "survey.export"),
    ("dbsurveyor_spark.survey.export", "to_markdown", "survey.export"),
    ("dbsurveyor_spark.survey.export", "to_sql_ddl", "survey.export"),
    ("dbsurveyor_spark.survey.export", "validate_schema_doc", "survey.export"),
    ("dbsurveyor_spark.security", "write_encrypted_json", "security"),
    ("dbsurveyor_spark.security", "encrypt_bytes", "security"),
    ("dbsurveyor_spark.security", "decrypt_bytes", "security"),
    ("dbsurveyor_spark.security", "redact_rows", "security"),
    ("dbsurveyor_spark.security", "detect_sensitive_columns", "security"),
    ("dbsurveyor_spark.operators.similarity", "trained_centroid_rows", "plans.cache"),
    ("dbsurveyor_spark.operators.similarity", "trained_pq_codebooks", "plans.cache"),
    ("dbsurveyor_spark.operators.graph", "copurchase_graph", "plans.cache"),
)
TRACED_METHODS = (
    ("dbsurveyor_spark.sources.documents", "DocumentLakeSource", "survey", "sources.documents"),
    ("dbsurveyor_spark.sources.documents", "DocumentLakeSource", "sample_collection", "sources.documents"),
    ("dbsurveyor_spark.sources.sqlite", "SqliteSource", "survey", "sources.sqlite"),
)

# Engine memos that a pass rebuilds after the session reset (plans.cache).
_MEMOS = (
    ("dbsurveyor_spark.operators.similarity", "_CENTROID_CACHE"),
    ("dbsurveyor_spark.operators.similarity", "_PQ_CACHE"),
    ("dbsurveyor_spark.operators.similarity", "_RESID_PQ_CACHE"),
    ("dbsurveyor_spark.operators.similarity", "_SQ_RESID_CACHE"),
    ("dbsurveyor_spark.operators.similarity", "_KNN_CACHE"),
    ("dbsurveyor_spark.operators.graph", "_GRAPH_CACHE"),
    ("dbsurveyor_spark.multimodal.audio", "_PAIR_CACHE"),
    ("dbsurveyor_spark.operators.textstats", "_BM25_STATS_CACHE"),
    ("dbsurveyor_spark.operators.textstats", "_QCLS_CACHE"),
    ("dbsurveyor_spark.survey.sampling", "_DSIR_CACHE"),
)


def per_layer_names() -> list[tuple[str, str]]:
    names = [(f"{layer}.{m}", u) for layer in SPARK_LAYERS for m, u in SPARK_LAYER_METRICS]
    names += [(f"{layer}.{m}", "s") for layer in PLAIN_LAYERS for m in ("wall_s", "self_s")]
    return names + list(RUN_METRICS)


# ---------------------------------------------------------------- settings


def deployment_env(work: str) -> dict[str, str]:
    """Settings that fit the Spark driver to this machine and keep every
    file the run writes inside ``work``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_mb = next(int(line.split()[1]) // 1024 for line in fh if line.startswith("MemTotal"))
    heap_mb = max(1024, min(3072, mem_mb // 4))
    tmp = os.path.join(work, "tmp")
    old_path = os.environ.get("PYTHONPATH", "")
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEMORY": f"{heap_mb}m",
        # a fixed heap, touched at start, so resident memory does not
        # depend on when the JVM chooses to grow it
        "SPARK_GRAFT_DRIVER_XMS": f"{heap_mb}m",
        # no hsperfdata file in the system /tmp, from the driver JVM or from
        # spark-submit's launcher JVM
        "SPARK_GRAFT_EXTRA_JAVA_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        # Spark's Python workers import the engine too (UDF-backed queries);
        # they see the JVM's environment, not this process's sys.path.
        "PYTHONPATH": ROOT + (os.pathsep + old_path if old_path else ""),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "DBSURVEYOR_SQLITE_FIXTURE_DIR": os.path.join(work, "fixtures"),
        "TMPDIR": tmp,
    }


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _no_span(layer: str):
    return nullcontext()


def _quartiles(values: list[float]) -> dict[str, float]:
    if len(values) == 1:
        q1 = q3 = values[0]
    else:
        q1, _, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return {"median": statistics.median(values), "q1": q1, "q3": q3, "n": len(values)}


def _p90(values: list[float]) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[8]


# ------------------------------------------------------------------ tracing


def install_tracing(tracer) -> None:
    for mod_name, attr, layer in TRACED_CALLS:
        orig = getattr(importlib.import_module(mod_name), attr)
        for name, mod in list(sys.modules.items()):
            if name.startswith("dbsurveyor_spark") and getattr(mod, attr, None) is orig:
                tracer.wrap(mod, attr, layer)
    for mod_name, cls, attr, layer in TRACED_METHODS:
        tracer.wrap(getattr(importlib.import_module(mod_name), cls), attr, layer)


def memo_entries() -> int:
    n = 0
    for mod_name, attr in _MEMOS:
        mod = sys.modules.get(mod_name)
        n += len(getattr(mod, attr, ()) or ()) if mod else 0
    return n


def jvm_gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def traced_metrics(
    tracer,
    since: int,
    passes: list[float],
    cores: int,
    setup_s: float,
    gc_s: float,
    memos: list[int],
) -> dict[str, float]:
    """The per-layer metrics of the measured passes, averaged per pass."""
    n = len(passes)
    totals = tracer.layer_totals(since)
    values: dict[str, float] = {}
    for layer in SPARK_LAYERS:
        t = totals.get(layer, {})
        for m, _ in SPARK_LAYER_METRICS:
            if m == "core_util":
                wall = t.get("wall_s", 0.0)
                values[f"{layer}.{m}"] = t.get("exec_cpu_s", 0.0) / (wall * cores) if wall else 0.0
            else:
                values[f"{layer}.{m}"] = t.get(m, 0.0) / n
    for layer in PLAIN_LAYERS:
        t = totals.get(layer, {})
        for m in ("wall_s", "self_s"):
            values[f"{layer}.{m}"] = t.get(m, 0.0) / n
    values.update(
        {
            "session.wall_s": setup_s,
            "spark.gc_s": gc_s / n,
            "spark.input_mb": sum(t["input_mb"] for t in totals.values()) / n,
            "spark.failed_tasks": sum(t["failed_tasks"] for t in totals.values()) / n,
            "plans.cache.memo_entries": statistics.mean(memos),
            "trace.harvest_s": tracer.harvest_s / n,
            "trace.pass_wall_s": statistics.median(passes),
        }
    )
    return {name: values[name] for name, _ in per_layer_names()}


def end_to_end_metrics(
    setup_s: float, passes: list[float], latencies: list[float], peak_rss_mb: float
) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "wall_s": statistics.median(passes),
        "op_p50_s": statistics.median(latencies),
        "op_p90_s": _p90(latencies),
        "peak_rss_mb": peak_rss_mb,
    }


def result_line(ops: list, metrics: dict[str, float], units: dict[str, str]) -> dict:
    """The last line of a run: an operation that raised or whose output was
    found wrong is failed."""
    failed = sum(1 for op in ops if op.error)
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


# --------------------------------------------------------------------- run


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args: argparse.Namespace, work: str) -> dict:
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = deployment_env(work)
    os.environ.update(env)
    os.environ.pop("DBSURVEYOR_INDEX_DIR", None)  # no persisted index may warm a pass
    os.environ.pop("SPARK_MASTER", None)
    from dbsurveyor_spark.session import get_session

    spark = None
    try:
        spark = get_session("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        cores = int(env["SPARK_GRAFT_CPUS"])
        session_s = time.perf_counter() - T0
        wl = workloads.WORKLOADS[args.workload](work, args.seed)
        wl.setup(spark)
        inputs_s = time.perf_counter() - T0 - session_s
        rng = random.Random(args.seed)
        wl.warm_up(spark, rng)
        setup_s = time.perf_counter() - T0 - wl.verify_s

        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
            install_tracing(tracer)
        since = len(tracer.spans) if tracer else 0
        gc0 = jvm_gc_seconds(spark)
        passes: list[float] = []
        ops: list = []
        memos: list[int] = []
        while True:
            t = time.perf_counter()
            pass_ops = wl.run_pass(spark, rng, tracer.span if tracer else _no_span)
            passes.append(time.perf_counter() - t)
            memos.append(memo_entries())
            ops += pass_ops
            if len(passes) >= wl.min_passes and sum(passes) >= args.seconds:
                break
        gc_s = jvm_gc_seconds(spark) - gc0
        if tracer:
            tracer.unwrap()
        wl.verify(ops)
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        peak_rss_mb = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(jvm_pid)
    finally:
        if spark is not None:
            stop_spark(spark)

    lat = [op.seconds for op in ops]
    failed = [op for op in ops if op.error]
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "deployment": {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEMORY", "SPARK_GRAFT_DRIVER_XMS")},
        "inputs": wl.inputs,
        "setup": {"session_s": session_s, "inputs_s": inputs_s, "warmup_s": setup_s - session_s - inputs_s},
        "wall_s": _quartiles(passes),
        "op_s": _quartiles(lat),
        "ops": [[op.name, op.seconds] for op in ops],
        "fail_ratio": len(failed) / len(ops),
        "failures": [f"{op.name}: {op.error}" for op in failed][:10],
        "spark_gc_s": gc_s,
        "verify_s": wl.verify_s,
    }
    if tracer:
        metrics = traced_metrics(tracer, since, passes, cores, setup_s, gc_s, memos)
        units = dict(per_layer_names())
        spans_file = os.path.join(ROOT, ".perfbench_work", f"spans-{args.workload}-{args.seed}.jsonl")
        with open(spans_file, "w") as fh:
            for s in tracer.spans[since:]:
                fh.write(json.dumps(s.as_dict()) + "\n")
        detail["spans_file"] = os.path.relpath(spans_file, ROOT)
        detail["layer_calls"] = {k: t["calls"] for k, t in tracer.layer_totals(since).items()}
    else:
        metrics = end_to_end_metrics(setup_s, passes, lat, peak_rss_mb)
        units = dict(END_TO_END)
    detail["run_s"] = time.perf_counter() - T0
    print(json.dumps(detail))
    return result_line(ops, metrics, units)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ROOT, "dbsurveyor_spark")):
        print(f"no dbsurveyor_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
