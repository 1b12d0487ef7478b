"""The benchmark's metric definitions: names, units, and what moves what.

``E2E`` are the end-to-end metrics every workload reports in an
untraced run, each workload with its own meaning of ``first_s`` and
``warm_s`` (README.md has the table). ``PER_LAYER`` are read from a
separate traced run; each entry names the end-to-end metric it should
move and on which workload, and a layer idle on a workload reports 0
there. ``HOST`` records the settings every run uses.
:func:`benchmark_json` writes ``BENCHMARK.json`` from these.
"""

from __future__ import annotations

# the workloads BENCHMARK.json lists: name -> why
WORKLOADS = {
    "warehouse_gate": (
        "the dbt-build-style CI gate (registry build, DQ suite, freshness) "
        "from a cold process; the only workload where DQ or registry work moves"
    ),
    "catalog_queries": (
        "10 read-only catalog keys, one per operator module (5 SaaS, 5 LLM-data), "
        "cold then warm: plan construction, first and warm execution, no commits"
    ),
}

# name -> (unit, bound): every end-to-end metric is lower-is-better. Each
# bound is the largest allowed: on the shared 4-vCPU VM the benchmark was
# tuned on, the host's speed changes in phases of tens of seconds that hit
# whole runs, and the quartile distance over the median of ten seeded runs
# of a time metric reached 0.1-0.25, so a tighter bound would flag noise.
E2E: dict[str, tuple[str, float]] = {
    "setup_s": ("s", 0.25),
    "first_s": ("s", 0.25),
    "warm_s": ("s", 0.25),
    "peak_rss_mb": ("MB", 0.25),
}

OPERATOR_MODULES = (
    "marts staging joins sessionize scd2 curation dedup corpus similarity "
    "sketches"
).split()

# the publish commits and reads the workloads reach (the registry's
# TABLE materialisations), timed as outermost calls
PUBLISH_COMMITS = ("publish_next",)
PUBLISH_READS = ("read_current",)
PUBLISH_OPS = PUBLISH_COMMITS + PUBLISH_READS

SPARK = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "task_run_s": "s",
    "task_cpu_s": "s",
    "gc_s": "s",
    "input_bytes": "bytes",
    "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "core_busy_ratio": "ratio",
}

SELF_LAYERS = (
    "session qcatalog sources operators registry quality plans.publish ci "
    "bench"
).split()

# name -> (unit, better, moves)
PER_LAYER: dict[str, tuple[str, str, str]] = {
    "session.get_spark_s": ("s", "lower", "setup_s, all workloads"),
    "qcatalog.load_all_s": ("s", "lower", "setup_s, all workloads"),
    "qcatalog.build_s": ("s", "lower", "first_s on catalog_queries"),
    "qcatalog.build_py4j_calls": ("count", "lower", "first_s on catalog_queries"),
    "qcatalog.plan_cache_hit_ratio": (
        "ratio", "higher", "warm_s on catalog_queries (expected 1.0)"),
    "sources.load_table_calls": (
        "count", "lower", "first_s on catalog_queries and warehouse_gate"),
    "sources.load_table_s": (
        "s", "lower", "first_s on catalog_queries and warehouse_gate"),
    "sources.relation_cache_hit_ratio": (
        "ratio", "higher", "first_s on catalog_queries and warehouse_gate"),
}
for _m in OPERATOR_MODULES:
    PER_LAYER[f"operators.{_m}.first_s"] = (
        "s", "lower", "first_s on catalog_queries")
    PER_LAYER[f"operators.{_m}.warm_s"] = (
        "s", "lower", "warm_s on catalog_queries")
for _k, _u in SPARK.items():
    PER_LAYER[f"spark.{_k}"] = (
        _u,
        "higher" if _k == "core_busy_ratio" else "lower",
        "first_s and warm_s, all workloads",
    )
PER_LAYER.update(
    {
        "registry.build_s": ("s", "lower", "first_s and warm_s on warehouse_gate"),
        "registry.models_built": ("count", "higher", "first_s and warm_s on warehouse_gate"),
        "quality.run_checks_s": ("s", "lower", "first_s and warm_s on warehouse_gate"),
        "quality.checks": ("count", "higher", "first_s and warm_s on warehouse_gate"),
        "quality.jobs": ("count", "lower", "first_s and warm_s on warehouse_gate"),
        "quality.input_bytes": ("bytes", "lower", "first_s and warm_s on warehouse_gate"),
        "quality.freshness_s": ("s", "lower", "first_s and warm_s on warehouse_gate"),
    }
)
for _op in PUBLISH_OPS:
    _where = "first_s and warm_s on warehouse_gate"
    PER_LAYER[f"plans.publish.{_op}.s"] = ("s", "lower", _where)
    PER_LAYER[f"plans.publish.{_op}.calls"] = ("count", "lower", _where)
_where = "first_s and warm_s on warehouse_gate"
PER_LAYER.update(
    {
        "plans.publish.commit_p50_s": ("s", "lower", _where),
        "plans.publish.read_p50_s": ("s", "lower", _where),
        "plans.publish.jobs_per_commit": ("count", "lower", _where),
        "plans.publish.bytes_written": ("bytes", "lower", _where),
        "plans.publish.files_written": ("count", "lower", _where),
        "plans.publish.write_amp": ("ratio", "lower", _where),
        "plans.publish.space_amp": ("ratio", "lower", _where),
        "plans.publish.live_files": ("count", "lower", _where),
        "plans.publish.reader_plan_nodes": ("count", "lower", _where),
    }
)
for _l in SELF_LAYERS:
    PER_LAYER[f"self.{_l}_s"] = ("s", "lower", "the end-to-end metrics of the workload")
PER_LAYER.update(
    {
        "trace.spans": ("count", "lower", "none: tracing cost"),
        "trace.tracer_s": ("s", "lower", "none: tracing cost"),
    }
)

HOST = {
    "master": "local[4]",
    "SPARK_GRAFT_CPUS": "4",
    "SPARK_DRIVER_MEMORY": "2g",
    "driver_java_options": "-Xms2g -Xmn512m -XX:+PerfDisableSharedMem",
    "SPARK_LOCAL_DIRS": "<checkout>/.perfbench_work/<run>/spark-local",
    "clients": "one client process, one thread, closed loop",
}


def benchmark_json() -> dict:
    """The ``BENCHMARK.json`` document these definitions imply."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 46,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": "lower", "bound": b}
            for n, (u, b) in E2E.items()
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": b} for n, (u, b, _) in PER_LAYER.items()
        ],
    }
