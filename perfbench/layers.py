"""Per-layer metrics of a traced run.

:func:`install` wraps the engine's layer entry points in spans;
:func:`per_layer` turns the run's spans, the wrappers' attributes and
Spark's status store into the ``PER_LAYER`` values of ``metrics.py``.
Every metric is reported on every workload; a layer the workload does
not use reports 0.
"""

from __future__ import annotations

import os
import statistics
import time

import metrics
from spans import harvest, spark_totals


def _root_arg(op: str, args, kwargs) -> str | None:
    """The table root a publish op works on: ``publish_next(spark, df,
    root)``, ``read_current(spark, root)``."""
    if "root" in kwargs:
        return kwargs["root"]
    idx = 2 if op == "publish_next" else 1
    return args[idx] if len(args) > idx else None


class _FileLedger:
    """Files seen under each table root, so a commit's new files are the
    ones not seen before it."""

    def __init__(self):
        self.seen: dict[str, set[tuple[str, int]]] = {}

    def new_files(self, root: str) -> tuple[int, int]:
        seen = self.seen.setdefault(root, set())
        files = n_bytes = 0
        for d, _dirs, names in os.walk(root):
            for f in names:
                p = os.path.join(d, f)
                try:
                    key = (p, os.path.getsize(p))
                except FileNotFoundError:
                    continue
                if key not in seen:
                    seen.add(key)
                    files += 1
                    n_bytes += key[1]
        return files, n_bytes


def install(tracer) -> None:
    """Wrap the layer entry points the workloads reach."""
    from saas_analytics_pipeline_spark import registry, sources
    from saas_analytics_pipeline_spark.plans import publish
    from saas_analytics_pipeline_spark.quality import checks

    last: dict[tuple[str, str], object] = {}

    def on_load(span, args, kwargs, df):
        key = (args[1], args[2])
        span.attrs["hit"] = last.get(key) is df
        last[key] = df

    tracer.patch(sources, "load_table", "sources.load_table", on_load)
    tracer.patch(
        checks, "run_checks", "quality.run_checks",
        lambda s, a, k, res: s.attrs.update(checks=len(res)),
    )
    tracer.patch(
        registry.ModelRegistry, "build", "registry.build",
        lambda s, a, k, res: s.attrs.update(models=len(res)),
    )
    ledger = _FileLedger()
    for op in metrics.PUBLISH_OPS:

        def on_publish(span, args, kwargs, res, op=op):
            root = _root_arg(op, args, kwargs)
            span.attrs.update(op=op, root=root)
            if op in metrics.PUBLISH_COMMITS and root:
                span.attrs["files"], span.attrs["bytes"] = ledger.new_files(root)

        tracer.patch(publish, op, f"plans.publish.{op}", on_publish)


def disk_bytes(root: str) -> int:
    """Bytes on disk under a table root."""
    total = 0
    for d, _dirs, files in os.walk(root):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def live_files(root: str) -> list[str]:
    """Absolute paths of the data files the committed state references."""
    from saas_analytics_pipeline_spark.plans import publish as P

    m = P.current_manifest(root)
    return [os.path.join(root, f) for f in (m or {}).get("files", [])]


def reader_plan_nodes(spark, root: str) -> int:
    """Operators in the analyzed logical plan of the committed state's
    reader frame."""
    from saas_analytics_pipeline_spark.plans import publish as P

    tree = P.read_current(spark, root)._jdf.queryExecution().analyzed().treeString()
    return sum(1 for line in tree.splitlines() if line.strip())


def _descendants(spans) -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.id)
    return kids


def per_layer(tracer, spark, out) -> dict[str, float]:
    """Every ``PER_LAYER`` value for the traced run."""
    t0 = time.perf_counter()
    spans = tracer.spans
    by_id = {s.id: s for s in spans}
    kids = _descendants(spans)
    groups, stages, ran = harvest(spark)

    def subtree(sid: int) -> list[int]:
        out_ids, todo = [], [sid]
        while todo:
            i = todo.pop()
            out_ids.append(i)
            todo += kids.get(i, [])
        return out_ids

    def jobs_of(sid: int) -> list[int]:
        """Jobs of a span and every span below it."""
        return [j for i in subtree(sid) for j in groups.get(by_id[i].group, [])]

    def outermost(prefix: str) -> list:
        """Spans named ``prefix*`` with no ancestor of the same prefix."""
        found = []
        for s in spans:
            if not s.name.startswith(prefix):
                continue
            p = s.parent
            while p is not None and not by_id[p].name.startswith(prefix):
                p = by_id[p].parent
            if p is None:
                found.append(s)
        return found

    def dur(s) -> float:
        return s.end - s.start

    v: dict[str, float] = dict.fromkeys(metrics.PER_LAYER, 0.0)

    for s in outermost("session.get_spark"):
        v["session.get_spark_s"] += dur(s)
    for s in outermost("qcatalog.load_all"):
        v["qcatalog.load_all_s"] += dur(s)
    for s in outermost("qcatalog.build"):
        v["qcatalog.build_s"] += dur(s)
        v["qcatalog.build_py4j_calls"] += s.py4j_calls
    cat = out.detail.get("plan_cache_hit_ratio")
    v["qcatalog.plan_cache_hit_ratio"] = cat[0] if cat else 0.0

    loads = outermost("sources.load_table")
    v["sources.load_table_calls"] = len(loads)
    v["sources.load_table_s"] = sum(dur(s) for s in loads)
    if loads:
        v["sources.relation_cache_hit_ratio"] = sum(
            bool(s.attrs.get("hit")) for s in loads
        ) / len(loads)

    for mod in metrics.OPERATOR_MODULES:
        first = [s for s in spans if s.name == f"operators.{mod}.first"]
        keys = {s.attrs["key"] for s in first}
        builds = [
            s for s in outermost("qcatalog.build") if s.attrs.get("key") in keys
        ]
        v[f"operators.{mod}.first_s"] = sum(map(dur, first)) + sum(map(dur, builds))
        warm: dict[str, list[float]] = {}
        for s in spans:
            if s.name == f"operators.{mod}.warm":
                warm.setdefault(s.attrs["key"], []).append(dur(s))
        v[f"operators.{mod}.warm_s"] = sum(statistics.median(x) for x in warm.values())

    # the timed region: the workload minus its correctness checks
    checked = {j for s in outermost("bench.check") for j in jobs_of(s.id)}
    timed = [
        j for s in outermost("bench.workload") for j in jobs_of(s.id)
        if j not in checked
    ]
    tot = spark_totals(timed, stages, ran)
    for k in metrics.SPARK:
        if k != "core_busy_ratio":
            v[f"spark.{k}"] = tot[k]
    v["spark.core_busy_ratio"] = tot["task_run_s"] / (out.measured_s * 4)

    builds = outermost("registry.build")
    v["registry.build_s"] = sum(map(dur, builds))
    v["registry.models_built"] = sum(s.attrs.get("models", 0) for s in builds)
    checks = outermost("quality.run_checks")
    v["quality.run_checks_s"] = sum(map(dur, checks))
    v["quality.checks"] = sum(s.attrs.get("checks", 0) for s in checks)
    q = spark_totals([j for s in checks for j in jobs_of(s.id)], stages, ran)
    v["quality.jobs"] = q["jobs"]
    v["quality.input_bytes"] = q["input_bytes"]
    # the gate's freshness step (a max-timestamp query plus freshness())
    # is inline in run_gate: the time after its last DQ suite returns
    for g in outermost("ci.run_gate"):
        inner = [by_id[i] for i in kids.get(g.id, [])
                 if by_id[i].name == "quality.run_checks"]
        if inner:
            v["quality.freshness_s"] += g.end - max(s.end for s in inner)

    pub = outermost("plans.publish.")
    commits = [s for s in pub if s.attrs.get("op") in metrics.PUBLISH_COMMITS]
    reads = [s for s in pub if s.attrs.get("op") in metrics.PUBLISH_READS]
    for s in pub:
        if s.attrs.get("op") in metrics.PUBLISH_OPS:
            v[f"plans.publish.{s.attrs['op']}.s"] += dur(s)
            v[f"plans.publish.{s.attrs['op']}.calls"] += 1
    if commits:
        v["plans.publish.commit_p50_s"] = statistics.median(map(dur, commits))
        v["plans.publish.jobs_per_commit"] = sum(
            len(jobs_of(s.id)) for s in commits
        ) / len(commits)
    if reads:
        v["plans.publish.read_p50_s"] = statistics.median(map(dur, reads))
    v["plans.publish.bytes_written"] = sum(s.attrs.get("bytes", 0) for s in commits)
    v["plans.publish.files_written"] = sum(s.attrs.get("files", 0) for s in commits)
    roots = {s.attrs["root"] for s in commits if s.attrs.get("root")}
    if roots:
        live = [p for r in roots for p in live_files(r)]
        live_bytes = sum(map(os.path.getsize, live))
        v["plans.publish.write_amp"] = v["plans.publish.bytes_written"] / live_bytes
        v["plans.publish.space_amp"] = sum(map(disk_bytes, roots)) / live_bytes
        v["plans.publish.live_files"] = len(live)
        v["plans.publish.reader_plan_nodes"] = max(
            reader_plan_nodes(spark, r) for r in roots
        )

    # per-operation Spark counters go with the spans file
    for s in spans:
        if s.parent is not None and by_id[s.parent].name.startswith("bench."):
            s.attrs["spark"] = spark_totals(jobs_of(s.id), stages, ran)

    own = tracer.self_times()
    longest_first = sorted(metrics.SELF_LAYERS, key=len, reverse=True)
    for s in spans:
        layer = next((lay for lay in longest_first if s.name.startswith(lay + ".")), None)
        if layer is not None:
            v[f"self.{layer}_s"] += own[s.id]
    v["trace.spans"] = len(spans)
    tracer.tracer_s += time.perf_counter() - t0
    v["trace.tracer_s"] = tracer.tracer_s
    return v
