"""Spans around calls into the engine's layers, recorded from outside it.

A :class:`Tracer` keeps spans in memory (name, start, end, parent span,
run id, attributes) and writes them out when the run ends. Every span
tags the Spark jobs it submits with its own job group, so Spark's status
store attributes jobs, stages and task metrics to the innermost span.
:meth:`Tracer.patch` wraps a module-level function in a span and rebinds
every module of the package that imported it by name (``ci.py`` does
``from ...checks import run_checks``), so the wrapper sees every call.

:class:`NullTracer` is the untraced twin: the same interface, no work.
End-to-end numbers always come from runs that use it.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass, field

PACKAGE = "saas_analytics_pipeline_spark"


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    end: float = 0.0
    py4j_calls: int = 0  # inclusive of child spans
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"


class NullTracer:
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield None

    def restore(self) -> None:
        pass


class Tracer:
    """In-memory span recorder for one run."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None
        self._py4j = 0
        self._counting = True
        self._patches: list[tuple[object, str, object]] = []
        # time spent in the tracer's own code (job-group swaps, wrappers,
        # counter harvest). The whole tracing overhead also holds the
        # counted py4j sends and any effect on the engine: it is the
        # traced run's workload wall minus an untraced run's, same seed.
        self.tracer_s = 0.0

    # -- py4j command counting ------------------------------------------
    def attach(self, spark) -> None:
        """Bind to a live session: count py4j commands and tag jobs."""
        self._sc = spark.sparkContext
        client = self._sc._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            if self._counting:
                self._py4j += 1
            return send(*args, **kwargs)

        client.send_command = counted
        self._patches.append((client, "send_command", send))

    def _set_group(self, s: Span | None) -> None:
        if self._sc is None:
            return
        self._counting = False
        try:
            if s is None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            else:
                self._sc.setJobGroup(s.group, s.name)
        finally:
            self._counting = True

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, 0.0, parent.id if parent else None,
                 attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        s.py4j_calls = -self._py4j
        s.start = time.perf_counter()
        self.tracer_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.py4j_calls += self._py4j
            self._stack.pop()
            self._set_group(parent)
            self.tracer_s += time.perf_counter() - s.end

    # -- wrapping the program's functions ---------------------------------
    def wrap(self, name: str, fn: Callable, on_call: Callable | None = None):
        """``fn`` inside a span; ``on_call(span, args, kwargs, result)``
        may add attributes after each successful call, outside the span."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as s:
                out = fn(*args, **kwargs)
            if on_call is not None:
                t0 = time.perf_counter()
                on_call(s, args, kwargs, out)
                tracer.tracer_s += time.perf_counter() - t0
            return out

        return wrapper

    def patch(self, owner, attr: str, name: str, on_call: Callable | None = None):
        """Replace ``owner.attr`` with a traced wrapper, and rebind every
        module of the package that holds the same object by name."""
        orig = getattr(owner, attr)
        wrapped = self.wrap(name, orig, on_call)
        setattr(owner, attr, wrapped)
        self._patches.append((owner, attr, orig))
        for mod_name, mod in list(sys.modules.items()):
            if mod is owner or not mod_name.startswith(PACKAGE):
                continue
            if getattr(mod, attr, None) is orig:
                setattr(mod, attr, wrapped)
                self._patches.append((mod, attr, orig))
        return wrapped

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- reading the spans back --------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its child spans cover."""
        own = {s.id: s.end - s.start for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                own[s.parent] -= s.end - s.start
        return own

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "run": self.run_id,
                            "id": s.id,
                            "name": s.name,
                            "parent": s.parent,
                            "start": s.start,
                            "end": s.end,
                            "py4j_calls": s.py4j_calls,
                            **s.attrs,
                        },
                        default=str,
                    )
                    + "\n"
                )


# --------------------------------------------------------------------------
# Spark's own counters, read from the driver's status store
# --------------------------------------------------------------------------
STAGE_FIELDS = (
    "tasks",
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "output_bytes",
)


def harvest(spark) -> tuple[dict[str, list[int]], dict[int, dict], dict[int, list[int]]]:
    """Read every retained job and stage from the application status store
    (populated with ``spark.ui.enabled=false`` too).

    Returns (job group -> job ids, stage id -> summed metrics over its
    attempts, job id -> stage ids that ran in it). A stage listed by
    several jobs counts for the first of them only: later jobs skip it.
    """
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    groups: dict[str, list[int]] = {}
    job_stages: dict[int, list[int]] = {}
    it = store.jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        jid = int(j.jobId())
        grp = j.jobGroup()
        if grp.isDefined():
            groups.setdefault(str(grp.get()), []).append(jid)
        ids = str(j.stageIds().mkString(","))
        job_stages[jid] = [int(x) for x in ids.split(",") if x]
    if job_stages and len(job_stages) != max(job_stages) + 1:
        # past spark.ui.retainedJobs the store drops the oldest jobs
        raise RuntimeError(
            f"status store kept {len(job_stages)} of {max(job_stages) + 1} jobs"
        )
    stages: dict[int, dict] = {}
    empty = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    it = store.stageList(None, False, False, empty, None).iterator()
    while it.hasNext():
        s = it.next()
        m = stages.setdefault(int(s.stageId()), dict.fromkeys(STAGE_FIELDS, 0))
        m["tasks"] += int(s.numCompleteTasks()) + int(s.numFailedTasks())
        m["task_run_s"] += s.executorRunTime() / 1e3
        m["task_cpu_s"] += s.executorCpuTime() / 1e9
        m["gc_s"] += s.jvmGcTime() / 1e3
        m["input_bytes"] += int(s.inputBytes())
        m["shuffle_read_bytes"] += int(s.shuffleReadBytes())
        m["shuffle_write_bytes"] += int(s.shuffleWriteBytes())
        m["spill_bytes"] += int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled())
        m["output_bytes"] += int(s.outputBytes())
    seen: set[int] = set()
    ran: dict[int, list[int]] = {}
    for jid in sorted(job_stages):
        ran[jid] = [s for s in job_stages[jid] if s in stages and s not in seen]
        seen.update(ran[jid])
    return groups, stages, ran


def spark_totals(
    job_ids: list[int], stages: dict[int, dict], ran: dict[int, list[int]]
) -> dict[str, float]:
    """Jobs, stages that ran, and summed stage metrics for ``job_ids``."""
    out: dict[str, float] = dict.fromkeys(STAGE_FIELDS, 0)
    out["jobs"] = len(job_ids)
    out["stages"] = 0
    for j in job_ids:
        for sid in ran.get(j, []):
            m = stages[sid]
            if m["tasks"]:
                out["stages"] += 1
            for k in STAGE_FIELDS:
                out[k] += m[k]
    return out
