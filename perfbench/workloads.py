"""The workloads. Each runs in the calling process against a live
session and returns a :class:`Outcome`: operation counts, end-to-end
values, the workload's own detail figures, and the correctness verdict.

Timed regions hold only calls into the engine; every correctness check
runs after them. Every exception and every wrong result counts as a
failed operation, and nothing is retried.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

import gen

# one key per operator module, so each module's first and warm time is
# measured: five SaaS mart/staging keys (SQL codegen, shuffles) and five
# LLM-data keys (Python workers, explode and hash paths). They run in this
# fixed order: the first key of a process absorbs 6-10 s of JVM warm-up,
# and a seeded order moved that cost between keys and widened the spread
# of first_s from run to run.
SAAS_KEYS = (
    "q_revenue_daily q_dedup_latest q_asof_payment q_sessionize q_scd2_build"
).split()
LLM_KEYS = (
    "q_curation_pipeline q_dup_spans q_contamination "
    "q_similarity_ivf_incremental q_heavy_hitters"
).split()
# ``--seconds`` sets how much work a run measures: the cold first operation
# plus a fixed count of warm repeats sized from nominal costs on a 4-core
# host (a cold gate ~16 s, a warm one ~3.3 s; a cold pass over the mix
# ~29 s, a warm one ~7.3 s), never fewer than three so every warm median
# has three samples. A time-bounded loop would give a slower host fewer,
# earlier (less warmed) repeats and so a biased median.
def warm_repeats(seconds: float, cold_s: float, warm_s: float) -> int:
    return max(3, round((seconds - cold_s) / warm_s))


@dataclass
class Context:
    tracer: object
    seconds: float
    work: str  # scratch directory inside the checkout
    sf_dir: str  # generated source tables
    spark: object = None
    queries: dict = field(default_factory=dict)  # key -> catalog callable


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    first_s: float = 0.0
    warm_s: float = 0.0
    measured_s: float = 0.0  # wall time of the timed region
    detail: dict = field(default_factory=dict)  # name -> (value, unit)
    ops: list = field(default_factory=list)  # (kind, seconds) per timed op
    # checks the caller runs after reading the run's peak memory, so the
    # oracle's result collection does not count as the workload's
    verify: Callable[[], None] | None = None

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr)


def _exc(e: BaseException) -> str:
    return "".join(traceback.format_exception_only(type(e), e)).strip()


# --------------------------------------------------------------------------
# warehouse_gate
# --------------------------------------------------------------------------
def stage_warehouse_gate(ctx: Context) -> None:
    pass


def warehouse_gate(ctx: Context) -> Outcome:
    from saas_analytics_pipeline_spark import ci

    out = Outcome()
    times: list[float] = []
    t_start = time.perf_counter()
    for i in range(1 + warm_repeats(ctx.seconds, 16.0, 3.3)):
        wh = os.path.join(ctx.work, f"warehouse_{i}")
        out.attempted += 1
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span("ci.run_gate"):
                ok, lines = ci.run_gate(ctx.spark, ctx.sf_dir, wh)
        except Exception as e:  # the gate must never raise
            ok, lines = False, [f"raised {_exc(e)}"]
        times.append(time.perf_counter() - t0)
        out.ops.append(("gate", times[-1]))
        if not ok:
            out.fail(f"gate {i} RED: " + "; ".join(
                ln for ln in lines if not ln.startswith("pass")))
    out.measured_s = time.perf_counter() - t_start
    out.first_s = times[0]
    out.warm_s = statistics.median(times[1:])
    out.detail = {
        "gate_first_s": (times[0], "s"),
        "gate_warm_s": (out.warm_s, "s"),
        "gate_warm_samples": (len(times) - 1, "count"),
    }
    return out


# --------------------------------------------------------------------------
# catalog_queries
# --------------------------------------------------------------------------
def stage_catalog_queries(ctx: Context) -> None:
    from saas_analytics_pipeline_spark import qcatalog

    ctx.queries = qcatalog.spark_queries()


def _module_of(key: str) -> str:
    from saas_analytics_pipeline_spark import qcatalog

    return qcatalog.QUERIES[key].fn.__module__.rsplit(".", 1)[-1]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def catalog_queries(ctx: Context) -> Outcome:
    out = Outcome()
    mix = SAAS_KEYS + LLM_KEYS
    frames: dict[str, object] = {}
    first: dict[str, float] = {}
    warm: dict[str, list[float]] = {k: [] for k in mix}
    hits = lookups = 0
    t_start = time.perf_counter()
    for key in mix:
        mod = _module_of(key)
        out.attempted += 1
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span("qcatalog.build", key=key, module=mod):
                df = ctx.queries[key](ctx.spark, ctx.sf_dir)
            t1 = time.perf_counter()
            with ctx.tracer.span(f"operators.{mod}.first", key=key):
                _noop(df)
        except Exception as e:
            out.fail(f"{key} first: {_exc(e)}")
            continue
        t2 = time.perf_counter()
        frames[key] = df
        first[key] = t2 - t0
        out.ops.append((f"{key}.build", t1 - t0))
        out.ops.append((f"{key}.first", t2 - t1))
    passes = warm_repeats(ctx.seconds, 29.0, 7.3)
    broken: set[str] = set()
    for _ in range(passes):
        for key in mix:
            if key not in frames or key in broken:
                continue
            mod = _module_of(key)
            out.attempted += 1
            t0 = time.perf_counter()
            try:
                with ctx.tracer.span(f"operators.{mod}.warm", key=key):
                    df = ctx.queries[key](ctx.spark, ctx.sf_dir)
                    _noop(df)
            except Exception as e:
                out.fail(f"{key} warm: {_exc(e)}")
                broken.add(key)
                continue
            warm[key].append(time.perf_counter() - t0)
            out.ops.append((f"{key}.warm", warm[key][-1]))
            lookups += 1
            hits += df is frames[key]

    out.measured_s = time.perf_counter() - t_start

    def verify() -> None:
        """Every key against its oracle, outside the timed region."""
        con = open_oracle(ctx.sf_dir)
        for key in mix:
            out.attempted += 1
            if key not in frames:
                out.fail(f"{key} check: no result")
                continue
            problem = check_against_oracle(con, key, frames[key])
            if problem:
                out.fail(f"{key} check: {problem}")

    out.verify = verify

    warm_med = {k: statistics.median(v) for k, v in warm.items() if v}
    out.first_s = sum(first.values())
    out.warm_s = sum(warm_med.values())
    out.detail = {
        "query_first_s": (out.first_s, "s"),
        "query_warm_s": (out.warm_s, "s"),
        "warm_passes": (passes, "count"),
        "plan_cache_hit_ratio": (hits / lookups if lookups else 0.0, "ratio"),
    }
    for key in mix:
        out.detail[f"{key}.first_s"] = (first.get(key, 0.0), "s")
        out.detail[f"{key}.warm_s"] = (warm_med.get(key, 0.0), "s")
    return out


def open_oracle(sf_dir: str):
    """A DuckDB connection with a view per generated source table."""
    import duckdb

    con = duckdb.connect()
    for t in gen.TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def check_against_oracle(con, key: str, df) -> str | None:
    """Compare a key's rows with its DuckDB oracle over the same generated
    inputs, cells normalised as tools/selfcheck.py does. Returns a problem
    description, or None when they match."""
    from saas_analytics_pipeline_spark import qcatalog

    sql = qcatalog.QUERIES[key].oracle
    if sql is None:
        return "no oracle"
    try:
        s_rows = [tuple(r) for r in df.collect()]
        cur = con.execute(sql)
        d_cols = [d[0] for d in cur.description]
        d_rows = cur.fetchall()
    except Exception as e:
        return _exc(e)
    return compare_rows(df.columns, s_rows, d_cols, d_rows)


def compare_rows(s_cols, s_rows, d_cols, d_rows) -> str | None:
    """Row count, column names and the order-insensitive cell multiset."""
    import selfcheck

    if len(s_rows) != len(d_rows):
        return f"rowcount {len(s_rows)} != oracle {len(d_rows)}"
    if sorted(s_cols) != sorted(d_cols):
        return f"columns {sorted(s_cols)} != oracle {sorted(d_cols)}"
    a = selfcheck.frame_to_multiset(list(s_cols), s_rows)
    b = selfcheck.frame_to_multiset(list(d_cols), d_rows)
    if a != b:
        diff = [(x, y) for x, y in zip(a, b) if x != y][:2]
        return f"values differ, first diffs {diff}"
    return None


RUNNERS = {
    "warehouse_gate": (stage_warehouse_gate, warehouse_gate),
    "catalog_queries": (stage_catalog_queries, catalog_queries),
}
