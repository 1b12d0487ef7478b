"""The repository's benchmark: one workload per process, one JSON line out.

Run from the root of a checkout:

    python3 perfbench/run.py --workload warehouse_gate --seed 1 --seconds 46 --trace 0

Workloads: ``warehouse_gate`` and ``catalog_queries`` (see
``metrics.py``). Inputs are generated from ``--seed`` inside the
checkout; the run measures for about ``--seconds`` after set-up, checks
every output, and prints a readable report followed by one JSON object
as the last line of stdout. With ``--trace 0`` the JSON holds the
end-to-end metrics; with ``--trace 1`` it holds the per-layer metrics of
a traced run and the spans go to ``<checkout>/.perfbench_work/``.

Exits non-zero, printing no result, when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def process_age_s() -> float:
    """Seconds since this process was started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host_env(work: str) -> None:
    """Pin the host settings every run uses; nothing is written outside
    the checkout (Spark's local dirs, temp files and scratch all live in
    the run's work directory)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": "4",
            "SPARK_DRIVER_MEMORY": "2g",
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "SPARK_GRAFT_SCRATCH": os.path.join(work, "scratch"),
            "TMPDIR": tmp,
            # neither the launcher JVM nor the driver JVM writes an
            # hsperfdata file to the system temp dir
            "SPARK_LAUNCHER_OPTS": f"-XX:+PerfDisableSharedMem -Djava.io.tmpdir={tmp}",
            # the driver heap is fixed at 2 GB with a 512 MB young
            # generation: left to grow on its own, G1 sizes the heap from
            # GC timings and peak RSS varied by a fifth between runs
            "PYSPARK_SUBMIT_ARGS": (
                "--driver-java-options '-Xms2g -Xmn512m -XX:+PerfDisableSharedMem "
                f"-Djava.io.tmpdir={tmp}' pyspark-shell"
            ),
        }
    )
    os.makedirs(os.environ["SPARK_GRAFT_SCRATCH"], mode=0o700, exist_ok=True)
    import tempfile

    tempfile.tempdir = tmp


# logged (not raised) by Spark's scheduler; each line counts as a failure
JVM_ERRORS = ("attempted to access non-existent accumulator",)


class StderrLog:
    """Route file descriptor 2, and with it the driver JVM's log, to a
    file while the run lasts; :meth:`close` copies the file back to the
    real stderr and returns its text for scanning."""

    def __init__(self, path: str):
        self.path = path
        sys.stderr.flush()
        self._saved = os.dup(2)
        fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o600)
        os.dup2(fd, 2)
        os.close(fd)

    def close(self) -> str:
        sys.stderr.flush()
        os.dup2(self._saved, 2)
        os.close(self._saved)
        with open(self.path, errors="replace") as f:
            text = f.read()
        sys.stderr.write(text)
        sys.stderr.flush()
        return text


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM for the driver JVM")


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    try:
        import metrics
        import workloads
        import saas_analytics_pipeline_spark  # noqa: F401
        import selfcheck  # noqa: F401  (the oracle cell normalisation)
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.RUNNERS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    work = os.path.join(WORK_ROOT, run_id)
    os.makedirs(work, exist_ok=True)
    host_env(work)
    log = StderrLog(os.path.join(work, "stderr.log"))
    try:
        return run(args, run_id, work, metrics, workloads, log)
    finally:
        log.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass


def run(args, run_id: str, work: str, metrics, workloads, log: StderrLog) -> int:
    import gen
    import layers
    from spans import NullTracer, Tracer

    tracer = Tracer(run_id) if args.trace else NullTracer()
    stage, body = workloads.RUNNERS[args.workload]
    ctx = workloads.Context(
        tracer=tracer,
        seconds=args.seconds,
        work=work,
        sf_dir=os.path.join(work, "sf"),
    )
    # the inputs are the benchmark's own work: generated first and left
    # out of setup_s, which is the program's set-up only
    t0 = time.perf_counter()
    with tracer.span("bench.gen_inputs"):
        gen.write_sources(args.seed, gen.SCALE, ctx.sf_dir)
    gen_s = time.perf_counter() - t0

    # -- set-up: session, catalog -------------------------------------------
    with tracer.span("session.get_spark"):
        from saas_analytics_pipeline_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}")
    try:
        if args.trace:
            tracer.attach(spark)
        with tracer.span("qcatalog.load_all"):
            from saas_analytics_pipeline_spark import qcatalog

            qcatalog.load_all()
        if args.trace:
            layers.install(tracer)
        ctx.spark = spark
        with tracer.span("bench.stage"):
            stage(ctx)
        setup_s = process_age_s() - gen_s

        # -- the measured workload ------------------------------------------
        t0 = time.perf_counter()
        with tracer.span("bench.workload"):
            out = body(ctx)
        wall = time.perf_counter() - t0
        peak_rss = (
            jvm_peak_rss_mb(spark)
            + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        )
        if out.verify is not None:
            with tracer.span("bench.check"):
                out.verify()
        layer_values = {}
        if args.trace:
            tracer.restore()
            layer_values = layers.per_layer(tracer, spark, out)
            tracer.write(os.path.join(WORK_ROOT, f"{run_id}.spans.jsonl"))
    finally:
        tracer.restore()
        stop_spark(spark)
    with open(log.path, errors="replace") as f:
        logged = [ln.strip() for ln in f if any(e in ln for e in JVM_ERRORS)]
    for line in logged:
        out.fail(f"driver log: {line}")

    failed_frac = out.failed / out.attempted if out.attempted else 1.0
    e2e = {
        "setup_s": setup_s,
        "first_s": out.first_s,
        "warm_s": out.warm_s,
        "peak_rss_mb": peak_rss,
    }
    print(f"# perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"wall={wall:.3f}s attempted={out.attempted} failed={out.failed}")
    print("# ops " + " ".join(f"{kind}={secs:.3f}" for kind, secs in out.ops))
    for name, value in e2e.items():
        print(f"{name} {value:.6g} {metrics.E2E[name][0]}")
    print(f"failed_frac {failed_frac:.6g} ratio")
    for name, (value, unit) in out.detail.items():
        print(f"{name} {value:.6g} {unit}")
    if args.trace:
        for name, value in layer_values.items():
            print(f"{name} {value:.6g} {metrics.PER_LAYER[name][0]}")
    chosen = layer_values if args.trace else e2e
    units = (
        {n: u for n, (u, _b, _m) in metrics.PER_LAYER.items()}
        if args.trace
        else {n: u for n, (u, _b) in metrics.E2E.items()}
    )
    print(
        json.dumps(
            {
                "correct": out.failed == 0,
                "attempted": out.attempted,
                "failed": out.failed,
                "metrics": {
                    n: {"value": v, "unit": units[n]} for n, v in chosen.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
