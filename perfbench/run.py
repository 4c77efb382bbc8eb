"""Benchmark entry point.

    python3 perfbench/run.py --workload llm_curation --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  One run is one fresh process:

1. set-up: imports, ``session.get_spark``, a first trivial job;
2. a cold pass over the workload;
3. warm passes, until ``--seconds`` of measuring have passed and the
   workload's minimum number of warm passes is done.

Outputs are checked against the DuckDB oracle between timed spans.  The
last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``.  With ``--trace 0`` the metrics
are the end-to-end ones, with ``--trace 1`` the per-layer ones (see
BENCHMARK.json); a traced run also writes its span tree to
``.perfbench/trace/``.  Everything a run writes stays under
``.perfbench/`` in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))


def parse_args(argv=None):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale", type=float, default=0.01, help="table scale factor (sf)"
    )
    return ap.parse_args(argv)


def _environment(root: str, run_dir: str) -> None:
    """Keep every file the run writes under the checkout, and give Python
    workers the engine on their path."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    # a bounded heap keeps the Spark driver's memory high-water reproducible
    # (with the engine's 16g default it read 2.4-4.6 GB across runs)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEMORY", "2g")
    # every JVM the launch starts (spark-submit's launcher too) keeps its
    # temp files here and writes no perf-data file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _session_conf(run_dir: str, trace: bool, log_dir: str) -> dict:
    conf = {
        "spark.ui.enabled": "false",
        # the heap starts at its cap and the young generation has a fixed
        # size, so the memory high-water does not depend on when G1 chose
        # to grow either; the JIT compiler threads live as long as the JVM,
        # so cpu_seconds can leave out all their time
        "spark.driver.extraJavaOptions": "-XX:-UseDynamicNumberOfCompilerThreads"
        " -Xmn512m -Xms" + os.environ["SPARK_GRAFT_DRIVER_MEMORY"],
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.sql.streaming.checkpointLocation": checkpoints(run_dir),
    }
    if trace:
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                # Spark 4.1 defaults to zstd-compressed rolling logs
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def checkpoints(run_dir: str) -> str:
    return os.path.join(run_dir, "chk")


def _rss_mb(pid: int | None) -> float:
    """Driver JVM high-water RSS plus this process's."""
    total = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    if pid:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) / 1024.0
        except OSError:
            pass
    return total


def _stop(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 - the JVM is stopped below
                pass
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _cold(spans, field: str) -> float:
    return sum(s[field] for s in spans if s["pass"] == 0)


def _warm(spans, field: str) -> float:
    """Sum over spans of each span's median across the warm passes."""
    by_key: dict[tuple, list[float]] = {}
    for s in spans:
        if s["pass"] > 0:
            by_key.setdefault((s["kind"], s["query"]), []).append(s[field])
    return sum(statistics.median(v) for v in by_key.values())


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    root = os.getcwd()
    if not (
        os.path.isfile(os.path.join(root, "__spark_entry__.py"))
        and os.path.isdir(os.path.join(root, "etl_schema_spark"))
    ):
        print("perfbench: run from the root of an etl_schema_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    import datagen
    from workloads import WORKLOADS

    work = os.path.join(root, ".perfbench")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _environment(root, run_dir)
    sf_dir = datagen.tables(os.path.join(work, "data"), args.scale)
    workload = WORKLOADS[args.workload]

    try:
        return _run(args, root, work, run_dir, sf_dir, workload)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, root, work, run_dir, sf_dir, workload) -> int:
    import datagen
    from workloads import Ctx

    log_dir = os.path.join(run_dir, "eventlog")
    spark = None
    try:
        # ---- set-up: imports, session, first trivial job
        t_setup = time.perf_counter()
        cpu_setup = time.process_time()
        import __spark_entry__  # noqa: F401
        from etl_schema_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(
            "perfbench", extra_conf=_session_conf(run_dir, args.trace == 1, log_dir)
        )
        session_start_s = time.perf_counter() - t0
        spark.range(0, 8, 1, 4).count()
        setup_wall_s = time.perf_counter() - t_setup

        from pyspark import SparkContext

        from spans import Recorder, cpu_seconds, jit_threads

        jvm_pid = getattr(SparkContext._gateway, "proc", None)
        jvm_pid = jvm_pid.pid if jvm_pid is not None else None
        if jvm_pid is None or not jit_threads(jvm_pid)[0]:
            # the CPU metrics need the driver JVM and its JIT threads in /proc
            raise RuntimeError("perfbench: no driver JVM with JIT threads to measure")
        # the JVM started inside the set-up, so all its CPU time so far is
        # set-up work
        setup_s = cpu_seconds(jvm_pid) - cpu_setup
        rec = Recorder(spark, args.trace == 1, jvm_pid)
        ctx = Ctx(spark, rec, sf_dir, run_dir, args.seed)
        t0 = time.perf_counter()
        workload.prepare(ctx)
        prepare_s = time.perf_counter() - t0
        if args.trace:
            _wrap_evolution(rec)

        # ---- measured region: cold pass, then warm passes
        t_measure = time.perf_counter()
        host0 = _host_ticks()
        p = 0
        while True:
            workload.one_pass(ctx, p)
            rec.end_pass(p, _pass_extra(ctx, rec, p))
            p += 1
            if p > workload.warm_passes and time.perf_counter() - t_measure >= args.seconds:
                break
        passes = p
        steal_frac = _steal_frac(host0, _host_ticks())
        peak_rss_mb = _rss_mb(jvm_pid)

        from etl_schema_spark.operators.cachereg import release_pins
        from etl_schema_spark.streaming.scratch import release_scratch

        release_pins()
        release_scratch()
        canary = _canary()
        if args.trace:
            rec.stream.settle()
    finally:
        if spark is not None:
            _stop(spark)

    spans = rec.spans
    cold_s, warm_s = _cold(spans, "wall_s"), _warm(spans, "wall_s")
    cold_cpu_s, warm_cpu_s = _cold(spans, "cpu_s"), _warm(spans, "cpu_s")
    correct_frac = ctx.correct / max(ctx.outputs, 1)
    failed = ctx.failed + ctx.mismatched
    ok = failed == 0 and ctx.correct == ctx.outputs and ctx.outputs > 0
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "scale": args.scale,
        "passes": passes,
        "input_bytes": datagen.input_bytes(sf_dir, workload.tables),
        "injected": getattr(ctx, "injected", None),
        "canary": canary,
        "steal_frac": steal_frac,
        "prepare_s": prepare_s,
        "run_wall_s": time.perf_counter() - T_START,
        "errors": ctx.errors[:20],
        "spans": [
            [s["pass"], s["kind"], s["query"], s["wall_s"], s["cpu_s"]] for s in spans
        ],
        "setup_s": setup_s,
        "setup_wall_s": setup_wall_s,
        "cold_s": cold_s,
        "warm_s": warm_s,
        "cold_cpu_s": cold_cpu_s,
        "warm_cpu_s": warm_cpu_s,
    }
    history = os.path.join(work, "results", f"{args.workload}.jsonl")
    if args.trace:
        from layers import artifact, per_layer

        metrics = per_layer(rec, ctx, passes, log_dir, session_start_s)
        art = artifact(rec, ctx, detail, history)
        os.makedirs(os.path.join(work, "trace"), exist_ok=True)
        path = os.path.join(work, "trace", f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump(art, f, indent=1, default=str)
        detail["trace_artifact"] = os.path.relpath(path, root)
        detail["trace_overhead"] = art["overhead"]
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "cold_cpu_s": (cold_cpu_s, "s"),
            "warm_cpu_s": (warm_cpu_s, "s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
            "correct_frac": (correct_frac, "frac"),
        }
        os.makedirs(os.path.dirname(history), exist_ok=True)
        with open(history, "a") as f:
            f.write(json.dumps(detail) + "\n")
    print(json.dumps({"detail": detail}, default=str))
    print(
        json.dumps(
            {
                "correct": ok,
                "attempted": max(ctx.attempted, 1),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def _pass_extra(ctx, rec, p: int) -> dict:
    """End-of-pass facts: bytes the pass added to scratch and streaming
    checkpoint dirs, time spent in schema evolution."""
    extra = dict(ctx.facts.get(p, {}))
    if rec.trace:
        from workloads import _du

        held = sum(_du(d)[1] for d in (os.environ["TMPDIR"], checkpoints(ctx.run_dir)))
        extra["scratch_bytes"] = held - ctx.scratch_held
        ctx.scratch_held = held
        extra["evolve_s"] = rec.timers.pop("evolve_s", 0.0)
    return extra


def _wrap_evolution(rec) -> None:
    """Time the additive-evolution calls the sinks make."""
    from etl_schema_spark import sinks

    def timed(fn):
        def inner(*a, **k):
            t0 = time.perf_counter()
            try:
                return fn(*a, **k)
            finally:
                rec.timers["evolve_s"] = rec.timers.get("evolve_s", 0.0) + (
                    time.perf_counter() - t0
                )

        return inner

    sinks.evolve_schema = timed(sinks.evolve_schema)
    sinks.reconcile_to_schema = timed(sinks.reconcile_to_schema)


def _host_ticks() -> list[int]:
    """The host's CPU ticks by state (/proc/stat), stolen ones eighth."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _steal_frac(before: list[int], after: list[int]) -> float:
    """Share of the guest's CPU time the host stole in between."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


def _canary() -> dict:
    """Host canary beside the metrics (not a metric): the engine's own two
    fixed micro-benchmarks."""
    from tools.host_canary import cpu_loop, spark_agg

    return {
        "cpu_loop_s": cpu_loop(),
        "spark_agg_s": spark_agg(),
        "load_1m": os.getloadavg()[0],
    }


if __name__ == "__main__":
    sys.exit(main())
