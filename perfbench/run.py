"""Benchmark launcher: one seeded, closed-loop, single-client workload per run.

    python3 perfbench/run.py --workload notes_sync --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The launcher builds the Spark workers'
environment (PYTHONPATH, SPARK_GRAFT_CPUS, a fresh SPARK_LOCAL_DIRS), starts
Spark through the package's own ``get_spark``, runs the workload, checks its
outputs, stops Spark and the JVM, and prints one JSON object as the last
line of standard output. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` wraps each layer's public functions, tags Spark jobs by span,
folds the uncompressed event log and reports the per-layer metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from common import RssSampler, RunContext, descendants  # noqa: E402
from tracing import Tracer, by_phase, fold_event_log  # noqa: E402

WORKLOADS = ("notes_sync", "registry")


def _workload(name: str):
    if name == "notes_sync":
        from notes import NotesSync
        return NotesSync()
    from registry import Registry
    return Registry()


def layer_units() -> dict[str, str]:
    """Every per-layer metric of every workload, with its unit. A traced run
    reports all of them; a layer its workload never calls reads 0."""
    import notes
    import registry

    return {**notes.LAYERS, **registry.LAYERS, "peak_rss_mb": "MB"}


def start_spark(ctx: RunContext):
    """The package's session factory, plus (traced runs only) an
    uncompressed, non-rolling event log."""
    from vectrekker_spark import session

    conf = {"spark.ui.showConsoleProgress": "false"}
    if ctx.tracer is not None:
        log_dir = os.path.join(ctx.work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        with ctx.tracer.span("session.get_spark"):
            spark = session.get_spark(app_name="perfbench", extra_conf=conf)
        ctx.tracer.sc = spark.sparkContext
        return spark
    return session.get_spark(app_name="perfbench", extra_conf=conf)


def stop_spark(timeout: float = 60.0) -> None:
    """Stop the session, shut the gateway JVM down and wait until every
    process this run started (JVM, Python workers) has exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=timeout)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)


def _worker_env(work: str) -> None:
    """Environment inherited by the JVM and, through it, Spark's Python
    workers: without PYTHONPATH every pandas UDF fails to import the
    package. Local dirs and temp files go under the run's own dir."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # every JVM (spark-submit's launcher and the driver): scratch files such
    # as extracted native libraries under the run's dir, no perf-data file
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    if not os.path.isfile(os.path.join(ROOT, "vectrekker_spark", "__init__.py")):
        print(f"error: no vectrekker_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _worker_env(work)
    sys.path.insert(0, ROOT)

    tracer = Tracer(run_id=f"{args.workload}-{args.seed}-{os.getpid()}") if args.trace else None
    ctx = RunContext(work=work, seed=args.seed, seconds=args.seconds, tracer=tracer)
    workload = _workload(args.workload)
    try:
        try:
            # the RSS sampler polls /proc, so it runs in traced runs only
            with RssSampler() if tracer is not None else contextlib.nullcontext() as rss:
                spark = start_spark(ctx)
                out = workload.run(ctx, spark, t_start)
        finally:
            if tracer is not None:
                tracer.unwrap_all()
            t_stop = time.perf_counter()
            stop_spark()
            print(f"run {t_stop - t_start:.1f} s, spark stop "
                  f"{time.perf_counter() - t_stop:.1f} s", file=sys.stderr)
        if tracer is not None:
            logs = [p for p in glob.glob(os.path.join(work, "eventlog", "*"))
                    if not p.endswith(".inprogress")]
            folded = {}
            for p in logs:
                with open(p, encoding="utf-8") as f:
                    folded.update(fold_event_log(f))
            measured = workload.layers(ctx, tracer, by_phase(folded), out)
            measured["peak_rss_mb"] = (rss.peak_mb, "MB")
            units = layer_units()
            unknown = sorted(set(measured) - set(units))
            if unknown:
                raise KeyError(f"per-layer metrics missing from the layer list: {unknown}")
            layers = {k: measured.get(k, (0.0, u)) for k, u in units.items()}
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            tracer.dump(os.path.join(ROOT, ".perfbench_out",
                                     f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(base) and not os.listdir(base):
            os.rmdir(base)

    metrics = layers if tracer is not None else out.metrics
    for why in out.notes:
        print(f"FAILED: {why}", file=sys.stderr)
    for line in out.details:
        print(line, file=sys.stderr)
    summary = ", ".join(
        f"{k}={v:.4g} {u}" + (f" (n={out.samples[k]})" if k in out.samples else "")
        for k, (v, u) in sorted(metrics.items())
    )
    print(f"{args.workload} seed={args.seed} attempted={out.attempted} "
          f"failed={out.failed}: {summary}")
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
