"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One run is one Spark application on
``local[<nproc>]``, driven from this process through the engine's
public functions. It sets up (session, seeded inputs, any seeded store,
warm-up), repeats the workload's unit of work until ``--seconds`` have
passed, checks the outputs, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, measured with tracing
off. ``--trace 1`` alternates untraced and traced units and reports the
per-layer metrics of the traced ones. Either way the span record is
written to ``perfbench/.work/trace-<workload>-s<seed>-t<trace>.json``.
The exit code is 0 only when every check passed and no operation
failed.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

from suite import OperatorSuite
from workloads import TierBuild

from spans import RssSampler, Tracer

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
WORKLOADS = {"tier_build": TierBuild, "operator_suite": OperatorSuite}

# set-up is repeated this many times per run; setup_s takes the median
SETUP_REPEATS = 3
# a run, set-up included, must end within 180 s
DEADLINE_S = 170


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(work: Path) -> None:
    """Keep every file Spark, py4j and the Python workers write inside
    the checkout, and let the workers import the engine."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE), os.environ.get("PYTHONPATH", "")]
    ).rstrip(os.pathsep)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SMOS_SPARK_DRIVER_MEM"] = "2g"
    # every JVM, the spark-submit launcher too: temp files in the work
    # dir, and no hsperfdata file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # naive datetimes the benchmark passes to the engine are UTC
    os.environ["TZ"] = "UTC"
    time.tzset()
    import tempfile

    tempfile.tempdir = str(tmp)
    for p in (str(ROOT), str(HERE)):
        if p not in sys.path:
            sys.path.insert(0, p)


def start_spark(master: str, work: Path):
    from smos_spark.session import get_spark

    return get_spark(
        master=master,
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": str(work / "spark-local"),
            "spark.ui.showConsoleProgress": "false",
            # keep every job, stage and SQL execution of a run for the
            # after-the-fact layer split
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.sql.ui.retainedExecutions": "1000000",
            "spark.ui.retainedDeadExecutors": "1000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit (the
    Python workers are the JVM's children and exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


UNITS = {
    "wall_s": "s",
    "driver_s": "s",
    "exec_cpu_s": "s",
    "gc_s": "s",
    "python_s": "s",
    "jobs": "count",
    "scan_files": "count",
}


def per_layer_names() -> list[tuple[str, str, str]]:
    """Every per-layer metric as (name, unit, better). Every workload
    reports all of them; a phase the workload does not run reads 0."""
    out = []
    for wl in WORKLOADS.values():
        for phase, keys in wl.phases.items():
            out += [(f"{phase}.{k}", UNITS.get(k, "bytes"), "lower") for k in keys]
        out += wl.layer_extra_names
    return out + [
        ("peak_rss_mb", "MB", "lower"),
        ("trace.overhead_s", "s", "lower"),
        ("trace.phase_cover", "ratio", "higher"),
    ]


END_TO_END = (("setup_s", "s"), ("op_s_p50", "s"), ("rows_per_s", "1/s"))


def timed_loop(wl, tracer, seconds: float, trace: bool) -> dict:
    """Run units until `seconds` have passed and the workload's minimum
    is met; with tracing on, at least two: odd units are traced and
    even ones are not, so both are measured in one run."""
    min_units = max(wl.min_units, 2 if trace else 1)
    walls, rows, failed = [], [], 0
    t0 = time.time()
    i = 0
    with tracer.span("timed"):
        while True:
            traced = trace and i % 2 == 1
            if hasattr(wl, "reset"):
                wl.reset()
            u0 = time.time()
            try:
                with tracer.span(wl.unit_name, traced=traced):
                    n = wl.unit(i, tracer, traced)
            except Exception as e:  # a failed op is counted, the run goes on
                failed += 1
                n = 0
                print(f"perfbench: unit {i} failed: {e!r}", file=sys.stderr)
            walls.append((time.time() - u0, traced))
            rows.append(n)
            i += 1
            if time.time() - t0 >= seconds and i >= min_units:
                break
    return {"walls": walls, "rows": rows, "failed": failed, "wall": time.time() - t0}


def run(args) -> dict:
    wl_cls = WORKLOADS[args.workload]
    work = WORK / f"{args.workload}-{os.getpid()}"
    master = f"local[{nproc()}]"
    t0 = time.time()
    spark = start_spark(master, work)
    session_s = time.time() - t0
    spark_version = spark.version
    try:
        wl = wl_cls(spark, work, args.seed, args.scale)
        prep = []
        for k in range(SETUP_REPEATS):
            t = time.time()
            wl.prepare(k)
            prep.append(time.time() - t)
        t = time.time()
        wl.warmup()
        warm_s = time.time() - t
        setup_s = session_s + statistics.median(prep) + warm_s

        tracer = Tracer(spark, f"{args.workload}-s{args.seed}")
        from pyspark import SparkContext

        jvm_proc = getattr(SparkContext._gateway, "proc", None)
        rss = RssSampler(jvm_proc.pid if jvm_proc else None) if args.trace else None
        with rss or contextlib.nullcontext():
            loop = timed_loop(wl, tracer, args.seconds, args.trace == 1)
        errors = wl.check()
        extra_layer = {}
        if args.trace == 1:
            tracer.collect()
            extra_layer = wl.layer_extras(tracer)
            if hasattr(wl, "local1"):
                spark.stop()  # a new context in the same, warm JVM
                spark = start_spark("local[1]", work)
                extra_layer["build.turns_per_s_local1"] = wl.local1(spark)
    finally:
        stop_spark(spark)

    walls = [w for w, _ in loop["walls"]]
    ok_walls = [w for (w, _), n in zip(loop["walls"], loop["rows"]) if n]
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "master": master,
        "cpus": nproc(),
        "spark": spark_version,
        "python": platform.python_version(),
        "inputs": wl.input_stats,
        "setup": {"session_s": session_s, "prepare_s": prep, "warmup_s": warm_s},
        "units": len(walls),
        "unit_walls_s": walls,
        "checks_failed": errors,
    }
    if args.trace == 0:
        op_s = statistics.median(ok_walls or walls)
        # every unit of a workload consumes the same rows
        metrics = {"setup_s": setup_s, "op_s_p50": op_s, "rows_per_s": max(loop["rows"]) / op_s}
        units = dict(END_TO_END)
    else:
        metrics = layer_metrics(wl, tracer, loop, rss.peak_mb, extra_layer)
        units = {n: u for n, u, _ in per_layer_names()}
    tracer.dump(
        WORK / f"trace-{args.workload}-s{args.seed}-t{args.trace}.json",
        {**info, "metrics": metrics},
    )
    for e in errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    print(json.dumps(info), file=sys.stderr)
    return {
        "correct": not errors and loop["failed"] == 0,
        "attempted": len(walls),
        "failed": loop["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def layer_metrics(wl, tracer, loop, peak_mb: float, extra: dict) -> dict:
    out = {name: 0.0 for name, _, _ in per_layer_names()}
    for phase, keys in wl.phases.items():
        med = tracer.phase_medians(phase)
        for k in keys:
            out[f"{phase}.{k}"] = med.get(k, 0.0)
    out.update(extra)
    traced = [w for w, t in loop["walls"] if t]
    plain = [w for w, t in loop["walls"] if not t]
    out["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)
    unit_s = sum(tracer.traced_walls(wl.unit_name))
    phase_s = sum(sum(tracer.traced_walls(p)) for p in wl.phases)
    out["trace.phase_cover"] = phase_s / unit_s if unit_s else 0.0
    out["peak_rss_mb"] = peak_mb
    return out


class Deadline(BaseException):
    """Raised by SIGALRM. A BaseException, so that the per-operation
    ``except Exception`` handlers that count failures cannot absorb it."""


def _deadline(signum, frame):
    raise Deadline(f"run exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument(
        "--workload",
        required=True,
        choices=sorted(WORKLOADS),
    )
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument(
        "--scale",
        choices=["full", "tiny"],
        default="full",
        help="input size; 'tiny' is for the smoke tests only",
    )
    args = ap.parse_args(argv)

    work = WORK / f"{args.workload}-{os.getpid()}"
    _prepare_env(work)
    import smos_spark  # noqa: F401  (no engine, no run)

    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    try:
        result = run(args)
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
