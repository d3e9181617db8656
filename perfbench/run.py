"""Standing benchmark for songs_etl_spark: registry queries and the daily star
pipeline, end to end and per layer.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Works from any directory. All state (generated inputs, Spark scratch space,
the warehouse, results and span dumps) lives under ``.perfbench/`` at the
repository root.

A run generates its inputs from the seed (cached by seed and size), sets up a
Spark session, then runs timed passes: at least three, and until
``--seconds`` have passed. The first pass runs on a cold JVM and checks
every output, outside the timed intervals. With ``--trace 0`` it reports the
end-to-end metrics; with ``--trace 1`` it alternates plain and traced passes
and reports the per-layer metrics. Metric names and units come from
``BENCHMARK.json``.
The last line of stdout is one JSON object: correct, attempted, failed,
metrics. Exit code: 0 if every operation and check passed, 1 if any failed,
2 if the benchmark could not run at all (no result line then).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import probes  # noqa: E402
from workloads import WORKLOADS, Context, median  # noqa: E402

#: Sizing overrides the program reads from the environment. Unset, so every
#: commit runs with its own host-derived defaults.
UNPINNED = (
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_STATE_STORE",
    "SPARK_GRAFT_SF_DIR",
)


#: Passes a plain run makes at the least; it goes on until ``--seconds`` have
#: passed too. The first pass runs on a cold JVM, as every run of the daily
#: job does. Three passes take about 40 s on a 4-core host, longer than
#: ``run_seconds`` (10), so every plain run makes exactly three and ``wall_s``
#: is always the mean over the same cold pass and two warm ones.
MIN_PASSES = 3


def since_process_start() -> float:
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def pin_environment(work_dir: str) -> None:
    """Keep every file the run writes inside the checkout, and give Spark's
    Python workers the repository on their import path."""
    for key in UNPINNED:
        os.environ.pop(key, None)
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(os.path.join(tmp, "spark-local"), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    path = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(path)
    sys.path.insert(0, ROOT)
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    os.chdir(work_dir)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def environment(spark) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    return {
        "master": spark.sparkContext.master,
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory", "default"),
        "nproc": os.cpu_count(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "java": next((ln for ln in java.splitlines() if "version" in ln), ""),
    }


def shutdown(spark) -> None:
    """Stop Spark, close the JVM and wait until it and every process it
    started have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = probes.descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while True:
        alive = [p for p in children if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.monotonic() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 20
        time.sleep(0.05)


def spark_layers(ctx: Context, traced: list[dict]) -> dict[str, float]:
    cores = ctx.spark.sparkContext.defaultParallelism
    per_pass = []
    for p in traced:
        totals = ctx.counters.totals(*p["jobs_range"])
        totals["core_util"] = totals["task_run_s"] / (p["wall_s"] * cores)
        per_pass.append(totals)
    return {f"spark.{k}": median(p[k] for p in per_pass) for k in per_pass[0]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = load_spec()
    if not os.path.isdir(os.path.join(ROOT, "songs_etl_spark")):
        print(f"perfbench: no songs_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    tag = f"{workload.name}-seed{args.seed}-trace{args.trace}"
    work_dir = os.path.join(STATE, "work", tag)
    pin_environment(work_dir)

    # Inputs: generated from the seed, cached by (seed, size), outside every
    # measured interval.
    t = time.perf_counter()
    inputs = workload.inputs(os.path.join(STATE, "cache"), args.seed)
    gen_s = time.perf_counter() - t

    # Set-up: program imports, session, one small job.
    t = time.perf_counter()
    import songs_etl_spark.plans  # noqa: F401
    from songs_etl_spark.session import get_spark

    import_s = time.perf_counter() - t
    t = time.perf_counter()
    spark = get_spark(f"perfbench-{workload.name}")
    get_spark_s = time.perf_counter() - t
    t = time.perf_counter()
    spark.range(200_000).selectExpr("sum(id)").collect()
    warmup_s = time.perf_counter() - t
    setup_s = since_process_start() - gen_s

    ctx = Context(spark, work_dir)
    report: dict = {"workload": workload.name, "seed": args.seed, "trace": args.trace}
    patches = probes.Patches()
    try:
        report["env"] = environment(spark)
        if args.trace:
            workload.patch(ctx, patches)
            calib = ctx.counters.calibrate(spark, os.path.join(work_dir, "calibration"))
            report["counter_calibration"] = calib
            report["untrusted_counters"] = [k for k in probes.MUST_MOVE if not calib[k] > 0]

        # Passes. The first one is cold and checks every output; the checks
        # are left out of each pass's wall time. A plain run makes at least
        # MIN_PASSES, a traced run continues after the cold pass with traced
        # (T) and plain (P) passes in T P P T blocks, so a run that is still
        # warming up does not bias the tracing overhead. Both go on until
        # --seconds have passed.
        passes: list[dict] = []
        start = time.perf_counter()
        while True:
            n = len(passes)
            ctx.traced = bool(args.trace) and n > 0 and (n - 1) % 4 in (0, 3)
            ctx.tracer.run_id = f"pass{n}"
            # Traced passes are not checked: their Spark counters cover the
            # program's jobs only.
            check = n == 0 or (workload.check_every_pass and not ctx.traced)
            result = workload.run_pass(ctx, inputs, check)
            result.update(traced=ctx.traced, cold=n == 0, run_id=ctx.tracer.run_id)
            passes.append(result)
            ctx.traced = False
            if args.trace:
                done = n >= 4 and n % 4 == 0
            else:
                done = n + 1 >= MIN_PASSES
            if done and time.perf_counter() - start >= args.seconds:
                break
        if args.trace:
            report["spark_layers"] = spark_layers(ctx, [p for p in passes if p["traced"]])
        peak_rss_mb = probes.peak_rss_mb(os.getpid())
    finally:
        patches.undo()
        shutdown(spark)
        os.chdir(STATE)
        shutil.rmtree(work_dir, ignore_errors=True)

    plain = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    wall_s = statistics.fmean(p["wall_s"] for p in plain)
    values: dict[str, float] = {"setup_s": setup_s, "wall_s": wall_s, "peak_rss_mb": peak_rss_mb}
    if traced:
        warm_plain = median(p["wall_s"] for p in plain if not p["cold"])
        values.update(
            {
                "session.import_s": import_s,
                "session.get_spark_s": get_spark_s,
                "session.warmup_s": warmup_s,
                "trace.overhead_s": median(p["wall_s"] for p in traced) - warm_plain,
            }
        )
        values.update(workload.layer_metrics(ctx, traced))
        values.update(report.pop("spark_layers", {}))
    report.update(
        gen_s=gen_s,
        inputs={k: v for k, v in inputs.items() if k != "dim_user"},
        setup={"import_s": import_s, "get_spark_s": get_spark_s, "warmup_s": warmup_s},
        passes=passes,
        errors=ctx.errors,
        values=values,
    )
    ctx.tracer.dump(os.path.join(STATE, "traces", f"{tag}.json"))

    section = "per_layer" if args.trace else "end_to_end"
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in spec[section]
    }
    error_rate = ctx.failed / ctx.attempted if ctx.attempted else 1.0
    stored = [p["stored_bytes_ratio"] for p in passes if "stored_bytes_ratio" in p]
    summary = (
        f"{workload.name}: setup_s={setup_s:.3f} s  wall_s={wall_s:.3f} s "
        f"(mean of {len(plain)} passes, the first cold)  error_rate={error_rate:.4f} "
        f"({ctx.failed}/{ctx.attempted})  peak_rss_mb={peak_rss_mb:.1f} MB"
    )
    if stored:
        summary += f"  stored_bytes_ratio={median(stored):.4f}"
    print(f"inputs: generated or loaded in {gen_s:.2f} s (not a metric)")
    print("env: " + json.dumps(report["env"]))
    for err in ctx.errors[:20]:
        print("FAILED " + err)
    print(summary)
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    with open(os.path.join(STATE, "results", f"{tag}.json"), "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    print(
        json.dumps(
            {
                "correct": ctx.failed == 0,
                "attempted": ctx.attempted,
                "failed": ctx.failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if ctx.failed == 0 else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:
        traceback.print_exc()
        sys.exit(2)
