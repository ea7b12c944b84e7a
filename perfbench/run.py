"""Seeded kgspark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload construct --seed 1 --seconds 5 --trace 0

Run from the root of a source checkout. It starts Spark on
``local[nproc]`` with nproc shuffle partitions, sets the workload up,
measures whole passes until ``--seconds`` have elapsed (at least one),
checks every output, and prints as its last stdout line one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``. End-to-end times are scaled to a reference
box speed (see runner.py). The line before it is a JSON ``context``
record (box calibration, unscaled metrics and samples, set-up breakdown,
gate details). Everything
the run writes stays under ``.bench_work/`` in the checkout; traced
runs leave their spans in ``.bench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".bench_work"

# every layer a span can be attributed to (modules of kgspark)
LAYERS = [
    "extract", "linking", "cc", "rdf_build", "graph_build", "sources", "pipeline",
    "fulltext", "kg_queries", "nl_router", "nl_batch", "dedup", "textops", "similarity",
]


WORKLOADS = ["construct", "dedup"]


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument(
        "--smoke", action="store_true",
        help="run every workload and its gates once, on small inputs, in one session",
    )
    args = ap.parse_args(argv)
    if args.smoke:
        args.seed = 1 if args.seed is None else args.seed
        args.seconds, args.trace = 0.0, 0
    elif args.workload is None or args.seed is None or args.seconds is None:
        ap.error("--workload, --seed and --seconds are required (or pass --smoke)")
    return args


def scoped_env(run_dir: Path) -> None:
    """Keep Spark, its JVM and its Python workers inside the checkout,
    and let the workers import kgspark from it whatever the cwd is."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["KGSPARK_LOCAL_DIR"] = str(run_dir / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the inputs are a few MB; a small heap keeps the shared box's memory
    # free and the JVM's resident size steadier between runs
    os.environ.setdefault("KGSPARK_DRIVER_MEM", "1g")
    sys.path.insert(0, str(ROOT))


def warm_up(spark) -> None:
    """Start the Python workers and the Arrow/UDF path once."""
    from pyspark.sql import functions as F

    from kgspark.functions.textfns import slugify_udf

    spark.range(2000).select(slugify_udf(F.col("id").cast("string"))).collect()


def spark_job_ms(spark, nproc: int) -> float:
    """bench.py's per-job calibration: median wall of a trivial
    nproc-task count (three of them; bench.py takes five)."""
    noop = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(1_000_000, numPartitions=nproc).count()
        noop.append(time.perf_counter() - t0)
    return statistics.median(noop) * 1000.0


def stop_spark(spark) -> None:
    """Stop Spark, then the JVM, then wait for every process they left."""
    from pyspark import SparkContext

    from perfbench.tracing import descendants

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # Spark's Python workers are the JVM's children; they exit on their
    # own once it is gone, and are killed if they linger
    for sig_after in (20, 10):
        deadline = time.time() + sig_after
        while descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.2)
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def run_workload(spark, name: str, args, sizes, run_dir: Path, session: tuple, units: dict):
    """Set one workload up, measure it, and return (context, metrics, runner)."""
    from perfbench.construct import Construct
    from perfbench.dedup_wl import Dedup
    from perfbench.runner import Runner
    from perfbench.tracing import Tracer

    nproc = int(spark.conf.get("spark.sql.shuffle.partitions"))
    wl = {"construct": Construct, "dedup": Dedup}[name](spark, str(run_dir), args.seed, nproc, sizes)
    # set up three times (inputs are a function of the seed, so each
    # repeat rebuilds the same tables) and keep the median
    gen = []
    for _ in range(3):
        t0 = time.perf_counter()
        wl.setup()
        gen.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    warm_up(spark)
    warm_s = time.perf_counter() - t0

    tracer = Tracer(spark.sparkContext) if args.trace else None
    r = Runner(spark, tracer)
    session_s, start_mops = session
    r.mops.insert(0, start_mops)
    t_start = time.perf_counter()
    while True:
        wl.run_pass(r, keep=bool(args.trace))
        if args.trace or time.perf_counter() - t_start >= args.seconds:
            break
    measured_s = time.perf_counter() - t_start

    if args.trace:
        metrics = wl.pass_metrics(r)
        for k in ("jobs", "stages", "tasks", "failed_tasks"):
            metrics[f"spark.{k}"] = sum(getattr(sp, k) for _, sp in r.spans)
        metrics.update(wl.attribute(r))
        metrics.update(tracer.layer_totals(LAYERS))
        metrics["trace.docs_per_s"] = to_reference(wl.e2e(r), r.mops)["docs_per_s"]
        metrics["runtime.persisted_rdds_after"] = r.persist_leak
        metrics["runtime.released"] = r.released
        # layers this workload never calls read 0 (nothing ran there)
        for k in units:
            if k.split(".")[0] in LAYERS and k.split(".")[0] not in wl.layers:
                metrics.setdefault(k, 0.0)
    else:
        raw = wl.e2e(r)
        raw["setup_s"] = session_s + statistics.median(gen) + warm_s
        metrics = to_reference(raw, r.mops)
    calib = {"cpu_mops": statistics.harmonic_mean(r.mops), "spark_job_ms": spark_job_ms(spark, nproc)}
    if args.trace:
        metrics["calib.cpu_mops"] = calib["cpu_mops"]
        metrics["calib.spark_job_ms"] = calib["spark_job_ms"]
        path = WORK / "traces" / f"{name}-seed{args.seed}-{tracer.trace_id}.json"
        tracer.write(str(path))
    context = {
        "workload": name, "seed": args.seed, "trace": args.trace, "nproc": nproc,
        "spark_version": spark.version, "calib": calib,
        "cpu_mops_samples": r.mops,
        "setup": {"session_s": session_s, "inputs_s": gen, "warm_s": warm_s},
        "measured_s": measured_s, "samples": r.samples, "problems": r.problems,
        "gates": wl.context,
    }
    if args.trace:
        context["trace_file"] = str(path.relative_to(ROOT))
    else:
        context["unscaled"] = raw
    return context, metrics, r


def to_reference(metrics: dict, mops: list[float]) -> dict:
    """Scale times and rates to a box running the calibration loop at
    REF_MOPS (runner.py): t_ref = t * mops / REF_MOPS, with mops the
    loop's speed over all of the run's samples (equal iteration counts,
    so their harmonic mean). Other units (MB) pass through."""
    from perfbench.runner import REF_MOPS

    f = statistics.harmonic_mean(mops) / REF_MOPS
    out = {}
    for k, v in metrics.items():
        if k.endswith("_per_s"):
            out[k] = v / f
        elif k.endswith("_s") or k.endswith("_ms"):
            out[k] = v * f
        else:
            out[k] = v
    return out


def result_line(metrics: dict, units: dict, r) -> dict:
    missing = set(units) - set(metrics)
    extra = set(metrics) - set(units)
    if missing or extra:
        raise RuntimeError(
            f"metrics differ from BENCHMARK.json: missing={sorted(missing)} extra={sorted(extra)}"
        )
    return {
        "correct": not r.failed,
        "attempted": r.attempted,
        "failed": len(r.failed),
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }


def run(args) -> list[tuple[dict, dict]]:
    """One (context, result) pair per workload run in one Spark session."""
    nproc = len(os.sched_getaffinity(0))
    run_dir = WORK / f"run-{args.seed}-{os.getpid()}"
    scoped_env(run_dir)
    from perfbench import inputs
    from perfbench.runner import cpu_mops
    from perfbench.tracing import RssSampler

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    names = WORKLOADS if args.smoke else [args.workload]
    sizes = inputs.SMOKE if args.smoke else inputs.FULL

    done = []
    with RssSampler() as rss:
        start_mops = cpu_mops()
        t0 = time.perf_counter()
        from kgspark.session import get_spark

        spark = get_spark("kgspark-perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        try:
            for name in names:
                done.append(run_workload(
                    spark, name, args, sizes, run_dir / name, (session_s, start_mops), units
                ))
        finally:
            stop_spark(spark)
            shutil.rmtree(run_dir, ignore_errors=True)
    out = []
    for context, metrics, r in done:
        if not args.trace:
            metrics["peak_rss_mb"] = rss.peak_mb
        out.append((context, result_line(metrics, units, r)))
    return out


def main() -> int:
    args = parse_args()
    if not (ROOT / "kgspark" / "__init__.py").is_file() or not (ROOT / "BENCHMARK.json").is_file():
        print(f"perfbench: {ROOT} is not a kgspark checkout (kgspark/ or BENCHMARK.json missing)",
              file=sys.stderr)
        return 2
    ok = True
    for context, result in run(args):
        print(json.dumps({"context": context}, default=str))
        print(json.dumps(result), flush=True)
        ok = ok and result["correct"]
    return 0 if ok or not args.smoke else 1


if __name__ == "__main__":
    sys.exit(main())
