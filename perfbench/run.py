"""Benchmark launcher: one workload, one seed, one timed window.

    python3 perfbench/run.py --workload consumer_replay --seed 1 --seconds 10 --trace 0

Run from the repository root. The launcher pins the environment (the repo
root on PYTHONPATH so Spark's Python workers can import the engine,
``SPARK_GRAFT_CPUS`` = the usable cores, a JVM heap well below physical
memory, every scratch directory inside ``perfbench/.work``), starts the
engine's session, runs one warm-up pass of the workload on a throwaway seed,
measures for ``--seconds`` seconds, checks every output, and prints one JSON
line: the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Set-up (session start plus warm-up) is ``setup_s``; every
other time is steady state. With ``--trace 1`` the spans are also written to
``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "energy_data_stream_processing_spark"
DRIVER_MEMORY = "2g"


def _metric_units() -> tuple[dict, dict]:
    """Name -> unit of the end-to-end and the per-layer metrics BENCHMARK.json lists."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return tuple({m["name"]: m["unit"] for m in bench[k]} for k in ("end_to_end", "per_layer"))


def _pin_env(work: str, cores: int) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT, *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
    os.environ.update(
        PYTHONPATH=os.pathsep.join(dict.fromkeys(paths)),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        TMPDIR=tmp,
        SPARK_GRAFT_SCRATCH=tmp,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        SPARK_DRIVER_EXTRA_JAVA_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        PYSPARK_SUBMIT_ARGS="--conf spark.ui.showConsoleProgress=false pyspark-shell",
        PYTHONWARNINGS="ignore::FutureWarning",
    )
    import tempfile

    tempfile.tempdir = None
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                   help="local[N] threads (default: usable cores; 1 = single-threaded reference)")
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    _pin_env(work, args.cores)

    from stats import median, tail
    from spans import Tracer
    from workloads import WORKLOADS, Ctx, Progress, overhead

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    spark = None
    try:
        t0 = time.perf_counter()
        from energy_data_stream_processing_spark.session import get_spark

        spark = get_spark("perfbench")
        start_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        progress = Progress()
        spark.streams.addListener(progress.listener)
        tracer = Tracer()
        wl = WORKLOADS[args.workload](Ctx(spark, work, args.seed, progress, tracer))
        t1 = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t1

        wl.run(args.seconds, bool(args.trace))

        t2 = time.perf_counter()
        failed = wl.check()
        check_s = time.perf_counter() - t2
        attempted = wl.attempted()
        e2e = wl.metrics()
        layers = {**wl.layer_metrics(), "trace.overhead_share": overhead(wl.ops)} if args.trace else {}
        rss_jvm = _vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
        rss_py = _vm_hwm_mb("self")
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    samples, refreshes = e2e["op_samples"], e2e["refresh_samples"]
    op_tail, pct = tail(samples)
    values = {
        "setup_s": start_s + warmup_s,
        "items_per_s": e2e["items_per_s"],
        "op_p50_s": median(samples),
        "refresh_s": median(refreshes),
    }
    print(
        f"perfbench {args.workload} seed={args.seed} cores={args.cores} ops={len(wl.ops)} "
        f"op_samples={len(samples)} tail_percentile={pct:.1f} start_s={start_s:.3f} "
        f"warmup_s={warmup_s:.3f} check_s={check_s:.3f} rss_jvm_mb={rss_jvm:.0f} rss_py_mb={rss_py:.0f} "
        f"tail_s={op_tail:.6g} failed={failed}/{attempted} "
        f"op_walls={[round(o['wall'], 3) for o in wl.ops]} samples={[round(x, 3) for x in samples]} "
        f"refreshes={[round(x, 3) for x in refreshes]} "
        + " ".join(f"{k}={v:.6g}" for k, v in values.items()),
        file=sys.stderr,
    )
    end_to_end_units, layer_units = _metric_units()
    if args.trace:
        layers.update({"session.start_s": start_s, "session.warmup_s": warmup_s,
                       "process.peak_rss_mb": rss_jvm + rss_py})
        units = {**layer_units, **wl.extra_layer_units}
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in units.items()}
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        tracer.dump(os.path.join(HERE, "out", f"spans-{args.workload}-seed{args.seed}.jsonl"))
    else:
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in end_to_end_units.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
