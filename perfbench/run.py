"""windflow benchmark: the paper's cron tick, steady state and catch-up.

    python3 perfbench/run.py --workload {cron_tick,backfill} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Builds nothing: the package is imported
from the checkout. Prints one regime line, then, as the last line of
stdout, one JSON object {"correct", "attempted", "failed", "metrics"}:
the end-to-end metrics of BENCHMARK.json with --trace 0, the per-layer
metrics with --trace 1. Spans of a traced run are written to
perfbench/out/traces/.

The regime is pinned, not derived: local[4], a 4g driver heap, one
fresh temporary root per run (TMPDIR, Spark local dirs, the JVM temp
dir, the warehouse, tables and checkpoints), deleted at exit.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

import mints_wind_data_ingestion_spark  # noqa: E402,F401  (fail fast without the package)

import gen  # noqa: E402
import probe  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402

CORES = 4
DRIVER_MEM = "4g"
OUT = os.path.join(HERE, "out")

END_TO_END = {"tick_s": "s", "tick_cpu_s": "s", "setup_s": "s"}
PER_LAYER = {
    "session.start_s": "s",
    "codec.decode_ms_per_field": "ms",
    "codec.fields": "count",
    "codec.bytes_in": "B",
    **{name: ("B" if "bytes" in name else "ms") for name in probe.PYTHON_METRICS.values()},
    **{f"stream.{p}_ms": "ms" for p in probe.STREAM_PHASES},
    "stream.outside_trigger_ms": "ms",
    "table.rows": "count",
    "table.bytes": "B",
    "publish.bytes_written": "B",
    "publish.write_amp": "ratio",
    "serve_ms": "ms",
    "serve.rows_scanned_per_row_returned": "ratio",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "shuffle.read_bytes": "B",
    "shuffle.write_bytes": "B",
    "spill_bytes": "B",
    "trace.overhead_tick_s": "s",
    "trace.overhead_tick_cpu_s": "s",
}


def isolate(root: str) -> None:
    """Point every temporary and state directory of this process, the
    JVM and the Python workers at `root`, and pin the regime."""
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        TZ="UTC",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(root, "local"),
        # no hsperfdata file under /tmp: the JVM writes it outside
        # java.io.tmpdir
        JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=(
            "--conf "
            + shlex.quote(f"spark.sql.warehouse.dir={os.path.join(root, 'warehouse')}")
            + " pyspark-shell"
        ),
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(
            p for p in (REPO, os.environ.get("PYTHONPATH")) if p
        ),
        SPARK_GRAFT_CPUS=str(CORES),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
    )
    time.tzset()
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def regime() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    return {
        "nproc": os.cpu_count(),
        "mem_gb": round(mem_kb / 2**20, 1),
        "local_n": CORES,
        "driver_mem": DRIVER_MEM,
        "grid": f"{gen.NX}x{gen.NY}",
        "fields_per_run": gen.FIELDS_PER_RUN,
        "backfill_runs": workloads.BACKFILL_RUNS,
    }


def shutdown(spark) -> None:
    """Stop Spark, the JVM and every Python worker, and wait for each."""
    from pyspark import SparkContext

    procs = probe.descendants()
    spark.stop()
    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    gateway.shutdown()
    if jvm is not None:
        jvm.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            jvm.wait(timeout=60)
        except Exception:
            jvm.kill()
            jvm.wait()
    deadline = time.monotonic() + 30
    for pid in procs:
        while os.path.exists(f"/proc/{pid}"):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.05)


def summarize(h: workloads.Harness, setup_s: float, session_s: float,
              trace: bool, codec: dict) -> dict:
    ops = h.ops
    failed = sum(1 for o in ops if o["errors"])
    med = statistics.median
    if not trace:
        metrics = {
            "tick_s": med(o["wall_s"] for o in ops),
            "tick_cpu_s": med(o["cpu_s"] for o in ops),
            "setup_s": setup_s,
        }
        units = END_TO_END
    else:
        traced = [o for o in ops if o["traced"]]
        plain = [o for o in ops if not o["traced"]]
        metrics = {name: med(o[name] for o in traced)
                   for name in PER_LAYER if name in traced[0]}
        metrics["session.start_s"] = session_s
        metrics.update(codec)
        metrics["codec.fields"] = med(o["fields"] for o in traced)
        metrics["codec.bytes_in"] = med(o["bytes_in"] for o in traced)
        metrics["publish.write_amp"] = med(
            o["publish.bytes_written"] / o["bytes_in"] for o in traced)
        metrics["trace.overhead_tick_s"] = (
            med(o["wall_s"] for o in traced) - med(o["wall_s"] for o in plain))
        metrics["trace.overhead_tick_cpu_s"] = (
            med(o["cpu_s"] for o in traced) - med(o["cpu_s"] for o in plain))
        units = PER_LAYER
    return {
        "correct": failed == 0 and not any(o["errors"] for o in h.warmups),
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }


def report(result: dict) -> None:
    """The regime line, then the result as the last line of stdout."""
    print("regime: " + json.dumps(regime()))
    print(json.dumps(result), flush=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    g0 = time.perf_counter()
    inputs = gen.generate(args.seed, prerender=workloads.BACKFILL_RUNS)
    gen_s = time.perf_counter() - g0

    os.makedirs(OUT, exist_ok=True)
    root = os.path.join(OUT, f"run-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    isolate(root)
    spark = None
    try:
        from mints_wind_data_ingestion_spark.session import get_spark

        tracer = Tracer()
        tracer.active = bool(args.trace)
        s0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = get_spark("windflow-perfbench")
        session_s = time.perf_counter() - s0
        tracer.active = False
        if args.trace:
            tracer.status = probe.StatusStore(spark)
            install_spans(tracer)
        h = workloads.Harness(spark, root, inputs, tracer, bool(args.trace))
        setup, _ = workloads.WORKLOADS[args.workload]
        setup(h)
        setup_s = time.perf_counter() - PROCESS_START - gen_s

        workloads.measure(h, args.workload, args.seconds)
        codec = workloads.codec_microbench(h) if args.trace else {}
        result = summarize(h, setup_s, session_s, bool(args.trace), codec)
        if args.trace:
            os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
            tracer.dump(os.path.join(
                OUT, "traces", f"{args.workload}-seed{args.seed}.json"))
        for kind, ops in (("warm-up", h.warmups), ("op", h.ops)):
            for o in ops:
                print(f"{kind}: wall {o['wall_s']:.3f} s, cpu {o['cpu_s']:.2f} s, "
                      f"traced {o['traced']}", file=sys.stderr)
                for e in o["errors"]:
                    print(f"check failed: {e}", file=sys.stderr)
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(root, ignore_errors=True)
    report(result)
    return 0


def install_spans(tracer: Tracer) -> None:
    """Spans around the package functions the pipeline calls internally
    (plan construction of the decode node and of the latest-wins merge)."""
    from mints_wind_data_ingestion_spark.streaming import pipeline

    pipeline.decode_binary_df = tracer.wrap(
        "sources.grib.decode_binary_df", pipeline.decode_binary_df)
    pipeline.merge_latest_wins = tracer.wrap(
        "operators.upsert.merge_latest_wins", pipeline.merge_latest_wins)


if __name__ == "__main__":
    sys.exit(main())
