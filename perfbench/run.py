"""perfbench: one workload, one closed-loop client, one JSON result line.

    python3 perfbench/run.py --workload table --seed 1 --seconds 1 --trace 0

Run from the repository root.  ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` records per-call Spark counters and spans and
prints the per-layer metrics.  Scratch data lives under
``.perfbench_work/`` and is removed at exit; results and traces stay in
``.perfbench_work/results/``.  The last stdout line is the result;
stderr carries a readable summary.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
E2E_UNITS = {
    "setup_s": "s", "ops_per_s": "1/s", "op_p50_ms": "ms", "recall": "ratio",
    "space_amp": "ratio",
}


def configure(work: str) -> int:
    """Pin parallelism to the host and keep every scratch file in ``work``.
    Must run before pyspark starts the JVM."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    tempfile.tempdir = tmp
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        # no hsperfdata files in the system temp dir from the launcher JVM
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        # executor-side Python workers import muller_spark from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    return cores


def start_spark(work: str):
    from muller_spark import get_spark

    spark = get_spark("perfbench", **{
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def host_record(spark, cores: int) -> dict:
    """``nproc``, driver heap and a fixed host-speed anchor (a constant
    Spark aggregate, median of three), so drift between runs shows.  It
    runs after the measurement, on the warm JVM, so it adds no cold
    start of its own."""
    from pyspark.sql import functions as F

    def anchor():
        t = time.perf_counter()
        spark.range(1_000_000, numPartitions=cores).groupBy(F.col("id") % 997).agg(
            F.sum("id"), F.max("id")).collect()
        return time.perf_counter() - t

    runtime = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    return {
        "nproc": cores,
        "driver_heap_bytes": int(runtime.maxMemory()),
        "anchor_s": statistics.median(anchor() for _ in range(3)),
    }


def run_op(probe, op, op_id: int) -> dict:
    with probe.op(op.kind, op_id) as span:
        try:
            out, err = op.run(), None
        except Exception:  # a failed op is counted, the client moves on
            out, err = None, traceback.format_exc(limit=3)
    ms = (span["end"] - span["start"]) * 1e3
    if err is None:
        try:
            ok = bool(op.check(out))
        except Exception:
            ok, err = False, traceback.format_exc(limit=3)
    else:
        ok = False
    if not ok:
        print(f"[perfbench] op {op_id} {op.kind} failed{': ' + err if err else ''}",
              file=sys.stderr)
    return {"kind": op.kind, "ms": ms, "ok": ok}


def run_rounds(probe, stream, deadline) -> list:
    """Run whole rounds until ``deadline`` has passed at a round's end (or
    the inputs run out): at least one round."""
    done, ops = 0, []
    while True:
        op = next(stream, None)
        if op is None:
            break
        ops.append({**run_op(probe, op, len(ops)), "round": done})
        if op.last:
            done += 1
            if time.perf_counter() >= deadline:
                break
    return ops


def run(workload: str, seed: int, seconds: float, traced: bool, work: str) -> dict:
    cores = configure(work)
    sys.path.insert(0, ROOT)
    import workloads
    from probe import Probe

    phases = {}
    t0 = time.perf_counter()
    spark = start_spark(work)
    try:
        phases["session_s"] = time.perf_counter() - t0
        probe = Probe(spark, traced, cores)
        wl = workloads.WORKLOADS[workload](spark, probe, work, seed)
        t = time.perf_counter()
        wl.prepare()
        phases["prepare_s"] = time.perf_counter() - t
        t = time.perf_counter()
        wl.setup()
        setup_s = time.perf_counter() - t

        start = time.perf_counter()
        ops = run_rounds(probe, wl.ops(), start + seconds)
        phases["measure_s"] = time.perf_counter() - start
        result = summarize(wl, host_record(spark, cores), setup_s, ops)
        result["phases"] = phases
        if traced:
            result["per_layer"] = probe.per_layer()
            result["trace_cost_s"] = probe.trace_cost_s
            result["trace_file"] = os.path.join(
                results_dir(), f"trace-{workload}-seed{seed}.jsonl")
            probe.write_trace(result["trace_file"])
        return result
    finally:
        stop_spark(spark)


def summarize(wl, host, setup_s, ops) -> dict:
    import numpy as np

    lat = [o["ms"] for o in ops]
    kinds = sorted({o["kind"] for o in ops})
    by_kind = {k: [o["ms"] for o in ops if o["kind"] == k] for k in kinds}
    failed = sum(not o["ok"] for o in ops)
    e2e = {
        "setup_s": setup_s,
        # per second of op time: the client's untimed checks are left out
        "ops_per_s": len(ops) / (sum(lat) / 1e3),
        "op_p50_ms": float(np.percentile(lat, 50)),
        "recall": wl.recall(),
        "space_amp": wl.space_amp,
    }
    # p90 is recorded but not gated: a run has 6 to 16 ops, so one or two
    # samples lie beyond it
    p90 = float(np.percentile(lat, 90))
    return {
        "workload": wl.name,
        "seed": wl.seed,
        "host": host,
        "end_to_end": e2e,
        "attempted": len(ops),
        "failed": failed,
        "error_rate": failed / len(ops),
        "rounds": len({o["round"] for o in ops}),
        "op_p90_ms": p90,
        "samples_beyond_p90": sum(x > p90 for x in lat),
        "per_kind_p50_ms": {k: statistics.median(v) for k, v in by_kind.items()},
        "per_kind_n": {k: len(v) for k, v in by_kind.items()},
        "extra": wl.extra(ops),
        "ops": ops,
        "inputs": wl.facts,
    }


def results_dir() -> str:
    d = os.path.join(ROOT, ".perfbench_work", "results")
    os.makedirs(d, exist_ok=True)
    return d


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["table", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch data
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        res = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    out = os.path.join(results_dir(), f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump(res, f, indent=1, default=str)
    e2e = res["end_to_end"]
    print(f"[perfbench] {args.workload} seed={args.seed} trace={args.trace} "
          f"ops={res['attempted']} error_rate={res['error_rate']:.4f} "
          + " ".join(f"{k}={v:.4g}{E2E_UNITS[k]}" for k, v in e2e.items() if v is not None)
          + f" per_kind_p50_ms={json.dumps({k: round(v, 1) for k, v in res['per_kind_p50_ms'].items()})}"
          + f" host={json.dumps(res['host'])}", file=sys.stderr)
    if args.trace:
        metrics = {k: {"value": v, "unit": _layer_unit(k)} for k, v in res["per_layer"].items()}
        print(f"[perfbench] tracing cost {res['trace_cost_s']:.3f}s; "
              f"spans in {res['trace_file']}", file=sys.stderr)
    else:
        missing = [k for k, v in e2e.items() if v is None]
        if missing:
            print(f"[perfbench] no value for {missing}", file=sys.stderr)
            return 3
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


def _layer_unit(name: str) -> str:
    counter = name.rsplit(".", 1)[1]
    return {"wall_ms": "ms", "exec_cpu_ms": "ms", "shuffle_bytes": "bytes",
            "bytes_written": "bytes", "driver_share": "ratio"}.get(counter, "count")


if __name__ == "__main__":
    sys.exit(main())
