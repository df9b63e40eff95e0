"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 6 --trace 0

Run from the repository root. Every input is generated from ``--seed``
under ``perfbench/.work`` and removed at exit; the engine sees only those
inputs. ``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps
the engine's public functions in spans (perfbench/tracer.py), prints the
per-layer metrics, and writes the spans, their self times and the
tracing overhead to ``perfbench/.out/``.

Workloads (see BENCHMARK.json for why each was chosen, and
perfbench/workloads.py for what each metric means in each):
  serve   drain a seeded lake covering every entity route into silver
          through streaming.pipeline.stream_ingest, refresh gold, then a
          closed loop of client threads issuing a Zipf-skewed route mix
  curate  seeded fixture tables, a priming pass checked against the
          DuckDB oracles, then timed passes over operator-library queries

Each run also records CPU steal, the 1-minute load before and after,
nproc and SPARK_GRAFT_CPUS, so a run slowed by a co-tenant shows.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _cpu_ticks() -> tuple[int, int] | None:
    """(steal ticks, total ticks) from /proc/stat; None where unavailable."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals)
    except (OSError, ValueError, IndexError):
        return None


def _load1() -> float | None:
    try:
        return os.getloadavg()[0]
    except OSError:
        return None


def _configure(work: str) -> None:
    """Deployment settings for one local run, fixed so that every run and
    every commit measures the same deployment. Everything the JVM and
    Python write goes under ``work`` inside the checkout.

    One Spark task thread (local[1]): the JVM's JIT and GC threads and the
    client keep the other cores, and in back-to-back trials on a shared
    4-core host a stream micro-batch varied far less than at local[4]
    (29.0-30.0 s against 27-48 s). The inputs are small (thousands of
    rows), so what these workloads measure is per-job and per-request
    overhead. They cannot show a change to partitioning or task
    parallelism, nor one that trades scan time against merge time at
    scale: at this size and core count scans cost next to nothing."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # no hsperfdata counter files in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("serve", "curate"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    ticks0, load_before = _cpu_ticks(), _load1()
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(HERE, ".out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    _configure(work)
    sys.path.insert(0, ROOT)
    spark = None
    try:
        import workloads
        from django_indexer_spark.session import get_spark
        from tracer import Tracer

        t0 = time.perf_counter()
        spark = get_spark(
            "perfbench",
            **{
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
                "spark.sql.warehouse.dir": f"{work}/warehouse",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()  # first job: JVM class loading and codegen
        session_s = time.perf_counter() - t0 + (t0 - t_start)

        tracer = Tracer(spark, enabled=bool(args.trace))
        try:
            res = workloads.RUNNERS[args.workload](
                spark, tracer, work, args.seed, args.seconds, session_s
            )
        finally:
            tracer.close()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    ticks1, load_after = _cpu_ticks(), _load1()
    steal = None
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        steal = 100.0 * (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])
    ambient = {
        "steal_pct": steal,
        "load1_before": load_before,
        "load1_after": load_after,
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "wall_s": time.perf_counter() - t_start,
    }
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "ambient": ambient,
        "checks": res.checks,
        "end_to_end": res.end_to_end,
        "per_layer": res.per_layer,
        "info": res.info,
    }
    if args.trace:
        prior = _untraced(out_dir, args.workload, args.seed)
        record["tracing_overhead"] = {
            "tracer_bookkeeping_s": tracer.overhead_s,
            "vs_untraced": None
            if prior is None
            else {
                k: res.end_to_end[k]["value"] / v["value"] - 1.0
                for k, v in prior["end_to_end"].items()
                if k in res.end_to_end and v["value"]
            },
        }
        tracer.dump(os.path.join(out_dir, f"spans-{tag}.json"), {"run": record})
    with open(os.path.join(out_dir, f"run-{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)

    failed_checks = [c for c in res.checks if not c["ok"]]
    for c in failed_checks:
        print(f"check failed: {c['name']}: {c['detail']}", file=sys.stderr)
    print(json.dumps({"ambient": ambient, "info": res.info}))
    metrics = res.per_layer if args.trace else res.end_to_end
    print(
        json.dumps(
            {
                "correct": not failed_checks and res.failed == 0,
                "attempted": res.attempted,
                "failed": res.failed + len(failed_checks),
                "metrics": metrics,
            }
        )
    )
    return 0


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def _untraced(out_dir: str, workload: str, seed: int) -> dict | None:
    try:
        with open(os.path.join(out_dir, f"run-{workload}-seed{seed}-trace0.json")) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    raise SystemExit(main())
