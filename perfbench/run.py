"""Benchmark of the datalake_public_spark engine.

    python3 perfbench/run.py --workload gbfs_ticks --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads (closed loop, one client, on
``local[<nproc>]``):

* ``gbfs_ticks``           -- the reference tick: raw GBFS snapshots ->
  flatten -> enrich -> quality gate -> serving sink -> weighted K-Means
  (gbfs_ticks.py);
* ``queries_and_curation`` -- a pass of graded read-only registry entries
  over a seeded sf0.1-sized star schema (lake_queries.py), then a batch of
  training-data curation: normalize -> quality filter -> exact and near
  dedup -> training shards (corpus_batches.py); see
  queries_and_curation.py.

``setup_s`` is the time from process start to the first timed op: imports,
the Spark session, landing the workload's inputs and the workload's
``warmup_ops`` untimed ops (for queries_and_curation the first of them also
compares every entry's full result with its DuckDB oracle). In a fresh JVM
op time keeps falling for about ten ops while the JIT compiles; a run cannot
afford that many, so every run measures the same ops of that slope, and
``warmup_leveled`` in the info line says whether the first timed op was
within ``LEVEL`` of the last warm-up op.

Timed ops then run back to back, and only they are measured; they keep
starting until ``--seconds`` have passed, and the op in flight completes, so
a run measures at least ``--seconds`` and at least one op. With ops of 7 to
10 s (gbfs_ticks) and 14 to 20 s (queries_and_curation), ``--seconds 12``
times exactly two and one of them, far from the point where a slower or
faster host would change the count.
``ops_per_s`` is timed ops per second of that measured wall time, which
includes each op's output check.

The last stdout line is the JSON result. The line before it, prefixed
``perfbench-info``, records set-up, warm-up, op latencies, the highest
percentile with ten ops beyond it (none while a run times fewer than eleven
ops) and whether the medians of the first and second half of the timed ops
differ by more than the ``op_p50_s`` bound.

With ``--trace 1`` every other measured op is traced (spans.py), and at
least three ops run, so a traced op sits between two untraced ones; the
per-layer metrics of BENCHMARK.json are reported as per-op medians, and
layers a workload never calls report 0. ``trace.overhead`` is the median
traced op over the median untraced op of the same run; with untraced ops
on both sides, a linear JIT slope across the three ops cancels.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

LEVEL = 0.9  # an op faster than LEVEL x the one before is still on the JIT slope
DRIVER_MEMORY = "2g"  # the engine's 16g default exceeds small hosts' RAM


def pin_environment(work: str) -> dict[str, str]:
    """Settings the engine reads from the environment, fixed for every run.
    Must run before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # one shuffle partition per core, as bench.py configures the engine
        "DLPS_SHUFFLE_PARTITIONS": str(cpus),
        "DLPS_PREFER_SMJ": "true",  # the engine's own default
        "DLPS_DRIVER_MEMORY": DRIVER_MEMORY,
        "DLPS_LAKE_ROOT": os.path.join(work, "lake"),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # Python workers import the engine from the checkout
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    }
    os.environ.update(pinned)
    return pinned


def engine_config(work: str):
    from datalake_public_spark import EngineConfig

    tmp = os.path.join(work, "tmp")
    return EngineConfig(
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # the status store must hold every job and stage of an op
            "spark.ui.retainedJobs": "2000",
            "spark.ui.retainedStages": "4000",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
    )


def stop_jvm() -> None:
    """End the JVM that PySpark launched and wait for it: the gateway exits
    when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    pinned = pin_environment(work)
    sys.path.insert(0, ROOT)
    try:
        result, info, tracer = run(args, spec, work)
        if tracer is not None:
            tracer.dump(os.path.join(work_root, f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    info["env"] = pinned
    print("perfbench-info " + json.dumps(info, sort_keys=True))
    print(json.dumps(result))
    return 0


def run(args, spec, work):
    from summary import halves_drift, median, percentile, tail_percentile

    from datalake_public_spark import get_spark

    import gbfs_ticks
    import queries_and_curation
    from spans import Tracer

    workloads = {
        "gbfs_ticks": gbfs_ticks.GbfsTicks,
        "queries_and_curation": queries_and_curation.QueriesAndCuration,
    }
    config = engine_config(work)
    workload = workloads[args.workload](args.seed, config)

    warmup_s, warm_failures = [], []
    spark = None
    try:
        g0 = time.perf_counter()
        spark = get_spark(config)
        get_spark_s = time.perf_counter() - g0
        spark.sparkContext.setLogLevel("ERROR")
        workload.land()
        for _ in range(workload.warmup_ops):
            op = workload.op(spark)
            warmup_s.append(op.seconds)
            if not op.ok:
                warm_failures.append(op.error)

        tracer = Tracer(spark.sparkContext) if args.trace else None
        measured = []
        m0 = time.perf_counter()
        setup_s = m0 - T_START
        while True:
            traced = tracer is not None and len(measured) % 2 == 1
            measured.append(workload.op(spark, tracer if traced else None))
            done = time.perf_counter() - m0 >= args.seconds
            if tracer is not None:  # untraced, traced, untraced at least
                done = done and len(measured) >= 3
            if done:
                break
        measure_s = time.perf_counter() - m0
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()

    plain = [o for o in measured if not o.traced]
    traced_ops = [o for o in measured if o.traced and o.ok]
    lat = [o.seconds for o in plain if o.ok]
    if not lat or (tracer is not None and not traced_ops):
        raise SystemExit(f"no op to report: {[o.error for o in measured]}")
    failed = sum(not o.ok for o in measured)
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "master": config.master,
        "conf": config.extra_conf,
        "setup_s": setup_s,
        "get_spark_s": get_spark_s,
        "warmup_op_s": warmup_s,
        "warmup_leveled": lat[0] >= LEVEL * warmup_s[-1],
        "warmup_failures": warm_failures,
        "measure_s": measure_s,
        "op_s": [round(o.seconds, 4) for o in plain],
        "errors": sorted({o.error for o in measured if o.error}),
    }
    p = tail_percentile(len(lat))
    info["tail"] = {"n": len(lat), "percentile": p, "s": percentile(lat, p) if p else None}
    bound = {m["name"]: m["bound"] for m in spec["end_to_end"]}["op_p50_s"]
    info["halves_drift"] = halves_drift(lat)
    info["unsteady"] = info["halves_drift"] > bound

    if tracer is None:
        values = {
            "setup_s": setup_s,
            "op_p50_s": median(lat),
            "ops_per_s": len(lat) / measure_s,
        }
        wanted = spec["end_to_end"]
    else:
        values = {
            "session.get_spark_s": get_spark_s,
            "trace.overhead": median([o.seconds for o in traced_ops]) / median(lat),
        }
        keys = {k for o in traced_ops for k in o.metrics}
        for k in keys:
            values[k] = median([o.metrics.get(k, 0.0) for o in traced_ops])
        for part in {p for o in plain if o.ok for p in o.parts}:
            values[f"{part}.op_p50_s"] = median([o.parts[part] for o in plain if o.ok])
        info["self_time_coverage"] = values["trace.self_s_sum"] / values["trace.op_wall_s"]
        wanted = spec["per_layer"]
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted}
    result = {
        "correct": failed == 0 and not warm_failures,
        "attempted": len(measured),
        "failed": failed,
        "metrics": metrics,
    }
    return result, info, tracer


if __name__ == "__main__":
    sys.exit(main())
