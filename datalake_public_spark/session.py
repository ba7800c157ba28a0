"""SparkSession factory.

One place that owns every performance-relevant session conf, so tests,
bench, and the driver entrypoint all run the same engine profile.

Scale notes (100 TB target):
  * AQE on — runtime coalescing of shuffle partitions, skew-join splitting,
    and dynamic broadcast conversion replace hand-tuned partition counts.
  * Arrow on — any pandas interchange (mapInPandas/pandas UDF ops) moves
    columnar batches, never pickled rows.
  * UTC session timezone — epoch→timestamp conversions are tz-dependent
    (reference hazard at ``transform_ss_velib_with_spark.py:64``; SURVEY §7.4).
  * shuffle.partitions is a *default* only; AQE shrinks it per-stage. On a
    real cluster set it ≈ 2-3× total cores via EngineConfig.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession

from datalake_public_spark.config import EngineConfig


def get_spark(config: EngineConfig | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession."""
    cfg = config or EngineConfig()
    builder = (
        SparkSession.builder.appName(cfg.app_name)
        .master(cfg.master)
        .config("spark.sql.session.timeZone", cfg.timezone)
        .config("spark.sql.shuffle.partitions", str(cfg.shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Files: pack small snapshot files into sane input splits.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # Sort-merge stays the engine-wide default; shuffled-hash is
        # opted into PER JOIN with hint("shuffle_hash") where the build
        # side is provably bounded (a restricted dimension or a rollup —
        # q8's AMERICA orders, q2's per-part min). The engine-wide
        # preferSortMergeJoin=false experiment (round 9) won per-query —
        # isolated ×100 lineitem⋈orders measured 14.6 s SMJ vs 9.7 s
        # SHJ, and the 17-query map summed 67 s vs SMJ's 79 — but made
        # CONCURRENT plans bimodal: the unioned tpch_breadth run swung
        # [53, 186] s across same-code reps (vs [44, 63] under SMJ)
        # because many simultaneous non-spillable SHJ build maps share
        # one local-mode heap and GC thrash; SMJ's sorts spill
        # gracefully. Hint-scoped SHJ keeps the q2/q8 wins with the SMJ
        # regime's stability, and degrades safely at 100 TB: a
        # shuffle_hash hint on a side that outgrows memory OOMs loudly
        # rather than silently merging, so hints are placed only on
        # sides bounded by a selective restriction, never raw facts.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("DLPS_PREFER_SMJ", "true"),
        )
        # Runtime Bloom-filter join pruning (off by default in Spark):
        # for shuffle joins whose build side exceeds the creation
        # threshold, the probe side scan is pre-filtered by a bloom
        # filter of the join keys — at 100 TB this skips whole row
        # groups of a fact table joined to a selective dimension. At
        # test SFs the thresholds aren't met, so pinned static plans
        # are unchanged (verified).
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Keep the UI off in tests/bench; driver memory generous for local
        # mode, where this ONE heap is the whole "cluster" — 32 executor
        # threads' shuffle/state/collect share it. 8g OOM'd the ×100
        # stream-stream join (its two watermark-bounded state stores are
        # heap-backed); on a real cluster each executor brings its own
        # heap, so this knob is a local-harness artifact, not engine
        # sizing. Env-tunable for scale runs.
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory", os.environ.get("DLPS_DRIVER_MEMORY", "16g")
        )
        # The correctness harness collect-compares FULL results against
        # DuckDB; at the ×100 rung a wide 16M-row entry serializes past
        # the 1g default (observed: r3_union_by_name, 1.5 GiB). Local
        # mode only — production writes to sinks and never collects.
        .config("spark.driver.maxResultSize", "6g")
    )
    for k, v in cfg.extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_for_local_tests(spark: SparkSession) -> SparkSession:
    """Small-data settings for unit tests (fewer partitions → faster)."""
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    return spark


JOB_DESCRIPTION = "spark.job.description"


@contextlib.contextmanager
def phase(spark: SparkSession, entry: str, name: str):
    """Label every Spark job the block runs ``"{entry}:{name}"`` (the
    job description, which Spark's status store keeps with the UI off)
    and put the caller's description back on exit, also on a raise.
    The job group is left alone, so group-based job counting still sees
    these jobs. A thread started inside the block keeps the label only
    if it inherits local properties (``pyspark.InheritableThread``)."""
    sc = spark.sparkContext
    caller = sc.getLocalProperty(JOB_DESCRIPTION)
    sc.setLocalProperty(JOB_DESCRIPTION, f"{entry}:{name}")
    try:
        yield
    finally:
        sc.setLocalProperty(JOB_DESCRIPTION, caller)  # None removes it


def job_watermark(spark: SparkSession) -> int:
    """Id the scheduler gives the next Spark job: the ``first_job`` of
    ``phase_seconds`` for whatever runs after this call."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def phase_seconds(spark: SparkSession, entry: str, first_job: int) -> dict[str, float]:
    """Seconds per ``phase(spark, entry, name)`` block among the jobs
    since ``first_job``, read from Spark's status store: from the
    phase's first job submission to its last job completion. A phase
    that ran no Spark job is absent, and so is a job the store already
    evicted (it keeps the last ``spark.ui.retainedJobs``)."""
    from py4j.protocol import Py4JJavaError

    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    prefix = f"{entry}:"
    spans: dict[str, tuple[float, float]] = {}
    for job_id in range(first_job, job_watermark(spark)):
        try:
            job = store.job(job_id)
        except Py4JJavaError:
            continue
        desc = job.description()
        if not (desc.isDefined() and desc.get().startswith(prefix)):
            continue
        start = job.submissionTime().get().getTime() / 1e3
        done = job.completionTime()
        end = done.get().getTime() / 1e3 if done.isDefined() else start
        name = desc.get()[len(prefix):]
        lo, hi = spans.get(name, (start, end))
        spans[name] = (min(lo, start), max(hi, end))
    return {name: round(hi - lo, 1) for name, (lo, hi) in spans.items()}
