"""What every workload records per op, and the per-op trace summary."""

from __future__ import annotations

import resource
from dataclasses import dataclass, field

from spans import engine_totals, jobs_per_span, read_jobs, self_times, union_length

PEAK_RSS = "driver.peak_rss_mb"


@dataclass
class OpResult:
    name: str
    seconds: float
    ok: bool
    traced: bool
    metrics: dict[str, float] = field(default_factory=dict)
    error: str = ""
    parts: dict[str, float] = field(default_factory=dict)  # latency of each part of the op


def job_watermark(spark) -> int:
    """Number of jobs the scheduler has been asked to run so far."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver: the JVM plus this Python process."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024


def merge_metrics(parts: list[dict[str, float]]) -> dict[str, float]:
    """Trace metrics of an op made of traced parts: each metric is the sum
    over the parts, except peak memory, which is the highest part's."""
    out: dict[str, float] = {}
    for metrics in parts:
        for k, v in metrics.items():
            out[k] = max(out.get(k, 0.0), v) if k == PEAK_RSS else out.get(k, 0.0) + v
    return out


def traced_metrics(spark, tracer, op_id: str, first_job: int) -> dict[str, float]:
    """Per-layer self time and job count, engine totals and driver-only time
    of one traced op. ``<layer>.jobs`` counts the jobs run under the layer's
    spans, nested spans included."""
    spans = tracer.op_spans(op_id)
    jobs = read_jobs(spark.sparkContext, first_job, job_watermark(spark))
    _, inclusive = jobs_per_span(spans, jobs)
    out: dict[str, float] = {}
    for s, self_s, n_jobs in zip(spans, self_times(spans), inclusive):
        out[f"{s.name}.s"] = out.get(f"{s.name}.s", 0.0) + self_s
        out[f"{s.name}.jobs"] = out.get(f"{s.name}.jobs", 0.0) + n_jobs
    root = spans[0]
    busy = union_length([(j.start, j.end) for j in jobs], root.start, root.end)
    out["driver.only_s"] = (root.end - root.start) - busy
    out.update({f"spark.{k}": v for k, v in engine_totals(jobs).items()})
    out[PEAK_RSS] = peak_rss_mb(spark)
    out["trace.self_s_sum"] = sum(self_times(spans))
    out["trace.op_wall_s"] = root.end - root.start
    return out
