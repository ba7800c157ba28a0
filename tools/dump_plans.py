"""Dump .explain("formatted") for declared/bench queries to plans/<round>/.

Optimization-round evidence (guide §1/§7.2): the judge cannot run Spark,
so every plan claim in OPTIMIZATION_r*.md is backed by a committed
``plans/<round>/<name>_{before,after}.txt`` produced by this tool at the
matching commit.

Usage:
    DLPS_PLAN_ROUND=<round> python tools/dump_plans.py <suffix> [name1,name2,...]

``suffix`` is ``before`` or ``after``; the output round directory
``plans/<round>/`` comes from ``$DLPS_PLAN_ROUND``, which is required (the
tool exits naming it when unset, so no run overwrites an earlier round's
evidence). With no name list, dumps the
bench HEADLINE set plus the bucketed twins. Names resolve first in the
bench extra set (incl. the tpch trio per-op frames ``q9``/``q12``/
``q21`` and their ``*_bucketed`` twins — round 14), then in the merged
driver registry.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datalake_public_spark import EngineConfig, get_spark  # noqa: E402


def main() -> None:
    plan_round = os.environ.get("DLPS_PLAN_ROUND")
    if not plan_round:
        sys.exit(
            "dump_plans: set DLPS_PLAN_ROUND to the round directory to write "
            "(plans/$DLPS_PLAN_ROUND/), e.g. DLPS_PLAN_ROUND=r15"
        )
    suffix = sys.argv[1]
    names = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        plan_round,
    )
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(
        EngineConfig(master=f"local[{cpus}]", shuffle_partitions=int(cpus))
    )
    spark.sparkContext.setLogLevel("ERROR")

    from datalake_public_spark.driver_queries import REGISTRY
    from datalake_public_spark.driver_queries_llm import LLM_REGISTRY
    from datalake_public_spark.driver_registry import FINAL_REGISTRY

    registry = {**REGISTRY, **LLM_REGISTRY}

    # the bench's extra builders (bench.py keeps them local; mirror here)
    from datalake_public_spark.operators.dedup import exact_dedup
    from datalake_public_spark.operators.retrieval import (
        DRIVER_QUERIES,
        bm25_topk,
    )

    def _docs(s, d):
        return s.read.parquet(f"{d.rstrip('/')}/documents.parquet")

    def _queries_df(s):
        return s.createDataFrame(
            list(DRIVER_QUERIES), "query_id int, qtext string"
        )

    extra = {
        "dedup_exact": lambda s, d: exact_dedup(_docs(s, d)),
        "bm25_topk": lambda s, d: bm25_topk(
            _docs(s, d).select("doc_id", "text"), _queries_df(s), k=10
        ),
    }

    # tpch trio per-op frames + their bucketed twins (round 14): the
    # bucketed plans need the bucket tables materialized first, so they
    # are built lazily on first request and shared across names
    def _trio_scan(op):
        def build(s, d):
            from datalake_public_spark.driver_registry import (
                tpch_breadth_parts,
            )

            return tpch_breadth_parts(s, d)[op]

        return build

    _bucket_state: dict = {}

    def _trio_bucketed(op):
        def build(s, d):
            import tempfile

            from datalake_public_spark.sinks.bucketing import (
                materialize_fact_buckets,
                tpch_trio_bucketed,
            )

            if "names" not in _bucket_state:
                _bucket_state["names"] = materialize_fact_buckets(
                    s, d, tempfile.mkdtemp(prefix="bkt_plans_"), n_buckets=32
                )
            return tpch_trio_bucketed(s, d, *_bucket_state["names"])[op]

        return build

    for _op in ("q9", "q12", "q21"):
        extra[_op] = _trio_scan(_op)
        extra[f"{_op}_bucketed"] = _trio_bucketed(_op)

    default = [
        "q1_pricing_summary",
        "q3_top_orders",
        "q5_regional_revenue",
        "q6_revenue_forecast",
        "window_topk",
        "sessionize",
        "tumbling_window_agg",
        "dedup_exact",
        "bm25_topk",
        "dedup_minhash_lsh",
        "text_quality_score",
        "doc_fingerprint",
        "similarity_ann_lsh",
        "text_stats",
        "text_lang_quality",
    ]
    for name in names or default:
        if name in extra:
            df = extra[name](spark, sf_dir)
        elif name in registry:
            df = registry[name].spark(spark, sf_dir)
        elif name in FINAL_REGISTRY:
            df = FINAL_REGISTRY[name].spark(spark, sf_dir)
        else:
            print(f"skip (unknown): {name}")
            continue
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            ))
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
