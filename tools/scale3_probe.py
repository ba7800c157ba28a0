"""×1000 scale rung: spark-only timing probe over a curated entry subset.

The ×10/×100 sweeps are the CORRECTNESS rungs (DuckDB oracle per
entry). This probe adds one more decade of SCALE evidence — 600M
lineitem / 100M events / 50M docs / 2M vectors — where an oracle is
not viable (a DuckDB recursive CTE over 50M docs runs for hours) and
several registry entries are out of contract by construction (the
replicated key space exceeds int32, and a few entries legitimately
cast ids to INT — the scale_replicate KEY_OFFSET note). So: a curated
subset that keeps ids as long, timed through the noop sink (pure
engine work — no driver collect), with row-count sanity per entry and
the host canary at start/mid/end.

What the subset exercises, one entry per scale-critical plan family:
scan+agg (q1), fact⋈fact join (q3, q5), md5-groupBy dedup
(dedup_exact), LSH banding (dedup_minhash_lsh), the dedup-first lift +
connected components (dedup_components), the simhash lift
(dedup_simhash) and the fuzzy-join composition (dedup_ngram_jaccard),
each in the ×10/×100 sweep's bounded form
(``scale_sweep.bounded_entries``, pairs within ``id DIV SWEEP_ID_BAND``
bands), broadcast decontamination, Arrow text kernels (text_stats,
doc_fingerprint), and brute-force cosine (similarity_topk).

Round 12 adds the events/window families the rung was missing —
``skew_salted_agg`` (two-stage salted aggregation; the salted JOIN
half is a measured rejection at this rung — see the entries dict),
``window_suite`` (one-shuffle analytic windows over 150M orders), and
``event_graph_suite`` (funnel/cohort/anomaly at 100M events plus the
constant-size graph parts), plus an exact-vs-approx robust-anomaly
A-B (``anomaly_exact_median`` / ``anomaly_approx_median`` — the
whole-group Arrow-UDAF contract vs the sketch-based 100 TB path,
isolated from the suite) — and an ``--only a,b,c`` mode that MERGES
the named entries' rows into an existing artifact (same convention as
``scale_sweep.py --only``: the full run's canary is kept, this run's
canary lands under ``only_*`` keys).

Usage: python tools/scale3_probe.py [sf_dir] [out_json] [reps=1] [--only a,b,c]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    only: set[str] | None = None
    argv = list(sys.argv)
    if "--only" in argv:
        i = argv.index("--only")
        only = set(argv[i + 1].split(","))
        del argv[i : i + 2]
    sf_dir = argv[1] if len(argv) > 1 else "/tmp/scale_sf100"
    out_path = argv[2] if len(argv) > 2 else "/root/repo/SCALE3_r11.json"
    # default 1 timed rep: each entry additionally pays one full count()
    # pass for row sanity, and a full ×1000 pass across the subset is
    # ~20 min — the canary contextualizes single-rep numbers
    reps = int(argv[3]) if len(argv) > 3 else 1

    from datalake_public_spark import EngineConfig, get_spark
    from datalake_public_spark import driver_registry as DR
    from datalake_public_spark.session import job_watermark, phase_seconds
    from tools.host_canary import host_canary
    from tools.hostinfo import page_cache_gb
    from tools.scale_sweep import bounded_entries, derived_sub_blocks

    def canary_with_cache(spark) -> dict:
        # page_cache_gb sits beside the frozen CPU probes: scan-bound
        # rows read disk when the 17 GB corpus exceeds what's cached
        # (the r11-warm vs r12-cold vintage difference, see hostinfo)
        c = host_canary(spark)
        c["page_cache_gb"] = page_cache_gb()
        return c

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        EngineConfig(master=f"local[{cpus}]", shuffle_partitions=int(cpus) * 2)
    )
    spark.sparkContext.setLogLevel("ERROR")

    BAND = int(os.environ.get("SWEEP_ID_BAND", "10000000"))
    bounded = bounded_entries(BAND, derived_sub_blocks(sf_dir))

    # q5 spill lever (VERDICT r11 item 3): q5 was the rung's ONE
    # superlinear row (17× across the ×100→×1000 decade — the 6-table
    # shuffle working set exceeds page cache and the single local disk
    # becomes the bottleneck). The bucketed variant reads orders/lineitem
    # co-bucketed+sorted on the order key, so the fact join is
    # Exchange-free: the shuffle is paid ONCE at ingest (prepare_s below,
    # amortized across every fact-join query of the deployment) instead
    # of inside every q5. Build is OUTSIDE the timed reps by design.
    bucket_dir = os.environ.get("DLPS_SCALE3_BUCKET_DIR", "/tmp/scale3_buckets")
    bucket_state: dict = {}

    def prepare_buckets(spark, sf):
        from datalake_public_spark.sinks.bucketing import (
            materialize_fact_buckets,
        )

        bucket_state["names"] = materialize_fact_buckets(
            spark, sf, bucket_dir, n_buckets=64
        )

    def q5_bucketed(spark, sf):
        from datalake_public_spark.sinks.bucketing import (
            q5_regional_revenue_bucketed,
        )

        return q5_regional_revenue_bucketed(spark, sf, *bucket_state["names"])

    def q3_bucketed(spark, sf):
        from datalake_public_spark.sinks.bucketing import (
            q3_top_orders_bucketed,
        )

        return q3_top_orders_bucketed(spark, sf, *bucket_state["names"])

    # round 14 (VERDICT r13 item 1): tpch_breadth's heavy trio — the
    # largest unoptimized cost of the ×100 map (q21 8.2 / q9 7.7 /
    # q12 6.7 s; each pays an independent lineitem⋈orders shuffle) —
    # A-B'd against the SAME orderkey-bucketed layout q3/q5 use. Scan
    # twins ride tpch_breadth_parts so the probe times the exact frames
    # the registry entry unions.
    def _trio_scan(op):
        def run(spark, sf):
            from datalake_public_spark import driver_queries as DQ

            fn = {
                "q9": DQ.q9_product_profit,
                "q12": DQ.q12_late_shipment_priority,
                "q21": DQ.q21_waiting_suppliers,
            }[op]
            return fn(spark, sf)

        return run

    def _trio_bucketed(op):
        def run(spark, sf):
            from datalake_public_spark.sinks.bucketing import (
                tpch_trio_bucketed,
            )

            return tpch_trio_bucketed(spark, sf, *bucket_state["names"])[op]

        return run

    # round 13 (VERDICT r12 item 2): the window family's layout lever —
    # window_suite is the rung's clearest remaining spill row (36.0/22.0
    # at r12: the custkey window exchange over 150M orders spills where
    # the ×100 twin fits in memory). Same A-B discipline as the q3/q5
    # pair: identical rows, one-time prepare_s recorded separately.
    def prepare_ckey_buckets(spark, sf):
        from datalake_public_spark.sinks.bucketing import (
            materialize_orders_custkey_buckets,
        )

        bucket_state["ckey_tbl"] = materialize_orders_custkey_buckets(
            spark, sf, bucket_dir, n_buckets=64
        )

    def window_bucketed(spark, sf):
        from datalake_public_spark.sinks.bucketing import (
            window_suite_bucketed,
        )

        return window_suite_bucketed(spark, bucket_state["ckey_tbl"])

    # exact-vs-approx robust anomaly A-B (operators/anomaly.py): the
    # exact median is the driver contract but needs whole groups in one
    # Arrow batch (~12.5M rows/group here — the measured price of that
    # contract at the rung); method="approx" is the 100 TB design (two
    # JVM sketch passes, bounded memory at any group size). Both
    # aggregate to per-type counts so the timed region is the
    # stats+join+score work, not 100M-row egress.
    def _anomaly(method):
        def run(spark, sf):
            from pyspark.sql import functions as F

            from datalake_public_spark.operators.anomaly import (
                robust_anomalies,
            )

            ev = spark.read.parquet(os.path.join(sf, "events.parquet"))
            return (
                robust_anomalies(
                    # broadcast_stats=True: event_type is a tiny enum —
                    # the bounded-cardinality case; also keeps the r12
                    # A-B's physical plan for cross-round comparability
                    ev, "value", ["event_type"], method=method,
                    broadcast_stats=True,
                )
                .groupBy("event_type")
                .agg(
                    F.first("grp_median").alias("grp_median"),
                    F.first("grp_mad").alias("grp_mad"),
                    F.sum(F.col("is_anomaly").cast("long")).alias("n_anom"),
                )
            )

        return run

    def _skew_salted_agg(spark, sf):
        from datalake_public_spark.driver_queries_ext import skew_salted_agg

        return skew_salted_agg(spark, sf)

    # round 13: direct-path twin for the contamination rep-lift A-B —
    # identical rows to the registry entry (which runs via_reps), timed
    # at the rung so the lift's ×1000 factor is same-session evidence,
    # like the q3/q5/window bucketed pairs
    def _decontaminate_direct(spark, sf):
        from pyspark.sql import functions as F

        from datalake_public_spark.operators.dedup import contamination_check
        from datalake_public_spark.operators.sampling import split_bucket

        docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
        b = split_bucket("doc_id")
        return contamination_check(
            docs.filter(b < 80), docs.filter(b >= 90), min_common=2
        )

    entries: dict = {
        "q1_pricing_summary": DR.FINAL_REGISTRY["q1_pricing_summary"].spark,
        "q3_top_orders": DR.FINAL_REGISTRY["q3_top_orders"].spark,
        "q3_top_orders_bucketed": q3_bucketed,
        "q5_regional_revenue": DR.FINAL_REGISTRY["q5_regional_revenue"].spark,
        "q5_regional_revenue_bucketed": q5_bucketed,
        "tpch_q9": _trio_scan("q9"),
        "tpch_q9_bucketed": _trio_bucketed("q9"),
        "tpch_q12": _trio_scan("q12"),
        "tpch_q12_bucketed": _trio_bucketed("q12"),
        "tpch_q21": _trio_scan("q21"),
        "tpch_q21_bucketed": _trio_bucketed("q21"),
        "dedup_exact": DR.FINAL_REGISTRY["dedup_exact"].spark,
        "dedup_minhash_lsh": DR.FINAL_REGISTRY["dedup_minhash_lsh"].spark,
        "dedup_components": bounded["dedup_components"][0],
        "dedup_simhash": bounded["dedup_simhash"][0],
        "dedup_ngram_jaccard": bounded["dedup_ngram_jaccard"][0],
        "decontaminate_train_split": DR.FINAL_REGISTRY[
            "decontaminate_train_split"
        ].spark,
        "decontaminate_direct": _decontaminate_direct,
        "text_stats": DR.FINAL_REGISTRY["text_stats"].spark,
        # round 14: the language/quality kernel twin of text_stats —
        # its ×1000 row lands beside text_stats' so the kernel family's
        # scale behavior is tracked per entry
        "text_lang_quality": DR.FINAL_REGISTRY["text_lang_quality"].spark,
        "doc_fingerprint": DR.FINAL_REGISTRY["doc_fingerprint"].spark,
        "similarity_topk": DR.FINAL_REGISTRY["similarity_topk"].spark,
        # round 12: the events/window plan families (the rung had no
        # events-table entry — 100M events at ×1000). skew_salted_agg =
        # the two-stage salted aggregation over 100M events (the skew
        # lever's agg half at the top rung). The registry entry's OTHER
        # half, skew_salted_join, is a measured rejection at ×1000: its
        # deliberate ×8 replication of the 150M-row orders side is a
        # ~40 GB shuffle that exceeded this rung's single-local-disk
        # budget (92% disk at kill) — and TPC-H orderkeys are uniform,
        # so the rung has no skew for the replication to pay for; on a
        # cluster the same replication is the standard hot-key remedy
        # and the ×10/×100 oracle rungs keep proving its semantics.
        # window_suite = one-shuffle analytic windows over 150M orders;
        # event_graph_suite = funnel/cohort/anomaly over 100M events +
        # the constant-size (verbatim-copied nation-key) graph parts —
        # its anomaly part deliberately exercises the exact-median
        # whole-group Arrow UDAF at ~20M rows/group, the known scale
        # price of the exact contract
        "skew_salted_agg": _skew_salted_agg,
        "window_suite": DR.FINAL_REGISTRY["window_suite"].spark,
        "window_suite_bucketed": window_bucketed,
        "event_graph_suite": DR.FINAL_REGISTRY["event_graph_suite"].spark,
        "anomaly_exact_median": _anomaly("exact"),
        "anomaly_approx_median": _anomaly("approx"),
        # round 12b: the remaining uncovered plan families — the
        # indexed-similarity stack (LSH/IVF/int8/prebuilt over 2M
        # vectors; brute-force topk is the existing baseline row) and
        # the vocab/BM25 retrieval stack (shared tokenization + index
        # build + dual scoring over 5M docs). Both pay their cost
        # eagerly at build, so every timed rep includes the build, and
        # their phase maps are read back from the status store, same
        # convention as the ×100 sweep's inline phase maps.
        "similarity_ann": DR.FINAL_REGISTRY["similarity_ann"].spark,
        "vocab_top_tokens": DR.FINAL_REGISTRY["vocab_top_tokens"].spark,
    }
    if only is not None:
        unknown = only - set(entries)
        if unknown:
            raise SystemExit(f"--only names not in the probe subset: {unknown}")
        entries = {k: v for k, v in entries.items() if k in only}

    results: dict[str, dict] = {}
    prior: dict = {}
    if only is not None and os.path.exists(out_path):
        with open(out_path) as f:
            prior = json.load(f)
        results = prior.get("results", {})
    canary = prior.get("canary", {}) if prior else {}
    ckey = "start" if not prior else "only_start"
    canary[ckey] = canary_with_cache(spark)
    print(f"canary[{ckey}]", canary[ckey], flush=True)
    t_all = time.time()

    def flush() -> None:
        if prior:
            # --only merge: preserve EVERY prior top-level field (incl.
            # vintage canaries a multi-vintage artifact carries); this
            # run contributes its rows, its only_* canary keys, and its
            # own wall clock beside the full run's
            out = dict(prior)
            out["results"] = results
            out["canary"] = canary
            out["only_wall_s"] = round(time.time() - t_all, 1)
        else:
            out = {
                "sf_dir": sf_dir,
                "role": "x1000 spark-only rung — noop-sink timing + "
                "row-count sanity; no oracle (see module docstring); "
                "min-of-reps",
                "reps": reps,
                "wall_s": round(time.time() - t_all, 1),
                "canary": canary,
                "results": results,
            }
        with open(out_path, "w") as f:
            json.dump(out, f, indent=1)

    # build is idempotent (tableExists): the FIRST bucketed entry pays
    # prepare_s, the second records ~0 — one ingest shuffle amortized
    # across every fact-join query, which is the layout's argument
    prepares = {
        "q3_top_orders_bucketed": prepare_buckets,
        "q5_regional_revenue_bucketed": prepare_buckets,
        "tpch_q9_bucketed": prepare_buckets,
        "tpch_q12_bucketed": prepare_buckets,
        "tpch_q21_bucketed": prepare_buckets,
        "window_suite_bucketed": prepare_ckey_buckets,
    }

    names = list(entries)
    for idx, name in enumerate(names):
        if idx == len(names) // 2:
            mkey = "mid" if not prior else "only_mid"
            canary[mkey] = canary_with_cache(spark)
            print(f"canary[{mkey}]", canary[mkey], flush=True)
        fn = entries[name]
        times: list[float] = []
        prep_s = None
        try:
            if name in prepares:
                t0 = time.time()
                prepares[name](spark, sf_dir)
                prep_s = round(time.time() - t0, 1)
            ops: dict[str, float] = {}
            for _ in range(reps):
                spark.catalog.clearCache()
                w = job_watermark(spark)
                t0 = time.time()
                df = fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                times.append(round(time.time() - t0, 1))
                # min-of-reps per phase, like the headline
                for op, v in phase_seconds(spark, name, w).items():
                    ops[op] = min(ops.get(op, v), v)
            # the last timed rep's frame: a fresh build would re-run the
            # eager index builds untimed just to count rows
            n_rows = df.count()
            results[name] = {
                "spark_s": min(times),
                "spark_s_reps": times,
                "rows": n_rows,
            }
            if prep_s is not None:
                # one-time ingest cost (bucket materialization), NOT part
                # of the per-query timing — the layout's whole point
                results[name]["prepare_s"] = prep_s
            if ops:
                results[name]["op_spark_s"] = ops
        except Exception as e:
            results[name] = {"err": str(e)[:300], "spark_s_reps": times}
        print(name, results[name], flush=True)
        flush()

    ekey = "end" if not prior else "only_end"
    canary[ekey] = canary_with_cache(spark)
    print(f"canary[{ekey}]", canary[ekey], flush=True)
    flush()


if __name__ == "__main__":
    main()
