"""Second scaling decade (VERDICT r8 next #4): time the 12 heaviest
catalog queries at sf1 (<tables.STATE_ROOT>/sf1) and sf10
(<tables.STATE_ROOT>/sf10, tools/make_sf1.py 100) in one session and
print per-query walls + sf1→sf10 ratios. Each query runs twice per
sf; the WARM run carries the scaling signal (the cold run includes
one-time build_once artifacts — index builds, label stores — whose
cost is amortized in steady state), both are printed. Results land in
BENCH_SF10.md.

Usage: python tools/bench_sf10.py [query_filter ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEAVY = [
    "q_pagerank_orders",
    "q_dup_clusters",
    "q_minhash_lsh_pairs",
    "q_simhash_pairs",
    "q_exact_span_dedup",
    "q_ngram_containment_pairs",
    "q_bm25_topk",
    "q_entity_resolution",
    "q_decontaminate_bloom",
    "q_profile_events",
    "q_sessionize_skew_safe",
    "q_fuzzy_join_names",
    # r10 (VERDICT r9 next #5): the streaming drains. Micro-batch
    # COUNT is pinned by each scenario (6 range files / fixed CDC
    # batches), so a decade step multiplies rows-per-batch by 10 —
    # the scaling axis a streaming job actually faces. Their "warm"
    # run re-executes the full drain (each scenario resets its own
    # run dir), so warm≈cold here; the ratio still carries the
    # signal.
    "q_stream_incremental_mv",
    "q_stream_merge_upserts",
    "q_stream_sessionize_capped",
]

from batch_processing_etl_orchestration_spark.tables import STATE_ROOT  # noqa: E402

SF1 = os.path.join(STATE_ROOT, "sf1")
SF10 = os.path.join(STATE_ROOT, "sf10")


def main() -> None:
    from batch_processing_etl_orchestration_spark.plans import QUERIES
    from batch_processing_etl_orchestration_spark.session import get_spark

    filters = sys.argv[1:]
    names = [n for n in HEAVY if not filters or any(f in n for f in filters)]
    spark = get_spark(
        "bench-sf10",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        extra_conf={
            "spark.sql.shuffle.partitions": "64",
            "spark.driver.memory": "48g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    results: dict[str, dict] = {}
    for name in names:
        fn = QUERIES[name].fn
        fn(spark, "/root/testdata/sf0.01").count()  # plan/JIT warm
        row: dict = {}
        for sf_key, sf_dir in (("sf1", SF1), ("sf10", SF10)):
            t0 = time.perf_counter()
            n = fn(spark, sf_dir).count()
            cold = time.perf_counter() - t0
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            warm = time.perf_counter() - t0
            row[sf_key] = {"rows": n, "cold": round(cold, 2), "warm": round(warm, 2)}
        row["ratio_warm"] = round(row["sf10"]["warm"] / max(0.01, row["sf1"]["warm"]), 2)
        row["ratio_cold"] = round(row["sf10"]["cold"] / max(0.01, row["sf1"]["cold"]), 2)
        results[name] = row
        print(f"RESULT {name} {json.dumps(row)}", flush=True)

    print("SUMMARY " + json.dumps(results), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
