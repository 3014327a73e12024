"""Third scaling decade spot-check (VERDICT r9 stretch #7, extended
r11 with the events family per VERDICT r10 next #6): time the heaviest
LINEAR-claimed queries at sf10 and sf100 and print warm sf10→sf100
ratios for BENCH_SF10.md.

Query families, selected with --family:
- docs      (r10): q_minhash_lsh_pairs, q_exact_span_dedup,
  q_decontaminate_bloom — read ONLY documents.
- events    (r11): q_sessionize_skew_safe (events),
  q_pagerank_orders (orders), q_dup_clusters (documents).
- streaming (r11): the three drains, rows-per-batch ×10.
- documents (r12): the remaining shingle-pair queries.
- retrieval (r12): q_bm25_topk (documents; cold carries the index
  build), q_fuzzy_join_names / q_entity_resolution (customer).
- selection (r12): the new NB-classifier / DSIR selection operators
  (documents only).

The sf100 fixture is built per-table on demand (documents ~4 GB,
events ~1.6 GB, orders ~2 GB — never the full ~16 GB tree): 1000
key-offset replicas of the sf0.1 tables with the SAME transforms as
make_sf1 (doc_transform / key offsets imported from tools.make_sf1 so
the construction cannot drift). Replicas are written in chunks of 50
(appended) — a single 1000-way union makes one enormous plan; 20 ×
50-way unions keep planning flat.

Usage: python tools/bench_sf100.py [--build-only|--bench-only]
                                   [--family docs|documents|events|
                                    streaming|retrieval|selection|all]
                                   [--queries a,b]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from batch_processing_etl_orchestration_spark.tables import STATE_ROOT  # noqa: E402

REPLICAS = 1000
CHUNK = 50
SF100 = os.path.join(STATE_ROOT, "sf100")
SF10 = os.path.join(STATE_ROOT, "sf10")
MARKER = os.path.join(SF100, "_BUILD_OK")

QUERIES_3 = ["q_minhash_lsh_pairs", "q_exact_span_dedup", "q_decontaminate_bloom"]
QUERIES_EVENTS = ["q_sessionize_skew_safe", "q_pagerank_orders", "q_dup_clusters"]
# r12 (VERDICT r11 next #5): the REST of the dedup/shingle family —
# the shingle-pair queries whose third decade was still unmeasured
# (q_minhash_lsh_pairs/q_exact_span_dedup ran at sf100 in r10,
# q_dup_clusters in r11). All read ONLY documents.
QUERIES_DOCUMENTS = [
    "q_ngram_jaccard_pairs",
    "q_ngram_containment_pairs",
    "q_simhash_pairs",
]
# The streaming drains: micro-batch COUNT is pinned by each scenario,
# so sf10→sf100 multiplies ROWS PER BATCH by 10 (the axis a streaming
# job actually faces — same protocol as the r10 sf1→sf10 decade).
QUERIES_STREAMING = [
    "q_stream_incremental_mv",
    "q_stream_merge_upserts",
    "q_stream_sessionize_capped",
    # r14 (VERDICT r13 #4/#3): the model-based quality gate and the
    # index-maintenance drain — both read only documents; per-batch
    # cost must track rows-per-batch, not corpus size
    "q_stream_quality_filter",
    "q_stream_index_maintain",
]
# r12 (proactive): the retrieval/resolution family — the last HEAVY
# (bench_sf10) members without a third decade. q_bm25_topk reads only
# documents (its postings index rebuilds per fixture via build_once —
# the COLD number carries the index build, WARM is the serving cost);
# the fuzzy/entity pair read the 15M-row sf100 customer fixture.
QUERIES_RETRIEVAL = [
    "q_bm25_topk",
    "q_fuzzy_join_names",
    "q_entity_resolution",
    # r14 (VERDICT r13 #4/#1): the pruning attestations — the classic
    # report prices the bounded plan-cost floor (should be ~flat per
    # decade), the impact report attests real block skips at scale
    "q_bm25_blockmax_prune_report",
    "q_bm25_impact_prune_report",
]
# r12: the new model-based selection operators — measured at their
# birth round so the scale claim ships with decade evidence. Both
# read ONLY documents (linear scans + broadcast weight tables).
QUERIES_SELECTION = [
    "q_nb_quality_classifier",
    "q_dsir_importance_weights",
    # r14 (VERDICT r13 #4): rule-based quality gate — one linear scan
    "q_gopher_quality_rules",
]
# r14 (VERDICT r13 #2): the ANN serving paths over the replicated
# embeddings fixture — the lifecycle query exercises the segmented/
# tombstoned IvfIndex at decade scale. Replicas duplicate vectors
# verbatim (ids offset), so recall attestations are trivially met and
# the decade measures THROUGHPUT of the probe/build machinery.
QUERIES_SIMILARITY = [
    "q_ann_ivf_lifecycle",
    "q_ann_ivf_topk",
    "q_ann_int8_topk",
    # r15: measured at birth — streaming IVF maintenance (drains the
    # whole replicated corpus through foreachBatch add_segment) and
    # hybrid RRF served from the persisted text+vector indexes (cold
    # pays both index builds)
    "q_stream_ivf_maintain",
    "q_hybrid_search_rrf_served",
]


def build(spark) -> None:
    from tools.make_sf1 import SRC, doc_transform

    from batch_processing_etl_orchestration_spark.tables import load_table

    if os.path.isfile(MARKER):
        print("sf100 docs already built")
        return
    base = load_table(spark, SRC, "documents")
    doc_off = base.agg(F.max("doc_id")).first()[0] + 1
    dest = os.path.join(SF100, "documents.parquet")
    import shutil

    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(SF100, exist_ok=True)
    t0 = time.perf_counter()
    for lo in range(0, REPLICAS, CHUNK):
        reps = []
        for r in range(lo, min(lo + CHUNK, REPLICAS)):
            df = base.withColumn("doc_id", F.col("doc_id") + F.lit(r * doc_off))
            reps.append(doc_transform(df, r))
        out = reps[0]
        for df in reps[1:]:
            out = out.unionByName(df)
        out.write.mode("append").parquet(dest)
        print(f"  replicas {lo}..{lo + len(reps) - 1} written", flush=True)
    n = spark.read.parquet(dest).count()
    with open(MARKER, "w") as f:
        f.write(f"{n}\n")
    print(f"sf100 documents: {n} rows in {time.perf_counter() - t0:.0f}s")


def build_events_family(spark) -> None:
    """events + orders replicas for QUERIES_EVENTS (documents already
    built by build()). Same chunked-append construction; own marker so
    the docs-only build stays valid on its own."""
    from tools.make_sf1 import SRC, _maxp1, _replicate

    from batch_processing_etl_orchestration_spark.tables import load_table

    marker = os.path.join(SF100, "_BUILD_OK_EVENTS")
    if os.path.isfile(marker):
        print("sf100 events/orders already built")
        return
    import shutil

    os.makedirs(SF100, exist_ok=True)
    offsets = {
        "events": {
            "event_id": _maxp1(spark, "events", "event_id"),
            "user_id": _maxp1(spark, "customer", "c_custkey"),
        },
        "orders": {
            "o_orderkey": _maxp1(spark, "orders", "o_orderkey"),
            "o_custkey": _maxp1(spark, "customer", "c_custkey"),
        },
    }
    counts = {}
    t0 = time.perf_counter()
    for name, offs in offsets.items():
        base = load_table(spark, SRC, name)
        dest = os.path.join(SF100, f"{name}.parquet")
        shutil.rmtree(dest, ignore_errors=True)
        for lo in range(0, REPLICAS, CHUNK):
            reps = [
                _replicate(base, r, offs)
                for r in range(lo, min(lo + CHUNK, REPLICAS))
            ]
            out = reps[0]
            for df in reps[1:]:
                out = out.unionByName(df)
            out.write.mode("append").parquet(dest)
        counts[name] = spark.read.parquet(dest).count()
        print(f"  sf100 {name}: {counts[name]} rows", flush=True)
    with open(marker, "w") as f:
        f.write(json.dumps(counts) + "\n")
    print(f"sf100 events/orders built in {time.perf_counter() - t0:.0f}s")


def build_customer(spark) -> None:
    """customer replicas for q_stream_merge_upserts' CDC scenario.
    Same key-offset construction as make_sf1, including its c_name
    rewrite (a real 100x corpus has 100x DISTINCT names; replica 0
    stays byte-identical)."""
    from tools.make_sf1 import SRC, _maxp1, _replicate

    from batch_processing_etl_orchestration_spark.tables import load_table

    marker = os.path.join(SF100, "_BUILD_OK_CUSTOMER")
    if os.path.isfile(marker):
        print("sf100 customer already built")
        return
    import shutil

    os.makedirs(SF100, exist_ok=True)
    cust_off = _maxp1(spark, "customer", "c_custkey")
    base = load_table(spark, SRC, "customer")
    dest = os.path.join(SF100, "customer.parquet")
    shutil.rmtree(dest, ignore_errors=True)
    t0 = time.perf_counter()
    for lo in range(0, REPLICAS, CHUNK):
        reps = []
        for r in range(lo, min(lo + CHUNK, REPLICAS)):
            df = _replicate(base, r, {"c_custkey": cust_off})
            if r > 0:  # make_sf1's cust_transform, inlined
                df = df.withColumn(
                    "c_name",
                    F.format_string("Customer#%09d", F.col("c_custkey")),
                )
            reps.append(df)
        out = reps[0]
        for df in reps[1:]:
            out = out.unionByName(df)
        out.write.mode("append").parquet(dest)
    n = spark.read.parquet(dest).count()
    with open(marker, "w") as f:
        f.write(f"{n}\n")
    print(f"sf100 customer: {n} rows in {time.perf_counter() - t0:.0f}s")


def build_embeddings(spark) -> None:
    """embeddings replicas for QUERIES_SIMILARITY — vec_id offset per
    replica, vectors duplicated verbatim (make_sf1's construction)."""
    from tools.make_sf1 import SRC, _maxp1, _replicate

    from batch_processing_etl_orchestration_spark.tables import load_table

    marker = os.path.join(SF100, "_BUILD_OK_EMBEDDINGS")
    if os.path.isfile(marker):
        print("sf100 embeddings already built")
        return
    import shutil

    os.makedirs(SF100, exist_ok=True)
    vec_off = _maxp1(spark, "embeddings", "vec_id")
    base = load_table(spark, SRC, "embeddings")
    dest = os.path.join(SF100, "embeddings.parquet")
    shutil.rmtree(dest, ignore_errors=True)
    t0 = time.perf_counter()
    for lo in range(0, REPLICAS, CHUNK):
        reps = [
            _replicate(base, r, {"vec_id": vec_off})
            for r in range(lo, min(lo + CHUNK, REPLICAS))
        ]
        out = reps[0]
        for df in reps[1:]:
            out = out.unionByName(df)
        out.write.mode("append").parquet(dest)
    n = spark.read.parquet(dest).count()
    with open(marker, "w") as f:
        f.write(f"{n}\n")
    print(f"sf100 embeddings: {n} rows in {time.perf_counter() - t0:.0f}s")


def bench(spark, names: list[str]) -> None:
    from batch_processing_etl_orchestration_spark.plans import QUERIES

    results: dict[str, dict] = {}
    for name in names:
        fn = QUERIES[name].fn
        fn(spark, "/root/testdata/sf0.01").count()  # plan/JIT warm
        row: dict = {}
        for sf_key, sf_dir in (("sf10", SF10), ("sf100", SF100)):
            t0 = time.perf_counter()
            n = fn(spark, sf_dir).count()
            cold = time.perf_counter() - t0
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            warm = time.perf_counter() - t0
            row[sf_key] = {
                "rows": n, "cold": round(cold, 2), "warm": round(warm, 2)
            }
        row["ratio_warm"] = round(
            row["sf100"]["warm"] / max(0.01, row["sf10"]["warm"]), 2
        )
        row["ratio_cold"] = round(
            row["sf100"]["cold"] / max(0.01, row["sf10"]["cold"]), 2
        )
        results[name] = row
        print(f"RESULT {name} {json.dumps(row)}", flush=True)
    print("SUMMARY " + json.dumps(results), flush=True)


def main() -> None:
    from batch_processing_etl_orchestration_spark.session import get_spark

    # Validate argv BEFORE the ~30s session build (review r11): a
    # missing/typo'd --family value should be a usage error, not an
    # IndexError/KeyError after Spark is already up.
    family = "docs"
    if "--family" in sys.argv:
        idx = sys.argv.index("--family")
        if idx + 1 >= len(sys.argv) or sys.argv[idx + 1] not in (
            "docs", "documents", "events", "streaming", "retrieval", "selection", "similarity", "all"
        ):
            sys.exit("usage: bench_sf100.py [--build-only|--bench-only] "
                     "[--family docs|documents|events|streaming|retrieval|selection|similarity|all]")
        family = sys.argv[idx + 1]
    names = {
        "docs": QUERIES_3,
        "documents": QUERIES_DOCUMENTS,
        "events": QUERIES_EVENTS,
        "streaming": QUERIES_STREAMING,
        "retrieval": QUERIES_RETRIEVAL,
        "selection": QUERIES_SELECTION,
        "similarity": QUERIES_SIMILARITY,
        "all": QUERIES_3 + QUERIES_DOCUMENTS + QUERIES_EVENTS
               + QUERIES_STREAMING + QUERIES_RETRIEVAL
               + QUERIES_SELECTION + QUERIES_SIMILARITY,
    }[family]
    if "--queries" in sys.argv:
        # resume/selective re-run: comma-separated names, must belong
        # to the selected family (keeps fixtures consistent). Validate
        # BEFORE the session build (review r12): a trailing bare
        # --queries or an empty spec (e.g. an unset shell variable)
        # must be a usage error, never an IndexError or a silent
        # zero-query "success".
        idx = sys.argv.index("--queries")
        if idx + 1 >= len(sys.argv):
            sys.exit("usage: --queries a,b (comma-separated names)")
        spec = sys.argv[idx + 1]
        wanted = [q.strip() for q in spec.split(",") if q.strip()]
        if not wanted:
            sys.exit(f"--queries {spec!r}: no query names given")
        unknown = [q for q in wanted if q not in names]
        if unknown:
            sys.exit(f"--queries {unknown} not in family {family!r}: {names}")
        names = wanted

    spark = get_spark(
        "bench-sf100",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        extra_conf={
            "spark.sql.shuffle.partitions": "128",
            "spark.driver.memory": "64g",
            # r12: the containment-pairs sf100 cold run starved the
            # local-mode heartbeat thread (32 saturated cores + spill
            # I/O) long enough for the executor's 60-miss suicide —
            # "Exit as unable to send heartbeats" → block manager
            # wiped → cascade of shuffle-file-not-found → context
            # shutdown. Local mode shares one process; a heartbeat
            # miss is never a lost machine, so make the window huge.
            "spark.executor.heartbeatInterval": "60s",
            "spark.network.timeout": "1200s",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    if "--bench-only" not in sys.argv:
        build(spark)  # documents (q_dup_clusters needs it too)
        if family in ("events", "streaming", "all"):
            build_events_family(spark)
        if family in ("streaming", "retrieval", "all"):
            build_customer(spark)
        if family in ("similarity", "all"):
            build_embeddings(spark)
    if "--build-only" not in sys.argv:
        bench(spark, names)
    spark.stop()


if __name__ == "__main__":
    main()
