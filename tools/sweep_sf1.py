"""Full-catalog sf1 sweep runner (the once-per-round late check from
the round protocol): every registered query oracle-compared against
DuckDB at the sf1 fixture, EXCEPT the queries whose sf1 verification
is owned by tools/verify_sf1_structural.py (their direct oracles are
CTE-recursion-heavy at sf1 — the structural tool verifies the same
values via DuckDB-computed per-replica / blocked / base-expansion
oracles instead). Run both; record in BENCH_SF1.md:

    python tools/sweep_sf1.py            # catalog minus STRUCTURAL
    python tools/verify_sf1_structural.py

Exit code 1 on any failure.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# sf1 verification for these is owned by verify_sf1_structural.py
# (kept in sync with its coverage — it asserts on these names too).
STRUCTURAL = {
    "q_dup_clusters",
    "q_minhash_lsh_pairs",
    "q_corpus_assembly",
    "q_dedup_keep_canonical",
    "q_fuzzy_join_names",
    "q_entity_resolution",
    "q_dedup_delta_batch",
    "q_leakage_safe_split",
    "q_embedding_near_dup_pairs",
    "q_embedding_near_dup_lsh",
    "q_pack_sequences",
}


def main() -> None:
    from batch_processing_etl_orchestration_spark.plans import QUERIES
    from batch_processing_etl_orchestration_spark.session import get_spark
    from batch_processing_etl_orchestration_spark.tables import STATE_ROOT
    from tests.oracle_utils import compare_query

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.join(STATE_ROOT, "sf1"))
    spark = get_spark("sweep-sf1", master="local[8]", extra_conf={
        "spark.sql.shuffle.partitions": "8",
        "spark.driver.memory": "6g",
    })
    spark.sparkContext.setLogLevel("ERROR")
    missing = STRUCTURAL - set(QUERIES)
    if missing:
        print(f"STALE STRUCTURAL list (renamed queries?): {missing}",
              file=sys.stderr)
        sys.exit(1)
    n_pass = n_rows_only = n_fail = 0
    t_start = time.perf_counter()
    for name, spec in sorted(QUERIES.items()):
        if name in STRUCTURAL:
            continue
        t0 = time.perf_counter()
        try:
            if spec.oracle is None:
                # A rows-only execution is NOT a hash-match — count it
                # separately so the summary transcribed into
                # BENCH_SF1.md can never overstate cross-engine
                # verification (review r11).
                n = spec.fn(spark, sf).count()
                print(f"PASS(rows-only) {name}: {n} rows  "
                      f"[{time.perf_counter() - t0:.1f}s]", flush=True)
                n_rows_only += 1
            else:
                compare_query(
                    spark, sf, spec.fn, spec.oracle,
                    allow_empty="empty-ok" in spec.tags,
                )
                print(f"PASS {name}  [{time.perf_counter() - t0:.1f}s]",
                      flush=True)
                n_pass += 1
        except Exception as e:  # keep sweeping; report at the end
            msg = str(e).split("\n")[0][:300]
            print(f"FAIL {name}: {type(e).__name__}: {msg}  "
                  f"[{time.perf_counter() - t0:.1f}s]", flush=True)
            n_fail += 1
    print(f"== sweep {n_pass} hash-matched, {n_rows_only} rows-only, "
          f"{n_fail} failed, {len(STRUCTURAL)} structural-deferred "
          f"[{time.perf_counter() - t_start:.1f}s]")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
