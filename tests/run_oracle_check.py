"""Standalone oracle-check runner: times each catalog query on Spark
and DuckDB at sf0.01 (override the fixture dir with
SPARK_GRAFT_SF_DIR, e.g. the sf1 scale-up fixture), prints one line
per query. Usage:
    python tests/run_oracle_check.py [name_filter ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

# The checkout that holds this file, so a copy of the repository checks
# its own package.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from batch_processing_etl_orchestration_spark.plans import QUERIES
from batch_processing_etl_orchestration_spark.session import get_spark
from tests.oracle_utils import compare_query


def main() -> None:
    filters = sys.argv[1:]
    spark = get_spark("oracle-check", master="local[8]", extra_conf={
        "spark.sql.shuffle.partitions": "8",
        "spark.driver.memory": "6g",
    })
    spark.sparkContext.setLogLevel("ERROR")
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    n_pass = n_fail = 0
    for name, spec in sorted(QUERIES.items()):
        if filters and not any(f in name for f in filters):
            continue
        t0 = time.perf_counter()
        try:
            if spec.oracle is None:
                n = spec.fn(spark, sf).count()
                print(f"PASS(rows-only) {name}: {n} rows  [{time.perf_counter()-t0:.1f}s]", flush=True)
            else:
                compare_query(
                    spark, sf, spec.fn, spec.oracle,
                    allow_empty="empty-ok" in spec.tags,
                )
                print(f"PASS {name}  [{time.perf_counter()-t0:.1f}s]", flush=True)
            n_pass += 1
        except Exception as e:
            msg = str(e).split("\n")[0][:300]
            print(f"FAIL {name}: {type(e).__name__}: {msg}  [{time.perf_counter()-t0:.1f}s]", flush=True)
            if "-v" in filters:
                traceback.print_exc()
            n_fail += 1
    print(f"== {n_pass} passed, {n_fail} failed", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
