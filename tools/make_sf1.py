"""Deterministic sf1 fixture: a 10× key-offset replication of the
sf0.1 testdata, written to <tables.STATE_ROOT>/sf1 (the testdata tree
is read-only). No RNG — replica r of each fact/entity
table shifts every key by r × (max key + 1), so join fan-outs,
group-count growth, and skew shape scale the way a real 10× corpus
would: 10× users over the same time range, 10× orders across 10×
customers, 10× docs with constant near-dup density.

Near-dup density: replicated documents get every third word suffixed
with a replica token ('z{r}'), so every cross-replica 3-gram shingle
window contains a differing word — cross-replica Jaccard ≈ 0, and the
duplicate-cluster structure (and LSH bucket load) grows linearly with
the corpus instead of quadratically. In-replica near-dup pairs are
preserved (same positional transform on both sides of a pair).

Dims (region, nation) stay fixed, like TPC-H scaling.

Usage: python tools/make_sf1.py [replicas] (default 10)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

from batch_processing_etl_orchestration_spark.session import get_spark
from batch_processing_etl_orchestration_spark.tables import STATE_ROOT, load_table

SRC = "/root/testdata/sf0.1"
OUT = os.path.join(STATE_ROOT, "sf1")  # default for 10 replicas; sfN/10 otherwise

# (table, key columns to offset by that table's own entity count,
#  foreign keys to offset by the referenced table's count)
_MAX = {}


def _maxp1(spark, name: str, col: str) -> int:
    key = (name, col)
    if key not in _MAX:
        _MAX[key] = load_table(spark, SRC, name).agg(F.max(col)).first()[0] + 1
    return _MAX[key]


def _replicate(df: DataFrame, r: int, offsets: dict[str, int]) -> DataFrame:
    for col, off in offsets.items():
        df = df.withColumn(col, F.col(col) + F.lit(r * off))
    return df


def doc_transform(df: DataFrame, r: int) -> DataFrame:
    """Replica-r document texts: suffix every 3rd word with a replica
    token so no 3-word shingle window survives across replicas —
    cross-replica Jaccard ≈ 0 and near-dup density stays CONSTANT as
    replicas grow (module-level so tools/bench_sf100.py builds its
    docs-only third decade with the identical construction)."""
    if r == 0:
        return df
    return df.withColumn(
        "text",
        F.array_join(
            F.transform(
                F.split(F.col("text"), " "),
                lambda w, i: F.when(
                    i % 3 == 2, F.concat(w, F.lit(f"z{r}"))
                ).otherwise(w),
            ),
            " ",
        ),
    ).withColumn("n_chars", F.length("text"))


def main(replicas: int = 10, out_dir: str | None = None) -> None:
    """replicas=10 → the sf1 fixture; any other N writes
    <tables.STATE_ROOT>/sf{N/10:g} (e.g. 100 → sf10, the second
    scaling decade). Same deterministic key-offset
    construction at every N; the destination is a local, so repeated
    in-process calls stay order-independent (review r9)."""
    if out_dir is None:
        out_dir = (
            OUT if replicas == 10
            else os.path.join(STATE_ROOT, f"sf{replicas / 10:g}")
        )
    spark = get_spark("make-sf1", master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
    os.makedirs(out_dir, exist_ok=True)

    cust_off = _maxp1(spark, "customer", "c_custkey")
    supp_off = _maxp1(spark, "supplier", "s_suppkey")
    part_off = _maxp1(spark, "part", "p_partkey")
    order_off = _maxp1(spark, "orders", "o_orderkey")
    event_off = _maxp1(spark, "events", "event_id")
    doc_off = _maxp1(spark, "documents", "doc_id")
    vec_off = _maxp1(spark, "embeddings", "vec_id")

    plans: dict[str, list[DataFrame]] = {}

    def add(name: str, offsets: dict[str, int], transform=None) -> None:
        base = load_table(spark, SRC, name)
        reps = []
        for r in range(replicas):
            df = _replicate(base, r, offsets)
            if transform is not None:
                df = transform(df, r)
            reps.append(df)
        plans[name] = reps

    def cust_transform(df: DataFrame, r: int) -> DataFrame:
        # Keep c_name consistent with the offset key: a real 10×
        # corpus has 10× DISTINCT names. Replicating names verbatim
        # made every name-keyed bucket carry 10 copies and the fuzzy
        # join's true match set itself ×(replicas²) — a fixture
        # artifact, not workload shape. Replica 0 stays byte-identical.
        if r == 0:
            return df
        return df.withColumn(
            "c_name", F.format_string("Customer#%09d", F.col("c_custkey"))
        )

    add("customer", {"c_custkey": cust_off}, transform=cust_transform)
    add("supplier", {"s_suppkey": supp_off})
    add("part", {"p_partkey": part_off})
    add("orders", {"o_orderkey": order_off, "o_custkey": cust_off})
    add(
        "lineitem",
        {"l_orderkey": order_off, "l_partkey": part_off, "l_suppkey": supp_off},
    )
    add("events", {"event_id": event_off, "user_id": cust_off})
    add("documents", {"doc_id": doc_off}, transform=doc_transform)
    add("embeddings", {"vec_id": vec_off})

    for name, reps in plans.items():
        out = reps[0]
        for df in reps[1:]:
            out = out.unionByName(df)
        dest = os.path.join(out_dir, f"{name}.parquet")
        out.write.mode("overwrite").parquet(dest)
        print(f"{name}: {spark.read.parquet(dest).count()} rows -> {dest}")

    for name in ("nation", "region"):
        dest = os.path.join(out_dir, f"{name}.parquet")
        load_table(spark, SRC, name).write.mode("overwrite").parquet(dest)
        print(f"{name}: copied")

    print("done")


if __name__ == "__main__":
    main(
        int(sys.argv[1]) if len(sys.argv) > 1 else 10,
        sys.argv[2] if len(sys.argv) > 2 else None,
    )
