"""Adversarial-duplication fixture (VERDICT r8 next #2): the two skew
shapes the sf1 replica construction is structurally incapable of
expressing —

(a) BOILERPLATE: one fixed paragraph appended to p% (default 30%) of
    documents. Every shingle inside it has document frequency p·|docs|,
    so a raw shingle self-join would put (p·|docs|)² candidate pairs on
    each of its shingle keys — the hot-shingle quadratic mode the
    df-cap (operators/dedup.df_capped_shingle_split) exists to bound.
(b) HOT ENTITY: ~50% of events remapped to ONE user_id — the window-
    skew shape AQE cannot split (a window partition is one task),
    countered by operators/sessionize.sessionize_blocked.

Deterministic (doc_id / event_id modulus — no RNG). Other tables are
byte-copied so the full catalog still runs against the output dir.

Usage: python tools/make_adversarial.py [src_dir] [out_dir]
       (defaults: /root/testdata/sf0.1 → <tables.STATE_ROOT>/adversarial)
Verification sweep + SCALE.md numbers: tools/verify_adversarial.py;
fixture-scale assertions: tests/test_adversarial.py.
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from batch_processing_etl_orchestration_spark.fixtures import (
    ADVERSARIAL_BOILER as BOILER,
    ADVERSARIAL_BOILER_PCT as BOILER_PCT,
    ADVERSARIAL_HOT_EVENT_MOD as HOT_EVENT_MOD,
    ADVERSARIAL_HOT_SOURCE as HOT_SOURCE,
    ADVERSARIAL_HOT_SOURCE_MOD as HOT_SOURCE_MOD,
    ADVERSARIAL_MEGA_PHRASE as MEGA_PHRASE,
    ADVERSARIAL_MEGA_REPEAT as MEGA_REPEAT,
)

# Constants live in the package (fixtures.py) so the registered
# attestation query q_adversarial_skew_report and this generator can
# never drift apart; the local names keep this module's CLI/test
# surface unchanged.


def build(spark, src: str, out: str) -> dict:
    """Write the adversarial tables; returns summary counts."""
    from batch_processing_etl_orchestration_spark.tables import load_table

    os.makedirs(out, exist_ok=True)

    d = load_table(spark, src, "documents")
    boilered = F.col("doc_id") % 100 < BOILER_PCT
    # selection-family shapes (r13): mega-document on the min doc_id
    # (replaced BEFORE the boiler append, so the fixture doc carries
    # 10⁶ phrase tokens + the paragraph), one source owning 90%
    mn = d.agg(F.min("doc_id").alias("_mn"))
    mega_text = F.rtrim(
        F.repeat(F.lit(MEGA_PHRASE + " "), MEGA_REPEAT)
    )
    docs = (
        d.crossJoin(F.broadcast(mn))
        .withColumn(
            "text",
            F.when(F.col("doc_id") == F.col("_mn"), mega_text).otherwise(
                F.col("text")
            ),
        )
        .withColumn(
            "text",
            F.when(boilered, F.concat("text", F.lit(" " + BOILER))).otherwise(
                F.col("text")
            ),
        )
        .withColumn(
            "source",
            F.when(
                F.col("doc_id") % HOT_SOURCE_MOD != 0, F.lit(HOT_SOURCE)
            ).otherwise(F.col("source")),
        )
        .drop("_mn")
        .withColumn("n_chars", F.length("text"))
    )
    docs.write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))

    ev = load_table(spark, src, "events")
    hot_user = ev.agg(F.min("user_id")).first()[0]
    events = ev.withColumn(
        "user_id",
        F.when(
            F.col("event_id") % HOT_EVENT_MOD == 0, F.lit(hot_user)
        ).otherwise(F.col("user_id")),
    )
    events.write.mode("overwrite").parquet(os.path.join(out, "events.parquet"))

    for name in (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "embeddings",
    ):
        src_p = os.path.join(src, f"{name}.parquet")
        dst_p = os.path.join(out, f"{name}.parquet")
        if os.path.isdir(src_p):
            shutil.rmtree(dst_p, ignore_errors=True)
            shutil.copytree(src_p, dst_p)
        else:
            shutil.copyfile(src_p, dst_p)

    n_docs = docs.count()
    return {
        "out": out,
        "n_docs": n_docs,
        "n_boilered": docs.where(boilered).count(),
        "n_events": events.count(),
        "hot_user": hot_user,
        "hot_events": events.where(F.col("user_id") == hot_user).count(),
        "n_hot_source": docs.where(
            F.col("source") == HOT_SOURCE
        ).count(),
    }


def main() -> None:
    from batch_processing_etl_orchestration_spark.session import get_spark
    from batch_processing_etl_orchestration_spark.tables import STATE_ROOT

    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        STATE_ROOT, "adversarial"
    )
    spark = get_spark(
        "make-adversarial",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
    )
    spark.sparkContext.setLogLevel("ERROR")
    print(build(spark, src, out))


if __name__ == "__main__":
    main()
