"""Run the near-dup / span-dedup / sessionize families against the
adversarial fixture (tools/make_adversarial.py) with per-stage
candidate-count readouts (VERDICT r8 next #2). Prints one line per
stage; the numbers land in SCALE.md.

Usage: python tools/verify_adversarial.py [adversarial_dir]
       (default: <tables.STATE_ROOT>/adversarial)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def stage(name, fn):
    t0 = time.perf_counter()
    out = fn()
    print(f"{name}: {out}  [{time.perf_counter() - t0:.1f}s]", flush=True)
    return out


def main() -> None:
    from batch_processing_etl_orchestration_spark.operators.dedup import (
        df_capped_shingle_split,
        shingle_df_cap,
    )
    from batch_processing_etl_orchestration_spark.operators.sessionize import (
        sessionize_blocked,
    )
    from batch_processing_etl_orchestration_spark.plans import QUERIES
    from batch_processing_etl_orchestration_spark.plans.northstar import (
        _df_capped_common,
        _shingles,
    )
    from batch_processing_etl_orchestration_spark.session import get_spark
    from batch_processing_etl_orchestration_spark.tables import (
        STATE_ROOT,
        load_table,
    )

    adv = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        STATE_ROOT, "adversarial"
    )
    spark = get_spark(
        "verify-adversarial",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        extra_conf={"spark.sql.shuffle.partitions": "32"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    d = load_table(spark, adv, "documents")
    sh = _shingles(d, 3)

    # stage 1 — the df-cap split: how much pair mass the cap removes
    def cap_stage():
        sdf = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        n_docs = d.count()
        cap = shingle_df_cap(d).first()["df_cap"]
        hot = sdf.where(F.col("df") > cap)
        mass = hot.agg(
            F.sum(F.col("df") * (F.col("df") - 1) / 2).cast("long")
        ).first()[0]
        return {
            "n_docs": n_docs,
            "df_cap": cap,
            "n_hot_shingles": hot.count(),
            "uncapped_pair_mass_on_hot_keys": mass,
        }

    cap_info = stage("df_cap", cap_stage)

    # stage 2 — capped candidate generation (the actual pair-join input)
    def cand_stage():
        cold, hot_sets = df_capped_shingle_split(sh, d)
        return {
            "cold_rows": cold.count(),
            "hot_set_docs": hot_sets.count(),
            "capped_candidates": _df_capped_common(cold, hot_sets).count(),
        }

    cand = stage("capped_candidates", cand_stage)
    blowup = cap_info["uncapped_pair_mass_on_hot_keys"] / max(
        1, cand["capped_candidates"]
    )
    print(f"hot-key pair mass the cap avoided: {blowup:,.0f}x the capped candidates")

    # stage 3 — the registered queries end to end
    for q in (
        "q_ngram_jaccard_pairs",
        "q_ngram_containment_pairs",
        "q_exact_span_dedup",
        "q_minhash_lsh_pairs",
        "q_dup_clusters",
    ):
        stage(q, lambda q=q: {"rows": QUERIES[q].fn(spark, adv).count()})

    # stage 4 — hot-entity sessionization: plain vs blocked parity and
    # the widest window partition each one sorts
    ev = load_table(spark, adv, "events").select("user_id", "event_id", "ts")
    gap_us = 30 * 60 * 1_000_000

    def sess_stage():
        from pyspark.sql import Window

        us = F.expr(
            "timestampdiff(MICROSECOND, "
            "cast(timestamp'1970-01-01 00:00:00' as timestamp_ntz), "
            "cast(ts as timestamp_ntz))"
        )
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        gap = us - F.lag(us).over(w)
        plain = ev.select(
            "user_id",
            "event_id",
            "ts",
            F.sum(
                F.when(gap.isNull() | (gap > gap_us), 1).otherwise(0)
            )
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("session_id"),
        )
        blocked = sessionize_blocked(ev, gap_us)
        mismatch = (
            plain.join(
                blocked.withColumnRenamed("session_id", "b_sid"),
                ["user_id", "event_id", "ts"],
            )
            .where(F.col("session_id") != F.col("b_sid"))
            .count()
        )
        widest_plain = (
            ev.groupBy("user_id").count().agg(F.max("count")).first()[0]
        )
        blk = F.floor(us / F.lit(24 * 60 * 60 * 1_000_000))
        widest_blocked = (
            ev.groupBy("user_id", blk.alias("b"))
            .count()
            .agg(F.max("count"))
            .first()[0]
        )
        return {
            "mismatched_rows": mismatch,
            "widest_window_task_plain": widest_plain,
            "widest_window_task_blocked": widest_blocked,
        }

    stage("sessionize_plain_vs_blocked", sess_stage)
    spark.stop()


if __name__ == "__main__":
    main()
