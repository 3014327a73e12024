"""Adversarial-duplication fixture (VERDICT r8 next #2): boilerplate
paragraph in 30% of documents + one user owning ~50% of events — the
two skew shapes the sf1 replica construction cannot express. Built
deterministically from sf0.01 by tools/make_adversarial.py; the sf0.1
sweep (tools/verify_adversarial.py) numbers live in SCALE.md."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

_CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_CHECKOUT, "tools"))


@pytest.fixture(scope="module")
def adv_dir(spark, tmp_path_factory):
    import make_adversarial

    out = str(tmp_path_factory.mktemp("adv"))
    info = make_adversarial.build(spark, "/root/testdata/sf0.01", out)
    assert info["n_boilered"] * 10 // info["n_docs"] == 3  # ~30%
    assert info["hot_events"] * 10 // info["n_events"] == 5  # ~50%
    return out


def test_boiler_shingles_are_hot_and_capped(spark, adv_dir):
    """Every 3-gram inside the boilerplate paragraph has df ≈ 30% of
    the corpus — far beyond the 1% cap — so the df split must route
    ALL of them out of the cold self-join, and the per-key fan-out of
    the surviving join must stay ≤ the cap."""
    import make_adversarial

    from batch_processing_etl_orchestration_spark.operators.dedup import (
        df_capped_shingle_split,
        shingle_df_cap,
        shingle_sets,
    )
    from batch_processing_etl_orchestration_spark.tables import load_table

    d = load_table(spark, adv_dir, "documents")
    sh = shingle_sets(d, 3)
    cold, hot_sets = df_capped_shingle_split(sh, d)

    boiler_words = make_adversarial.BOILER.split(" ")
    boiler_shingles = {
        " ".join(boiler_words[i : i + 3])
        for i in range(len(boiler_words) - 2)
    }
    cold_hits = cold.where(F.col("shingle").isin(list(boiler_shingles))).count()
    assert cold_hits == 0, "boilerplate shingles leaked into the cold join"

    cap = shingle_df_cap(d).first()["df_cap"]
    max_fanout = (
        cold.groupBy("shingle").count().agg(F.max("count")).first()[0]
    )
    assert max_fanout <= cap

    # every boilered doc carries its hot shingles for exact recombination
    n_boilered = d.where(F.col("doc_id") % 100 < make_adversarial.BOILER_PCT).count()
    assert hot_sets.count() >= n_boilered


def test_capped_candidates_bounded_vs_uncapped_mass(spark, adv_dir):
    """Per-stage candidate-count assertion: the pair mass the raw join
    would put on hot shingle keys is ≥ (0.3·n)²/2 per boiler shingle,
    while the capped candidate count stays ≤ cap · |cold rows| (the
    linear Broder bound) — and the registered queries complete."""
    from batch_processing_etl_orchestration_spark.operators.dedup import (
        df_capped_shingle_split,
        shingle_df_cap,
        shingle_sets,
    )
    from batch_processing_etl_orchestration_spark.plans import QUERIES
    from batch_processing_etl_orchestration_spark.plans.northstar import (
        _df_capped_common,
    )
    from batch_processing_etl_orchestration_spark.tables import load_table

    d = load_table(spark, adv_dir, "documents")
    sh = shingle_sets(d, 3)
    n_docs = d.count()
    cap = shingle_df_cap(d).first()["df_cap"]

    sdf = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    hot_mass = (
        sdf.where(F.col("df") > cap)
        .agg(F.sum(F.col("df") * (F.col("df") - 1) / 2).cast("long"))
        .first()[0]
    )
    boiler_f = int(n_docs * 0.3)
    assert hot_mass >= boiler_f * (boiler_f - 1) // 2  # quadratic mode real

    cold, hot_sets = df_capped_shingle_split(sh, d)
    n_cold = cold.count()
    n_cand = _df_capped_common(cold, hot_sets).count()
    assert n_cand <= cap * n_cold  # linear bound holds
    assert n_cand < hot_mass  # the avoided blowup is real

    for q in ("q_ngram_jaccard_pairs", "q_ngram_containment_pairs"):
        assert QUERIES[q].fn(spark, adv_dir).count() > 0


def test_span_dedup_flags_boilerplate(spark, adv_dir):
    """Exact span dedup must see the boilerplate: every boilered doc
    shares the paragraph's internal 5-grams with ~30% of the corpus,
    so its n_dup_shingles ≥ the paragraph's internal 5-gram count."""
    import make_adversarial

    from batch_processing_etl_orchestration_spark.plans import QUERIES
    from batch_processing_etl_orchestration_spark.tables import load_table

    prof = QUERIES["q_exact_span_dedup"].fn(spark, adv_dir)
    d = load_table(spark, adv_dir, "documents").select(
        "doc_id", (F.col("doc_id") % 100 < make_adversarial.BOILER_PCT).alias("b")
    )
    n_internal = len(make_adversarial.BOILER.split(" ")) - 4
    bad = (
        prof.join(d, "doc_id")
        .where(F.col("b") & (F.col("n_dup_shingles") < n_internal))
        .count()
    )
    assert bad == 0


def test_hot_user_sessionize_blocked_bounded_and_equal(spark, adv_dir):
    """The hot entity owns ~50% of events — one window partition for
    the plain sessionize. The blocked variant must bound the widest
    task by rows-per-(user, day-block) while matching the plain
    output row for row."""
    from pyspark.sql import Window

    from batch_processing_etl_orchestration_spark.operators.sessionize import (
        sessionize_blocked,
    )
    from batch_processing_etl_orchestration_spark.tables import load_table

    ev = load_table(spark, adv_dir, "events").select("user_id", "event_id", "ts")
    gap_us = 30 * 60 * 1_000_000
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
        F.sum(F.when(gap.isNull() | (gap > gap_us), 1).otherwise(0))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_id"),
    )
    blocked = sessionize_blocked(ev, gap_us).select(
        "user_id", "event_id", "session_id"
    )
    assert (
        plain.exceptAll(blocked).count() == 0
        and blocked.exceptAll(plain).count() == 0
    )

    widest_plain = ev.groupBy("user_id").count().agg(F.max("count")).first()[0]
    blk = F.floor(us / F.lit(24 * 60 * 60 * 1_000_000))
    widest_blocked = (
        ev.groupBy("user_id", blk.alias("b"))
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert widest_plain >= ev.count() * 45 // 100  # the skew is real
    assert widest_blocked * 5 <= widest_plain  # and the bound bites


def test_selection_skew_bounds(spark, adv_dir):
    """VERDICT r12 #5: the selection family's defenses against the hot
    source (90% of docs) and the 10⁶-token mega-document. The priced
    quantities come from q_adversarial_skew_report's inline
    construction; the trained-model bound comes from training on the
    FULL adversarial fixture (mega + boiler + hot source combined)."""
    from batch_processing_etl_orchestration_spark.plans.northstar import (
        _NB_HEAD_K,
        _NB_TAIL_B,
        _nb_train_capped,
        q_adversarial_skew_report,
        q_nb_quality_classifier,
    )
    from batch_processing_etl_orchestration_spark.tables import load_table

    row = q_adversarial_skew_report(spark, "/root/testdata/sf0.01").first()
    n_docs = load_table(spark, "/root/testdata/sf0.01", "documents").count()
    # hot source owns exactly the doc_id % 10 != 0 share
    assert row["hot_source_docs"] == n_docs - (n_docs + 9) // 10
    assert row["mega_doc_tokens"] == 1_000_000
    # NB weight-build reduce side is CONSTANT-bounded no matter the skew
    assert row["nb_feat_rows"] <= _NB_HEAD_K + _NB_TAIL_B
    # DSIR histogram never exceeds B buckets; the mega doc lands its
    # 10⁶ tokens across ≤ 10 of them (phrase has 10 distinct words)
    assert row["dsir_buckets"] <= _NB_TAIL_B
    assert row["dsir_max_bucket_tokens"] >= 100_000

    # the trained model on the COMBINED adversarial fixture stays
    # constant-bounded, and the scorer still emits one row per doc —
    # the mega doc is scored, not dropped or exploded into failure
    adocs = load_table(spark, adv_dir, "documents")
    _head, weights, _prior = _nb_train_capped(spark, adocs)
    assert len(weights) <= _NB_HEAD_K + _NB_TAIL_B
    scored = q_nb_quality_classifier(spark, adv_dir)
    got = {r["doc_id"]: r["n_tokens"] for r in scored.collect()}
    assert len(got) == adocs.count()
    mn = adocs.agg(F.min("doc_id")).first()[0]
    assert got[mn] >= 1_000_000  # mega doc scored in full


def test_documents_text_never_null_fixture_contract():
    """ADVICE r15 low: q_adversarial_skew_report's single-pass
    posexplode counts a document via its pos==0 row, and
    posexplode(split(NULL)) yields NO rows — so the fixture contract
    this relies on (documents.text is never null) must be pinned at
    every benched sf, or a regenerated fixture could silently drop
    null-text docs from hot_source_docs."""
    import pyarrow.parquet as pq

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        t = pq.read_table(
            f"/root/testdata/{sf}/documents.parquet", columns=["text"]
        )
        assert t.column("text").null_count == 0, f"{sf}: null text"


def test_skew_report_empty_corpus_row_pinned(spark, tmp_path):
    """ADVICE r15 low: pin the empty-corpus output of
    q_adversarial_skew_report — exactly ONE row (the ungrouped-agg
    edge review r9 established), with the selection-side counts at 0
    (they aggregate an empty exploded pass) — so any future
    restructure that changes the 0-vs-NULL semantics or drops the row
    fails here instead of drifting silently."""
    from batch_processing_etl_orchestration_spark.plans.northstar import (
        q_adversarial_skew_report,
    )
    from batch_processing_etl_orchestration_spark.tables import load_table

    src = "/root/testdata/sf0.001"
    out = str(tmp_path / "emptysf")
    for t in ("documents", "events"):
        load_table(spark, src, t).limit(0).coalesce(1).write.parquet(
            f"{out}/{t}.parquet"
        )
    rows = q_adversarial_skew_report(spark, out).collect()
    assert len(rows) == 1
    r = rows[0].asDict()
    assert r["hot_source_docs"] == 0
    assert r["mega_doc_tokens"] == 0
    assert r["nb_feat_rows"] == 0
