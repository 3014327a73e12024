"""ANN-LSH recall vs the exact brute-force baseline on real fixture
embeddings (sf0.001 for speed)."""

from __future__ import annotations

from pyspark.sql import functions as F

from batch_processing_etl_orchestration_spark.operators.similarity import (
    brute_force_topk,
    hyperplane_lsh_topk,
)
from batch_processing_etl_orchestration_spark.tables import load_table

SF = "/root/testdata/sf0.01"
K = 10
N_Q = 5


def _qc(spark):
    e = load_table(spark, SF, "embeddings")
    q = e.where(F.col("vec_id") < N_Q).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    c = e.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("ce"), "label")
    return q, c


def test_bruteforce_topk_shape_and_order(spark):
    q, c = _qc(spark)
    out = brute_force_topk(q, c, k=K).collect()
    assert len(out) == N_Q * K
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for rows in by_q.values():
        sims = [r["cosine_sim"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert sims == sorted(sims, reverse=True)
        assert all(r["cand_id"] != r["query_id"] for r in rows)


def test_lsh_recall_vs_bruteforce(spark):
    q, c = _qc(spark)
    exact = {
        (r["query_id"], r["cand_id"]) for r in brute_force_topk(q, c, k=K).collect()
    }
    approx = {
        (r["query_id"], r["cand_id"])
        for r in hyperplane_lsh_topk(q, c, k=K).collect()
    }
    recall = len(exact & approx) / len(exact)
    # measured 0.92 with the default 16 tables × 4 bits on this fixture
    # (sweep: L=8/m=6 → 0.28, L=12/m=5 → 0.68, L=16/m=4 → 0.92).
    # 0.85 is the documented floor: any hashing/plane-generation change
    # that degrades recall must fail here, not ship silently.
    assert recall >= 0.85, f"recall {recall} below documented floor 0.85"


def test_lsh_sims_are_exact_for_returned_pairs(spark):
    q, c = _qc(spark)
    exact = {
        (r["query_id"], r["cand_id"]): r["cosine_sim"]
        for r in brute_force_topk(q, c, k=500).collect()
    }
    for r in hyperplane_lsh_topk(q, c, k=K).collect():
        assert abs(exact[(r["query_id"], r["cand_id"])] - r["cosine_sim"]) < 1e-12


def test_ivf_recall_vs_bruteforce(spark):
    from batch_processing_etl_orchestration_spark.operators.similarity import ivf_topk

    q, c = _qc(spark)
    exact = {
        (r["query_id"], r["cand_id"]) for r in brute_force_topk(q, c, k=K).collect()
    }
    approx_rows = ivf_topk(q, c, k=K, n_cells=8, n_probe=4).collect()
    approx = {(r["query_id"], r["cand_id"]) for r in approx_rows}
    recall = len(exact & approx) / len(exact)
    # measured 0.92 at 8 cells / 4 probes / 2 assigns on this fixture
    # (hash-spread seeds, 2 Lloyd iters; single-assign measured 0.74).
    # 0.80 is the documented floor: centroid-seed, Lloyd-step, or
    # assignment changes that degrade recall must fail here.
    assert recall >= 0.80, f"recall {recall} below documented floor 0.80"
    # every returned row is exact-cosine within the probed cells:
    # ranks are 1..k per query with descending sims
    for qid in {r["query_id"] for r in approx_rows}:
        rows = [r for r in approx_rows if r["query_id"] == qid]
        assert sorted(r["rank"] for r in rows) == list(range(1, len(rows) + 1))
        sims = [r["cosine_sim"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert sims == sorted(sims, reverse=True)


def test_ivf_cells_partition_corpus(spark):
    from batch_processing_etl_orchestration_spark.operators.similarity import (
        ivf_build_centroids,
        _nearest_cells,
    )

    _, c = _qc(spark)
    cent = ivf_build_centroids(c, "cand_id", "ce", n_cells=8, dim=64)
    assign = _nearest_cells(c, "cand_id", "ce", cent, 1)
    n_vec = c.count()
    assert assign.count() == n_vec  # every vector in exactly one cell
    n_cells_used = assign.select("cell_id").distinct().count()
    assert n_cells_used >= 2  # quantizer actually splits the corpus


def test_cosine_lsh_near_dup_recall_and_exactness(spark):
    """LSH-blocked near-dup pairs vs the full all-pairs ground truth:
    recall above the documented floor, similarities bit-identical."""
    from batch_processing_etl_orchestration_spark.operators.similarity import (
        cosine,
        cosine_lsh_near_dup_pairs,
    )

    e = load_table(spark, SF, "embeddings")
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    truth = {
        (r["vec_a"], r["vec_b"]): r["sim"]
        for r in a.crossJoin(b)
        .where(F.col("vec_a") < F.col("vec_b"))
        .withColumn("sim", cosine("ea", "eb"))
        .where(F.col("sim") >= 0.35)
        .collect()
    }
    found = {
        (r["vec_a"], r["vec_b"]): r["cosine_sim"]
        for r in cosine_lsh_near_dup_pairs(e, threshold=0.35).collect()
    }
    assert truth, "fixture has no near-dup pairs at tau=0.35"
    # no false positives, and sims are bit-exact (same kernel)
    for pair, sim in found.items():
        assert pair in truth and truth[pair] == sim
    recall = len(set(found) & set(truth)) / len(truth)
    # measured 0.92 (250/271 pairs) at L=16/m=4 on this fixture
    assert recall >= 0.75, f"recall {recall} below documented floor 0.75"


def test_int8_recall_vs_bruteforce(spark):
    """Asymmetric int8 search vs exact float top-k. Quantization error
    is absmax/254 per dim, so the ranking barely moves: measured
    recall 1.0 at sf0.001/0.01 and 0.98 aggregate (min 0.9 per query)
    at sf0.1. 0.8 is the documented floor — a codec change that costs
    more than one neighbor per query fails here."""
    from batch_processing_etl_orchestration_spark.operators.similarity import int8_topk

    q, c = _qc(spark)
    exact = {
        (r["query_id"], r["cand_id"]) for r in brute_force_topk(q, c, k=K).collect()
    }
    approx = {
        (r["query_id"], r["cand_id"]) for r in int8_topk(q, c, k=K).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"recall {recall} below documented floor 0.8"


def test_ivf_index_persist_and_prune(spark, tmp_path):
    """Build-once/probe-many IVF: a loaded index's probe returns
    exactly the inline ivf_topk result (same deterministic centroids,
    scoring, tiebreaks), and the probe's scan carries a cell_id
    PartitionFilter — only probed cells' files are read."""
    import io
    from contextlib import redirect_stdout

    from batch_processing_etl_orchestration_spark.operators.similarity import (
        IvfIndex,
        ivf_topk,
    )

    q, c = _qc(spark)
    path = str(tmp_path / "ivf")
    IvfIndex.build(spark, c, path, n_cells=8, dim=64)
    idx = IvfIndex.load(spark, path)

    inline = {
        (r["query_id"], r["cand_id"], r["rank"], r["cosine_sim"])
        for r in ivf_topk(q, c, k=K, n_cells=8, n_probe=2).collect()
    }
    probed = {
        (r["query_id"], r["cand_id"], r["rank"], r["cosine_sim"])
        for r in idx.probe(q, k=K, n_probe=2).collect()
    }
    assert probed == inline and len(probed) > 0

    plan_df = idx.probe(q, k=K, n_probe=1)
    buf = io.StringIO()
    with redirect_stdout(buf):
        plan_df.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert "cell_id" in plan.split("PartitionFilters")[1][:300]


def test_topk_empty_query_side_returns_empty(spark):
    """An empty query DataFrame must yield an empty, correctly-shaped
    result instead of an executor-side broadcasting error."""
    q, c = _qc(spark)
    out = brute_force_topk(q.where(F.lit(False)), c, k=K)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields[:1]] == ["query_id"]
    assert {"cand_id", "cosine_sim", "rank"} <= {f.name for f in out.schema.fields}


def test_round_half_away_matches_engine_round():
    """numpy round-half-to-even diverges from Spark/DuckDB ROUND on
    exact .5 — the helper must round half away from zero, both signs."""
    import numpy as np

    from batch_processing_etl_orchestration_spark.operators.similarity import (
        _round_half_away,
    )

    x = np.array([0.5, 1.5, 2.5, -0.5, -1.5, -2.5, 0.49999, -0.49999])
    want = np.array([1.0, 2.0, 3.0, -1.0, -2.0, -3.0, 0.0, -0.0])
    assert (_round_half_away(x) == want).all()
    # np.round would give [0, 2, 2, -0, -2, -2, ...] — proves divergence
    assert not (np.round(x) == want).all()


def test_pq_recall_and_rerank(spark):
    """PQ floors: code-only top-k must clear 0.6 aggregate recall,
    and the shortlist-50 + exact-re-rank composition must clear 0.9
    (measured 1.0); re-ranked sims are bit-equal to brute force's for
    shared pairs (same scaled-long cosine)."""
    from batch_processing_etl_orchestration_spark.operators.similarity import (
        pq_rerank_topk,
        pq_topk,
    )

    q, c = _qc(spark)
    exact_rows = brute_force_topk(q, c, k=K).collect()
    exact = {(r["query_id"], r["cand_id"]) for r in exact_rows}
    pq = {(r["query_id"], r["cand_id"]) for r in pq_topk(q, c, k=K).collect()}
    assert len(exact & pq) / len(exact) >= 0.6
    rr_rows = pq_rerank_topk(q, c, k=K, shortlist=50).collect()
    rr = {(r["query_id"], r["cand_id"]) for r in rr_rows}
    assert len(exact & rr) / len(exact) >= 0.9
    exact_sims = {(r["query_id"], r["cand_id"]): r["cosine_sim"] for r in exact_rows}
    for r in rr_rows:
        key = (r["query_id"], r["cand_id"])
        if key in exact_sims:
            assert r["cosine_sim"] == exact_sims[key]  # bit-equal


def test_pq_codec_deterministic(spark):
    """Two independent train+encode runs produce identical codes —
    hash-spread sampling and argmin tiebreaks leave no RNG."""
    from batch_processing_etl_orchestration_spark.operators.similarity import (
        pq_encode,
        pq_train,
    )

    _, c = _qc(spark)
    e = c.select(F.col("cand_id").alias("vec_id"), F.col("ce").alias("embedding"))
    runs = []
    for _ in range(2):
        cb = pq_train(c)
        runs.append(
            {r["vec_id"]: tuple(r["codes"]) for r in pq_encode(e, cb).collect()}
        )
    assert runs[0] == runs[1]


def test_ivf_incremental_add_equals_rebuild(spark, tmp_path):
    """add() assigns against the FROZEN centroids and appends to the
    inverted lists, so an index after adds is equivalent to one
    rebuilt over the union with the same centroids — probes agree
    pair-for-pair. New vectors are immediately findable."""
    from batch_processing_etl_orchestration_spark.operators.similarity import (
        IvfIndex,
    )

    q, c = _qc(spark)
    base = c.where(F.col("cand_id") < 400)
    extra = c.where(F.col("cand_id") >= 400)

    p1 = str(tmp_path / "ivf_inc")
    IvfIndex.build(spark, base, p1, n_cells=8, dim=64)
    idx1 = IvfIndex.load(spark, p1)
    idx1.add(extra)

    # rebuild-with-same-centroids reference: a fresh build over the
    # union with the PINNED quantizer (the centroids= escape hatch)
    p2 = str(tmp_path / "ivf_ref")
    IvfIndex.build(spark, c, p2, dim=64, centroids=idx1.centroids)
    idx2 = IvfIndex.load(spark, p2)

    got = {
        (r["query_id"], r["cand_id"], r["rank"], r["cosine_sim"])
        for r in idx1.probe(q, k=K, n_probe=3).collect()
    }
    ref = {
        (r["query_id"], r["cand_id"], r["rank"], r["cosine_sim"])
        for r in idx2.probe(q, k=K, n_probe=3).collect()
    }
    assert got == ref and len(got) > 0
    # at least one added vector surfaces in some top-k
    assert any(cand >= 400 for (_, cand, _, _) in got)


def test_ivf_lifecycle_segments_tombstones_compact(spark, tmp_path):
    """The full vector-index lifecycle (VERDICT r13 #2): add_segment
    assigns against the frozen quantizer and is bit-equal to a
    pinned-centroid rebuild; delete_vectors hides ids immediately;
    compact_segments folds everything and probes are unchanged; the
    landing protocol rejects duplicate and tombstoned ids."""
    import pytest as _pytest

    from batch_processing_etl_orchestration_spark.operators.similarity import (
        IvfIndex,
    )

    q, c = _qc(spark)
    base = c.where(F.col("cand_id") < 350)
    seg1 = c.where((F.col("cand_id") >= 350) & (F.col("cand_id") < 420))
    seg2 = c.where(F.col("cand_id") >= 420)

    path = str(tmp_path / "ivf_life")
    idx = IvfIndex.build(spark, base, path, n_cells=8, dim=64)
    idx.add_segment(seg1, "batch-1")
    idx.add_segment(seg2, "batch-2")

    def snap(i):
        return {
            (r["query_id"], r["cand_id"], r["rank"], r["cosine_sim"])
            for r in i.probe(q, k=K, n_probe=3).collect()
        }

    # probe-after-add ≡ pinned-quantizer rebuild over the union
    ref = IvfIndex.build(
        spark, c, str(tmp_path / "ivf_life_ref"), dim=64,
        centroids=idx.centroids,
    )
    assert snap(idx) == snap(ref) and len(snap(idx)) > 0

    # duplicate ids (already live) and within-batch dups are rejected
    with _pytest.raises(ValueError, match="already live"):
        idx.add_segment(seg1.limit(3), "batch-dup")
    with _pytest.raises(ValueError, match="duplicate"):
        idx.add_segment(
            seg1.limit(1).unionAll(seg1.limit(1)).withColumn(
                "cand_id", F.col("cand_id") + 10_000
            ),
            "batch-self-dup",
        )

    # tombstones hide immediately, and re-adding a tombstoned id is
    # rejected until compaction applies the delete
    victims = [r["cand_id"] for r in seg1.limit(4).collect()]
    idx.delete_vectors(
        spark.createDataFrame([(v,) for v in victims], "cand_id BIGINT")
    )
    post_del = snap(idx)
    assert not any(cand in victims for (_, cand, _, _) in post_del)
    with _pytest.raises(ValueError, match="tombstoned"):
        idx.add_segment(
            c.where(F.col("cand_id") == victims[0]), "batch-revive"
        )

    # compaction folds both segments + the tombstones; probes unchanged
    assert idx.compact_segments() == 2
    assert idx._segment_dirs() == [] and not idx.has_tombstones()
    assert snap(idx) == post_del
    live = {
        r["cand_id"]
        for r in idx._union_store("inverted").select("cand_id").collect()
    }
    assert not (set(victims) & live)

    # the index stays mutable post-compaction
    idx.add_segment(
        c.where(F.col("cand_id") == victims[0]), "batch-revive-ok"
    )
    assert victims[0] in {
        r["cand_id"]
        for r in idx._union_store("inverted").select("cand_id").collect()
    }


def test_ivf_landing_after_fold_prunes(spark, tmp_path, monkeypatch):
    """A folded IvfIndex generation records its store-stats sidecar
    like a landing does, so the first append-only landing after
    compact_segments still proves disjointness from the id intervals
    and never scans the live ids."""
    from batch_processing_etl_orchestration_spark.operators.similarity import (
        IvfIndex,
    )

    _, c = _qc(spark)
    idx = IvfIndex.build(
        spark, c.where(F.col("cand_id") < 300), str(tmp_path / "ivf_wm"),
        n_cells=4, dim=64,
    )
    idx.add_segment(
        c.where((F.col("cand_id") >= 300) & (F.col("cand_id") < 350)), "s1"
    )
    assert idx.compact_segments() == 1
    folded_hi = c.where(F.col("cand_id") < 350).agg(F.max("cand_id")).first()[0]
    st = idx._read_stats(idx._gen())
    assert st["id_hi"] == folded_hi and st["id_lo"] == 0 and st["n_docs"] > 0
    assert idx._live_id_intervals(idx._gen()) == [(idx._gen(), 0, folded_hi)]

    calls = []
    orig = IvfIndex._live_ids

    def spy(self, gen, dirs=None):
        calls.append(dirs)
        return orig(self, gen, dirs=dirs)

    monkeypatch.setattr(IvfIndex, "_live_ids", spy)
    idx.add_segment(
        c.where((F.col("cand_id") >= 350) & (F.col("cand_id") < 380)), "s2"
    )
    assert calls == []
    assert len(idx._segment_dirs()) == 1


def test_ivf_probe_pinned_against_midprobe_publish(
    spark, tmp_path, monkeypatch
):
    """A delete_vectors + compact publishing between a probe's
    generation snapshot and its cell collection must not mix committed
    states: the probe serves the pinned pre-publish view exactly
    (the blockmax_prune_plan discipline, applied to vectors)."""
    from batch_processing_etl_orchestration_spark.operators.similarity import (
        IvfIndex,
    )

    q, c = _qc(spark)
    path = str(tmp_path / "ivf_race")
    idx = IvfIndex.build(spark, c, path, n_cells=8, dim=64)
    expected = {
        (r["query_id"], r["cand_id"], r["rank"], r["cosine_sim"])
        for r in idx.probe(q, k=K, n_probe=3).collect()
    }
    victim = next(iter(expected))[1]

    real = IvfIndex._centroids
    fired = []

    def racing_centroids(self, gen=None):
        out = real(self, gen)
        if not fired:
            fired.append(True)
            other = IvfIndex.load(spark, self.path)
            other.delete_vectors(
                spark.createDataFrame([(victim,)], "cand_id BIGINT")
            )
            other.compact_segments()
        return out

    monkeypatch.setattr(IvfIndex, "_centroids", racing_centroids)
    got = {
        (r["query_id"], r["cand_id"], r["rank"], r["cosine_sim"])
        for r in idx.probe(q, k=K, n_probe=3).collect()
    }
    assert fired
    assert got == expected  # the pinned snapshot, not the mixed state


def test_ivf_empty_compaction_and_empty_batch_guards(spark, tmp_path):
    """ADVICE r14 (medium): deleting EVERY vector then compacting
    used to publish a partitionBy store with zero partitions — a
    _SUCCESS-only dir that fails UNABLE_TO_INFER_SCHEMA on every
    later read. The guard publishes a schema-bearing non-partitioned
    empty store; probes return empty, and the index stays mutable.
    Empty add_segment batches (routine in micro-batch ingestion)
    no-op without landing a segment."""
    from batch_processing_etl_orchestration_spark.operators.similarity import (
        IvfIndex,
    )

    q, c = _qc(spark)
    small = c.where(F.col("cand_id") < 40)
    path = str(tmp_path / "ivf_empty")
    idx = IvfIndex.build(spark, small, path, n_cells=4, dim=64)

    # empty batch: no-op, no segment dir, index unchanged
    idx.add_segment(small.where(F.lit(False)), "batch-empty")
    assert idx._segment_dirs() == []

    # delete EVERYTHING, compact: generation must stay readable
    idx.delete_vectors(small.select("cand_id"))
    idx.compact_segments()
    assert idx._union_store("inverted").count() == 0
    assert idx.probe(q, k=5, n_probe=2).count() == 0

    # and the empty generation accepts new vectors again
    idx.add_segment(small.where(F.col("cand_id") < 10), "batch-refill")
    refilled = idx.probe(q, k=5, n_probe=4)
    assert refilled.count() > 0


def test_ivf_dim_validation(spark, tmp_path):
    """ADVICE r14: a batch whose vectors mismatch the generation's
    frozen dim must be rejected loudly (zip-aggregation would
    silently mis-assign cells), and build(centroids=) must reject a
    quantizer whose dimension disagrees with the dim it freezes."""
    import pytest as _pytest

    from batch_processing_etl_orchestration_spark.operators.similarity import (
        IvfIndex,
    )

    q, c = _qc(spark)
    small = c.where(F.col("cand_id") < 40)
    path = str(tmp_path / "ivf_dim")
    idx = IvfIndex.build(spark, small, path, n_cells=4, dim=64)

    bad = (
        c.where((F.col("cand_id") >= 40) & (F.col("cand_id") < 44))
        .withColumn("ce", F.slice(F.col("ce"), 1, 32))
    )
    with _pytest.raises(ValueError, match="dim"):
        idx.add_segment(bad, "batch-baddim")
    assert idx._segment_dirs() == []  # nothing landed

    with _pytest.raises(ValueError, match="dim"):
        IvfIndex.build(
            spark, small, str(tmp_path / "ivf_dim2"), dim=32,
            centroids=idx.centroids,  # 64-d quantizer vs dim=32
        )
