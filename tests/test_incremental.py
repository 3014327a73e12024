"""Incremental materialized-aggregate maintenance (warehouse/incremental.py).

Pins the three properties that make the MV trustworthy at 100 TB:
1. Merge refresh is EXACT: any batching of arrivals (one delta, two
   deltas, late data) yields bit-identical results to a full rebuild
   (scaled-long partials are a commutative monoid).
2. Refresh is INCREMENTAL: untouched partitions' files are not
   rewritten (inode + mtime pinned), so refresh cost tracks the delta.
3. The general recompute path (non-mergeable aggs) scopes its fact
   scan to touched partitions and agrees with a full recompute.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from batch_processing_etl_orchestration_spark.tables import load_table
from batch_processing_etl_orchestration_spark.warehouse.incremental import (
    MergeableSpec,
    build_mv,
    delta_refresh,
    read_mv,
    recompute_refresh,
)

SPEC = MergeableSpec(
    partition_col="p_date",
    group_cols=("event_type",),
    sum_cols={"total_value": "value"},
    min_cols={"min_value": "value"},
    max_cols={"max_value": "value"},
)


def _events(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "events")
        .withColumn("p_date", F.to_date("ts"))
        .select("p_date", "event_type", "value")
    )


def _rows(df):
    return sorted(
        tuple(r) for r in df.select(
            "p_date", "event_type", "total_value", "min_value",
            "max_value", "n_rows",
        ).collect()
    )


def _partition_files(mv_path: str) -> dict[str, tuple]:
    """p_date dir -> sorted (name, inode, mtime_ns) of its files."""
    out = {}
    for d in os.listdir(mv_path):
        if not d.startswith("p_date="):
            continue
        full = os.path.join(mv_path, d)
        out[d] = tuple(
            sorted(
                (f, os.stat(os.path.join(full, f)).st_ino,
                 os.stat(os.path.join(full, f)).st_mtime_ns)
                for f in os.listdir(full)
            )
        )
    return out


@pytest.fixture(scope="module")
def ev(spark, sf_dir):
    return _events(spark, sf_dir).localCheckpoint(eager=True)


def test_merge_refresh_equals_full_rebuild(spark, ev, tmp_path_factory):
    """Base build on days ≤ 15, two refreshes (new days, then a
    late-data correction into old days) == one full rebuild over the
    same union — exactly, including min/max and scaled-long sums."""
    base = ev.where(F.dayofmonth("p_date") <= 15)
    tail = ev.where(F.dayofmonth("p_date") > 15)
    late = (
        ev.where(
            (F.col("event_type") == "click")
            & F.dayofmonth("p_date").between(5, 7)
        )
        .withColumn("value", F.col("value") * 2)
    )

    mv = str(tmp_path_factory.mktemp("mv") / "inc")
    build_mv(base, SPEC, mv)
    parts1 = delta_refresh(spark, tail, SPEC, mv)
    assert len(parts1) == 15  # days 16..30
    parts2 = delta_refresh(spark, late, SPEC, mv)
    assert len(parts2) == 3  # days 5..7 only

    full = str(tmp_path_factory.mktemp("mv") / "full")
    build_mv(ev.unionByName(late), SPEC, full)
    assert _rows(read_mv(spark, SPEC, mv)) == _rows(read_mv(spark, SPEC, full))


def test_refresh_batching_invariance(spark, ev, tmp_path_factory):
    """Delivering the same delta in two arbitrary halves == one shot
    (monoid merge): partials are exact longs, so no ordering or
    batching of arrivals can change the result."""
    base = ev.where(F.dayofmonth("p_date") <= 20)
    delta = ev.where(F.dayofmonth("p_date") > 20)

    one = str(tmp_path_factory.mktemp("mv") / "one")
    build_mv(base, SPEC, one)
    delta_refresh(spark, delta, SPEC, one)

    two = str(tmp_path_factory.mktemp("mv") / "two")
    build_mv(base, SPEC, two)
    delta_refresh(spark, delta.where(F.col("event_type") <= "m"), SPEC, two)
    delta_refresh(spark, delta.where(F.col("event_type") > "m"), SPEC, two)

    assert _rows(read_mv(spark, SPEC, one)) == _rows(read_mv(spark, SPEC, two))


def test_untouched_partitions_not_rewritten(spark, ev, tmp_path_factory):
    """Dynamic partition overwrite only replaces partitions in the
    refresh output: files of unaffected days keep their inode+mtime.
    This is the incrementality claim — refresh I/O is O(touched)."""
    mv = str(tmp_path_factory.mktemp("mv") / "files")
    build_mv(ev, SPEC, mv)
    before = _partition_files(mv)

    late = ev.where(
        (F.dayofmonth("p_date") == 3) & (F.col("event_type") == "view")
    )
    parts = delta_refresh(spark, late, SPEC, mv)
    assert [str(p) for p in parts] == ["2024-01-03"]
    after = _partition_files(mv)

    assert before.keys() == after.keys()
    for d in before:
        if d == "p_date=2024-01-03":
            assert before[d] != after[d], "touched partition must be rewritten"
        else:
            assert before[d] == after[d], f"untouched {d} was rewritten"


def test_recompute_refresh_scoped_and_correct(spark, ev, tmp_path_factory):
    """Non-mergeable path: exact distinct users per (day, type).
    Recompute touches only delta partitions; result equals a full
    recompute; untouched partitions keep their files."""
    ev_users = (
        _events_with_users(spark, ev)
    )
    spec = MergeableSpec(
        partition_col="p_date", group_cols=("event_type",)
    )

    def agg(rows):
        return rows.groupBy("p_date", "event_type").agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_rows"),
        )

    mv = str(tmp_path_factory.mktemp("mv") / "distinct")
    base = ev_users.where(F.dayofmonth("p_date") <= 28)
    delta = ev_users.where(F.dayofmonth("p_date") > 28)
    agg(base).repartition("p_date").write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("p_date").parquet(mv)
    before = _partition_files(mv)

    parts = recompute_refresh(spark, base, delta, spec, mv, agg_fn=agg)
    assert sorted(str(p) for p in parts) == ["2024-01-29", "2024-01-30"]
    after = _partition_files(mv)
    for d in before:
        if d not in ("p_date=2024-01-29", "p_date=2024-01-30"):
            assert before[d] == after[d], f"untouched {d} was rewritten"

    cols = ["p_date", "event_type", "n_users", "n_rows"]
    got = sorted(
        tuple(r) for r in spark.read.parquet(mv).select(*cols).collect()
    )
    want = sorted(tuple(r) for r in agg(ev_users).select(*cols).collect())
    assert got == want


def _events_with_users(spark, ev_cached):
    # rebuild with user_id retained (module fixture drops it)
    return (
        load_table(ev_cached.sparkSession, "/root/testdata/sf0.01", "events")
        .withColumn("p_date", F.to_date("ts"))
        .select("p_date", "event_type", "user_id")
    )


HLL_SPEC = MergeableSpec(
    partition_col="p_date",
    group_cols=("event_type",),
    hll_cols={"n_users": "user_id"},
)


def test_hll_partials_merge_exactly(spark, tmp_path_factory):
    """Sketch mergeability: base build + two delta refreshes produce
    byte-identical estimates to a single full rebuild — HLL registers
    merge by max, so union-of-partials ≡ sketch-of-union. This is the
    property that lets distinct-count MVs skip the recompute path."""
    ev = _events_with_users(spark, _events(spark, "/root/testdata/sf0.01"))

    inc = str(tmp_path_factory.mktemp("mv") / "hll")
    build_mv(ev.where(F.dayofmonth("p_date") <= 10), HLL_SPEC, inc)
    delta_refresh(
        spark, ev.where(F.dayofmonth("p_date").between(11, 20)), HLL_SPEC, inc
    )
    delta_refresh(spark, ev.where(F.dayofmonth("p_date") > 20), HLL_SPEC, inc)

    full = str(tmp_path_factory.mktemp("mv") / "full")
    build_mv(ev, HLL_SPEC, full)

    cols = ["p_date", "event_type", "n_users", "n_rows"]
    got = sorted(tuple(r) for r in read_mv(spark, HLL_SPEC, inc).select(*cols).collect())
    want = sorted(tuple(r) for r in read_mv(spark, HLL_SPEC, full).select(*cols).collect())
    assert got == want


def test_hll_rollup_within_bound_of_exact(spark, tmp_path_factory):
    """Range rollup from daily partials (days 5..25, grouped by type)
    estimates within 2% of the exact distinct count — answered from
    ~21 partial rows per group, no fact scan."""
    from batch_processing_etl_orchestration_spark.warehouse.incremental import (
        rollup_mv,
    )

    ev = _events_with_users(spark, _events(spark, "/root/testdata/sf0.01"))
    mv = str(tmp_path_factory.mktemp("mv") / "hll")
    build_mv(ev, HLL_SPEC, mv)

    est = {
        r["event_type"]: r["n_users"]
        for r in rollup_mv(
            spark, HLL_SPEC, mv, by=["event_type"],
            where=F.dayofmonth("p_date").between(5, 25),
        ).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in ev.where(F.dayofmonth("p_date").between(5, 25))
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert est.keys() == exact.keys()
    for k in exact:
        assert abs(est[k] - exact[k]) / exact[k] <= 0.02, (k, est[k], exact[k])


def test_stream_mv_processes_multiple_microbatches(spark):
    """The streaming MV query really drains multiple micro-batches
    (one per source file) — each leaves its idempotence marker — and
    re-running from the same checkpoint merges nothing twice."""
    import glob
    import os

    from batch_processing_etl_orchestration_spark.plans import QUERIES
    from batch_processing_etl_orchestration_spark.tables import (
        fixture_cache_dir,
    )

    fn = QUERIES["q_stream_incremental_mv"].fn
    out1 = {tuple(r) for r in fn(spark, "/root/testdata/sf0.01").collect()}
    # idempotence tokens live INSIDE the MV commit
    run = fixture_cache_dir(
        "/root/testdata/sf0.01", "events.parquet", "stream_mv_run"
    )
    runs = glob.glob(os.path.join(run, "mv", "_commits", "batch_*"))
    assert len(runs) == 6, runs
    # determinism across full re-runs (fresh MV + checkpoint each call)
    out2 = {tuple(r) for r in fn(spark, "/root/testdata/sf0.01").collect()}
    assert out1 == out2


def test_hist_partials_merge_exactly(spark, tmp_path_factory):
    """Count-histogram partials merge element-wise: split build +
    refresh == direct build, array-for-array."""
    spec = MergeableSpec(
        partition_col="p_date",
        group_cols=("event_type",),
        hist_cols={"value_hist": ("value", 0.0, 500.0, 50)},
    )
    ev = _events(spark, "/root/testdata/sf0.01").localCheckpoint(eager=True)

    inc = str(tmp_path_factory.mktemp("mv") / "hist")
    build_mv(ev.where(F.dayofmonth("p_date") <= 12), spec, inc)
    delta_refresh(spark, ev.where(F.dayofmonth("p_date") > 12), spec, inc)
    full = str(tmp_path_factory.mktemp("mv") / "histfull")
    build_mv(ev, spec, full)

    cols = ["p_date", "event_type", "value_hist", "n_rows"]
    got = sorted(
        (r["p_date"], r["event_type"], tuple(r["value_hist"]), r["n_rows"])
        for r in read_mv(spark, spec, inc).select(*cols).collect()
    )
    want = sorted(
        (r["p_date"], r["event_type"], tuple(r["value_hist"]), r["n_rows"])
        for r in read_mv(spark, spec, full).select(*cols).collect()
    )
    assert got == want


def test_hist_quantile_within_bucket_width(spark, tmp_path_factory):
    """Quantiles estimated from the rolled-up histogram are within one
    bucket width of Spark's exact percentile, per event_type, for
    p in {0.25, 0.5, 0.9, 0.99}; out-of-range data clamps to [lo, hi]."""
    from batch_processing_etl_orchestration_spark.warehouse.incremental import (
        hist_quantile,
        rollup_mv,
    )

    lo, hi, n = 0.0, 500.0, 50
    width = (hi - lo) / n
    spec = MergeableSpec(
        partition_col="p_date",
        group_cols=("event_type",),
        hist_cols={"value_hist": ("value", lo, hi, n)},
    )
    ev = _events(spark, "/root/testdata/sf0.01").localCheckpoint(eager=True)
    mv = str(tmp_path_factory.mktemp("mv") / "hq")
    build_mv(ev, spec, mv)

    qs = [0.25, 0.5, 0.9, 0.99]
    est = {
        r["event_type"]: [r[f"q{i}"] for i in range(len(qs))]
        for r in rollup_mv(spark, spec, mv, by=["event_type"])
        .select(
            "event_type",
            *[
                hist_quantile("value_hist", q, lo, hi, n).alias(f"q{i}")
                for i, q in enumerate(qs)
            ],
        )
        .collect()
    }
    # the rigorous claim: the chosen cell CONTAINS the value at
    # discrete rank ceil(q·n) — i.e. est − width < v_rank ≤ est
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("value")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    for i, q in enumerate(qs):
        ranks = {
            r["event_type"]: r["value"]
            for r in ranked.where(
                F.col("rn") == F.ceil(F.col("n") * F.lit(q))
            ).collect()
        }
        for t, v_rank in ranks.items():
            e = est[t][i]
            assert e - width - 1e-9 < v_rank <= e + 1e-9, (t, q, e, v_rank)


def test_crashed_refresh_is_loud_and_healable(spark, sf_dir, tmp_path):
    """A refresh that dies between journaling its intent and clearing
    it leaves the MV suspect: reads and further refreshes raise
    (instead of silently serving a half-merged slice), and heal_mv
    recomputes exactly the journaled partitions from the fact so the
    healed MV equals a direct full build."""
    import os

    from batch_processing_etl_orchestration_spark.warehouse.incremental import (
        _INTENT,
        build_mv,
        delta_refresh,
        heal_mv,
        read_mv,
        rollup_mv,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn("p_date", F.to_date("ts"))
        .select("p_date", "event_type", "value")
    )
    spec = MergeableSpec(
        partition_col="p_date",
        group_cols=("event_type",),
        sum_cols={"total_value": "value"},
    )
    mv = str(tmp_path / "mv")
    build_mv(ev.where(F.dayofmonth("p_date") <= 15), spec, mv)
    delta_refresh(spark, ev.where(F.dayofmonth("p_date") > 15), spec, mv)

    # simulate the crash: an intent journal for two partitions that
    # never cleared (their on-disk state is now unknowable)
    import json

    suspect = [
        r["p_date"]
        for r in ev.select("p_date").distinct().orderBy("p_date").collect()
    ][:2]
    with open(os.path.join(mv, _INTENT), "w") as f:
        json.dump({"v": 2, "parts": [str(v) for v in suspect]}, f)

    with pytest.raises(RuntimeError, match="unfinished refresh"):
        read_mv(spark, spec, mv).collect()
    with pytest.raises(RuntimeError, match="unfinished refresh"):
        rollup_mv(spark, spec, mv, by=["event_type"]).collect()
    with pytest.raises(RuntimeError, match="unfinished refresh"):
        delta_refresh(spark, ev.limit(5), spec, mv)

    healed = heal_mv(spark, ev, spec, mv)
    assert sorted(healed) == sorted(str(v) for v in suspect)
    got = {
        (r["p_date"], r["event_type"]): (r["total_value"], r["n_rows"])
        for r in read_mv(spark, spec, mv).collect()
    }
    direct = str(tmp_path / "direct")
    build_mv(ev, spec, direct)
    want = {
        (r["p_date"], r["event_type"]): (r["total_value"], r["n_rows"])
        for r in read_mv(spark, spec, direct).collect()
    }
    assert got == want
    # healing is idempotent / a second heal is a no-op
    assert heal_mv(spark, ev, spec, mv) == []


def test_heal_removes_journaled_partition_with_no_fact_rows(
    spark, sf_dir, tmp_path
):
    """A journaled partition that has ZERO rows in the authoritative
    fact (the crashed delta carried a brand-new partition, or its fact
    rows were erased since) cannot be replaced by the dynamic
    overwrite — heal_mv must DELETE its suspect half-written files
    rather than clear the journal over them (ADVICE r7)."""
    import json
    import os

    from batch_processing_etl_orchestration_spark.warehouse.incremental import (
        _INTENT,
        build_mv,
        heal_mv,
        read_mv,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn("p_date", F.to_date("ts"))
        .select("p_date", "event_type", "value")
    )
    spec = MergeableSpec(
        partition_col="p_date",
        group_cols=("event_type",),
        sum_cols={"total_value": "value"},
    )
    mv = str(tmp_path / "mv")
    build_mv(ev, spec, mv)

    # the crashed delta carried a partition the fact does NOT have:
    # its half-written files are on disk and the journal names it
    ghost = "2099-01-01"
    ghost_dir = os.path.join(mv, f"p_date={ghost}")
    os.makedirs(ghost_dir)
    with open(os.path.join(ghost_dir, "part-corrupt.parquet"), "w") as f:
        f.write("not parquet")
    real = str(
        ev.select("p_date").distinct().orderBy("p_date").collect()[0]["p_date"]
    )
    with open(os.path.join(mv, _INTENT), "w") as f:
        json.dump({"v": 2, "parts": [real, ghost]}, f)

    healed = heal_mv(spark, ev, spec, mv)
    assert sorted(healed) == sorted([real, ghost])
    # the ghost partition's suspect files are GONE, not served
    assert not os.path.exists(ghost_dir)
    # and the healed MV reads clean and equals a direct build
    direct = str(tmp_path / "direct")
    build_mv(ev, spec, direct)
    got = {
        (r["p_date"], r["event_type"]): r["total_value"]
        for r in read_mv(spark, spec, mv).collect()
    }
    want = {
        (r["p_date"], r["event_type"]): r["total_value"]
        for r in read_mv(spark, spec, direct).collect()
    }
    assert got == want


def test_concurrent_refreshers_exactly_one_wins(spark, sf_dir, tmp_path):
    """Two refreshers racing the same MV: the intent journal is
    create-exclusive, so exactly one journals and writes; the loser
    raises BEFORE any data write (a raced pair of dynamic overwrites
    would interleave into one corrupt MV). The winner's refresh
    equals a direct rebuild."""
    import threading

    from batch_processing_etl_orchestration_spark.warehouse.incremental import (
        build_mv,
        delta_refresh,
        read_mv,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn("p_date", F.to_date("ts"))
        .select("p_date", "event_type", "value")
    )
    spec = MergeableSpec(
        partition_col="p_date",
        group_cols=("event_type",),
        sum_cols={"total_value": "value"},
    )
    mv = str(tmp_path / "mv")
    base = ev.where(F.dayofmonth("p_date") <= 15)
    delta = ev.where(F.dayofmonth("p_date") > 15)
    build_mv(base, spec, mv)

    errs: list[Exception | None] = [None, None]
    barrier = threading.Barrier(2)

    def go(i):
        def run():
            barrier.wait()
            try:
                delta_refresh(spark, delta, spec, mv)
            except Exception as e:  # noqa: BLE001 — recorded for assert
                errs[i] = e

        return run

    ts = [threading.Thread(target=go(i)) for i in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()

    # both succeeding is allowed ONLY if they serialized (second saw
    # no pending intent because the first finished); what must never
    # happen is both failing or a corrupt result
    assert sum(e is not None for e in errs) <= 1, errs
    for e in errs:
        if e is not None:
            assert "concurrently" in str(e) or "unfinished refresh" in str(
                e
            ), e

    got = {
        (r["p_date"], r["event_type"]): (r["total_value"], r["n_rows"])
        for r in read_mv(spark, spec, mv).collect()
    }
    direct = str(tmp_path / "direct")
    build_mv(ev, spec, direct)
    want = {
        (r["p_date"], r["event_type"]): (r["total_value"], r["n_rows"])
        for r in read_mv(spark, spec, direct).collect()
    }
    assert got == want


def test_heal_keeps_recomputed_null_partition(spark, sf_dir, tmp_path):
    """Null partition values write as __HIVE_DEFAULT_PARTITION__ on
    disk while the journal and the recompute set carry Python None —
    the stale-partition sweep must translate before comparing, or a
    freshly HEALED null partition reads as stale and is deleted
    (review r8 finding)."""
    import json
    import os

    from batch_processing_etl_orchestration_spark.warehouse.incremental import (
        _INTENT,
        build_mv,
        heal_mv,
        read_mv,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn(
            "p_date",
            F.when(F.dayofmonth(F.to_date("ts")) % 7 == 0, None).otherwise(
                F.to_date("ts")
            ),
        )
        .select("p_date", "event_type", "value")
    )
    spec = MergeableSpec(
        partition_col="p_date",
        group_cols=("event_type",),
        sum_cols={"total_value": "value"},
    )
    mv = str(tmp_path / "mv")
    build_mv(ev, spec, mv)
    null_dir = os.path.join(mv, "p_date=__HIVE_DEFAULT_PARTITION__")
    assert os.path.isdir(null_dir)

    # torn journal: every partition suspect, full recompute
    with open(os.path.join(mv, _INTENT), "w") as f:
        f.write("{corrupt")
    healed = heal_mv(spark, ev, spec, mv)
    assert healed == ["<all>"]
    assert os.path.isdir(null_dir)  # recomputed, NOT swept as stale
    got = {
        (r["p_date"], r["event_type"]): r["total_value"]
        for r in read_mv(spark, spec, mv).collect()
    }
    assert any(k[0] is None for k in got)  # null rows served
    direct = str(tmp_path / "direct")
    build_mv(ev, spec, direct)
    want = {
        (r["p_date"], r["event_type"]): r["total_value"]
        for r in read_mv(spark, spec, direct).collect()
    }
    assert got == want


def test_null_partition_delta_merge_and_named_heal(spark, sf_dir, tmp_path):
    """Column.isin treats NULL as unknown: without the null-safe
    partition filter a delta touching the NULL partition would read
    back NO stored partials (overwriting history with delta-only
    sums) and a NAMED journal listing the NULL partition would
    recompute without its rows and then sweep the directory. Both
    paths must treat NULL as just another partition."""
    import json
    import os

    from batch_processing_etl_orchestration_spark.warehouse.incremental import (
        _INTENT,
        build_mv,
        delta_refresh,
        heal_mv,
        read_mv,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn(
            "p_date",
            F.when(F.dayofmonth(F.to_date("ts")) % 7 == 0, None).otherwise(
                F.to_date("ts")
            ),
        )
        .select("p_date", "event_type", "value")
    )
    spec = MergeableSpec(
        partition_col="p_date",
        group_cols=("event_type",),
        sum_cols={"total_value": "value"},
    )
    # split so BOTH halves contain null-partition rows
    base = ev.where(F.col("value") < 250.0)
    delta = ev.where(F.col("value") >= 250.0)
    assert delta.where(F.col("p_date").isNull()).count() > 0

    mv = str(tmp_path / "mv")
    build_mv(base, spec, mv)
    delta_refresh(spark, delta, spec, mv)

    direct = str(tmp_path / "direct")
    build_mv(ev, spec, direct)

    def snap(path):
        return {
            (r["p_date"], r["event_type"]): (r["total_value"], r["n_rows"])
            for r in read_mv(spark, spec, path).collect()
        }

    got = snap(mv)
    assert any(k[0] is None for k in got)
    assert got == snap(direct)  # null partition MERGED, not replaced

    # named journal listing ONLY the null partition (JSON null — the
    # journal never encodes NULL as the string 'None', ADVICE r8):
    # heal must recompute it from the fact (null rows included) and
    # keep it
    with open(os.path.join(mv, _INTENT), "w") as f:
        json.dump({"v": 2, "parts": [None]}, f)
    healed = heal_mv(spark, ev, spec, mv)
    assert healed == [None]
    null_dir = os.path.join(mv, "p_date=__HIVE_DEFAULT_PARTITION__")
    assert os.path.isdir(null_dir)
    assert snap(mv) == snap(direct)


def test_string_partition_named_None_distinct_from_null(spark, tmp_path):
    """ADVICE r8: a string-typed partition literally named 'None' must
    never be conflated with the NULL partition. A journal naming ONLY
    the NULL partition heals without touching the 'None' string
    partition, and one naming ONLY the string 'None' heals without
    scoping or sweeping the NULL partition."""
    import json
    import os

    from batch_processing_etl_orchestration_spark.warehouse.incremental import (
        _INTENT,
        build_mv,
        heal_mv,
        read_mv,
    )

    rows = [
        ("None", "click", 10.0),
        ("None", "view", 20.0),
        (None, "click", 30.0),
        (None, "view", 40.0),
        ("other", "click", 50.0),
    ]
    ev = spark.createDataFrame(rows, "p_key STRING, event_type STRING, value DOUBLE")
    spec = MergeableSpec(
        partition_col="p_key",
        group_cols=("event_type",),
        sum_cols={"total_value": "value"},
    )
    mv = str(tmp_path / "mv")
    build_mv(ev, spec, mv)
    none_dir = os.path.join(mv, "p_key=None")
    null_dir = os.path.join(mv, "p_key=__HIVE_DEFAULT_PARTITION__")
    assert os.path.isdir(none_dir) and os.path.isdir(null_dir)

    def snap():
        return {
            (r["p_key"], r["event_type"]): r["total_value"]
            for r in read_mv(spark, spec, mv).collect()
        }

    want = snap()

    # journal names ONLY the NULL partition: heal from a fact missing
    # the string-'None' rows — if the sentinel conflated them, the
    # 'None' partition would be scoped, recomputed empty, and swept
    with open(os.path.join(mv, _INTENT), "w") as f:
        json.dump({"v": 2, "parts": [None]}, f)
    assert heal_mv(spark, ev, spec, mv) == [None]
    assert os.path.isdir(none_dir) and os.path.isdir(null_dir)
    assert snap() == want

    # journal names ONLY the string 'None' partition: the NULL
    # partition must be neither scoped nor swept
    with open(os.path.join(mv, _INTENT), "w") as f:
        json.dump({"v": 2, "parts": ["None"]}, f)
    assert heal_mv(spark, ev, spec, mv) == ["None"]
    assert os.path.isdir(none_dir) and os.path.isdir(null_dir)
    assert snap() == want


def test_legacy_unversioned_journal_heals_everything(spark, tmp_path):
    """A journal without the v=2 marker predates the NULL-vs-'None'
    encoding fix — its 'None' entries are ambiguous, so heal must
    treat it as torn (every partition suspect, full recompute) rather
    than mis-scope the NULL partition (review r9)."""
    import json
    import os

    from batch_processing_etl_orchestration_spark.warehouse.incremental import (
        _INTENT,
        build_mv,
        heal_mv,
        pending_refresh,
        read_mv,
    )

    ev = spark.createDataFrame(
        [(None, "click", 1.0), ("alpha", "view", 2.0)],
        "p_key STRING, event_type STRING, value DOUBLE",
    )
    spec = MergeableSpec(
        partition_col="p_key",
        group_cols=("event_type",),
        sum_cols={"total_value": "value"},
    )
    mv = str(tmp_path / "mv")
    build_mv(ev, spec, mv)
    with open(os.path.join(mv, _INTENT), "w") as f:
        json.dump({"parts": ["None"]}, f)  # legacy encoding, no "v"
    assert pending_refresh(mv) == []  # torn: every partition suspect
    assert heal_mv(spark, ev, spec, mv) == ["<all>"]
    got = {
        (r["p_key"], r["event_type"]): r["total_value"]
        for r in read_mv(spark, spec, mv).collect()
    }
    assert got == {(None, "click"): 1.0, ("alpha", "view"): 2.0}


def test_commit_token_idempotent_redelivery(spark, ev, tmp_path_factory):
    """ADVICE r11 #2: delta_refresh with a commit_token is idempotent
    per token — a redelivered batch (same token) is a no-op across
    BOTH the bootstrap and merge paths, and distinct tokens merge."""
    from batch_processing_etl_orchestration_spark.warehouse.incremental import (
        has_commit,
    )

    b0 = ev.where(F.dayofmonth("p_date") <= 10)
    b1 = ev.where(F.dayofmonth("p_date").between(11, 20))

    mv = str(tmp_path_factory.mktemp("mv") / "tok")
    assert not has_commit(mv, "batch_0")
    assert delta_refresh(spark, b0, SPEC, mv, commit_token="batch_0")
    assert has_commit(mv, "batch_0")
    # bootstrap-path redelivery: no-op
    assert delta_refresh(spark, b0, SPEC, mv, commit_token="batch_0") == []
    snap0 = _rows(read_mv(spark, SPEC, mv))
    assert _rows(read_mv(spark, SPEC, mv)) == snap0

    assert delta_refresh(spark, b1, SPEC, mv, commit_token="batch_1")
    snap1 = _rows(read_mv(spark, SPEC, mv))
    # merge-path redelivery of either token: no-op, MV unchanged
    assert delta_refresh(spark, b1, SPEC, mv, commit_token="batch_1") == []
    assert delta_refresh(spark, b0, SPEC, mv, commit_token="batch_0") == []
    assert _rows(read_mv(spark, SPEC, mv)) == snap1

    full = str(tmp_path_factory.mktemp("mv") / "tokfull")
    build_mv(ev.where(F.dayofmonth("p_date") <= 20), SPEC, full)
    assert snap1 == _rows(read_mv(spark, SPEC, full))


def test_commit_token_no_silent_crash_window(spark, ev, tmp_path_factory,
                                             monkeypatch):
    """The token is recorded INSIDE the commit: kill the refresh right
    after the data write (before intent clears). The MV must be LOUD
    (pending intent blocks reads/refreshes) — never 'merged data,
    missing token', which is the silent double-merge window the
    external after-the-fact marker had."""
    from batch_processing_etl_orchestration_spark.warehouse import (
        incremental as inc,
    )

    mv = str(tmp_path_factory.mktemp("mv") / "crash")
    b0 = ev.where(F.dayofmonth("p_date") <= 10)
    b1 = ev.where(F.dayofmonth("p_date").between(11, 20))
    delta_refresh(spark, b0, SPEC, mv, commit_token="batch_0")

    real = inc._clear_intent

    def boom(path):
        raise RuntimeError("killed between data write and intent clear")

    monkeypatch.setattr(inc, "_clear_intent", boom)
    with pytest.raises(RuntimeError, match="killed"):
        delta_refresh(spark, b1, SPEC, mv, commit_token="batch_1")
    monkeypatch.setattr(inc, "_clear_intent", real)

    # the crash is LOUD: both the token and the data landed, and the
    # pending intent refuses service until healed — no interleaving
    # where data committed silently without its token
    assert inc.has_commit(mv, "batch_1")
    with pytest.raises(RuntimeError, match="unfinished refresh"):
        read_mv(spark, SPEC, mv)
    with pytest.raises(RuntimeError, match="unfinished refresh"):
        delta_refresh(spark, b1, SPEC, mv, commit_token="batch_2")


def test_bootstrap_crash_between_token_and_ready_redoes(
    spark, ev, tmp_path_factory, monkeypatch
):
    """Review r12: on the BOOTSTRAP path the token lands before the
    ready marker, so a crash in that window leaves token+data but an
    unready MV. A bare token must NOT count as committed — honoring it
    would skip the redelivered batch while the next batch's bootstrap
    rmtree destroys its data (silent loss). The redelivery must REDO
    the bootstrap and the final MV must equal the one-shot build."""
    from batch_processing_etl_orchestration_spark.warehouse import (
        incremental as inc,
    )

    mv = str(tmp_path_factory.mktemp("mv") / "bootcrash")
    b0 = ev.where(F.dayofmonth("p_date") <= 10)
    b1 = ev.where(F.dayofmonth("p_date").between(11, 20))

    real = inc._record_commit

    def record_then_die(path, token):
        real(path, token)
        raise RuntimeError("killed between token and ready marker")

    monkeypatch.setattr(inc, "_record_commit", record_then_die)
    with pytest.raises(RuntimeError, match="killed"):
        delta_refresh(spark, b0, SPEC, mv, commit_token="batch_0")
    monkeypatch.setattr(inc, "_record_commit", real)

    # token file exists, ready marker does not: not a commit
    import os

    assert os.path.isfile(os.path.join(mv, inc._COMMITS, "batch_0"))
    assert not os.path.isfile(os.path.join(mv, inc._READY))
    assert not inc.has_commit(mv, "batch_0")

    # redelivery redoes the bootstrap (clearing the aborted dir) and
    # batch 0's rows survive into the final MV
    assert delta_refresh(spark, b0, SPEC, mv, commit_token="batch_0")
    assert inc.has_commit(mv, "batch_0")
    assert delta_refresh(spark, b1, SPEC, mv, commit_token="batch_1")

    full = str(tmp_path_factory.mktemp("mv") / "bootfull")
    build_mv(ev.where(F.dayofmonth("p_date") <= 20), SPEC, full)
    assert _rows(read_mv(spark, SPEC, mv)) == _rows(read_mv(spark, SPEC, full))
