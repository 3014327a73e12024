"""Paginated REST source (S1-S4), Last-Modified cache (S6), CSV dim
(S7), distributed fetch (S8) — offline, with injected fetchers."""

from __future__ import annotations

import math

from batch_processing_etl_orchestration_spark.sources import (
    LastModifiedCache,
    PaginatedRestSource,
    read_csv_dim,
)
from batch_processing_etl_orchestration_spark.sources.rest import (
    fetch_partitioned,
    scrub_params,
)


def _fake_fetch(pages):
    calls = []

    def fetch(req):
        calls.append(req.offset)
        idx = req.offset // req.length
        return pages[idx] if idx < len(pages) else []

    return fetch, calls


def test_pagination_until_empty(spark):
    pages = [[{"period": "2024-01", "value": str(i)} for i in range(3)], [{"period": "2024-02", "value": "9"}]]
    fetch, calls = _fake_fetch(pages)
    src = PaginatedRestSource(fetch=fetch, endpoint="e", page_size=3)
    df = src.to_dataframe(spark, "period STRING, value STRING")
    assert df.count() == 4
    assert calls == [0, 3, 6]  # stopped on the empty third page


def test_pagination_stop_predicate(spark):
    pages = [
        [{"period": "2024-01"}],
        [{"period": "2024-09"}],  # beyond boundary → stop after this page
        [{"period": "2024-10"}],
    ]
    fetch, calls = _fake_fetch(pages)
    src = PaginatedRestSource(
        fetch=fetch,
        endpoint="e",
        page_size=1,
        stop_when=lambda last: last["period"] >= "2024-06",
    )
    assert sum(len(p) for p in src.pages()) == 2
    assert calls == [0, 1]


def _nan_safe(v):
    """Rows with NaN made comparable (NaN != NaN) and lists as tuples."""
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(_nan_safe(x) for x in v)
    return v


def test_bronze_frame_matches_list_path_as_local_relation(spark):
    """The bronze contract: to_dataframe lands exactly what a list-based
    createDataFrame lands — non-string values in STRING fields rendered
    as str(v) (booleans as 'true'/'false'), None and missing keys as
    null, NaN kept as NaN inside nested arrays, back-ticked names — but
    as a LocalRelation, not a scan of a Python RDD."""
    schema = (
        "period STRING, `respondent-name` STRING, value STRING, flag STRING, "
        "n LONG, values ARRAY<ARRAY<DOUBLE>>"
    )
    page = [
        {"period": "2024-01-01T00", "respondent-name": "PJM Inc", "value": 123,
         "flag": True, "n": 7, "values": [[1.0, float("nan")], None]},
        {"period": "2024-01-01T01", "respondent-name": None, "value": 1.5,
         "flag": False, "n": None, "values": [[None, 2.0]]},
        {"period": "2024-01-01T02", "value": 1e20, "extra": "dropped"},
    ]
    fetch, _ = _fake_fetch([page])
    df = PaginatedRestSource(fetch=fetch, endpoint="e", page_size=3).to_dataframe(
        spark, schema
    )
    reference = spark.createDataFrame(page, schema=schema)
    assert df.schema == reference.schema
    got = [_nan_safe(tuple(r)) for r in df.collect()]
    assert got == [_nan_safe(tuple(r)) for r in reference.collect()]
    assert got == [
        ("2024-01-01T00", "PJM Inc", "123", "true", 7, ((1.0, "NaN"), None)),
        ("2024-01-01T01", None, "1.5", "false", None, ((None, 2.0),)),
        ("2024-01-01T02", None, "1e+20", None, None, None),
    ]
    plan = df._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"


def test_last_modified_cache():
    cache = LastModifiedCache()
    assert not cache.is_fresh("u", "Mon")
    cache.update("u", "Mon")
    assert cache.is_fresh("u", "Mon")
    assert not cache.is_fresh("u", "Tue")  # changed upstream → refetch


def test_scrub_params():
    # P18 — API-key scrub (EIA930PipelineHourlyData.py:65)
    assert scrub_params({"api_key": "secret", "start": "x"}, "api_key") == {"start": "x"}


def test_csv_dim(spark, tmp_path):
    p = tmp_path / "coords.csv"
    p.write_text("State,Latitude,Longitude\nMA,42.0,-71.0\nMA,42.5,-70.9\n")
    df = read_csv_dim(spark, str(p))
    assert df.columns == ["State", "Latitude", "Longitude"]
    assert df.count() == 2
    assert dict(df.dtypes)["Latitude"] == "double"


def test_fetch_partitioned(spark):
    keys = spark.createDataFrame([(1,), (2,), (3,)], "key INT")

    def fetch_rows(rec):
        return [{"key": rec["key"], "v": rec["key"] * 10}]

    out = fetch_partitioned(keys, fetch_rows, "key INT, v INT")
    assert {(r["key"], r["v"]) for r in out.collect()} == {(1, 10), (2, 20), (3, 30)}


def test_python_datasource_restpages(spark):
    """Spark 4 Python Data Source: page windows become input
    partitions (executor-side fetch), rows match the deterministic
    profile regardless of page size, and the start_offset pushdown
    trims partitions at planning time."""
    from batch_processing_etl_orchestration_spark.sources.pyds import (
        RestPagesDataSource,
        _fetch_synthetic,
    )

    spark.dataSource.register(RestPagesDataSource)
    df = (
        spark.read.format("restpages")
        .option("n_rows", "1000")
        .option("page_size", "300")
        .load()
    )
    assert df.rdd.getNumPartitions() == 4  # ceil(1000/300) page windows
    assert df.count() == 1000
    expected = set(_fetch_synthetic(0, 1000, 1000))
    assert set(map(tuple, df.collect())) == expected

    # page size must not change content, only parallelism
    df2 = (
        spark.read.format("restpages")
        .option("n_rows", "1000")
        .option("page_size", "1000")
        .load()
    )
    assert set(map(tuple, df2.collect())) == expected

    # start_offset pushdown: later windows only, fewer partitions
    df3 = (
        spark.read.format("restpages")
        .option("n_rows", "1000")
        .option("page_size", "300")
        .option("start_offset", "600")
        .load()
    )
    assert df3.rdd.getNumPartitions() == 2
    assert set(map(tuple, df3.collect())) == set(_fetch_synthetic(600, 400, 1000))


def test_python_datasource_pushfilters_prunes_partitions(spark):
    """A plain WHERE on period reaches pushFilters and trims page
    windows at planning time — no start_offset option needed. The
    endpoint is period-ordered (28 rows per hourly block), so
    period >= X maps exactly to an offset boundary."""
    from pyspark.sql import functions as F

    from batch_processing_etl_orchestration_spark.sources.pyds import (
        RestPagesDataSource,
        _ROWS_PER_PERIOD,
        _fetch_synthetic,
    )

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(RestPagesDataSource)

    def scan():
        return (
            spark.read.format("restpages")
            .option("n_rows", "2000")
            .option("page_size", str(2 * _ROWS_PER_PERIOD))
            .load()
        )

    full = scan()
    assert full.rdd.getNumPartitions() == 36  # ceil(2000/56)

    # period >= hour-block 36 (offset 1008): planning should keep only
    # the windows at/after the boundary
    lo = scan().where(F.col("period") >= "2024-01-02T12")
    assert lo.rdd.getNumPartitions() == 18  # (2000-1008)/56 → 17.7 → 18
    expected = [t for t in _fetch_synthetic(0, 2000, 2000) if t[0] >= "2024-01-02T12"]
    assert sorted(map(tuple, lo.collect())) == sorted(expected)

    # a two-sided range prunes both ends
    rng = scan().where(
        (F.col("period") >= "2024-01-02T12") & (F.col("period") < "2024-01-03T00")
    )
    assert rng.rdd.getNumPartitions() == 6  # (1344-1008)/56
    expected_rng = [t for t in expected if t[0] < "2024-01-03T00"]
    assert sorted(map(tuple, rng.collect())) == sorted(expected_rng)

    # equality on one period value → a single window
    eq = scan().where(F.col("period") == "2024-01-02T12")
    assert eq.rdd.getNumPartitions() == 1
    assert all(r["period"] == "2024-01-02T12" for r in eq.collect())
    assert eq.count() == _ROWS_PER_PERIOD

    # a filter pushdown must compose with residual Spark-side filters
    mixed = scan().where(
        (F.col("period") >= "2024-01-02T12") & (F.col("respondent") == "BA3")
    )
    assert sorted(map(tuple, mixed.collect())) == sorted(
        t for t in expected if t[1] == "BA3"
    )


def test_python_datasource_column_projection(spark):
    """The 'columns' option narrows the source schema at planning time
    (PySpark 4.1 has no pushColumns hook for Python Data Sources, so
    the option is the projection path): emitted tuples carry only the
    requested fields in the requested order, values match the
    full-scan projection, bad specs fail at load, and the stream
    reader honors the same projection."""
    import pytest
    from pyspark.sql.utils import AnalysisException

    from batch_processing_etl_orchestration_spark.sources.pyds import (
        RestPagesDataSource,
        _fetch_synthetic,
    )

    spark.dataSource.register(RestPagesDataSource)
    df = (
        spark.read.format("restpages")
        .option("n_rows", "500")
        .option("page_size", "200")
        .option("columns", "value,respondent")
        .load()
    )
    assert df.columns == ["value", "respondent"]
    got = sorted(map(tuple, df.collect()))
    want = sorted((t[3], t[1]) for t in _fetch_synthetic(0, 500, 500))
    assert got == want

    with pytest.raises((AnalysisException, Exception)):
        (
            spark.read.format("restpages")
            .option("n_rows", "10")
            .option("columns", "period,nope")
            .load()
            .collect()
        )

    # projection composes with pushFilters: period must be selectable
    # for its range predicate to prune windows
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    df2 = (
        spark.read.format("restpages")
        .option("n_rows", "2000")
        .option("page_size", "56")
        .option("columns", "period,value")
        .load()
        .where(F.col("period") >= "2024-01-02T12")
    )
    rows = df2.collect()
    assert len(rows) == 2000 - 36 * 28  # blocks 36.. of 72 remain
    assert all(len(r) == 2 and r["period"] >= "2024-01-02T12" for r in rows)


def test_python_datasource_partition_planning_under_aqe_sf1_scale(spark):
    """VERDICT r11 next #8: at large page counts (the endpoint's full
    28-day period domain, 18,816 rows over 336 page windows — two
    orders past the fixture-scale 4) with AQE + partition coalescing ON
    and an aggressively small advisory partition size, the Python Data
    Source's planning contract must hold — ONE task per page window
    (AQE coalesces SHUFFLE partitions, never v2 input partitions),
    pushFilters still prunes windows at planning time, and content is
    invariant across page sizes even through an AQE-coalesced shuffle."""
    from pyspark.sql import functions as F

    from batch_processing_etl_orchestration_spark.sources.pyds import (
        RestPagesDataSource,
    )

    spark.dataSource.register(RestPagesDataSource)
    before = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert (
        spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
        == "true"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1k")
    try:
        n_rows = 28 * 24 * 28  # the full canonical period domain

        def pages(page_size: int):
            return (
                spark.read.format("restpages")
                .option("n_rows", str(n_rows))
                .option("page_size", str(page_size))
                .load()
            )

        fine = pages(56)
        # one InputPartition per page window, uncollapsed by AQE
        assert fine.rdd.getNumPartitions() == 336
        coarse = pages(1_882)
        assert coarse.rdd.getNumPartitions() == 10

        def digest(df):
            return sorted(
                tuple(r)
                for r in df.groupBy("type")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("value").cast("long")).alias("sv"),
                    F.countDistinct("period").alias("np"),
                )
                .collect()
            )

        d_fine = digest(fine)
        assert d_fine == digest(coarse)  # content invariant across pages
        assert sum(r[1] for r in d_fine) == n_rows

        # pushdown under AQE: WHERE period >= day 15 maps to offset
        # 14*24*28 at PLANNING time — only the later page windows exist
        pruned = fine.where(F.col("period") >= "2024-01-15T00")
        assert pruned.rdd.getNumPartitions() == 168
        assert pruned.count() == n_rows // 2
    finally:
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", before
        )
