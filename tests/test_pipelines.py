"""End-to-end pipeline tests on constructed raw inputs matching the
reference's bronze schemas (FIXTURES.md F1/F2/F5/F6)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from batch_processing_etl_orchestration_spark.pipelines import eia7a, eia814, eia930, openmeteo


def _raw_930(spark):
    rows = [
        # (period, respondent, respondent-name, fueltype, type, value)
        ("2024-01-01T00", "PJM", "PJM Inc", "NG", "D", "100.5"),
        ("2024-01-01T00", "PJM", "PJM Inc", "COL", "NG", "50"),
        ("2024-01-01T01", "MISO", "Midcontinent", "NG", "D", "garbage"),
        ("2024-01-01T01", "NOPE", "Unknown BA", "NG", "D", "7"),  # not in dim
        ("2024-01-02T00", "PJM", "PJM Inc", "SUN", "DF", "1"),  # beyond cutoff
    ]
    return spark.createDataFrame(
        rows,
        "period STRING, respondent STRING, `respondent-name` STRING, "
        "fueltype STRING, type STRING, value STRING",
    )


def _ba_dim(spark):
    return spark.createDataFrame([("PJM",), ("MISO",)], "ba_code STRING")


def test_eia930_clean_and_aggregates(spark):
    clean = eia930.clean_hourly(_raw_930(spark), _ba_dim(spark), "2024-01-02 00:00:00")
    rows = clean.collect()
    # NOPE filtered by semi-join; 2024-01-02 row trimmed by cutoff
    assert {r["respondent"] for r in rows} == {"PJM", "MISO"}
    assert all(r["date"].day == 1 for r in rows)
    # 'garbage' coerced to null
    miso = [r for r in rows if r["respondent"] == "MISO"][0]
    assert miso["value"] is None

    net = eia930.net_generation_by_energy_source(clean).collect()
    ng = [r for r in net if r["fueltype"] == "NG" and r["date"].hour == 0][0]
    assert ng["value"] == 100.5

    stats = eia930.statistics_by_response_type(clean)
    assert set(stats.columns) == {"date", "D", "DF", "NG", "TI"}

    loaded = eia930.prepare_for_load(
        clean.select("date", "respondent", F.col("respondent-name"), "value")
    )
    assert "respondent_name" in loaded.columns


def test_eia930_pivot_complete_rows(spark):
    rows = [
        ("2024-01-01T00", "PJM", "PJM Inc", None, t, "1") for t in ["D", "DF", "NG", "TI"]
    ] + [("2024-01-01T00", "MISO", "Mid", None, "D", "2")]
    raw = spark.createDataFrame(
        rows,
        "period STRING, respondent STRING, `respondent-name` STRING, "
        "fueltype STRING, type STRING, value STRING",
    )
    clean = eia930.clean_hourly(raw, _ba_dim(spark), "2024-02-01 00:00:00")
    wide = eia930.respondents_producing_and_generating(clean).collect()
    # MISO lacks DF/NG/TI → dropped (P12)
    assert [r["respondent"] for r in wide] == ["PJM"]


def test_eia7a_branches(spark):
    imports = spark.createDataFrame(
        [
            ("2024-Q1", "1", "Total", "10.0"),
            ("2024-Q1", "2", "Boston", "12.5"),
            ("2024-Q1", "3", "Chicago", "oops"),
            ("2023-Q4", "4", "Boston", "9.0"),
        ],
        "period STRING, customsDistrictId STRING, customsDistrictDescription STRING, price STRING",
    )
    out = eia7a.clean_quarterly(imports, "2024-Q1").collect()
    # Total excluded, bad price dropped, wrong quarter dropped
    assert len(out) == 1 and out[0]["customsDistrictDescription"] == "Boston"
    assert out[0]["price"] == 12.5

    receipts = spark.createDataFrame(
        [("2024-Q1", None, "5.0"), ("2024-Q1", "Cook", "6.0")],
        "period STRING, mineCountyName STRING, price STRING",
    )
    out2 = eia7a.clean_quarterly(receipts, "2024-Q1").collect()
    assert {r["mineCountyName"] for r in out2} == {"Not Specified", "Cook"}


def test_eia7a_union_pages(spark):
    p1 = spark.createDataFrame([("2024-Q1", "1.0")], "period STRING, price STRING")
    p2 = spark.createDataFrame([("2024-Q1", "2.0")], "period STRING, price STRING")
    assert eia7a.union_pages([p1, p2]).count() == 2


def test_eia814_month_end(spark):
    raw = spark.createDataFrame(
        [("2024-02", "100"), ("2024-11", "bad")], "period STRING, quantity STRING"
    )
    out = eia814.clean_monthly(raw).orderBy("date").collect()
    assert out[0]["date"].day == 29 and out[0]["quantity"] == 100.0
    assert out[1]["date"].day == 30 and out[1]["quantity"] is None


def test_openmeteo_materialize_and_metrics(spark):
    # 2 coordinates of one state, 3 hourly ticks, 2 variables
    resp = spark.createDataFrame(
        [
            (40.0, -70.0, 0, 10800, 3600, [[1.0, 2.0, 3.0], [10.0, 20.0, 30.0]]),
            (41.0, -71.0, 0, 10800, 3600, [[2.0, 4.0, 6.0], [20.0, 40.0, 60.0]]),
        ],
        "latitude DOUBLE, longitude DOUBLE, start_s LONG, end_s LONG, "
        "interval_s LONG, values ARRAY<ARRAY<DOUBLE>>",
    )
    wx = openmeteo.materialize_hourly(resp, ["temp", "wind"])
    rows = wx.orderBy("date", "latitude").collect()
    assert len(rows) == 6  # 3 ticks × 2 coords (inclusive='left')
    assert rows[0]["date"].hour == 0 and rows[0]["temp"] == 1.0 and rows[0]["wind"] == 10.0

    coords = spark.createDataFrame(
        [("MA", 40.0, -70.0), ("MA", 41.0, -71.0)],
        "State STRING, Latitude DOUBLE, Longitude DOUBLE",
    )
    means = openmeteo.metrics_per_state_per_hour(wx, coords, "mean", ["temp", "wind"]).collect()
    h0 = [r for r in means if r["date"].hour == 0][0]
    assert h0["temp"] == 1.5 and h0["wind"] == 15.0

    stds = openmeteo.metrics_per_state_per_hour(wx, coords, "std", ["temp", "wind"]).collect()
    h0s = [r for r in stds if r["date"].hour == 0][0]
    # sample std (ddof=1) of [1,2] = sqrt(0.5)
    assert math.isclose(h0s["temp"], round(math.sqrt(0.5), 6), abs_tol=1e-9)


def test_merge_keys_cover_every_landed_table():
    """Spark-free: every warehouse table a job function names has a
    MERGE_KEYS entry, and every key column is a column of that table."""
    import ast
    import inspect

    from batch_processing_etl_orchestration_spark.pipelines import jobs
    from batch_processing_etl_orchestration_spark.warehouse.catalog import (
        WAREHOUSE_SCHEMAS,
    )

    landed = {
        node.value
        for name, fn in vars(jobs).items()
        if name.startswith("run_") and callable(fn)
        for node in ast.walk(ast.parse(inspect.getsource(fn)))
        if isinstance(node, ast.Constant) and node.value in WAREHOUSE_SCHEMAS
    }
    assert len(landed) == 10
    assert landed == set(jobs.MERGE_KEYS)
    for table, keys in jobs.MERGE_KEYS.items():
        assert keys and set(keys) <= set(WAREHOUSE_SCHEMAS[table]), table
