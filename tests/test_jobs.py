"""End-to-end pipeline jobs: bronze → silver → gold → warehouse, with
the idempotent-rerun guarantee the reference lacks."""

from __future__ import annotations

from collections import Counter

import pytest

from batch_processing_etl_orchestration_spark.pipelines.jobs import (
    run_eia7a_job,
    run_eia814_job,
    run_eia930_job,
    run_openmeteo_job,
)
from batch_processing_etl_orchestration_spark.warehouse.catalog import (
    create_all_tables,
    drop_all_tables,
)

DB = "energy_and_weather_data"


@pytest.fixture(scope="module", autouse=True)
def warehouse(spark):
    create_all_tables(spark, DB)
    yield
    drop_all_tables(spark, DB)
    spark.sql(f"DROP DATABASE IF EXISTS {DB}")


def _raw_930(spark, type_col):
    rows = [
        ("2024-01-01T00", "PJM", "PJM Inc", "NG", "100.5", "MWh"),
        ("2024-01-01T00", "PJM", "PJM Inc", "D", "50", "MWh"),
        ("2024-01-01T01", "MISO", "Mid", "NG", "70", "MWh"),
        ("2024-01-01T01", "NOPE", "Unknown", "NG", "7", "MWh"),
    ]
    return spark.createDataFrame(
        rows,
        f"period STRING, respondent STRING, `respondent-name` STRING, "
        f"{type_col} STRING, value STRING, `value-units` STRING",
    )


def _landed_matches(spark, table, gold):
    """Landed rows equal the gold frame's, compared column by column
    by name over every column the gold frame has."""
    landed = spark.table(f"{DB}.{table}")
    cols = [c for c in landed.columns if c in gold.columns]
    rows = Counter(tuple(r) for r in landed.select(*cols).collect())
    assert rows == Counter(tuple(r) for r in gold.select(*cols).collect())
    return landed


def test_eia930_job_end_to_end_idempotent(spark):
    ba = spark.createDataFrame([("PJM",), ("MISO",)], "ba_code STRING")
    args = dict(
        fuel_type_raw=_raw_930(spark, "fueltype"),
        region_raw=_raw_930(spark, "type"),
        ba_dim=ba,
        cutoff_ts="2024-01-02 00:00:00",
    )
    gold = run_eia930_job(spark, **args)
    assert set(gold) == {
        "eia930_cleaned_hourly_net_generation",
        "eia930_cleaned_hourly_demand_interchange_generation",
        "eia930_hourly_net_generation_by_energy_source",
        "eia930_hourly_respondents_producing_and_generating",
        "eia930_hourly_statistics_by_response_type",
    }
    net = spark.table(f"{DB}.eia930_hourly_net_generation_by_energy_source")
    n1 = net.count()
    assert n1 > 0
    # rerun the whole job with identical input → no duplicates anywhere
    run_eia930_job(spark, **args)
    assert spark.table(f"{DB}.eia930_hourly_net_generation_by_energy_source").count() == n1
    # the net-generation merge keys (date, respondent, fueltype) do not
    # lead its DDL: the rerun added no rows there either, and
    # fueltype and respondent_name each hold their own value
    t = "eia930_cleaned_hourly_net_generation"
    landed = _landed_matches(spark, t, gold[t])
    assert {(r["respondent_name"], r["fueltype"]) for r in landed.collect()} == {
        ("PJM Inc", "NG"), ("PJM Inc", "D"), ("Mid", "NG")
    }


def test_openmeteo_job(spark):
    resp = spark.createDataFrame(
        [
            (40.0, -70.0, 0, 7200, 3600, [[1.0, 2.0]]),
            (41.0, -71.0, 0, 7200, 3600, [[3.0, 4.0]]),
        ],
        "latitude DOUBLE, longitude DOUBLE, start_s LONG, end_s LONG, "
        "interval_s LONG, values ARRAY<ARRAY<DOUBLE>>",
    )
    coords = spark.createDataFrame(
        [("MA", 40.0, -70.0), ("MA", 41.0, -71.0)],
        "State STRING, Latitude DOUBLE, Longitude DOUBLE",
    )
    gold = run_openmeteo_job(spark, resp, coords, variables=["temperature_2m"])
    means = {
        (r["date"].hour): r["temperature_2m"]
        for r in gold["openmeteo_weather_means_per_hour"].collect()
    }
    assert means == {0: 2.0, 1: 3.0}
    # landed with nulls conformed for the 29 unmeasured variables
    landed = spark.table(f"{DB}.openmeteo_weather_means_per_hour")
    assert landed.count() == 2


def test_eia7a_job(spark):
    p1 = spark.createDataFrame(
        [("2024-Q1", "C1", "Canada", "D1", "Boston", "12.5")],
        "period STRING, countryId STRING, countryDescription STRING, "
        "customsDistrictId STRING, customsDistrictDescription STRING, price STRING",
    )
    out = run_eia7a_job(spark, [p1], "2024-Q1")
    assert out.count() == 1
    assert spark.table(f"{DB}.eia7a_cleaned_quarterly_coal_imports_and_exports").count() == 1
    # rerun: the merge keys (date, country_id) do not lead the DDL; no
    # row is added and every column holds its own value
    run_eia7a_job(spark, [p1], "2024-Q1")
    t = "eia7a_cleaned_quarterly_coal_imports_and_exports"
    [row] = _landed_matches(spark, t, out).collect()
    assert (row["country_id"], row["country_description"], row["price"]) == (
        "C1", "Canada", 12.5
    )


def test_eia814_job(spark):
    p1 = spark.createDataFrame(
        [("2024-02", "O1", "Canada", "100", "kb")],
        "period STRING, originId STRING, originName STRING, quantity STRING, "
        "`quantity-units` STRING",
    )
    out = run_eia814_job(spark, [p1])
    assert out.collect()[0]["date"].day == 29
    assert spark.table(f"{DB}.eia814_cleaned_monthly_crude_oil_imports").count() == 1
