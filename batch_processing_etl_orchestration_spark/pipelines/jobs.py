"""End-to-end pipeline jobs: the reference's extract>>transform>>load
DAGs as single Spark jobs (SURVEY §3).

Each job takes bronze inputs (raw-page DataFrames + dims), applies the
silver cleaner, computes the gold aggregates, snake_cases, and lands
everything in the warehouse via the idempotent merge sink — replacing
the reference's pickled-XCom handoffs (K6) and append-only INSERT (K1)
with tables and exactly-once-style upserts. Re-running a job with the
same input must not duplicate rows (the reference's known defect,
SURVEY §2.9) — asserted in tests/test_jobs.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from batch_processing_etl_orchestration_spark.pipelines import eia7a, eia814, eia930, openmeteo
from batch_processing_etl_orchestration_spark.warehouse.catalog import (
    DEFAULT_DB,
    merge_idempotent,
)

# The natural key each job's merge_idempotent upserts on, by warehouse
# table.
MERGE_KEYS: dict[str, tuple[str, ...]] = {
    "eia930_cleaned_hourly_net_generation": ("date", "respondent", "fueltype"),
    "eia930_cleaned_hourly_demand_interchange_generation": ("date", "respondent"),
    "eia930_hourly_net_generation_by_energy_source": ("date", "fueltype"),
    "eia930_hourly_respondents_producing_and_generating": ("date", "respondent"),
    "eia930_hourly_statistics_by_response_type": ("date",),
    "openmeteo_cleaned_weather": ("date", "latitude", "longitude"),
    "openmeteo_weather_means_per_hour": ("date", "state"),
    "openmeteo_weather_deviations_per_hour": ("date", "state"),
    "eia7a_cleaned_quarterly_coal_imports_and_exports": ("date", "country_id"),
    "eia814_cleaned_monthly_crude_oil_imports": ("date", "origin_id"),
}


def run_eia930_job(
    spark: SparkSession,
    fuel_type_raw: DataFrame,
    region_raw: DataFrame,
    ba_dim: DataFrame,
    cutoff_ts: str,
    db: str = DEFAULT_DB,
    load: bool = True,
) -> dict[str, DataFrame]:
    """EIA-930 hourly electricity job (dagEIA930HourlyData,
    EIA930PipelineHourlyData.py:287-320): clean both endpoint feeds,
    compute the three gold aggregates, optionally land all frames.

    Returns the gold frames keyed by warehouse table name.
    """
    clean_fuel = eia930.clean_hourly(fuel_type_raw, ba_dim, cutoff_ts)
    clean_region = eia930.clean_hourly(region_raw, ba_dim, cutoff_ts)

    gold = {
        "eia930_cleaned_hourly_net_generation": eia930.prepare_for_load(clean_fuel),
        "eia930_cleaned_hourly_demand_interchange_generation": eia930.prepare_for_load(
            clean_region
        ),
        "eia930_hourly_net_generation_by_energy_source": eia930.prepare_for_load(
            eia930.net_generation_by_energy_source(clean_fuel)
        ),
        "eia930_hourly_respondents_producing_and_generating": eia930.prepare_for_load(
            eia930.respondents_producing_and_generating(clean_region)
        ),
        "eia930_hourly_statistics_by_response_type": eia930.prepare_for_load(
            eia930.statistics_by_response_type(clean_region)
        ),
    }
    if load:
        _land(spark, gold, db)
    return gold


def run_openmeteo_job(
    spark: SparkSession,
    responses: DataFrame,
    coords: DataFrame,
    variables: list[str] | None = None,
    db: str = DEFAULT_DB,
    load: bool = True,
) -> dict[str, DataFrame]:
    """Open-Meteo weather job (dagOpenMeteoHourlyData,
    OpenMeteoWeatherPipelineHourlyData.py:191-224): materialize hourly
    rows, compute per-state mean/std, land three frames."""
    weather = openmeteo.materialize_hourly(responses, variables)
    gold = {
        "openmeteo_cleaned_weather": weather,
        "openmeteo_weather_means_per_hour": openmeteo.metrics_per_state_per_hour(
            weather, coords, "mean", variables
        ),
        "openmeteo_weather_deviations_per_hour": openmeteo.metrics_per_state_per_hour(
            weather, coords, "std", variables
        ),
    }
    if load:
        _land(spark, gold, db)
    return gold


def run_eia7a_job(
    spark: SparkSession,
    pages: list[DataFrame],
    target_quarter: str,
    table: str = "eia7a_cleaned_quarterly_coal_imports_and_exports",
    db: str = DEFAULT_DB,
    load: bool = True,
) -> DataFrame:
    """EIA-7A quarterly coal job (dagEIA7AQuarterlyData,
    EIA7APipelineQuarterlyData.py:182-215)."""
    cleaned = eia7a.prepare_for_load(
        eia7a.clean_quarterly(eia7a.union_pages(pages), target_quarter)
    )
    if load:
        _land(spark, {table: cleaned}, db)
    return cleaned


def run_eia814_job(
    spark: SparkSession,
    pages: list[DataFrame],
    table: str = "eia814_cleaned_monthly_crude_oil_imports",
    db: str = DEFAULT_DB,
    load: bool = True,
) -> DataFrame:
    """EIA-814 monthly crude-oil job (dagEIA814MonthlyData,
    EIA814PipelineMonthlyData.py:144-177)."""
    cleaned = eia814.prepare_for_load(
        eia814.clean_monthly(eia7a.union_pages(pages))
    )
    if load:
        _land(spark, {table: cleaned}, db)
    return cleaned


def _land(spark: SparkSession, frames: dict[str, DataFrame], db: str) -> None:
    """Upsert each frame into its warehouse table on MERGE_KEYS."""
    for table, df in frames.items():
        merge_idempotent(
            spark, _conform(spark, df, table, db), table, list(MERGE_KEYS[table]), db
        )


def _conform(spark: SparkSession, df: DataFrame, table: str, db: str) -> DataFrame:
    """Align a gold frame to the warehouse table's column set: missing
    columns become nulls, extras drop, order matches the DDL — the
    engine's explicit version of the reference's implicit
    DDL-as-contract (SURVEY §5)."""
    from pyspark.sql import functions as F

    target = spark.table(f"{db}.{table}").schema
    present = set(df.columns)
    cols = []
    for field in target:
        if field.name in present:
            cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)
