"""Warehouse catalog: the reference's 13-table PostgreSQL schema
(databaseOperations.py:133-382) re-expressed as Spark-managed parquet
tables, plus the full DDL lifecycle the reference exposes:

- K2 createDatabase        (databaseOperations.py:4-25)  → CREATE DATABASE IF NOT EXISTS
- K3 createTable           (databaseOperations.py:28-45) → CREATE TABLE from {col:type}
- K4 drop all tables       (databaseOperations.py:87-110)
- K5 delete all rows       (databaseOperations.py:113-126)
- S10 catalog listing      (databaseOperations.py:48-64) → spark.catalog.listTables
- S11 preview              (databaseOperations.py:67-84) → table().limit(n)
- K1 batch append sink     (EIA930PipelineHourlyData.py:158-180)
  plus an idempotent MERGE-style upsert the reference lacks (its
  known re-run-duplicates defect, SURVEY §2.9).

Type mapping (SURVEY §1.2): TEXT→STRING, FLOAT→DOUBLE, INT→INT,
TIMESTAMP→TIMESTAMP_NTZ (naive UTC wall time, matching the
reference's timezone-less Postgres TIMESTAMP).

Scale: tables are unpartitioned parquet; every merge lands one
right-sized set of files per table, each file sorted by the merge key
and compressed with the session's parquet codec (zstd, set in
session.get_spark). Every table's key leads with its date, so a landed
file is clustered by hour: runs compress well, and row-group min/max
on date stay tight for the scans and key probes that reread it (see
merge_idempotent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

WEATHER_VARS = [
    "temperature_2m",
    "relative_humidity_2m",
    "dew_point_2m",
    "apparent_temperature",
    "precipitation",
    "rain",
    "snowfall",
    "snow_depth",
    "weather_code",
    "pressure_msl",
    "surface_pressure",
    "cloud_cover",
    "cloud_cover_low",
    "cloud_cover_mid",
    "cloud_cover_high",
    "et0_fao_evapotranspiration",
    "vapour_pressure_deficit",
    "wind_speed_10m",
    "wind_speed_100m",
    "wind_direction_10m",
    "wind_direction_100m",
    "wind_gusts_10m",
    "soil_temperature_0_to_7cm",
    "soil_temperature_7_to_28cm",
    "soil_temperature_28_to_100cm",
    "soil_temperature_100_to_255cm",
    "soil_moisture_0_to_7cm",
    "soil_moisture_7_to_28cm",
    "soil_moisture_28_to_100cm",
    "soil_moisture_100_to_255cm",
]

_W = {v: "DOUBLE" for v in WEATHER_VARS}

# the 13 warehouse tables, column→type, mirroring
# databaseOperations.py:133-382 one-for-one (snake_cased, Spark types)
WAREHOUSE_SCHEMAS: dict[str, dict[str, str]] = {
    "eia930_balancing_authorities": {
        "ba_code": "STRING",
        "ba_name": "STRING",
        "time_zone": "STRING",
        "region_country_code": "STRING",
        "region_country_name": "STRING",
        "generation_only_ba": "STRING",
    },
    "eia930_energy_sources": {
        "energy_source_code": "STRING",
        "energy_source_name": "STRING",
    },
    "eia930_cleaned_hourly_net_generation": {
        "date": "TIMESTAMP_NTZ",
        "respondent": "STRING",
        "respondent_name": "STRING",
        "fueltype": "STRING",
        "type_name": "STRING",
        "value": "DOUBLE",
        "value_units": "STRING",
    },
    "eia930_cleaned_hourly_demand_interchange_generation": {
        "date": "TIMESTAMP_NTZ",
        "respondent": "STRING",
        "respondent_name": "STRING",
        "type": "STRING",
        "type_name": "STRING",
        "value": "DOUBLE",
        "value_units": "STRING",
    },
    "eia930_cleaned_hourly_interchange_by_neighboring_ba": {
        "date": "TIMESTAMP_NTZ",
        "fromba": "STRING",
        "fromba_name": "STRING",
        "toba": "STRING",
        "toba_name": "STRING",
        "value": "DOUBLE",
        "value_units": "STRING",
    },
    "eia930_hourly_net_generation_by_energy_source": {
        "date": "TIMESTAMP_NTZ",
        "fueltype": "STRING",
        "value": "DOUBLE",
    },
    "eia930_hourly_respondents_producing_and_generating": {
        "date": "TIMESTAMP_NTZ",
        "respondent": "STRING",
        "respondent_name": "STRING",
        "d": "DOUBLE",
        "df": "DOUBLE",
        "ng": "DOUBLE",
        "ti": "DOUBLE",
    },
    "eia930_hourly_statistics_by_response_type": {
        "date": "TIMESTAMP_NTZ",
        "d": "DOUBLE",
        "df": "DOUBLE",
        "ng": "DOUBLE",
        "ti": "DOUBLE",
    },
    "openmeteo_cleaned_weather": {
        "date": "TIMESTAMP_NTZ",
        "latitude": "DOUBLE",
        "longitude": "DOUBLE",
        **_W,
    },
    "openmeteo_weather_means_per_hour": {"date": "TIMESTAMP_NTZ", "state": "STRING", **_W},
    "openmeteo_weather_deviations_per_hour": {
        "date": "TIMESTAMP_NTZ",
        "state": "STRING",
        **_W,
    },
    "eia814_cleaned_monthly_crude_oil_imports": {
        "date": "TIMESTAMP_NTZ",
        "origin_id": "STRING",
        "origin_name": "STRING",
        "origin_type": "STRING",
        "origin_type_name": "STRING",
        "destination_id": "STRING",
        "destination_name": "STRING",
        "destination_type": "STRING",
        "destination_type_name": "STRING",
        "grade_id": "STRING",
        "grade_name": "STRING",
        "quantity": "DOUBLE",
        "quantity_units": "STRING",
    },
    "eia7a_cleaned_quarterly_coal_imports_and_exports": {
        "date": "TIMESTAMP_NTZ",
        "export_import_type": "STRING",
        "coal_rank_id": "STRING",
        "coal_rank_description": "STRING",
        "country_id": "STRING",
        "country_description": "STRING",
        "customs_district_id": "STRING",
        "customs_district_description": "STRING",
        "price": "DOUBLE",
        "quantity": "DOUBLE",
        "price_units": "STRING",
        "quantity_units": "STRING",
    },
}

DEFAULT_DB = "energy_and_weather_data"


def create_database(spark: SparkSession, name: str = DEFAULT_DB) -> None:
    """K2 — idempotent CREATE DATABASE (databaseOperations.py:4-25)."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {name}")


def create_table(
    spark: SparkSession, name: str, columns: dict[str, str], db: str = DEFAULT_DB
) -> None:
    """K3 — CREATE TABLE IF NOT EXISTS from a {col: type} dict
    (databaseOperations.py:28-45). Parquet-backed managed table,
    unpartitioned."""
    cols = ", ".join(f"`{c}` {t}" for c, t in columns.items())
    spark.sql(f"CREATE TABLE IF NOT EXISTS {db}.{name} ({cols}) USING parquet")


def create_all_tables(spark: SparkSession, db: str = DEFAULT_DB) -> None:
    create_database(spark, db)
    for name, columns in WAREHOUSE_SCHEMAS.items():
        create_table(spark, name, columns, db)


def list_tables(spark: SparkSession, db: str = DEFAULT_DB) -> list[str]:
    """S10 — catalog listing (databaseOperations.py:48-64). Excludes
    session temp views: spark.catalog.listTables(db) mixes them into
    every database's listing, but the reference semantic is the
    database's persistent tables (information_schema.tables)."""
    return [t.name for t in spark.catalog.listTables(db) if t.tableType != "TEMPORARY"]


def preview_table(spark: SparkSession, name: str, n: int = 5, db: str = DEFAULT_DB) -> DataFrame:
    """S11 — SELECT * LIMIT n preview (databaseOperations.py:67-84)."""
    return spark.table(f"{db}.{name}").limit(n)


def drop_all_tables(spark: SparkSession, db: str = DEFAULT_DB) -> None:
    """K4 — iterate catalog, DROP TABLE (databaseOperations.py:87-110)."""
    for t in list_tables(spark, db):
        spark.sql(f"DROP TABLE IF EXISTS {db}.{t}")


def truncate_table(spark: SparkSession, name: str, db: str = DEFAULT_DB) -> None:
    """K5 — DELETE all rows (databaseOperations.py:113-126)."""
    spark.sql(f"TRUNCATE TABLE {db}.{name}")


def append_rows(df: DataFrame, name: str, db: str = DEFAULT_DB) -> None:
    """K1 — batch append sink (execute_values INSERT,
    EIA930PipelineHourlyData.py:158-180). Distributed parquet append;
    no driver-side row materialization."""
    df.write.mode("append").insertInto(f"{db}.{name}")


def jdbc_writer(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    batch_size: int = 10_000,
    num_partitions: int | None = None,
    properties: dict[str, str] | None = None,
):
    """K1 Postgres-parity path: a configured ``DataFrameWriter`` for an
    external RDBMS — the direct analog of the reference's
    psycopg2 execute_values loader (databaseOperations.py:129-382,
    EIA930PipelineHourlyData.py:158-180), but distributed: each
    partition opens its own connection and writes ``batchsize`` rows
    per round trip, so load parallelism = ``num_partitions`` (coalesce
    first — a 1000-executor write would otherwise open 1000
    connections against one Postgres).

    Returns the writer unsaved so callers (and tests) can inspect the
    exact options; call ``.save()`` to execute. Execution needs the
    target's JDBC driver on the classpath (``--jars``/
    ``spark.jars.packages``); tests execute the full path against
    embedded Apache Derby, whose driver ships inside Spark's own jars
    (test_warehouse.test_jdbc_round_trip_embedded_derby) — Postgres
    differs only in URL and driver jar.
    """
    if num_partitions is not None:
        df = df.coalesce(num_partitions)
    writer = df.write.format("jdbc").mode(mode)
    for k, v in jdbc_options(url, table, batch_size, properties).items():
        writer = writer.option(k, v)
    return writer


def jdbc_options(
    url: str,
    table: str,
    batch_size: int = 10_000,
    properties: dict[str, str] | None = None,
) -> dict[str, str]:
    """The exact option set jdbc_writer applies (pure — unit-testable
    without a JVM writer or a database)."""
    return {"url": url, "dbtable": table, "batchsize": str(batch_size)} | (
        properties or {}
    )


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    batch_size: int = 10_000,
    num_partitions: int | None = None,
    properties: dict[str, str] | None = None,
) -> None:
    """Execute the K1 JDBC load (see jdbc_writer)."""
    jdbc_writer(df, url, table, mode, batch_size, num_partitions, properties).save()


def merge_idempotent(
    spark: SparkSession, df: DataFrame, name: str, key_cols: list[str], db: str = DEFAULT_DB
) -> None:
    """Idempotent upsert the reference lacks (re-running its DAG
    duplicates rows — SURVEY §2.9 'exactly-once-ish'). Without Delta in
    this environment: append only rows whose natural key is absent
    (left-anti against the existing table). On a Delta/Iceberg
    lakehouse this becomes a single MERGE INTO keyed the same way.

    Rows are matched to the table's columns by name: the USING join
    moves the key columns to the front and insertInto writes by
    position, so the appended rows are re-selected in the table's
    column order. They are also rebalanced, so AQE lands them as one
    right-sized set of files instead of one file per input slice, and
    sorted by ``key_cols`` within each file, so like keys sit in runs
    the session's codec compresses well and each row group's min/max
    on the key is tight (a date-first key clusters a file by hour).
    The sort runs inside the write stage: no Spark job is added."""
    table = spark.table(f"{db}.{name}")
    fresh = df.join(table.select(*key_cols), on=key_cols, how="left_anti")
    fresh = (
        fresh.select(*table.columns)
        .hint("rebalance")
        .sortWithinPartitions(*key_cols)
    )
    fresh.write.mode("append").insertInto(f"{db}.{name}")
