"""Warehouse DDL lifecycle (K1-K5, S10-S11) on a scratch catalog."""

from __future__ import annotations

import pytest

from batch_processing_etl_orchestration_spark.warehouse import (
    WAREHOUSE_SCHEMAS,
    append_rows,
    create_all_tables,
    drop_all_tables,
    list_tables,
    merge_idempotent,
    preview_table,
    truncate_table,
)

DB = "energy_and_weather_data"


@pytest.fixture(scope="module", autouse=True)
def warehouse(spark):
    create_all_tables(spark, DB)
    yield
    drop_all_tables(spark, DB)
    spark.sql(f"DROP DATABASE IF EXISTS {DB}")


def test_all_13_tables_exist(spark):
    assert len(WAREHOUSE_SCHEMAS) == 13
    assert set(list_tables(spark, DB)) == set(WAREHOUSE_SCHEMAS)


def test_append_preview_truncate(spark):
    t = "eia930_energy_sources"
    df = spark.createDataFrame(
        [("NG", "Natural Gas"), ("COL", "Coal")],
        "energy_source_code STRING, energy_source_name STRING",
    )
    append_rows(df, t, DB)
    assert spark.table(f"{DB}.{t}").count() == 2
    assert len(preview_table(spark, t, 1, DB).collect()) == 1
    truncate_table(spark, t, DB)
    assert spark.table(f"{DB}.{t}").count() == 0


def test_merge_idempotent_rerun_no_duplicates(spark):
    """The reference's re-run defect (append-only INSERT duplicates
    rows, SURVEY §2.9) must not reproduce through merge_idempotent."""
    t = "eia930_balancing_authorities"
    df = spark.createDataFrame(
        [("PJM", "PJM Inc", "EST", "US", "USA", "N")],
        ", ".join(f"{c} STRING" for c in WAREHOUSE_SCHEMAS[t]),
    )
    merge_idempotent(spark, df, t, ["ba_code"], DB)
    merge_idempotent(spark, df, t, ["ba_code"], DB)  # rerun — same input
    assert spark.table(f"{DB}.{t}").count() == 1
    truncate_table(spark, t, DB)


def test_merge_lands_one_file_by_column_name(spark):
    """A 4-partition, 100-row merge lands as one right-sized file, each
    value in its own column although the merge key is not the leading
    column. The file is zstd-compressed in every column chunk and
    sorted by the merge key."""
    from urllib.parse import urlparse

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    t = "eia930_energy_sources"
    df = spark.range(100).repartition(4).select(
        F.concat(F.lit("code"), F.col("id")).alias("energy_source_code"),
        F.concat(F.lit("name"), F.col("id")).alias("energy_source_name"),
    )
    assert df.rdd.getNumPartitions() == 4
    merge_idempotent(spark, df, t, ["energy_source_name"], DB)
    landed = spark.table(f"{DB}.{t}")
    (path,) = landed.inputFiles()
    assert sorted(map(tuple, landed.collect())) == sorted(map(tuple, df.collect()))
    f = pq.ParquetFile(urlparse(path).path)
    codecs = {
        f.metadata.row_group(g).column(c).compression
        for g in range(f.metadata.num_row_groups)
        for c in range(f.metadata.num_columns)
    }
    assert codecs == {"ZSTD"}, codecs
    keys = f.read(columns=["energy_source_name"]).column(0).to_pylist()
    assert keys == sorted(keys)
    truncate_table(spark, t, DB)


def test_jdbc_round_trip_embedded_derby(spark, tmp_path):
    """K1 executed against a real RDBMS: Apache Derby (embedded, ships
    in Spark's jars) — write_jdbc creates the table, append mode adds
    rows connection-per-partition, and a JDBC read returns the exact
    rows. This is the executed twin of the Postgres option-assembly
    test below (same writer path; only the URL differs)."""
    from batch_processing_etl_orchestration_spark.warehouse.catalog import write_jdbc

    url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
    df = spark.createDataFrame(
        [(1, "solar", 1.5), (2, "wind", -2.25)], "id LONG, fuel STRING, mwh DOUBLE"
    )
    write_jdbc(df, url, "net_gen", mode="overwrite", batch_size=500, num_partitions=1)
    write_jdbc(
        spark.createDataFrame([(3, "coal", 0.125)], "id LONG, fuel STRING, mwh DOUBLE"),
        url,
        "net_gen",
        mode="append",
        num_partitions=1,
    )
    back = (
        spark.read.format("jdbc").option("url", url).option("dbtable", "net_gen").load()
    )
    assert sorted(tuple(r) for r in back.collect()) == [
        (1, "solar", 1.5),
        (2, "wind", -2.25),
        (3, "coal", 0.125),
    ]


def test_jdbc_writer_option_assembly(spark):
    """K1 Postgres-parity writer: exact option set and partition
    coalesce, without executing against a live Postgres."""
    from batch_processing_etl_orchestration_spark.warehouse.catalog import (
        jdbc_options,
        jdbc_writer,
    )

    opts = jdbc_options(
        url="jdbc:postgresql://db:5432/warehouse",
        table="eia930_hourly_net_generation_by_energy_source",
        batch_size=5000,
        properties={"user": "etl", "isolationLevel": "READ_COMMITTED"},
    )
    assert opts == {
        "url": "jdbc:postgresql://db:5432/warehouse",
        "dbtable": "eia930_hourly_net_generation_by_energy_source",
        "batchsize": "5000",
        "user": "etl",
        "isolationLevel": "READ_COMMITTED",
    }
    # the writer builds without a database; coalesce caps connections
    w = jdbc_writer(
        spark.range(100),
        url="jdbc:postgresql://db:5432/warehouse",
        table="t",
        num_partitions=4,
    )
    assert w._df.rdd.getNumPartitions() == 4
