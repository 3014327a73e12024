"""File-based dimension sources: CSV (S7) and multi-sheet Excel (S5).

The reference reads a 150-row coordinate CSV
(OpenMeteoWeatherPipelineHourlyData.py:47-57) and two Excel reference
sheets cached by Last-Modified (EIA930PipelineHourlyData.py:15-42).
Excel ingestion runs on the stdlib OOXML parser in sources/xlsx.py —
no openpyxl needed — so S5 is a working path, not a gated stub.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from batch_processing_etl_orchestration_spark.sources.xlsx import (
    read_workbook,
    rows_to_header_and_data,
)
from batch_processing_etl_orchestration_spark.tables import local_rows_df


def read_csv_dim(spark: SparkSession, path: str) -> DataFrame:
    """S7 — header CSV dimension scan with schema inference
    (pd.read_csv, OpenMeteoWeatherPipelineHourlyData.py:47-57)."""
    return spark.read.csv(path, header=True, inferSchema=True)


def _column_type(values: list[Any]) -> T.DataType:
    """Narrowest Spark type covering a column's non-null cells.
    Homogeneous columns mirror pandas' read_excel dtype inference
    (bool/int64/float64/object); a genuinely MIXED-type column falls
    back to StringType with every cell stringified via Python str()
    (True → 'True', 12.5 → '12.5') — a deliberate divergence from
    pandas' object dtype, which would keep per-cell Python values
    Spark columns cannot represent."""
    present = [v for v in values if v is not None]
    if not present:
        return T.StringType()
    if all(isinstance(v, bool) for v in present):
        return T.BooleanType()
    if all(isinstance(v, int) and not isinstance(v, bool) for v in present):
        return T.LongType()
    if all(isinstance(v, (int, float)) and not isinstance(v, bool) for v in present):
        return T.DoubleType()
    return T.StringType()


def read_excel_sheets(
    spark: SparkSession, path: str, sheets: list[str], max_cols: int | None = None
) -> dict[str, DataFrame]:
    """S5 — multi-sheet Excel scan (pd.read_excel(sheet_name=[...]),
    EIA930PipelineHourlyData.py:33-34). Sheets parse on the driver
    (stdlib zip+XML — workbook dims are driver-small by contract) and
    become broadcast-ready Arrow-backed LocalRelations
    (tables.local_rows_df). ``max_cols`` mirrors the reference's
    first-6-column BA projection (.iloc[:, :6],
    EIA930PipelineHourlyData.py:34)."""
    out: dict[str, DataFrame] = {}
    for name, grid in read_workbook(path, sheets).items():
        header, data = rows_to_header_and_data(grid)
        if max_cols is not None:
            header, data = header[:max_cols], [r[:max_cols] for r in data]
        cols = list(zip(*data)) if data else [[] for _ in header]
        schema = T.StructType(
            [
                T.StructField(h, _column_type(list(col)), nullable=True)
                for h, col in zip(header, cols)
            ]
        )
        coerced = [
            tuple(
                None
                if v is None
                else float(v)
                if isinstance(schema[i].dataType, T.DoubleType)
                and not isinstance(v, bool)
                else str(v)
                if isinstance(schema[i].dataType, T.StringType)
                else v
                for i, v in enumerate(row)
            )
            for row in data
        ]
        out[name] = local_rows_df(spark, coerced, schema)
    return out


# ---------------------------------------------------------------------------
# Fixed-width text records
# ---------------------------------------------------------------------------


def render_fixed_width(
    df: DataFrame, fields: list[tuple[str, int]]
) -> DataFrame:
    """One 'value' string column: each field right-padded to its
    width (rpad truncates over-width values — the format's contract).
    All JVM-side (concat of rpads); writable with the text writer."""
    parts = [
        F.rpad(F.coalesce(F.col(name).cast("string"), F.lit("")), width, " ")
        for name, width in fields
    ]
    return df.select(F.concat(*parts).alias("value"))


def read_fixed_width(
    spark: SparkSession,
    path: str,
    fields: list[tuple[str, int, str]],
) -> DataFrame:
    """Parse fixed-width text records: `fields` is
    [(name, width, spark_type), ...]; each column is a substring
    projection (1-based offsets) + trim + try-safe cast — pure
    whole-stage-codegen expressions over spark.read.text, so the
    format costs a scan, not a UDF. The mainframe-ish sibling of the
    reference's CSV dim scan (OpenMeteoWeatherPipelineHourlyData.py:47
    reads a typed coordinate table; here the type recovery is
    explicit per byte range)."""
    lines = spark.read.text(path)
    cols, start = [], 1
    for name, width, typ in fields:
        raw = F.trim(F.substring(F.col("value"), start, width))
        col = (
            F.when(raw == "", F.lit(None)).otherwise(raw)
            if typ == "string"
            else F.expr(
                f"try_cast(trim(substring(value, {start}, {width})) AS {typ})"
            )
        )
        cols.append(col.alias(name))
        start += width
    return lines.select(*cols)
