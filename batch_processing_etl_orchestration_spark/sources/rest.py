"""Paginated REST ingestion (S1-S4, S6 in SURVEY §2.1).

The reference fetches EIA v2 endpoints page-by-page with server-side
pushdown parameters — frequency, measure projection, start-date
predicate, sort — and stops on an empty page or a period boundary
(EIA930PipelineHourlyData.py:45-93; EIA7APipelineQuarterlyData.py:20-71;
EIA814PipelineMonthlyData.py:15-60). That *is* predicate/projection
pushdown done by hand (SURVEY §4); here the pushdown params are an
explicit request spec, the HTTP call is an injected callable (offline
tests, retry policy at the caller), and the page rows become a
DataFrame with an explicit schema (bronze is schema-on-read: strings,
plus the numeric arrays of the weather feed).

The bronze frame is an Arrow-backed ``LocalRelation``
(``tables.local_rows_df``), not a list-based ``createDataFrame``: that
plans a Python RDD, and every merge the job runs evaluates it again,
starting Python workers each time. The builder keeps NaN, which
matters here: Open-Meteo hours carry NaN for missing readings, and
turning them into null would change the landed values and the
per-state means/std built from them.

Scale: ingest loops are driver-side by design (the API is the
bottleneck, not Spark); for fan-out across many endpoints/coordinates
use ``fetch_partitioned`` which distributes the per-key fetch via
mapInPandas over a key DataFrame (the S8 coordinate-cycler pattern,
OpenMeteoWeatherPipelineHourlyData.py:47-57).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from batch_processing_etl_orchestration_spark.tables import local_rows_df


@dataclass
class PageRequest:
    """One page request: the reference's querystring params
    (EIA930PipelineHourlyData.py:48-57)."""

    endpoint: str
    offset: int
    length: int = 5000  # reference page size (:57)
    params: dict[str, Any] = field(default_factory=dict)


# fetch(PageRequest) -> list[dict] — one JSON row-object per fact row
FetchFn = Callable[[PageRequest], list[dict]]


@dataclass
class PaginatedRestSource:
    """Offset-pagination cycler (S2-S4). Stops on empty page, a
    caller-supplied stop predicate over the last row (the reference's
    period-boundary rules, EIA930PipelineHourlyData.py:71-93), or
    max_pages (safety)."""

    fetch: FetchFn
    endpoint: str
    page_size: int = 5000
    params: dict[str, Any] = field(default_factory=dict)
    stop_when: Callable[[dict], bool] | None = None
    max_pages: int = 10_000

    def pages(self) -> Iterator[list[dict]]:
        offset = 0
        for _ in range(self.max_pages):
            rows = self.fetch(
                PageRequest(self.endpoint, offset, self.page_size, dict(self.params))
            )
            if not rows:
                return
            yield rows
            if self.stop_when is not None and self.stop_when(rows[-1]):
                return
            offset += self.page_size

    def to_dataframe(self, spark: SparkSession, schema: str) -> DataFrame:
        """All pages → one LocalRelation (the union-of-pages O6).
        Explicit schema — bronze columns are strings, coercion happens
        in silver (P4/P5); values land as the list-based
        createDataFrame would land them, NaN included."""
        all_rows: list[dict] = []
        for page in self.pages():
            all_rows.extend(page)
        return local_rows_df(spark, all_rows, schema)


def scrub_params(params: dict[str, Any], *secret_keys: str) -> dict[str, Any]:
    """P18 — API-key scrub before persisting any request metadata
    (EIA930PipelineHourlyData.py:65)."""
    return {k: v for k, v in params.items() if k not in secret_keys}


class LastModifiedCache:
    """S6 — HTTP Last-Modified conditional refresh
    (EIA930PipelineHourlyData.py:15-42): keep a token per URL; callers
    refetch only when the token changed. Storage is a plain dict
    (swap for a table in production); the cached payload itself lives
    as bronze parquet, not pickles."""

    def __init__(self) -> None:
        self._tokens: dict[str, str] = {}

    def is_fresh(self, url: str, last_modified: str) -> bool:
        return self._tokens.get(url) == last_modified

    def update(self, url: str, last_modified: str) -> None:
        self._tokens[url] = last_modified


def fetch_partitioned(
    keys: DataFrame,
    fetch_rows: Callable[[dict], list[dict]],
    out_schema: str,
) -> DataFrame:
    """S8 — distributed per-key fetch (the 150-coordinate cycler,
    OpenMeteoWeatherPipelineHourlyData.py:47-57) via mapInPandas:
    each partition of the key table issues its own requests, so 150
    (or 150k) keys fan out across executors instead of a driver loop.
    """
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out: list[dict] = []
            for rec in pdf.to_dict("records"):
                out.extend(fetch_rows(rec))
            yield pd.DataFrame(out) if out else pd.DataFrame()

    return keys.repartition(max(keys.rdd.getNumPartitions(), 8)).mapInPandas(
        run, schema=out_schema
    )
