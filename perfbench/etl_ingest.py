"""etl_ingest: the paper's own workload. Consecutive days of the four
reference DAGs (EIA-930, Open-Meteo, EIA-7A, EIA-814) land in a
13-table warehouse, created fresh at set-up, through
``PaginatedRestSource`` and the ``pipelines.jobs.run_*_job(load=True)``
functions. One pass is one day: four DAG runs (write ops), each
followed by one of two short registered catalog queries collected on a
seeded fixture (read ops): each query once in the first half of the
pass and once in the second, in an order the seed permutes. Later passes, when a run makes more than one, keep landing the
next day into the same warehouse, which re-offers overlap hours and
replayed days the merge must reject.

The writes exercise sources, pipelines, functions and warehouse. The
reads exercise plans, tables and Spark's fixed per-query cost
(planning, job and task launch, driver gap). Neither touches
genstore, the indexes or build_once, so this is the bypass workload
for landing and index changes."""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os
import time

import numpy as np

import inputs as I
from harness import dir_bytes, reset_dir

N_BA = 20
N_COORDS = 30
N_VARS = 8  # Open-Meteo variables fetched, of the 30 the warehouse holds
PAGE_SIZE = 2000
FIXTURE_SCALE = 0.01

# Read-only registered queries that call no build_once, write nothing
# and carry a DuckDB oracle: a TPC-H join chain and the EIA-930
# pipeline replay. Two, not more, so that a run fits the time budget;
# each runs twice a pass, once cold and once warm.
QUERIES = [
    "q_volume_shipping",
    "q_pipeline_eia930_net_gen",
]

# DAG -> (endpoint, bronze schema, prefix of the tables it lands);
# EIA-930 reads two endpoints, named in _land.
DAGS = {
    "eia930": (None, None, "eia930_"),
    "openmeteo": ("forecast", I.WEATHER_SCHEMA, "openmeteo_"),
    "eia7a": ("coal/shipments", I.EIA7A_SCHEMA, "eia7a_"),
    "eia814": ("crude-oil-imports", I.EIA814_SCHEMA, "eia814_"),
}


DB = "perfbench_etl"


class EtlIngest:
    name = "etl_ingest"

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark

    # ------------------------------------------------------------ setup
    def setup_data(self) -> None:
        """Generate the seeded fixture and API inputs."""
        from batch_processing_etl_orchestration_spark.plans import registry
        from batch_processing_etl_orchestration_spark.tables import local_rows_df

        self.sf_dir = reset_dir(os.path.join(self.ctx.state, "fixture"))
        I.write_fixture(self.sf_dir, self.ctx.seed, FIXTURE_SCALE)
        self.specs = {n: registry.QUERIES[n] for n in QUERIES}
        inp = self.inputs = I.EtlInputs(self.ctx.seed, N_BA, N_COORDS, N_VARS)
        self.ba_df = local_rows_df(self.spark, [(b,) for b in inp.ba_dim], "ba_code STRING")
        self.coords_df = local_rows_df(
            self.spark, inp.coords, "State STRING, Latitude DOUBLE, Longitude DOUBLE"
        )

    def bootstrap(self) -> None:
        """A fresh, empty warehouse."""
        from batch_processing_etl_orchestration_spark.warehouse.catalog import create_all_tables

        self.spark.sql(f"DROP DATABASE IF EXISTS {DB} CASCADE")
        create_all_tables(self.spark, DB)
        self.landed: dict[str, set] = {}
        self.rows_by_table: dict[str, list] = {}
        self.input_bytes = 0
        self.results: dict[str, list[tuple]] = {}  # each query's latest rows

    def prepare_pass(self, day: int) -> None:
        """Generate the pages op day ``day`` serves, the merge keys they
        offer and the day's query order."""
        inp = self.inputs
        rng = np.random.default_rng([self.ctx.seed, 30, day])
        self.order = [QUERIES[i] for _ in range(2) for i in rng.permutation(len(QUERIES))]
        self.pages = {
            "fuel": inp.fuel_rows(day), "region": inp.region_rows(day),
            "openmeteo": inp.weather_rows(inp.weather_day(day)),
            "eia7a": inp.eia7a_rows(day), "eia814": inp.eia814_rows(day),
        }
        self.keys = inp.expected_keys(day)
        self.input_bytes += len(inp.pages_bytes(day))
        self.pages_served = self.offered = self.appended = 0

    # ------------------------------------------------------------- ops
    def _frame(self, rows: list[dict], endpoint: str, schema: str):
        from batch_processing_etl_orchestration_spark.sources.rest import PaginatedRestSource

        def fetch(req):
            self.pages_served += 1
            return rows[req.offset : req.offset + req.length]

        src = PaginatedRestSource(fetch=fetch, endpoint=endpoint, page_size=PAGE_SIZE)
        with self.ctx.tracer.span("sources.to_dataframe"):
            return src.to_dataframe(self.spark, schema)

    def _land(self, dag: str, f: int) -> None:
        from batch_processing_etl_orchestration_spark.pipelines import jobs
        from batch_processing_etl_orchestration_spark.warehouse.catalog import WEATHER_VARS

        spark, pages, inp = self.spark, self.pages, self.inputs
        if dag == "eia930":
            fuel = self._frame(pages["fuel"], "fuel-type-data", I.FUEL_SCHEMA)
            region = self._frame(pages["region"], "region-data", I.REGION_SCHEMA)
        else:
            raw = self._frame(pages[dag], DAGS[dag][0], DAGS[dag][1])
        with self.ctx.tracer.span(f"pipelines.{dag}"):
            if dag == "eia930":
                jobs.run_eia930_job(spark, fuel, region, self.ba_df, inp.cutoff(f), db=DB)
            elif dag == "openmeteo":
                jobs.run_openmeteo_job(spark, raw, self.coords_df, WEATHER_VARS[:N_VARS], db=DB)
            elif dag == "eia7a":
                jobs.run_eia7a_job(spark, [raw], inp.eia7a_quarter(f), db=DB)
            else:
                jobs.run_eia814_job(spark, [raw], db=DB)

    def _advance_model(self, dag: str, f: int) -> None:
        """Advance the expected warehouse state by one DAG run: the merge
        appends every offered row whose key has not landed yet."""
        for t, keys in self.keys.items():
            if not t.startswith(DAGS[dag][2]):
                continue
            seen = self.landed.setdefault(t, set())
            fresh = [k for k in keys if k not in seen]
            self.offered += len(keys)
            self.appended += len(fresh)
            self.rows_by_table.setdefault(t, []).extend(fresh)
            seen.update(keys)

    def _query(self, name: str) -> None:
        tracer = self.ctx.tracer
        with tracer.span("plans.build"):
            df = self.specs[name].fn(self.spark, self.sf_dir)
        if tracer.enabled:
            from harness import plan_phases

            t = time.perf_counter()
            for phase, s in plan_phases(df).items():
                self.ctx.add(f"spark.plan_{phase}_s", s)
            self.ctx.trace_s += time.perf_counter() - t
        with tracer.span("plans.action"):
            self.results[name] = [tuple(r) for r in df.collect()]

    def run_pass(self, day: int) -> None:
        """The four DAG runs in order, each followed by one query."""
        for dag, name in zip(DAGS, self.order):
            self.ctx.op("write", dag, lambda: self._land(dag, day))
            self._advance_model(dag, day)
            self.ctx.op("read", name, lambda: self._query(name))

    # ---------------------------------------------------------- checks
    def stored_bytes(self) -> int:
        """Bytes the warehouse holds; ``input_bytes`` counts the bronze
        pages served so far."""
        return dir_bytes(os.path.join(self.ctx.state, "warehouse", f"{DB}.db"))

    def check(self) -> list[str]:
        """Warehouse row count per table equals the count the generator's
        keys predict (replayed days and overlap hours added no rows), and
        each query's rows from the last pass have the row count and
        order-insensitive hash of its DuckDB oracle over the same
        fixture files."""
        import duckdb

        wrong = []
        counts = dict(self.spark.sql(" UNION ALL ".join(
            f"SELECT '{t}', count(*) FROM {DB}.{t}" for t in self.rows_by_table)).collect())
        for table, rows in sorted(self.rows_by_table.items()):
            if counts[table] != len(rows):
                wrong.append(f"{table}: {counts[table]} rows, expected {len(rows)}")
        con = duckdb.connect()
        try:
            for t in I.FIXTURE_TABLES:
                path = os.path.join(self.sf_dir, f"{t}.parquet", "*.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for name in QUERIES:
                got = self.results[name]
                want = con.execute(self.specs[name].oracle).fetchall()
                if not got:
                    wrong.append(f"{name}: empty result")
                elif len(got) != len(want):
                    wrong.append(f"{name}: {len(got)} rows, oracle {len(want)}")
                elif rows_digest(got) != rows_digest(want):
                    wrong.append(f"{name}: values differ from the oracle")
        finally:
            con.close()
        return wrong

    def pass_metrics(self) -> dict[str, float]:
        return {
            "sources.pages": float(self.pages_served),
            "warehouse.rows_appended_ratio": self.appended / max(1, self.offered),
        }


def _cell(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        return f"{f + 0.0:.9g}"
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def rows_digest(rows) -> str:
    """Order-insensitive digest of a result: cells canonicalised
    (numbers to 9 significant digits, so int/float/decimal renderings
    of one value agree), rows sorted, then hashed."""
    h = hashlib.sha256()
    for line in sorted("\x1f".join(_cell(v) for v in r) for r in rows):
        h.update(line.encode())
        h.update(b"\x1e")
    return h.hexdigest()
