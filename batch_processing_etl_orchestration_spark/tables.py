"""Fixture table loaders.

Driver-generated deterministic parquet lives at
``/root/testdata/sf{0.001,0.01,0.1}/<name>.parquet`` (TESTDATA.md).
These play the role of the reference's raw API payloads and warehouse
tables (FIXTURES.md gives the mapping, e.g. ``events`` ≈ EIA-930 hourly
fact rows, ``nation`` ≈ the balancing-authority dimension).

At 100 TB these would be date-partitioned Delta/parquet tables; the
loader keeps the access path identical (``spark.read.parquet``) so the
query code does not change — partition pruning and predicate pushdown
happen in the scan either way.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The one root for on-disk state (build-once caches, streaming
# checkpoints): ``.tmp`` in the checkout that holds this package, so a
# copy of the repository keeps its state to itself.
STATE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp"
)


def local_rows_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Small driver-side table as an Arrow-backed LocalRelation (r15
    optimization, guide §4). A list-based createDataFrame plans a
    Python RDD cut into defaultParallelism slices, and EVERY action
    that evaluates it — a broadcast build, a write, a coalesce(1) —
    spins Python workers per slice: measured on local[32], ~5-9 s
    for a coalesce(1) write of 8 rows and ~0.5 s per broadcast.
    The pandas+Arrow path plans a LocalRelation instead: converted
    driver-side, zero tasks, ~0.3 s, and re-references (one frame
    broadcast into two joins) cost nothing new. The explicit DDL
    schema governs types exactly as the list path would; the arrow
    conf is forced ON around the call (runtime-settable) so the
    fast path also holds under a vanilla session with arrow off."""
    import pandas as pd
    from pyspark.sql.types import _parse_datatype_string

    names = [f.name for f in _parse_datatype_string(schema).fields]
    pdf = pd.DataFrame(
        [tuple(r) for r in rows], columns=names, dtype=object
    )
    return local_pandas_df(spark, pdf, schema)


def local_arrow_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver rows as an Arrow-backed LocalRelation that keeps the
    list path's values exactly, NaN included (the pandas path of
    local_rows_df turns NaN into null). Rows are dicts keyed by field
    name, a missing key landing as null, or sequences in field order.
    Non-string values in top-level STRING fields render as the list
    path renders them: str(v), booleans as 'true'/'false'. No Python
    RDD and no Arrow conf: the pyarrow.Table goes to the JVM as is."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StringType, _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    columns = []
    for i, f in enumerate(schema.fields):
        col = [r.get(f.name) if isinstance(r, dict) else r[i] for r in rows]
        if isinstance(f.dataType, StringType):
            col = [_list_path_string(v) for v in col]
        columns.append(pa.array(col, type=arrow_schema.field(i).type))
    table = pa.Table.from_arrays(columns, schema=arrow_schema)
    return spark.createDataFrame(table, schema=schema)


def _list_path_string(v):
    if v is None or isinstance(v, str):
        return v
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def local_pandas_df(spark: SparkSession, pdf, schema=None) -> DataFrame:
    """createDataFrame(pandas) with Arrow forced on (see
    local_rows_df) — same values, same schema, LocalRelation plan
    instead of a Python RDD. The enable is ONE-WAY idempotent, never
    restored — the _blk_df convention (review r15): a set/create/
    unset window races concurrent builders in the same session, and
    an interleaved unset silently drops a peer back to the
    row-at-a-time path. Leaving Arrow on is semantics-preserving:
    the conf only governs pandas⇄Spark conversion transport, and
    every frame the package converts is a plain-typed literal."""
    k = "spark.sql.execution.arrow.pyspark.enabled"
    if spark.conf.get(k, "false") != "true":
        spark.conf.set(k, "true")
    if schema is not None:
        return spark.createDataFrame(pdf, schema=schema)
    return spark.createDataFrame(pdf)


def empty_df(spark: SparkSession, schema) -> DataFrame:
    """Zero-row DataFrame with the given schema (DDL string or
    StructType) built JVM-ONLY on ONE partition (r15 optimization):
    createDataFrame([], schema) plans a 32-slice Python RDD whose
    every evaluation spins Python workers, and its writes can land
    zero files. range(0) + typed null casts plans a trivial JVM
    Range: aggregates over it are instant and a parquet write is
    guaranteed to emit one schema-bearing file (the single empty
    partition writes its footer)."""
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    return spark.range(0, 0, 1, 1).select(
        *(F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields)
    )


# (fixture path, mtime_ns, size) -> StructType (r16 optimization):
# every bare spark.read.parquet runs a footer-reading schema-inference
# job (~0.05-0.15 s of fixed overhead locally), and the bench's timed
# region pays one per load_table call — hundreds across the catalog.
# Keyed on the file's identity stats (the fixture_cache_dir rule), so
# a regenerated fixture re-infers instead of serving a stale schema.
# Schema metadata only — never data, never results.
_FIXTURE_SCHEMA_CACHE: dict = {}


def _read_fixture(spark: SparkSession, path: str) -> DataFrame:
    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size)
    schema = _FIXTURE_SCHEMA_CACHE.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _FIXTURE_SCHEMA_CACHE[key] = schema
    return spark.read.schema(schema).parquet(path)


def read_artifact(spark: SparkSession, path: str) -> DataFrame:
    """Read an IMMUTABLE build_once artifact dir with its schema
    inferred once per process (r16): the cache keys on the path alone
    because a build_once dir's identity is IN its path
    (fixture_cache_dir embeds the fixture's mtime_ns/size and the
    layout version — a regenerated fixture yields a different path).
    Do not use for mutable dirs."""
    schema = _FIXTURE_SCHEMA_CACHE.get(path)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _FIXTURE_SCHEMA_CACHE[path] = schema
    return spark.read.schema(schema).parquet(path)


def artifact_schema(spark: SparkSession, path: str):
    """Schema of an immutable build_once artifact dir, cached per
    path (see read_artifact)."""
    return read_artifact(spark, path).schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Columnar vectorized parquet scan;
    filters/projections applied by callers reach the scan via Catalyst
    pushdown (verify with df.explain: PushedFilters/ReadSchema).

    ``events.ts`` has been written two ways across testdata
    generations: parquet INT64 TIMESTAMP(NANOS) (which Spark reads as
    epoch-nanos long under the legacy conf) and plain TIMESTAMP(MICROS)
    (which Spark maps to TIMESTAMP_NTZ directly). The loader adapts to
    whichever encoding the file carries and always yields TIMESTAMP_NTZ
    rebuilt with pure integer arithmetic — no session-timezone
    dependence, so results compare cleanly against any oracle reading
    the same file.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # Session-wide engine convention (also set in session.get_spark):
        # nanos columns read as longs everywhere, timestamps rebuilt
        # explicitly. Idempotent same-value set — kept here because the
        # driver's verify harness builds its own SparkSession that does
        # not go through get_spark.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_fixture(spark, path)
        ts_type = df.schema["ts"].dataType.simpleString()
        if ts_type == "bigint":
            return df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts div 1000, "
                    "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
        if ts_type == "timestamp":
            # tz-aware micros: reinterpret the stored instant as naive
            # UTC wall time, independent of session timezone.
            return df.withColumn(
                "ts", F.expr("convert_timezone('UTC', ts)")
            )
        return df  # already TIMESTAMP_NTZ
    return _read_fixture(spark, path)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in TABLE_NAMES}


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql use."""
    for n in TABLE_NAMES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


def fixture_cache_dir(
    sf_dir: str, fixture_file: str, name: str, layout: int = 1
) -> str:
    """Build-once cache directory for artifacts derived from a fixture
    table: keyed on the fixture file's (mtime_ns, size) so a
    regenerated fixture invalidates stale caches instead of silently
    serving them (nanosecond mtime so a same-second same-size rewrite
    still invalidates), and on a ``layout`` version so code that
    changes the on-disk shape of an artifact bumps the integer and can
    never read a directory written by a prior layout. One definition
    for every cached index/label/version scenario — the invalidation
    rule must not drift between call sites."""
    st = os.stat(os.path.join(sf_dir, fixture_file))
    tag = (
        f"{os.path.basename(os.path.normpath(sf_dir))}"
        f"-{st.st_mtime_ns}-{st.st_size}-v{layout}"
    )
    return os.path.join(STATE_ROOT, name, tag)


_BUILD_OK = "_BUILD_OK"

import threading as _threading  # noqa: E402

_BUILD_LOCKS: dict[str, "_threading.Lock"] = {}
_BUILD_LOCKS_GUARD = _threading.Lock()

# Per-family build-once cache observations for THIS process (VERDICT
# r15 next #6): name -> {"state": "warm"} when the first resolve of
# the family hit a completed cache, or {"state": "cold", "build_s": s}
# when it had to build. bench.py prints this so the driver can see
# whether a run's timed region served warm artifacts or paid cold
# builds. A cold build is never overwritten by a later warm hit on the
# same family (the interesting fact is that the run built it).
BUILD_ONCE_STATS: dict[str, dict] = {}

# Minimum idle age before a stale sibling cache tag is reaped —
# matches PostingsIndex._REAP_AGE_SEC (operators/retrieval.py): long
# enough that any live process still touching the tag has refreshed
# its mtime or finished.
_REAP_AGE_SEC = 600.0


def build_once(
    sf_dir: str,
    fixture_file: str,
    name: str,
    build,
    layout: int = 1,
) -> str:
    """Self-validating build-once cache.

    The directory path itself encodes fixture identity and layout
    version (``fixture_cache_dir``), and a ``_BUILD_OK`` marker —
    written only after ``build(path)`` returns — distinguishes a
    completed build from an interrupted one. Any directory without the
    marker is removed and rebuilt, so a crash mid-write can never
    strand a half-built artifact that later reads silently serve.
    Underscore-prefixed marker files are ignored by Spark's parquet
    directory listings, so they coexist with data files at the root.
    """
    # Per-family lock (r16): concurrent driver threads (the parallel
    # vanilla-catalog check, guide §2.6) resolving the SAME family
    # must not both see the marker absent and build into one
    # directory. Process-local by design — cross-process overlap is
    # already handled by the _BUILD_OK marker + reap-age rules.
    with _BUILD_LOCKS_GUARD:
        lock = _BUILD_LOCKS.setdefault(name, _threading.Lock())
    with lock:
        return _build_once_locked(sf_dir, fixture_file, name, build, layout)


def _build_once_locked(
    sf_dir: str,
    fixture_file: str,
    name: str,
    build,
    layout: int = 1,
) -> str:
    import shutil

    path = fixture_cache_dir(sf_dir, fixture_file, name, layout)
    ok = os.path.join(path, _BUILD_OK)
    if os.path.isfile(ok):
        # Refresh the reap clock on every hit: readers holding lazy
        # DataFrames over this tag don't update directory mtime, so
        # without this a sibling build 10+ minutes later could reap a
        # tag still in active use (ADVICE r8).
        try:
            os.utime(path)
        except OSError:
            pass
        BUILD_ONCE_STATS.setdefault(name, {"state": "warm"})
        return path
    shutil.rmtree(path, ignore_errors=True)
    import time as _time

    _t0 = _time.perf_counter()
    build(path)
    prev = BUILD_ONCE_STATS.get(name)
    if prev is None or prev.get("state") != "cold":
        BUILD_ONCE_STATS[name] = {
            "state": "cold",
            "build_s": round(_time.perf_counter() - _t0, 2),
        }
    os.makedirs(path, exist_ok=True)
    with open(ok, "w") as f:
        f.write(f"layout={layout}\n")
    # Opportunistic reap: sibling tags for the SAME sf directory are
    # stale by definition (the fixture changed or the layout version
    # moved on — no current code path can read them), so a fresh build
    # retires them instead of letting .tmp accumulate dead cache
    # generations across rounds. Two guards (ADVICE r7): (1) the name
    # must match the FULL tag structure "<base>-<mtime_ns>-<size>-vN",
    # not a bare prefix — an sf dir whose basename extends another's
    # ("sf1" vs "sf1-x") can never be collaterally reaped because the
    # digits-only segments disambiguate; (2) only tags untouched for
    # _REAP_AGE_SEC go — a concurrent process (second pytest worker,
    # overlapping bench) mid-build on a sibling tag, or holding lazy
    # DataFrames over one, keeps its files.
    import re
    import time

    base = os.path.basename(os.path.normpath(sf_dir))
    tag_re = re.compile(rf"^{re.escape(base)}-\d+-\d+-v\d+$")
    parent = os.path.dirname(path)
    now = time.time()
    for d in os.listdir(parent):
        if d == os.path.basename(path) or not tag_re.match(d):
            continue
        full = os.path.join(parent, d)
        try:
            age = now - os.stat(full).st_mtime
        except OSError:
            continue
        if age > _REAP_AGE_SEC:
            shutil.rmtree(full, ignore_errors=True)
    return path
