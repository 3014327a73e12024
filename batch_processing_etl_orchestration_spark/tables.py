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
import threading
from collections import OrderedDict

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


def local_rows_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver rows as an Arrow-backed LocalRelation: the one way the
    package turns driver-side rows into a frame. A list-based
    createDataFrame plans a Python RDD, and every action that
    evaluates it (a broadcast build, a write, a merge) starts Python
    workers per slice; a LocalRelation is converted on the driver once
    and costs no tasks however often it is re-referenced.

    ``schema`` is a DDL string or a StructType. Rows are dicts keyed by
    field name, a missing key landing as null, or sequences in field
    order. Values land as the list path lands them, NaN included (also
    inside arrays); non-string values in top-level STRING fields render
    as the list path renders them: str(v), booleans as 'true'/'false'.
    The pyarrow.Table goes to the JVM as is, so the session's Arrow
    conf is neither read nor set."""
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


def empty_df(spark: SparkSession, schema) -> DataFrame:
    """Zero-row DataFrame with the given schema (DDL string or
    StructType) built JVM-only on ONE partition:
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


class MetaCache:
    """Process-wide LRU map for immutable metadata: schemas and
    quantizers whose key names data that never changes in place (a
    fixture's identity stats, an immutable directory), so an entry can
    never go stale. Bounded, because a long-running ingest creates a
    new generation directory, and with it new keys, on every landing.
    load() runs outside the lock: concurrent driver threads never wait
    on one another's Spark job, and a duplicate load of immutable
    metadata is harmless."""

    BOUND = 1024

    def __init__(self):
        self._entries: OrderedDict = OrderedDict()
        self._lock = threading.Lock()

    def get(self, key, load):
        with self._lock:
            if key in self._entries:
                self._entries.move_to_end(key)
                return self._entries[key]
        value = load()
        with self._lock:
            self._entries[key] = value
            self._entries.move_to_end(key)
            while len(self._entries) > self.BOUND:
                self._entries.popitem(last=False)
        return value

    def __len__(self) -> int:
        return len(self._entries)


# Fixture and build_once artifact schemas. Every bare
# spark.read.parquet runs a footer-reading schema-inference job
# (~0.05-0.15 s of fixed overhead locally), and the bench's timed
# region pays one per load_table call. Schema metadata only, never
# data or results.
_FIXTURE_SCHEMA_CACHE = MetaCache()


def _read_fixture(spark: SparkSession, path: str) -> DataFrame:
    # Keyed on the file's identity stats (the fixture_cache_dir rule),
    # so a regenerated fixture re-infers instead of serving a stale
    # schema.
    st = os.stat(path)
    schema = _FIXTURE_SCHEMA_CACHE.get(
        (path, st.st_mtime_ns, st.st_size),
        lambda: spark.read.parquet(path).schema,
    )
    return spark.read.schema(schema).parquet(path)


def read_artifact(spark: SparkSession, path: str) -> DataFrame:
    """Read an IMMUTABLE build_once artifact dir with its schema
    inferred once per process: the cache keys on the path alone
    because a build_once dir's identity is IN its path
    (fixture_cache_dir embeds the fixture's mtime_ns/size and the
    layout version — a regenerated fixture yields a different path).
    Do not use for mutable dirs."""
    schema = _FIXTURE_SCHEMA_CACHE.get(
        path, lambda: spark.read.parquet(path).schema
    )
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

_BUILD_LOCKS: dict[str, threading.Lock] = {}
_BUILD_LOCKS_GUARD = threading.Lock()

# Per-family build-once cache observations for THIS process (VERDICT
# r15 next #6): name -> {"state": "warm"} when the first resolve of
# the family hit a completed cache, or {"state": "cold", "build_s": s}
# when it had to build. bench.py prints this so the driver can see
# whether a run's timed region served warm artifacts or paid cold
# builds. A cold build is never overwritten by a later warm hit on the
# same family (the interesting fact is that the run built it).
BUILD_ONCE_STATS: dict[str, dict] = {}

# Minimum idle age before a stale on-disk cache tag (here) or an
# orphan index generation (GenerationalStore._publish) is reaped: long
# enough that any live process still touching it has refreshed its
# mtime or finished.
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
        lock = _BUILD_LOCKS.setdefault(name, threading.Lock())
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
