"""One way to build driver-side frames: tables.local_rows_df. Only
tables.py calls createDataFrame, and only from that one function
(empty_df avoids it), so no module plans a Python RDD out of a
driver-side list by accident. No package module sets the session's
Arrow conf: the builder hands pyarrow a table directly and needs none,
and a builder that flipped it would change the session for every later
caller. The contract tests pin what every caller relies on: NaN kept,
dict and tuple rows alike, empty rows as a job-free LocalRelation, and
the session's conf left as found.

The same Spark-free guards keep one streaming drain, one landing
classifier and one parquet codec: only streaming/ starts a writeStream,
only genstore.py holds the "already live" conflict text, which callers
classify by the IdsAlreadyLive counts rather than by matching it, and
only session.py names the parquet compression codec. One more keeps
genstore's store layouts and the indexes' store lists in step, and one
keeps every PostingsIndex write sized by its doc count."""

from __future__ import annotations

import ast
import math
import pathlib

import batch_processing_etl_orchestration_spark as pkg
from batch_processing_etl_orchestration_spark.tables import local_rows_df

_ROOT = pathlib.Path(pkg.__file__).parent
_ARROW_CONF = "spark.sql.execution.arrow.pyspark.enabled"


def _modules():
    for path in sorted(_ROOT.rglob("*.py")):
        yield path, ast.parse(path.read_text(), str(path))


def _create_dataframe_calls(node):
    return [
        n
        for n in ast.walk(node)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "createDataFrame"
    ]


def test_only_tables_calls_create_dataframe():
    offenders = [
        f"{path.relative_to(_ROOT)}:{call.lineno}"
        for path, tree in _modules()
        if path != _ROOT / "tables.py"
        for call in _create_dataframe_calls(tree)
    ]
    assert not offenders, f"createDataFrame outside tables.py: {offenders}"


def test_tables_has_one_create_dataframe_function():
    tree = ast.parse((_ROOT / "tables.py").read_text())
    callers = [
        node.name
        for node in ast.walk(tree)
        if isinstance(node, ast.FunctionDef) and _create_dataframe_calls(node)
    ]
    assert callers == ["local_rows_df"], callers


def test_no_module_sets_arrow_conf():
    offenders = [
        f"{path.relative_to(_ROOT)}:{node.lineno}"
        for path, tree in _modules()
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant) and node.value == _ARROW_CONF
    ]
    assert not offenders, f"Arrow conf named in package code: {offenders}"


def test_only_streaming_calls_write_stream():
    offenders = [
        f"{path.relative_to(_ROOT)}:{node.lineno}"
        for path, tree in _modules()
        if _ROOT / "streaming" not in path.parents
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute) and node.attr == "writeStream"
    ]
    assert not offenders, f"writeStream outside streaming/: {offenders}"


def test_only_session_names_the_parquet_codec():
    """The codec is one session conf: no other module names it or
    passes a writer's ``compression`` option."""
    offenders = [
        f"{path.relative_to(_ROOT)}:{node.lineno}"
        for path, tree in _modules()
        if path != _ROOT / "session.py"
        for node in ast.walk(tree)
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and ("parquet.compression" in node.value or node.value == "compression")
        )
        or (
            isinstance(node, ast.keyword) and node.arg == "compression"
        )
    ]
    assert not offenders, f"parquet codec named outside session.py: {offenders}"


def test_only_genstore_names_the_live_id_conflict():
    offenders = [
        str(path.relative_to(_ROOT))
        for path in sorted(_ROOT.rglob("*.py"))
        if path != _ROOT / "operators" / "genstore.py"
        and "already live" in path.read_text()
    ]
    assert not offenders, f"'already live' outside genstore.py: {offenders}"


def test_every_store_layout_names_a_live_store():
    """genstore's _LAYOUTS holds one entry per store an index writes
    through _write_store: every key is in some index's _STORES, and
    every store a segment carries (_CORE_STORES) has one, so a layout
    left behind by a retired store fails here. IvfIndex's centroids,
    generation metadata written whole, is the one store without an
    entry."""
    from batch_processing_etl_orchestration_spark.operators import (
        genstore,
        retrieval,
        similarity,
    )

    indexes = (retrieval.PostingsIndex, similarity.IvfIndex)
    assert set(genstore.GenerationalStore.__subclasses__()) == set(indexes)
    stores = {s for cls in indexes for s in cls._STORES}
    core = {s for cls in indexes for s in cls._CORE_STORES}
    assert set(genstore._LAYOUTS) <= stores, set(genstore._LAYOUTS) - stores
    assert core <= set(genstore._LAYOUTS), core - set(genstore._LAYOUTS)
    assert stores - set(genstore._LAYOUTS) == {"centroids"}
    assert set(genstore._IMPACT_LAYOUTS) <= set(genstore._LAYOUTS)


def test_postings_index_sizes_every_write_by_doc_count():
    """In operators/retrieval.py only PostingsIndex._files_for reads
    the docs-per-file constant, and build, add_segment and _fold_stores
    each call it, so a write path that brings back a fixed fan-out of
    files fails here."""
    tree = ast.parse((_ROOT / "operators" / "retrieval.py").read_text())
    cls = next(
        n for n in tree.body
        if isinstance(n, ast.ClassDef) and n.name == "PostingsIndex"
    )
    funcs = {n.name: n for n in cls.body if isinstance(n, ast.FunctionDef)}

    def uses(node, name):
        return [
            n for n in ast.walk(node)
            if (isinstance(n, ast.Attribute) and n.attr == name)
            or (isinstance(n, ast.Name) and n.id == name)
        ]

    reads = [
        n for n in uses(tree, "_DOCS_PER_FILE")
        if not isinstance(getattr(n, "ctx", None), ast.Store)
    ]
    assert reads and len(reads) == len(
        uses(funcs["_files_for"], "_DOCS_PER_FILE")
    ), [n.lineno for n in reads]
    missing = [
        f for f in ("build", "add_segment", "_fold_stores")
        if not uses(funcs[f], "_files_for")
    ]
    assert not missing, f"writes not sized by _files_for: {missing}"


def test_nan_survives_top_level_and_in_arrays(spark):
    nan = float("nan")
    (row,) = local_rows_df(
        spark, [(1, nan, [nan, 1.5])], "id BIGINT, x DOUBLE, v ARRAY<DOUBLE>"
    ).collect()
    assert math.isnan(row["x"])
    assert math.isnan(row["v"][0]) and row["v"][1] == 1.5


def test_dict_rows_equal_tuple_rows(spark):
    schema = "name STRING, n BIGINT, flag BOOLEAN"
    tuples = local_rows_df(spark, [("a", 1, True), (None, 2, None)], schema)
    dicts = local_rows_df(
        spark, [{"name": "a", "n": 1, "flag": True}, {"n": 2}], schema
    )
    assert dicts.schema == tuples.schema
    assert dicts.collect() == tuples.collect()


def test_empty_rows_plan_local_relation_and_run_no_job(spark, count_jobs):
    df = local_rows_df(spark, [], "word STRING, df BIGINT")
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation" in plan, plan
    rows, jobs = count_jobs(df.collect)
    assert rows == [] and jobs == 0


def test_arrow_conf_left_as_found(spark):
    before = spark.conf.get(_ARROW_CONF)
    try:
        for value in ("false", "true"):
            spark.conf.set(_ARROW_CONF, value)
            local_rows_df(spark, [(1,)], "n BIGINT").collect()
            assert spark.conf.get(_ARROW_CONF) == value
    finally:
        spark.conf.set(_ARROW_CONF, before)
