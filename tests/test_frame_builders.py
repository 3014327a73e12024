"""One way to build driver-side frames: only tables.py calls
createDataFrame (local_arrow_df and local_pandas_df wrap it, empty_df
avoids it); every other package module goes through those helpers, so
no module plans a Python RDD out of a driver-side list by accident."""

from __future__ import annotations

import ast
import pathlib

import batch_processing_etl_orchestration_spark as pkg


def test_only_tables_calls_create_dataframe():
    root = pathlib.Path(pkg.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        if path == root / "tables.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                offenders.append(f"{path.relative_to(root)}:{node.lineno}")
    assert not offenders, f"createDataFrame outside tables.py: {offenders}"
