"""Parquet is read through sources.tables.read_parquet only: a parquet
read that gives Spark no schema runs a schema-inference job. Catalog
streaming queries start, await and read back their sinks only through
queries._drain. Needs no SparkSession."""

from __future__ import annotations

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "smart_fraud_detection_data_pipeline_spark",
)
ALLOWED = {
    # read_parquet itself, and its fallback for non-local filesystems
    ("sources/tables.py", "read_parquet"),
    # mergeSchema reconciles every footer by design: the query under
    # test is Spark's schema merge
    ("queries.py", "q_schema_evolution_scan"),
}


def _inferring_reads(tree):
    """(function, line) of every ``<x>.read....parquet(...)`` call whose
    reader chain sets no ``.schema(...)``, at any line layout."""
    hits = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
        ):
            chain, cur = [], node.func.value
            while isinstance(cur, (ast.Call, ast.Attribute)):
                if isinstance(cur, ast.Attribute):
                    chain.append(cur.attr)
                    cur = cur.value
                else:
                    cur = cur.func
            if "read" in chain and "schema" not in chain:
                hits.append((func, node.lineno))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return hits


def test_lint_sees_split_and_optioned_reads():
    src = 'def f(spark, p):\n    return (spark.read.option("a", "b")\n            .parquet(p))\n'
    ok = "def g(spark, s, p):\n    return spark.read.schema(s).parquet(p), spark.readStream.parquet(p)\n"
    assert _inferring_reads(ast.parse(src)) == [("f", 2)]
    assert _inferring_reads(ast.parse(ok)) == []


def test_no_schema_inference_outside_read_parquet():
    hits = []
    for root, dirs, files in os.walk(PKG):
        dirs[:] = [d for d in dirs if d != "_vendor"]
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            hits += [
                f"{rel}:{line} in {func}"
                for func, line in _inferring_reads(tree)
                if (rel, func) not in ALLOWED
            ]
    assert hits == []


def test_catalog_streams_drain_through_one_helper():
    drain_steps = {"start_foreach_batch", "await_or_raise", "read_or_empty"}
    with open(os.path.join(PKG, "queries.py"), encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    callers = set()
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            continue
        for node in ast.walk(fn):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if name in drain_steps:
                    callers.add(getattr(fn, "name", "<lambda>"))
    assert callers == {"_drain"}
