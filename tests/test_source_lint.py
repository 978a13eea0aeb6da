"""Parquet is read through sources.tables.read_parquet only: a parquet
read that gives Spark no schema runs a schema-inference job. Catalog
streaming queries start, await and read back their sinks only through
queries._drain. The BM25 tokenizer and lossless certificate live in
one function each (similarity.py) and the certificate's oracle in one
builder (queries.py). Needs no SparkSession."""

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


def _parse(module):
    with open(os.path.join(PKG, module), encoding="utf-8") as fh:
        return ast.parse(fh.read())


def _enclosing(tree, match):
    """Innermost enclosing function name of every node ``match``
    accepts, one entry per matching node (None at module level)."""
    found = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if match(node):
            found.append(func)
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return found


def _call(node, attr):
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == attr
    )


def _is_certificate_alias(node):
    return _call(node, "alias") and any(
        isinstance(a, ast.Constant) and a.value == "lossless_set_ok" for a in node.args
    )


def _is_bm25_tokenizer(node):
    # F.split(F.trim(F.col(<name>)), r"\s+")
    if not (_call(node, "split") and len(node.args) == 2):
        return False
    trim, sep = node.args
    return (
        isinstance(sep, ast.Constant)
        and sep.value == r"\s+"
        and _call(trim, "trim")
        and len(trim.args) == 1
        and _call(trim.args[0], "col")
        and isinstance(trim.args[0].args[0], ast.Name)
    )


def _is_certificate_sql(node):
    return isinstance(node, ast.Constant) and "AS lossless_set_ok" in str(node.value)


def test_certificate_and_tokenizer_lint_sees_each_copy():
    two = (
        "def a(c):\n    return c.alias('lossless_set_ok')\n"
        "def b(c):\n    return [c.alias('lossless_set_ok'), F.split(F.trim(F.col(t)), r'\\s+')]\n"
        "def o(k):\n    return f'SELECT {k} AS lossless_set_ok'\n"
    )
    tree = ast.parse(two)
    assert _enclosing(tree, _is_certificate_alias) == ["a", "b"]
    assert _enclosing(tree, _is_bm25_tokenizer) == ["b"]
    assert _enclosing(tree, _is_certificate_sql) == ["o"]


def test_bm25_certificate_and_tokenizer_exist_once():
    sim, queries = _parse("operators/similarity.py"), _parse("queries.py")
    assert _enclosing(sim, _is_certificate_alias) == ["_bm25_certified_topk"]
    assert _enclosing(sim, _is_bm25_tokenizer) == ["_bm25_tokens"]
    assert _enclosing(queries, _is_certificate_sql) == ["_bm25_certified_sql"]
