"""Parquet is read through sources.tables.read_parquet only: a parquet
read that gives Spark no schema runs a schema-inference job. Catalog
streaming queries start, await and read back their sinks only through
queries._drain. The BM25 tokenizer and lossless certificate live in
one function each (similarity.py) and the certificate's oracle in one
builder (queries.py). Only the session builder (the batch default) and
start_foreach_batch (the state-partition count) set
spark.sql.shuffle.partitions. The vector-search tiers rank through one per-query
window (similarity.py), score float cosine in SQL through one builder
and build their Spark query set in one function (queries.py). The
text-dedup tiers verify exact Jaccard and expand in-row pairs through
one helper each (textdedup.py); their oracles build word-gram lists and
MinHash probes through one builder each (queries.py). Among bench.py
and tools/, only the registry runner (tools/runner.py) reaches the
query registry. No package module keeps a hand list of query names:
the certification ledger orders the driver's window. Needs no
SparkSession."""

from __future__ import annotations

import ast
import os
import re

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
    hits = [
        f"{rel}:{line} in {func}"
        for rel, tree in _package_modules()
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


_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


def _sets_shuffle_partitions(node):
    # <x>.set("spark.sql.shuffle.partitions", ...),
    # <x>.config("spark.sql.shuffle.partitions", ...) or
    # <x>["spark.sql.shuffle.partitions"] = ...
    if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
        key = node.args[0] if node.args else None
        return node.func.attr in ("set", "config") and (
            isinstance(key, ast.Constant) and key.value == _SHUFFLE_PARTITIONS
        )
    return (
        isinstance(node, ast.Subscript)
        and isinstance(node.ctx, ast.Store)
        and isinstance(node.slice, ast.Constant)
        and node.slice.value == _SHUFFLE_PARTITIONS
    )


def test_shuffle_partition_lint_sees_each_setter():
    src = (
        "def _drain(spark, n):\n"
        "    saved = spark.conf.get('spark.sql.shuffle.partitions')\n"
        "    spark.conf.set('spark.sql.shuffle.partitions', str(n))\n"
        "def b(builder):\n"
        "    return builder.config('spark.sql.shuffle.partitions', '4')\n"
        "def c(conf):\n"
        "    conf['spark.sql.shuffle.partitions'] = '4'\n"
        "    return conf['spark.sql.shuffle.partitions'], conf.set('other', '1')\n"
    )
    assert _enclosing(ast.parse(src), _sets_shuffle_partitions) == ["_drain", "b", "c"]


def test_state_partitions_are_set_in_one_place():
    """Streams set spark.sql.shuffle.partitions only in
    start_foreach_batch (to STATE_PARTITIONS, for a stateful stream);
    the session builder sets the batch default."""
    sites = set(_package_sites(_sets_shuffle_partitions))
    assert sites == {("session.py", "get_spark"), ("streaming/sinks.py", "start_foreach_batch")}


def _parse(module):
    with open(os.path.join(PKG, module), encoding="utf-8") as fh:
        return ast.parse(fh.read())


def _package_modules():
    """(path relative to the package, parsed tree) of every package
    module, in a fixed walk order."""
    for root, dirs, files in os.walk(PKG):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                rel = os.path.relpath(os.path.join(root, f), PKG).replace(os.sep, "/")
                yield rel, _parse(rel)


def _package_sites(match):
    """(module, enclosing function) of every package node ``match``
    accepts."""
    return [(rel, fn) for rel, tree in _package_modules() for fn in _enclosing(tree, match)]


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


def _holders(tree, match):
    """Name of every top-level function or assigned constant whose
    subtree (decorators included) has a node ``match`` accepts."""
    names = []
    for stmt in tree.body:
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
            name = stmt.name
        elif isinstance(stmt, ast.Assign) and isinstance(stmt.targets[0], ast.Name):
            name = stmt.targets[0].id
        else:
            continue
        if any(match(n) for n in ast.walk(stmt)):
            names.append(name)
    return names


def _is_query_window(node):
    # Window.partitionBy(query_id_col)
    return (
        _call(node, "partitionBy")
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "Window"
        and len(node.args) == 1
        and isinstance(node.args[0], ast.Name)
        and node.args[0].id == "query_id_col"
    )


def _is_float_cosine_sql(node):
    # the float cosine's division by the norm product, in a string or
    # in any literal part of an f-string
    return isinstance(node, ast.Constant) and bool(
        re.search(r"/\s*\(sqrt\(list_sum\(list_transform\(", str(node.value))
    )


def _is_vec_id_query_set(node):
    # F.col("vec_id") < <bound>
    return (
        isinstance(node, ast.Compare)
        and len(node.ops) == 1
        and isinstance(node.ops[0], ast.Lt)
        and _call(node.left, "col")
        and len(node.left.args) == 1
        and isinstance(node.left.args[0], ast.Constant)
        and node.left.args[0].value == "vec_id"
    )


_VECTOR_COPIES = '''
def a(q):
    return Window.partitionBy(q), Window.partitionBy(query_id_col)
def b(query_id_col):
    return Window.partitionBy(query_id_col).orderBy("s")
_SQL = """THEN d
  / (sqrt(list_sum(list_transform(qv, x -> x*x))) * n)"""
@_register("x", f"""THEN d
   /  (sqrt(list_sum(list_transform({v}, x -> x*x))) * n)""")
def q_x(emb):
    return emb.where(F.col("vec_id") < 5), emb.where(F.col("id") < 5)
def r(emb, n):
    return emb.where(F.col("vec_id") < n), "/ (a.nv * b.nv)"
'''


def test_vector_search_lint_sees_each_copy():
    tree = ast.parse(_VECTOR_COPIES)
    assert _enclosing(tree, _is_query_window) == ["a", "b"]
    assert _holders(tree, _is_float_cosine_sql) == ["_SQL", "q_x"]
    assert _enclosing(tree, _is_vec_id_query_set) == ["q_x", "r"]


def test_vector_tiers_rank_through_one_window():
    sim = _parse("operators/similarity.py")
    assert _enclosing(sim, _is_query_window) == ["_ranked_topk", "_bm25_query_order"]


def test_float_cosine_sql_has_one_builder():
    assert _holders(_parse("queries.py"), _is_float_cosine_sql) == ["_cos_sql"]


def test_vector_query_set_is_built_once():
    assert _package_sites(_is_vec_id_query_set) == [("queries.py", "_ann_query_set")]


def _is_array_intersect(node):
    return _call(node, "array_intersect")


def _is_pair_emission(node):
    # F.slice(<arr>, i + <2>, F.size(<arr>)): the tail after element i
    if not (_call(node, "slice") and len(node.args) == 3):
        return False
    _, start, stop = node.args
    if not (isinstance(start, ast.BinOp) and isinstance(start.op, ast.Add)):
        return False
    two = start.right.args[0] if _call(start.right, "lit") else start.right
    return isinstance(two, ast.Constant) and two.value == 2 and _call(stop, "size")


def _sql_holder(fragment):
    # ``fragment`` in a string or in any literal part of an f-string
    return lambda node: isinstance(node, ast.Constant) and fragment in str(node.value)


_GRAM_SQL = "generate_series(1, greatest(len(t) -"
_PROBE_SQL = "JOIN buckets o ON o.band = d.band"

_TEXT_DEDUP_COPIES = '''
def a(x, y):
    return F.size(F.array_intersect(x, y)), F.slice(F.col("ids"), i + F.lit(2), F.size("ids"))
def b(arr):
    return F.transform(arr, lambda x, i: F.slice(arr, i + 2, F.size(arr)))
def c(arr):
    return F.slice(arr, 1, F.size(arr)), F.array_intersect(arr, arr)
_SQL = """list_transform(generate_series(1, greatest(len(t) - 2, 1)), i -> t[i])
  JOIN buckets o ON o.band = d.band AND o.key = d.key"""
@_register("x", f"""generate_series(1, greatest(len(t) - {n}, 1))""")
def q_x(n):
    return f"""JOIN buckets o ON o.band = d.band WHERE {n}"""
'''


def test_text_dedup_lint_sees_each_copy():
    tree = ast.parse(_TEXT_DEDUP_COPIES)
    assert _enclosing(tree, _is_array_intersect) == ["a", "c"]
    assert _enclosing(tree, _is_pair_emission) == ["a", "b"]
    assert _holders(tree, _sql_holder(_GRAM_SQL)) == ["_SQL", "q_x"]
    assert _holders(tree, _sql_holder(_PROBE_SQL)) == ["_SQL", "q_x"]


def test_text_dedup_tiers_verify_through_one_helper():
    td = _parse("operators/textdedup.py")
    assert _enclosing(td, _is_array_intersect) == ["_verified_jaccard"]


def test_in_row_pairs_are_emitted_by_one_helper():
    assert _package_sites(_is_pair_emission) == [("operators/textdedup.py", "_in_row_pairs")]


def test_gram_list_sql_has_one_builder():
    assert _holders(_parse("queries.py"), _sql_holder(_GRAM_SQL)) == ["_grams_sql"]


def test_minhash_probe_sql_has_one_builder():
    probes = _holders(_parse("queries.py"), _sql_holder(_PROBE_SQL))
    assert probes == ["_minhash_probe_sql"]


_TOOLS = os.path.join(os.path.dirname(PKG), "tools")
_REGISTRY_CALLS = {"registry", "queries", "oracle_sql"}


def _is_registry_door(node):
    # registry() / __spark_entry__'s queries() and
    # oracle_sql(), an import of one, or any use of _REGISTRY
    if isinstance(node, ast.Call):
        f = node.func
        return (f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)) in _REGISTRY_CALLS
    if isinstance(node, ast.ImportFrom):
        return any(a.name in _REGISTRY_CALLS | {"_REGISTRY"} for a in node.names)
    return (isinstance(node, ast.Name) and node.id == "_REGISTRY") or (
        isinstance(node, ast.Attribute) and node.attr == "_REGISTRY"
    )


def test_registry_door_lint_sees_each_form():
    src = (
        "from smart_fraud_detection_data_pipeline_spark.queries import registry\n"
        "import __spark_entry__ as e\n"
        "def a():\n    return [s.name for s in registry()]\n"
        "def b():\n    return e.queries(), e.oracle_sql()\n"
        "def c(q):\n    return q._REGISTRY, q.registry()\n"
        "def d(out):\n    return out['queries'], len(out)\n"
    )
    assert _enclosing(ast.parse(src), _is_registry_door) == [None, "a", "b", "b", "c", "c"]


def test_only_the_runner_loops_over_the_registry():
    """bench.py and the tools run catalog queries through tools/runner.py."""
    paths = [os.path.join(os.path.dirname(PKG), "bench.py")] + sorted(
        os.path.join(_TOOLS, f) for f in os.listdir(_TOOLS) if f.endswith(".py")
    )
    users = set()
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            if _enclosing(ast.parse(fh.read()), _is_registry_door):
                users.add(os.path.relpath(path, os.path.dirname(PKG)))
    assert users == {"tools/runner.py"}


def _name_list(names):
    """Matches a literal tuple or list holding 5 or more of ``names``
    (the shape of the hand-kept driver rotation the ledger replaced)."""
    return lambda node: isinstance(node, (ast.Tuple, ast.List)) and sum(
        isinstance(e, ast.Constant) and e.value in names for e in node.elts) >= 5


def test_query_name_list_lint_sees_each_form():
    names = {"a", "b", "c", "d", "e", "f"}
    src = (
        "_ROTATION = (\n    'a', 'b',\n    'c', 'd', 'e',\n)\n"
        "def f():\n    return ['a', 'b', 'c', 'd', 'e', 'f'], ('a', 'b', 'c', 'd'), {'a', 'b', 'c', 'd', 'e'}\n"
    )
    assert _enclosing(ast.parse(src), _name_list(names)) == [None, "f"]


def test_no_hand_list_of_query_names():
    from smart_fraud_detection_data_pipeline_spark.queries import _REGISTRY

    assert _package_sites(_name_list({s.name for s in _REGISTRY})) == []
