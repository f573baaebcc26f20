"""Driver-built frames (``session.local_frame``) and the per-call
py4j cost of compiling a query.

Frames the engine builds from driver-side rows must be Arrow-backed
``LocalRelation`` leaves: a pickled ``createDataFrame(list, schema)``
leaf has no size estimate (never auto-broadcast) and re-reads its
rows in a Python worker on every evaluation.
"""

import ast
import pathlib

import pytest

import terminus_server_spark

PKG = pathlib.Path(terminus_server_spark.__file__).parent

# Long.MaxValue: the estimate of a leaf Spark knows nothing about.
UNKNOWN_SIZE = 2**63 - 1


def _assert_local(df):
    plan = df._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation", plan.getClass().getSimpleName()
    assert int(plan.stats().sizeInBytes()) < UNKNOWN_SIZE


def test_local_frame_round_trips_ids_exactly(spark):
    from terminus_server_spark.session import local_frame

    big = [2**62 + 1, -(2**62) - 3, 0]
    df = local_frame(spark, [(str(n), n) for n in big], "s string, n bigint")
    _assert_local(df)
    assert [(r.s, r.n) for r in df.collect()] == [(str(n), n) for n in big]
    assert df.dtypes == [("s", "string"), ("n", "bigint")]


def test_local_frame_keeps_schema_when_empty(spark):
    from pyspark.sql import types as T

    from terminus_server_spark.operators.graph import cc_metadata
    from terminus_server_spark.session import local_frame

    schema = T.StructType([T.StructField("node", T.LongType()), T.StructField("x", T.StringType())])
    empty = local_frame(spark, [], schema)
    assert empty.schema == schema and empty.count() == 0
    edges = spark.createDataFrame([], "src string, dst string")
    labels = cc_metadata(edges)
    assert labels.dtypes == [("node", "string"), ("component", "string")]
    assert labels.count() == 0


@pytest.mark.parametrize("kind", ["string", "bigint"])
def test_metadata_labels_are_local_relations(spark, kind):
    from terminus_server_spark.operators.graph import cc_metadata, scc_metadata

    ids = ["b", "a", "c", "d"] if kind == "string" else [2**40 + 7, 2**40 + 3, 5, 2**62]
    a, b, c, d = ids
    edges = spark.createDataFrame([(a, b), (b, a), (c, d)], f"src {kind}, dst {kind}")
    cc = cc_metadata(edges)
    scc = scc_metadata(edges)
    for df in (cc, scc):
        _assert_local(df)
        assert df.dtypes == [("node", kind), ("component", kind)]
    assert sorted(map(tuple, cc.collect())) == sorted(
        [(a, min(a, b)), (b, min(a, b)), (c, min(c, d)), (d, min(c, d))]
    )
    # c -> d is one-way: two singleton SCCs
    assert sorted(map(tuple, scc.collect())) == sorted(
        [(a, min(a, b)), (b, min(a, b)), (c, c), (d, d)]
    )


def test_commit_walks_are_local_relations(spark):
    from terminus_server_spark.versioning.dag import log_walk, merge_base, reachable_commits

    commits = spark.createDataFrame(
        [("c0", []), ("c1", ["c0"]), ("c2", ["c1"]), ("f1", ["c0"]), ("m", ["c2", "f1"]), ("x", [])],
        "commit_id string, parent_ids array<string>",
    )
    walk = log_walk(commits, "m")
    reach = reachable_commits(commits, ["c2", "x"])
    base = merge_base(commits, "c2", "f1")
    none = merge_base(commits, "c2", "x")
    for df in (walk, reach, base, none):
        _assert_local(df)
    assert sorted(map(tuple, walk.collect())) == [
        ("c0", 2), ("c1", 2), ("c2", 1), ("f1", 1), ("m", 0)
    ]
    assert [r.commit_id for r in reach.collect()] == ["c0", "c1", "c2", "x"]
    assert [tuple(r) for r in base.collect()] == [("c0", 2, 1)]
    assert none.count() == 0 and none.columns == ["merge_base", "depth_a", "depth_b"]


# createDataFrame calls allowed outside session.local_frame, by
# (module, enclosing function).  _insertDocuments builds its frame
# from the caller's dicts and infers the schema from them.
ALLOWED_CREATE = {
    ("session.py", "local_frame"),
    ("docs/graphql.py", "execute_graphql_mutation"),
}


def _create_sites(path: pathlib.Path):
    tree = ast.parse(path.read_text(), str(path))
    stack = []

    def visit(node):
        is_fn = isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        if is_fn:
            stack.append(node.name)
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
        ):
            yield node.lineno, (stack[0] if stack else "<module>")
        for child in ast.iter_child_nodes(node):
            yield from visit(child)
        if is_fn:
            stack.pop()

    yield from visit(tree)


def test_no_pickled_driver_frames_in_the_engine():
    """Every ``createDataFrame`` in the engine (the registry's fixtures
    aside) goes through ``local_frame`` or is allow-listed above."""
    found, bad = set(), []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "registry.py":
            continue
        for line, fn in _create_sites(path):
            found.add((rel, fn))
            if (rel, fn) not in ALLOWED_CREATE:
                bad.append(f"{rel}:{line} in {fn}()")
    assert not bad, "createDataFrame outside session.local_frame: " + ", ".join(bad)
    # a stale allow-list entry would hide a future regression there
    assert found == ALLOWED_CREATE


def test_woql_compile_py4j_calls_are_bounded(spark, store, monkeypatch):
    """Compiling one 4-pattern WOQL query costs a bounded number of
    py4j round trips.  PySpark's per-call origin capture (on by
    default) adds ~4 per DataFrame/functions call: ~480 here, ~160
    without it."""
    from terminus_server_spark.woql import ast as A
    from terminus_server_spark.woql.compiler import WOQLContext

    V = A.v

    def term(k):
        return A.Select(
            [V("c"), V("n"), V("rn")],
            A.And(
                A.Triple(f"Order/{k}", "o_customer", V("c")),
                A.Triple(V("c"), "c_nation", V("n")),
                A.Triple(V("n"), "n_region", V("r")),
                A.Triple(V("r"), "r_name", V("rn")),
            ),
        )

    ctx = WOQLContext(store)
    ctx.run(term(1))  # warm: first-use lookups are not per-query cost
    client = type(spark.sparkContext._gateway._gateway_client)
    calls = []
    send = client.send_command

    def counting(self, *a, **kw):
        calls.append(1)
        return send(self, *a, **kw)

    monkeypatch.setattr(client, "send_command", counting)
    ctx.run(term(2))
    monkeypatch.undo()
    assert 0 < len(calls) <= 400, len(calls)
