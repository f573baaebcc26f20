"""The three workloads, each driving the engine's public layer functions.

Every operation is timed from outside as a whole (its latency); under
tracing, each call into a layer is also a span (see ``trace.py``).
Each operation keeps its output rows so ``oracle.py`` can check them
after the measured window.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from terminus_server_spark.docs.graphql import execute_graphql
from terminus_server_spark.model.triples import TripleStore, tpch_store
from terminus_server_spark.operators.graph import connected_components, kcore, pagerank
from terminus_server_spark.operators.path import transitive_closure_doubling
from terminus_server_spark.session import get_spark, load_tables
from terminus_server_spark.streaming.events import run_stream_cc_cdc
from terminus_server_spark.versioning.layers import apply_delta, diff, materialize
from terminus_server_spark.woql import ast as A
from terminus_server_spark.woql.compiler import WOQLContext
from terminus_server_spark.woql.path_ast import Plus, Pred

from perfbench import gen

V = A.v
LINK = gen.LINK
KEY = ["graph", "subject", "predicate", "obj"]
DELTA_SCHEMA = (
    "commit_seq int, commit_id string, op string, graph string, subject string, "
    "predicate string, obj string, obj_type string, obj_num double"
)


@dataclass
class Sample:
    """One operation: ``category`` is read, commit, cdc or graph."""

    category: str
    op: tuple
    latency: float
    rows: list = field(default_factory=list)
    jobs: int = 0
    stages: int = 0
    tasks: int = 0


def rows_of(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


class Workload:
    name = ""
    tables: tuple[str, ...] = gen.TABLES

    def __init__(self, data_dir: str, seed: int, sf: float):
        self.data_dir, self.seed, self.sf = data_dir, seed, sf

    def setup(self, tr) -> None:
        """Session, table open, store build and warm-up."""
        self.spark = get_spark("perfbench")
        self.tr = tr
        tr.bind(self.spark)
        self.tabs = tr.span("sources.open", load_tables, self.spark, self.data_dir, self.tables)
        self.build()
        self.warm()

    def build(self) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        raise NotImplementedError

    def step(self) -> list[Sample]:
        raise NotImplementedError

    def timed(self, category: str, op: tuple, fn) -> Sample:
        t0 = time.perf_counter()
        rows, jobs, stages, tasks = self.tr.op_counts(fn)
        return Sample(category, op, time.perf_counter() - t0, rows, jobs, stages, tasks)

    def read(self, layer: str, df) -> list[tuple]:
        """Plan then execute ``df``: under tracing, ``catalyst.plan``
        forces the executed plan first; ``layer`` times the collect."""
        if self.tr.on:
            self.tr.span("catalyst.plan", lambda: df._jdf.queryExecution().executedPlan())
        return self.tr.span(layer, rows_of, df)


# -- woql_read ---------------------------------------------------------------


def woql_term(op: tuple) -> A.Term:
    kind = op[0]
    if kind == "point3":
        return A.Select(
            [V("c"), V("n"), V("rn")],
            A.And(
                A.Triple(f"Order/{op[1]}", "o_customer", V("c")),
                A.Triple(V("c"), "c_nation", V("n")),
                A.Triple(V("n"), "n_region", V("r")),
                A.Triple(V("r"), "r_name", V("rn")),
            ),
        )
    if kind == "region_agg":
        return A.GroupBy(
            [V("rn")],
            [("count", V("o"), V("n_orders"))],
            A.And(
                A.Triple(V("o"), "o_orderpriority", op[1]),
                A.Triple(V("o"), "o_customer", V("c")),
                A.Triple(V("c"), "c_nation", V("n")),
                A.Triple(V("n"), "n_region", V("r")),
                A.Triple(V("r"), "r_name", V("rn")),
            ),
        )
    if kind == "segment_cast":
        return A.GroupBy(
            [V("n")],
            [("count", V("c"), V("cnt")), ("sum", V("bal_d"), V("total"))],
            A.And(
                A.Triple(V("c"), "c_mktsegment", op[1]),
                A.Triple(V("c"), "c_acctbal", V("bal")),
                A.Typecast(V("bal"), "xsd:double", V("bal_d")),
                A.Greater(V("bal_d"), op[2]),
                A.Triple(V("c"), "c_nation", V("n")),
            ),
        )
    if kind == "hub_nations":
        return A.GroupBy(
            [V("n")],
            [("count", V("c"), V("cnt"))],
            A.And(
                A.Triple(V("c"), LINK, f"Customer/{op[1]}"),
                A.Triple(V("c"), "c_nation", V("n")),
            ),
        )
    if kind == "name_regex":
        return A.Select(
            [V("c"), V("name")],
            A.And(
                A.Triple(V("c"), "c_name", V("name")),
                A.Like(V("c"), "Customer/%"),
                A.Regexp(f"^Customer#{op[1]}[0-9][0-9]$", V("name")),
            ),
        )
    raise ValueError(f"not a WOQL template: {kind}")


def graphql_src(op: tuple) -> str:
    return (
        f'query {{ Customer(filter: {{c_mktsegment: {{eq: "{op[1]}"}}, '
        f"c_nationkey: {{eq: {op[2]}}}}}) "
        "{ c_custkey c_name orders { o_orderkey o_totalprice } } }"
    )


class WoqlRead(Workload):
    """Interactive WOQL/GraphQL reads over the TPC-H knowledge graph."""

    name = "woql_read"

    def build(self) -> None:
        self.store = self.tr.span("triples.build", tpch_store, self.tabs)
        self.ctx = WOQLContext(self.store)
        self.frames = {"Customer": self.tabs["customer"], "Order": self.tabs["orders"]}
        self.relations = {("Customer", "orders"): ("Order", "c_custkey", "o_custkey")}
        self.ops = gen.woql_ops(self.seed, 10_000, self.sf)
        self.next_op = 0

    def warm(self) -> None:
        for op in gen.woql_ops(self.seed + 7919, len(gen.WOQL_KINDS), self.sf):
            self.run_op(op)

    def run_op(self, op: tuple) -> list[tuple]:
        if op[0] == "graphql":
            df = self.tr.span(
                "graphql.compile", execute_graphql, self.frames, graphql_src(op),
                relations=self.relations,
            )["Customer"]
        else:
            df = self.tr.span("woql.compile", self.ctx.run, woql_term(op))
        return self.read("exec.action", df)

    def step(self) -> list[Sample]:
        """One read of each template, in the generated order."""
        ops = self.ops[self.next_op:self.next_op + len(gen.WOQL_KINDS)]
        self.next_op += len(ops)
        return [self.timed("read", op, lambda: self.run_op(op)) for op in ops]


# -- path_graph --------------------------------------------------------------


class PathGraph(Workload):
    """Recursive path queries and iterative graph analytics."""

    name = "path_graph"
    tables = ("customer", "orders")

    def build(self) -> None:
        cust = self.tabs["customer"]
        self.parent = cust.where(F.col("c_custkey") >= 1).select(
            F.concat(F.lit("C/"), F.col("c_custkey").cast("string")).alias("src"),
            F.concat(F.lit("C/"), F.floor(F.col("c_custkey") / 2).cast("long").cast("string")).alias("dst"),
            F.col("c_custkey").alias("k"),
        )
        tri = self.parent.select(
            F.lit("instance").alias("graph"),
            F.col("src").alias("subject"),
            F.lit("parent").alias("predicate"),
            F.col("dst").alias("obj"),
            F.lit("iri").alias("obj_type"),
            F.lit(None).cast("double").alias("obj_num"),
        )
        self.ctx = WOQLContext(self.tr.span("triples.build", TripleStore, tri))
        self.round = 0

    def coorder_edges(self, mod: int):
        o = self.tabs["orders"]
        a = o.where(F.col("o_orderkey") % gen.EDGE_MOD == mod).select(
            (F.col("o_orderkey") + 1).alias("next"), F.col("o_custkey").alias("a")
        )
        b = o.select(F.col("o_orderkey").alias("next"), F.col("o_custkey").alias("b"))
        return (
            a.join(b, "next")
            .where(F.col("a") != F.col("b"))
            .select(
                F.concat(F.lit("C/"), F.col("a").cast("string")).alias("src"),
                F.concat(F.lit("C/"), F.col("b").cast("string")).alias("dst"),
            )
            .distinct()
        )

    def warm(self) -> None:
        self.run_op(("anchored", 3))

    def run_op(self, op: tuple) -> list[tuple]:
        kind, arg = op
        if kind == "anchored":
            term = A.Path(f"C/{arg}", Plus(Pred("parent")), V("a"))
            return self.read("path.action", self.tr.span("path.build", self.ctx.run, term))
        if kind == "closure":
            edges = self.parent.where(
                (F.col("k") < gen.CLOSURE_KEYS) & (F.col("k") % gen.EDGE_MOD != arg)
            ).select("src", "dst")
            out = self.tr.span("path.build", transitive_closure_doubling, edges, with_hops=True)
            return self.read("path.action", out.agg(F.count(F.lit(1)), F.sum("hops"), F.max("hops")))
        edges = self.coorder_edges(arg)
        if kind == "cc":
            out = self.tr.span("graph.build", connected_components, edges)
        elif kind == "kcore":
            out = self.tr.span("graph.build", kcore, edges, k=2, rounds=4)
        else:
            out = self.tr.span("graph.build", pagerank, edges, iters=5)
        return self.read("graph.action", out)

    def step(self) -> list[Sample]:
        self.round += 1
        return [
            self.timed("read", op, lambda: self.run_op(op))
            for op in gen.path_round(self.seed, self.round, self.sf)
        ]


# -- commit_cdc --------------------------------------------------------------


def add_term(nation: int, segment: str, hub: int) -> A.Term:
    return A.And(
        A.Triple(V("c"), "c_nation", f"Nation/{nation}"),
        A.Triple(V("c"), "c_mktsegment", segment),
        A.AddTriple(V("c"), LINK, f"Customer/{hub}"),
    )


def del_term(hub: int, min_bal: float) -> A.Term:
    return A.And(
        A.Triple(V("c"), LINK, f"Customer/{hub}"),
        A.Triple(V("c"), "c_acctbal", V("bal")),
        A.Greater(V("bal"), min_bal),
        A.DeleteTriple(V("c"), LINK, f"Customer/{hub}"),
    )


class CommitCdc(Workload):
    """WOQL update commits with time travel, then the same commits'
    edge changes as CDC micro-batches into streaming CC.

    The store is the customer graph (customers, nations, regions as
    triples), partitioned by predicate like ``TripleStore.from_tables``
    builds it.  Commits only touch the ``link`` predicate, so each
    commit's ``apply_delta`` runs on the link partition and the head
    store is the base partitions plus the current link partition."""

    name = "commit_cdc"
    tables = ("region", "nation", "customer")
    specs = {
        "region": {"class_name": "Region", "key_col": "r_regionkey"},
        "nation": {
            "class_name": "Nation",
            "key_col": "n_nationkey",
            "ref_cols": {"n_regionkey": ("Region", "n_region")},
        },
        "customer": {
            "class_name": "Customer",
            "key_col": "c_custkey",
            "ref_cols": {"c_nationkey": ("Nation", "c_nation")},
        },
    }

    def build(self) -> None:
        self.base = self.tr.span("triples.build", TripleStore.from_tables, self.tabs, self.specs)
        self.no_links = self.spark.createDataFrame([], self.base.df.schema)
        self.cycle = 0

    def head(self, links) -> TripleStore:
        return TripleStore(
            self.base.df.unionByName(links),
            pred_frames={**self.base.pred_frames, LINK: [links]},
        )

    def warm(self) -> None:
        ctx = WOQLContext(self.head(self.no_links))
        rows_of(ctx.run_update(add_term(0, gen.SEGMENTS[0], 1), 1, "warm"))
        rows_of(ctx.run(woql_term(("segment_cast", gen.SEGMENTS[0], 0.0))))

    def commit(self, links, c: dict):
        """One commit: WOQL update -> delta rows -> apply_delta."""
        ctx = WOQLContext(self.head(links))
        seq, cid = c["seq"], f"c{c['seq']}"

        def update():
            delta = ctx.run_update(add_term(*c["add"]), seq, cid)
            if c["del"] is not None:
                delta = delta.unionByName(ctx.run_update(del_term(*c["del"]), seq, cid))
            return rows_of(delta)

        rows = self.tr.span("woql.update", update)
        if any(r[5] != LINK for r in rows):
            raise ValueError("a commit touched a predicate other than the link partition")
        delta = self.spark.createDataFrame(rows, DELTA_SCHEMA)

        def apply():
            new_links = apply_delta(links, delta)
            return new_links, new_links.count()

        new_links, n_links = self.tr.span("layers.apply_delta", apply)
        return new_links, delta, rows, n_links

    def step(self) -> list[Sample]:
        self.cycle += 1
        links, layers, out, changes = self.no_links, None, [], []
        for c in gen.commit_cycle(self.seed, self.cycle, self.sf):
            seq = c["seq"]
            t0 = time.perf_counter()
            (links, delta, rows, n_links), jobs, stages, tasks = self.tr.op_counts(
                self.commit, links, c
            )
            out.append(Sample(
                "commit", ("commit", self.cycle, seq), time.perf_counter() - t0,
                [("links", n_links)] + rows, jobs, stages, tasks,
            ))
            layers = delta if layers is None else layers.unionByName(delta)
            changes.append([(r[2], r[4], r[6]) for r in rows])
            ctx = WOQLContext(self.head(links))
            for op in c["reads"]:
                out.append(self.timed("read", ("woql", self.cycle, seq) + op, lambda: self.read(
                    "exec.action", self.tr.span("woql.compile", ctx.run, woql_term(op))
                )))
            out.append(self.timed("read", ("at", self.cycle, seq, seq - 1), lambda: self.read(
                "layers.materialize", materialize(layers, seq - 1, KEY).select("subject", "obj")
            )))
            out.append(self.timed("read", ("diff", self.cycle, seq, 0, seq), lambda: self.read(
                "layers.diff", diff(layers, 0, seq, KEY).select("op", "subject", "obj")
            )))
        out.append(self.timed("cdc", ("cdc", self.cycle), lambda: self.stream(changes)))
        # graph reads at the head commit: who reaches the last hub
        # through links (path closure), and batch components of the
        # link graph
        head, hub = self.head(links), c["add"][2]
        reach = A.Path(V("c"), Plus(Pred(LINK)), f"Customer/{hub}")
        out.append(self.timed("graph", ("reach", self.cycle, hub), lambda: self.read(
            "path.action", self.tr.span("path.build", WOQLContext(head).run, reach)
        )))
        out.append(self.timed("graph", ("components", self.cycle), lambda: self.read(
            "graph.action", self.tr.span("graph.build", connected_components, head.edges(LINK))
        )))
        return out

    def stream(self, changes: list[list[tuple]]) -> list[tuple]:
        batches = [self.spark.createDataFrame(ch, "op string, src string, dst string") for ch in changes]
        labels = self.tr.span("stream.build", run_stream_cc_cdc, self.spark, batches)
        return self.tr.span("stream.action", rows_of, labels)


WORKLOADS = {w.name: w for w in (WoqlRead, PathGraph, CommitCdc)}
