"""Reference answers from DuckDB over the same parquet, computed after
the measured window, and the comparison with what the engine returned.

Every answer is the benchmark's own SQL; iterative graph answers
(components, k-core, PageRank) are SQL statements looped from Python
with the engine operators' round semantics.
"""

from __future__ import annotations

import json
import math
import os

import duckdb

from perfbench import gen


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in gen.TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _key(row) -> tuple:
    return tuple(
        (0, round(v, 6)) if isinstance(v, float) else (1, "" if v is None else str(v))
        for v in row
    )


def same_rows(got: list, want: list) -> bool:
    """Multiset equality, floats equal to a relative 1e-9."""
    if len(got) != len(want):
        return False
    for g, w in zip(sorted(got, key=_key), sorted(want, key=_key)):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or not math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12):
                    return False
            elif a != b:
                return False
    return True


# -- woql_read ---------------------------------------------------------------


def woql_answer(con, op: tuple) -> list[tuple]:
    kind = op[0]
    if kind == "point3":
        sql = """SELECT 'Customer/' || c_custkey, 'Nation/' || n_nationkey, r_name
                 FROM orders JOIN customer ON o_custkey = c_custkey
                 JOIN nation ON c_nationkey = n_nationkey
                 JOIN region ON n_regionkey = r_regionkey
                 WHERE o_orderkey = ?"""
        return con.execute(sql, [op[1]]).fetchall()
    if kind == "region_agg":
        sql = """SELECT r_name, COUNT(*) FROM orders JOIN customer ON o_custkey = c_custkey
                 JOIN nation ON c_nationkey = n_nationkey
                 JOIN region ON n_regionkey = r_regionkey
                 WHERE o_orderpriority = ? GROUP BY r_name"""
        return con.execute(sql, [op[1]]).fetchall()
    if kind == "segment_cast":
        sql = """SELECT 'Nation/' || c_nationkey, COUNT(*), SUM(c_acctbal) FROM customer
                 WHERE c_mktsegment = ? AND c_acctbal > ? GROUP BY c_nationkey"""
        return con.execute(sql, [op[1], op[2]]).fetchall()
    if kind == "name_regex":
        sql = """SELECT 'Customer/' || c_custkey, c_name FROM customer
                 WHERE regexp_full_match(c_name, ?)"""
        return con.execute(sql, [f"Customer#{op[1]}[0-9][0-9]"]).fetchall()
    sql = """SELECT c_custkey, c_name,
                    (SELECT list((o_orderkey, o_totalprice) ORDER BY o_orderkey, o_totalprice)
                     FROM orders WHERE o_custkey = c_custkey)
             FROM customer WHERE c_mktsegment = ? AND c_nationkey = ?"""
    return [
        (k, name, tuple(tuple(o) for o in (orders or [])))
        for k, name, orders in con.execute(sql, [op[1], op[2]]).fetchall()
    ]


def graphql_rows(rows: list[tuple]) -> list[tuple]:
    """The engine renders a nested relation as a sorted JSON array."""
    out = []
    for k, name, nested in rows:
        items = json.loads(nested) if isinstance(nested, str) else (nested or [])
        orders = sorted(
            (o["o_orderkey"], float(o["o_totalprice"])) for o in (
                i if isinstance(i, dict) else i.asDict() for i in items
            )
        )
        out.append((k, name, tuple(orders)))
    return out


# -- path_graph --------------------------------------------------------------

PARENT = "SELECT c_custkey AS k, c_custkey // 2 AS p FROM customer WHERE c_custkey >= 1"
CLOSURE = f"SELECT * FROM ({PARENT}) WHERE k < {gen.CLOSURE_KEYS} AND k % {gen.EDGE_MOD} <> ?"


def coorder_sql(mod: int) -> str:
    return f"""SELECT DISTINCT 'C/' || a.o_custkey AS src, 'C/' || b.o_custkey AS dst
               FROM orders a JOIN orders b ON b.o_orderkey = a.o_orderkey + 1
               WHERE a.o_orderkey % {gen.EDGE_MOD} = {mod} AND a.o_custkey <> b.o_custkey"""


def cc_labels(con, edges_sql: str) -> list[tuple]:
    """(node, component = min node id over undirected edges), by
    min-label propagation to the fixpoint."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE cc_e AS {edges_sql}")
    con.execute("""CREATE OR REPLACE TEMP TABLE cc_u AS
                   SELECT src, dst FROM cc_e UNION SELECT dst, src FROM cc_e""")
    con.execute("CREATE OR REPLACE TEMP TABLE cc_l AS SELECT DISTINCT src AS node, src AS comp FROM cc_u")
    while True:
        con.execute("""CREATE OR REPLACE TEMP TABLE cc_n AS
                       SELECT l.node, LEAST(l.comp, COALESCE(MIN(m.comp), l.comp)) AS comp
                       FROM cc_l l LEFT JOIN cc_u u ON u.dst = l.node
                       LEFT JOIN cc_l m ON m.node = u.src GROUP BY l.node, l.comp""")
        changed = con.execute("""SELECT COUNT(*) FROM cc_n JOIN cc_l USING (node)
                                 WHERE cc_n.comp <> cc_l.comp""").fetchone()[0]
        con.execute("CREATE OR REPLACE TEMP TABLE cc_l AS SELECT * FROM cc_n")
        if not changed:
            return con.execute("SELECT node, comp FROM cc_l").fetchall()


def kcore_answer(con, mod: int, k: int = 2, rounds: int = 4) -> list[tuple]:
    con.execute(f"CREATE OR REPLACE TEMP TABLE kc_e AS {coorder_sql(mod)}")
    con.execute("""CREATE OR REPLACE TEMP TABLE kc AS
                   SELECT src, dst FROM kc_e UNION SELECT dst, src FROM kc_e""")
    for _ in range(rounds):
        con.execute(f"""CREATE OR REPLACE TEMP TABLE kc AS
            WITH keep AS (SELECT src FROM kc GROUP BY src HAVING COUNT(*) >= {k})
            SELECT src, dst FROM kc WHERE src IN (SELECT src FROM keep)
                                      AND dst IN (SELECT src FROM keep)""")
    return con.execute("SELECT src, COUNT(*) FROM kc GROUP BY src").fetchall()


def pagerank_answer(con, mod: int, iters: int = 5, damping: float = 0.85) -> list[tuple]:
    con.execute(f"CREATE OR REPLACE TEMP TABLE pr_e AS {coorder_sql(mod)}")
    con.execute("CREATE OR REPLACE TEMP TABLE pr_n AS SELECT src AS node FROM pr_e UNION SELECT dst FROM pr_e")
    con.execute("""CREATE OR REPLACE TEMP TABLE pr_l AS
                   SELECT e.src, e.dst, d.deg FROM pr_e e
                   JOIN (SELECT src, COUNT(*) AS deg FROM pr_e GROUP BY src) d USING (src)""")
    n = con.execute("SELECT COUNT(*) FROM pr_n").fetchone()[0]
    con.execute(f"CREATE OR REPLACE TEMP TABLE pr AS SELECT node, CAST(1.0 AS DOUBLE) / {n} AS rank FROM pr_n")
    for _ in range(iters):
        con.execute(f"""CREATE OR REPLACE TEMP TABLE pr AS
            SELECT n.node, (1.0 - {damping}) / {n} + {damping} * COALESCE(c.contrib, 0.0) AS rank
            FROM pr_n n LEFT JOIN (
              SELECT l.dst AS node,
                     CAST(SUM(CAST(FLOOR(p.rank / l.deg * CAST(1e15 AS DOUBLE)) AS HUGEINT)) AS DOUBLE)
                       / CAST(1e15 AS DOUBLE) AS contrib
              FROM pr_l l JOIN pr p ON l.src = p.node GROUP BY l.dst) c USING (node)""")
    return con.execute("SELECT node, rank FROM pr").fetchall()


def path_answer(con, op: tuple) -> list[tuple]:
    kind, arg = op
    if kind == "anchored":
        sql = f"""WITH RECURSIVE e AS ({PARENT}),
                  r(node) AS (SELECT p FROM e WHERE k = ?
                              UNION SELECT e.p FROM r JOIN e ON e.k = r.node)
                  SELECT 'C/' || node FROM r"""
        return con.execute(sql, [arg]).fetchall()
    if kind == "closure":
        sql = f"""WITH RECURSIVE e AS ({CLOSURE}),
                  r(src, dst, hops) AS (SELECT k, p, 1 FROM e
                      UNION ALL SELECT r.src, e.p, r.hops + 1 FROM r JOIN e ON e.k = r.dst)
                  SELECT COUNT(*), SUM(hops), MAX(hops) FROM r"""
        return con.execute(sql, [arg]).fetchall()
    if kind == "cc":
        return cc_labels(con, coorder_sql(arg))
    if kind == "kcore":
        return kcore_answer(con, arg)
    return pagerank_answer(con, arg)


# -- commit_cdc --------------------------------------------------------------


class CommitModel:
    """The link set after each commit of one cycle, from DuckDB's
    answers to each commit's patterns."""

    def __init__(self, con, plan: list[dict]):
        self.snaps = [frozenset()]
        self.deltas = []
        balance = dict(con.execute("SELECT 'Customer/' || c_custkey, c_acctbal FROM customer").fetchall())
        links: set = set()
        for c in plan:
            nation, segment, hub = c["add"]
            hub_iri = f"Customer/{hub}"
            adds = {
                (s, hub_iri) for (s,) in con.execute(
                    "SELECT 'Customer/' || c_custkey FROM customer WHERE c_nationkey = ? AND c_mktsegment = ?",
                    [nation, segment],
                ).fetchall()
            }
            dels = set()
            if c["del"] is not None:
                h0, min_bal = c["del"]
                dels = {(s, o) for (s, o) in links if o == f"Customer/{h0}" and balance[s] > min_bal}
            links = (links - dels) | adds
            self.deltas.append(
                {("add", s, o) for s, o in adds} | {("del", s, o) for s, o in dels}
            )
            self.snaps.append(frozenset(links))

    def nodes(self) -> set:
        return {x for d in self.deltas for op, s, o in d if op == "add" and s != o for x in (s, o)}


def load_links(con, links) -> None:
    con.execute("CREATE OR REPLACE TEMP TABLE links(src VARCHAR, dst VARCHAR)")
    con.executemany("INSERT INTO links VALUES (?, ?)", sorted(links))


def check_commit_cycle(con, seed: int, sf: float, samples: list) -> list[str]:
    model = CommitModel(con, gen.commit_cycle(seed, samples[0].op[1], sf))
    bad = []
    for s in samples:
        if s.category == "commit":
            seq = s.op[2]
            n_links, delta = s.rows[0][1], {(r[2], r[4], r[6]) for r in s.rows[1:]}
            ok = n_links == len(model.snaps[seq]) and delta == model.deltas[seq - 1]
            ok = ok and all(r[5] == gen.LINK and r[0] == seq for r in s.rows[1:])
        elif s.op[0] == "woql" and s.op[3] == "hub_nations":
            load_links(con, model.snaps[s.op[2]])
            ok = same_rows(s.rows, con.execute(
                """SELECT 'Nation/' || c_nationkey, COUNT(*) FROM links
                   JOIN customer ON links.src = 'Customer/' || c_custkey
                   WHERE links.dst = ? GROUP BY c_nationkey""", [f"Customer/{s.op[4]}"]).fetchall())
        elif s.op[0] == "woql":
            ok = same_rows(s.rows, woql_answer(con, s.op[3:]))
        elif s.op[0] == "at":
            ok = same_rows(s.rows, list(model.snaps[s.op[3]]))
        elif s.op[0] == "diff":
            a, b = model.snaps[s.op[3]], model.snaps[s.op[4]]
            want = [("added",) + x for x in b - a] + [("removed",) + x for x in a - b]
            ok = same_rows(s.rows, want)
        elif s.op[0] == "reach":
            load_links(con, model.snaps[-1])
            ok = same_rows(s.rows, con.execute(
                """WITH RECURSIVE r(c) AS (SELECT src FROM links WHERE dst = ?
                       UNION SELECT links.src FROM links JOIN r ON links.dst = r.c)
                   SELECT c FROM r""", [f"Customer/{s.op[2]}"]).fetchall())
        elif s.op[0] == "components":
            load_links(con, model.snaps[-1])
            ok = same_rows(s.rows, cc_labels(con, "SELECT * FROM links"))
        else:
            load_links(con, {(a, b) for a, b in model.snaps[-1] if a != b})
            con.executemany("INSERT INTO links VALUES (?, ?)", [(x, x) for x in model.nodes()])
            ok = same_rows(s.rows, cc_labels(con, "SELECT * FROM links"))
        if not ok:
            bad.append(str(s.op))
    return bad


def check(workload: str, data_dir: str, seed: int, sf: float, samples: list) -> list[str]:
    """Descriptions of the operations whose output is wrong."""
    con = connect(data_dir)
    try:
        if workload == "commit_cdc":
            cycles: dict[int, list] = {}
            for s in samples:
                cycles.setdefault(s.op[1], []).append(s)
            return [b for cyc in cycles.values() for b in check_commit_cycle(con, seed, sf, cyc)]
        bad = []
        for s in samples:
            if workload == "woql_read":
                got = graphql_rows(s.rows) if s.op[0] == "graphql" else s.rows
                want = woql_answer(con, s.op)
            else:
                got, want = s.rows, path_answer(con, s.op)
            if not same_rows(got, want):
                bad.append(str(s.op))
        return bad
    finally:
        con.close()
