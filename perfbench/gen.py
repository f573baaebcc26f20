"""Seeded inputs: the TPC-H-shaped source tables and each workload's
operation stream.

The tables come from a fixed data seed, so every run reads the same
data; ``--seed`` only picks the operations.  The engine never sees a
seed: it receives the tables and the generated operations.
"""

from __future__ import annotations

import bisect
import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
    "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
    "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA",
    "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES",
]
NATION_REGION = [0, 1, 1, 1, 4, 0, 3, 3, 2, 2, 4, 4, 2, 4, 0, 0, 0, 1, 2, 3, 4, 2, 3, 3, 1]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
TABLES = ("region", "nation", "customer", "supplier", "orders")


def sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(int(150_000 * sf), 50),
        "supplier": max(int(10_000 * sf), 10),
        "orders": max(int(1_500_000 * sf), 500),
    }


def make_tables(out_dir: str, sf: float) -> dict[str, str]:
    """Write the five tables as parquet under ``out_dir``; returns
    name -> path.  Column names and types follow the TPC-H subset the
    engine's ``tpch_store`` maps into triples."""
    n = sizes(sf)
    rng = np.random.default_rng(DATA_SEED)
    os.makedirs(out_dir, exist_ok=True)
    nc, ns, no = n["customer"], n["supplier"], n["orders"]
    ckeys = np.arange(1, nc + 1, dtype=np.int64)
    skeys = np.arange(1, ns + 1, dtype=np.int64)
    okeys = np.arange(1, no + 1, dtype=np.int64)
    day0 = dt.datetime(1992, 1, 1)
    days = rng.integers(0, 2405, no)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": NATIONS,
            "n_regionkey": pa.array(NATION_REGION, pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": ckeys,
            "c_name": [f"Customer#{k:09d}" for k in ckeys],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
        }),
        "supplier": pa.table({
            "s_suppkey": skeys,
            "s_name": [f"Supplier#{k:09d}" for k in skeys],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
        }),
        "orders": pa.table({
            "o_orderkey": okeys,
            "o_custkey": rng.integers(1, nc + 1, no).astype(np.int64),
            "o_orderstatus": [STATUSES[i] for i in rng.integers(0, 3, no)],
            "o_totalprice": np.round(rng.uniform(850.0, 550_000.0, no), 2),
            "o_orderdate": pa.array(
                [day0 + dt.timedelta(days=int(d)) for d in days], pa.timestamp("us")
            ),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
        }),
    }
    paths = {}
    for name, table in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths


class Skewed:
    """Draws from a fixed domain with Zipf(s) rank weights over a seeded
    permutation, so a few constants recur (exact repeats) while most
    draws are distinct."""

    def __init__(self, rng: random.Random, domain: list, s: float = 1.1):
        self.domain = list(domain)
        rng.shuffle(self.domain)
        acc, self.cdf = 0.0, []
        for rank in range(1, len(self.domain) + 1):
            acc += rank ** -s
            self.cdf.append(acc)
        self.rng = rng

    def draw(self):
        u = self.rng.random() * self.cdf[-1]
        return self.domain[bisect.bisect_left(self.cdf, u)]


# -- woql_read ---------------------------------------------------------------

WOQL_KINDS = ("point3", "region_agg", "segment_cast", "name_regex", "graphql")


def woql_ops(seed: int, count: int, sf: float) -> list[tuple]:
    """``count`` read operations, cycling through the five templates so
    every prefix has the same template mix; constants are skewed."""
    n = sizes(sf)
    rng = random.Random(seed)
    orders = Skewed(rng, range(1, n["orders"] + 1))
    nations = Skewed(rng, range(25))
    prio = Skewed(rng, PRIORITIES, s=0.5)
    seg = Skewed(rng, SEGMENTS, s=0.5)
    prefixes = Skewed(rng, range(n["customer"] // 100 + 1))
    ops = []
    for i in range(count):
        kind = WOQL_KINDS[i % len(WOQL_KINDS)]
        if kind == "point3":
            ops.append((kind, orders.draw()))
        elif kind == "region_agg":
            ops.append((kind, prio.draw()))
        elif kind == "segment_cast":
            ops.append((kind, seg.draw(), float(rng.choice((0, 2500, 5000, 7500)))))
        elif kind == "name_regex":
            ops.append((kind, f"{prefixes.draw():07d}"))
        else:
            ops.append((kind, seg.draw(), nations.draw()))
    return ops


def repeat_share(ops: list[tuple]) -> float:
    """Share of operations that exactly repeat an earlier one."""
    return 1.0 - len(set(ops)) / len(ops) if ops else 0.0


# -- path_graph --------------------------------------------------------------

PATH_KINDS = ("anchored", "closure", "cc", "kcore", "pagerank")
# one order in EDGE_MOD links its customer to the next order's customer
EDGE_MOD = 100
# the closure runs on the top of the parent tree (keys below this)
CLOSURE_KEYS = 4096


def path_round(seed: int, r: int, sf: float) -> list[tuple]:
    """Round ``r``: one operation of each kind.  ``anchored`` starts at
    a seeded customer in the deepest half of the parent tree;
    ``closure`` drops the parent edges of one key residue from the top
    of the tree; the graph ops run on a seeded slice of the co-order
    edges (``mod`` picks which orders link their customers)."""
    n = sizes(sf)["customer"]
    rng = random.Random(seed * 1_000_003 + r)
    return [
        (kind, rng.randrange(n // 2 + 1, n + 1) if kind == "anchored" else rng.randrange(EDGE_MOD))
        for kind in PATH_KINDS
    ]


# -- commit_cdc --------------------------------------------------------------

COMMITS_PER_CYCLE = 2
LINK = "link"


def commit_cycle(seed: int, cycle: int, sf: float) -> list[dict]:
    """One cycle of commits off the base store, each with a fresh hub
    customer.  Commit i links every customer of (nation, segment) to its
    hub; from the second commit on it also unlinks the previous hub's
    customers whose balance exceeds a threshold.  After each commit the
    workload runs the commit's WOQL ``reads`` on the new head, then reads
    the link set at the previous commit (time travel) and the diff from
    the base store."""
    rng = random.Random(seed * 1_000_003 + cycle)
    hubs = rng.sample(range(1, 51), COMMITS_PER_CYCLE)
    prefixes = sizes(sf)["customer"] // 100 + 1
    commits = []
    for i, hub in enumerate(hubs):
        commits.append({
            "seq": i + 1,
            "add": (rng.randrange(25), rng.choice(SEGMENTS), hub),
            "del": (hubs[i - 1], float(rng.randrange(0, 9000, 500))) if i else None,
            "reads": [
                ("hub_nations", hub),
                ("segment_cast", rng.choice(SEGMENTS), float(rng.choice((0, 2500, 5000, 7500)))),
                ("name_regex", f"{rng.randrange(prefixes):07d}"),
            ],
        })
    return commits
