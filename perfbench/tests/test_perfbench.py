"""The benchmark's own tests: seeded generation, the workspace guard,
and end-to-end agreement with the DuckDB answers at sf0.001.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, guard  # noqa: E402

RUN = os.path.join("perfbench", "run.py")


def test_operations_repeat_per_seed_and_differ_across_seeds():
    assert gen.woql_ops(7, 200, 0.1) == gen.woql_ops(7, 200, 0.1)
    assert gen.woql_ops(7, 200, 0.1) != gen.woql_ops(8, 200, 0.1)
    assert gen.path_round(7, 1, 0.1) == gen.path_round(7, 1, 0.1)
    assert gen.path_round(7, 1, 0.1) != gen.path_round(7, 2, 0.1)
    assert gen.commit_cycle(7, 1, 0.1) == gen.commit_cycle(7, 1, 0.1)
    assert gen.commit_cycle(7, 1, 0.1) != gen.commit_cycle(8, 1, 0.1)


def test_woql_ops_keep_the_template_mix_and_repeat_some_constants():
    ops = gen.woql_ops(3, 100, 0.1)
    assert [op[0] for op in ops[:5]] == list(gen.WOQL_KINDS)
    assert 0.0 < gen.repeat_share(ops) < 0.6


def test_commit_cycle_uses_a_fresh_hub_per_commit():
    for seed in range(20):
        plan = gen.commit_cycle(seed, 1, 0.1)
        hubs = [c["add"][2] for c in plan]
        assert len(set(hubs)) == len(hubs)
        assert plan[0]["del"] is None
        assert all(c["del"][0] == hubs[i] for i, c in enumerate(plan[1:]))


def test_tables_do_not_depend_on_the_operation_seed(tmp_path):
    gen.make_tables(str(tmp_path / "a"), 0.001)
    gen.make_tables(str(tmp_path / "b"), 0.001)
    for t in gen.TABLES:
        a = pq.read_table(tmp_path / "a" / f"{t}.parquet")
        b = pq.read_table(tmp_path / "b" / f"{t}.parquet")
        assert a.equals(b)
    assert pq.read_table(tmp_path / "a" / "customer.parquet").num_rows == 150


def test_guard_fires_on_a_planted_change(tmp_path):
    tree = tmp_path / "checkout"
    shutil.copytree(os.path.join(ROOT, "perfbench"), tree / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    before = guard.snapshot(str(tree))
    assert guard.changes(before, guard.snapshot(str(tree))) == []

    (tree / ".perfbench_work").mkdir()
    (tree / ".perfbench_work" / "scratch").write_text("run output")
    (tree / ".git").mkdir()
    (tree / ".git" / "index").write_text("x")
    assert guard.changes(before, guard.snapshot(str(tree))) == []

    (tree / "planted.txt").write_text("x")
    with open(tree / "perfbench" / "gen.py", "a") as f:
        f.write("\n")
    found = guard.changes(before, guard.snapshot(str(tree)))
    assert "added planted.txt" in found
    assert f"changed {os.path.join('perfbench', 'gen.py')}" in found


def _checkout(tmp_path, with_engine: bool):
    tree = tmp_path / "checkout"
    ignore = shutil.ignore_patterns("__pycache__", "tests")
    shutil.copytree(os.path.join(ROOT, "perfbench"), tree / "perfbench", ignore=ignore)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tree)
    if with_engine:
        shutil.copytree(os.path.join(ROOT, "terminus_server_spark"),
                        tree / "terminus_server_spark", ignore=ignore)
    return tree


def _run(tree, *args, timeout=600):
    env = {k: v for k, v in os.environ.items() if not k.startswith(("SPARK_", "PYSPARK_"))}
    return subprocess.run([sys.executable, RUN, *args], cwd=tree, env=env, timeout=timeout,
                          stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)


def test_fails_without_the_engine(tmp_path):
    tree = _checkout(tmp_path, with_engine=False)
    res = _run(tree, "--workload", "woql_read", "--seed", "1", "--seconds", "1", "--trace", "0",
               timeout=60)
    assert res.returncode != 0
    assert not res.stdout.strip()


@pytest.mark.parametrize("workload", ["woql_read", "path_graph", "commit_cdc"])
def test_answers_agree_with_duckdb_at_sf0001(tmp_path, workload):
    tree = _checkout(tmp_path, with_engine=True)
    res = _run(tree, "--workload", workload, "--seed", "5", "--seconds", "2", "--trace", "1",
               "--sf", "0.001")
    assert res.returncode == 0, res.stderr[-3000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, res.stderr[-3000:]
    assert not (tree / ".perfbench_work").exists()
