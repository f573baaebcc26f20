#!/usr/bin/env python3
"""TerminusDB-on-Spark benchmark: WOQL reads, path/graph loops, and
commits with CDC.  See ``perfbench/README.md``.

    python3 perfbench/run.py --workload woql_read --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20

Run from the root of a checkout.  The last line of standard output is
one JSON object (``correct``, ``attempted``, ``failed``, ``metrics``);
a summary with every metric goes to standard error.  Everything the run
writes (tables, Spark local dirs, stream state) lives in a work
directory under the checkout that is removed at the end, and a guard
fails the run if any other file of the checkout changed.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import tempfile  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import guard  # noqa: E402

SF = 0.1
SETUPS = 3
DRIVER_MEM = "4g"
WORKLOAD_NAMES = ("woql_read", "path_graph", "commit_cdc")


class TempRedirect:
    """Stands in for the ``tempfile`` module inside the streaming
    layer, whose state dirs are hard-wired to ``dir="/tmp"``: they are
    created under the run's work directory instead, so the run writes
    only inside its checkout and can count what the layer leaves."""

    def __init__(self, root: str):
        self.root = root

    def mkdtemp(self, suffix=None, prefix=None, dir=None):
        return tempfile.mkdtemp(suffix, prefix, self.root)

    def __getattr__(self, name):
        return getattr(tempfile, name)


def prepare_env(work: str) -> None:
    """Point Spark, the JVM and Python at ``work``; must run before
    pyspark starts its JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
            "pyspark-shell",
        ]),
    })
    tempfile.tempdir = tmp
    os.chdir(work)


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return gw.proc.pid if gw is not None and gw.proc is not None else None


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def stop_jvm() -> None:
    """Stop the Spark session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile."""
    ordered = sorted(values)
    return ordered[min(len(ordered) - 1, max(0, int(q * len(ordered) + 0.5) - 1))]


def median_or_zero(values) -> float:
    return statistics.median(values) if values else 0.0


def mean_or_zero(values) -> float:
    return statistics.fmean(values) if values else 0.0


def bench(args, work: str, spec: dict) -> dict:
    import terminus_server_spark.streaming.events as events

    from perfbench import gen, oracle
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    state_dir = os.path.join(work, "state")
    os.makedirs(state_dir)
    events.tempfile = TempRedirect(state_dir)
    data_dir = os.path.join(work, "data")
    gen.make_tables(data_dir, args.sf)

    tr = Tracer(bool(args.trace))
    wl = WORKLOADS[args.workload](data_dir, args.seed, args.sf)
    setups = []
    for i in range(SETUPS):
        if i:
            wl.spark.stop()
        t0 = time.perf_counter()
        wl.setup(tr)
        setups.append(time.perf_counter() - t0)
    pid = jvm_pid()

    samples, pinned, rates, errors = [], [], [], 0
    t0 = time.perf_counter()
    deadline = t0 + args.seconds
    while time.perf_counter() < deadline:
        t_step = time.perf_counter()
        try:
            step = wl.step()
        except Exception:  # an error is a failed operation; the run goes on
            traceback.print_exc()
            errors += 1
            continue
        samples += step
        rates.append(sum(s.category == "read" for s in step) / (time.perf_counter() - t_step))
        if tr.on:
            pinned.append(tr.pinned_rdds())
    window = time.perf_counter() - t0
    t_oracle = time.perf_counter()
    tmp_left = sum(1 for d in os.listdir(state_dir) if d.startswith("tss_"))
    rss = peak_rss_mb(pid)
    failed = oracle.check(args.workload, data_dir, args.seed, args.sf, samples)
    t_oracle = time.perf_counter() - t_oracle
    attempted, n_failed = len(samples) + errors, len(failed) + errors
    reads = [s.latency for s in samples if s.category == "read"]
    commits = [s.latency for s in samples if s.category == "commit"]
    cdc = [s for s in samples if s.category == "cdc"]
    batches = len(cdc) * gen.COMMITS_PER_CYCLE
    e2e = {
        "setup_s": statistics.median(setups),
        "query_p50_s": statistics.median(reads),
        "queries_per_s": statistics.median(rates),
        "jvm_peak_rss_mb": rss,
    }
    summary = {
        **e2e,
        "query_p90_s": quantile(reads, 0.9),
        "reads": len(reads),
        "commit_p50_s": median_or_zero(commits),
        "commit_p90_s": quantile(commits, 0.9) if commits else 0.0,
        "cdc_batch_s": sum(s.latency for s in cdc) / batches if batches else 0.0,
        "failed_frac": n_failed / attempted,
        "setups_s": setups,
        "window_s": window,
        "oracle_s": t_oracle,
    }
    by_kind: dict[str, list[float]] = {}
    for smp in samples:
        by_kind.setdefault(f"{smp.category}:{smp.op[0]}", []).append(smp.latency)
    summary["p50_by_kind"] = {k: statistics.median(v) for k, v in sorted(by_kind.items())}
    if args.workload == "woql_read":
        summary["repeat_share"] = gen.repeat_share([s.op for s in samples])
    for f in failed[:5]:
        print(f"perfbench: wrong answer: {f}", file=sys.stderr)

    if tr.on:
        t, c = tr.times, tr.counts
        n_path = len(t["path.build"]) or 1
        n_graph = len(t["graph.build"]) or 1
        metrics = {
            "sources.open_s": median_or_zero(t["sources.open"]),
            "triples.build_s": median_or_zero(t["triples.build"]),
            "woql.compile_s": median_or_zero(t["woql.compile"]),
            "woql.eager_jobs": mean_or_zero(c["woql.compile.jobs"]),
            "graphql.compile_s": median_or_zero(t["graphql.compile"]),
            "catalyst.plan_s": median_or_zero(t["catalyst.plan"]),
            "exec.action_s": median_or_zero(t["exec.action"]),
            "path.build_s": median_or_zero(t["path.build"]),
            "path.action_s": median_or_zero(t["path.action"]),
            "path.jobs": (sum(c["path.build.jobs"]) + sum(c["path.action.jobs"])) / n_path,
            "graph.build_s": median_or_zero(t["graph.build"]),
            "graph.action_s": median_or_zero(t["graph.action"]),
            "graph.jobs": (sum(c["graph.build.jobs"]) + sum(c["graph.action.jobs"])) / n_graph,
            "checkpoint.pinned_rdds": max(pinned, default=0),
            "spark.jobs_per_op": mean_or_zero([s.jobs for s in samples]),
            "spark.stages_per_op": mean_or_zero([s.stages for s in samples]),
            "spark.tasks_per_op": mean_or_zero([s.tasks for s in samples]),
            "woql.update_s": median_or_zero(t["woql.update"]),
            "layers.apply_delta_s": median_or_zero(t["layers.apply_delta"]),
            "layers.materialize_s": median_or_zero(t["layers.materialize"]),
            "layers.diff_s": median_or_zero(t["layers.diff"]),
            "stream.build_s": median_or_zero(t["stream.build"]),
            "stream.action_s": median_or_zero(t["stream.action"]),
            "stream.jobs_per_batch": sum(c["stream.build.jobs"]) / batches if batches else 0.0,
            "stream.tmp_dirs_left": tmp_left,
            "query_p50_traced_s": e2e["query_p50_s"],
        }
        kind = "per_layer"
        summary.update(metrics)
    else:
        metrics, kind = e2e, "end_to_end"
    print("perfbench: " + json.dumps({"workload": args.workload, "seed": args.seed, **summary}),
          file=sys.stderr)
    return {
        "correct": n_failed == 0,
        "attempted": attempted,
        "failed": n_failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in spec[kind]},
    }


def run_all(args) -> int:
    """Every workload untraced then traced, each in its own process;
    prints one line per run and the tracing overhead per workload."""
    code = 0
    for name in WORKLOAD_NAMES:
        p50 = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace), "--sf", str(args.sf)]
            res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            if res.returncode:
                code = res.returncode
                continue
            out = json.loads(res.stdout.strip().splitlines()[-1])
            m = out["metrics"]
            p50[trace] = m["query_p50_traced_s" if trace else "query_p50_s"]["value"]
            print(json.dumps({"workload": name, "trace": trace, **out}))
        if len(p50) == 2:
            print(json.dumps({"workload": name, "trace_overhead_s": p50[1] - p50[0]}))
    return code


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SF, help="table scale factor")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "terminus_server_spark")):
        print("perfbench: run from a checkout that holds terminus_server_spark/", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    before = guard.snapshot(ROOT)
    work_root = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=work_root)
    cwd = os.getcwd()
    t_start = time.perf_counter()
    try:
        prepare_env(work)
        result = bench(args, work, spec)
    finally:
        stop_jvm()
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(work_root):
            os.rmdir(work_root)
    print(f"perfbench: wall {time.perf_counter() - t_start:.1f} s", file=sys.stderr)
    diff = guard.changes(before, guard.snapshot(ROOT))
    if diff:
        print("perfbench: the run changed the workspace:\n  " + "\n  ".join(diff[:20]),
              file=sys.stderr)
        return 3
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
