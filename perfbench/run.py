#!/usr/bin/env python3
"""Closed-loop benchmark of the itdb_spark engine.

Run from the repository root (the Python workers import ``itdb_spark``
from the working directory, as they do under ``bench.py``):

    python3 perfbench/run.py --workload query --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

One process drives one workload on ``local[<cores>]`` with one call in
flight at a time, over the copy of the sf0.01 test data in
``perfbench/data``. The seed permutes the query order and, for ingest,
sets batch membership and order; the program sees only those inputs.

* ``query``: each query is the registry callable ``q(spark, sf_dir)``
  plus a noop write. Set-up runs every query once, untimed, keeping its
  rows for the output check; then whole passes run until ``--seconds``
  have elapsed, and the run reports the median pass.
* ``ingest``: batches of the ``doc_id % 5 == 4`` slice are probed
  against and appended to the persisted containment and band indexes,
  with the compaction policy run after every append (``ingest.py``).

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``: the ``end_to_end`` metrics of
``BENCHMARK.json`` with ``--trace 0``, its ``per_layer`` metrics with
``--trace 1``. A traced run also writes ``spans.jsonl`` into its run
directory under ``perfbench/runs`` and compares itself with the
untraced runs of the workload found there (tracing overhead). Any run
with the tracer on also lists the ops whose timed calls cover less than
90% of the op's own wall.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

from runenv import (
    DATA_DIR,
    HERE,
    ORACLE_CACHE,
    ROOT,
    RUNS_DIR,
    peak_rss_mb,
    prepare_run_dir,
    stop_session,
)

def _process_age() -> float:
    """Seconds since this process was started by the kernel."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# perf_counter reading at process start: setup_s is measured from here
T_PROCESS = time.perf_counter() - _process_age()

# The read path: itdb reports (planning- and launch-bound), curation
# (eager jobs inside construction) and search (Arrow/pandas UDF
# boundaries in the final plan), one closed loop.
# None has a deploy twin (``bench_spark``), so the timed path is the
# graded one and every output is checked against its DuckDB oracle.
QUERIES = (
    # reports: grouped star histograms, joins, anti-join reconciliation, top-k
    "agg-hist-genre", "agg-pl-stats", "join-pt", "join-setdiff", "win-topk-group",
    # curation: containment dedup runs its jobs while the frame is built
    "dedup-contain-exact",
    # search: vector covariance and image dedup through Arrow UDFs
    "emb-cov", "mm-pixeldedup",
)
WORKLOADS = ("query", "ingest")


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --- query workloads ---------------------------------------------------------


def run_queries(spark, registry, tracer, seed, seconds, failures):
    from check import Oracle, compare

    order = list(QUERIES)
    random.Random(seed).shuffle(order)
    attempted = 0

    # set-up: one untimed pass that collects each query's rows for the
    # output check and pays JIT, Python-worker spawn and first-use costs
    t_warm = time.perf_counter()
    outputs: dict[str, tuple[list[str], list[tuple]]] = {}
    for qid in order:
        spark.catalog.clearCache()
        attempted += 1
        try:
            with tracer.op(qid), tracer.call(qid, "setup"):
                df = registry[qid].spark(spark, DATA_DIR)
                outputs[qid] = (df.columns, [tuple(r) for r in df.collect()])
        except Exception:
            failures.append((qid, "raised in set-up:\n" + traceback.format_exc()))
    warmup_s = time.perf_counter() - t_warm

    # timed passes: construct + noop write per query, whole passes until
    # `seconds` have elapsed. Each sample also keeps the wall of the whole
    # op (cache clear and tracer included) for the coverage check.
    samples: dict[str, list[tuple[float, float, float]]] = {qid: [] for qid in order}
    passes: list[float] = []
    t_first = time.perf_counter()
    while not passes or time.perf_counter() - t_first < seconds:
        p0 = time.perf_counter()
        for qid in order:
            attempted += 1
            o = time.perf_counter()
            try:
                spark.catalog.clearCache()
                with tracer.op(qid):
                    with tracer.call(qid, "construct", timed=True):
                        a = time.perf_counter()
                        df = registry[qid].spark(spark, DATA_DIR)
                        b = time.perf_counter()
                    with tracer.call(qid, "action", timed=True):
                        noop_write(df)
                        c = time.perf_counter()
                samples[qid].append((b - a, c - b, time.perf_counter() - o))
            except Exception:
                failures.append((qid, "raised:\n" + traceback.format_exc()))
        passes.append(time.perf_counter() - p0)
    spark.catalog.clearCache()

    # output check (untimed) against the DuckDB oracle
    oracle = Oracle(DATA_DIR, ORACLE_CACHE)
    for qid, got in outputs.items():
        attempted += 1
        try:
            reason = compare(got, oracle.expected(registry[qid].oracle))
        except Exception:
            reason = "check raised:\n" + traceback.format_exc()
        if reason:
            failures.append((qid, reason))
    oracle.close()

    walls = [c + a for s in samples.values() for c, a, _ in s]
    return {
        "first_timed": t_first,
        "attempted": attempted,
        "wall_s": statistics.median(passes),
        "ops": walls,
        "passes": len(passes),
        "per_op": {qid: [c + a for c, a, _ in s] for qid, s in samples.items()},
        "op_walls": {qid: [w for _, _, w in s] for qid, s in samples.items()},
        "layers": {
            "queries.warmup_s": warmup_s,
            "queries.construct_s": sum(c for s in samples.values() for c, _, _ in s) / len(passes),
            "queries.action_s": sum(a for s in samples.values() for _, a, _ in s) / len(passes),
        },
    }


# --- entry point -------------------------------------------------------------


def declared_metrics() -> dict[str, dict[str, str]]:
    """Metric name -> unit, for the end-to-end and per-layer lists of
    BENCHMARK.json: the run prints exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {kind: {m["name"]: m["unit"] for m in spec[kind]}
            for kind in ("end_to_end", "per_layer")}


def untraced_wall(workload: str) -> tuple[float, int] | None:
    """Median ``wall_s`` over the untraced runs of the workload left in
    this checkout, and their count: one run against another is dominated
    by host drift."""
    walls = []
    for path in glob.glob(os.path.join(RUNS_DIR, f"{workload}-s*-t0", "result.json")):
        with open(path) as f:
            walls.append(json.load(f)["wall_s"])
    return (statistics.median(walls), len(walls)) if walls else None


def coverage_report(workload: str, res: dict) -> list[str]:
    """Tracing overhead against the untraced runs, and per-op coverage
    within this run: the timed calls of an op (construct + action, or a
    trigger's probe, accept and compaction calls) must sum to within 10%
    of the wall of the whole op around them."""
    ref = untraced_wall(workload)
    if ref is None:
        lines = [f"{workload}: no untraced run in this checkout; overhead not computed"]
    else:
        lines = [
            f"{workload}: tracing overhead {res['wall_s'] - ref[0]:+.3f} s "
            f"(traced wall_s {res['wall_s']:.3f} - median untraced {ref[0]:.3f} "
            f"of {ref[1]} run(s))"
        ]
    misses = []
    for op, walls in res["per_op"].items():
        covered, whole = sum(walls), sum(res["op_walls"][op])
        if whole and covered < 0.9 * whole:
            misses.append(f"{op} {covered:.3f}/{whole:.3f}")
    lines.append(
        f"{workload}: coverage misses (timed calls < 90% of op wall): "
        + (", ".join(misses) if misses else "none")
    )
    return lines


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="show that the output checks catch corrupted expectations")
    args = ap.parse_args(argv)
    if args.workload is None and not args.selftest:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ROOT, "itdb_spark")):
        print(f"itdb_spark not found beside {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.selftest:
        from selftest import main as selftest_main

        return selftest_main()

    trace = bool(args.trace)
    paths = prepare_run_dir(args.workload, args.seed, trace)

    from itdb_spark.queries import load_all
    from itdb_spark.session import get_spark
    from spans import Tracer, attach_spark, layer_metrics, parse_event_log

    cores = len(os.sched_getaffinity(0))
    t = time.perf_counter()
    spark = get_spark(f"perfbench_{args.workload}", cpus=cores)
    session_s = time.perf_counter() - t
    t = time.perf_counter()
    registry = load_all()
    load_all_s = time.perf_counter() - t

    tracer = Tracer(spark.sparkContext, args.workload, trace)
    failures: list[tuple[str, str]] = []
    try:
        if args.workload == "ingest":
            from ingest import run_ingest

            res = run_ingest(spark, registry, tracer, DATA_DIR, ORACLE_CACHE, args.seed,
                             paths, failures)
        else:
            res = run_queries(spark, registry, tracer, args.seed, args.seconds, failures)
        rss = peak_rss_mb(spark)
    finally:
        tracer.finish()
        stop_session(spark)

    metrics = {
        "setup_s": res["first_timed"] - T_PROCESS,
        "wall_s": res["wall_s"],
        "op_p50_s": statistics.median(res["ops"]),
    }
    declared = declared_metrics()
    lines = []
    if trace:
        log = parse_event_log(paths["events"])
        unattributed = attach_spark(tracer, log)
        values = {
            **{k: 0.0 for k in declared["per_layer"]},  # layers the workload bypasses
            "session.start_s": session_s,
            "session.peak_rss_mb": rss,
            "queries.load_all_s": load_all_s,
            **res["layers"],
            **layer_metrics(tracer, log, res["passes"]),
            "trace.unattributed_jobs": unattributed,
            "trace.wall_s": res["wall_s"],
        }
        tracer.write(os.path.join(paths["run"], "spans.jsonl"),
                     f"{args.workload}-s{args.seed}-{os.getpid()}")
        lines += coverage_report(args.workload, res)
        units = declared["per_layer"]
    else:
        values, units = metrics, declared["end_to_end"]
    out_metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}

    # keep the result and spans, drop the working files
    for name in ("tmp", "local", "warehouse", "events", "work"):
        shutil.rmtree(paths[name], ignore_errors=True)
    attempted = res["attempted"]
    failed = len(failures)
    with open(os.path.join(paths["run"], "result.json"), "w") as f:
        json.dump({"seed": args.seed, "cores": cores, **metrics, "peak_rss_mb": rss,
                   "per_op": res["per_op"], "failures": failures}, f)

    for op, reason in failures:
        print(f"FAILED {args.workload}:{op}: {reason}", file=sys.stderr)
    lines.append(
        f"{args.workload}: seed {args.seed}, local[{cores}], {res['passes']} timed pass(es), "
        f"failed_frac {failed}/{attempted} = {failed / attempted:.4f}"
    )
    for line in lines:
        print(line)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out_metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
