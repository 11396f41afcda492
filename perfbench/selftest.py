"""Self-test of the benchmark's output check: it must accept the true
expectation and reject corrupted ones. Run as

    python3 perfbench/run.py --selftest

It checks one report query against its DuckDB oracle on the benchmark's
own data."""

from __future__ import annotations

import os
import shutil

from runenv import DATA_DIR, prepare_run_dir, stop_session


def main() -> int:
    from check import Oracle, compare
    from itdb_spark.queries import load_all
    from itdb_spark.session import get_spark

    paths = prepare_run_dir("selftest", 0, False)
    spark = get_spark("perfbench_selftest", cpus=len(os.sched_getaffinity(0)))
    registry = load_all()
    failures = []
    try:
        q = registry["agg-hist-genre"]
        df = q.spark(spark, DATA_DIR)
        got = (df.columns, [tuple(r) for r in df.collect()])
        oracle = Oracle(DATA_DIR, os.path.join(paths["run"], "oracle"))
        cols, rows = oracle.expected(q.oracle)
        oracle.close()
        changed = [tuple(v + "0" if i == 0 else v for i, v in enumerate(rows[0])), *rows[1:]]
        cases = {
            "true oracle accepted": compare(got, (cols, rows)) is None,
            "changed value caught": compare(got, (cols, sorted(changed))) is not None,
            "dropped row caught": compare(got, (cols, rows[1:])) is not None,
            "renamed column caught": compare(got, (["x", *cols[1:]], rows)) is not None,
        }
        for name, ok in cases.items():
            print(f"{'ok  ' if ok else 'FAIL'} {name}")
            if not ok:
                failures.append(name)
    finally:
        stop_session(spark)
        shutil.rmtree(paths["run"], ignore_errors=True)
    print("selftest", "passed" if not failures else f"FAILED: {failures}")
    return 1 if failures else 0
