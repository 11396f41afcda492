"""Where a benchmark run keeps its files, and the lifetime of its Spark
session."""

from __future__ import annotations

import os
import shlex
import shutil
import subprocess
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
RUNS_DIR = os.path.join(HERE, "runs")
ORACLE_CACHE = os.path.join(RUNS_DIR, "oracle")


def prepare_run_dir(workload: str, seed: int, trace: bool) -> dict:
    """Point every working location of the session at the run directory:
    temp files (index roots, fixtures), Spark local dirs, the warehouse,
    Derby and, when tracing, the event log."""
    rundir = os.path.join(RUNS_DIR, f"{workload}-s{seed}-t{int(trace)}")
    shutil.rmtree(rundir, ignore_errors=True)
    paths = {
        name: os.path.join(rundir, name)
        for name in ("tmp", "local", "warehouse", "events", "work")
    }
    for p in paths.values():
        os.makedirs(p)
    paths["run"] = rundir
    os.environ["TMPDIR"] = paths["tmp"]
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = paths["local"]
    conf = {
        "spark.local.dir": paths["local"],
        "spark.sql.warehouse.dir": paths["warehouse"],
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={paths['tmp']} -Dderby.system.home={rundir}"
        ),
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + paths["events"],
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
        + " pyspark-shell"
    )
    return paths


def peak_rss_mb(spark) -> float:
    """VmHWM of this process plus the JVM it launched."""
    pids = [os.getpid()]
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        pids.append(proc.pid)
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched (and, through it, the
    Python workers) to exit: the gateway JVM exits when its stdin closes."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
