"""Registry contract tests + a fast oracle-differential sample.

The exhaustive differential over every query is tools/check_oracle.py (and
the driver's own gate); here we keep pytest fast by checking the contract
shape for all queries and value-equivalence for a representative sample."""

from __future__ import annotations

import math

import pytest

from tests.conftest import SF_DIR


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def test_contract_shape():
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 70
    assert set(oracles) <= set(qs)
    # the vast majority must be oracle-checked (rows-only set stays small)
    assert len(oracles) >= len(qs) - 8


SAMPLE = [
    "expr-stars",
    "agg-pl-stats",
    "agg-quality",
    "join-anti",
    "win-lag",
    "topk-shrink",
    "dedup-minhash",
    "sim-knn-brute",
    "stream-window",
    "text-quality",
]


@pytest.mark.parametrize("qid", SAMPLE)
def test_oracle_sample(spark, duck, qid):
    from itdb_spark.queries import load_all

    q = load_all()[qid]
    sdf = q.spark(spark, SF_DIR)
    sc, sr = normalize([tuple(r) for r in sdf.collect()], sdf.columns)
    res = duck.cursor().execute(q.oracle)
    oc, orr = normalize(res.fetchall(), [d[0] for d in res.description])
    assert sc == oc
    assert sr == orr


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"playlist", "stars", "cnt"}


# Report and search queries whose frames build with no Spark job: every
# source table reads under its declared catalog schema, so building a
# query never runs a footer-inference job.
NO_JOB_CONSTRUCTION = [
    "agg-hist-genre",
    "agg-pl-stats",
    "join-pt",
    "join-setdiff",
    "win-topk-group",
    "emb-cov",
    "mm-pixeldedup",
]


@pytest.mark.parametrize("qid", NO_JOB_CONSTRUCTION)
def test_query_construction_runs_no_spark_job(spark, qid):
    from itdb_spark.queries import load_all
    from tests.conftest import spark_jobs

    df, n_jobs = spark_jobs(spark, lambda: load_all()[qid].spark(spark, SF_DIR))
    assert n_jobs == 0, f"{qid}: building the frame ran {n_jobs} Spark job(s)"
    assert df.columns
