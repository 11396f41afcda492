"""Loud guards for the testdata properties queries DEPEND on.

The driver regenerates /root/testdata between rounds. Most schema drift
breaks the oracle differential loudly, but some regressions would pass
SILENTLY — e.g. a renamed source family empties text-decontam's benchmark
set, and an empty Spark result hash-matches an empty oracle result. These
tests pin the assumptions so a regen that invalidates a gate fails pytest
instead of degrading the gate to vacuous-green."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _read(spark, name):
    return spark.read.parquet(f"{SF_DIR}/{name}.parquet")


def test_documents_invariants(spark):
    d = _read(spark, "documents")
    assert {"doc_id", "text", "lang", "source", "n_chars"} <= set(d.columns)
    n = d.count()
    assert n > 0
    assert d.select("doc_id").distinct().count() == n  # unique ids
    # text-decontam benchmarks on src0-2; pipe-mixture groups by source
    srcs = {r.source for r in d.select("source").distinct().collect()}
    assert {"src0", "src1", "src2"} <= srcs, (
        f"text-decontam's benchmark sources missing: {sorted(srcs)[:5]}"
    )
    bad = d.where(
        F.col("text").isNull() | (F.length("text") == 0) | F.col("doc_id").isNull()
    ).count()
    assert bad == 0, "null/empty docs appeared — audit tokens()-vs-oracle parity"
    # derived dedup corpus adds +100000/+200000 — ids must stay below that
    assert d.agg(F.max("doc_id")).first()[0] < 100000


def test_embeddings_invariants(spark):
    e = _read(spark, "embeddings")
    assert {"vec_id", "embedding"} <= set(e.columns)
    dims = e.select(F.size("embedding").alias("d")).distinct().collect()
    assert [r.d for r in dims] == [64], (
        "IVF oracle unrolls dim=64 (_ivf_assign_ctes); embedding dim changed"
    )
    # sim-knn-* use vec_id < 5 as the query set
    assert e.where(F.col("vec_id") < 5).count() == 5
    assert e.select("vec_id").distinct().count() == e.count()
    assert e.where(F.exists("embedding", lambda x: x.isNull())).count() == 0


def test_events_invariants(spark):
    ev = _read(spark, "events")
    assert {"event_id", "ts", "user_id", "event_type", "value", "props"} <= set(
        ev.columns
    )
    types = {r.event_type for r in ev.select("event_type").distinct().collect()}
    assert "error" in types, "join-asof/join-asof2/stream-asof-live key on 'error'"
    assert len(types - {"error"}) >= 1, "as-of queries need non-error events too"
    assert dict(ev.dtypes)["ts"] in ("timestamp", "timestamp_ntz"), (
        "events.ts no longer a timestamp type (raw-long nanos regen?) — "
        "re-audit EVENTS_RAW_SCHEMA and every events read"
    )
    n = ev.count()
    assert n > 0 and ev.select("event_id").distinct().count() == n


def test_star_schema_join_keys(spark):
    """The TPC-H-ish keys the join family rides on: every lineitem order
    exists, every order's customer exists, every nation's region exists."""
    li = _read(spark, "lineitem").select("l_orderkey").distinct()
    o = _read(spark, "orders")
    dangling = li.join(
        o.select(F.col("o_orderkey").alias("l_orderkey")), "l_orderkey", "left_anti"
    ).count()
    assert dangling == 0
    c = _read(spark, "customer")
    dangling_c = (
        o.select(F.col("o_custkey").alias("k"))
        .distinct()
        .join(c.select(F.col("c_custkey").alias("k")), "k", "left_anti")
        .count()
    )
    assert dangling_c == 0
    na = _read(spark, "nation")
    re = _read(spark, "region")
    dangling_r = (
        na.select(F.col("n_regionkey").alias("k"))
        .distinct()
        .join(re.select(F.col("r_regionkey").alias("k")), "k", "left_anti")
        .count()
    )
    assert dangling_r == 0


def test_degenerate_documents_keep_oracle_parity(spark):
    """The empty/whitespace/single-token edge corpus (tools/edge_corpus.py)
    must hash-match Spark vs DuckDB for the queries most sensitive to
    token-count semantics — the ADVICE-r4 failure class (tokens() maps
    empty text to 0 where a naive regexp_split oracle says 1, silently
    shifting every downstream cumsum the day testdata regenerates with
    an empty doc). Full-registry edge sweep: 185/185 (round 5)."""
    import duckdb

    from itdb_spark.catalog import TESTDATA_TABLES
    from itdb_spark.queries import load_all
    from tools.check_oracle import check_one
    from tools.edge_corpus import build_edge_dir

    dst = build_edge_dir("/root/testdata/sf0.001", "/tmp/itdb_spark_edge_test")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{dst}/{t}.parquet')"
        )
    registry = load_all()
    sensitive = [
        "fn-pack", "fn-pack-chunks", "text-tokens", "text-winnow",
        "pipe-mixture", "sim-bm25", "text-langid", "text-repetition",
        # NULL-user events: SQL joins never match NULL keys but window/
        # groupBy treat NULL as a group — and a non-nullable key schema
        # made one NULL-key event KILL the stateful streams (round-5
        # review; all three crashed before the fix).
        "join-nearest", "stream-asof-live",
        # Boundary-value events: negative cents hit Python-floor vs
        # SQL-truncate division (stream-ewma diverged by one milli) and
        # negative 'durations' (fn-time rendered engine-specific
        # garbage until the clamp). Both found by this corpus.
        "stream-ewma-live", "fn-time",
        # Dead (all-zero) embeddings: plain cosine division crashed the
        # job under ANSI mode (fn-embed-norm, sim-maxsim) until the
        # try_divide fix; NULL cosine mirrors DuckDB's x/0.0.
        "fn-embed-norm", "sim-maxsim",
        # Sentinel-bait doc 900011 (VERDICT r7 #5): words containing the
        # BPE merge-encoding sentinels U+0001/U+0002 must be filtered
        # from the training vocabulary identically on both engines.
        "fn-bpe-train", "fn-bpe-roundtrip",
    ]
    failures = []
    for qid in sensitive:
        status, msg = check_one(qid, registry[qid], spark, con, dst)
        if status != "PASS":
            failures.append(msg)
    assert not failures, "\n".join(failures)


def test_money_path_fails_loud_on_nonfinite(spark):
    """The engine's garbage-double posture, pinned: a NaN or ±inf value
    reaching the integer-cents cast fails LOUD on BOTH engines (Spark
    CAST_OVERFLOW, DuckDB Conversion Error) rather than silently
    absorbing corrupted rows — validation belongs at ingest
    (pipe-expectations' events_value_finite check), not as NULL-ification
    inside every money aggregate. If either engine changes behavior this
    test forces the posture to be re-decided, on purpose."""
    import duckdb
    import pytest as _pytest
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(float("nan"),), (float("inf"),)], "v double")
    with _pytest.raises(Exception, match="CAST_OVERFLOW|overflow"):
        df.select(F.round(F.col("v") * 100).cast("long").alias("c")).collect()

    con = duckdb.connect()
    for lit in ("'NaN'", "'inf'"):
        with _pytest.raises(duckdb.ConversionException):
            con.execute(
                f"SELECT CAST(round(CAST({lit} AS DOUBLE) * 100) AS BIGINT)"
            )


def test_all_sf_dirs_below_edge_id_floor():
    """Every id in every driver-generated sf dir stays below the shared
    EDGE_ID_FLOOR (itdb_spark.catalog) — the diagnostic range
    tools/edge_corpus.py plants into. eval-rouge's pairing predicate
    treats ids >= the floor as edge-corpus pairs, so a regen that
    crossed the floor would silently pair unintended real docs
    (round-6 ADVICE). DuckDB scan: cheap enough to sweep ALL sf dirs,
    not just the pytest SF."""
    import glob
    import os

    import duckdb

    from itdb_spark.catalog import EDGE_ID_FLOOR

    id_cols = {"documents": "doc_id", "embeddings": "vec_id", "events": "event_id"}
    con = duckdb.connect()
    checked = 0
    for sf_dir in sorted(glob.glob("/root/testdata/sf*")):
        for table, col in id_cols.items():
            path = os.path.join(sf_dir, f"{table}.parquet")
            if not os.path.exists(path):
                continue
            mx = con.execute(
                f"SELECT max({col}) FROM read_parquet('{path}')"
            ).fetchone()[0]
            assert mx is not None and mx < EDGE_ID_FLOOR, (sf_dir, table, mx)
            checked += 1
    assert checked >= 3, "no testdata found to check"


def test_bpe_sentinel_filter_actually_exercised(spark):
    """VERDICT r7 #5: learn_bpe filters words containing the
    merge-encoding sentinel code points U+0001/U+0002 out of the
    training vocabulary (packing.py) — but until edge doc 900011 no
    corpus row contained a sentinel, so the filter's parity had never
    been exercised adversarially. Prove (a) the edge corpus really
    plants sentinel words, and (b) no learned merge symbol ever
    contains a sentinel character while clean words still merge."""
    from itdb_spark.operators.packing import learn_bpe
    from tools.edge_corpus import build_edge_dir

    dst = build_edge_dir("/root/testdata/sf0.001", "/tmp/itdb_spark_edge_test")
    docs = spark.read.parquet(f"{dst}/documents.parquet")
    poisoned = docs.where(
        F.col("text").contains("\x01") | F.col("text").contains("\x02")
    )
    assert poisoned.count() >= 1  # the bait exists
    merges = learn_bpe(docs, n_merges=8).collect()
    assert merges  # clean words still train
    for r in merges:
        for sym in (r.left_sym, r.right_sym, r.merged):
            assert "\x01" not in sym and "\x02" not in sym, r


def test_stat_degenerate_denominators_null_both_engines(spark):
    """Round-8 ADVICE: agg-mannwhitney (every value one tie group),
    agg-anova (ssw = 0 / singleton-k), and agg-zipf (<2 ranks) divide
    by an exactly-zero denominator on degenerate input; both the Spark
    body and the oracle must emit NULL — identically, so the driver
    hash still matches the day testdata regenerates degenerate. Build
    a micro corpus where all three degenerate at once (every event
    value tied at 1.00, a one-word vocabulary) and run the full
    check_one differential on it."""
    import duckdb

    from itdb_spark.catalog import TESTDATA_TABLES
    from itdb_spark.queries import load_all
    from tools.check_oracle import check_one

    import os

    src = "/root/testdata/sf0.001"
    dst = "/tmp/itdb_spark_degen_test"
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        if t in ("events", "documents"):
            continue
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{src}/{t}.parquet')) "
            f"TO '{dst}/{t}.parquet' (FORMAT PARQUET)"
        )
    # every value tied at 1.00 -> mannwhitney tie correction cancels
    # (n+1) exactly AND anova's within-group variance is exactly 0
    con.execute(
        f"""
        COPY (
          SELECT event_id, ts, user_id,
                 CASE WHEN event_id % 2 = 0 THEN 'view' ELSE 'click' END
                   AS event_type,
                 1.00 AS value, props
          FROM read_parquet('{src}/events.parquet') LIMIT 40
        ) TO '{dst}/events.parquet' (FORMAT PARQUET)
        """
    )
    # one-word vocabulary -> zipf has a single rank (n = 1)
    con.execute(
        f"""
        COPY (
          SELECT CAST(1 AS BIGINT) AS doc_id,
                 'hello hello hello' AS text, 'en' AS lang,
                 'web' AS source, CAST(17 AS BIGINT) AS n_chars
        ) TO '{dst}/documents.parquet' (FORMAT PARQUET)
        """
    )
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{dst}/{t}.parquet')"
        )
    registry = load_all()
    for qid in ("agg-mannwhitney", "agg-anova", "agg-zipf"):
        status, msg = check_one(qid, registry[qid], spark, con, dst)
        assert status == "PASS", msg
        # and the guarded statistic really IS the NULL branch here
        row = registry[qid].spark(spark, dst).collect()[0]
        stat_col = {
            "agg-mannwhitney": "z_mw",
            "agg-anova": "f_stat",
            "agg-zipf": "zipf_slope",
        }[qid]
        assert row[stat_col] is None, (qid, row)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_declared_schemas_match_footers(spark, sf):
    """catalog.TESTDATA_SCHEMAS is what load_table reads under instead of
    inferring from the footer, so it must equal what a default session
    infers — field names, order, types and nullability. The one declared
    difference: events.ts is pinned to TimestampType (EVENTS_RAW_SCHEMA)
    although the footer infers TIMESTAMP_NTZ; every events consumer is
    written against the zoned type, and the pin makes a NANOS regen fail
    loudly instead of shifting timestamps."""
    from pyspark.sql import types as T

    from itdb_spark.catalog import TESTDATA_SCHEMAS

    root = os.path.dirname(SF_DIR)  # the sibling sf dirs
    for t, declared in TESTDATA_SCHEMAS.items():
        inferred = spark.read.parquet(os.path.join(root, sf, f"{t}.parquet")).schema
        if t == "events":
            assert inferred["ts"] == T.StructField("ts", T.TimestampNTZType(), True)
            assert declared["ts"] == T.StructField("ts", T.TimestampType(), True)
            inferred = T.StructType(
                [declared["ts"] if f.name == "ts" else f for f in inferred.fields]
            )
        assert inferred == declared, (sf, t, inferred.simpleString())
