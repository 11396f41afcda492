"""Sink tests: HTML report render+cache, JXA codegen, JDBC gating,
ffprobe fan-out plumbing."""

from __future__ import annotations

import json


def test_html_render_and_cache(spark, tmp_path):
    from itdb_spark.sinks.html import clear_cache, write_cached_page

    df = spark.createDataFrame(
        [("Rock", 3, 120), ("Jazz & Blues", 5, 40)], "Genre string, Stars int, Count long"
    )
    path = str(tmp_path / "stats.html")
    p1, hit1 = write_cached_page(df, "Ratings <Stats>", path)
    assert not hit1
    content = open(p1).read()
    assert "Jazz &amp; Blues" in content  # escaped
    assert 'sortvalue="120"' in content  # tablesort.js attribute
    assert "Ratings &lt;Stats&gt;" in content
    _, hit2 = write_cached_page(df, "Ratings <Stats>", path)
    assert hit2  # cache probe (itdb2html.py:612-625)
    assert clear_cache(str(tmp_path)) == 1
    _, hit3 = write_cached_page(df, "Ratings <Stats>", path)
    assert not hit3  # invalidated


def test_jxa_codegen(spark):
    from itdb_spark.sinks.jxa import render_jxa

    df = spark.createDataFrame(
        [("AAAA", 2), ("BBBB", 1)], "Persistent_ID string, seq int"
    )
    script = render_jxa(df, 'My "Best" List', order_col="seq")
    assert json.dumps('My "Best" List') in script
    # order honored: BBBB (seq 1) before AAAA
    assert script.index('"BBBB"') < script.index('"AAAA"')
    assert "persistentID" in script


def test_jdbc_gating_and_canonicalize(spark):
    from itdb_spark.sinks.jdbc import canonicalize_for_load, jdbc_available

    assert jdbc_available(spark, "com.mysql.cj.jdbc.Driver") is False  # no jar here
    df = spark.createDataFrame(
        [(1, 1, "a"), (1, 1, "a"), (1, 2, "b")], "u int, t int, v string"
    )
    out = canonicalize_for_load(df, ["u", "t"])
    assert out.count() == 2


def test_ffprobe_fanout(spark):
    from itdb_spark.sources.ffprobe import explode_streams, probe_files, stub_probe

    files = spark.createDataFrame(
        [("P1", "/media/a.m4v"), ("P2", "/media/b.m4v")], "Persistent_ID string, path string"
    )
    probed = probe_files(files, prober=stub_probe)
    rows = {r.Persistent_ID: r for r in probed.collect()}
    assert rows["P1"].error is None
    assert json.loads(rows["P1"].ffprobe)["streams"][0]["codec_type"] == "video"
    streams = explode_streams(probed)
    srows = streams.collect()
    assert len(srows) == 2
    heights = {r.Persistent_ID: json.loads(r.stream)["height"] for r in srows}
    assert set(heights) == {"P1", "P2"}
    assert all(h in (480, 720, 1080) for h in heights.values())

    # error capture: a prober that throws must land an error row, not fail
    def bad(path, timeout_s=30):
        raise RuntimeError("boom")

    errs = probe_files(files, prober=bad).collect()
    assert all(r.ffprobe is None and "boom" in r.error for r in errs)


def test_incremental_recompute_skip(spark):
    """inc-mtime-row (dupes/dedup.py:115-131): join new scan vs previous
    snapshot on (path, mtime); recompute only changed/new files."""
    from datetime import datetime

    prev = spark.createDataFrame(
        [("/a", datetime(2024, 1, 1), "ck_a"), ("/b", datetime(2024, 1, 2), "ck_b")],
        "path string, mtime timestamp, checksum string",
    )
    scan = spark.createDataFrame(
        [("/a", datetime(2024, 1, 1)), ("/b", datetime(2024, 2, 2)), ("/c", datetime(2024, 3, 3))],
        "path string, mtime timestamp",
    )
    unchanged = scan.join(prev, ["path", "mtime"], "inner")
    changed = scan.join(prev, ["path", "mtime"], "left_anti")
    assert {r.path for r in unchanged.collect()} == {"/a"}
    assert {r.path for r in changed.collect()} == {"/b", "/c"}


def test_compact_parquet_rewrites_small_files(spark, tmp_path):
    """compact_parquet: a directory fragmented into ~200 tiny files
    collapses to the size-derived target count with exact row parity;
    the staging-then-rename protocol leaves no droppings; and a
    too-large target still yields at least one file."""
    import os

    from itdb_spark.sinks.compact import compact_parquet, parquet_file_stats

    p = str(tmp_path / "frag")
    spark.range(0, 10_000).selectExpr(
        "id", "CAST(id % 97 AS STRING) AS v"
    ).repartition(200).write.parquet(p)
    n0, b0 = parquet_file_stats(p)
    assert n0 == 200
    # pick a target that lands at 4 files for this measured size
    stats = compact_parquet(spark, p, target_bytes=(b0 + 3) // 4)
    assert stats["files_before"] == 200
    assert stats["rows"] == 10_000
    assert 1 <= stats["files_after"] <= 5
    assert spark.read.parquet(p).count() == 10_000
    # no staging/backup leftovers
    assert not os.path.exists(p + ".__compact__")
    assert not os.path.exists(p + ".__old__")
    # degenerate target: everything in one file
    stats2 = compact_parquet(spark, p, target_bytes=10**12)
    assert stats2["files_after"] == 1


def test_compact_parquet_crash_recovery_and_refusals(spark, tmp_path):
    """compact_parquet round-8 ADVICE hardening: (a) a leftover
    ``.__old__`` with no live table (crash between the swap renames)
    rolls back to the original data at entry; (b) stale staging/backup
    dirs beside a live table are cleaned, not tripped over; (c) a
    partitioned (nested) dataset is refused instead of silently
    flattened; (d) a corrupted rewrite is caught by the content
    checksum even when row counts match."""
    import os
    import shutil

    import pytest

    from itdb_spark.sinks import compact as C

    p = str(tmp_path / "t")
    spark.range(0, 1_000).selectExpr("id", "id % 7 AS g").write.parquet(p)

    # (a) crash between renames: path gone, backup holds the original
    os.rename(p, p + ".__old__")
    stats = C.compact_parquet(spark, p, target_bytes=10**12)
    assert stats["rows"] == 1_000
    assert spark.read.parquet(p).count() == 1_000
    assert not os.path.exists(p + ".__old__")

    # (b) stale droppings beside a LIVE table: cleaned at entry
    os.makedirs(p + ".__compact__")
    os.makedirs(p + ".__old__")
    stats = C.compact_parquet(spark, p, target_bytes=10**12)
    assert stats["rows"] == 1_000
    assert not os.path.exists(p + ".__compact__")
    assert not os.path.exists(p + ".__old__")

    # (c) partitioned layout: refuse, do not flatten
    part = str(tmp_path / "part")
    spark.range(0, 100).selectExpr("id", "id % 3 AS k").write.partitionBy(
        "k"
    ).parquet(part)
    with pytest.raises(ValueError, match="flat-parquet"):
        C.compact_parquet(spark, part, target_bytes=10**12)

    # (d) checksum catches same-count corruption: monkeypatch the
    # staging write to emit the right row COUNT but different values
    real_checksum = C._content_checksum
    calls = {"n": 0}

    def tampering_checksum(sp, path):
        n, ck = real_checksum(sp, path)
        calls["n"] += 1
        if path.endswith(".__compact__"):
            # simulate a rewrite that lost/garbled values
            shutil.rmtree(path)
            sp.range(0, n).selectExpr(
                "id + 500000 AS id", "CAST(0 AS BIGINT) AS g"
            ).write.parquet(path)
            return real_checksum(sp, path)
        return n, ck

    C._content_checksum = tampering_checksum
    try:
        with pytest.raises(RuntimeError, match="parity mismatch"):
            C.compact_parquet(spark, p, target_bytes=10**12)
    finally:
        C._content_checksum = real_checksum
    # the original table survived the refused swap
    assert spark.read.parquet(p).count() == 1_000
    assert not os.path.exists(p + ".__compact__")


def test_compact_parquet_sorted_layout_prunes(spark, tmp_path):
    """compact_parquet(sort_by=...): the layout-preserving mode must
    (a) pass the same parity gates, (b) produce files owning DISJOINT
    key ranges (the property that makes parquet min/max footer stats
    prune point scans to ~one file), and (c) actually prune: a point
    lookup on the compacted table reads fewer files than it owns."""
    import os

    import pyarrow.parquet as pq

    from itdb_spark.sinks.compact import compact_parquet, parquet_file_stats
    from pyspark.sql import functions as F

    p = str(tmp_path / "sorted")
    # write deliberately key-shuffled fragments
    spark.range(0, 20_000).selectExpr(
        "CAST(id * 2654435761 % 20000 AS BIGINT) AS k", "id AS v"
    ).repartition(50).write.parquet(p)
    n0, b0 = parquet_file_stats(p)
    assert n0 == 50
    stats = compact_parquet(spark, p, target_bytes=(b0 + 3) // 4, sort_by="k")
    assert stats["rows"] == 20_000
    assert 2 <= stats["files_after"] <= 5
    # disjoint per-file key ranges via the parquet footers
    ranges = []
    for f in os.listdir(p):
        if f.endswith(".parquet"):
            md = pq.ParquetFile(os.path.join(p, f)).metadata
            ki = next(
                i for i in range(md.num_columns)
                if md.schema.column(i).name == "k"
            )
            mins = [md.row_group(g).column(ki).statistics.min
                    for g in range(md.num_row_groups)]
            maxs = [md.row_group(g).column(ki).statistics.max
                    for g in range(md.num_row_groups)]
            ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, (ranges,)
    # point scan touches ~one file
    hit = (
        spark.read.parquet(p)
        .where(F.col("k") == 12345)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .count()
    )
    assert hit <= 1


def test_versioned_table_atomic_pointer(spark, tmp_path):
    """sinks/versioned.py — the manifest-pointer kernel that closes
    compact_parquet's documented crash window: (a) publish is atomic
    (a crash BEFORE publish leaves the old version fully live and an
    orphan dir; simulated), (b) a pinned reader survives a concurrent
    publish (snapshot isolation the rename-swap cannot give),
    (c) compact_version passes the same parity gates and never touches
    the old version, (d) a corrupted rewrite rolls the pointer back,
    (e) vacuum keeps the published version and sweeps orphans."""
    import os

    import pytest

    from itdb_spark.sinks import versioned as V

    root = str(tmp_path / "vt")
    df1 = spark.range(0, 5_000).selectExpr("id", "id % 11 AS g")
    v1 = V.write_version(df1.repartition(40), root)
    assert v1 == "v1" and V.current_version(root) == "v1"
    assert V.read_current(spark, root).count() == 5_000

    # (b) pin a reader to v1, publish v2, reader still sees v1's data
    pinned = V.read_current(spark, root)
    v2 = V.write_version(
        spark.range(0, 100).selectExpr("id", "id % 11 AS g"), root
    )
    assert v2 == "v2" and V.current_version(root) == "v2"
    assert pinned.count() == 5_000  # immutable version dir untouched
    assert V.read_current(spark, root).count() == 100

    # (a) crashed writer: orphan dir, manifest untouched -> table live;
    # the next writer skips the orphan's name
    os.makedirs(os.path.join(root, "v3"))
    assert V.current_version(root) == "v2"
    assert V.read_current(spark, root).count() == 100
    v4 = V.write_version(df1, root)
    assert v4 == "v4" and V.read_current(spark, root).count() == 5_000

    # (c) compaction: new version, old one intact, fragmented -> few
    stats = V.compact_version(spark, root, target_bytes=10**12)
    assert stats["rows"] == 5_000 and stats["files_after"] == 1
    assert stats["version"] == "v5"
    assert spark.read.parquet(os.path.join(root, "v4")).count() == 5_000

    # (d) corrupted rewrite: pointer rolls back, bad version dropped
    real = V._content_checksum

    def tamper(sp, path):
        n, ck = real(sp, path)
        if "/v6" in path:
            return n, "corrupted"
        return n, ck

    V._content_checksum = tamper
    try:
        with pytest.raises(RuntimeError, match="parity mismatch"):
            V.compact_version(spark, root, target_bytes=10**12)
    finally:
        V._content_checksum = real
    assert V.current_version(root) == "v5"
    assert not os.path.exists(os.path.join(root, "v6"))
    assert V.read_current(spark, root).count() == 5_000

    # (e) vacuum: sweeps old + orphans, never the published version
    removed = V.vacuum(root, keep=1, min_age_s=0)
    assert V.current_version(root) == "v5"
    assert V.read_current(spark, root).count() == 5_000
    assert "v5" not in removed and "v3" in removed

    # (f) a version dir NEWER than the published pointer is a crashed
    # writer's orphan (data written, pointer never swapped) — vacuum
    # must sweep it even though it is never in the [:-keep] slice
    # (round-9 ADVICE), and must not touch the published version
    os.makedirs(os.path.join(root, "v9", "part"), exist_ok=True)
    removed = V.vacuum(root, keep=1, min_age_s=0)
    assert "v9" in removed
    assert not os.path.exists(os.path.join(root, "v9"))
    assert V.current_version(root) == "v5"
    assert V.read_current(spark, root).count() == 5_000

    # (g) lost/corrupted manifest + surviving version dirs: vacuum must
    # REFUSE (round-10 ADVICE — cur_n=-1 classified every dir as an
    # orphan, turning a lost pointer into total data deletion) and must
    # delete nothing before raising
    manifest = V._manifest_path(root)
    assert os.path.exists(manifest)  # pin the layout this test assumes
    saved = open(manifest).read()
    os.remove(manifest)
    with pytest.raises(RuntimeError, match="refusing to vacuum"):
        V.vacuum(root, keep=1, min_age_s=0)
    assert os.path.exists(os.path.join(root, "v5"))  # nothing swept
    with open(manifest, "w") as fh:
        fh.write(saved)
    assert V.read_current(spark, root).count() == 5_000


def test_versioned_table_schema_gate(spark, tmp_path):
    """write_version's compatibility gate: adding a column publishes
    fine (pinned readers unaffected), dropping or retyping one is
    refused BEFORE any data is written, and enforce_schema=False is
    the explicit override."""
    import pytest

    from itdb_spark.sinks import versioned as V

    root = str(tmp_path / "vt2")
    V.write_version(spark.range(0, 10).selectExpr("id", "id % 3 AS g"), root)
    # addition: ok
    V.write_version(
        spark.range(0, 10).selectExpr("id", "id % 3 AS g", "'x' AS extra"),
        root,
    )
    assert V.current_version(root) == "v2"
    # drop: refused, nothing published or written
    with pytest.raises(ValueError, match="dropped=\\['extra'\\]"):
        V.write_version(
            spark.range(0, 10).selectExpr("id", "id % 3 AS g"), root
        )
    # retype: refused
    with pytest.raises(ValueError, match="retyped=\\['g'\\]"):
        V.write_version(
            spark.range(0, 10).selectExpr(
                "id", "CAST(id % 3 AS STRING) AS g", "'x' AS extra"
            ),
            root,
        )
    assert V.current_version(root) == "v2"
    import os

    assert not os.path.exists(os.path.join(root, "v3"))
    # explicit break
    V.write_version(
        spark.range(0, 10).selectExpr("id"), root, enforce_schema=False
    )
    assert V.current_version(root) == "v3"


def _kv_chain(spark, root, n_links):
    """A versioned (k long, v string) table: a 100-row base plus
    ``n_links - 1`` appended 10-row deltas."""
    from itdb_spark.sinks import versioned as V

    V.write_version(spark.range(100).selectExpr("id AS k", "cast(id AS string) AS v"), root)
    for i in range(1, n_links):
        V.append_version(
            spark.range(100 * i, 100 * i + 10).selectExpr(
                "id AS k", "cast(id AS string) AS v"
            ),
            root,
        )


def test_compact_version_refuses_append_chain(spark, tmp_path):
    """compact_version rewrites the head dir alone; on an append chain
    that would publish the newest delta as the whole table (v1's 100
    rows + v2's 10 → 10). It must refuse and name compact_chain, and
    leave the table untouched."""
    import os

    import pytest

    from itdb_spark.sinks import versioned as V

    root = str(tmp_path / "chain")
    _kv_chain(spark, root, 2)
    with pytest.raises(ValueError, match="compact_chain"):
        V.compact_version(spark, root, target_bytes=10**12)
    assert V.chain_versions(root) == ["v2", "v1"]
    assert not os.path.exists(os.path.join(root, "v3"))
    assert V.read_current_chain(spark, root).count() == 110


def test_compact_chain_rejects_bad_fold(spark, tmp_path, monkeypatch):
    """A fold whose rewrite keeps the row count but changes content must
    fail the parity gate: RuntimeError, manifest still on the old head,
    the bad version dir removed, and the chain reading as before."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from itdb_spark.sinks import versioned as V

    root = str(tmp_path / "chain")
    _kv_chain(spark, root, 3)
    before = sorted(tuple(r) for r in V.read_current_chain(spark, root).collect())
    real_write = V.write_version

    def corrupting_write(df, root, **kw):
        return real_write(df.withColumn("v", F.concat("v", F.lit("!"))), root, **kw)

    monkeypatch.setattr(V, "write_version", corrupting_write)
    with pytest.raises(RuntimeError, match="chain compaction parity mismatch"):
        V.compact_chain(spark, root)
    assert V.current_version(root) == "v3"
    assert not os.path.exists(os.path.join(root, "v4"))
    assert V.chain_versions(root) == ["v3", "v2", "v1"]
    assert sorted(tuple(r) for r in V.read_current_chain(spark, root).collect()) == before


def test_compact_chain_job_count_independent_of_chain_length(spark, tmp_path):
    """The fold's parity check is one aggregate over the whole chain and
    the rewrite, so folding a 6-link chain starts no more Spark jobs than
    folding a 2-link one."""
    from itdb_spark.sinks import versioned as V
    from tests.conftest import spark_jobs

    jobs = {}
    for n_links in (2, 6):
        root = str(tmp_path / f"chain{n_links}")
        _kv_chain(spark, root, n_links)
        stats, jobs[n_links] = spark_jobs(spark, lambda: V.compact_chain(spark, root))
        assert stats["rows"] == 100 + 10 * (n_links - 1)
        assert V.read_current_chain(spark, root).count() == stats["rows"]
    assert jobs[2] == jobs[6], jobs
