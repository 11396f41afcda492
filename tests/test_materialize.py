"""Materialization-layer tests: CSV staging round-trip (snk-csv with the
reference's bool→'1'/'0' encode), parquet-materialized derived tables
(inc-cache), and re-aggregation equivalence from disk."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_csv_staging_roundtrip(spark, tmp_path, tracks):
    """snk-csv (itdbloader.py:152-169): booleans staged as 1/0, nulls as
    empty — write then reload reproduces the source columns."""
    staged = tracks.select(
        "User_ID",
        "Track_ID",
        "Name",
        F.col("Compilation").cast("int").alias("Compilation"),  # bool → 1/0
        "Rating",
    )
    out = str(tmp_path / "staging")
    staged.write.mode("overwrite").option("header", True).csv(out)
    back = spark.read.option("header", True).csv(out)
    assert back.count() == tracks.count()
    reloaded = back.select(
        F.col("User_ID").cast("int"),
        F.col("Track_ID").cast("int"),
        "Name",
        F.col("Compilation").cast("int").cast("boolean").alias("Compilation"),
        F.col("Rating").cast("int"),
    )
    src = {(r.User_ID, r.Track_ID): (r.Name, r.Compilation, r.Rating)
           for r in tracks.select("User_ID", "Track_ID", "Name", "Compilation", "Rating").collect()}
    dst = {(r.User_ID, r.Track_ID): (r.Name, r.Compilation, r.Rating)
           for r in reloaded.collect()}
    assert src == dst


def test_materialized_stats_from_disk(spark, tmp_path, tracks, playlist_tracks):
    """inc-cache: playlist_stats persisted as parquet; re-aggregation from
    the materialized table ≡ recomputation (itdb2html.py:478-493)."""
    from itdb_spark.plans import playlist_stats, restat

    stats = playlist_stats(tracks, playlist_tracks)
    out = str(tmp_path / "playlist_stats")
    stats.write.mode("overwrite").parquet(out)

    from_disk = restat(spark.read.parquet(out))
    recomputed = restat(playlist_stats(tracks, playlist_tracks))
    assert {(r.Stars, r.Total) for r in from_disk.collect()} == {
        (r.Stars, r.Total) for r in recomputed.collect()
    }


def test_overwrite_idempotence(spark, tmp_path, tracks, playlist_tracks):
    """snk-delete/snk-replace: overwrite of a recomputed table is
    idempotent — write twice, same content (itdbloader.py:139-144)."""
    from itdb_spark.plans import playlist_stats

    out = str(tmp_path / "stats2")
    for _ in range(2):
        playlist_stats(tracks, playlist_tracks).write.mode("overwrite").parquet(out)
    again = spark.read.parquet(out)
    assert again.count() == playlist_stats(tracks, playlist_tracks).count()


def test_materialized_releases_caches(spark):
    """materialized(): result stays correct after the caches it consumed
    are unpersisted, and the CacheManager ends empty."""
    from pyspark.sql import functions as F

    from itdb_spark.plans.library import materialized

    spark.catalog.clearCache()  # isolate from other tests' caches
    base = spark.range(1000).select(F.col("id"), (F.col("id") % 7).alias("k")).cache()
    agg = base.groupBy("k").agg(F.count("*").alias("cnt"))
    out = materialized(agg, base)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert {(r.k, r.cnt) for r in out.collect()} == {
        (i, 143 if i < 6 else 142) for i in range(7)
    }


def test_materialized_releases_caches_when_checkpoint_fails(spark):
    """A checkpoint that fails at execution still unpersists the caches
    handed to materialized(): a long-lived session must not keep them
    pinned after the error."""
    import pytest

    from itdb_spark.plans.library import materialized

    base = spark.range(100).select((F.col("id") + 1000).alias("v")).cache()
    base.count()
    bad = base.select(
        F.when(F.col("v") > 1050, F.raise_error(F.lit("boom"))).otherwise(F.col("v")).alias("v")
    )
    assert base.is_cached
    with pytest.raises(Exception, match="boom"):
        materialized(bad, base)
    assert not base.is_cached


def test_schema_evolution_read_postures(spark, tmp_path):
    """A 100 TB lake accretes files written under EVOLVING schemas (a
    column added mid-year). Two read postures, both pinned here:
    (1) mergeSchema=true unions the per-file schemas — old files
    backfill the new column with NULLs (footer-merge cost is per-file,
    pay it in exploratory reads); (2) the production posture this repo
    uses everywhere (catalog.py's pinned reader schemas): an EXPLICIT
    schema makes the read stable regardless of which files carry the
    column — new columns simply don't exist until the pinned schema
    says so, and a missing column reads as NULL rather than failing."""
    from pyspark.sql import types as T

    old = spark.createDataFrame([(1, "a")], "id long, name string")
    new = spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    )
    old.write.parquet(str(tmp_path / "d" / "f1.parquet"))
    new.write.parquet(str(tmp_path / "d" / "f2.parquet"))

    merged = spark.read.option("mergeSchema", "true").parquet(
        str(tmp_path / "d" / "*")
    )
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r.id: (r.name, r.score) for r in merged.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}

    pinned = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    stable = spark.read.schema(pinned).parquet(str(tmp_path / "d" / "*"))
    rows = {r.id: (r.name, r.score) for r in stable.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}
    # and pinning the OLD schema over new files is equally stable: the
    # added column is invisible, nothing fails
    old_pin = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
    )
    back = spark.read.schema(old_pin).parquet(str(tmp_path / "d" / "*"))
    assert {tuple(r) for r in back.collect()} == {(1, "a"), (2, "b")}
