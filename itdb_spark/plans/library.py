"""The reference's end-to-end derived tables, itdb-shaped: one lazy DAG per
output instead of N+1 SQL strings (SURVEY.md §3.1). These run over the
fixture tables (itdb_spark.fixtures) or any DataFrames with the catalog
schemas — e.g. the plist ingest output."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from itdb_spark.functions.core import stars
from itdb_spark.sources.fswalk import normalize_path


def playlist_stats(tracks: DataFrame, playlist_tracks: DataFrame) -> DataFrame:
    """Materialized per-playlist star histogram — the reference's N+1 loop
    (one join+GROUP BY per playlist, itdbloader.py:260-293) collapsed into
    ONE join + ONE shuffle. Stored shape matches itdb.sql:107-114
    (Rating = stars*20)."""
    joined = playlist_tracks.join(
        tracks.select("User_ID", "Track_ID", "Rating"),
        ["User_ID", "Track_ID"],
        "inner",
    )
    return (
        joined.groupBy("User_ID", "Playlist_ID", stars("Rating").alias("Stars"))
        .agg(F.count("*").alias("Count"))
        .select(
            "User_ID",
            "Playlist_ID",
            (F.col("Stars") * 20).cast("int").alias("Rating"),
            "Count",
        )
    )


def restat(stats: DataFrame) -> DataFrame:
    """Re-aggregation of the materialized aggregate (itdb2html.py:478-493):
    `SELECT Stars, SUM(Count) GROUP BY Stars`. Equivalence with direct
    aggregation is a test invariant."""
    return (
        stats.groupBy((F.col("Rating") / 20).cast("long").alias("Stars"))
        .agg(F.sum("Count").alias("Total"))
    )


def genre_histogram(tracks: DataFrame, user_id: int, thing: str = "Genre") -> DataFrame:
    """The genre/artist/album × stars histogram (itdb2html.py:264-308) with
    the COALESCE(Genre,'') and non-empty guards."""
    df = tracks.where(F.col("User_ID") == user_id)
    if thing != "Genre":
        df = df.where(F.col(thing).isNotNull() & (F.length(thing) > 0))
    key = F.coalesce(F.col(thing), F.lit("")).alias(thing)
    return df.groupBy(key, stars("Rating").alias("Stars")).agg(F.count("*").alias("Count"))


def playlist_quality(stats: DataFrame, min_rated_fraction: float = 0.2) -> DataFrame:
    """quality = Σ(stars·count)/Σ(rated) if ≥20% rated else 0
    (itdb2html.py:90-98)."""
    s = stats.select("User_ID", "Playlist_ID", (F.col("Rating") / 20).cast("long").alias("Stars"), "Count")
    rated = F.sum(F.when(F.col("Stars") > 0, F.col("Count")).otherwise(F.lit(0)))
    total = F.sum("Count")
    weighted = F.sum(F.col("Stars") * F.col("Count"))
    return s.groupBy("User_ID", "Playlist_ID").agg(
        F.when(
            rated >= total * F.lit(min_rated_fraction),
            F.round(weighted.cast("double") / rated.cast("double"), 4),
        )
        .otherwise(F.lit(0.0))
        .alias("Quality")
    )


def unprobed_av_tracks(tracks: DataFrame, ffprobe_streams: DataFrame) -> DataFrame:
    """Incremental enrichment gate: TV/Movie tracks not yet probed —
    `Persistent_ID NOT IN (SELECT ... FROM ffprobe)` (itdbmetadata.py:
    127-133) as a left_anti join against sink state."""
    av = tracks.where(F.col("TV_Show") | F.col("Movie"))
    return av.join(
        ffprobe_streams.select("Persistent_ID").distinct(), "Persistent_ID", "left_anti"
    )


def videos_below(ffprobe_streams: DataFrame, max_height: int = 720) -> DataFrame:
    """Sub-720p videos: MAX(JSON_EXTRACT(stream,'$.height')) per track,
    HAVING h < 720 (itdbmetadata.py:10-11)."""
    h = F.get_json_object("stream", "$.height").cast("int")
    return (
        ffprobe_streams.groupBy("Persistent_ID")
        .agg(F.max(h).alias("height"))
        .where(F.col("height").isNotNull() & (F.col("height") < max_height))
    )


def orphans_and_missing(tracks: DataFrame, files: DataFrame) -> DataFrame:
    """Bidirectional set difference with path normalization
    (orphaned_files:66-120): library−fs = missing, fs−library = orphans;
    excluded prefixes dropped from the scan first (orphaned_files:91-99)."""
    from itdb_spark.functions.core import decode_location

    lib = tracks.select(
        normalize_path(decode_location(F.col("Location"))).alias("norm_path")
    ).distinct()
    excluded = ["/volumes/data/tones/", "/volumes/data/music/.ds_store"]
    fs = files.select(normalize_path(F.col("path")).alias("norm_path"))
    for p in excluded:
        fs = fs.where(~F.col("norm_path").startswith(p))
    missing = lib.join(fs, "norm_path", "left_anti").select(
        F.lit("missing").alias("side"), "norm_path"
    )
    orphans = fs.join(lib, "norm_path", "left_anti").select(
        F.lit("orphan").alias("side"), "norm_path"
    )
    return missing.unionByName(orphans)


def checksum_dupes(files: DataFrame) -> DataFrame:
    """Fingerprint dup groups (dupes/dedup.py:127-143): group by checksum,
    keep groups >1, ordered members for deterministic output."""
    return (
        files.where(F.col("checksum").isNotNull())
        .groupBy("checksum")
        .agg(F.sort_array(F.collect_list("path")).alias("paths"), F.count("*").alias("cnt"))
        .where(F.col("cnt") > 1)
    )


def adjacent_dupes(files: DataFrame) -> DataFrame:
    """finddupes.py:3-18: sort by checksum, flag rows equal to previous.
    Literal translation — the global ORDER BY single-partitions; use
    adjacent_dupes_scalable for anything bigger than a report."""
    w = Window.orderBy("checksum", "path")
    return (
        files.where(F.col("checksum").isNotNull())
        .select("checksum", "path", F.lag("checksum").over(w).alias("prev"))
        .where(F.col("checksum") == F.col("prev"))
        .select("checksum", "path")
    )


def ranged_row_number(
    df: DataFrame,
    order_cols,
    start: int = 0,
    out_col: str = "seq",
    bucket=None,
) -> DataFrame:
    """Global ``row_number() + start`` over ``order_cols`` WITHOUT the
    single-partition global window (SCALE.md "global sorts"):

    1. ``bucket`` — a coarse, ORDER-CONSISTENT prefix of the sort key
       (same value ⇒ adjacent under the total order; b1 < b2 ⇒ every row
       of b1 sorts before every row of b2). Defaults to the first order
       column. Rows hash-shuffle once on the bucket — parallel, no global
       sort, no sampling.
    2. Partition-local ``row_number`` per bucket.
    3. Boundary offsets = running sum of per-bucket counts — a
       #buckets-row frame (its own window is trivially small), broadcast
       back and added.

    Deterministic by construction (the bucket is a data expression, not
    ``spark_partition_id``; range-partitioner boundary sampling is not
    involved), so the offsets branch canonicalizes identically to the
    data branch and the per-bucket count aggregate is map-side combined —
    the second pass over the source is a pruned scan + tiny shuffle, not
    a second full-data shuffle. ``order_cols`` must be a total order
    (include tie-breaks) so the result is oracle-reproducible.

    Bucket-choice guidance at 100 TB: a date / hash-prefix / leading-key
    expression with 10³–10⁶ distinct values — far above the partition
    count (parallelism), far below row count (offsets frame stays
    broadcast-small)."""
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    b = bucket if bucket is not None else cols[0]
    b = F.col(b) if isinstance(b, str) else b
    data = df.withColumn("_bucket", b)
    w_local = Window.partitionBy("_bucket").orderBy(*cols)
    local = data.withColumn("_local", F.row_number().over(w_local))
    w_off = Window.orderBy("_bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        data.groupBy("_bucket")
        .agg(F.count("*").alias("_n"))
        .select(
            F.col("_bucket").alias("_obucket"),
            F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off"),
        )
    )
    return (
        local.join(
            F.broadcast(offsets), F.col("_bucket").eqNullSafe(F.col("_obucket"))
        )
        .withColumn(out_col, (F.col("_local") + F.col("_off") + F.lit(start)).cast("long"))
        .drop("_bucket", "_obucket", "_local", "_off")
    )


def adjacent_dupes_scalable(files: DataFrame) -> DataFrame:
    """Equivalent result with no global sort: under the deterministic
    (checksum, path) ordering, the rows flagged equal-to-previous are
    exactly every row but the first within each checksum group — so
    partition the window BY the checksum instead of ordering the world by
    it. One hash shuffle on near-unique keys, embarrassingly parallel;
    equivalence with adjacent_dupes is a test invariant."""
    w = Window.partitionBy("checksum").orderBy("path")
    return (
        files.where(F.col("checksum").isNotNull())
        .select("checksum", "path", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") > 1)
        .select("checksum", "path")
    )


def ranged_cumsum(
    df: DataFrame,
    order_cols,
    value,
    out_col: str = "cumsum_before",
    bucket=None,
) -> DataFrame:
    """EXCLUSIVE running sum of ``value`` over a total order WITHOUT the
    single-partition global window — the ranged_row_number pattern
    generalized from counting to summing:

    1. bucket on an order-consistent data expression (same contract as
       ranged_row_number: b1 < b2 ⇒ every row of b1 precedes b2);
    2. per-bucket exclusive window sum (parallel across buckets);
    3. per-bucket TOTALS → running-sum offsets on a #buckets-row frame,
       broadcast back and added.

    Exclusive (sum of strictly-preceding rows) because that is the form
    consumers need for slicing: row i owns [cumsum_before, cumsum_before
    + value) of the concatenated stream."""
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    v = F.col(value) if isinstance(value, str) else value
    b = bucket if bucket is not None else cols[0]
    b = F.col(b) if isinstance(b, str) else b
    data = df.withColumn("_bucket", b).withColumn("_v", v)
    w_local = (
        Window.partitionBy("_bucket")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = data.withColumn("_local", F.coalesce(F.sum("_v").over(w_local), F.lit(0)))
    w_off = Window.orderBy("_bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        data.groupBy("_bucket")
        .agg(F.sum("_v").alias("_n"))
        .select(
            F.col("_bucket").alias("_obucket"),
            F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off"),
        )
    )
    return (
        local.join(F.broadcast(offsets), F.col("_bucket").eqNullSafe(F.col("_obucket")))
        .withColumn(out_col, (F.col("_local") + F.col("_off")).cast("long"))
        .drop("_bucket", "_obucket", "_local", "_off", "_v")
    )


# Per-process schema memo for IMMUTABLE parquet dirs (versioned index
# dirs — never modified after publish; appends/compactions create NEW
# dirs). Keyed on os.path.abspath(path) so relative and absolute
# spellings of one dir share an entry (r14 ADVICE); holds StructType
# only, never data.
_PINNED_SCHEMAS: dict[str, object] = {}


def invalidate_pinned_schemas(path: str) -> None:
    """Drop every memoized schema at or under ``path`` — the hook the
    mode('overwrite') persist_* writers call (r14 ADVICE): rebuilding an
    index at a REUSED path in one driver process would otherwise read
    back with the stale pinned schema of the overwritten files."""
    root = os.path.abspath(path)
    prefix = root + os.sep
    for k in [k for k in _PINNED_SCHEMAS if k == root or k.startswith(prefix)]:
        del _PINNED_SCHEMAS[k]


def model_df(spark: SparkSession, data, schema: str) -> DataFrame:
    """createDataFrame for a MODEL-sized driver-side list (centroids,
    codebooks, merge tables) as ONE slice. Plain
    ``spark.createDataFrame(list)`` parallelizes the rows across
    defaultParallelism, so every downstream collect or broadcast build
    of an 8-row table runs a 32-near-empty-task job (~0.3 s of pure
    scheduling per call, measured r14 on the BPE merge table and r15 on
    the quantizer rows). One partition is the right layout for a model
    table at any scale."""
    return spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)


def read_parquet_pinned(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` for an IMMUTABLE directory, memoizing its
    schema per process so repeated reads skip footer-based schema
    inference — measured r14: each reader init costs ~0.1 s of driver
    wall, and a persisted-index probe pays 4-5 of them per call (0.4 s
    of the probe's construction, which the bench times). This is reader
    state, not result caching: only the SCHEMA is held, every read
    still scans the files, and the first read per process (the bench
    warmup; a server's startup) pays the inference. Callers must only
    pass dirs whose content is immutable by construction (the
    sinks/versioned.py contract: a published version dir never
    changes); writers that DO overwrite a dir in place call
    invalidate_pinned_schemas first."""
    key = os.path.abspath(path)
    s = _PINNED_SCHEMAS.get(key)
    if s is None:
        df = spark.read.parquet(path)
        _PINNED_SCHEMAS[key] = df.schema
        return df
    return spark.read.schema(s).parquet(path)


def truncate_lineage(df: DataFrame, *, eager: bool = True, reliable: bool | None = None) -> DataFrame:
    """Lineage-truncation point for iterative/materializing operators.

    ``reliable=None`` (the default) auto-selects: if the session has a
    checkpoint directory configured (``sc.setCheckpointDir`` — on a real
    cluster that is HDFS/S3), use RELIABLE ``checkpoint()`` so the blocks
    survive executor loss; otherwise ``localCheckpoint()``, which pins
    blocks to executor storage — fine on local mode and on clusters with a
    stable executor set, fatal under aggressive dynamic allocation
    (SCALE.md "checkpoint posture"). Pass ``reliable=True/False`` to force
    either path."""
    sc = df.sparkSession.sparkContext
    if reliable is None:
        reliable = sc.getCheckpointDir() is not None
    if reliable:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def materialized(result: DataFrame, *caches: DataFrame) -> DataFrame:
    """Materialize ``result`` (eager checkpoint) while ``caches`` are
    hot, then unpersist them — the cache-lifecycle contract for operators
    whose returned frame would otherwise pin caches in a long-lived session
    (the driver gate runs 100+ queries in ONE session; leaked caches
    accumulate in executor storage).

    The returned frame reads the checkpointed blocks, never the caches, so
    nothing stays registered in the CacheManager. Checkpoint blocks
    themselves are reclaimed by Spark's ContextCleaner once the frame is
    garbage-collected driver-side (localCheckpoint path; reliable
    checkpoint files live until ``spark.cleaner.referenceTracking.
    cleanCheckpoints`` or job teardown removes them). The local/reliable
    choice follows ``truncate_lineage``'s auto-detection. The caches are
    released whether or not the checkpoint succeeds: a failed job must
    not leave them pinned either."""
    try:
        return truncate_lineage(result, eager=True)
    finally:
        for c in caches:
            c.unpersist()


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int,
    path: str | None = None,
) -> None:
    """Persist ``df`` as a Hive-bucketed, bucket-sorted table on ``key``
    — the storage-layout half of the co-located join contract SCALE.md
    claims for the repeated big-big joins (fact tables re-joined on the
    same key every run). Both sides written through this helper with the
    SAME n_buckets join with ZERO Exchange — and, once
    spark.sql.legacy.bucketedTableScan.outputOrdering=true lets the
    scan TRUST the sortBy metadata (off by default since SPARK-28595),
    ZERO per-task Sort: each task zips bucket i with bucket i straight
    off disk (both stages proven in
    tests/test_scale_paths.py::test_bucketed_storage_removes_fact_fact_shuffles).
    At 100 TB this converts an every-query double shuffle into a
    once-at-ingest layout cost, the standard warehouse trade.

    The pre-write repartition on the bucket key matters twice: it caps
    output at one file per bucket (P writer tasks x B buckets would
    otherwise emit P*B small files), and Spark only TRUSTS the sortBy
    metadata when a bucket is a single file — multi-file buckets get a
    defensive per-task Sort re-inserted above the scan, silently
    forfeiting half the layout's win (caught by the plan test)."""
    df = df.repartition(n_buckets, F.col(key))
    w = df.write.bucketBy(n_buckets, key).sortBy(key).mode("overwrite")
    if path is not None:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)


def scan_parallelism_floor(df: DataFrame) -> DataFrame:
    """Floor ``df``'s partition count at the session's default
    parallelism — ONLY when the scan comes up short (guide §2.5 input
    skew / §6 input split size): a small single-row-group parquet file
    is one unsplittable scan task, so compute-heavy work pipelined
    above it runs on one core while the machine idles. A conditional
    round-robin repartition spreads the rows once.

    Use SELECTIVELY, where a profile shows a long single/few-task stage
    with real per-row CPU and no concurrent sibling stages (guide §2.4
    warns against blanket repartition-for-parallelism, and the r14
    corpus-wide experiment measured it a WASH-to-regression where
    concurrent AQE stages already fill the cores — the record is in
    OPTIMIZATION_r14.md). The r14 win case: the IVF-PQ encode/assign
    pipeline, one sequential 2.1 s single-task stage of HOF/Arrow
    kernel work.

    Scale posture: the condition — initial scan partitions < default
    parallelism — can only fire when the input is SMALL relative to the
    cluster (at 100 TB any leaf scan has thousands of splits), so no
    production plan pays the extra exchange; this is a self-disabling
    floor, not a local constant baked into the plan. Deterministic
    under retries: round-robin repartition local-sorts its input first
    (SPARK-23207, ``spark.sql.execution.sortBeforeRepartition`` on by
    default)."""
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df
