"""Streaming-shaped queries — SURVEY.md §2.9. Each streaming operator has a
batch twin (window(), lag-based sessionization — identical semantics,
DuckDB-reproducible) AND a `-live` form that runs a REAL readStream to
completion inside the oracle gate (memory sink, processAllAvailable);
further readStream paths are exercised in tests/test_streaming.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from itdb_spark.catalog import TESTDATA_SCHEMAS, Tables, load_table
from itdb_spark.queries import register
from itdb_spark.queries.pipeline import (
    _BLOOM_ORACLE,
    _SHINGLE_CTES,
    _ivf_oracle,
    _minhash_bands_ctes,
    ORACLE_CORPUS,
)


@register(
    "stream-window",
    oracle="""
    SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS window_start,
           event_type, count(*) AS cnt,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    """,
    doc="Tumbling event-time window aggregation — the Structured Streaming "
    "windowed agg (with watermark) run over the same data in batch mode; "
    "the readStream twin is streaming/events.py (tested in "
    "tests/test_streaming.py). NULL-ts events are defined out on both "
    "sides: F.window silently drops them, so the Spark filter is "
    "explicit and the oracle states the same rule.",
    bench=True,
)
def stream_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.events.where(F.col("ts").isNotNull())
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("window_start"),
            "event_type",
            "cnt",
            "value_cents",
        )
    )


_STREAM_WINDOW_ORACLE = """
    SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS window_start,
           event_type, count(*) AS cnt,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
"""


@register(
    "stream-window-live",
    oracle=_STREAM_WINDOW_ORACLE,
    doc="The SAME windowed aggregation computed by an actual Structured "
    "Streaming query: readStream → watermark → tumbling windows → memory "
    "sink, driven to completion, result returned — a real streaming "
    "execution inside the oracle gate (stream-window is the batch twin).",
)
def stream_window_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    from itdb_spark.streaming.events import run_available_now, windowed_counts_stream

    stream_df = windowed_counts_stream(spark, sf_dir, window="1 hour")
    return run_available_now(stream_df, "stream_window_live_sink")


@register(
    "stream-dedup-live",
    oracle="""
    SELECT event_type, count(*) AS cnt,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events GROUP BY event_type
    """,
    doc="Streaming ingest dedup executed for REAL: the events parquet is "
    "staged TWICE into a temp source dir (a replayed input batch), a "
    "readStream with dropDuplicatesWithinWatermark(event_id) drains it "
    "(memory sink, processAllAvailable), and the deduped stream aggregates "
    "back to exactly the single-copy batch result — the oracle is the "
    "plain events aggregate. Watermark set beyond the data's time span so "
    "no duplicate is ever late (state = dedup horizon; "
    "streaming/events.py:streaming_dedup).",
)
def stream_dedup_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from itdb_spark.streaming.events import streaming_dedup

    src = os.path.join(sf_dir, "events.parquet")
    # stage key includes size+mtime: a regenerated testdata file can never
    # silently reuse a stale staged copy
    st = os.stat(src)
    stage = os.path.join(
        tempfile.gettempdir(),
        f"itdb_stream_dedup_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{st.st_size}_{int(st.st_mtime)}",
    )
    os.makedirs(stage, exist_ok=True)
    for copy in ("a.parquet", "b.parquet"):
        dst = os.path.join(stage, copy)
        if not os.path.exists(dst):
            shutil.copyfile(src, dst)

    deduped = streaming_dedup(spark, stage, watermark="3650 days")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("stream_dedup_live_sink")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(
        """
        SELECT event_type, count(*) AS cnt,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        FROM stream_dedup_live_sink GROUP BY event_type
        """
    )


@register(
    "stream-join-live",
    oracle="""
    SELECT upper(event_type) AS category, count(*) AS cnt
    FROM events GROUP BY 1
    """,
    doc="Stream-static join executed for REAL: events readStream joined to "
    "a static dimension (event_type → category), windowless aggregate over "
    "the joined stream via the memory sink. The static side broadcasts to "
    "every micro-batch — the streaming enrichment pattern (the reference's "
    "analog is the ffprobe LEFT JOIN enrichment, itdbmetadata.py:8-11).",
)
def stream_join_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    from itdb_spark.catalog import Tables
    from itdb_spark.streaming.events import EVENTS_SCHEMA

    dim = (
        Tables(spark, sf_dir)
        .events.select("event_type")
        .distinct()
        .select("event_type", F.upper("event_type").alias("category"))
    )
    stream = (
        spark.readStream.format("parquet")
        .schema(EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    joined = stream.join(dim, "event_type")
    agg = joined.groupBy("category").agg(F.count("*").alias("cnt"))
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("stream_join_live_sink")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql("SELECT category, cnt FROM stream_join_live_sink")


@register(
    "stream-session",
    oracle="""
    SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions FROM (
      SELECT user_id,
             CASE WHEN prev_ts IS NULL
                       OR date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END
               AS new_session
      FROM (
        SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events WHERE ts IS NOT NULL
      )
    ) GROUP BY user_id
    """,
    doc="Sessionization with a 30-minute inactivity gap: lag(ts) + gap "
    "flag + sum per user — the batch twin of stream-session-live "
    "(applyInPandasWithState covers richer custom state at deploy time). "
    "NULL-ts events are defined out on both sides (session_window drops "
    "them implicitly; here and in the oracle the filter is explicit).",
    bench=True,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = 1800
    flagged = t.events.where(F.col("ts").isNotNull()).select(
        "user_id",
        "ts",
        F.lag("ts").over(w).alias("prev_ts"),
    ).select(
        "user_id",
        F.when(
            F.col("prev_ts").isNull()
            | (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts") > gap_s),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("new_session"),
    )
    return flagged.groupBy("user_id").agg(F.sum("new_session").cast("long").alias("n_sessions"))


@register(
    "stream-session-live",
    oracle="""
    SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions FROM (
      SELECT user_id,
             CASE WHEN prev_ts IS NULL
                       OR date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END
               AS new_session
      FROM (
        SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events WHERE ts IS NOT NULL
      )
    ) GROUP BY user_id
    """,
    doc="Sessionization executed for REAL by Structured Streaming's native "
    "session_window(ts, '30 minutes'): readStream → per-(user, session) "
    "gap-merged windows (complete mode — every session, open or closed, "
    "is in the final state) → one row per session in the memory sink → "
    "count per user. Matches the lag-based batch twin (stream-session) "
    "and the same DuckDB oracle; the exact-boundary divergence "
    "(session_window ends are exclusive, the lag twin's gap test is "
    "strict > on second-truncated timestamps) cannot bite because no "
    "events pair sits in the divergence zone — asserted over all SFs by "
    "tests/test_streaming.py::test_no_event_gap_on_session_boundary.",
)
def stream_session_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    from itdb_spark.streaming.events import EVENTS_SCHEMA

    stream = (
        spark.readStream.format("parquet")
        .schema(EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    sessions = stream.groupBy(
        "user_id", F.session_window("ts", "30 minutes")
    ).agg(F.count("*").alias("n_events"))
    q = (
        sessions.writeStream.outputMode("complete")
        .format("memory")
        .queryName("stream_session_live_sink")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(
        """
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions
        FROM stream_session_live_sink GROUP BY user_id
        """
    )


@register(
    "stream-asof-live",
    oracle="""
    WITH l AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type <> 'error'),
    r AS (SELECT user_id, ts AS error_ts, max(event_id) AS error_id
          FROM events WHERE event_type = 'error' AND ts IS NOT NULL
          GROUP BY 1, 2)
    SELECT lnn.event_id, lnn.user_id, r.error_id,
           CAST(floor(epoch(r.error_ts)) AS BIGINT) AS error_epoch
    FROM (SELECT * FROM l WHERE ts IS NOT NULL) lnn
    ASOF LEFT JOIN r
      ON lnn.user_id = r.user_id AND lnn.ts >= r.error_ts
    UNION ALL
    SELECT event_id, user_id, NULL, NULL FROM l WHERE ts IS NULL
    """,
    doc="STREAMING as-of enrichment — the custom stateful operator the "
    "batch union-tag window (join-asof2) cannot be on an unbounded "
    "stream: applyInPandasWithState carries ONE (ts, id) pair per user "
    "(state bounded by active keys, not history), error events update "
    "it, every other event emits with the latest at-or-before error. "
    "Runs as a REAL readStream driven to completion inside the gate; "
    "same DuckDB native ASOF LEFT JOIN oracle as join-asof2 — batch "
    "window, streaming state machine, and DuckDB's independent ASOF "
    "implementation must all agree row-for-row.",
)
def stream_asof_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    from itdb_spark.streaming.events import EVENTS_SCHEMA
    from itdb_spark.streaming.stateful import asof_enriched_stream

    stream = (
        spark.readStream.format("parquet")
        .schema(EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    enriched = asof_enriched_stream(stream)
    q = (
        enriched.writeStream.outputMode("append")
        .format("memory")
        .queryName("stream_asof_live_sink")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql("SELECT * FROM stream_asof_live_sink")


@register(
    "stream-funnel-live",
    oracle="""
    WITH ev AS (
      SELECT user_id, ts, event_type FROM events
      WHERE event_type IN ('view', 'click', 'purchase') AND ts IS NOT NULL
    ), t1 AS (
      SELECT user_id, min(ts) AS t_view FROM ev
      WHERE event_type = 'view' GROUP BY 1
    ), t2 AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM ev e JOIN t1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > t1.t_view
      GROUP BY 1
    ), t3 AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM ev e JOIN t2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > t2.t_click
      GROUP BY 1
    ), u AS (SELECT DISTINCT user_id FROM ev)
    SELECT u.user_id,
           CAST(epoch_us(t1.t_view) AS BIGINT) AS t_view_us,
           CAST(epoch_us(t2.t_click) AS BIGINT) AS t_click_us,
           CAST(epoch_us(t3.t_purchase) AS BIGINT) AS t_purchase_us,
           CAST(CASE WHEN t3.user_id IS NOT NULL THEN 3
                     WHEN t2.user_id IS NOT NULL THEN 2
                     WHEN t1.user_id IS NOT NULL THEN 1
                     ELSE 0 END AS INT) AS stage
    FROM u LEFT JOIN t1 USING (user_id)
           LEFT JOIN t2 USING (user_id)
           LEFT JOIN t3 USING (user_id)
    """,
    doc="STREAMING sequential funnel — agg-funnel's batch sorted-array "
    "fold cannot run on an unbounded stream; this applyInPandasWithState "
    "machine can: per-user state is three SET-ONCE timestamps (first "
    "view, first click strictly after it, first purchase strictly after "
    "that), so every transition is monotone and the per-batch emission "
    "converges to the batch answer. Runs as a REAL readStream driven to "
    "completion in the gate; the final per-user row (max over the "
    "monotone emissions) must match the same chained-join DuckDB oracle "
    "agg-funnel uses, at microsecond precision.",
)
def stream_funnel_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    from itdb_spark.streaming.events import EVENTS_SCHEMA
    from itdb_spark.streaming.stateful import funnel_stream

    stream = (
        spark.readStream.format("parquet")
        .schema(EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    out = funnel_stream(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("stream_funnel_live_sink")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # monotone set-once state: the final value per user is the max of
    # each emitted column (earlier emissions are prefixes of the answer)
    return spark.sql(
        """SELECT user_id, max(t_view_us) AS t_view_us,
                  max(t_click_us) AS t_click_us,
                  max(t_purchase_us) AS t_purchase_us,
                  CAST(max(stage) AS INT) AS stage
           FROM stream_funnel_live_sink GROUP BY user_id"""
    )


@register(
    "stream-cms-live",
    oracle="""
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
      FROM documents WHERE len(trim(text)) > 0
    ), rows_ AS (SELECT range AS j FROM range(0, 4)),
    cells AS (
      SELECT j,
             CAST(concat('0x', substr(md5(concat('cms', j, ':', w)), 1, 15))
                  AS BIGINT) % 64 AS bucket,
             count(*) AS c
      FROM toks, rows_ GROUP BY 1, 2
    ), exact_ AS (
      SELECT w, count(*) AS exact_cnt FROM toks GROUP BY 1
    ), top AS (
      SELECT w, exact_cnt FROM exact_
      ORDER BY exact_cnt DESC, w LIMIT 20
    ), est AS (
      SELECT t.w, min(c.c) AS est_cnt
      FROM top t, rows_ r
      JOIN cells c
        ON c.j = r.j
       AND c.bucket = CAST(concat('0x', substr(md5(
             concat('cms', r.j, ':', t.w)), 1, 15)) AS BIGINT) % 64
      GROUP BY 1
    )
    SELECT t.w AS token,
           CAST(t.exact_cnt AS BIGINT) AS exact_cnt,
           CAST(e.est_cnt AS BIGINT) AS est_cnt,
           e.est_cnt >= t.exact_cnt AS never_undercounts
    FROM top t JOIN est e USING (w)
    """,
    doc="STREAMING sketch maintenance — agg-cms's d=4 × w=64 Count-Min "
    "cells kept as a live complete-mode streaming aggregate over a real "
    "documents readStream: each micro-batch's partial counts fold into "
    "the running cells exactly like the batch partial aggregation (the "
    "merge IS the update rule — the property that makes the sketch "
    "streamable at all). The gate drives the stream to completion, then "
    "answers the top-20 point queries from the SINK's cells; the result "
    "must equal batch agg-cms's oracle bit-for-bit. State is bounded at "
    "d·w counters regardless of stream length — the whole point of "
    "sketching an unbounded stream.",
)
def stream_cms_live(spark: SparkSession, sf_dir: str) -> DataFrame:

    from itdb_spark.functions.core import portable_hash64

    stream = (
        spark.readStream.format("parquet")
        .schema(TESTDATA_SCHEMAS["documents"])
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )

    def bucket(j_col, w_col):
        return portable_hash64(
            F.concat(F.lit("cms"), j_col.cast("string"), F.lit(":"), w_col)
        ) % 64

    cells_stream = (
        stream.where(F.length(F.trim("text")) > 0)
        .select(F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("w"))
        .select("w", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("j"))
        .select("j", bucket(F.col("j"), F.col("w")).alias("bucket"))
        .groupBy("j", "bucket")
        .agg(F.count("*").alias("c"))
    )
    q = (
        cells_stream.writeStream.outputMode("complete")
        .format("memory")
        .queryName("stream_cms_cells")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    cells = spark.table("stream_cms_cells")

    # point queries against the streamed cells: exact top-20 from the
    # same table batch-side (the sketch answers, the exact side grades)
    toks = (
        load_table(spark, sf_dir, "documents")
        .where(F.length(F.trim("text")) > 0)
        .select(F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("w"))
    )
    top = (
        toks.groupBy("w").agg(F.count("*").alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("w")).limit(20)
    )
    probes = top.select(
        "w", "exact_cnt", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("j")
    ).select("w", "exact_cnt", "j", bucket(F.col("j"), F.col("w")).alias("bucket"))
    return (
        probes.join(cells, ["j", "bucket"])
        .groupBy("w", "exact_cnt")
        .agg(F.min("c").alias("est_cnt"))
        .select(
            F.col("w").alias("token"),
            F.col("exact_cnt").cast("long"),
            F.col("est_cnt").cast("long"),
            (F.col("est_cnt") >= F.col("exact_cnt")).alias("never_undercounts"),
        )
    )


@register(
    "stream-bloom-live",
    oracle=_BLOOM_ORACLE,
    doc="STREAMING Bloom seen-set maintenance — agg-bloom's per-source "
    "filter kept live over a real documents readStream in complete "
    "mode: each micro-batch's partial bit_or folds into the running 32 "
    "words exactly like the batch map-side combine (the OR-monoid merge "
    "IS the update rule — same property that streams the CMS). The gate "
    "drives the stream to completion, then probes the SINK's words with "
    "the derived-corpus incremental batch; the report must equal batch "
    "agg-bloom bit-for-bit (shared oracle). State is bounded at 32 "
    "words per source regardless of stream length — this is the filter "
    "an incremental ingest consults before any exact-dedup shuffle.",
)
def stream_bloom_live(spark: SparkSession, sf_dir: str) -> DataFrame:

    from itdb_spark.queries.pipeline import (
        _bloom_probes,
        _bloom_report,
        _bloom_sketch,
    )

    stream = (
        spark.readStream.format("parquet")
        .schema(TESTDATA_SCHEMAS["documents"])
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )
    words_stream = _bloom_sketch(
        stream.select("doc_id", "source", F.md5("text").alias("fp"))
    )
    q = (
        words_stream.writeStream.outputMode("complete")
        .format("memory")
        .queryName("stream_bloom_words")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    sketch = spark.table("stream_bloom_words")

    base = load_table(spark, sf_dir, "documents")
    docs = base.select("doc_id", "source", F.md5("text").alias("fp"))
    return _bloom_report(docs, _bloom_probes(base), sketch)


@register(
    "stream-ewma-live",
    oracle="""
    WITH cents AS (
      SELECT event_id, user_id, ts,
             CAST(round(value * 100) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL
    ),
    ranked AS (
      SELECT user_id, c,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n_seen
      FROM cents
    ),
    lastw AS (
      SELECT user_id, CAST(max(n_seen) AS BIGINT) AS n_seen,
             list(c ORDER BY rn DESC) AS xs
      FROM ranked WHERE rn <= 8 GROUP BY user_id
    )
    SELECT user_id, n_seen,
           CAST((1000 * list_sum(list_transform(range(1, len(xs) + 1),
                 p -> xs[p] * ([16384, 12288, 9216, 6912, 5184, 3888, 2916,
                                2187])[len(xs) - p + 1])))
                // ([16384, 28672, 37888, 44800, 49984, 53872, 56788,
                    58975])[len(xs)] AS BIGINT) AS ewma_milli
    FROM lastw
    """,
    doc="STREAMING truncated EWMA — win-ewma's stateful twin on a real "
    "readStream via applyInPandasWithState: per-user state is the "
    "last-8 cents deque plus a monotone emission counter (bounded by "
    "active keys, independent of history). The gate drives the stream "
    "to completion and takes max_by(ewma_milli, n_seen) per user — the "
    "final state — which must equal the batch recurrence on the last "
    "window bit-for-bit (shared integer-literal weights; the oracle "
    "recomputes it from the trailing 8 events per user).",
)
def stream_ewma_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    from itdb_spark.streaming.events import EVENTS_SCHEMA
    from itdb_spark.streaming.stateful import ewma_stream

    stream = (
        spark.readStream.format("parquet")
        .schema(EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    out = ewma_stream(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("stream_ewma_live_sink")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(
        """SELECT user_id, max(n_seen) AS n_seen,
                  max_by(ewma_milli, n_seen) AS ewma_milli
           FROM stream_ewma_live_sink GROUP BY user_id"""
    )


@register(
    "stream-linreg-live",
    oracle="""
    WITH d AS (
      SELECT source,
             CAST(n_chars AS BIGINT) AS x,
             CAST(CASE WHEN len(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
                  AS BIGINT) AS y
      FROM documents
    ),
    m AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM d GROUP BY source
    )
    SELECT source, n,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r
    FROM m
    """,
    doc="STREAMING regression — agg-linreg's exact integer moments ARE "
    "a complete-mode streaming aggregate (micro-batch partial moment "
    "vectors add; the merge IS the update rule, same property that "
    "streams the CMS and the Bloom filter): the five sufficient "
    "statistics accumulate live over a real documents readStream, the "
    "closed-form slope/r is computed from the SINK's integers "
    "batch-side, and the result must equal batch agg-linreg "
    "bit-for-bit. State bounded at 6 integers per source.",
)
def stream_linreg_live(spark: SparkSession, sf_dir: str) -> DataFrame:

    stream = (
        spark.readStream.format("parquet")
        .schema(TESTDATA_SCHEMAS["documents"])
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )
    toks = F.when(
        F.length(F.trim("text")) == 0, F.lit(0)
    ).otherwise(F.size(F.split(F.trim(F.col("text")), r"\s+")))
    moments = (
        stream.select(
            "source",
            F.col("n_chars").cast("long").alias("x"),
            toks.cast("long").alias("y"),
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
            F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        )
    )
    q = (
        moments.writeStream.outputMode("complete")
        .format("memory")
        .queryName("stream_linreg_moments")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    m = spark.table("stream_linreg_moments")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return m.select(
        "source",
        "n",
        F.round(cov.cast("double") / varx.cast("double"), 6).alias("slope"),
        F.round(
            cov.cast("double") / F.sqrt(varx.cast("double") * vary.cast("double")),
            6,
        ).alias("r"),
    )


_STREAM_OHLC_ORACLE = """
    WITH base AS (
      SELECT CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT) AS hour,
             CAST(round(value * 100) AS BIGINT) AS c,
             epoch_us(ts) AS tsu, event_id
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ),
    ranked AS (
      SELECT hour, c,
             row_number() OVER (PARTITION BY hour
                 ORDER BY tsu, event_id) AS rn_open,
             row_number() OVER (PARTITION BY hour
                 ORDER BY tsu DESC, event_id DESC) AS rn_close
      FROM base
    )
    SELECT hour,
           CAST(min(CASE WHEN rn_open = 1 THEN c END) AS BIGINT) AS open_c,
           CAST(max(c) AS BIGINT) AS high_c,
           CAST(min(c) AS BIGINT) AS low_c,
           CAST(min(CASE WHEN rn_close = 1 THEN c END) AS BIGINT) AS close_c,
           CAST(count(*) AS BIGINT) AS n_events
    FROM ranked GROUP BY hour
"""


@register(
    "stream-ohlc-live",
    oracle=_STREAM_OHLC_ORACLE,
    defer_after=9,
    doc="agg-ohlc's bars computed by an ACTUAL Structured Streaming "
    "query (round 9; the stream-window-live convention — batch twin "
    "graded separately, the live form drains a real readStream to "
    "completion against the SAME oracle): readStream → watermark → "
    "tumbling 1-hour windows → min_by/max_by OHLC state → memory "
    "sink. The open/close single-winner aggregates carry their "
    "(ts-micros, event_id) ordering key through STREAMING STATE "
    "MERGE — partial per-batch winners recompare the key exactly like "
    "the batch partial-combine, so arrival order across micro-batches "
    "cannot perturb the result (the property that makes the bars "
    "incrementally maintainable at all); integer cents make the "
    "min/max/count trivially merge-exact. Tumbling windows align to "
    "epoch hours, so window_start/3600 IS the batch twin's epoch-hour "
    "key and the two forms must hash-match the same oracle.",
)
def stream_ohlc_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    from itdb_spark.catalog import EVENTS_RAW_SCHEMA
    from itdb_spark.streaming.events import run_available_now

    ev = (
        spark.readStream.format("parquet")
        .schema(EVENTS_RAW_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    okey = F.struct(F.unix_micros("ts").alias("tsu"), "event_id")
    c = F.round(F.col("value") * 100).cast("long")
    agg = (
        ev.where(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"))
        .agg(
            F.min_by(c, okey).cast("long").alias("open_c"),
            F.max(c).cast("long").alias("high_c"),
            F.min(c).cast("long").alias("low_c"),
            F.max_by(c, okey).cast("long").alias("close_c"),
            F.count("*").cast("long").alias("n_events"),
        )
        .select(
            (F.unix_timestamp(F.col("window.start")) / 3600)
            .cast("long")
            .alias("hour"),
            "open_c", "high_c", "low_c", "close_c", "n_events",
        )
    )
    return run_available_now(agg, "stream_ohlc_live_sink")


@register(
    "stream-topk-live",
    oracle="""
    WITH counts AS (
      SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT)
               AS window_start,
             event_type, count(*) AS cnt
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    )
    SELECT window_start, event_type, cnt FROM (
      SELECT *, row_number() OVER (
               PARTITION BY window_start
               ORDER BY cnt DESC, event_type) AS rn
      FROM counts
    ) WHERE rn <= 3
    """,
    defer_after=11,
    doc="Streaming top-k: the top-3 event types per tumbling hour, with "
    "the windowed counts computed by a REAL Structured Streaming query "
    "(readStream → watermark → window agg → memory sink, driven to "
    "completion — the stream-window-live engine) and the rank cut "
    "applied OVER THE SINK. The split is the production architecture, "
    "not a shortcut: post-aggregation ranking is unsupported inside an "
    "append-mode streaming query (Spark rejects a window function over "
    "a streaming agg), so real dashboards rank in the serving layer "
    "over the continuously-maintained per-window counts — state stays "
    "O(windows x types) in the stream (watermark-evicted), and the "
    "rank scan touches only the window-dimension sink table. "
    "Deterministic tie-break (cnt DESC, event_type) on both sides. "
    "At 100 TB the sink is a versioned table (snk-versioned) or "
    "foreachBatch upsert; the rank cut stays dimension-sized "
    "regardless of event volume.",
)
def stream_topk_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from itdb_spark.streaming.events import (
        run_available_now,
        windowed_counts_stream,
    )

    counts = run_available_now(
        windowed_counts_stream(spark, sf_dir, window="1 hour"),
        "stream_topk_live_sink",
    )
    w = Window.partitionBy("window_start").orderBy(
        F.col("cnt").desc(), F.col("event_type")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("window_start", "event_type", "cnt")
    )


@register(
    "stream-contain-live",
    # dedup-contain-incr's oracle, verbatim — see the doc for why the
    # streamed emission union equals the one-shot incremental result
    oracle=f"""
    WITH corpus AS ({ORACLE_CORPUS}),
    {_SHINGLE_CTES},
    docs AS MATERIALIZED (
      SELECT doc, list(w ORDER BY w) AS ts, CAST(count(*) AS BIGINT) AS n
      FROM words GROUP BY doc
    ),
    pairs AS (
      SELECT a.doc AS id1, b.doc AS id2,
             CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT) AS inter,
             least(a.n, b.n) AS small
      FROM docs a JOIN docs b ON a.doc < b.doc
    )
    SELECT id1, id2, inter, small,
           CAST(1000 * inter // small AS BIGINT) AS contain_milli
    FROM pairs
    WHERE 10 * inter >= 8 * small
      AND (id1 % 5 = 4 OR id2 % 5 = 4)
    """,
    defer_after=12,
    doc="STREAMING incremental containment against the persisted "
    "frozen-order index (round 12) — the full production ingest loop "
    "of dedup-contain-incr-persist run LIVE: the increment (the "
    "doc_id % 5 == 4 slice) is staged as three parquet files, a "
    "readStream with maxFilesPerTrigger=1 drains them as three "
    "micro-batches, and each foreachBatch (a) probes the CURRENTLY "
    "PUBLISHED index version with containment_probe_persisted — exact "
    "pairs between the micro-batch and everything already ingested, "
    "plus the batch's internal pairs — then (b) ACCEPTS the batch with "
    "a BATCH-BOUNDED delta append (append_containment_index: only the "
    "batch's new distinct sets are ranked — under the permanently "
    "frozen v1 order, so losslessness survives every refresh — and "
    "only the delta is written, behind the same one-line atomic "
    "manifest swap; sinks/versioned.py::append_version), so later "
    "micro-batches see earlier ones as corpus. The "
    "union of emissions is ORDER-INVARIANT and equals the one-shot "
    "incremental result: a qualifying pair lands exactly once, at the "
    "micro-batch where its LATER side arrives (earlier side is indexed "
    "by then; old x old pairs are never generated) — so the oracle is "
    "dedup-contain-incr's naive quadratic, verbatim, and the gate "
    "proves probe + atomic refresh + snapshot-pinned reads compose "
    "correctly under live micro-batching. At 100 TB this IS the ingest "
    "topology end-to-end: probe cost AND refresh cost are both bounded "
    "by the batch, never the corpus — nothing corpus-scale is ranked, "
    "shuffled, or rewritten anywhere in the loop. Round 13 (ADVICE "
    "r12): the loop is IDEMPOTENT under foreachBatch's at-least-once "
    "delivery — acceptance is keyed on the batch id via a tag "
    "published atomically with the index delta (chain_tags), results "
    "land in per-batch dirs overwritten on replay, and auto-compaction "
    "folds the chain (tags included) past the measured read-"
    "amplification knee.",
)
def stream_contain_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import os
    import shutil
    import tempfile

    from itdb_spark.operators.dedup import (
        _INDEX_BLOCK_BYTES,
        append_containment_index,
        containment_probe_persisted,
        persist_containment_index,
    )
    from itdb_spark.queries.pipeline import corpus
    from itdb_spark.sinks.versioned import chain_tags, maybe_compact_chain

    work = tempfile.mkdtemp(prefix="itdb_stream_contain_")
    stage = os.path.join(work, "stage")
    results = os.path.join(work, "results")
    root = os.path.join(work, "index")
    os.makedirs(stage)
    try:
        docs = corpus(spark, sf_dir).select("doc_id", "source", "text")
        old = docs.where(F.col("doc_id") % 5 != 4)
        batch = docs.where(F.col("doc_id") % 5 == 4)
        # one staged file per micro-batch (sub-split within the slice)
        for k in range(3):
            sub = os.path.join(work, f"sub{k}")
            batch.where(F.expr("doc_id DIV 5") % 3 == k).coalesce(
                1
            ).write.parquet(sub)
            part = glob.glob(os.path.join(sub, "part-*.parquet"))[0]
            shutil.move(part, os.path.join(stage, f"b{k}.parquet"))
        persist_containment_index(old, "doc_id", "text", root)

        def screen(bdf, batch_id):
            # IDEMPOTENT under foreachBatch's at-least-once delivery
            # (ADVICE r12): acceptance is keyed on the batch id via a
            # tag published atomically WITH the index delta, and the
            # results land in a per-batch dir overwritten on replay —
            # a redelivered micro-batch neither duplicates result rows
            # nor double-appends member rows. Replay cases: crash
            # before the tagged publish → full redo (results dir
            # overwritten); crash after → tag visible, whole batch
            # skipped (its results were already written, since the
            # results write precedes the accept).
            tag = f"batch-{batch_id}"
            if tag in chain_tags(root):
                return
            probe = containment_probe_persisted(
                spark, root, bdf, "doc_id", "text"
            )
            probe.write.mode("overwrite").parquet(
                os.path.join(results, f"b{batch_id}")
            )
            # accept the batch, refresh the index: BATCH-BOUNDED delta
            # append behind the same atomic manifest (round 12 — this
            # was a full rebuild over the union per micro-batch, a
            # corpus-scale rank + rewrite each trigger; append_
            # containment_index ranks only the batch's new distinct
            # sets under the frozen v1 order and writes only the delta,
            # snapshot-isolated for any in-flight probe)
            append_containment_index(
                spark, root, bdf, "doc_id", "text", tag=tag
            )
            # compaction POLICY exercised live (r12 VERDICT #3):
            # max_links=3 folds the chain exactly once inside this
            # 3-batch run (base + 3 deltas > 3) — the fold preserves
            # the kind partitioning and the batch tags, and the next
            # trigger's probe reads the folded table, so the oracle
            # equality below gates fold-correctness END-TO-END. In
            # production the knob sits at the measured knee (SCALE.md
            # §r13), amortizing one corpus-scale rewrite over that
            # many batch-bounded ingests.
            maybe_compact_chain(
                # vacuum_min_age_s=0: this loop is the table's sole
                # owner and every reader is per-trigger (constructed
                # after the publish, dead before the next fold), so
                # the retention floor is safely waived
                spark, root, max_links=3, vacuum_keep=1,
                vacuum_min_age_s=0,
                writer_options={"parquet.block.size": _INDEX_BLOCK_BYTES},
            )

        from pyspark.sql import types as T

        schema = T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("source", T.StringType()),
            T.StructField("text", T.StringType()),
        ])
        stream = (
            spark.readStream.format("parquet")
            .schema(schema)
            .option("maxFilesPerTrigger", "1")
            .load(stage)
        )
        q = stream.writeStream.foreachBatch(screen).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # materialize before the temp dir disappears (recursive lookup:
        # results live in per-batch subdirs for replay idempotency, and
        # the dir names must NOT surface as a partition column)
        out = spark.read.option("recursiveFileLookup", "true").parquet(
            results
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "stream-minhash-ingest-live",
    # dedup-incremental's oracle VERBATIM: every batch doc's hit set is
    # provably arrival-order-invariant (docstring), so the live union
    # equals the one-shot batch-vs-index result
    oracle=f"""
    WITH {_minhash_bands_ctes()}
    SELECT i.doc AS doc_id, CAST(count(DISTINCT i.band) AS BIGINT) AS n_hit_bands
    FROM bands i
    JOIN (SELECT DISTINCT band, band_hash FROM bands WHERE doc % 300000 < 200000) e
      ON i.band = e.band AND i.band_hash = e.band_hash
    WHERE i.doc % 300000 >= 200000
    GROUP BY 1
    """,
    defer_after=13,
    doc="STREAMING MinHash ingest loop (round 13) — completes the "
    "ingest-loop trilogy (containment r12, ANN r13): the corpus band "
    "index (originals + near-dups, doc % 300000 < 200000) publishes "
    "once via persist_band_index (member table + DISTINCT-keys "
    "sibling, member-first order); the re-crawl batch (the exact-copy "
    "replicas, % 300000 >= 200000) arrives as a real readStream in "
    "three micro-batches; each foreachBatch (a) SCREENS its batch "
    "against the currently-published keys chain "
    "(band_collision_counts_persisted — per-call work is the batch's "
    "signatures + one key join), (b) ACCEPTS it via append_band_index "
    "— member delta first, NOVEL keys second, the acceptance tag "
    "atomic with the keys publish (the LAST sibling, so an "
    "at-least-once replay after a torn pair REDOES both; the redo's "
    "duplicate member delta is absorbed by the key-set/count_distinct "
    "probe semantics) — and (c) runs the compaction policy on both "
    "siblings (maybe_compact_chain max_links=2: the member chain folds "
    "once mid-stream, band layout preserved; the keys chain gains only "
    "EMPTY deltas here — a re-crawl contributes zero novel keys — "
    "exercising the data-less chain-link path live). Emissions are "
    "ORDER-INVARIANT by construction, not assumption: every batch doc "
    "is an exact replica, so each of its band buckets matches an "
    "earlier-batch doc's bucket ONLY IF both replicas' originals share "
    "it — in which case the BASE index already holds it; hits vs "
    "(base ∪ earlier batches) therefore equal hits vs base, and the "
    "oracle is dedup-incremental's naive SQL verbatim. At 100 TB this "
    "is the dedup ingest topology end-to-end: screen cost and refresh "
    "cost both bounded by the batch, acceptance exactly-once, "
    "maintenance amortized by policy.",
)
def stream_minhash_ingest_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import os
    import shutil
    import tempfile

    from itdb_spark.operators.dedup import (
        append_band_index,
        band_collision_counts_persisted,
        minhash_bands,
        minhash_signatures,
        persist_band_index,
    )
    from itdb_spark.queries.pipeline import corpus
    from itdb_spark.sinks.versioned import chain_tags, maybe_compact_chain

    docs = corpus(spark, sf_dir).select("doc_id", "text")
    base = docs.where(F.col("doc_id") % 300000 < 200000)
    batch_pool = docs.where(F.col("doc_id") % 300000 >= 200000)

    work = tempfile.mkdtemp(prefix="itdb_stream_minhash_")
    stage = os.path.join(work, "stage")
    results = os.path.join(work, "results")
    root = os.path.join(work, "bandidx")
    os.makedirs(stage)
    try:
        for k in range(3):
            sub = os.path.join(work, f"sub{k}")
            batch_pool.where(
                F.expr("doc_id DIV 7") % 3 == k
            ).coalesce(1).write.parquet(sub)
            part = glob.glob(os.path.join(sub, "part-*.parquet"))[0]
            shutil.move(part, os.path.join(stage, f"b{k}.parquet"))
        persist_band_index(
            minhash_bands(minhash_signatures(base, "doc_id", "text")), root
        )

        def ingest(bdf, batch_id):
            tag = f"batch-{batch_id}"
            if tag in chain_tags(root + "_keys"):
                return  # at-least-once replay of a COMPLETED accept
            bands = minhash_bands(minhash_signatures(bdf, "doc_id", "text"))
            band_collision_counts_persisted(
                spark, root, bands
            ).write.mode("overwrite").parquet(
                os.path.join(results, f"b{batch_id}")
            )
            append_band_index(spark, root, bands, tag=tag)
            # vacuum_min_age_s=0: sole-owner loop, per-trigger readers
            maybe_compact_chain(
                spark, root, max_links=2, vacuum_keep=1,
                vacuum_min_age_s=0,
            )
            maybe_compact_chain(
                spark, root + "_keys", max_links=2, vacuum_keep=1,
                vacuum_min_age_s=0,
            )

        from pyspark.sql import types as T

        schema = T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ])
        stream = (
            spark.readStream.format("parquet")
            .schema(schema)
            .option("maxFilesPerTrigger", "1")
            .load(stage)
        )
        q = stream.writeStream.foreachBatch(ingest).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        out = spark.read.option("recursiveFileLookup", "true").parquet(
            results
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "stream-ann-ingest-live",
    # train on the base slice, query the full corpus — the proven
    # sim-knn-ivf-incr one-parameter reuse with the 15-query serving set
    oracle=_ivf_oracle(
        train_src="(SELECT * FROM v WHERE vec_id % 5 != 4) v",
        queries_pred="vec_id < 15",
    ),
    defer_after=13,
    doc="STREAMING ANN ingest loop (round 13, r12 VERDICT #5) — "
    "stream-knn-live SERVES but never accepts; this closes the cycle "
    "the containment family got in round 12, for vectors: the coarse "
    "quantizer trains once on the base corpus (vec_id % 5 != 4) and "
    "freezes; the increment arrives as a real readStream (three "
    "staged parquet files, maxFilesPerTrigger=1 → three "
    "micro-batches); each foreachBatch (a) ACCEPTS its batch — "
    "assigned to the frozen centroids with one broadcast join and "
    "published as a DELTA version of the cell-partitioned assignment "
    "chain behind one atomic manifest swap (append_ivf_index), "
    "acceptance keyed on the batch id via an atomically-published tag "
    "(at-least-once replay safe) — then (b) SERVES the fixed 15-query "
    "set against the just-published chain (ivf_search_chain: probed "
    "cells become partition IN-filters in EVERY chain link), and (c) "
    "runs the compaction policy (maybe_compact_chain max_links=2 — "
    "one fold happens mid-stream, layout and tags preserved). The "
    "graded frame is the LAST trigger's served output — by then every "
    "batch is ingested, so it must equal a one-shot search over the "
    "batch-rebuilt index regardless of arrival order: the oracle is "
    "the sim-knn-ivf-incr training replay with the query CTE widened. "
    "At 100 TB this IS the vector-ingest topology end-to-end: "
    "per-trigger cost = one broadcast assign + one delta write + one "
    "pruned probe — nothing corpus-scale moves in the loop.",
)
def stream_ann_ingest_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import os
    import shutil
    import tempfile

    from itdb_spark.operators.ivf import (
        append_ivf_index,
        build_ivf_index,
        ivf_search_chain,
        persist_ivf_index_versioned,
    )
    from itdb_spark.sinks.versioned import chain_tags, maybe_compact_chain

    emb = Tables(spark, sf_dir).embeddings
    base = emb.where(F.col("vec_id") % 5 != 4)
    incr = emb.where(F.col("vec_id") % 5 == 4)
    queries = emb.where(F.col("vec_id") < 15)

    work = tempfile.mkdtemp(prefix="itdb_stream_ann_")
    stage = os.path.join(work, "stage")
    serves = os.path.join(work, "serves")
    root = os.path.join(work, "index")
    chain_root = os.path.join(root, "assignments")
    os.makedirs(stage)
    try:
        for b in range(3):
            sub = os.path.join(work, f"sub{b}")
            incr.where(F.expr("vec_id DIV 5") % 3 == b).coalesce(
                1
            ).write.parquet(sub)
            part = glob.glob(os.path.join(sub, "part-*.parquet"))[0]
            shutil.move(part, os.path.join(stage, f"b{b}.parquet"))
        assignments, centroids = build_ivf_index(base, k=8)
        persist_ivf_index_versioned(assignments, centroids, root)

        def ingest(bdf, batch_id):
            tag = f"batch-{batch_id}"
            if tag in chain_tags(chain_root):
                return  # at-least-once replay of an accepted batch
            append_ivf_index(spark, root, bdf, tag=tag)
            # serve BETWEEN refreshes, against the just-published chain
            ivf_search_chain(
                spark, root, queries, k=5, n_probe=3
            ).write.mode("overwrite").parquet(
                os.path.join(serves, f"b{batch_id}")
            )
            # vacuum_min_age_s=0: sole-owner loop, per-trigger readers
            maybe_compact_chain(
                spark, chain_root, max_links=2, vacuum_keep=1,
                vacuum_min_age_s=0,
            )

        # the staged files are embeddings rows: read under its catalog schema
        stream = (
            spark.readStream.format("parquet")
            .schema(TESTDATA_SCHEMAS["embeddings"])
            .option("maxFilesPerTrigger", "1")
            .load(stage)
        )
        q = stream.writeStream.foreachBatch(ingest).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        last = max(
            int(d[1:]) for d in os.listdir(serves) if d.startswith("b")
        )
        out = spark.read.parquet(os.path.join(serves, f"b{last}"))
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "stream-knn-live",
    # the proven sim-knn-ivf replay with a 15-query set — one parameter
    # on the shared builder, the sim-knn-ivf-incr precedent
    oracle=_ivf_oracle(queries_pred="vec_id < 15"),
    defer_after=12,
    doc="STREAMING ANN serving (round 12) — the persisted IVF index "
    "run as a LIVE search server, completing the pattern the round "
    "gave containment (stream-contain-live): queries arrive as a real "
    "readStream (15 query vectors staged as three parquet files, "
    "maxFilesPerTrigger=1 → three micro-batches), and each foreachBatch "
    "serves its batch with ivf_search_persisted against the ONE "
    "memoized on-disk index — probed cell ids become a plan-time "
    "partition IN-filter per batch, so every request reads only its "
    "probed cells' files (the tests/test_ivf_merge.py pruning proof, "
    "now exercised per micro-batch). Searches are independent per "
    "query, so the emission union is trivially order-invariant and "
    "equals the one-shot search over all 15 queries: the oracle is the "
    "byte-stable sim-knn-ivf training replay with the query CTE "
    "widened (the sim-knn-ivf-incr one-parameter-reuse precedent). At "
    "100 TB this IS the vector-serving topology: build/refresh "
    "publishes behind the manifest, request batches stream in, each "
    "pays only probe + pruned-scan + rerank.",
)
def stream_knn_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import os
    import shutil
    import tempfile

    from itdb_spark.operators.ivf import ivf_search_persisted
    from itdb_spark.queries.pipeline import _ivf_persist_root

    root = _ivf_persist_root(spark, sf_dir)
    emb = Tables(spark, sf_dir).embeddings
    work = tempfile.mkdtemp(prefix="itdb_stream_knn_")
    stage = os.path.join(work, "stage")
    results = os.path.join(work, "results")
    os.makedirs(stage)
    try:
        for b in range(3):
            sub = os.path.join(work, f"sub{b}")
            emb.where(
                (F.col("vec_id") >= 5 * b) & (F.col("vec_id") < 5 * (b + 1))
            ).coalesce(1).write.parquet(sub)
            part = glob.glob(os.path.join(sub, "part-*.parquet"))[0]
            shutil.move(part, os.path.join(stage, f"q{b}.parquet"))

        def serve(bdf, batch_id):
            # per-batch dir, overwritten on replay: foreachBatch is
            # at-least-once, and mode("append") to one dir would
            # duplicate a redelivered batch's results (the ingest
            # loops' idempotency discipline, applied to the pure-serve
            # twin — no index mutation here, so the dir IS the whole
            # replay guard)
            ivf_search_persisted(
                spark, root, bdf, k=5, n_probe=3
            ).write.mode("overwrite").parquet(
                os.path.join(results, f"b{batch_id}")
            )

        # the staged files are embeddings rows: read under its catalog schema
        stream = (
            spark.readStream.format("parquet")
            .schema(TESTDATA_SCHEMAS["embeddings"])
            .option("maxFilesPerTrigger", "1")
            .load(stage)
        )
        q = stream.writeStream.foreachBatch(serve).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        out = spark.read.option("recursiveFileLookup", "true").parquet(
            results
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)
