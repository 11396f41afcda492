"""Table catalog for the driver-generated testdata (TESTDATA.md) plus the
itdb-domain fixture schemas (FIXTURES.md).

The reference introspects its MySQL schema at runtime (``DESCRIBE tracks``,
itdbloader.py:249-258) and uses the column list to drive projection; here the
catalog is explicit ``StructType``s and DataFrame ``schema.fieldNames()``
(SURVEY.md §1.4).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Id floor separating normal testdata from the adversarial docs/events/
# embeddings that tools/edge_corpus.py plants (it derives its planted ids
# from this constant; eval-rouge's pairing predicate and the
# testdata-invariants gate consume it). Single-sourced so real testdata
# can never silently cross into the diagnostic range (round-6 ADVICE):
# tests/test_testdata_invariants.py asserts every sf dir stays below it.
EDGE_ID_FLOOR = 900000


# Explicit reader schema for the events table — shared by the batch scan
# and every readStream (streaming requires one anyway). ts is
# TIMESTAMP(MICROS) in the parquet since the 2026-08-13 testdata regen,
# which Spark reads natively; earlier generations carried TIMESTAMP(NANOS)
# and needed a raw-long read + /1000 convert. Pinning the schema here keeps
# a future regen honest: a NANOS flip fails the read loudly (type
# mismatch) instead of silently shifting every timestamp 1000×. ts is
# deliberately TimestampType, not the TIMESTAMP_NTZ the footer infers:
# every events consumer, batch and streaming, is written against it.
EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),  # micros since epoch
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def _nullable(*fields: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in fields])


_INT, _LONG, _DOUBLE, _STR = T.IntegerType(), T.LongType(), T.DoubleType(), T.StringType()

# Declared reader schema per source table — the ONE definition of the
# testdata layout. Each equals what a default session infers from the
# parquet footer (all fields nullable; the date columns are
# TIMESTAMP_NTZ), except events' pinned ts (above). Reading under a
# declared schema skips footer inference, which otherwise runs one Spark
# job per table per query build. A column retyped incompatibly fails the
# read; tests/test_testdata_invariants.py checks every sf dir's footers
# against these, which also catches a renamed or dropped column (that
# one would otherwise read as NULL).
TESTDATA_SCHEMAS: dict[str, T.StructType] = {
    "region": _nullable(("r_regionkey", _INT), ("r_name", _STR)),
    "nation": _nullable(("n_nationkey", _INT), ("n_name", _STR), ("n_regionkey", _INT)),
    "customer": _nullable(
        ("c_custkey", _LONG),
        ("c_name", _STR),
        ("c_nationkey", _INT),
        ("c_acctbal", _DOUBLE),
        ("c_mktsegment", _STR),
    ),
    "supplier": _nullable(
        ("s_suppkey", _LONG), ("s_name", _STR), ("s_nationkey", _INT), ("s_acctbal", _DOUBLE)
    ),
    "part": _nullable(
        ("p_partkey", _LONG),
        ("p_name", _STR),
        ("p_brand", _STR),
        ("p_type", _STR),
        ("p_size", _INT),
        ("p_retailprice", _DOUBLE),
    ),
    "orders": _nullable(
        ("o_orderkey", _LONG),
        ("o_custkey", _LONG),
        ("o_orderstatus", _STR),
        ("o_totalprice", _DOUBLE),
        ("o_orderdate", T.TimestampNTZType()),
        ("o_orderpriority", _STR),
    ),
    "lineitem": _nullable(
        ("l_orderkey", _LONG),
        ("l_partkey", _LONG),
        ("l_suppkey", _LONG),
        ("l_linenumber", _INT),
        ("l_quantity", _DOUBLE),
        ("l_extendedprice", _DOUBLE),
        ("l_discount", _DOUBLE),
        ("l_tax", _DOUBLE),
        ("l_returnflag", _STR),
        ("l_linestatus", _STR),
        ("l_shipdate", T.TimestampNTZType()),
    ),
    "events": EVENTS_RAW_SCHEMA,
    "documents": _nullable(
        ("doc_id", _LONG), ("text", _STR), ("lang", _STR), ("source", _STR), ("n_chars", _LONG)
    ),
    "embeddings": _nullable(
        ("vec_id", _LONG), ("embedding", T.ArrayType(T.FloatType(), True)), ("label", _INT)
    ),
}
TESTDATA_TABLES = tuple(TESTDATA_SCHEMAS)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan under the table's declared schema (TESTDATA_SCHEMAS):
    building the frame starts no Spark job; Catalyst still prunes
    columns and pushes predicates into the scan."""
    return spark.read.schema(TESTDATA_SCHEMAS[name]).parquet(
        os.path.join(sf_dir, f"{name}.parquet")
    )


@dataclass
class Tables:
    """Lazy per-table DataFrame access: ``Tables(spark, sf).lineitem``."""

    spark: SparkSession
    sf_dir: str
    _cache: dict = field(default_factory=dict)

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_"):
            raise AttributeError(name)
        if name not in TESTDATA_TABLES:
            raise AttributeError(f"unknown table {name!r}")
        if name not in self._cache:
            self._cache[name] = load_table(self.spark, self.sf_dir, name)
        return self._cache[name]


def register_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] | None = None
) -> None:
    """Register testdata tables as temp views for ``spark.sql``. Pass the
    subset a query actually reads: each view still lists its table's
    files and analyses a scan, so registering all ten tables for a
    one-table query is wasted planning work."""
    for name in tables or TESTDATA_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


# ---------------------------------------------------------------------------
# itdb-domain schemas (FIXTURES.md; reference DDL at itdb.sql:14-114).
# Abridged to the columns the reference's queries touch; the full 70-column
# tracks DDL is itdb.sql:14-84.
# ---------------------------------------------------------------------------

TRACKS_SCHEMA = T.StructType(
    [
        T.StructField("User_ID", T.IntegerType(), False),
        T.StructField("Track_ID", T.IntegerType(), False),
        T.StructField("Name", T.StringType(), True),
        T.StructField("Artist", T.StringType(), True),
        T.StructField("Album_Artist", T.StringType(), True),
        T.StructField("Composer", T.StringType(), True),
        T.StructField("Album", T.StringType(), True),
        T.StructField("Genre", T.StringType(), True),
        T.StructField("Kind", T.StringType(), True),
        T.StructField("Size", T.LongType(), True),
        T.StructField("Total_Time", T.IntegerType(), True),
        T.StructField("Track_Number", T.IntegerType(), True),
        T.StructField("Track_Count", T.IntegerType(), True),
        T.StructField("Disc_Number", T.IntegerType(), True),
        T.StructField("Disc_Count", T.IntegerType(), True),
        T.StructField("Year", T.IntegerType(), True),
        T.StructField("Rating", T.IntegerType(), True),
        T.StructField("Album_Rating", T.IntegerType(), True),
        T.StructField("Play_Count", T.IntegerType(), True),
        T.StructField("Skip_Count", T.IntegerType(), True),
        T.StructField("Compilation", T.BooleanType(), True),
        T.StructField("Loved", T.BooleanType(), True),
        T.StructField("Explicit", T.BooleanType(), True),
        T.StructField("TV_Show", T.BooleanType(), True),
        T.StructField("Movie", T.BooleanType(), True),
        T.StructField("Date_Added", T.TimestampType(), True),
        T.StructField("Date_Modified", T.TimestampType(), True),
        T.StructField("Play_Date_UTC", T.TimestampType(), True),
        T.StructField("Skip_Date", T.TimestampType(), True),
        T.StructField("Release_Date", T.TimestampType(), True),
        T.StructField("Persistent_ID", T.StringType(), True),
        T.StructField("Track_Type", T.StringType(), True),
        T.StructField("Location", T.StringType(), True),
    ]
)

PLAYLISTS_SCHEMA = T.StructType(
    [
        T.StructField("User_ID", T.IntegerType(), False),
        T.StructField("Playlist_ID", T.IntegerType(), False),
        T.StructField("Name", T.StringType(), True),
        T.StructField("Playlist_Persistent_ID", T.StringType(), True),
        T.StructField("Parent_Persistent_ID", T.StringType(), True),
    ]
)

PLAYLIST_TRACKS_SCHEMA = T.StructType(
    [
        T.StructField("User_ID", T.IntegerType(), False),
        T.StructField("Playlist_ID", T.IntegerType(), False),
        T.StructField("Track_ID", T.IntegerType(), False),
    ]
)

PLAYLIST_STATS_SCHEMA = T.StructType(
    [
        T.StructField("User_ID", T.IntegerType(), False),
        T.StructField("Playlist_ID", T.IntegerType(), False),
        T.StructField("Rating", T.IntegerType(), False),  # stars*20 (itdb.sql:107-114)
        T.StructField("Count", T.LongType(), False),
    ]
)

FFPROBE_STREAMS_SCHEMA = T.StructType(
    [
        T.StructField("Persistent_ID", T.StringType(), False),
        T.StructField("stream_index", T.IntegerType(), False),
        T.StructField("stream", T.StringType(), True),  # JSON column (itdbmetadata.py:116-125)
    ]
)

FILES_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("size", T.LongType(), True),
        T.StructField("mtime", T.TimestampType(), True),
        T.StructField("checksum", T.StringType(), True),
    ]
)
