"""Parquet table catalog for the driver testdata.

``load_tables`` hands back a dict of DataFrames; each read is a plain
``spark.read.parquet`` with the table's declared schema from
``SCHEMAS``, so no read launches a schema-inference job and Catalyst
keeps predicate pushdown, column pruning and partition pruning on the
scan. The one on-disk choice, the encoding of ``events.ts``, is read
from the parquet footer on the driver. Never materializes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# What Spark infers from the testdata files, column for column
# (tests/test_schemas.py fails on any drift). Declaring them saves one
# inference job per read.
SCHEMAS = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": "c_custkey bigint, c_name string, c_nationkey int, "
    "c_acctbal double, c_mktsegment string",
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
    "part": "p_partkey bigint, p_name string, p_brand string, p_type string, "
    "p_size int, p_retailprice double",
    "orders": "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string",
    "lineitem": "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
    "l_linenumber int, l_quantity double, l_extendedprice double, "
    "l_discount double, l_tax double, l_returnflag string, "
    "l_linestatus string, l_shipdate timestamp_ntz",
    # ts as microsecond files encode it; _events_schema adapts it
    "events": "event_id bigint, ts timestamp_ntz, user_id bigint, "
    "event_type string, value double, props string",
    "documents": "doc_id bigint, text string, lang string, source string, "
    "n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}

# Small dimensions that should always end up on the broadcast side of
# a join (region=5 rows, nation=25 even at sf100).
BROADCAST_DIMS = frozenset({"region", "nation"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _data_file(path: str) -> str | None:
    """``path`` itself, or the first data file of a table directory;
    None when there is no local file (Spark then reports the path)."""
    if not os.path.isdir(path):
        return path if os.path.isfile(path) else None
    files = sorted(f for f in os.listdir(path) if not f.startswith(("_", ".")))
    return os.path.join(path, files[0]) if files else None


def _events_schema(spark: SparkSession, path: str) -> str:
    """``events`` with ``ts`` typed as the footer encodes it: TIMESTAMP
    with isAdjustedToUTC reads as TIMESTAMP, without it as TIMESTAMP_NTZ,
    and TIMESTAMP(NANOS), which the vectorized reader rejects unless
    nanosAsLong is on, as epoch-nanos BIGINT."""
    import pyarrow.parquet as pq

    f = _data_file(path)
    ts = pq.read_schema(f).field("ts").type if f else None
    if ts is None or (ts.unit != "ns" and ts.tz is None):
        return SCHEMAS["events"]
    if ts.unit == "ns":
        # SESSION-WIDE, deliberately: Spark re-reads the conf when it
        # builds the physical plan, so it must stay set until the
        # deferred scan runs. Only nanos-encoded files set it.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        ts_type = "bigint"
    else:
        ts_type = "timestamp"
    return SCHEMAS["events"].replace("ts timestamp_ntz", f"ts {ts_type}")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    # The driver hands queries ITS OWN SparkSession, which may lack
    # session.py's defaults; self-provision the CORRECTNESS-relevant
    # confs here (runtime-settable, idempotent). TZ: queries surface
    # raw TIMESTAMPs (as-of join) and cast NTZ↔TS (window frames,
    # date literals) — a non-UTC host session would shift those
    # relative to the oracle.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = table_path(sf_dir, name)
    if name != "events":
        return spark.read.schema(SCHEMAS[name]).parquet(path)
    df = spark.read.schema(_events_schema(spark, path)).parquet(path)
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        # The data is µs-precision, so the micros conversion is exact
        # (verified: epoch_ns % 1000 == 0). Integer division — float
        # division of epoch-nanos exceeds double precision (53 bits)
        # and lands ±1 µs off.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, TimestampNTZType):
        # Engine contract is TimestampType; with the session TZ pinned
        # to UTC above, the NTZ→LTZ cast preserves every wall-clock
        # field, so oracle comparisons are unchanged. Cast to the
        # explicit DataType instance — the "timestamp" keyword
        # resolves via spark.sql.timestampType, and a host session
        # configured with TIMESTAMP_NTZ would silently no-op the cast.
        df = df.withColumn("ts", F.col("ts").cast(TimestampType()))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose every table as a temp view for spark.sql() queries."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Hive-style partitioned parquet layout: filters on the partition
    columns prune directories at plan time (PartitionFilters in the
    scan), so a day-filter over a year of data reads 1/365th of it."""
    df.write.partitionBy(*partition_cols).mode(mode).parquet(path)
