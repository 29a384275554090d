"""Declared schemas: every table ``io.load_table`` reads and every
version the state store reads carries a schema the program declares,
so no read launches a schema-inference job. Each declaration must
equal what inference gives (names, types, nullability and order), so
a drift in the data or in the declaration fails here."""

from __future__ import annotations

import itertools
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from perfbench import tables as perf_tables
from tests.conftest import SF_DIR
from trello_github_etl_spark import io
from trello_github_etl_spark.plans.state_store import VersionedStateStore

_groups = itertools.count()


def _jobs(spark, fn):
    """(fn(), the ids of the jobs fn launched), via a job group of its
    own and the status tracker."""
    sc = spark.sparkContext
    group = f"declared-reads-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def generated_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("perf_tables"))
    perf_tables.write_tables(perf_tables.build_tables(1, 0.001), d)
    return d


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1", "generated"])
def test_declared_schemas_equal_inferred(spark, sf, request):
    if sf == "generated":
        sf_dir = request.getfixturevalue("generated_dir")
    else:
        sf_dir = os.path.join(os.path.dirname(SF_DIR), sf)

    def declared(ddl):
        return spark.createDataFrame([], ddl).schema

    for name in io.TABLES:
        inferred = spark.read.parquet(io.table_path(sf_dir, name)).schema
        assert declared(io.SCHEMAS[name]) == inferred, (name, sf_dir)
    events = io.table_path(sf_dir, "events")
    assert declared(io._events_schema(spark, events)) == (
        spark.read.parquet(events).schema
    )


def test_loading_all_tables_launches_no_job(spark):
    # the measurement sees the job an inferring read launches
    _, inferring = _jobs(
        spark, lambda: spark.read.parquet(io.table_path(SF_DIR, "orders"))
    )
    assert inferring
    frames, jobs = _jobs(spark, lambda: io.load_tables(spark, SF_DIR))
    assert jobs == []
    assert set(frames) == set(io.TABLES)
    assert isinstance(frames["events"].schema["ts"].dataType, TimestampType)


@pytest.mark.parametrize("encoding", [pa.timestamp("ns"), pa.timestamp("us", "UTC")])
def test_events_timestamp_encodings_load_exact(spark, tmp_path, encoding):
    """A TIMESTAMP(NANOS) file (nanosAsLong plus the integer micros
    conversion) and a UTC-adjusted one both load as TimestampType with
    the testdata's exact microsecond values."""
    src = pq.read_table(io.table_path(SF_DIR, "events"))
    i = src.schema.get_field_index("ts")
    pq.write_table(
        src.set_column(i, "ts", src.column("ts").cast(encoding)),
        io.table_path(str(tmp_path), "events"),
    )
    got = io.load_table(spark, str(tmp_path), "events")
    want = io.load_table(spark, SF_DIR, "events")
    assert got.schema == want.schema
    assert isinstance(got.schema["ts"].dataType, TimestampType)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0


def test_state_store_read_declares_the_inferred_schema(spark, tmp_path):
    store = VersionedStateStore(str(tmp_path / "state"))
    schema = StructType(
        [
            StructField("entity_id", StringType(), False),
            StructField("n", IntegerType(), False),
            StructField("xs", ArrayType(DoubleType(), False), False),
            StructField("m", MapType(StringType(), IntegerType(), False)),
            StructField(
                "s",
                StructType(
                    [
                        StructField("t", StringType(), False),
                        StructField("u", LongType(), False),
                    ]
                ),
                False,
            ),
        ]
    )
    df = spark.createDataFrame([("a", 1, [1.5], {"k": 2}, ("x", 3))], schema)
    store.commit(df)
    store.commit(df.limit(0))
    read, jobs = _jobs(spark, lambda: store.read(spark))
    assert jobs == []
    for v in (1, 2):
        assert store.read(spark, v).schema == spark.read.parquet(store._dir(v)).schema
    assert [tuple(r) for r in store.read(spark, 1).collect()] == [
        tuple(r) for r in df.collect()
    ]
    assert read.count() == 0
    # vacuum keeps exactly the schemas of the versions it keeps
    store.vacuum(keep_last=1)
    assert sorted(store._read_manifest()["schemas"]) == ["2"]
    assert not os.path.exists(store._dir(1))
    assert store.read(spark).schema == spark.read.parquet(store._dir(2)).schema
