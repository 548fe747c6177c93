"""Catalog: declared table schemas.

``catalog.load_table`` binds a declared schema per table instead of
inferring one from the footers on every read. These tests pin the three
properties it rests on: the declared schemas are exactly what Spark
infers from the data (a changed layout fails here, not as a misread),
no table read launches a Spark job, and a TIMESTAMP(NANOS) ``events.ts``
still reads exactly on the declared path.
"""

from __future__ import annotations

import datetime as dt
import itertools
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from dwh_with_dask_spark.catalog import TABLES, load_table, register_views, table_path
from tests.conftest import SF_SMOKE

JOB_GROUP = "spark.jobGroup.id"
_runs = itertools.count()


def schema_drift(spark, sf_dir: str, names) -> dict:
    """Tables whose loaded schema differs from the footer-inferred one."""
    out = {}
    for name in names:
        declared = load_table(spark, sf_dir, name).schema
        inferred = spark.read.parquet(table_path(sf_dir, name)).schema
        if declared != inferred:
            out[name] = (declared.simpleString(), inferred.simpleString())
    return out


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_declared_schemas_match_footers(spark, sf):
    assert schema_drift(spark, os.path.join(os.path.dirname(SF_SMOKE), sf), TABLES) == {}


def jobs_launched(spark, fn) -> int:
    """Spark jobs ``fn`` launches, counted under a job group of its own.

    The status store sees job starts asynchronously but in launch order,
    so a sentinel job run afterwards in a second group is waited for:
    once it is visible, every job ``fn`` launched is visible too."""
    sc = spark.sparkContext
    run = next(_runs)  # groups keep their jobs, so each count gets fresh ones
    group, sentinel = f"test_catalog:jobs:{run}", f"test_catalog:sentinel:{run}"
    prev = sc.getLocalProperty(JOB_GROUP)
    try:
        sc.setLocalProperty(JOB_GROUP, group)
        fn()
        sc.setLocalProperty(JOB_GROUP, sentinel)
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty(JOB_GROUP, prev)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(sentinel):
        assert time.monotonic() < deadline, "sentinel job never reached the status store"
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(group))


def test_table_reads_launch_no_jobs(spark):
    assert jobs_launched(spark, lambda: [load_table(spark, SF_SMOKE, t) for t in TABLES]) == 0
    assert jobs_launched(spark, lambda: register_views(spark, SF_SMOKE)) == 0


def test_nanos_events_read_on_declared_path(spark, tmp_path):
    ns = [1_700_000_000_123_456_789, 1_600_000_000_000_000_999]
    events = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns")),
            "user_id": pa.array([7, 8], pa.int64()),
            "event_type": pa.array(["view", "click"]),
            "value": pa.array([1.5, 2.5]),
            "props": pa.array(["{}", "{}"]),
        }
    )
    pq.write_table(events, tmp_path / "events.parquet", version="2.6")
    assert pq.read_schema(tmp_path / "events.parquet").field("ts").type.unit == "ns"

    df = load_table(spark, str(tmp_path), "events")
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    assert df.columns == events.column_names
    assert jobs_launched(spark, lambda: load_table(spark, str(tmp_path), "events")) == 0
    # epoch-nanos truncated to micros, whatever the session time zone
    want = [dt.datetime(2023, 11, 14, 22, 13, 20, 123456), dt.datetime(2020, 9, 13, 12, 26, 40)]
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("UTC", "America/New_York"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            assert [r.ts for r in df.orderBy("event_id").collect()] == want, tz
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
