"""Pin the schema-adaptive events loader against BOTH fixture generations.

Round 3 was zeroed by a silent fixture drift: the driver regenerated
``events.parquet`` with parquet TIMESTAMP(NANOS) ``ts`` (which Spark's
vectorized reader only accepts via ``spark.sql.legacy.parquet.nanosAsLong``),
where earlier generations wrote TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ).
``catalog.load_table`` adapts to both; this test writes one tmp parquet of
each generation holding the SAME instants and asserts the loader returns
identical TIMESTAMP values — so the next drift fails a named test instead of
a whole round.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from big_data_toolkit_spark.catalog import load_table
from tests.conftest import jobs_started

INSTANTS = [
    dt.datetime(2024, 1, 1, 0, 0, 0),
    dt.datetime(2024, 3, 15, 12, 34, 56, 789012),
    dt.datetime(2025, 12, 31, 23, 59, 59, 999999),
]


def _write_events(dirname: str, unit: str) -> None:
    """Write a minimal events.parquet with ts at the given timestamp unit."""
    micros = [int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
              for t in INSTANTS]
    if unit == "ns":
        ts = pa.array([m * 1000 for m in micros], type=pa.timestamp("ns"))
    else:
        ts = pa.array(micros, type=pa.timestamp("us"))
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2, 3], type=pa.int64()),
            "user_id": pa.array([10, 20, 30], type=pa.int64()),
            "event_type": pa.array(["a", "b", "c"]),
            "ts": ts,
        }
    )
    os.makedirs(dirname, exist_ok=True)
    pq.write_table(tbl, os.path.join(dirname, "events.parquet"))


@pytest.fixture()
def dual_fixture_dirs(tmp_path):
    micros_dir = str(tmp_path / "micros")
    nanos_dir = str(tmp_path / "nanos")
    _write_events(micros_dir, "us")
    _write_events(nanos_dir, "ns")
    yield micros_dir, nanos_dir
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def test_loader_handles_both_fixture_generations(spark, dual_fixture_dirs):
    micros_dir, nanos_dir = dual_fixture_dirs
    results = {}
    for label, d in (("micros", micros_dir), ("nanos", nanos_dir)):
        df = load_table(spark, d, "events")
        assert isinstance(df.schema["ts"].dataType, T.TimestampType), (
            f"{label}: ts must normalize to TIMESTAMP, "
            f"got {df.schema['ts'].dataType}"
        )
        rows = df.orderBy("event_id").collect()
        results[label] = [r["ts"] for r in rows]
    assert results["micros"] == results["nanos"], (
        "same instants must load identically from both generations"
    )
    # and the values are the instants we wrote (UTC wall clock)
    assert results["micros"] == INSTANTS


def test_loader_restores_nanos_conf(spark, dual_fixture_dirs):
    """The legacy nanosAsLong escape hatch must not leak session-wide:
    after load_table returns, an unrelated nanos parquet read should fail
    fast (Spark rejects TIMESTAMP(NANOS) without the conf), not silently
    yield raw longs."""
    micros_dir, nanos_dir = dual_fixture_dirs
    load_table(spark, nanos_dir, "events").collect()
    assert (
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) != "true"
    )
    with pytest.raises(Exception, match="(?i)nanos|illegal|unsupported"):
        spark.read.parquet(
            os.path.join(nanos_dir, "events.parquet")
        ).collect()


def test_loader_rejects_unaudited_ts_type(spark, tmp_path):
    """A fixture generation with e.g. string ts must fail loud, not cast
    to silent nulls."""
    d = str(tmp_path / "strange")
    os.makedirs(d, exist_ok=True)
    tbl = pa.table(
        {
            "event_id": pa.array([1], type=pa.int64()),
            "ts": pa.array(["2024-01-01 00:00:00"]),
        }
    )
    pq.write_table(tbl, os.path.join(d, "events.parquet"))
    with pytest.raises(TypeError, match="unexpected type"):
        load_table(spark, d, "events")


def test_loader_fails_loud_on_non_utc_session(spark, dual_fixture_dirs):
    """The NTZ->TIMESTAMP cast is only value-preserving under UTC; a reused
    session with a shifted TZ must fail loud, and the loader must NOT
    mutate the session's timezone as a side effect (r5 advice: a library
    reader silently flipping session state is a correctness trap for any
    caller that set a TZ on purpose)."""
    micros_dir, _ = dual_fixture_dirs
    prior = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        with pytest.raises(RuntimeError, match="UTC session timezone"):
            load_table(spark, micros_dir, "events")
        assert (
            spark.conf.get("spark.sql.session.timeZone") == "America/New_York"
        ), "loader must not mutate the session timezone"
    finally:
        spark.conf.set("spark.sql.session.timeZone", prior)
    # and under the pinned-UTC session the load works and is value-exact
    rows = load_table(spark, micros_dir, "events").orderBy("event_id").collect()
    assert [r["ts"] for r in rows] == INSTANTS


def test_repeat_load_starts_no_job(spark, tmp_path):
    """Schema inference is a footer-reading Spark job; the catalog runs it
    once per file fingerprint, so a second load of an unchanged table
    plans with no job and the same schema."""
    d = str(tmp_path)
    pq.write_table(
        pa.table({"l_orderkey": pa.array([1, 2], type=pa.int64())}),
        os.path.join(d, "lineitem.parquet"),
    )
    first, first_jobs = jobs_started(
        spark, lambda: load_table(spark, d, "lineitem")
    )
    second, second_jobs = jobs_started(
        spark, lambda: load_table(spark, d, "lineitem")
    )
    assert first_jobs > 0, "first load must infer the schema"
    assert second_jobs == 0
    assert second.schema == first.schema
    assert sorted(r[0] for r in second.collect()) == [1, 2]


def test_rewritten_table_is_inferred_again(spark, tmp_path):
    """A table rewritten in place at the same path (new size/mtime) must
    load with its new schema, not the cached one."""
    d = str(tmp_path)
    path = os.path.join(d, "lineitem.parquet")
    pq.write_table(
        pa.table({"l_orderkey": pa.array([1, 2], type=pa.int64())}), path
    )
    assert load_table(spark, d, "lineitem").columns == ["l_orderkey"]
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([1, 2], type=pa.int64()),
                "l_tax": pa.array([0.5, 0.25]),
            }
        ),
        path,
    )
    df = load_table(spark, d, "lineitem")
    assert df.columns == ["l_orderkey", "l_tax"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, 0.5), (2, 0.25)]


def test_inference_conf_change_is_inferred_again(spark, tmp_path):
    """The session's parquet inference confs are part of the cache key: a
    binary column reads as string once binaryAsString is on."""
    d = str(tmp_path)
    pq.write_table(
        pa.table({"l_comment": pa.array([b"x"], type=pa.binary())}),
        os.path.join(d, "lineitem.parquet"),
    )
    key = "spark.sql.parquet.binaryAsString"
    prior = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "false")
        plain = load_table(spark, d, "lineitem").schema["l_comment"].dataType
        spark.conf.set(key, "true")
        text = load_table(spark, d, "lineitem").schema["l_comment"].dataType
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)
    assert isinstance(plain, T.BinaryType)
    assert isinstance(text, T.StringType)


def test_repeat_nanos_load_same_rows(spark, dual_fixture_dirs):
    """The cached schema of the nanos fixture (ts as raw bigint under the
    scoped nanosAsLong conf) must convert exactly as the first load did."""
    _, nanos_dir = dual_fixture_dirs
    loads = [
        load_table(spark, nanos_dir, "events").orderBy("event_id").collect()
        for _ in range(2)
    ]
    assert loads[0] == loads[1]
    assert [r["ts"] for r in loads[1]] == INSTANTS


def test_local_table_plans_jvm_local_scan(spark):
    """local_table must plan a LocalTableScan (JVM-resident rows), never a
    Python-RDD scan — the whole point of the helper is that a broadcast
    side built from driver rows costs no Python-worker round-trip at each
    plan execution (measured ~0.4 s per scan on local[32] for the plain
    createDataFrame path)."""
    from big_data_toolkit_spark.catalog import local_table

    df = local_table(
        spark,
        [("web", 3), ("books", 1)],
        "source string, quota long",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan
    rows = {r["source"]: r["quota"] for r in df.collect()}
    assert rows == {"web": 3, "books": 1}
    assert df.schema.simpleString() == "struct<source:string,quota:bigint>"


def test_local_table_empty_rows(spark):
    from big_data_toolkit_spark.catalog import local_table

    df = local_table(spark, [], "a string, b long")
    assert df.count() == 0
    assert df.schema.simpleString() == "struct<a:string,b:bigint>"


def test_local_table_array_column(spark):
    from big_data_toolkit_spark.catalog import local_table

    df = local_table(
        spark,
        [(1, [1.5, -2.0]), (2, [0.0])],
        "cluster long, centroid array<double>",
    )
    got = {r["cluster"]: r["centroid"] for r in df.orderBy("cluster").collect()}
    assert got == {1: [1.5, -2.0], 2: [0.0]}
