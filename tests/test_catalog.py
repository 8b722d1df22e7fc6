"""The catalog's per-process Parquet schema cache (``parquet_schema``):
cached opens read the same dtypes Spark infers, launch no job, and re-infer
whenever a file, the file set or a schema-inference conf changes. Fixtures
are written with pyarrow into ``tmp_path``."""

import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import IntegerType

from conceptnetwork_spark.catalog import TABLES, Catalog, fix_nanos, parquet_schema
from tests.conftest import SF_SMOKE

SF_DIRS = tuple(os.path.join(os.path.dirname(SF_SMOKE), f"sf{sf}") for sf in ("0.001", "0.01", "0.1"))


def jobs_launched(spark, fn) -> int:
    """Spark jobs launched by ``fn()``, counted in a job group of its own.

    Job-start events reach the status tracker asynchronously but in order,
    so a marker job in a second group is awaited first: once it is visible,
    every job ``fn`` launched is too."""
    sc = spark.sparkContext
    group, marker = (f"catalog-test-{uuid.uuid4().hex}" for _ in range(2))
    try:
        sc.setJobGroup(group, "catalog test")
        fn()
        sc.setJobGroup(marker, "catalog test marker")
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    for _ in range(600):
        if tracker.getJobIdsForGroup(marker):
            return len(tracker.getJobIdsForGroup(group))
        time.sleep(0.05)
    raise AssertionError("marker job never reached the status tracker")


def write(path, columns: dict, **kw) -> None:
    pq.write_table(pa.table(columns), str(path), **kw)


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_catalog_dtypes_match_inference(spark, sf_dir):
    cat = Catalog(spark, sf_dir)
    for t in TABLES:
        inferred = fix_nanos(spark.read.parquet(cat.path(t)), t)
        assert cat.table(t).dtypes == inferred.dtypes, t


def test_second_catalog_open_launches_no_jobs(spark, tmp_path):
    write(tmp_path / "orders.parquet", {"o_orderkey": [1, 2, 3]})
    sf_dir = str(tmp_path)
    assert jobs_launched(spark, lambda: Catalog(spark, sf_dir).table("orders")) == 1
    assert jobs_launched(spark, lambda: Catalog(spark, sf_dir).table("orders")) == 0
    assert Catalog(spark, sf_dir).orders.collect() == [(1,), (2,), (3,)]


def test_rewritten_file_yields_new_schema(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    write(p, {"a": pa.array([1, 2], pa.int32())}, store_schema=False)
    assert parquet_schema(spark, p).simpleString() == "struct<a:int>"

    # same size, new mtime: only the mtime tells the two files apart
    st = os.stat(p)
    write(p, {"a": pa.array([1.0, 2.0], pa.float32())}, store_schema=False)
    assert os.path.getsize(p) == st.st_size
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert parquet_schema(spark, p).simpleString() == "struct<a:float>"

    # new size
    write(p, {"a": ["x", "y"], "b": [0.5, 1.5]})
    assert parquet_schema(spark, p) == spark.read.parquet(p).schema
    assert parquet_schema(spark, p).simpleString() == "struct<a:string,b:double>"


def test_infer_timestamp_ntz_conf_rekeys(spark, tmp_path):
    # timestamp[us] without a zone: parquet isAdjustedToUTC=false
    p = str(tmp_path / "ts.parquet")
    write(p, {"ts": pa.array([0, 10**6], pa.timestamp("us"))})
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    prev = spark.conf.get(key)
    try:
        for flag, dtype in (("true", "timestamp_ntz"), ("false", "timestamp"), ("true", "timestamp_ntz")):
            spark.conf.set(key, flag)
            assert dict(spark.read.parquet(p).dtypes)["ts"] == dtype
            assert parquet_schema(spark, p) == spark.read.parquet(p).schema, flag
    finally:
        spark.conf.set(key, prev)


def test_merge_schema_conf_rekeys(spark, tmp_path):
    write(tmp_path / "part-0.parquet", {"a": [1]})
    write(tmp_path / "part-1.parquet", {"a": [2], "b": ["x"]})
    d = str(tmp_path)
    key = "spark.sql.parquet.mergeSchema"
    prev = spark.conf.get(key)
    try:
        for flag in ("false", "true", "false"):
            spark.conf.set(key, flag)
            assert parquet_schema(spark, d) == spark.read.parquet(d).schema, flag
        spark.conf.set(key, "true")
        assert parquet_schema(spark, d).fieldNames() == ["a", "b"]
    finally:
        spark.conf.set(key, prev)


def test_added_file_rekeys_stage_directory(spark, tmp_path):
    d = str(tmp_path / "stage")
    os.makedirs(d)
    write(os.path.join(d, "part-1.parquet"), {"a": [1]})
    assert parquet_schema(spark, d).simpleString() == "struct<a:bigint>"
    assert jobs_launched(spark, lambda: parquet_schema(spark, d)) == 0

    write(os.path.join(d, "part-0.parquet"), {"b": ["x"]})
    assert jobs_launched(spark, lambda: parquet_schema(spark, d)) == 1
    assert parquet_schema(spark, d) == spark.read.parquet(d).schema


def test_returned_schema_is_a_private_copy(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    write(p, {"a": [1]})
    parquet_schema(spark, p)  # fills the cache: the next call is a hit
    parquet_schema(spark, p).add("extra", IntegerType())
    assert parquet_schema(spark, p).fieldNames() == ["a"]
