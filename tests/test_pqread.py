"""Schema-supplied parquet reads (plans/pqread.py).

The helper must be RESULT-IDENTICAL to ``spark.read.parquet``: same
schema (inference rules included: partition column typing, TIMESTAMP_NTZ
for isAdjustedToUTC=false INT64, TIMESTAMP for INT96), same rows. It may
only ever differ by not launching the inference job."""

import datetime
import os

import pytest

from patapsco_spark.plans import pqread


def _check_identical(spark, path):
    inferred = spark.read.parquet(path)
    fast = pqread.read_parquet(spark, path)
    assert fast.schema == inferred.schema, (
        f"{path}: {fast.schema.simpleString()} != "
        f"{inferred.schema.simpleString()}")
    cols = inferred.columns
    a = sorted(map(repr, inferred.collect()))
    b = sorted(map(repr, fast.select(*cols).collect()))
    assert a == b


def test_plain_file_and_types(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    df = spark.createDataFrame(
        [(1, "a", 1.5, [1, 2], bytearray(b"\x00\x01"),
          datetime.datetime(2024, 1, 2, 3, 4, 5))],
        "id long, s string, x double, arr array<int>, b binary, ts timestamp")
    df.write.parquet(p)
    _check_identical(spark, p)
    # INT96 is Spark's default timestamp encoding: the helper must type it
    # TIMESTAMP (LTZ), not NTZ
    assert dict((f.name, f.dataType.simpleString())
                for f in pqread._derive_schema(p).fields)["ts"] == "timestamp"


def test_ntz_timestamp(spark, tmp_path):
    p = str(tmp_path / "ntz.parquet")
    old = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        spark.sql("select timestamp_ntz'2024-01-02 03:04:05' as ts_ntz") \
            .write.parquet(p)
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", old)
    _check_identical(spark, p)


def test_hive_partitioned_int_and_string(spark, tmp_path):
    p = str(tmp_path / "part")
    df = spark.createDataFrame(
        [(i, f"d{i}", i % 3, "eng" if i % 2 else "fra") for i in range(20)],
        "docid long, text string, shard int, lang string")
    df.write.partitionBy("shard", "lang").parquet(p)
    _check_identical(spark, p)
    d = pqread._derive_schema(p)
    types = {f.name: f.dataType.simpleString() for f in d.fields}
    assert types["shard"] == "int" and types["lang"] == "string"
    # partition columns come AFTER the data columns, in directory order
    assert [f.name for f in d.fields] == ["docid", "text", "shard", "lang"]


def test_schema_cache_invalidates_on_rewrite(spark, tmp_path):
    p = str(tmp_path / "rw")
    spark.range(3).write.mode("overwrite").parquet(p)
    assert pqread.read_parquet(spark, p).schema.fieldNames() == ["id"]
    spark.range(3).selectExpr("id", "id * 2 as y") \
        .write.mode("overwrite").parquet(p)
    assert pqread.read_parquet(spark, p).schema.fieldNames() == ["id", "y"]


def test_remote_scheme_falls_back(spark, tmp_path):
    # a scheme the driver-side walker can't touch must not break the read
    p = str(tmp_path / "f.parquet")
    spark.range(2).write.parquet(p)
    _check_identical(spark, "file://" + p)


def test_no_inference_job(spark, tmp_path):
    p = str(tmp_path / "nojob")
    spark.range(10).selectExpr("id", "id * 2 as y").write.parquet(p)
    sc = spark.sparkContext
    sc.setJobGroup("pqread-nojob", "define read")
    n_before = len(sc.statusTracker().getJobIdsForGroup("pqread-nojob"))
    pqread.read_parquet(spark, p)  # define only — no action
    n_after = len(sc.statusTracker().getJobIdsForGroup("pqread-nojob"))
    sc.setJobGroup(None, None)
    assert n_before == n_after == 0


def test_hive_default_partition_falls_back(spark, tmp_path):
    # a NULL partition value is written as __HIVE_DEFAULT_PARTITION__;
    # Spark types the level from the other values and reads the marker as
    # NULL, so the helper must defer to stock inference there
    p = str(tmp_path / "nullpart")
    spark.createDataFrame([(1, 0), (2, None), (3, 1)],
                          "docid long, shard int") \
        .write.partitionBy("shard").parquet(p)
    assert any("__HIVE_DEFAULT_PARTITION__" in d for d in os.listdir(p))
    assert pqread._derive_schema(p) is None
    _check_identical(spark, p)


def test_schema_cache_is_bounded_fifo(spark, tmp_path, monkeypatch):
    # past the cap the OLDEST path goes; reading it again re-derives its
    # schema from the footer (and evicts the next-oldest in turn)
    monkeypatch.setattr(pqread, "_SCHEMA_CACHE", {})
    monkeypatch.setattr(pqread, "_SCHEMA_CACHE_MAX", 3)
    derived = []
    real = pqread._derive_schema
    monkeypatch.setattr(pqread, "_derive_schema",
                        lambda p: derived.append(p) or real(p))
    paths = [str(tmp_path / f"t{i}") for i in range(4)]
    for i, p in enumerate(paths):
        spark.range(i + 1).write.parquet(p)
        pqread.read_parquet(spark, p)
    assert list(pqread._SCHEMA_CACHE) == paths[1:]
    assert derived == paths
    assert pqread.read_parquet(spark, paths[0]).count() == 1
    assert derived == paths + paths[:1]
    assert list(pqread._SCHEMA_CACHE) == paths[2:] + paths[:1]
    pqread.read_parquet(spark, paths[3])  # a hit: no footer read
    assert len(derived) == 5
