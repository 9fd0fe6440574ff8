"""``read_table``'s schema memo: one inference job per table version and
schema-conversion conf set, answers identical to a plain parquet read,
footer errors that name the path, and the TIMESTAMP(NANOS) branch."""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from advanced_etl_pipelines_spark.sources.readers import SF_TABLES, read_table

SF01 = "/root/testdata/sf0.01"


def _read_counting_jobs(spark, path):
    """``read_table(spark, path)`` and the number of Spark jobs it submitted."""
    sc = spark.sparkContext
    group = f"test-readers-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read_table")
    try:
        df = read_table(spark, path)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def _write(path, **cols):
    pq.write_table(pa.table(cols), path)


def test_second_read_submits_no_job(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write(path, a=[1, 2, 3])
    df, jobs = _read_counting_jobs(spark, path)
    assert jobs == 1
    df2, jobs2 = _read_counting_jobs(spark, path)
    assert jobs2 == 0
    assert df2.schema == df.schema
    assert sorted(r.a for r in df2.collect()) == [1, 2, 3]


def test_rewritten_file_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write(path, a=[1, 2])
    assert read_table(spark, path).columns == ["a"]
    _write(path, a=[1, 2], b=["x", "y"])
    df, jobs = _read_counting_jobs(spark, path)
    assert jobs == 1
    assert df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "x"), (2, "y")]


def test_schema_conf_change_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write(path, b=pa.array([b"x"], pa.binary()))
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert read_table(spark, path).schema["b"].dataType.typeName() == "binary"
        spark.conf.set(key, "true")
        df, jobs = _read_counting_jobs(spark, path)
        assert jobs == 1
        assert df.schema["b"].dataType.typeName() == "string"
        assert df.collect()[0].b == "x"
    finally:
        spark.conf.set(key, before)


def test_added_part_file_changes_the_key(spark, tmp_path):
    table = tmp_path / "t"
    table.mkdir()
    _write(str(table / "part-0.parquet"), a=[1])
    (table / "_SUCCESS").write_text("")
    read_table(spark, str(table))
    _, jobs = _read_counting_jobs(spark, str(table))
    assert jobs == 0
    _write(str(table / "part-1.parquet"), a=[2])
    df, jobs = _read_counting_jobs(spark, str(table))
    assert jobs == 1
    assert sorted(r.a for r in df.collect()) == [1, 2]


@pytest.mark.parametrize("name", SF_TABLES)
def test_memo_hit_matches_plain_read(spark, name):
    path = os.path.join(SF01, f"{name}.parquet")
    read_table(spark, path)
    hit, jobs = _read_counting_jobs(spark, path)
    assert jobs == 0
    plain = spark.read.parquet(path)
    assert hit.schema == plain.schema
    assert hit.columns == plain.columns
    assert hit.collect() == plain.collect()


def test_missing_path_raises_naming_it(spark, tmp_path):
    path = str(tmp_path / "absent.parquet")
    with pytest.raises(FileNotFoundError, match="absent.parquet"):
        read_table(spark, path)


def test_empty_directory_raises_naming_it(spark, tmp_path):
    table = tmp_path / "empty_table"
    table.mkdir()
    (table / "_SUCCESS").write_text("")
    with pytest.raises(FileNotFoundError, match="empty_table"):
        read_table(spark, str(table))


def test_unreadable_footer_raises_naming_it(spark, tmp_path):
    path = tmp_path / "broken.parquet"
    path.write_bytes(b"not a parquet file")
    with pytest.raises(ValueError, match="broken.parquet"):
        read_table(spark, str(path))


def test_nanos_timestamps_truncate_like_duckdb(spark, tmp_path):
    import duckdb

    path = str(tmp_path / "ns.parquet")
    nanos = [-1999, -1, 0, 1999, 1_700_000_000_123_456_789]
    _write(path, id=list(range(len(nanos))), ts=pa.array(nanos, pa.timestamp("ns")))
    want = [
        r[0]
        for r in duckdb.sql(
            f"SELECT epoch_us(ts::TIMESTAMP) FROM read_parquet('{path}') ORDER BY id"
        ).fetchall()
    ]
    assert want == [-1, 0, 0, 1, 1_700_000_000_123_456]
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key)
    try:
        for expect_jobs in (1, 0):
            df, jobs = _read_counting_jobs(spark, path)
            assert jobs == expect_jobs
            assert df.schema["ts"].dataType.typeName() == "timestamp"
            got = df.orderBy("id").selectExpr("unix_micros(ts) AS us").collect()
            assert [r.us for r in got] == want
    finally:
        spark.conf.set(key, before)
