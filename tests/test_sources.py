"""Table loader: the per-session schema memo and the footer row count.

A schema-less ``spark.read.parquet`` starts one Spark job to infer the
schema; ``load_table`` infers each unchanged table once per session and
re-reads it with the remembered schema. These tests pin that a repeat
read starts no job and plans the same relation, that any change to the
bytes or to a type-mapping conf re-infers, and that the memo belongs to
one session. ``parquet_row_count`` is the footer probe the size-gated
operators use; it must answer None, never raise, when it cannot count.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from csv_to_parquet_spark.sources import tables as T


def _jobs(spark, fn, group: str):
    """(result of fn(), number of Spark jobs it started)."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _analyzed(df):
    return df._jdf.queryExecution().analyzed()


def test_repeat_load_starts_no_job_and_plans_the_same_relation(spark, tmp_path):
    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}),
        tmp_path / "region.parquet",
    )
    sf = str(tmp_path)
    first, n_first = _jobs(spark, lambda: T.load_table(spark, sf, "region"), "memo-1")
    again, n_again = _jobs(spark, lambda: T.load_table(spark, sf, "region"), "memo-2")
    assert n_first == 1  # the first read of a table still infers
    assert n_again == 0
    fresh = spark.read.parquet(f"{sf}/region.parquet")
    assert _analyzed(again).sameResult(_analyzed(fresh))
    assert again.schema == first.schema
    # a fresh relation each time (new attribute ids), so self-joins of
    # one table stay unambiguous
    assert str(_analyzed(again).output()) != str(_analyzed(first).output())
    assert sorted(again.collect()) == sorted(fresh.collect())


def test_rewritten_file_reinfers(spark, tmp_path):
    path = tmp_path / "part.parquet"
    pq.write_table(pa.table({"p_partkey": [1, 2]}), path)
    sf = str(tmp_path)
    assert T.load_table(spark, sf, "part").columns == ["p_partkey"]
    # rewritten in place within the same session, likely inside one
    # mtime tick: the footer digest still tells the versions apart
    pq.write_table(pa.table({"p_name": ["x"], "p_size": [3]}), path)
    df = T.load_table(spark, sf, "part")
    assert df.columns == ["p_name", "p_size"]
    assert df.collect()[0].p_name == "x"


def test_overwritten_directory_table_reinfers(spark, tmp_path):
    sf = str(tmp_path)
    path = f"{sf}/nation.parquet"
    spark.createDataFrame([(1, "a")], "n_nationkey INT, n_name STRING").write.parquet(path)
    assert T.load_table(spark, sf, "nation").columns == ["n_nationkey", "n_name"]
    spark.createDataFrame([(2.5,)], "n_score DOUBLE").write.mode("overwrite").parquet(path)
    df = T.load_table(spark, sf, "nation")
    assert df.columns == ["n_score"]
    assert df.collect()[0].n_score == 2.5


def test_type_mapping_conf_is_part_of_the_key(spark, tmp_path):
    path = str(tmp_path / "ev.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([1, 2], pa.timestamp("ns"))}), path, version="2.6"
    )
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(conf, None)
    try:
        spark.conf.set(conf, "true")
        assert dict(T._read_parquet(spark, path).dtypes) == {"ts": "bigint"}
        # the memoized bigint schema must not be served under the other
        # mapping: Spark re-infers and refuses TIMESTAMP(NANOS)
        spark.conf.set(conf, "false")
        with pytest.raises(Exception, match="TIMESTAMP"):
            T._read_parquet(spark, path)
        spark.conf.set(conf, "true")
        _, n = _jobs(spark, lambda: T._read_parquet(spark, path), "memo-conf")
        assert n == 0
    finally:
        if prev is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, prev)


def test_new_session_starts_with_an_empty_memo(spark, tmp_path):
    pq.write_table(pa.table({"s_suppkey": [7]}), tmp_path / "supplier.parquet")
    sf = str(tmp_path)
    T.load_table(spark, sf, "supplier")
    _, n = _jobs(spark, lambda: T.load_table(spark, sf, "supplier"), "memo-s1")
    assert n == 0
    other = spark.newSession()
    _, n = _jobs(other, lambda: T.load_table(other, sf, "supplier"), "memo-s2")
    assert n == 1


def test_remote_relative_and_glob_paths_are_not_memoized():
    assert T._local_path("s3a://bucket/t.parquet") is None
    assert T._local_path("hdfs://nn:8020/t.parquet") is None
    assert T._local_path("rel/t.parquet") is None
    assert T._local_path("/data/*.parquet") is None
    assert T._local_path("file:///data/t.parquet") is None
    assert T._local_path("/data/x/../t.parquet") == "/data/t.parquet"


def test_parquet_row_count(spark, tmp_path):
    one = tmp_path / "one.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3]}), one)
    assert T.parquet_row_count(str(one)) == 3
    # directory table: part files counted, _SUCCESS and .crc skipped
    d = str(tmp_path / "dir.parquet")
    spark.range(10).repartition(2).write.parquet(d)
    assert T.parquet_row_count(d) == 10
    assert T.parquet_row_count(str(tmp_path / "missing.parquet")) is None
    assert T.parquet_row_count("s3a://bucket/t.parquet") is None
    bad = tmp_path / "bad.parquet"
    bad.write_bytes(b"not a parquet file")
    assert T.parquet_row_count(str(bad)) is None
    # right magic, garbage footer: pyarrow raises ArrowInvalid (a
    # ValueError, not an OSError)
    bad.write_bytes(b"PAR1" + b"\x00" * 16 + (8).to_bytes(4, "little") + b"PAR1")
    assert T.parquet_row_count(str(bad)) is None


def test_size_probes_fall_back_on_a_corrupt_footer(tmp_path):
    from csv_to_parquet_spark.operators import dedup

    (tmp_path / "embeddings.parquet").write_bytes(b"PAR1garbagePAR1")
    assert dedup._cos_blocks(str(tmp_path)) == dedup._COS_BLOCKS_MIN
