"""Golden end-to-end conversion tests — FIXTURES.md §A fixtures.

Each fixture pins a reference behavior (converter/converter.go citation
in FIXTURES.md); we convert with the Spark engine and assert exact
schema + values via spark.read.parquet.
"""

from __future__ import annotations

import os

import pytest

from csv_to_parquet_spark.convert.converter import (
    convert_all,
    convert_file,
    infer_file_schema,
)
from csv_to_parquet_spark.convert.inference import format_schema


def _write(tmp_path, name: str, content: bytes | str) -> str:
    p = tmp_path / name
    if isinstance(content, str):
        content = content.encode("utf-8")
    p.write_bytes(content)
    return str(p)


def _schema_of(spark, path, **kw) -> str:
    return format_schema(infer_file_schema(spark, path, **kw))


def _roundtrip(spark, tmp_path, name, content, **kw):
    src = _write(tmp_path, name, content)
    res = convert_file(spark, src, str(tmp_path / "out"), **kw)
    assert res.ok, res.error
    return spark.read.parquet(res.output)


def test_a1_typed_basic(spark, tmp_path):
    df = _roundtrip(
        spark,
        tmp_path,
        "typed_basic.csv",
        "id,amount,active,name,signup_date\n"
        "1,19.99,true,alice,2024-01-15\n"
        "2,5,false,bob,2024-02-20\n"
        "3,,true,,15/03/2024\n",
    )
    assert [
        (f.name, f.dataType.simpleString()) for f in df.schema.fields
    ] == [
        ("id", "bigint"),
        ("amount", "double"),
        ("active", "boolean"),
        ("name", "string"),
        ("signup_date", "string"),  # dates stay strings, converter.go:272-275
    ]
    rows = {r.id: r for r in df.collect()}
    assert rows[3].amount is None and rows[3].name is None
    assert rows[1].amount == 19.99 and rows[2].amount == 5.0


def test_a2_widening_lattice(spark, tmp_path):
    src = _write(
        tmp_path,
        "widening.csv",
        "a,b,c,d,e\n1,true,1,x,1\n2.5,1,true,2,2\n3,false,false,3.5,3\n",
    )
    assert (
        _schema_of(spark, src)
        == "a:DOUBLE, b:UTF8, c:UTF8, d:UTF8, e:INT64"
    )


def test_a3_post_sample_violation(spark, tmp_path):
    body = "k,v\n" + "".join(f"{i},{i}\n" for i in range(100)) + "101,notanint\n"
    df = _roundtrip(spark, tmp_path, "post_sample.csv", body, sample_rows=100)
    assert dict(df.dtypes)["v"] == "bigint"
    assert df.count() == 101
    nulls = df.filter(df.v.isNull()).collect()
    assert len(nulls) == 1 and nulls[0].k == 101  # silent NULL, converter.go:393-396


def test_a4_empty_column_stays_int64(spark, tmp_path):
    df = _roundtrip(spark, tmp_path, "empty_col.csv", "id,ghost\n1,\n2,\n")
    assert dict(df.dtypes) == {"id": "bigint", "ghost": "bigint"}
    assert [r.ghost for r in df.collect()] == [None, None]


def test_a5_dirty_headers(spark, tmp_path):
    content = "﻿ First Name , order.total,,价格\na,1,x,2\n".encode()
    src = _write(tmp_path, "dirty_headers.csv", content)
    cols = infer_file_schema(spark, src)
    assert [c.name for c in cols] == ["First_Name", "order_total", "column_2", "价格"]
    assert [c.kind for c in cols] == ["string", "int64", "string", "int64"]


def test_a6_ragged_and_malformed(spark, tmp_path):
    df = _roundtrip(
        spark,
        tmp_path,
        "ragged.csv",
        'a,b,c\n1,2,3\n4,5\n6,7,8,9\n"unterm,10,11\n',
    )
    # the lazy-quote row's first cell is a string → column a widens to
    # UTF8 during inference (inferType would in the reference too)
    assert dict(df.dtypes) == {"a": "string", "b": "bigint", "c": "bigint"}
    by_a = {r.a: r for r in df.collect()}
    # short row → c NULL; long row → extra cell dropped; lazy-quote row kept
    assert by_a["1"].c == 3
    assert by_a["4"].c is None
    assert by_a["6"].c == 8
    assert by_a["unterm,10,11"].b is None
    assert df.count() == 4


def test_a7_delimiters(spark, tmp_path):
    tsv = "id\tamount\n1\t2.5\n"
    src = _write(tmp_path, "d.tsv", tsv)
    assert _schema_of(spark, src, delimiter="\t") == "id:INT64, amount:DOUBLE"
    psv = "id|amount\n1|2.5\n"
    src2 = _write(tmp_path, "d.psv", psv)
    # multi-char delimiter truncates to first byte (converter.go:127-130)
    from csv_to_parquet_spark.config import Settings

    assert Settings(input="x", delimiter="||").delimiter == "|"
    assert _schema_of(spark, src2, delimiter="|") == "id:INT64, amount:DOUBLE"


def test_a8_bools_and_numbers(spark, tmp_path):
    src = _write(
        tmp_path,
        "bools.csv",
        "x1,x2,x3,x4,x5\nTRUE,1e3,+5,0,NaN\nfalse,2.0,-7,1,2.5\n",
    )
    assert (
        _schema_of(spark, src)
        == "x1:BOOLEAN, x2:DOUBLE, x3:INT64, x4:INT64, x5:DOUBLE"
    )


def test_a9_dates_multiformat(spark, tmp_path):
    body = (
        "d1,d2,d3,d4,d5,d6\n"
        "2024-03-15,15/03/2024,03/15/2024,2024-03-15T10:30:00,"
        "2024-03-15 10:30:00,2024-03-15T10:30:00Z\n"
    )
    src = _write(tmp_path, "dates.csv", body)
    # parity: all six stay strings (converter.go:272-275)
    assert _schema_of(spark, src) == (
        "d1:UTF8, d2:UTF8, d3:UTF8, d4:UTF8, d5:UTF8, d6:UTF8"
    )
    # enhanced mode types them
    enhanced = _schema_of(spark, src, enhanced_dates=True)
    assert enhanced == (
        "d1:DATE, d2:DATE, d3:DATE, d4:TIMESTAMP, d5:TIMESTAMP, d6:TIMESTAMP"
    )


def test_a10_directory_mode(spark, tmp_path):
    d = tmp_path / "batch"
    d.mkdir()
    _write(d, "one.csv", "a,b\n1,x\n")
    _write(d, "two.csv", "p,q\n2.5,true\n")
    _write(d, "notes.txt", "not a csv")
    out = tmp_path / "out"
    summary = convert_all(spark, str(d), str(out))
    assert summary.converted == 2 and summary.failed == 0
    assert sorted(os.listdir(out)) == ["one.parquet", "two.parquet"]
    one = spark.read.parquet(str(out / "one.parquet"))
    assert dict(one.dtypes) == {"a": "bigint", "b": "string"}
    two = spark.read.parquet(str(out / "two.parquet"))
    assert dict(two.dtypes) == {"p": "double", "q": "boolean"}
    # sources kept by default
    assert (d / "one.csv").exists()


def test_delete_original(spark, tmp_path):
    src = _write(tmp_path, "del.csv", "a\n1\n")
    res = convert_file(spark, src, str(tmp_path / "out"), delete_original=True)
    assert res.ok
    assert not os.path.exists(src)


def test_empty_string_never_stored(spark, tmp_path):
    # empty/whitespace cell ⇒ NULL even in string columns (converter.go:385-390)
    df = _roundtrip(spark, tmp_path, "empties.csv", 'a,b\nx, \ny,"  "\nz,w\n')
    vals = {r.a: r.b for r in df.collect()}
    assert vals == {"x": None, "y": None, "z": "w"}


# ---------------------------------------------------------------------------
# C1 config/CLI parity — defaults, precedence, and config.yaml auto-load
# pinned against the reference (config/config.go:22-85, README.md:55-85).
# Each row: (cli argv tail, config.yaml body or None, expected attrs).
# All cases chdir into an empty tmp dir so the auto-probe is hermetic.
# ---------------------------------------------------------------------------

_C1_CASES = [
    # pure defaults: delete-by-default like the reference (config.go:26)
    (
        ["-i", "in.csv"],
        None,
        {
            "delete_original": True,
            "log_level": "info",
            "batch_size": 10000,
            "delimiter": ",",
            "sample_rows": 100,
            "output": "",
        },
    ),
    # --keep inverts the delete default (config.go:36,64-66)
    (["-i", "in.csv", "--keep"], None, {"delete_original": False}),
    # config.yaml auto-loads with NO --config flag (config.go:34,46-50)
    (
        ["-i", "cli.csv"],
        "input: file.csv\ndelete_original: false\nbatch_size: 777\n",
        {"input": "cli.csv", "delete_original": False, "batch_size": 777},
    ),
    # config file alone satisfies the input requirement (config.go:80-82)
    (
        [],
        "input: from_yaml.csv\n",
        {"input": "from_yaml.csv", "delete_original": True},
    ),
    # --keep still wins over an explicit config true (config.go:64-66)
    (
        ["--keep"],
        "input: f.csv\ndelete_original: true\n",
        {"delete_original": False},
    ),
    # pflag zero-value rule: 0 / "" CLI values do NOT override the file
    # (config.go:67-78 guard on > 0 / != "")
    (
        ["--batch-size", "0", "--sample-rows", "0"],
        "input: f.csv\nbatch_size: 555\nsample_rows: 42\n",
        {"batch_size": 555, "sample_rows": 42},
    ),
    # non-zero CLI values DO override the file
    (
        ["--batch-size", "9", "--sample-rows", "7", "--delimiter", ";"],
        "input: f.csv\nbatch_size: 555\nsample_rows: 42\ndelimiter: '|'\n",
        {"batch_size": 9, "sample_rows": 7, "delimiter": ";"},
    ),
]


@pytest.mark.parametrize("argv,yaml_body,expected", _C1_CASES)
def test_c1_config_parity(tmp_path, monkeypatch, argv, yaml_body, expected):
    from csv_to_parquet_spark.config import load_settings

    monkeypatch.chdir(tmp_path)
    if yaml_body is not None:
        (tmp_path / "config.yaml").write_text(yaml_body)
    cfg = load_settings(argv)
    for attr, want in expected.items():
        assert getattr(cfg, attr) == want, attr


def test_c1_explicit_config_missing_errors(tmp_path, monkeypatch):
    # an explicitly-passed --config path that can't be read is an error,
    # unlike the tolerated missing default path (config.go:46-50)
    from csv_to_parquet_spark.config import load_settings

    monkeypatch.chdir(tmp_path)
    with pytest.raises(OSError):
        load_settings(["-i", "x.csv", "--config", "nope.yaml"])
    # ...and the missing default path is fine
    assert load_settings(["-i", "x.csv"]).delete_original is True


def _staged_promote(tmp_path, n_parts: int):
    """A temp dir beside final.parquet holding ``n_parts`` part files,
    with an earlier output already at the final path."""
    final = tmp_path / "final.parquet"
    final.write_bytes(b"previous output")
    tmp = tmp_path / "final.parquet._spark_tmp"
    tmp.mkdir()
    (tmp / "_SUCCESS").write_bytes(b"")
    for i in range(n_parts):
        (tmp / f"part-{i:05d}.snappy.parquet").write_bytes(f"new output {i}".encode())
        (tmp / f".part-{i:05d}.snappy.parquet.crc").write_bytes(b"crc")
    return str(tmp), final


@pytest.mark.parametrize("n_parts", [0, 2])
def test_failed_promote_keeps_the_previous_output(tmp_path, n_parts):
    from csv_to_parquet_spark.convert.converter import _single_file_output

    tmp, final = _staged_promote(tmp_path, n_parts)
    with pytest.raises(RuntimeError, match="exactly one part file"):
        _single_file_output(tmp, str(final))
    assert final.read_bytes() == b"previous output"


def test_promote_replaces_the_previous_output(tmp_path):
    from csv_to_parquet_spark.convert.converter import _single_file_output

    tmp, final = _staged_promote(tmp_path, 1)
    _single_file_output(tmp, str(final))
    assert final.read_bytes() == b"new output 0"
    assert not os.path.exists(tmp)
