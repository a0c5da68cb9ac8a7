"""Golden end-to-end conversion tests — FIXTURES.md §A fixtures.

Each fixture pins a reference behavior (converter/converter.go citation
in FIXTURES.md); we convert with the Spark engine and assert exact
schema + values via spark.read.parquet.
"""

from __future__ import annotations

import os
import re
import uuid

import pytest

from csv_to_parquet_spark.convert import converter as conv
from csv_to_parquet_spark.convert.converter import (
    convert_all,
    convert_file,
    infer_file_schema,
    infer_file_schemas,
)
from csv_to_parquet_spark.convert.inference import (
    bool_folded,
    cast_column,
    class_codes,
    format_schema,
)


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


# ---------------------------------------------------------------------------
# Grouped inference: one Spark job samples every file of a batch.
# ---------------------------------------------------------------------------

# name → (content, pinned parity schema); widths 1 to 8
_BATCH = {
    "typed_basic.csv": (
        "id,amount,active,name,signup_date\n"
        "1,19.99,true,alice,2024-01-15\n2,5,false,bob,2024-02-20\n"
        "3,,true,,15/03/2024\n",
        "id:INT64, amount:DOUBLE, active:BOOLEAN, name:UTF8, signup_date:UTF8",
    ),
    "widening.csv": (
        "a,b,c,d,e\n1,true,1,x,1\n2.5,1,true,2,2\n3,false,false,3.5,3\n",
        "a:DOUBLE, b:UTF8, c:UTF8, d:UTF8, e:INT64",
    ),
    "empty_col.csv": ("id,ghost\n1,\n2,\n", "id:INT64, ghost:INT64"),
    "dirty_headers.csv": (
        "\ufeff First Name , order.total,,价格\na,1,x,2\n",
        "First_Name:UTF8, order_total:INT64, column_2:UTF8, 价格:INT64",
    ),
    "ragged.csv": (
        'a,b,c\n1,2,3\n4,5\n6,7,8,9\n"unterm,10,11\n',
        "a:UTF8, b:INT64, c:INT64",
    ),
    "bools.csv": (
        "x1,x2,x3,x4,x5\nTRUE,1e3,+5,0,NaN\nfalse,2.0,-7,1,2.5\n",
        "x1:BOOLEAN, x2:DOUBLE, x3:INT64, x4:INT64, x5:DOUBLE",
    ),
    "dates.csv": (
        "d1,d2,d3,d4,d5,d6\n2024-03-15,15/03/2024,03/15/2024,"
        "2024-03-15T10:30:00,2024-03-15 10:30:00,2024-03-15T10:30:00Z\n",
        "d1:UTF8, d2:UTF8, d3:UTF8, d4:UTF8, d5:UTF8, d6:UTF8",
    ),
    "empties.csv": ('a,b\nx, \ny,"  "\nz,w\n', "a:UTF8, b:UTF8"),
    # extra cells of a narrow file fall into columns it ignores
    "narrow_extra.csv": ("p,q\n1,2,zzz,true\n3,4\n", "p:INT64, q:INT64"),
    "header_only.csv": ("x,y,z\n", "x:INT64, y:INT64, z:INT64"),
    "padded.csv": ('n,m\n"  5  ",1\n', "n:INT64, m:INT64"),
    "dup_headers.csv": (
        "a,a, a ,b\n1,x,2.5,\n",
        "a:INT64, a_1:UTF8, a_2:DOUBLE, b:INT64",
    ),
    "one.csv": ("solo\n1\n", "solo:INT64"),
    "wide.csv": (
        "w1,w2,w3,w4,w5,w6,w7,w8\n1,2,3,4,5,6,7,8\nx,2,3.5,true,,6,7,\n",
        "w1:UTF8, w2:INT64, w3:DOUBLE, w4:UTF8, w5:INT64, w6:INT64, w7:INT64, w8:INT64",
    ),
}
# enhanced mode types the date columns instead of demoting them
_BATCH_ENHANCED = {
    "typed_basic.csv": (
        "id:INT64, amount:DOUBLE, active:BOOLEAN, name:UTF8, signup_date:DATE"
    ),
    "dates.csv": (
        "d1:DATE, d2:DATE, d3:DATE, d4:TIMESTAMP, d5:TIMESTAMP, d6:TIMESTAMP"
    ),
}


@pytest.mark.parametrize("enhanced", [False, True])
def test_grouped_inference_equals_per_file(spark, tmp_path, enhanced):
    d = tmp_path / "batch"
    d.mkdir()
    paths = [_write(d, name, body) for name, (body, _) in _BATCH.items()]
    grouped = {
        os.path.basename(p): format_schema(cols)
        for p, cols in infer_file_schemas(spark, paths, enhanced_dates=enhanced).items()
    }
    alone = {
        os.path.basename(p): _schema_of(spark, p, enhanced_dates=enhanced)
        for p in paths
    }
    assert grouped == alone
    pinned = {n: want for n, (_, want) in _BATCH.items()}
    if enhanced:
        pinned.update(_BATCH_ENHANCED)
    assert grouped == pinned


def test_shared_sample_failure_fails_only_its_file(spark, tmp_path, monkeypatch):
    d = tmp_path / "batch"
    d.mkdir()
    bad = _write(d, "bad.csv", "a,b\n1,2\n")
    _write(d, "good1.csv", "a\n1\n")
    _write(d, "good2.csv", "x,y,z\n1.5,t,3\n")
    scan = conv._scan_samples

    def planted(spark_, stage, staged, *a):
        if bad in staged.values():
            raise RuntimeError("planted sample failure")
        return scan(spark_, stage, staged, *a)

    monkeypatch.setattr(conv, "_scan_samples", planted)
    summary = convert_all(spark, str(d), str(tmp_path / "out"))
    by_name = {os.path.basename(r.input): r for r in summary.results}
    assert by_name["bad.csv"].error == "planted sample failure"
    assert by_name["good1.csv"].ok and by_name["good2.csv"].ok
    assert summary.converted == 2 and summary.failed == 1
    assert sorted(os.listdir(tmp_path / "out")) == ["good1.parquet", "good2.parquet"]


def test_empty_and_bad_utf8_files_fail_alone(spark, tmp_path):
    d = tmp_path / "batch"
    d.mkdir()
    _write(d, "empty.csv", b"")
    _write(d, "bad_utf8.csv", b"a,b\xff\n1,2\n")
    _write(d, "ok.csv", "a,b\n1,2\n")
    summary = convert_all(spark, str(d), str(tmp_path / "out"))
    errors = {os.path.basename(r.input): r.error for r in summary.results}
    assert errors == {
        "bad_utf8.csv": "'utf-8' codec can't decode byte 0xff in position 3: "
        "invalid start byte",
        "empty.csv": "\n[PARSE_EMPTY_STATEMENT] Syntax error, unexpected empty "
        "statement. SQLSTATE: 42617 (line 1, pos 0)\n\n== SQL ==\n\n^^^\n",
        "ok.csv": "",
    }
    assert os.listdir(tmp_path / "out") == ["ok.parquet"]


def _group_jobs(spark, monkeypatch, run):
    """``run()``'s result and the ids of the jobs it ran, pool threads
    included."""
    sc = spark.sparkContext
    group = f"groups-{uuid.uuid4().hex}"

    def tagged(fn):
        def wrapper(*a, **kw):
            sc.setLocalProperty("spark.jobGroup.id", group)
            return fn(*a, **kw)

        return wrapper

    monkeypatch.setattr(conv, "convert_file", tagged(conv.convert_file))
    monkeypatch.setattr(conv, "_write_group", tagged(conv._write_group))
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_convert_all_infers_in_one_job(spark, tmp_path, monkeypatch):
    n = 6
    d = tmp_path / "batch"
    d.mkdir()
    for i in range(n):
        cols = ",".join(f"c{j}" for j in range(i + 1))
        _write(d, f"f{i}.csv", cols + "\n" + ",".join(["1"] * (i + 1)) + "\n")
    summary, jobs = _group_jobs(
        spark, monkeypatch, lambda: convert_all(spark, str(d), str(tmp_path / "out"))
    )
    assert summary.converted == n
    assert len(jobs) <= n + 1, jobs  # one write each plus the shared sample


def test_rows_from_the_written_footers(spark, tmp_path):
    body = "k,v\n" + "".join(f"{i},{i * 2}\n" for i in range(57))
    src = _write(tmp_path, "rows.csv", body)
    one = convert_file(spark, src, str(tmp_path / "one"))
    assert one.ok and one.rows == 57
    parts = convert_file(spark, src, str(tmp_path / "parts"), single_file=False)
    assert parts.ok and parts.rows == 57
    assert os.path.isdir(parts.output)


def test_unreadable_footer_fails_and_keeps_the_source(spark, tmp_path, monkeypatch):
    def promote_garbage(tmp_dir, final_path):
        with open(final_path, "wb") as f:
            f.write(b"not a parquet file")

    monkeypatch.setattr(conv, "_single_file_output", promote_garbage)
    src = _write(tmp_path, "keep.csv", "a\n1\n")
    res = convert_file(spark, src, str(tmp_path / "out"), delete_original=True)
    assert not res.ok and "footer" in res.error
    assert res.rows == -1
    assert os.path.exists(src)
    assert not os.path.exists(res.output)
    assert not os.path.exists(res.output + "._spark_tmp")


def test_single_file_write_skips_the_success_marker(spark, tmp_path, monkeypatch):
    """The promote discards the temp dir's _SUCCESS, so a single-file
    write does not commit one; a directory output still has it."""
    seen = []
    promote = conv._single_file_output

    def spy(tmp_dir, final_path):
        seen.append(sorted(os.listdir(tmp_dir)))
        return promote(tmp_dir, final_path)

    monkeypatch.setattr(conv, "_single_file_output", spy)
    src = _write(tmp_path, "marker.csv", "a\n1\n")
    assert convert_file(spark, src, str(tmp_path / "one")).ok
    (listing,) = seen
    assert [n for n in listing if "_SUCCESS" in n] == []
    assert len([n for n in listing if n.startswith("part-")]) == 1
    parts = convert_file(spark, src, str(tmp_path / "parts"), single_file=False)
    assert parts.ok and os.path.isfile(os.path.join(parts.output, "_SUCCESS"))


# ---------------------------------------------------------------------------
# The inference pass: one narrow projection, no ICU case mapping, no shuffle.
# ---------------------------------------------------------------------------


def test_bool_fold_equals_lower_on_every_bmp_code_point(spark):
    """``bool_folded`` reads 'true'/'false' exactly where ``lower()``
    does: every BMP code point (surrogates aside) alone and in place of
    each letter of "true" and "false", and a list of case-mapping traps."""
    chars = (
        spark.range(0x10000)
        .where("id < 55296 OR id > 57343")  # no lone surrogates
        .selectExpr("decode(unhex(lpad(hex(id), 4, '0')), 'UTF-16BE') AS c")
    )
    words = [
        f"concat(substr('{w}', 1, {p}), c, substr('{w}', {p + 2}))"
        for w in ("true", "false")
        for p in range(len(w))
    ]
    cells = chars.selectExpr(f"explode(array(c, {', '.join(words)})) AS w")

    def literal(folded: str) -> str:
        return f"CASE {folded} WHEN 'true' THEN 1 WHEN 'false' THEN 0 END"

    cmp = cells.selectExpr(
        f"{literal('lower(trim(w))')} AS by_lower",
        f"{literal(bool_folded('trim(w)'))} AS by_translate",
    )
    (r,) = cmp.selectExpr(
        "count(*) AS n",
        "count_if(NOT (by_lower <=> by_translate)) AS differ",
        "count(by_lower) AS literals",
    ).collect()
    assert (r.n, r.differ) == ((0x10000 - 2048) * 10, 0)
    assert r.literals == 2 * (4 + 5)  # each letter, either case

    traps = [
        "TRUE", "tRuE", "FaLsE", " True ", "İ", "ＴＲＵＥ",
        "falſe", "\u212a", "tru\u212a", "\u212aTRUE", "",
    ]
    tf = spark.createDataFrame(list(enumerate(traps)), "i INT, w STRING")
    got = tf.orderBy("i").selectExpr(
        f"{literal('lower(trim(w))')} AS by_lower",
        f"{literal(bool_folded('trim(w)'))} AS by_translate",
    )
    assert [tuple(r) for r in got.collect()] == (
        [(1, 1), (1, 1), (0, 0), (1, 1)] + [(None, None)] * 7
    )


def test_mixed_case_and_padded_bools_keep_their_kinds_and_values(spark, tmp_path):
    """Mixed-case and padded literals type bool and write their values;
    case-mapping look-alikes (fullwidth, dotted İ, long s, the Kelvin
    sign) vote string in the sample and write NULL after it."""
    body = (
        "a,b,c,d,e\n"
        "TRUE,  tRuE  ,True,ＴＲＵＥ,false\n"
        'false," FaLsE ",FALSE,true,TRUE\n'
        "tRUe,,  false,fAlSe,False\n"
        "FALSE,true,falſe,true,\u212aTRUE\n"
        "True,False, TRUE ,İ, fAlSe \n"
    )
    src = _write(tmp_path, "mixed_bools.csv", body)
    assert _schema_of(spark, src, sample_rows=3) == (
        "a:BOOLEAN, b:BOOLEAN, c:BOOLEAN, d:UTF8, e:BOOLEAN"
    )
    res = convert_file(spark, src, str(tmp_path / "out"), sample_rows=3)
    assert res.ok, res.error
    assert [tuple(r) for r in spark.read.parquet(res.output).collect()] == [
        (True, True, True, "ＴＲＵＥ", False),
        (False, False, False, "true", True),
        (True, None, False, "fAlSe", False),
        (False, True, None, "true", None),
        (True, False, True, "İ", False),
    ]


def test_sample_inference_is_one_shuffle_free_stage(spark, tmp_path):
    d = tmp_path / "batch"
    d.mkdir()
    paths = [
        _write(d, "a.csv", "x,y\n1,true\n2,FALSE\n"),
        _write(d, "b.csv", "p\n1.5\n"),
        _write(d, "c.csv", "q,r,s\nz,2,\n"),
    ]
    sc = spark.sparkContext
    group = f"infer-{os.getpid()}-{id(tmp_path)}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        got = infer_file_schemas(spark, paths)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert [format_schema(got[p]) for p in paths] == [
        "x:INT64, y:BOOLEAN",
        "p:DOUBLE",
        "q:UTF8, r:INT64, s:INT64",
    ]
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    (job,) = tracker.getJobIdsForGroup(group)
    (stage,) = tracker.getJobInfo(job).stageIds
    sd = sc._jsc.sc().statusStore().lastStageAttempt(stage)
    assert (sd.shuffleWriteBytes(), sd.shuffleReadBytes()) == (0, 0)


_CASE_MAPPING = re.compile(r"\b(lower|upper|lcase|ucase|initcap|ilike)\(", re.I)


@pytest.mark.parametrize("enhanced", [False, True])
def test_inference_and_casts_never_map_case(spark, enhanced):
    """A case-mapping call would load ICU's tables in every cold run:
    neither the inference projection nor any kind's cast holds one."""
    sample = spark.createDataFrame(
        [("f", "x", " y ")], "_file STRING, _raw0 STRING, _raw1 STRING"
    )
    kinds = ["int64", "float64", "bool", "string", "date", "timestamp"]
    frames = [
        class_codes(sample, "_file", enhanced),
        sample.select(*[cast_column(k, "_raw0").alias(k) for k in kinds]),
    ]
    for df in frames:
        plan = df._jdf.queryExecution().analyzed().toString()
        assert "_raw0" in plan and _CASE_MAPPING.findall(plan) == []


# ---------------------------------------------------------------------------
# A failed conversion keeps the previous output.
# ---------------------------------------------------------------------------


def _previous_outputs(out_dir, names):
    out_dir.mkdir(exist_ok=True)
    for n in names:
        (out_dir / f"{n}.parquet").write_bytes(b"previous " + n.encode())


def test_failed_inference_keeps_the_previous_output(spark, tmp_path):
    src = _write(tmp_path, "a.csv", "x\n1\n")
    out = tmp_path / "out"
    _previous_outputs(out, ["a"])
    res = convert_file(spark, src, str(out), schema=RuntimeError("stored"))
    assert res.error == "stored"
    assert (out / "a.parquet").read_bytes() == b"previous a"


def _failing_promote(tmp_dir, final_path):
    raise RuntimeError("planted promote failure")


def test_failed_promote_through_convert_file_keeps_the_previous_output(
    spark, tmp_path, monkeypatch
):
    src = _write(tmp_path, "a.csv", "x\n1\n")
    out = tmp_path / "out"
    _previous_outputs(out, ["a"])
    monkeypatch.setattr(conv, "_single_file_output", _failing_promote)
    res = convert_file(spark, src, str(out), delete_original=True)
    assert res.error == "planted promote failure"
    assert (out / "a.parquet").read_bytes() == b"previous a"
    assert not os.path.exists(res.output + "._spark_tmp")
    assert os.path.exists(src)


def test_failed_promote_in_a_group_keeps_the_previous_outputs(
    spark, tmp_path, monkeypatch
):
    d = tmp_path / "batch"
    d.mkdir()
    for n in ("a", "b"):
        _write(d, f"{n}.csv", "x,y\n1,2\n3,4\n")
    out = tmp_path / "out"
    _previous_outputs(out, ["a", "b"])
    written = _spy_group_writes(monkeypatch)
    monkeypatch.setattr(conv, "_single_file_output", _failing_promote)
    summary = convert_all(spark, str(d), str(out))
    assert [sorted(w) for w in written] == [sorted(str(d / f) for f in ("a.csv", "b.csv"))]
    assert summary.failed == 2
    assert {r.error for r in summary.results} == {"planted promote failure"}
    assert sorted(os.listdir(out)) == ["a.parquet", "b.parquet"]
    assert (out / "a.parquet").read_bytes() == b"previous a"
    assert (out / "b.parquet").read_bytes() == b"previous b"


# ---------------------------------------------------------------------------
# One write job per schema group: every output equals the per-file write.
# ---------------------------------------------------------------------------


def _spy_group_writes(monkeypatch, fail: bool = False) -> list[dict]:
    """Record each group write's member → partition directory map (or
    raise in its place)."""
    seen: list[dict] = []
    original = conv._write_group

    def spy(spark_, members, *a):
        if fail:
            raise RuntimeError("planted group failure")
        got = original(spark_, members, *a)
        seen.append(got)
        return got

    monkeypatch.setattr(conv, "_write_group", spy)
    return seen


def _parquet_facts(path: str) -> dict:
    """Rows, Arrow schema, Spark's row metadata and per-column non-NULL
    counts of one parquet file."""
    import pyarrow.parquet as pq

    f = pq.ParquetFile(path)
    md = f.metadata
    non_null = {}
    for j in range(md.num_columns):
        nulls = sum(md.row_group(i).column(j).statistics.null_count for i in range(md.num_row_groups))
        non_null[md.schema.column(j).name] = md.num_rows - nulls
    schema = f.schema_arrow
    return {
        "rows": repr(f.read().to_pylist()),  # NaN unequal to itself
        "schema": schema.remove_metadata(),
        "row_metadata": schema.metadata[b"org.apache.spark.sql.parquet.row.metadata"],
        "non_null": non_null,
    }


@pytest.mark.parametrize("enhanced", [False, True])
def test_grouped_write_equals_per_file_write(spark, tmp_path, monkeypatch, enhanced):
    d = tmp_path / "batch"
    d.mkdir()
    for name, (body, _) in _BATCH.items():
        _write(d, name, body)
        _write(d, "copy_" + name, body)
    written = _spy_group_writes(monkeypatch)
    summary = convert_all(spark, str(d), str(tmp_path / "grouped"), enhanced_dates=enhanced)
    assert summary.failed == 0 and summary.converted == 2 * len(_BATCH)
    promoted = {os.path.basename(f) for w in written for f in w}
    # every pair was written by a group except the header-only one
    assert promoted == {
        p + n for n in _BATCH if n != "header_only.csv" for p in ("", "copy_")
    }
    for r in summary.results:
        alone = convert_file(
            spark, r.input, str(tmp_path / "alone"), enhanced_dates=enhanced
        )
        assert alone.ok and alone.rows == r.rows
        assert _parquet_facts(r.output) == _parquet_facts(alone.output), r.input
        with open(r.output, "rb") as g, open(alone.output, "rb") as a:
            assert g.read() == a.read(), r.input
    assert sorted(os.listdir(tmp_path / "grouped")) == sorted(
        os.listdir(tmp_path / "alone")
    )


def test_grouped_write_keeps_row_order(spark, tmp_path, monkeypatch):
    """Ids written ascending stay ascending, also when each file spans
    several scan splits: split by the open cost, or by a split size
    smaller than a file, which still writes the files as one group."""
    import pyarrow.parquet as pq

    d = tmp_path / "batch"
    d.mkdir()
    n = 12_000
    for k in range(3):
        rows = "".join(f"{i},{(i * 7919) % 1000},v{i % 13}\n" for i in range(k, k + n))
        _write(d, f"f{k}.csv", "id,h,s\n" + rows)
    for key in ("spark.sql.files.openCostInBytes", "spark.sql.files.maxPartitionBytes"):
        before = spark.conf.get(key, None)
        spark.conf.set(key, str(64 * 1024))  # split each ~200 KB file
        try:
            with monkeypatch.context() as m:
                written = _spy_group_writes(m)
                summary = convert_all(spark, str(d), str(tmp_path / key))
        finally:
            spark.conf.unset(key) if before is None else spark.conf.set(key, before)
        assert summary.failed == 0 and len(written) == 1 and len(written[0]) == 3, key
        for k, r in enumerate(sorted(summary.results, key=lambda r: r.input)):
            ids = pq.read_table(r.output).column("id").to_pylist()
            assert ids == list(range(k, k + n)), key


def test_same_schema_files_write_in_one_job(spark, tmp_path, monkeypatch):
    """Also for 32 files, more than parquet's writer pool could hold
    open at once: the sorted write keeps one writer open."""
    from csv_to_parquet_spark.plans.inspect import n_ops

    for k in (5, 32):
        d = tmp_path / f"batch{k}"
        d.mkdir()
        for i in range(k):
            _write(d, f"f{i}.csv", "a,b,c\n" + f"{i},x{i},{i}.5\n" * (i + 1))
        out = tmp_path / f"out{k}"
        with monkeypatch.context() as m:
            summary, jobs = _group_jobs(
                spark, m, lambda: convert_all(spark, str(d), str(out))
            )
        assert summary.converted == k
        assert len(jobs) == 2, (k, jobs)  # the shared sample and the group write
        assert sorted(os.listdir(out)) == sorted(f"f{i}.parquet" for i in range(k))
        store = spark._jsparkSession.sharedState().statusStore()
        last = store.executionsList(max(store.executionsCount() - 4, 0), 4)
        plans = [last.apply(i).physicalPlanDescription() for i in range(last.size())]
        (plan,) = [p for p in plans if f"{out}/._spark_groups-" in p]
        assert "WriteFiles" in plan and "Coalesce" in plan
        # one sort, by file tag then row number, and no shuffle
        assert n_ops(plan, "Sort") == 1 and n_ops(plan, "Exchange") == 0, plan
        assert re.search(
            r"^Arguments: \[file#\d+ ASC NULLS FIRST, file_seq#\d+L ASC NULLS FIRST\]",
            plan,
            flags=re.M,
        ), plan


def test_failed_group_write_converts_each_file_alone(spark, tmp_path, monkeypatch):
    d = tmp_path / "batch"
    d.mkdir()
    for i in range(3):
        _write(d, f"f{i}.csv", "a,b\n" + f"{i},{i}\n" * (i + 1))
    _spy_group_writes(monkeypatch, fail=True)
    out = tmp_path / "out"
    summary = convert_all(spark, str(d), str(out))
    assert summary.converted == 3 and summary.failed == 0
    assert [r.rows for r in summary.results] == [1, 2, 3]
    for i, r in enumerate(summary.results):
        assert [tuple(x) for x in spark.read.parquet(r.output).collect()] == [(i, i)] * (i + 1)
    assert sorted(os.listdir(out)) == ["f0.parquet", "f1.parquet", "f2.parquet"]


def test_grouped_awkward_names_and_header_only_member(spark, tmp_path, monkeypatch):
    names = ["a=b", "p%20q", "sp ace", "ünï", "plain"]
    d = tmp_path / "batch"
    d.mkdir()
    for i, n in enumerate(names):
        _write(d, f"{n}.csv", "id,v\n" + "".join(f"{i},{j}\n" for j in range(i + 1)))
    _write(d, "hdr.csv", "id,v\n")
    written = _spy_group_writes(monkeypatch)
    out = tmp_path / "out"
    summary = convert_all(spark, str(d), str(out), delete_original=True)
    assert summary.failed == 0
    (w,) = written
    assert sorted(os.path.basename(f) for f in w) == sorted(f"{n}.csv" for n in names)
    assert sorted(os.listdir(out)) == sorted(f"{n}.parquet" for n in names + ["hdr"])
    for i, n in enumerate(names):
        got = spark.read.parquet(str(out / f"{n}.parquet")).collect()
        assert [tuple(r) for r in got] == [(i, j) for j in range(i + 1)]
    hdr = spark.read.parquet(str(out / "hdr.parquet"))
    assert hdr.count() == 0 and dict(hdr.dtypes) == {"id": "bigint", "v": "bigint"}
    assert os.listdir(d) == []  # every source verified, then deleted


@pytest.mark.parametrize("caller", [None, "2", "64"])
def test_group_writes_leave_the_writer_conf_alone(spark, tmp_path, monkeypatch, caller):
    """The group writes run under the caller's
    ``maxConcurrentOutputFileWriters``, and a pool that raises still
    removes the staging directory."""
    key = "spark.sql.maxConcurrentOutputFileWriters"
    d = tmp_path / "batch"
    d.mkdir()
    for i in range(3):
        _write(d, f"f{i}.csv", f"a\n{i}\n")
    out = tmp_path / "out"
    during = []
    original = conv._write_group

    def spy(spark_, *a):
        during.append(spark_.conf.get(key, None))
        return original(spark_, *a)

    monkeypatch.setattr(conv, "_write_group", spy)
    if caller is not None:
        spark.conf.set(key, caller)
    before = spark.conf.get(key, None)
    try:
        summary = convert_all(spark, str(d), str(out))
        assert summary.converted == 3
        assert during == [before] and spark.conf.get(key, None) == before
        for i, r in enumerate(summary.results):
            assert [tuple(x) for x in spark.read.parquet(r.output).collect()] == [(i,)]

        def failing_convert(*a, **kw):
            raise RuntimeError("planted convert failure")

        monkeypatch.setattr(conv, "convert_file", failing_convert)
        with pytest.raises(RuntimeError, match="planted convert failure"):
            convert_all(spark, str(d), str(out))
        assert len(during) == 2
        assert sorted(os.listdir(out)) == ["f0.parquet", "f1.parquet", "f2.parquet"]
    finally:
        spark.conf.unset(key)


def test_schema_groups_cap_bytes_and_files(tmp_path):
    from csv_to_parquet_spark.convert.converter import InferredColumn, _schema_groups

    ab = [InferredColumn("a", "a", "int64"), InferredColumn("b", "b", "string")]
    ba = [InferredColumn("a", "a", "string"), InferredColumn("b", "b", "int64")]
    sizes = {"f0": 40, "f1": 40, "f2": 40, "f3": 101, "f4": 10, "g0": 5, "g1": 5, "h0": 5}
    files = [_write(tmp_path, f"{n}.csv", b"x" * size) for n, size in sizes.items()]
    schemas = dict(zip(files, [ab] * 5 + [ba, ba, RuntimeError("failed")]))
    names = lambda groups: [[os.path.basename(f)[:2] for f in g] for g in groups]  # noqa: E731
    # f3 is larger than the cap; f0-f2 overflow it
    assert names(_schema_groups(files, schemas, 100)) == [
        ["f0", "f1"], ["f2", "f4"], ["g0", "g1"],
    ]
    assert names(_schema_groups(files, schemas, 1000)) == [
        ["f0", "f1", "f2", "f3", "f4"], ["g0", "g1"],
    ]
    assert _schema_groups(files, schemas, 5) == []  # every file alone


def test_group_cap_leaves_larger_files_to_the_pool(spark, tmp_path, monkeypatch):
    """Same-schema files that together exceed GROUP_BYTES write in their
    own jobs, side by side in the pool; smaller ones still share one."""
    d = tmp_path / "batch"
    d.mkdir()
    body = "id,s\n" + "".join(f"{i},v{i}\n" for i in range(2000))
    for n in ("a", "b", "c"):
        _write(d, f"{n}.csv", body)
    _write(d, "d.csv", "k,v,w\n1,x,2\n")
    _write(d, "e.csv", "k,v,w\n2,y,3\n")
    monkeypatch.setattr(conv, "GROUP_BYTES", len(body) + 100)
    written = _spy_group_writes(monkeypatch)
    summary = convert_all(spark, str(d), str(tmp_path / "out"))
    assert summary.failed == 0 and summary.converted == 5
    assert [sorted(os.path.basename(f) for f in w) for w in written] == [["d.csv", "e.csv"]]
    assert sorted(os.listdir(tmp_path / "out")) == [f"{n}.parquet" for n in "abcde"]


def test_watch_folder_stream_reads_as_the_file_scan(spark, tmp_path):
    """The watch-folder stream reads a CSV in the reference's dialect,
    exactly as ``convert_file``'s scan does."""
    from csv_to_parquet_spark.streaming.jobs import watch_folder_stream

    body = (
        "id,text,tag\n"
        '1,"a,b",x\n'  # quoted delimiter
        '2,"with""esc",y\n'  # doubled quote
        '3,un"quoted,z\n'  # unescaped quote
        "4,short\n"  # short row
        "5,extra,w,more\n"  # extra cell
        "6,   ,v\n"  # whitespace-only cell
    )
    src = _write(tmp_path, "fixture.csv", body)
    cols = infer_file_schema(spark, src)
    batch = conv.read_csv_typed(spark, src, ",", cols).collect()
    watch = tmp_path / "watch"
    watch.mkdir()
    _write(watch, "fixture.csv", body)
    name = f"watch_{uuid.uuid4().hex}"
    q = (
        watch_folder_stream(spark, str(watch), cols)
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    try:
        streamed = spark.table(name).collect()
    finally:
        spark.catalog.dropTempView(name)
    assert streamed == batch
    assert [tuple(r) for r in batch] == [
        (1, "a,b", "x"),
        (2, 'with"esc', "y"),
        (3, 'un"quoted', "z"),
        (4, "short", None),
        (5, "extra", "w"),
        (6, None, "v"),
    ]
