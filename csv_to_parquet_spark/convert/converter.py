"""The conversion engine: CSV → Parquet with reference semantics.

Maps the reference's per-file pipeline (converter/converter.go:116-182)
onto Spark:

  discover inputs (S1)  → file / dir glob *.csv
  pass 1 (I1)           → sample-N inference, exact lattice (inference.py):
                          one shuffle-free sample job per convert_all call
  header cleaning (P1)  → clean_headers (headers.py)
  pass 2 (T1/T2/F1/K1)  → all-string scan → try_cast projection → parquet:
                          one write job per group of same-schema files
  verify (V1)           → output non-empty and its parquet footers
                          readable; Result.rows from the footers
  delete original (D1)  → optional, --keep inverts
  summary (A1)          → Result fold with byte savings

Like the reference, each file gets its OWN schema, inferred from its
own first rows (converter/converter.go:133), and its full body is read
once, by the typed pass (:328). Unlike the reference, which samples
each file in its own pass, ``convert_all`` reads every file's header
and sample prefix on the driver (serially; O(sample) each), then
classifies all of them in ONE single-stage Spark job tagged by file
before any write starts (``infer_file_schemas``). Files then convert
concurrently — the reference caps 4 goroutines
(converter/converter.go:91); we submit up to 4 concurrent Spark *jobs*
from a thread pool, and Spark additionally parallelizes each job
across all cores/executors by file splits. At
cluster scale a single huge CSV still converts as a zero-shuffle
scan→project→write pipelined across executors, O(partition) memory.

With single-file output (the CLI default) small files whose inferred
schemas are equal, up to ``GROUP_BYTES`` together, are written by ONE
job per group: one scan of all of them, the same projection, one
single-task sort by file and row number, and a write partitioned by
file into one part file per source, in its input order and
byte-for-byte what the file's own write produces. Each file
still keeps its own schema and output; the per-file step then only
promotes, verifies and deletes.
"""

from __future__ import annotations

import csv as _csv
import glob
import logging
import os
import shutil
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csv_to_parquet_spark.convert.headers import clean_headers
from csv_to_parquet_spark.convert.inference import (
    EMPTY_SAMPLE_KIND,
    InferredColumn,
    cast_column,
    format_schema,
    infer_column_kinds,
)
from csv_to_parquet_spark.sources.tables import parquet_row_count

log = logging.getLogger("csv_to_parquet_spark")

MAX_CONCURRENT_FILES = 4  # reference semaphore cap, converter/converter.go:91
ROW_GROUP_BYTES = 128 * 1024 * 1024  # converter/converter.go:325
#: Input bytes one group write takes at most (see convert_all). A group
#: runs as one task where its files would run side by side in the
#: pool. Four same-schema files in a cold JVM (4 vCPU, medians of 3):
#: one group of 4 MB took 0.16 s more wall than four writes side by
#: side, one of 16 MB 0.85 s more and one of 58 MB 2.5 s more.
GROUP_BYTES = 4 * 1024 * 1024


@dataclass
class Result:
    """Per-file outcome (reference Result, converter/converter.go:21-27)."""

    input: str
    output: str = ""
    input_bytes: int = 0
    output_bytes: int = 0
    rows: int = -1
    error: str = ""
    seconds: float = 0.0

    @property
    def ok(self) -> bool:
        return self.error == ""


@dataclass
class Summary:
    converted: int = 0
    failed: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    results: list[Result] = field(default_factory=list)

    @property
    def mb_saved(self) -> float:
        return (self.input_bytes - self.output_bytes) / (1024 * 1024)


def discover_inputs(input_path: str) -> list[str]:
    """File vs directory-glob discovery (converter/converter.go:66-88)."""
    if os.path.isdir(input_path):
        return sorted(glob.glob(os.path.join(input_path, "*.csv")))
    return [input_path]


def read_raw_header(
    path: str, delimiter: str, charset: str = "UTF-8"
) -> list[str]:
    """Read the raw header row driver-side (tiny read). Keeps the BOM so
    clean_header strips it exactly like the reference (converter.go:203)."""
    with open(path, encoding=charset, newline="") as f:
        reader = _csv.reader(f, delimiter=delimiter)
        for row in reader:
            return row
    return []


def csv_reader(reader, delimiter: str, n_cols: int, charset: str = "UTF-8"):
    """``reader`` (``spark.read`` or ``spark.readStream``) set up for the
    all-string scan of ``n_cols`` columns ``_raw<i>`` in the reference's
    CSV dialect: PERMISSIVE (short rows → trailing NULLs, extra cells
    dropped — converter.go:383-386) and STOP_AT_DELIMITER
    unescaped-quote handling (≈ Go LazyQuotes, converter.go:194)."""
    schema = ", ".join(f"`_raw{i}` STRING" for i in range(n_cols))
    return (
        reader.option("header", True)
        .option("sep", delimiter)
        .option("mode", "PERMISSIVE")
        .option("unescapedQuoteHandling", "STOP_AT_DELIMITER")
        # RFC-4180 doubled-quote escaping inside quoted fields, like
        # Go encoding/csv (converter.go:192-194); Spark's default
        # escape is backslash, which Go CSV does not use.
        .option("escape", '"')
        .option("encoding", charset)
        .option("enforceSchema", True)
        .schema(schema)
    )


def read_csv_raw(
    spark: SparkSession,
    path: str | list[str],
    delimiter: str,
    n_cols: int,
    charset: str = "UTF-8",
) -> DataFrame:
    """All-string CSV scan (:func:`csv_reader`) of ``path``."""
    return csv_reader(spark.read, delimiter, n_cols, charset).csv(path)


def read_csv_typed(
    spark: SparkSession,
    path: str,
    delimiter: str,
    cols: list[InferredColumn],
    charset: str = "UTF-8",
) -> DataFrame:
    """Pass 2: the conversion scan.

    All-string CSV scan plus ONE codegen'd trim/try_cast projection —
    exactly the reference's parse order (CSV-parse, then TrimSpace,
    then per-type parse, converter.go:380-412). This order matters: a
    typed CSV read looks faster (the parser casts in place) but its
    whitespace handling never reaches inside quoted fields, so a
    quoted padded numeric like ``"  5  "`` would silently null where
    the reference stores 5. The projection reproduces silent-NULL cast
    semantics: unparseable ⇒ NULL, empty/whitespace-only ⇒ NULL in
    every type, short rows pad, extra cells drop (PERMISSIVE).
    """
    raw = read_csv_raw(spark, path, delimiter, len(cols), charset)
    return raw.select(*_typed_columns(cols))


def _typed_columns(cols: list[InferredColumn]) -> list:
    """The trim/try_cast projection of a raw scan's ``_raw<i>`` columns."""
    return [cast_column(c.kind, f"_raw{i}").alias(c.name) for i, c in enumerate(cols)]


def _head_lines(path: str, n: int, charset: str = "UTF-8") -> list[str]:
    """First ``n`` physical lines of the file, terminators stripped —
    the driver-side sample read. Legitimately a bounded driver read:
    the reference samples exactly this prefix (converter.go:218-224),
    and ``multiLine`` is false everywhere so Spark's own CSV scan also
    treats raw newlines as record separators — line-based sampling
    sees the same records the distributed parse will."""
    out: list[str] = []
    with open(path, encoding=charset, errors="replace", newline="") as f:
        for i, line in enumerate(f):
            if i >= n:
                break
            out.append(line.rstrip("\r\n"))
    return out


def infer_file_schemas(
    spark: SparkSession,
    paths: list[str],
    delimiter: str = ",",
    sample_rows: int = 100,
    enhanced_dates: bool = False,
    charset: str = "UTF-8",
) -> dict[str, list[InferredColumn] | Exception]:
    """Pass 1: sample-bounded exact-lattice inference (converter.go:185-239)
    of a batch of files in ONE Spark job: one stage, no shuffle.

    Each file's sample is its first ``sample_rows`` records read
    DRIVER-SIDE and parsed through the SAME Spark CSV reader as the full
    pass (identical univocity options — PERMISSIVE/quote semantics, the
    source charset). A ``.limit(n)`` over the file scan looks equivalent
    but plans a LocalLimit in EVERY split: measured ~0.8 s of 32 task
    launches each opening the 158 MB file at sf0.1, and at 100 TB it
    would launch the full scan stage — thousands of tasks to sample 100
    rows. The prefix read is O(sample) always.

    Every prefix is staged as its own file in one temp directory, read
    by ONE raw scan at the widest file's column count W with each row
    tagged by its source file, and classified by one projection whose
    class bits the driver sums per file. That equals inferring each
    file alone: a file with n < W columns reads its first n columns
    with the same tokenisation as a read at width n (a short row still
    pads with NULL; extra cells land in columns ≥ n, which that file
    ignores), and a file whose sample
    has no data row is absent from the result, so its columns take the
    empty-sample kind.

    Returns, per path, the file's columns or the exception it raised. A
    failure reading one file's header or prefix is that file's alone; if
    the shared job raises, every file is inferred again as a batch of
    one, so only a file whose own sample makes Spark fail gets an error.
    A file without header cells has no columns (``[]``).
    """
    out: dict[str, list[InferredColumn] | Exception] = {}
    headers: dict[str, list[str]] = {}
    staged: dict[str, str] = {}  # staged file name → source path
    kinds: dict[str, dict[str, str]] = {}
    failed: Exception | None = None
    stage = tempfile.mkdtemp(prefix="csv-samples-")
    try:
        for i, path in enumerate(paths):
            try:
                raw = read_raw_header(path, delimiter, charset)
                if raw:
                    # re-encoded in the SOURCE charset so the sample parse
                    # decodes the exact bytes the full pass will; named by
                    # index, as Spark skips names starting with _ or .
                    name = f"{i}.csv"
                    lines = _head_lines(path, sample_rows + 1, charset)  # +1: header
                    with open(
                        os.path.join(stage, name), "w", encoding=charset, newline=""
                    ) as f:
                        f.write("\n".join(lines))
                    staged[name] = path
                headers[path] = raw
            except Exception as e:  # this file's failure, raised by convert_file
                out[path] = e
        if staged:
            width = max(len(headers[p]) for p in staged.values())
            try:
                kinds = _scan_samples(
                    spark, stage, staged, width, delimiter, enhanced_dates, charset
                )
            except Exception as e:  # contained per file below
                failed = e
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    if failed is not None and len(headers) > 1:
        # one file's sample must not fail its siblings: infer each alone
        for path in headers:
            out.update(
                infer_file_schemas(
                    spark, [path], delimiter, sample_rows, enhanced_dates, charset
                )
            )
    elif failed is not None:
        out.update(dict.fromkeys(headers, failed))
    else:
        for path, raw in headers.items():
            names = clean_headers(raw)
            got = kinds.get(path, {})
            out[path] = [
                InferredColumn(names[i], raw[i], got.get(f"_raw{i}", EMPTY_SAMPLE_KIND))
                for i in range(len(raw))
            ]
    return {p: out[p] for p in paths}


def _scan_samples(
    spark: SparkSession,
    stage: str,
    staged: dict[str, str],
    width: int,
    delimiter: str,
    enhanced_dates: bool,
    charset: str,
) -> dict[str, dict[str, str]]:
    """The shared sample job: one raw scan of the staged prefixes in
    directory ``stage`` (file name → source path in ``staged``) at
    ``width`` columns, tagged by file → {source path: {raw column: kind}}.
    The staging is a local directory, NOT sc.parallelize(lines): a
    Python-RDD-backed CSV scan routes every action through a Python
    worker round trip (measured ~0.7 s per inference at sf0.1); the
    file scan is pure JVM."""
    sample = read_csv_raw(spark, stage, delimiter, width, charset).withColumn(
        "_file", F.col("_metadata.file_name")
    )
    by_file = infer_column_kinds(sample, "_file", enhanced_dates)
    return {staged[name]: k for name, k in by_file.items()}


def infer_file_schema(
    spark: SparkSession,
    path: str,
    delimiter: str = ",",
    sample_rows: int = 100,
    enhanced_dates: bool = False,
    charset: str = "UTF-8",
) -> list[InferredColumn]:
    """One file's schema: :func:`infer_file_schemas` over a batch of one,
    raising that file's error."""
    cols = infer_file_schemas(
        spark, [path], delimiter, sample_rows, enhanced_dates, charset
    )[path]
    if isinstance(cols, Exception):
        raise cols
    return cols


def _single_file_output(tmp_dir: str, final_path: str) -> None:
    """Promote Spark's part-file to a single <base>.parquet (K2 parity —
    the reference maps 1 CSV → 1 parquet file, converter.go:107-114).

    One same-directory ``os.replace`` (the temp dir sits beside the
    final path): a reader sees the old file or the new one, never
    neither, and a failed promote leaves the old output in place."""
    parts = [p for p in glob.glob(os.path.join(tmp_dir, "part-*")) if not p.endswith(".crc")]
    if len(parts) != 1:
        raise RuntimeError(f"expected exactly one part file in {tmp_dir}, got {parts}")
    os.replace(parts[0], final_path)
    shutil.rmtree(tmp_dir, ignore_errors=True)


def output_path_for(input_file: str, output_dir: str | None) -> str:
    """<dir>/<base>.parquet (reference outputPath, converter.go:107-114)."""
    base = os.path.splitext(os.path.basename(input_file))[0] + ".parquet"
    d = output_dir if output_dir else os.path.dirname(input_file)
    return os.path.join(d, base)


def convert_file(
    spark: SparkSession,
    input_file: str,
    output_dir: str | None = None,
    delimiter: str = ",",
    sample_rows: int = 100,
    delete_original: bool = False,
    single_file: bool = True,
    enhanced_dates: bool = False,
    charset: str = "UTF-8",
    *,
    schema: list[InferredColumn] | Exception | None = None,
    written: str | None = None,
) -> Result:
    """Convert one CSV file (reference convertFile, converter.go:116-182).

    ``schema`` is the file's entry of an :func:`infer_file_schemas`
    batch (columns, or the exception its inference raised, which fails
    this file); None infers the file on its own. ``written`` is a
    directory beside the output already holding this file's single
    part file (a group write's partition directory, see
    :func:`convert_all`): the call promotes it instead of writing.

    On failure the output path is removed only if this call replaced
    it, so a file that fails before its promote keeps the previous
    output."""
    t0 = time.monotonic()
    res = Result(input=input_file)
    out = output_path_for(input_file, output_dir)
    promoted = False  # whether this call has replaced ``out``
    try:
        res.input_bytes = os.path.getsize(input_file)
        res.output = out

        cols = schema if schema is not None else infer_file_schema(
            spark, input_file, delimiter, sample_rows, enhanced_dates, charset
        )
        if isinstance(cols, Exception):
            raise cols
        log.debug("schema for %s: %s", input_file, format_schema(cols))

        target = out + "._spark_tmp" if single_file else out
        if written is None:
            typed = read_csv_typed(spark, input_file, delimiter, cols, charset)
            os.makedirs(os.path.dirname(out) or ".", exist_ok=True)
            writer = typed.coalesce(1) if single_file else typed
            write = writer.write.mode("overwrite").option(
                "parquet.block.size", ROW_GROUP_BYTES
            )
            if single_file:
                # the promote discards the temp dir's _SUCCESS marker; not
                # writing it saves the committer's forked chmod calls
                # (RawLocalFileSystem.setPermission without native IO)
                write = write.option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
            promoted = not single_file  # an overwrite replaces the directory in place
            write.parquet(target)
        if single_file:
            _single_file_output(written or target, out)
            promoted = True

        # V1: verify output exists and is non-empty (converter.go:161-166),
        # and that its parquet footers are readable: they give Result.rows
        if single_file:
            res.output_bytes = os.path.getsize(out)
        else:
            res.output_bytes = sum(
                os.path.getsize(p) for p in glob.glob(os.path.join(out, "*.parquet"))
            )
        if res.output_bytes == 0:
            raise RuntimeError(f"output {out} is empty")
        rows = parquet_row_count(os.path.abspath(out))
        if rows is None:
            raise RuntimeError(f"output {out} has no readable parquet footer")
        res.rows = rows

        if delete_original:  # D1, converter.go:169-175
            try:
                os.remove(input_file)
            except OSError as e:
                log.warning("could not delete original %s: %s", input_file, e)
    except Exception as e:  # V2: partial-output cleanup (converter.go:153-158)
        res.error = str(e)
        for p in [out + "._spark_tmp"] + ([out] if promoted else []):
            if os.path.exists(p):
                shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) else os.remove(p)
    res.seconds = time.monotonic() - t0
    return res


def _schema_groups(
    files: list[str],
    schemas: dict[str, list[InferredColumn] | Exception],
    max_bytes: int,
) -> list[list[str]]:
    """Files to write together: same cleaned column names and kinds in
    order, packed in file order into groups of at most ``max_bytes``,
    so a file larger than ``max_bytes`` never joins a group. Files that
    failed inference, have no columns or end up alone are not in any
    group."""
    by_schema: dict[tuple, list[str]] = {}
    for f in files:
        cols = schemas[f]
        if isinstance(cols, Exception) or not cols:
            continue
        by_schema.setdefault(tuple((c.name, c.kind) for c in cols), []).append(f)
    groups: list[list[str]] = []
    for members in by_schema.values():
        group: list[str] = []
        size = 0
        for f in members:
            try:
                n = os.path.getsize(f)
            except OSError:  # convert_file reports it
                continue
            if n > max_bytes:
                continue
            if size + n > max_bytes:
                groups.append(group)
                group, size = [], 0
            group.append(f)
            size += n
        groups.append(group)
    return [g for g in groups if len(g) > 1]


def _write_group(
    spark: SparkSession,
    members: list[str],
    cols: list[InferredColumn],
    target: str,
    delimiter: str,
    charset: str,
) -> dict[str, str]:
    """Write same-schema files in ONE Spark job: one raw scan of all of
    them (``header`` drops each file's own header), the same typed
    projection as :func:`read_csv_typed`, and a ``coalesce(1)`` write
    partitioned by a small-integer file tag into ``target``.

    The one task numbers its rows in scan order, which within a file is
    input order, and sorts them by (tag, number): the write's required
    order by tag is then met, so Spark adds no sort of its own and
    writes one member at a time through one open parquet writer. Each
    member's rows land in its own part file, in input order because the
    sort key says so, encoded as the per-file write would encode them;
    neither the tag nor the number is stored in the file. The sort
    holds at most ``GROUP_BYTES`` of input. Returns member → its
    partition directory; a member without one (no data rows) is
    absent."""
    raw = read_csv_raw(spark, members, delimiter, len(cols), charset)
    # Spark's file names are URI-escaped ('%' → %25, ' ' → %20): map
    # them back through the scan's own file list
    spark_name = {}
    for uri in raw.inputFiles():
        name = uri.rsplit("/", 1)[-1]
        spark_name[unquote(name)] = name
    keys = []
    for i, f in enumerate(members):
        name = spark_name.get(os.path.basename(f))
        if name is not None:  # else its rows get no tag: it writes alone
            keys += [F.lit(name), F.lit(i)]
    taken = {c.name.lower() for c in cols}
    tag, seq = "file", "file_seq"
    while tag in taken or seq in taken:
        tag, seq = tag + "_", seq + "_"
    typed = raw.select(
        *_typed_columns(cols),
        F.create_map(*keys)[F.col("_metadata.file_name")].alias(tag),
    )
    (
        typed.coalesce(1)
        .withColumn(seq, F.monotonically_increasing_id())
        .sortWithinPartitions(tag, seq)
        .drop(seq)
        .write.partitionBy(tag)
        .option("parquet.block.size", ROW_GROUP_BYTES)
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .parquet(target)
    )
    parts = {f: os.path.join(target, f"{tag}={i}") for i, f in enumerate(members)}
    return {f: d for f, d in parts.items() if os.path.isdir(d)}


@contextmanager
def _group_staging(out_dir: str, groups: list[list[str]]):
    """A staging directory beside the outputs (same filesystem, so each
    promote is one ``os.replace``), removed on exit. Yields None when
    there is no group or the directory cannot be made."""
    if not groups:
        yield None
        return
    try:
        os.makedirs(out_dir, exist_ok=True)
        stage = tempfile.mkdtemp(prefix="._spark_groups-", dir=out_dir)
    except OSError as e:  # each file converts, and reports, alone
        log.warning("cannot stage group writes in %s: %s", out_dir, e)
        yield None
        return
    try:
        yield stage
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def convert_all(
    spark: SparkSession,
    input_path: str,
    output_dir: str | None = None,
    delimiter: str = ",",
    sample_rows: int = 100,
    delete_original: bool = False,
    single_file: bool = True,
    enhanced_dates: bool = False,
    charset: str = "UTF-8",
) -> Summary:
    """Convert a file or a directory of CSVs (reference ConvertAll,
    converter.go:66-105): each file keeps its own inferred schema and
    output, all of them inferred by one Spark job before any write
    starts, then up to ``MAX_CONCURRENT_FILES`` write jobs in flight.

    With ``single_file`` (the CLI default) small files of the same
    schema, at most ``GROUP_BYTES`` together, are written by one job
    per group (:func:`_schema_groups`, :func:`_write_group`) into a
    staging directory beside the outputs; then :func:`convert_file`
    promotes, verifies and (optionally) deletes each file once, exactly
    as after its own write. A member the group wrote no rows for
    converts alone, and if a group's job raises, every member converts
    alone."""
    files = discover_inputs(input_path)
    summary = Summary()
    if not files:
        log.warning("no CSV files found in %s", input_path)
        return summary
    schemas = infer_file_schemas(
        spark, files, delimiter, sample_rows, enhanced_dates, charset
    )
    groups = _schema_groups(files, schemas, GROUP_BYTES) if single_file else []
    grouped = {f for g in groups for f in g}
    units = groups + [[f] for f in files if f not in grouped]
    out_dir = os.path.dirname(output_path_for(files[0], output_dir)) or "."

    with _group_staging(out_dir, groups) as stage:

        def _unit(i: int, members: list[str]) -> list[Result]:
            written: dict[str, str] = {}
            if stage is not None and len(members) > 1:
                t0 = time.monotonic()
                try:
                    written = _write_group(
                        spark,
                        members,
                        schemas[members[0]],
                        os.path.join(stage, str(i)),
                        delimiter,
                        charset,
                    )
                except Exception as e:  # contained: each member writes alone
                    log.warning("group write of %d files failed: %s", len(members), e)
                else:
                    log.info(
                        "wrote %d files of one schema in one job (%.1fs)",
                        len(members),
                        time.monotonic() - t0,
                    )
            return [
                convert_file(
                    spark,
                    f,
                    output_dir,
                    delimiter,
                    sample_rows,
                    delete_original,
                    single_file,
                    enhanced_dates,
                    charset,
                    schema=schemas[f],
                    written=written.get(f),
                )
                for f in members
            ]

        with ThreadPoolExecutor(max_workers=MAX_CONCURRENT_FILES) as pool:
            done = list(pool.map(_unit, range(len(units)), units))
    by_file = {r.input: r for rs in done for r in rs}
    results = [by_file[f] for f in files]

    for r in results:  # A1 summary fold (main.go:35-59)
        summary.results.append(r)
        if r.ok:
            summary.converted += 1
            summary.input_bytes += r.input_bytes
            summary.output_bytes += r.output_bytes
        else:
            summary.failed += 1
            log.error("failed: %s: %s", r.input, r.error)
    return summary
