"""Registry over the driver's parquet star schema (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under a scale-factor dir.

Scale posture: ``spark.read.parquet`` gives Catalyst a FileSourceScan
with predicate pushdown + column pruning for free; nothing here caches
data or collects. At 100 TB these would be partitioned parquet/iceberg
directories — the loader takes any path glob, so nothing changes.

Schema memo: a schema-less ``spark.read.parquet`` starts one Spark job
to read a footer and infer the schema, and every catalog query loads
its tables afresh. :func:`load_table` therefore remembers each table's
inferred ``StructType`` per SparkSession (in memory only; a new session
or process starts empty) and re-reads an unchanged table with
``spark.read.schema(memo).parquet(path)``: a fresh relation with new
attribute ids, the same plan, and no job. Only the schema is shared,
never a DataFrame — self-joins of one table need distinct relations.
The first read of each table file in a session still costs its job.
The memo key is the path, a signature of the bytes on disk, and the
session's values of :data:`_SCHEMA_CONFS`:

- a single local file: size, ``mtime_ns``, inode and a digest of the
  footer (the footer holds the schema, and covers a rewrite inside one
  coarse mtime tick);
- a local directory table: relative path, size, ``mtime_ns`` and inode
  of every file under it, so adding, removing or rewriting any part
  file re-infers;
- a URI (remote or ``file:``), a glob, a relative path or an unreadable
  table is never memoized and takes the plain read.

Session-conf pinning: queries may run under a SparkSession we did not
build (the verify driver's), so :func:`ensure_session_confs` pins the
runtime-settable confs our semantics depend on — UTC session timezone
(oracle parity with DuckDB's naive timestamps) and
``nanosAsLong`` (events.parquet stores TIMESTAMP(NANOS) which Spark
otherwise refuses to read; we read the raw int64 and convert).
"""

from __future__ import annotations

import hashlib
import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
}


def ensure_session_confs(spark: SparkSession) -> None:
    for k, v in _RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            pass


def ns_to_us(col: str) -> F.Column:
    """Exact int64 ns → µs narrowing with FLOOR semantics.

    Integer arithmetic only (a double division loses precision above
    2^53 ns), and floor rather than ``div``'s truncate-toward-zero so
    pre-epoch (negative) nanosecond instants narrow identically to
    DuckDB's floor-based conversion — `div` alone would round a
    -1.5 µs instant the other way by 1 µs.
    """
    return F.expr(
        f"({col} div 1000) - (CASE WHEN {col} % 1000 < 0 THEN 1 ELSE 0 END)"
    )


#: Confs that change how Spark maps a parquet footer to a schema; their
#: session values are part of the schema memo key.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

#: session -> {path: (memo key, inferred schema)}; see the module
#: docstring. Weakly keyed, so the memo ends with its session. Entries
#: are replaced whole: concurrent loads of one table at worst infer twice.
_SCHEMA_MEMO: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _local_path(path: str) -> str | None:
    """``path`` normalized when it is a plain absolute local path; None
    for a URI (``s3a:``, ``hdfs:``, ``file:`` …), a glob, or a relative
    path (the JVM resolves those against its own working directory)."""
    if not os.path.isabs(path) or any(c in path for c in "*?[{"):
        return None
    return os.path.normpath(path)


def _walk_files(root: str) -> list[str]:
    """Every file under directory ``root``, sorted; raises OSError on
    any unreadable directory rather than skipping it."""

    def fail(e: OSError) -> None:
        raise e

    return sorted(
        os.path.join(d, n)
        for d, _, names in os.walk(root, onerror=fail)
        for n in names
    )


def _stat_signature(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return (st.st_size, st.st_mtime_ns, st.st_ino)


def _footer_digest(path: str) -> bytes | None:
    """Digest of a parquet file's footer (which holds its schema), or
    None when the file does not end like a parquet file."""
    with open(path, "rb") as f:
        size = f.seek(0, os.SEEK_END)
        if size < 12:
            return None
        f.seek(-8, os.SEEK_END)
        tail = f.read(8)
        n = int.from_bytes(tail[:4], "little")
        if tail[4:] != b"PAR1" or n + 8 > size:
            return None
        f.seek(-8 - n, os.SEEK_END)
        return hashlib.blake2b(f.read(n), digest_size=16).digest()


def _table_signature(path: str) -> tuple:
    """What must be unchanged for a memoized schema to hold. A file:
    its stat and footer digest. A directory table: the relative path and
    stat of every file under it — a listing, as Spark's own file index
    makes, without opening every part file."""
    if os.path.isdir(path):
        return tuple(
            (os.path.relpath(f, path), *_stat_signature(f)) for f in _walk_files(path)
        )
    return (*_stat_signature(path), _footer_digest(path))


def _memo_key(spark: SparkSession, path: str) -> tuple | None:
    """The schema memo key of ``path`` now, or None when the table is
    not memoized (not a plain local path, or unreadable)."""
    local = _local_path(path)
    if local is None:
        return None
    try:
        sig = _table_signature(local)
    except OSError:
        return None
    return sig, tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema at most once
    per session for an unchanged local table (the schema memo)."""
    # keyed BEFORE the read: a table that changes in between leaves a
    # key the next call cannot match
    key = _memo_key(spark, path)
    if key is None:
        return spark.read.parquet(path)
    memo = _SCHEMA_MEMO.setdefault(spark, {})
    hit = memo.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    memo[path] = (key, df.schema)
    return df


def parquet_row_count(path: str) -> int | None:
    """Rows in the parquet table at ``path`` (a file or a directory of
    part files), summed from the footers with pyarrow — no Spark job.
    None when unknown: a remote, relative or missing path, an unreadable
    file or a corrupt footer. Callers treat None as "size unknown" and
    take their documented fallback."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    local = _local_path(path)
    if local is None:
        return None
    try:
        if os.path.isfile(local):
            files = [local]
        elif os.path.isdir(local):  # part files, also under k=v/ dirs
            files = [f for f in _walk_files(local) if f.endswith(".parquet")]
        else:
            return None
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    except (OSError, pa.ArrowException):
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    ensure_session_confs(spark)
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) read as raw int64 under nanosAsLong; narrow
        # ns → µs (see ns_to_us for the floor/precision reasoning)
        df = df.withColumn(
            "ts", F.timestamp_micros(ns_to_us("ts")).cast("timestamp_ntz")
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def spread(df: DataFrame) -> DataFrame:
    """Widen a narrow scan to the session's default parallelism — but
    only when it is actually narrow.

    The driver tables are single small parquet files, so a zero-shuffle
    pipeline inherits ONE scan task and runs single-threaded no matter
    how expensive the per-row work is — a measured 8× wall-clock loss on
    the hash-heavy dedup pipelines. ``repartition()`` is never a no-op:
    it always inserts a round-robin exchange, so calling it
    unconditionally would full-shuffle a 100 TB corpus before any
    reduction. We therefore check the planned partitioning first and
    pass the input through untouched whenever the scan is already at
    least as wide as the session's parallelism — the production case,
    where thousands of splits are sized by
    ``spark.sql.files.maxPartitionBytes`` and per-row work is already
    spread across every core. Only the degenerate few-splits case (the
    local single-file fixture) pays the one small exchange of raw rows.
    Use ONLY in front of compute-heavy per-row stages — plain
    scans/filters/aggs are better off letting Catalyst size the
    partitions.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    # Planning-only inspection: .rdd materializes the physical plan's
    # partitioning without running a job.
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
