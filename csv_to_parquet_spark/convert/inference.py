"""Exact-semantics schema inference — the reference's type lattice on Spark.

The reference (converter/converter.go:185-303) samples the first
``sample_rows`` data rows and folds per-column types through a widening
lattice, starting optimistically at INT64:

- truly empty cells are skipped (never widen) — :231-233; a
  whitespace-only cell is NOT skipped: inferType trims it to "" and
  returns typeString, so it votes string and widens the column
- bool = case-insensitive literal true/false — :248-251
- int  = Go ``strconv.ParseInt`` (so ``+5`` ok, ``1e3`` not) — :254-256
- float = ``ParseFloat`` (so ``1e3``, ``NaN``, ``Inf``) — :259-261
- dates are *recognized* then deliberately demoted to string — :264-275
- lattice: string ⊤; int+float→float; bool+number→string — :282-303
- all-empty column stays INT64 (all NULL) — :214-217

Spark realization: read the sample all-string, run ONE aggregation pass
computing per-column try_cast success counts, then decide each column's
type from the counts. The count formulation is equivalent to the
pairwise fold because the lattice is a join-semilattice and inference
classes (bool / int / float-not-int / other) are disjoint:

  all bool            → BOOLEAN
  all int             → INT64   (also the empty-sample default)
  all float           → DOUBLE  (ints count as floats)
  anything else mixed → STRING  (covers bool+number, dates, text)

At scale this is O(files × sample) work, independent of file size:
the converter stages each file's first n+1 physical lines as a tiny
local file (converter.py ``infer_file_schemas`` — a ``limit(n)`` over
the full scan would plan a LocalLimit into EVERY split) and votes all
of a batch's samples in ONE aggregation grouped by source file, so a
directory of any number of files costs one Spark job (two under AQE).

Enhanced (non-parity) mode also probes the reference's six date/time
layouts (converter/converter.go:264-271) and, when every non-empty
value matches one layout, types the column DATE/TIMESTAMP instead of
demoting to string.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DataType,
    DateType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

# the reference's six probed layouts, converter/converter.go:264-271
# (Go layout → Spark datetime pattern), probe order preserved: DD/MM
# before MM/DD, so 03/04/2025 is April 3rd.
DATE_PATTERNS = ["yyyy-MM-dd", "dd/MM/yyyy", "MM/dd/yyyy"]
TIMESTAMP_PATTERNS = [
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ssXXX",  # RFC 3339
]


@dataclass
class InferredColumn:
    name: str  # cleaned name
    raw_name: str  # name as it appears in the CSV header
    kind: str  # int64 | float64 | bool | string | date | timestamp

    @property
    def spark_type(self) -> DataType:
        return {
            "int64": LongType(),
            "float64": DoubleType(),
            "bool": BooleanType(),
            "string": StringType(),
            "date": DateType(),
            "timestamp": TimestampNTZType(),
        }[self.kind]


#: kind of a column with no non-empty sample cell (converter.go:214-217)
EMPTY_SAMPLE_KIND = "int64"


def infer_column_kinds(
    sample: DataFrame, group: str, enhanced_dates: bool = False
) -> dict[str, dict[str, str]]:
    """One aggregation pass over an all-string sample → column kinds of
    each source.

    ``group`` names the column of ``sample`` that tags each row with its
    source (a file); the pass is ONE ``groupBy(group)`` aggregation over
    the other columns → ``{group value: {column: kind}}``. A source with
    no rows is absent; its columns take :data:`EMPTY_SAMPLE_KIND`.

    The whole vote matrix is ONE SQL ``struct(...)`` expression built
    as a string: per-column Column construction (4-6 expressions × N
    columns, each a handful of py4j round trips) measured ~0.5 s of
    pure driver-side chatter per file at 16 columns — a single
    ``F.expr`` ships the same plan in one call. Semantics per cell,
    unchanged: the reference skips only truly EMPTY cells
    (converter.go:231-233); a whitespace-only cell trims to "" inside
    inferType and votes string — it counts toward n but matches no
    type class.
    """

    def cnt(cond: str, alias: str) -> str:
        return f"count(CASE WHEN {cond} THEN 1 END) AS {alias}"

    columns = [c for c in sample.columns if c != group]
    parts = []
    for idx, name in enumerate(columns):
        raw = f"`{name}`"
        v = f"trim({raw})"
        ne = f"({raw} IS NOT NULL AND {raw} != '')"
        cls = f"({ne} AND {v} != '')"
        parts.append(cnt(ne, f"c{idx}_n"))
        parts.append(
            cnt(f"{cls} AND lower({v}) IN ('true', 'false')", f"c{idx}_b")
        )
        parts.append(
            cnt(f"{cls} AND try_cast({v} AS BIGINT) IS NOT NULL", f"c{idx}_i")
        )
        parts.append(
            cnt(f"{cls} AND try_cast({v} AS DOUBLE) IS NOT NULL", f"c{idx}_f")
        )
        if enhanced_dates:
            # the 6-layout probes are only consulted in enhanced mode;
            # in parity mode dates demote to string anyway
            # (converter.go:272-275)
            def q(p: str) -> str:  # SQL string literal, '' escaping
                return "'" + p.replace("'", "''") + "'"

            date_probe = "coalesce(" + ", ".join(
                f"try_to_timestamp({v}, {q(p)})" for p in DATE_PATTERNS
            ) + ") IS NOT NULL"
            ts_probe = "coalesce(" + ", ".join(
                f"try_to_timestamp({v}, {q(p)})" for p in TIMESTAMP_PATTERNS
            ) + ") IS NOT NULL"
            parts.append(cnt(f"{cls} AND {date_probe}", f"c{idx}_d"))
            parts.append(cnt(f"{cls} AND {ts_probe}", f"c{idx}_t"))
    votes = F.expr(f"struct({', '.join(parts)})").alias("s")
    return {
        r[group]: {
            name: _column_kind(r["s"], idx, enhanced_dates)
            for idx, name in enumerate(columns)
        }
        for r in sample.groupBy(group).agg(votes).collect()
    }


def _column_kind(votes, idx: int, enhanced_dates: bool) -> str:
    """Column ``idx``'s kind from its vote counts (the lattice join)."""
    n = votes[f"c{idx}_n"]
    if n == 0:
        return EMPTY_SAMPLE_KIND  # optimistic default, converter.go:214-217
    if votes[f"c{idx}_b"] == n:
        return "bool"
    if votes[f"c{idx}_i"] == n:
        return "int64"
    if votes[f"c{idx}_f"] == n:
        return "float64"
    if enhanced_dates and votes[f"c{idx}_d"] == n:
        return "date"
    if enhanced_dates and votes[f"c{idx}_t"] == n:
        return "timestamp"
    return "string"  # string is ⊤; dates demote here in parity


def cast_column(kind: str, name: str) -> F.Column:
    """Write-time per-cell parse with the reference's silent-NULL
    semantics (converter/converter.go:380-412): trim; empty → NULL in
    every type (a string column never holds ''); parse failure → NULL
    (what happens to post-sample lattice violations)."""
    v = F.nullif(F.trim(F.col(name)), F.lit(""))
    if kind == "int64":
        return v.try_cast("bigint")
    if kind == "float64":
        return v.try_cast("double")
    if kind == "bool":
        return F.when(F.lower(v) == "true", F.lit(True)).when(
            F.lower(v) == "false", F.lit(False)
        )
    if kind == "date":
        return F.coalesce(*[F.try_to_timestamp(v, F.lit(p)) for p in DATE_PATTERNS]).cast(
            "date"
        )
    if kind == "timestamp":
        return F.coalesce(
            *[F.try_to_timestamp(v, F.lit(p)) for p in TIMESTAMP_PATTERNS]
        ).cast("timestamp_ntz")
    return v  # string


def to_struct_type(cols: list[InferredColumn]) -> StructType:
    # every field nullable — parquet repetitiontype=OPTIONAL parity
    # (converter/converter.go:308)
    return StructType([StructField(c.name, c.spark_type, True) for c in cols])


def format_schema(cols: list[InferredColumn]) -> str:
    """Debug render, reference formatSchema (converter/converter.go:414-420)."""
    labels = {
        "int64": "INT64",
        "float64": "DOUBLE",
        "bool": "BOOLEAN",
        "string": "UTF8",
        "date": "DATE",
        "timestamp": "TIMESTAMP",
    }
    return ", ".join(f"{c.name}:{labels[c.kind]}" for c in cols)
