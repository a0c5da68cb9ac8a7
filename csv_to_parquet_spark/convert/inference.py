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

Spark realization: read the sample all-string, run ONE narrow
projection that gives every sample cell its class bits (non-empty,
bool, int, float, and date/timestamp in enhanced mode), sum the bits
per column on the driver, then decide each column's type from the
counts. The count formulation is equivalent to the pairwise fold
because the lattice is a join-semilattice and inference classes
(bool / int / float-not-int / other) are disjoint:

  all bool            → BOOLEAN
  all int             → INT64   (also the empty-sample default)
  all float           → DOUBLE  (ints count as floats)
  anything else mixed → STRING  (covers bool+number, dates, text)

At scale this is O(files × sample) work, independent of file size:
the converter stages each file's first n+1 physical lines as a tiny
local file (converter.py ``infer_file_schemas`` — a ``limit(n)`` over
the full scan would plan a LocalLimit into EVERY split) and classifies
all of a batch's samples in ONE projection tagged by source file, so a
directory of any number of files costs one Spark job with one stage
and no shuffle. Spark still parses every cell and evaluates every
``try_cast``; the driver only adds up bits for the rows it staged.

The bool test folds case with ``translate``, not ``lower()``, which
would load ICU's case-mapping tables in every cold run (see
:func:`bool_folded`).

Enhanced (non-parity) mode also probes the reference's six date/time
layouts (converter/converter.go:264-271) and, when every non-empty
value matches one layout, types the column DATE/TIMESTAMP instead of
demoting to string.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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


#: kind of a column with no non-empty sample cell (converter.go:214-217)
EMPTY_SAMPLE_KIND = "int64"


def bool_folded(v: str) -> str:
    """SQL text folding the case of the letters of ``true``/``false``
    in the SQL expression ``v``: ``bool_folded(v)`` is ``'true'`` iff
    ``lower(v)`` is, and likewise ``'false'`` — the reference's
    case-insensitive bool literal (converter.go:248-251).

    ``translate`` keeps the conversion path off ICU. With
    ``spark.sql.icu.caseMappings.enabled`` (Spark 4's default) the
    first ``lower()`` in a JVM costs ~3 s of CPU to load ICU's
    case-mapping tables, a cost every cold CLI run would pay. The fold
    is exact: no character outside ASCII ``TRUEFALStruefals`` lowercases
    to any of ``t r u e f a l s`` (``İ``, the Kelvin sign, ``ſ`` and
    the fullwidth letters do not), so both sides agree on every string.
    """
    return f"translate({v}, 'TRUEFALS', 'truefals')"


#: bit of each cell class in :func:`class_codes`, keyed like the counts
#: ``c{idx}_{key}`` that :func:`_column_kind` reads
CLASS_BITS = {"n": 1, "b": 2, "i": 4, "f": 8, "d": 16, "t": 32}


def class_codes(
    sample: DataFrame, group: str, enhanced_dates: bool = False
) -> DataFrame:
    """The inference projection: per sample row, its ``group`` tag and
    ``codes``, the comma-separated class bits of every other column
    (:data:`CLASS_BITS`; ``d``/``t`` only in enhanced mode).

    The whole projection is ONE SQL expression built as a string:
    per-column Column construction (4-6 expressions × N columns, each
    a handful of py4j round trips) measured ~0.5 s of pure driver-side
    chatter per file at 16 columns — a single ``F.expr`` ships the same
    plan in one call. Semantics per cell: the reference skips only
    truly EMPTY cells (converter.go:231-233); a whitespace-only cell
    trims to "" inside inferType and votes string — it sets ``n`` but
    matches no type class.
    """

    def q(p: str) -> str:  # SQL string literal, '' escaping
        return "'" + p.replace("'", "''") + "'"

    codes = []
    for name in (c for c in sample.columns if c != group):
        raw = f"`{name}`"
        v = f"trim({raw})"
        ne = f"({raw} IS NOT NULL AND {raw} != '')"
        cls = f"({ne} AND {v} != '')"
        probes = {
            "n": ne,
            "b": f"{cls} AND {bool_folded(v)} IN ('true', 'false')",
            "i": f"{cls} AND try_cast({v} AS BIGINT) IS NOT NULL",
            "f": f"{cls} AND try_cast({v} AS DOUBLE) IS NOT NULL",
        }
        if enhanced_dates:
            # the 6-layout probes are only consulted in enhanced mode;
            # in parity mode dates demote to string anyway
            # (converter.go:272-275)
            for key, patterns in (("d", DATE_PATTERNS), ("t", TIMESTAMP_PATTERNS)):
                probe = ", ".join(f"try_to_timestamp({v}, {q(p)})" for p in patterns)
                probes[key] = f"{cls} AND coalesce({probe}) IS NOT NULL"
        code = " + ".join(
            f"CASE WHEN {cond} THEN {CLASS_BITS[key]} ELSE 0 END"
            for key, cond in probes.items()
        )
        codes.append(f"CAST({code} AS STRING)")
    codes_sql = f"concat_ws(',', {', '.join(codes)})"
    return sample.select(F.col(group), F.expr(codes_sql).alias("codes"))


def infer_column_kinds(
    sample: DataFrame, group: str, enhanced_dates: bool = False
) -> dict[str, dict[str, str]]:
    """Column kinds of each source of an all-string sample, from ONE
    narrow Spark projection (:func:`class_codes`).

    ``group`` names the column of ``sample`` that tags each row with its
    source (a file) → ``{group value: {column: kind}}``. A source with
    no rows is absent; its columns take :data:`EMPTY_SAMPLE_KIND`.

    The driver collects one short string per sample row and sums each
    column's class bits per source into the counts ``c{idx}_{key}``.
    No aggregation runs in Spark, so the pass needs no shuffle.
    """
    columns = [c for c in sample.columns if c != group]
    votes: dict[str, Counter] = {}
    for r in class_codes(sample, group, enhanced_dates).collect():
        counts = votes.setdefault(r[group], Counter())
        for idx, code in enumerate(map(int, r["codes"].split(","))):
            counts.update(f"c{idx}_{k}" for k, bit in CLASS_BITS.items() if code & bit)
    return {
        g: {name: _column_kind(v, idx, enhanced_dates) for idx, name in enumerate(columns)}
        for g, v in votes.items()
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
        b = F.expr(bool_folded(f"trim(`{name}`)"))
        return F.when(b == "true", F.lit(True)).when(b == "false", F.lit(False))
    if kind == "date":
        return F.coalesce(*[F.try_to_timestamp(v, F.lit(p)) for p in DATE_PATTERNS]).cast(
            "date"
        )
    if kind == "timestamp":
        return F.coalesce(
            *[F.try_to_timestamp(v, F.lit(p)) for p in TIMESTAMP_PATTERNS]
        ).cast("timestamp_ntz")
    return v  # string


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
