"""Reusable column expressions — all JVM-side (no Python UDFs).

Staying inside ``pyspark.sql.functions`` keeps every expression in
whole-stage codegen; the LLM-pipeline operators build on these.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def cents(col: Column | str) -> Column:
    """Exact integer cents of a 2-decimal money double.

    ``sum(bigint)`` is associative/commutative exactly, so aggregates
    built on this are bit-identical in any partition merge order and in
    any engine — unlike double sums.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).cast("bigint")


#: DuckDB rendering of :func:`cents` — keep in sync.
def cents_sql(expr: str) -> str:
    return f"CAST(ROUND(({expr}) * 100) AS BIGINT)"


def tokenize(col: Column | str) -> Column:
    """Whitespace tokenization; DuckDB mirror:
    ``regexp_split_to_array(trim(x), '\\s+')``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


def dot_double(a: Column | str, b: Column | str) -> Column:
    """Dot product of two float-array columns, accumulated in double,
    left-to-right — matches a sequential loop in any engine."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    prod = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm_sq(a: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    return F.aggregate(
        a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )


def nonzero_norm(a: Column | str) -> Column:
    """Predicate: the vector has a strictly positive L2 norm.

    Callers of :func:`cosine_similarity` MUST filter their inputs with
    this (mirrored by ``WHERE list_dot_product(v, v) > 0`` in oracle
    SQL): an all-zero embedding makes the cosine denominator 0 and
    Spark 4's default ANSI mode throws DIVIDE_BY_ZERO — even for
    doubles — while DuckDB NULLs, a crash plus cross-engine
    divergence. Filtering (rather than try_divide) keeps the division
    expression itself untouched on both engines, so float parity is
    preserved bit-for-bit."""
    return l2_norm_sq(a) > 0


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """cos(a,b) = dot/(sqrt(|a|^2)*sqrt(|b|^2)), all double math.

    Precondition: both sides must satisfy :func:`nonzero_norm` (ANSI
    DIVIDE_BY_ZERO otherwise) — filter at the source, not here."""
    return dot_double(a, b) / (F.sqrt(l2_norm_sq(a)) * F.sqrt(l2_norm_sq(b)))


# ---------------------------------------------------------------------------
# Cross-engine deterministic hashing
#
# xxhash64/murmur are Spark-only, DuckDB's hash() is DuckDB-only — the
# portable common denominator is md5. We take the first 15 hex chars
# (60 bits, fits bigint) as an unsigned integer. Identical in both
# engines, so hash-derived results (simhash, minhash, fingerprints)
# are oracle-exact, not rows-only.
# ---------------------------------------------------------------------------

def md5_60(col: Column | str) -> Column:
    """First 60 bits of md5 as a non-negative bigint (JVM-side)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def md5_60_sql(expr: str) -> str:
    """DuckDB mirror of :func:`md5_60` — keep in sync."""
    return f"CAST(concat('0x', substring(md5({expr}), 1, 15)) AS BIGINT)"


def shingles(tokens: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles of a token array (JVM-side, 1-based slice).

    Docs shorter than ``n`` tokens yield an empty array.
    DuckDB mirror: :func:`shingles_sql`.
    """
    t = F.col(tokens) if isinstance(tokens, str) else tokens
    return F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.array_join(F.slice(t, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingles_sql(tokens_expr: str, n: int = 3) -> str:
    return (
        f"CASE WHEN len({tokens_expr}) >= {n} THEN "
        f"[array_to_string(({tokens_expr})[i:i+{n - 1}], ' ') "
        f" for i in range(1, len({tokens_expr}) - {n - 2})] "
        f"ELSE [] END"
    )


def two_phase_cumsum(
    df: DataFrame,
    values: Sequence[str],
    order: Sequence[Column | str],
    buckets: Sequence[str],
    groups: Sequence[str] = (),
    totals: bool = False,
) -> DataFrame:
    """Exact distributed running sum of each ``values`` column in
    ``order`` within each ``groups`` key, without a single-partition
    window over the rows — the two-phase prefix-sum scaffold.

    Phase 1 runs an inclusive running ``sum`` over
    ``partitionBy(*groups, *buckets).orderBy(*order)`` (ROWS frame,
    parallel per bucket). Phase 2 totals each ``(*groups, *buckets)``
    bucket, takes the exclusive running sum of those totals in bucket
    order per ``groups`` key on that small frame, and broadcast-joins
    the offsets back. The output is every input column plus
    ``cum_<v>`` (inclusive, global within the group); ``totals=True``
    also adds ``n_<v>``, the per-``groups`` total, computed in the
    same window pass as the offsets and riding the same broadcast —
    never a scalar cross join, which Catalyst can only run as a
    nested-loop join.

    Exactness precondition: bucket order must agree with ``order`` —
    every row of a lower bucket precedes every row of a higher one,
    e.g. ``doc_id div B`` under ``doc_id``, a value stripe under the
    value, or ``spark_partition_id()`` after ``repartitionByRange`` on
    the order key. Ties in ``order`` fall in one bucket, so the ROWS
    frame breaks them as a single window would; a rank is the running
    sum of a constant 1 over a unique order. Rows whose bucket or
    group key is NULL drop out at the inner join.

    Shapes kept out on purpose, since folding them in would make this
    helper branch on its caller: ``skyline_parts`` (a running max over
    exclusive frames, combined with ``greatest``),
    ``events_interval_coverage`` (a per-user window, no global order),
    ``orders_kaplan_meier`` (a bounded day axis, one small window) and
    ``stats._rank2_map_bounded`` (at most 50 rows, one window).
    """
    keys = [*groups, *buckets]
    w_in = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_bkt = Window.partitionBy(*groups).orderBy(*buckets)
    w_off = w_bkt.rowsBetween(Window.unboundedPreceding, -1)
    w_all = w_bkt.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = df.groupBy(*keys).agg(
        *[F.sum(v).alias(f"b_{v}") for v in values]
    ).select(
        *keys,
        *[
            F.coalesce(F.sum(f"b_{v}").over(w_off), F.lit(0)).alias(f"off_{v}")
            for v in values
        ],
        *[
            F.sum(f"b_{v}").over(w_all).cast("bigint").alias(f"n_{v}")
            for v in values
            if totals
        ],
    )
    within = df.select(
        "*", *[F.sum(v).over(w_in).alias(f"in_{v}") for v in values]
    )
    return within.join(F.broadcast(offsets), keys).select(
        *df.columns,
        *[
            (F.col(f"in_{v}") + F.col(f"off_{v}")).alias(f"cum_{v}")
            for v in values
        ],
        *[f"n_{v}" for v in values if totals],
    )


#: Shared micro-unit quantization grid for every integer-exact
#: embedding index (PQ/ADC, IVF, LSH, SemDeDup centroids, Gram).
MICRO_Q = 1_000_000


def quant_micro(arr):
    """Float array → integer micro-units, half-away-from-zero — the
    single numpy mirror of SQL ``ROUND(x * 1e6)`` (np.round would
    bankers-round .5 boundaries). Every oracle-exact embedding index
    quantizes through THIS function so a grid or rounding change can
    never split one entry from another's oracle. Pinned against
    DuckDB ROUND by tests/test_round9.py::test_micro_quant_matches_sql_round."""
    import numpy as np

    scaled = np.asarray(arr, dtype=np.float64) * MICRO_Q
    return (np.sign(scaled) * np.floor(np.abs(scaled) + 0.5)).astype(
        np.int64
    )


def per_vector(emb, kernel, fields: Sequence[str] = ()):
    """Run the batch ``kernel`` ((n, d) float64 matrix → n results) of
    an embedding pandas UDF over the batch's non-NULL vectors. A NULL
    embedding maps to NULL, as the JVM array path does, and leaves the
    other rows' results unchanged. With ``fields`` each result is a
    tuple of a struct's fields and the return is a frame of them, every
    field NULL for a NULL embedding."""
    import numpy as np
    import pandas as pd

    keep = np.flatnonzero(emb.notna().to_numpy())
    out = [None] * len(emb)
    if len(keep):
        vecs = np.stack([np.asarray(x, dtype=np.float64) for x in emb.values[keep]])
        for i, r in zip(keep, kernel(vecs)):
            out[i] = r
    if fields:
        return pd.DataFrame(
            {f: [None if r is None else r[j] for r in out] for j, f in enumerate(fields)}
        )
    return pd.Series(out)
