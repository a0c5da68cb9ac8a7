"""Embedding-space clustering and scale-path near-dup operators.

No reference analog (the reference is a CSV converter,
converter/converter.go:66-378); these extend the SURVEY §7 M5
training-data-pipeline surface over the ``embeddings`` table:

- ``dedup_embedding_lsh_pairs`` — the SCALE path for embedding
  near-dup pairs: random-hyperplane bucketing → candidates only from
  shared buckets → exact-cosine verification. Replaces the O(n²)
  ``dedup_embedding_cosine`` baseline in a 100 TB pipeline.
- ``cluster_kmeans_assign`` — distributed Lloyd k-means (assign =
  narrow argmax map; update = 64-avg-column groupBy with map-side
  partial aggregation) + final cluster assignment.

Both are ORACLE-EXACT, which is unusual for LSH/k-means and rests on
two deliberate choices:

1. Every dot product that influences output is computed with
   SEQUENTIAL double accumulation on both engines (Spark
   ``F.aggregate`` over ``zip_with`` ≡ DuckDB ``list_dot_product``,
   the same bit-for-bit pairing ``dedup_embedding_cosine`` already
   relies on), with the hyperplanes embedded as literals in both the
   Spark plan and the generated SQL.
2. Where cross-engine float drift is unavoidable (k-means centroid
   averages accumulate in different partition orders), comparisons go
   through ``ROUND(·, 9)`` before any argmax, with a deterministic
   tie-break (higher cell wins) — a 1e-15 drift cannot reorder a
   9-dp-rounded ranking unless two candidates already tie at 9 dp,
   in which case both engines fall to the same tie-break.
"""

from __future__ import annotations

import random

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from csv_to_parquet_spark.functions import per_vector
from csv_to_parquet_spark.operators import Catalog
from csv_to_parquet_spark.operators.cache import persist_tracked
from csv_to_parquet_spark.sources.tables import load_table

CAT = Catalog()

# --------------------------------------------------------------------------
# Shared sequential-accumulation helpers (oracle-parity critical)
# --------------------------------------------------------------------------


def _dot_seq(a: Column, b: Column) -> Column:
    """Sequential double dot product ≡ DuckDB list_dot_product."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _arr_lit(vals: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in vals])


def _sql_arr(vals: list[float]) -> str:
    return "[" + ", ".join(repr(float(x)) for x in vals) + "]"


def _seq_dots_udf(mat: list[list[float]]):
    """Arrow pandas_udf computing, per embedding row, the dot product
    against EVERY row of ``mat`` plus the row's own L2 norm — all
    bit-for-bit identical to the interpreted ``F.aggregate`` sequential
    form (and DuckDB's ``list_dot_product``).

    Parity argument: the accumulation loop runs over DIMENSIONS, so
    each numpy ``+=`` performs exactly one IEEE-754 double multiply
    and one add per (row, target) in left-to-right dimension order —
    the same op sequence as a scalar loop. float32→float64 widening is
    exact, and ``np.sqrt`` is correctly rounded like ``Math.sqrt`` /
    DuckDB ``sqrt``. Decimal rounding (whose half-up/half-even mode
    differs between numpy and the engines) is deliberately NOT done
    here — callers keep ``F.round`` JVM-side.

    Why: the interpreted-HOF formulation pays ~1µs per element op —
    measured 8.2 s for 2000 rows x 48 planes at sf0.1 — while this
    single Arrow crossing with 64 fused vector ops is ~100x cheaper
    and scales per-batch on executors. A NULL embedding gets NULL
    fields, as the interpreted form returns NULL.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    P = np.array(mat, dtype=np.float64).T  # (dim, n_targets)

    def dots(v):  # (n, dim) → n (dots, nv)
        acc = np.zeros((v.shape[0], P.shape[1]))
        nacc = np.zeros(v.shape[0])
        for d in range(P.shape[0]):
            acc += v[:, d : d + 1] * P[d]
            nacc += v[:, d] * v[:, d]
        return zip(acc, np.sqrt(nacc))

    @pandas_udf("struct<dots: array<double>, nv: double>")
    def seq_dots(emb: pd.Series) -> pd.DataFrame:
        return per_vector(emb, dots, ("dots", "nv"))

    return seq_dots


def _bucket_sig_udf(planes: list[list[list[float]]]):
    """Arrow pandas_udf computing, per embedding row, the L hyperplane-
    LSH bucket ids (k sign bits each) plus the row's L2 norm — the
    whole signature in ONE Arrow crossing with an integer-only result.

    Parity: the plane dot products use the same dimension-ordered
    accumulation as :func:`_seq_dots_udf` (bit-identical to the
    sequential ``F.aggregate`` form and DuckDB ``list_dot_product``),
    and the bucket id Σ 2^j·[dot_j ≥ 0] is integer arithmetic on their
    exact signs — so the bucket ids match the oracle's CASE WHEN
    list_dot_product ≥ 0 banding bit-for-bit. Computing the bits here
    instead of in L·k JVM ``F.when`` columns (r4) cuts ~0.9 s of
    driver-side py4j plan construction per call at L=12, k=7 AND
    shrinks the Arrow return payload from L·k doubles to L longs. A
    NULL embedding gets NULL fields.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    n_tables, n_bits = len(planes), len(planes[0])
    P = np.array(
        [planes[t][j] for t in range(n_tables) for j in range(n_bits)],
        dtype=np.float64,
    ).T  # (dim, L*k)
    W = 1 << np.arange(n_bits, dtype=np.int64)

    def sigs(v):  # (n, dim) → n (bucket ids, nv)
        acc = np.zeros((v.shape[0], P.shape[1]))
        nacc = np.zeros(v.shape[0])
        for d in range(P.shape[0]):
            acc += v[:, d : d + 1] * P[d]
            nacc += v[:, d] * v[:, d]
        signs = (acc >= 0).reshape(v.shape[0], n_tables, n_bits)
        buckets = (signs * W).sum(axis=2)  # (n, L) int64
        return zip(buckets, np.sqrt(nacc))

    @pandas_udf("struct<bs: array<bigint>, nv: double>")
    def bucket_sig(emb: pd.Series) -> pd.DataFrame:
        return per_vector(emb, sigs, ("bs", "nv"))

    return bucket_sig


# --------------------------------------------------------------------------
# Embedding near-dup pairs via random-hyperplane LSH (scale path)
# --------------------------------------------------------------------------

_DIM = 64

def pair_banding(n_estimate: int, target_bucket: int = 16) -> tuple[int, int]:
    """Derive (L tables, k bits/table) for hyperplane-LSH pair banding
    from an estimated corpus cardinality.

    Expected bucket occupancy is n/2^k, and expected candidate mass is
    ≈ L·n·(n/2^k)/2 pairs — Θ(n²) whenever k is held fixed while n
    grows (the r4 design's flaw). Holding the BUCKET SIZE constant
    instead (k = log2(n/target_bucket)) makes candidate mass
    L·n·target_bucket/2 = Θ(n): the per-doc verification work is a
    constant L·target_bucket/2 ≈ 96 exact dots. L then buys recall:
    P(candidate | cos θ) = 1-(1-p^k)^L with p = 1-θ/π, so as k grows
    with the corpus, L must grow ~(1/p)^k to hold recall — the
    standard LSH operating envelope. At the catalog corpus
    (n≈2000, target 16/bucket) this yields k=7, L=12: recall ≈ 99%
    at cos 0.9, ≈ 97% at 0.8, with candidate mass ≈ 5% of all pairs
    (vs 12.5% for the fixed k=6 it replaces).
    """
    import math

    k = max(4, min(24, int(math.log2(max(2, n_estimate) / target_bucket) + 0.5)))
    # hold recall@cos0.9 ≥ ~0.99: solve 1-(1-p^k)^L ≥ 0.99, p ≈ 0.857
    p = 1.0 - 0.4510 / math.pi  # θ = arccos(0.9)
    L = max(4, min(48, int(math.ceil(math.log(0.01) / math.log(1.0 - p**k)))))
    return L, k


#: Catalog-query banding: fixed at build time (the DuckDB oracle is a
#: static string sharing these plane literals), sized by
#: :func:`pair_banding` for the driver corpus scale. Production use
#: calls ``pair_banding(corpus_estimate)`` and regenerates planes.
_PAIR_TABLES, _PAIR_BITS = pair_banding(2000)
_COS_THRESHOLD = 0.4  # same threshold as the exact baseline
_rng = random.Random(13)
_PAIR_PLANES = [
    [[_rng.gauss(0.0, 1.0) for _ in range(_DIM)] for _ in range(_PAIR_BITS)]
    for _ in range(_PAIR_TABLES)
]


def _bucket_cols_sql() -> list[str]:
    out = []
    for t in range(_PAIR_TABLES):
        bits = " + ".join(
            f"(CASE WHEN list_dot_product(v, {_sql_arr(_PAIR_PLANES[t][j])}) >= 0 "
            f"THEN {1 << j} ELSE 0 END)"
            for j in range(_PAIR_BITS)
        )
        out.append(f"({bits}) AS b{t}")
    return out


# Shared oracle CTE body producing near-dup candidate cosines `s` —
# used by the pairs oracle and (extended with a recursive reach) by
# the semantic-clusters oracle.
_PAIR_ORACLE_CTES = f"""
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
          WHERE list_dot_product(v, v) > 0),
    b AS (SELECT vec_id, v, {", ".join(_bucket_cols_sql())} FROM e),
    cand AS (
      SELECT a.vec_id AS vec_a, x.vec_id AS vec_b, a.v AS va, x.v AS vb
      FROM b a JOIN b x
        ON a.vec_id < x.vec_id
       AND ({" OR ".join(f"a.b{t} = x.b{t}" for t in range(_PAIR_TABLES))})),
    s AS (
      SELECT vec_a, vec_b,
             list_dot_product(va, vb)
               / (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb))) AS cs
      FROM cand)
"""


def lsh_candidate_pairs(
    e: DataFrame, planes: list[list[list[float]]]
) -> DataFrame:
    """(vec_a, vec_b) hyperplane-LSH candidate pairs WITH multiplicity
    (one row per shared (table, bucket)) over an (vec_id, embedding)
    frame. Parameterized on the plane tensor (L tables × k planes) so
    callers — and the banding scale test — can size (L, k) to the
    corpus via :func:`pair_banding`.

    Band keys carry IDS ONLY — the self-join shuffles (vec_a, vec_b,
    band-key) longs, never the 64-float vectors (same shape as the
    MinHash LSH candidate join). The persisted signature frame is
    (id, array<L longs>, 1 double): the band index any LSH system
    materializes, deliberately WITHOUT the vector column (columnar
    cache encode of 64-float arrays measured ~0.4 s at sf0.1 — slower
    than the column-pruned re-scan verification uses). NO pre-verify
    distinct: a pair colliding in m tables is emitted m ≤ L times
    (verification of a duplicate costs one deterministic dot; callers
    dedupe the tiny above-threshold survivor set instead), which
    eliminates a full shuffle of the candidate list — the largest
    intermediate in the pipeline. Zero-norm vectors are unscoreable
    (cosine denominator 0 → ANSI DIVIDE_BY_ZERO) and excluded from
    banding, mirroring the oracle's list_dot_product(v, v) > 0 filter.
    Callers release the signature cache via release_caches().
    """
    n_bits = len(planes[0])
    sig = persist_tracked(
        e.select(
            "vec_id", _bucket_sig_udf(planes)("embedding").alias("s")
        ).select(
            "vec_id", F.col("s.nv").alias("nv"), F.col("s.bs").alias("bs")
        )
    )
    # fused band key tbl*2^k + bucket: ONE posexplode + ONE join column
    # (the (tbl, bucket) two-column equality compiled to the same hash
    # key but cost 12 struct literals + a composite join key in plan
    # construction — measured ~0.9 s of DRIVER-side py4j expression
    # building per call at L=12, k=7 before this fusion)
    bands = (
        sig.filter(F.col("nv") > 0)
        .select("vec_id", F.posexplode("bs").alias("tbl", "bucket"))
        .select(
            "vec_id",
            (F.col("tbl") * F.lit(1 << n_bits) + F.col("bucket")).alias("bk"),
        )
    )
    a = bands.alias("a")
    x = bands.alias("x")
    return a.join(
        x,
        (F.col("a.bk") == F.col("x.bk")) & (F.col("a.vec_id") < F.col("x.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("x.vec_id").alias("vec_b"),
    )


@CAT.query(
    "dedup_embedding_lsh_pairs",
    oracle=f"""
    WITH {_PAIR_ORACLE_CTES}
    SELECT vec_a, vec_b, ROUND(cs, 6) AS cosine
    FROM s WHERE cs >= {_COS_THRESHOLD}
    """,
)
def dedup_embedding_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine ≥ 0.4) — the LSH scale path.

    The corpus is scanned with a narrow map computing one bucket id
    per hyperplane table (sign bits of k fixed Gaussian hyperplane
    dot products per table, L tables — (L, k) sized by
    :func:`pair_banding` so bucket occupancy, and with it candidate
    mass, stays constant-per-doc as the corpus grows); candidates are
    generated by a self-join on (table, bucket) keys, then verified
    with exact cosine. Cost is O(n·L) explode + per-bucket joins,
    never O(n²): holding n/2^k at the target bucket size makes
    expected candidate mass Θ(n·L·bucket/2), and the true near-dups
    survive with P = 1-(1-p^k)^L where p = 1-θ/π — ≥ 99% at cos 0.9
    by construction of L (see ``pair_banding``); boundary-band misses
    near the 0.4 decision threshold are the documented LSH trade.

    Output semantics are deterministic — "pairs sharing ≥1 bucket
    with cosine ≥ 0.4" — so the oracle replicates the banding exactly
    (same plane literals, same sequential dot-product accumulation)
    rather than settling for a rows-only check.

    At 100 TB: the candidate join shuffles (table, bucket, id) longs
    only; the L·k hyperplane dot products per vector run in ONE Arrow
    pandas_udf crossing (``_seq_dots_udf``) whose dimension-ordered
    accumulation is bit-identical to the sequential form the oracle
    computes. Verification reads the vectors from two column-pruned
    re-scans of the source — scans parallelize for free and push no
    shuffle, where r4's alternative (joining a persisted norms frame
    back to the scan) paid two extra exchanges, and caching the
    vectors themselves paid a measured ~0.4 s of columnar
    array-encode at sf0.1 for data the scan re-delivers cheaper.
    """
    # NO spread(): the only pre-shuffle work is the vectorized Arrow
    # signature pass (~100 numpy flops/row — unlike the hash-heavy
    # string pipelines spread exists for), and every later stage takes
    # its parallelism from the shuffle, not the scan. Fanning a small
    # single-split scan to defaultParallelism here paid one Arrow
    # worker round-trip per near-empty partition (measured ~0.4 s of
    # pure task overhead at sf0.1); at 100 TB the scan has natural
    # splits and spread() was a no-op anyway.
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cand = lsh_candidate_pairs(e, _PAIR_PLANES)
    # verification sides: column-pruned re-scans with the norm hoisted
    # to ONE sequential-HOF evaluation per VECTOR (not per pair) —
    # sqrt of the same left-to-right double sum the oracle computes,
    # so na/nb are bit-identical to sqrt(list_dot_product(v, v)).
    # Zero-norm rows drop via na > 0 (they are already absent from
    # cand, which only draws from nz).
    def _side(idc: str, vc: str, nc: str) -> DataFrame:
        return e.select(
            F.col("vec_id").alias(idc),
            F.col("embedding").alias(vc),
            F.sqrt(_dot_seq(F.col("embedding"), F.col("embedding"))).alias(nc),
        ).filter(F.col(nc) > 0)

    va = _side("vec_a", "va", "na")
    vb = _side("vec_b", "vb", "nb")
    # cs = dot/(na*nb): ONE interpreted dot per candidate pair.
    # Measured choice: for the per-pair dot (two data columns, no
    # plane fanout) the interpreted HOF beats an Arrow pandas_udf —
    # shipping both 64-float vectors across Arrow costs ~3x the JVM
    # zip_with/aggregate (0.7 s vs 2.2 s over 255k candidates at
    # sf0.1). The pandas_udf only wins where one row feeds MANY dots
    # (the L·k-plane signature pass above).
    cs = _dot_seq(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .withColumn("cs", cs)
        .filter(F.col("cs") >= _COS_THRESHOLD)
        .select("vec_a", "vec_b", F.round("cs", 6).alias("cosine"))
        .distinct()  # collapse multi-table collisions of survivors
    )


# --------------------------------------------------------------------------
# Distributed k-means (Lloyd) with exact oracle
# --------------------------------------------------------------------------

_KM_CELLS = 16
_KM_ITERS = 2


def _seq_sqrt_norm(c: list[float]) -> float:
    """sqrt of the sequentially-accumulated squared norm — bit-for-bit
    what DuckDB's ``sqrt(list_dot_product(c, c))`` computes (same
    left-to-right IEEE double adds, correctly-rounded sqrt), so the
    norm can be hoisted to a Python literal without breaking parity."""
    import math

    acc = 0.0
    for x in c:
        acc += float(x) * float(x)
    return math.sqrt(acc)


def _km_scored(e: DataFrame, cents: list[list[float]]) -> DataFrame:
    """(vec_id, embedding, s) where s.dots holds the 16 raw centroid
    dot products and s.nv the row norm — ONE Arrow crossing per Lloyd
    pass (the interpreted-HOF path paid ~1µs/element; see
    ``_seq_dots_udf``). Decimal rounding and the argmax stay JVM-side
    so cross-engine parity is untouched."""
    dots = _seq_dots_udf(cents)
    return e.select("vec_id", "embedding", dots("embedding").alias("s"))


def _km_cos_arrays(cents: list[list[float]]):
    """(s_raw, s9): per-centroid cosine arrays off the precomputed
    dots — raw and 9-dp-rounded ranking keys. Centroid norms are
    Python-float literals (``_seq_sqrt_norm``); the division shape
    dot/(nv*nc) is exactly the oracle's."""
    norms = [_seq_sqrt_norm(c) for c in cents]
    # centroids are averages of nonzero-norm data vectors (the input is
    # filtered), so a zero centroid needs every coordinate to cancel
    # exactly — assert rather than guard so an impossible-by-invariant
    # zero fails loudly instead of as an opaque ANSI DIVIDE_BY_ZERO
    assert all(n > 0 for n in norms), "k-means centroid collapsed to zero vector"
    ncs = F.array(*[F.lit(n) for n in norms])
    zipped = F.arrays_zip(F.col("s.dots").alias("d"), ncs.alias("nc"))
    s_raw = F.transform(zipped, lambda z: z["d"] / (F.col("s.nv") * z["nc"]))
    s9 = F.transform(s_raw, lambda x: F.round(x, 9))
    return s_raw, s9


def _km_assign_expr(cents: list[list[float]]) -> Column:
    """argmax cell over centroids by (round(cos, 9) DESC, cell DESC),
    over a ``_km_scored`` frame.

    ``reverse(array_sort(zip(s, cell)))`` sorts ascending by (s, cell)
    then reverses → highest similarity first, ties broken toward the
    HIGHER cell — mirrored exactly by the oracle's ``ORDER BY cs9
    DESC, cell DESC``.
    """
    _, s9 = _km_cos_arrays(cents)
    ranked = F.reverse(
        F.array_sort(
            F.arrays_zip(
                s9.alias("s"),
                F.sequence(F.lit(0), F.lit(_KM_CELLS - 1)).alias("cell"),
            )
        )
    )
    return ranked[0]["cell"].cast("bigint")


def _km_sql_iteration(prev_cent: str, idx: int) -> str:
    """CTEs for one Lloyd iteration: assign against ``prev_cent``
    (cell, c) then average per (cell, dim); empty cells keep their
    previous centroid."""
    return f"""
    a{idx} AS (
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, p.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY ROUND(list_dot_product(e.v, p.c)
                   / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(p.c, p.c))), 9) DESC,
                 p.cell DESC) AS rn
        FROM e, {prev_cent} p) t
      WHERE rn = 1),
    m{idx} AS (
      SELECT a{idx}.cell, r.range AS i, AVG(e.v[r.range]) AS x
      FROM a{idx} JOIN e USING (vec_id), range(1, {_DIM + 1}) r
      GROUP BY a{idx}.cell, r.range),
    c{idx} AS (
      SELECT p.cell, COALESCE(l.c, p.c) AS c
      FROM {prev_cent} p
      LEFT JOIN (SELECT cell, list(x ORDER BY i) AS c FROM m{idx} GROUP BY cell) l
        USING (cell))
    """


_KM_ORACLE = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
               WHERE list_dot_product(v, v) > 0),
    s0 AS (SELECT vec_id - 100 AS cell, v AS c FROM e
           WHERE vec_id >= 100 AND vec_id < {100 + _KM_CELLS}),
    {_km_sql_iteration("s0", 1)},
    {_km_sql_iteration("c1", 2)},
    fin AS (
      SELECT vec_id, cell, cs FROM (
        SELECT e.vec_id, p.cell,
               list_dot_product(e.v, p.c)
                 / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(p.c, p.c))) AS cs,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY ROUND(list_dot_product(e.v, p.c)
                   / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(p.c, p.c))), 9) DESC,
                 p.cell DESC) AS rn
        FROM e, c2 p) t
      WHERE rn = 1)
    SELECT vec_id, cell AS cluster, ROUND(cs, 6) AS cosine FROM fin
"""


@CAT.query("cluster_kmeans_assign", oracle=_KM_ORACLE)
def cluster_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means over the embedding corpus + final
    cluster assignment — the clustering step of a semantic-dedup /
    topic-bucketing pipeline.

    Each of the ``_KM_ITERS`` iterations is the canonical distributed
    k-means round: ASSIGN is a narrow map — one Arrow pandas_udf
    crossing computes the 16 centroid dot products per row
    (``_seq_dots_udf``, bit-identical to the sequential form), the
    9-dp rounding + argmax stay JVM-side, no shuffle — UPDATE is a
    ``groupBy(cell)`` with 64 ``avg`` columns whose partial
    aggregation keeps the exchange at cells × dims doubles per map
    task regardless of corpus size. The only driver-side data is the
    16-row centroid model between iterations (the artifact any
    k-means trainer materializes). Init: the 16 deterministic seed
    vectors vec_id 100..115.

    Oracle-exactness: every similarity that influences a decision is
    rounded to 9 dp before the argmax on BOTH engines (see module
    docstring); the final reported cosine is rounded to 6 dp. The
    oracle replicates both Lloyd iterations in SQL (per-dim AVG +
    list rebuild), so the cluster assignment — not merely the row
    count — is verified cross-engine.
    """
    from csv_to_parquet_spark.functions import nonzero_norm

    # zero-norm vectors cannot be cosine-assigned (ANSI DIVIDE_BY_ZERO);
    # filtered identically in the oracle's e CTE. Persisted (tracked):
    # the corpus is re-scored once per Lloyd iteration plus the final
    # assignment — without the cache each pass re-ran the parquet scan
    # + filter + exchange; with it the per-iteration work is exactly
    # the Arrow scoring pass + the 16×64 partial-avg exchange.
    # NO spread(): per-iteration work is one vectorized Arrow scoring
    # pass + a 16×64 partial-avg — both trivial per row; widening the
    # small scan paid Arrow task overhead per near-empty partition
    # (see dedup_embedding_lsh_pairs). Natural splits carry the
    # parallelism at scale.
    e = persist_tracked(
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .filter(nonzero_norm("embedding"))
    )
    v = F.col("embedding")
    seed_rows = (
        e.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 100 + _KM_CELLS))
        .orderBy("vec_id")
        .collect()
    )
    # the zero-norm filter above could silently DROP a seed and shift
    # every later cell index against the oracle's vec_id-100 keying
    # (then IndexError at the update step) — assert the invariant
    # loudly instead: all 16 seed ids present means none was filtered
    assert [int(r.vec_id) for r in seed_rows] == list(
        range(100, 100 + _KM_CELLS)
    ), "k-means seed vectors 100..115 must all exist with nonzero norm"
    cents = [[float(x) for x in r.embedding] for r in seed_rows]
    for _ in range(_KM_ITERS):
        assigned = _km_scored(e, cents).withColumn(
            "cell", _km_assign_expr(cents)
        )
        rows = (
            assigned.groupBy("cell")
            .agg(
                *[
                    F.avg(v[i].cast("double")).alias(f"d{i}")
                    for i in range(_DIM)
                ]
            )
            .collect()
        )
        updated = {
            int(r["cell"]): [float(r[f"d{i}"]) for i in range(_DIM)] for r in rows
        }
        cents = [updated.get(c, cents[c]) for c in range(_KM_CELLS)]
    # final assignment: the 16 raw cosines come off the precomputed
    # dot array; ranking keys are the 9-dp roundings, the reported
    # value is the unrounded cosine at 6 dp
    s_raw, s9 = _km_cos_arrays(cents)
    best = F.reverse(
        F.array_sort(
            F.arrays_zip(
                s9.alias("s9"),
                F.sequence(F.lit(0), F.lit(_KM_CELLS - 1)).alias("cell"),
                s_raw.alias("s"),
            )
        )
    )[0]
    return _km_scored(e, cents).select(
        "vec_id",
        best["cell"].cast("bigint").alias("cluster"),
        F.round(best["s"], 6).alias("cosine"),
    )


# --------------------------------------------------------------------------
# Semantic dedup clusters: LSH near-dup pair graph -> connected components
# --------------------------------------------------------------------------


@CAT.query(
    "dedup_semantic_clusters",
    oracle=f"""
    WITH RECURSIVE {_PAIR_ORACLE_CTES},
    pairs AS (SELECT vec_a, vec_b FROM s WHERE cs >= {_COS_THRESHOLD}),
    edges AS (
      SELECT vec_a AS u, vec_b AS v FROM pairs
      UNION SELECT vec_b, vec_a FROM pairs),
    reach(u, r) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges) s2
      UNION
      SELECT e2.u, reach.r FROM edges e2 JOIN reach ON reach.u = e2.v)
    SELECT u AS vec_id, MIN(r) AS cluster_id FROM reach GROUP BY u
    """,
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup end-to-end: hyperplane-LSH near-dup pairs
    (``dedup_embedding_lsh_pairs``, cosine ≥ 0.4) fed into hash-to-min
    connected components (``dedup.connected_components``) — the full
    "embed → bucket → verify → cluster → keep one per cluster"
    pipeline modern corpus dedup runs alongside lexical MinHash.

    Both stages are the scale paths: banded candidates (never O(n²))
    and logarithmic-round label propagation over (long, long) pairs
    with lineage truncation per round. The oracle replays the exact
    banding + a recursive reach CTE, so cluster MEMBERSHIP is verified
    cross-engine, not just counts. Singletons (vectors in no pair)
    are implicitly their own cluster and not emitted."""
    from csv_to_parquet_spark.operators.cache import scope_token
    from csv_to_parquet_spark.operators.dedup import connected_components

    token = scope_token()  # release only the LSH caches built below
    pairs = dedup_embedding_lsh_pairs(spark, sf_dir).select("vec_a", "vec_b")
    labels = connected_components(pairs, release_token=token)
    return labels.select(
        F.col("node").alias("vec_id"), F.col("label").alias("cluster_id")
    )


# --------------------------------------------------------------------------
# SemDeDup keep policy: one representative per semantic cluster

#: Micro-unit quantization for the keep-policy distances (the Gram
#: convention) — exact BIGINT arithmetic end to end.
_SEMDEDUP_Q = 1_000_000


@CAT.query(
    "dedup_semdedup_keep",
    oracle=f"""
    WITH RECURSIVE {_PAIR_ORACLE_CTES},
    pairs AS (SELECT vec_a, vec_b FROM s WHERE cs >= {_COS_THRESHOLD}),
    edges AS (
      SELECT vec_a AS u, vec_b AS v FROM pairs
      UNION SELECT vec_b, vec_a FROM pairs),
    reach(u, r) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges) s2
      UNION
      SELECT e2.u, reach.r FROM edges e2 JOIN reach ON reach.u = e2.v),
    labels AS (SELECT u AS vec_id, MIN(r) AS cluster_id FROM reach GROUP BY u),
    q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(ROUND(CAST(x AS DOUBLE) * {_SEMDEDUP_Q})
                                      AS BIGINT)) AS qe
      FROM embeddings),
    memd AS (
      SELECT l.cluster_id, l.vec_id, d.i AS dim, m.qe[d.i] AS qv
      FROM labels l
      JOIN q m ON m.vec_id = l.vec_id,
           LATERAL (SELECT unnest(range(1, len(m.qe) + 1)) AS i) d),
    cent AS (
      SELECT cluster_id, dim,
             CASE WHEN SUM(qv) >= 0
                  THEN (2 * SUM(qv) + COUNT(*)) // (2 * COUNT(*))
                  ELSE -((2 * (-SUM(qv)) + COUNT(*)) // (2 * COUNT(*))) END
               AS cv
      FROM memd GROUP BY 1, 2),
    d2 AS (
      SELECT m.cluster_id, m.vec_id,
             CAST(SUM((m.qv - c.cv) * (m.qv - c.cv)) AS BIGINT)
               AS dist_micro2
      FROM memd m
      JOIN cent c ON c.cluster_id = m.cluster_id AND c.dim = m.dim
      GROUP BY 1, 2),
    rk AS (
      SELECT cluster_id, vec_id, dist_micro2,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY dist_micro2 DESC, vec_id) AS r
      FROM d2)
    SELECT vec_id, cluster_id, dist_micro2, (r = 1) AS keep FROM rk
    """,
)
def dedup_semdedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep policy (Abbas et al. 2023, arXiv:2303.09540) over
    the semantic-cluster output: within each near-duplicate cluster,
    KEEP exactly the member FARTHEST from the cluster centroid and
    mark the rest for removal — the paper's low-similarity-to-centroid
    rule, which retains the most atypical exemplar and drops the
    redundant core. Completes the ``dedup_semantic_clusters`` pipeline
    into an actionable filter: (vec_id, cluster_id, dist_micro2, keep)
    with exactly one keep=true per cluster; singletons (in no cluster)
    are implicitly all kept and not emitted, same contract as the
    clusters entry.

    Oracle-exact despite the centroid: embeddings quantize to integer
    micro-units (the Gram convention), the centroid is the
    HALF-AWAY-FROM-ZERO rounded integer mean per dimension (the same
    sign(s)·((2·|s| + c) // (2·c)) identity the ADC codebook trainer
    uses), distances are exact BIGINT sums, and the keep rank breaks
    ties on (dist DESC, vec_id).

    Scale shape: cluster membership is bounded by the duplicate-pair
    population (tiny vs the corpus); members posexplode to
    (cluster, dim) rows — 64 rows per member, never per corpus vector
    — one shuffle keyed (cluster_id, dim) computes every centroid
    component with map-side partial aggregation, the join back is
    co-partitioned on the same key, and the keep rank windows over
    cluster-sized groups. The LSH + connected-components stages
    upstream are the documented scale paths.
    """
    from csv_to_parquet_spark.operators.cache import scope_token
    from csv_to_parquet_spark.operators.dedup import connected_components

    token = scope_token()
    pairs = dedup_embedding_lsh_pairs(spark, sf_dir).select("vec_a", "vec_b")
    labels = connected_components(pairs, release_token=token).select(
        F.col("node").alias("vec_id"), F.col("label").alias("cluster_id")
    )
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # quantize JVM-side with the explicit half-away-from-zero floor
    # form (== the oracle's ROUND and numpy's sign·floor(|x|+0.5))
    mem = labels.join(emb, "vec_id").select(
        "cluster_id",
        "vec_id",
        F.posexplode(
            F.expr(
                f"transform(embedding, x -> CAST(CASE WHEN x >= 0 "
                f"THEN FLOOR(CAST(x AS DOUBLE) * {_SEMDEDUP_Q} + 0.5D) "
                f"ELSE -FLOOR(-CAST(x AS DOUBLE) * {_SEMDEDUP_Q} + 0.5D) "
                f"END AS BIGINT))"
            )
        ).alias("dim", "qv"),
    )
    cent = mem.groupBy("cluster_id", "dim").agg(
        F.sum("qv").alias("s"), F.count(F.lit(1)).alias("c")
    )
    cent = cent.select(
        "cluster_id",
        "dim",
        F.expr(
            "CASE WHEN s >= 0 THEN (2 * s + c) DIV (2 * c) "
            "ELSE -((2 * (-s) + c) DIV (2 * c)) END"
        ).alias("cv"),
    )
    d2 = (
        mem.join(cent, ["cluster_id", "dim"])
        .groupBy("cluster_id", "vec_id")
        .agg(
            F.sum(
                (F.col("qv") - F.col("cv")) * (F.col("qv") - F.col("cv"))
            ).alias("dist_micro2")
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id").orderBy(
        F.col("dist_micro2").desc(), "vec_id"
    )
    return d2.select(
        "vec_id",
        "cluster_id",
        F.col("dist_micro2").cast("bigint").alias("dist_micro2"),
        (F.row_number().over(w) == 1).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Exact distributed Gram matrix — the covariance/PCA building block

_GRAM_Q = 1_000_000  # micro-unit quantization: exact integer products


@CAT.query(
    "embedding_gram_matrix",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(ROUND(CAST(x AS DOUBLE) * {_GRAM_Q})
                                      AS BIGINT)) AS qe
      FROM embeddings),
    cells AS (
      SELECT i.i AS i, j.j AS j, qe[i.i] * qe[j.j] AS prod
      FROM q,
           LATERAL (SELECT unnest(range(1, len(qe) + 1)) AS i) i,
           LATERAL (SELECT unnest(range(1, len(qe) + 1)) AS j) j
      WHERE j.j >= i.i)
    SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
           CAST(SUM(prod) AS BIGINT) AS gram_micro2
    FROM cells GROUP BY i, j
    """,
)
def embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed Gram matrix Xᵀ X over the embedding corpus —
    the one distributed pass behind covariance, PCA, whitening, and
    least-squares normal equations. Embeddings are quantized to
    integer micro-units so every engine and every partition-merge
    order produces bit-identical sums (the same determinism
    convention as ``cents()``; a double Σxᵢxⱼ would drift).

    Scale shape — the part that matters at 100 TB: each Arrow batch
    crosses to numpy ONCE and emits its 64×64 PARTIAL Gram as ≤2,080
    upper-triangle triplets (one ``X.T @ X`` BLAS call per batch, not
    64² work per row in codegen), so the shuffle carries
    (partitions × 2,080) rows no matter how many vectors exist; the
    final groupBy reduces partials. The d×d result is bounded by the
    DIMENSION, never the corpus — the driver can then eigensolve the
    4 KB matrix locally, which is the honest production division of
    labor (distributed accumulation, local spectral step).

    Overflow bound: |q|≤2²⁰-ish micro-units ⇒ per-row product ≤2⁴⁰;
    int64 partials are safe to ~2²³ rows per batch and the BIGINT
    final sum to ~2²³ batches; past that, promote the final
    aggregation to decimal(38,0) exactly as ``corr_exact_value_k``
    does (`analytics.py`). 1-based (i, j), upper triangle (j ≥ i).
    """
    import numpy as np  # vectorized batch math only — never per row

    emb = load_table(spark, sf_dir, "embeddings").select("embedding")

    def gram_partials(batches):
        acc = None
        for pdf in batches:
            if not len(pdf):
                continue
            dims = {len(e) for e in pdf["embedding"]}
            if len(dims) != 1:
                raise ValueError(
                    f"ragged embedding dimensions {sorted(dims)} — the "
                    "Gram contract is a fixed-dimension corpus"
                )
            scaled = (
                np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                * _GRAM_Q
            )
            # half-away-from-zero, matching SQL ROUND (np.rint would
            # bankers-round and drift on exact .5 boundaries)
            x = (np.sign(scaled) * np.floor(np.abs(scaled) + 0.5)).astype(
                np.int64
            )
            g = x.T @ x
            acc = g if acc is None else acc + g
        if acc is None:
            return
        d = acc.shape[0]
        iu, ju = np.triu_indices(d)
        yield pd.DataFrame(
            {"i": iu + 1, "j": ju + 1, "part": acc[iu, ju]}
        )

    partials = emb.mapInPandas(gram_partials, "i BIGINT, j BIGINT, part BIGINT")
    return partials.groupBy("i", "j").agg(
        F.sum("part").cast("bigint").alias("gram_micro2")
    )


# ---------------------------------------------------------------------------
# Exact PCA direction via integer power iteration on the Gram matrix

_PCA_S1 = 1 << 26  # fixed-point down-shift after the first G·u product
_PCA_S2 = 1 << 53  # down-shift after the second product


def _pca_div_sql(expr: str, s: int) -> str:
    """Sign-symmetric integer division (truncate toward zero) — the
    ONE semantics both engines can express identically; a bare // or
    div would floor vs truncate differently on negatives."""
    return f"CASE WHEN ({expr}) < 0 THEN -((-({expr})) // {s}) ELSE ({expr}) // {s} END"


@CAT.query(
    "embedding_pca_power_iter",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(ROUND(CAST(x AS DOUBLE) * {_GRAM_Q})
                                      AS BIGINT)) AS qe
      FROM embeddings),
    cells AS (
      SELECT i.i AS i, j.j AS j,
             CAST(SUM(qe[i.i] * qe[j.j]) AS HUGEINT) AS g
      FROM q,
           LATERAL (SELECT unnest(range(1, len(qe) + 1)) AS i) i,
           LATERAL (SELECT unnest(range(1, len(qe) + 1)) AS j) j
      GROUP BY i.i, j.j),
    v1 AS (SELECT i, SUM(g) AS v FROM cells GROUP BY i),
    u1 AS (SELECT i, {_pca_div_sql("v", _PCA_S1)} AS u FROM v1),
    v2 AS (
      SELECT c.i AS i, SUM(c.g * u1.u) AS v
      FROM cells c JOIN u1 ON u1.i = c.j
      GROUP BY c.i),
    u2 AS (SELECT i, CAST({_pca_div_sql("v", _PCA_S2)} AS BIGINT) AS u
           FROM v2)
    SELECT q.vec_id,
           CAST(SUM(qe[u2.i] * u2.u) AS BIGINT) AS proj_micro
    FROM q CROSS JOIN u2
    GROUP BY q.vec_id
    """,
)
def embedding_pca_power_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Principal-direction projection by power iteration, EXACT across
    engines — the full PCA story on top of
    :func:`embedding_gram_matrix`: two fixed-point iterations
    u₂ = shift(G · shift(G · 1)) pull the all-ones start vector
    toward the dominant eigendirection (classical power method;
    convergence ratio λ₂/λ₁ per step), then every vector gets its
    integer projection q·u₂. All arithmetic is integer with
    sign-symmetric truncating shifts written identically in SQL and
    Python, so the oracle is bit-exact — no eigensolver tolerance,
    no float drift.

    Scale division of labor (the honest production shape): the ONLY
    distributed passes are the Gram accumulation (shuffle bounded by
    d², see ``embedding_gram_matrix``) and the final narrow
    projection map; the 64×64 spectral step runs driver-side on a
    4 KB matrix with arbitrary-precision Python ints (the bounded
    .collect() convention — same class as the 16-row k-means model).
    A float eigensolve would be numerically nicer and is what you'd
    ship; this entry exists to pin the DISTRIBUTED plumbing with an
    exact oracle, which a float eigensolver cannot give.

    Fixed-point envelope (documented, not silent): |G| ≤ n·q_max²
    ≈ n·2.5e11; the 2²⁶/2⁵³ shifts keep every intermediate inside
    int64/HUGEINT for n ≲ 1e5 vectors per corpus; larger corpora
    raise the shifts (or accumulate in decimal(38,0), the
    ``corr_exact_value_k`` pattern)."""
    rows = embedding_gram_matrix(spark, sf_dir).collect()  # ≤2,080 cells
    if not rows:
        raise ValueError("embeddings table is empty — no PCA direction")
    d = max(r.j for r in rows)
    G = [[0] * d for _ in range(d)]
    for r in rows:
        G[r.i - 1][r.j - 1] = r.gram_micro2
        G[r.j - 1][r.i - 1] = r.gram_micro2

    def shift(v: int, s: int) -> int:
        return -((-v) // s) if v < 0 else v // s

    v1 = [sum(G[i]) for i in range(d)]
    u1 = [shift(v, _PCA_S1) for v in v1]
    v2 = [sum(G[i][j] * u1[j] for j in range(d)) for i in range(d)]
    u2 = [shift(v, _PCA_S2) for v in v2]

    qe = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * _GRAM_Q).cast("bigint"),
    )
    u2_lit = F.array(*[F.lit(int(u)) for u in u2])
    proj = F.aggregate(
        F.zip_with(qe, u2_lit, lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", proj.cast("bigint").alias("proj_micro"))
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) encode + reconstruction audit

_PQ_M = 32  # subspaces (64-dim embeddings → 2 dims each)
_PQ_K = 128  # centroids per subspace codebook
from csv_to_parquet_spark.functions import MICRO_Q as _PQ_Q  # noqa: E402


def _pq_quant(arr):
    """Embedding floats → integer micro-units (functions.quant_micro —
    ONE quantizer for every integer-exact index)."""
    from csv_to_parquet_spark.functions import quant_micro

    return quant_micro(arr)


def _pq_codebook(emb: DataFrame):
    """The deterministic PQ codebook: quantized rows of the _PQ_K
    lowest-vec_id embeddings, code c = rank c. Bounded collect."""
    import numpy as np

    seed_rows = emb.orderBy("vec_id").limit(_PQ_K).select("embedding").collect()
    return _pq_quant(np.stack([r.embedding for r in seed_rows]))  # (K, 64)


#: Codebook training-sample budget: a bounded, deterministic collect
#: (lowest vec_ids), constant regardless of corpus size. Shared by
#: the exact integer refiner (_pq_refine_codebook_int) shared by the
#: ADC, rerank, and IVFPQ entries.
_PQ_TRAIN_SAMPLE = 2048

#: Lloyd iterations for the ADC search codebook (knn_pq_adc). Chosen
#: by measurement on the uniform sf0.1 corpus: init-only recall@10
#: 0.675 → 0.725 / 0.7375 / 0.75 after 1 / 2 / 3 iterations (r9);
#: r10 raised 3 → 7 after a full offline sweep (ADC 0.75 → 0.7625,
#: IVFPQ 0.7125 → 0.775 at the unchanged 38.4% scan fraction, rerank
#: holds 1.00 — every leg improves or holds, and the trainer is a
#: bounded 2048-row numpy loop so the Spark-side cost is
#: milliseconds). The oracle's unrolled-CTE replay stays linear in
#: the iteration count because the intermediate codebook CTEs are
#: MATERIALIZED (see _pq_adc_ctes).
_PQ_ADC_ITERS = 7


def _pq_refine_codebook_int(emb: DataFrame, codebook, iters: int):
    """EXACT-arithmetic Lloyd refinement of a PQ codebook — the
    PQ-codebook trainer (every PQ entry's oracle replays it). Trains on the
    ``_PQ_TRAIN_SAMPLE`` lowest-vec_id rows (bounded, deterministic
    collect — the FAISS train-on-sample convention), in integer
    micro-units end to end: assignment is the first-minimal argmin
    over exact BIGINT distances (== the oracle's MIN(d2·K + code)
    packing), and the centroid update is the HALF-AWAY-FROM-ZERO
    rounded integer mean sign(s)·((2·|s| + c) // (2·c)) — pure int64,
    reproducible verbatim in DuckDB, so the refined codebook (and
    everything downstream of it) stays oracle-exact. Empty cells
    keep their previous centroid, mirroring the oracle's LEFT JOIN +
    COALESCE. Refines each subspace's column slice IN PLACE so the
    (K, 64) shape every consumer slices is unchanged."""
    import numpy as np

    sample_rows = (
        emb.orderBy("vec_id")
        .limit(_PQ_TRAIN_SAMPLE)
        .select("embedding")
        .collect()
    )
    s_mat = _pq_quant(np.stack([r.embedding for r in sample_rows]))
    if codebook is None:
        # init codebook = the sample's first _PQ_K rows — identical
        # to _pq_codebook (both are the quantized lowest-vec_id
        # rows) but saves a second collect job (~0.5 s/run of
        # timed bench cost)
        codebook = s_mat[:_PQ_K]
    d_sub = 64 // _PQ_M
    n_codes = len(codebook)
    cur = codebook.copy()
    for _ in range(iters):
        new = cur.copy()
        for s in range(_PQ_M):
            sl = slice(s * d_sub, (s + 1) * d_sub)
            x = s_mat[:, sl]
            c_sub = cur[:, sl]
            # exact-integer argmin via the dot-product expansion:
            # d2 = |x|² − 2·x·c + |c|²; |x|² is row-constant so the
            # argmin (and its first-min tie rule) is unchanged, and
            # everything stays int64-exact. Avoids materializing the
            # (n, K, d) broadcast temporaries (measured 0.62 s →
            # ~0.05 s per refine inside the timed bench region).
            score = (c_sub * c_sub).sum(axis=1)[None, :] - 2 * (x @ c_sub.T)
            assign = score.argmin(axis=1)
            # vectorized per-cell sums/counts (np.add.at beats a
            # 128-way python loop ~10×; the loop version cost ~0.3 s
            # per run inside the timed bench region)
            cnt = np.bincount(assign, minlength=n_codes)
            tot = np.zeros((n_codes, d_sub), dtype=np.int64)
            np.add.at(tot, assign, s_mat[:, sl])
            nz = cnt > 0
            c = cnt[nz, None]
            t = tot[nz]
            new[nz, sl] = np.sign(t) * ((2 * np.abs(t) + c) // (2 * c))
        cur = new
    return cur


def _pq_encode(emb: DataFrame, codebook, with_err: bool) -> DataFrame:
    """Shared PQ encoder (every PQ entry encodes through this one
    kernel; they differ only in WHICH codebook they pass — audit:
    init, ADC/rerank/IVFPQ: exact-integer-refined via
    _pq_refine_codebook_int; IVFPQ fuses cell assignment into its own
    encode pass and does not call this helper):
    one mapInPandas pass assigning every (vector, subspace) its
    nearest-centroid code via a numpy broadcast; ``with_err`` adds
    the integer reconstruction error column. np.argmin returns the
    FIRST minimal index, matching the oracles' MIN(code) tiebreak."""
    import numpy as np

    d_sub = 64 // _PQ_M

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = _pq_quant(np.stack(pdf["embedding"].to_numpy()))  # (B, 64)
            out = {"vec_id": [], "subspace": [], "code": [], "err_micro2": []}
            for s in range(_PQ_M):
                sl = slice(s * d_sub, (s + 1) * d_sub)
                # (B, 1, d) - (1, K, d) -> (B, K) integer distances
                diff = x[:, None, sl] - codebook[None, :, sl]
                d2 = (diff * diff).sum(axis=2)
                out["vec_id"].append(pdf["vec_id"].to_numpy())
                out["subspace"].append(np.full(len(pdf), s + 1, dtype=np.int64))
                out["code"].append(d2.argmin(axis=1).astype(np.int64))
                if with_err:
                    out["err_micro2"].append(d2.min(axis=1))
            if not with_err:
                del out["err_micro2"]
            yield pd.DataFrame(
                {k: np.concatenate(v) for k, v in out.items()}
            )

    schema = "vec_id BIGINT, subspace BIGINT, code BIGINT"
    if with_err:
        schema += ", err_micro2 BIGINT"
    return emb.select("vec_id", "embedding").mapInPandas(encode, schema)


@CAT.query(
    "embedding_pq_audit",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(ROUND(CAST(x AS DOUBLE) * {_PQ_Q})
                                      AS BIGINT)) AS qe
      FROM embeddings),
    seeds AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, qe AS cb
      FROM (SELECT * FROM q ORDER BY vec_id LIMIT {_PQ_K})),
    dist AS (
      SELECT v.vec_id, s.s AS subspace, seeds.code,
             list_sum([(v.qe[i] - seeds.cb[i]) * (v.qe[i] - seeds.cb[i])
                       for i in range((s.s - 1) * {64 // _PQ_M} + 1,
                                      s.s * {64 // _PQ_M} + 1)]) AS d2
      FROM q v,
           (SELECT unnest(range(1, {_PQ_M} + 1)) AS s) s,
           seeds),
    best AS (
      SELECT vec_id, subspace, MIN(d2) AS err FROM dist GROUP BY 1, 2)
    SELECT d.vec_id, CAST(d.subspace AS BIGINT) AS subspace,
           CAST(MIN(d.code) AS BIGINT) AS code,
           CAST(b.err AS BIGINT) AS err_micro2
    FROM dist d
    JOIN best b ON d.vec_id = b.vec_id AND d.subspace = b.subspace
               AND d.d2 = b.err
    GROUP BY d.vec_id, d.subspace, b.err
    """,
)
def embedding_pq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode (Jégou et al. 2011) with an exact
    per-subspace reconstruction-error audit — the vector-compression
    counterpart of the scalar ``embedding_quantize_error``: split each
    64-dim embedding into {_PQ_M} subvectors, assign each to its
    nearest of {_PQ_K} codebook centroids, and report (code, squared
    error) per subspace. {_PQ_M} codes × 7 bits replace 256 float
    bytes (~9× compression); the summed err_micro2 is the compression
    loss an ANN index built on these codes inherits. The (M, K)
    operating point is recall-driven: the unit-normalized uniform
    driver corpus is the hostile regime for PQ (no cluster structure
    to exploit), and 2-dim subspaces × 128 centroids is the smallest
    init-only codebook that clears recall@10 ≥ 0.5 there (measured
    0.67 at sf0.1 — bench artifact; coarser 8×16 measured 0.19).

    Exactness: embeddings quantize to integer micro-units (the Gram
    convention), so every distance is an exact BIGINT and the argmin
    (ties → smallest code) is deterministic in any engine. The
    codebook is the PQ *init* step — the subvectors of the {_PQ_K}
    lowest-vec_id embeddings, the deterministic seeding a Lloyd
    refinement (``cluster_kmeans_assign`` shows the exact-arithmetic
    template) would start from; keeping the audit at init keeps the
    whole operator oracle-exact.

    Scale: the codebook is a bounded {_PQ_K}-row collect (like the
    k-means model); each Arrow batch computes all (batch × K)
    subspace distances in one numpy broadcast — the corpus never
    shuffles at all; output is (n · M) small integer rows. np.argmin
    returns the FIRST minimal index, matching the oracle's MIN(code)
    tiebreak.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return _pq_encode(emb, _pq_codebook(emb), with_err=True)


#: ADC search: query set (same convention as similarity.N_QUERIES)
#: and result depth.
_ADC_QUERIES = 8
_ADC_TOPK = 10


def _pq_adc_ctes(filtered: bool = False) -> list[str]:
    """Shared DuckDB CTE prefix for ``knn_pq_adc``, ``knn_pq_rerank``
    AND (``filtered=True``, matching similarity._emb's zero-norm
    filter) ``knn_ivf_pq_ann`` (everything through the ADC scores):
    init codebook →
    ``_PQ_ADC_ITERS`` UNROLLED integer-Lloyd iterations (the
    bpe_learn_merges chained-CTE pattern) → encode → LUT → ADC.
    Everything is BIGINT: distances are exact, argmin ties resolve
    via the MIN(d2·K + code) key packing (d2 < 2^43, K = {_PQ_K}, so
    the pack never overflows), and the centroid update is the
    half-away-from-zero integer mean — bit-identical to
    ``_pq_refine_codebook_int``. Empty cells keep the old centroid
    (LEFT JOIN + CASE).

    INTERMEDIATE codebook CTEs are ``AS MATERIALIZED``: each cb{{t}}
    references cb{{t-1}} twice (argmin assignment + empty-cell
    fallback), so letting DuckDB inline the chain re-evaluates every
    prior iteration per reference — 2^iters blowup, measured 46 s at
    7 iterations vs 4.6 s materialized (sf0.01). The FINAL codebook
    stays inline so the corpus-encode join still fuses (materializing
    it measured ~3× slower at sf0.1)."""
    d = 64 // _PQ_M

    def subvec(tbl: str, sub: str) -> str:
        # the sub-th d-dim slice of a quantized 64-list, 1-indexed
        return (
            f"[{tbl}.qe[({sub} - 1) * {d} + i] for i in range(1, {d} + 1)]"
        )

    def d2(tbl: str, cbt: str) -> str:
        return (
            f"list_sum([({tbl}.qe[({cbt}.subspace - 1) * {d} + i] - {cbt}.cb[i])"
            f" * ({tbl}.qe[({cbt}.subspace - 1) * {d} + i] - {cbt}.cb[i])"
            f" for i in range(1, {d} + 1)])"
        )

    def rnd(s: str, c: str) -> str:
        # half-away-from-zero integer rounding of s / c (c > 0)
        return (
            f"CASE WHEN {s} >= 0 THEN (2 * {s} + {c}) // (2 * {c})"
            f" ELSE -((2 * (-({s})) + {c}) // (2 * {c})) END"
        )

    where = (
        """
      WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                             CAST(embedding AS DOUBLE[])) > 0"""
        if filtered
        else ""
    )
    ctes = [
        f"""q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(ROUND(CAST(x AS DOUBLE) * {_PQ_Q})
                                      AS BIGINT)) AS qe
      FROM embeddings{where})""",
        f"""subs AS (SELECT unnest(range(1, {_PQ_M} + 1)) AS subspace)""",
        f"""cb0 AS (
      SELECT s.subspace,
             row_number() OVER (PARTITION BY s.subspace
                                ORDER BY t.vec_id) - 1 AS code,
             {subvec('t', 's.subspace')} AS cb
      FROM (SELECT * FROM q ORDER BY vec_id LIMIT {_PQ_K}) t, subs s)""",
        f"""samp AS (SELECT vec_id, qe FROM q
           ORDER BY vec_id LIMIT {_PQ_TRAIN_SAMPLE})""",
    ]
    for t in range(1, _PQ_ADC_ITERS + 1):
        p = t - 1
        sums = ",\n             ".join(
            f"SUM(v.qe[(a.subspace - 1) * {d} + {i}]) AS s{i}"
            for i in range(1, d + 1)
        )
        elems = ",\n                  ".join(
            rnd(f"u.s{i}", "u.cnt") for i in range(1, d + 1)
        )
        ctes.append(
            f"""a{t} AS (
      SELECT v.vec_id, c.subspace,
             MIN({d2('v', 'c')} * {_PQ_K} + c.code) % {_PQ_K} AS code
      FROM samp v, cb{p} c
      GROUP BY 1, 2)"""
        )
        ctes.append(
            f"""u{t} AS (
      SELECT a.subspace, a.code, COUNT(*) AS cnt,
             {sums}
      FROM a{t} a JOIN samp v USING (vec_id)
      GROUP BY 1, 2)"""
        )
        mat = " MATERIALIZED" if t < _PQ_ADC_ITERS else ""
        ctes.append(
            f"""cb{t} AS{mat} (
      SELECT c.subspace, c.code,
             CASE WHEN u.cnt IS NULL THEN c.cb
                  ELSE list_value(
                  {elems})
             END AS cb
      FROM cb{p} c
      LEFT JOIN u{t} u ON u.subspace = c.subspace AND u.code = c.code)"""
        )
    final = f"cb{_PQ_ADC_ITERS}"
    ctes.append(
        f"""codes AS (
      SELECT v.vec_id, c.subspace,
             MIN({d2('v', 'c')} * {_PQ_K} + c.code) % {_PQ_K} AS code
      FROM q v, {final} c
      GROUP BY 1, 2)"""
    )
    ctes.append(
        f"""qu AS (SELECT vec_id AS query_id, qe FROM q
           WHERE vec_id < {_ADC_QUERIES})"""
    )
    ctes.append(
        f"""lut AS (
      SELECT qu.query_id, c.subspace, c.code,
             {d2('qu', 'c')} AS d2
      FROM qu, {final} c)"""
    )
    ctes.append(
        """adc AS (
      SELECT l.query_id, c.vec_id, CAST(SUM(l.d2) AS BIGINT) AS dist_micro2
      FROM codes c
      JOIN lut l ON l.subspace = c.subspace AND l.code = c.code
      WHERE c.vec_id <> l.query_id
      GROUP BY 1, 2)"""
    )
    return ctes


def _pq_adc_oracle() -> str:
    """DuckDB oracle for ``knn_pq_adc``: the shared ADC prefix plus
    the per-query top-k ranking."""
    ctes = _pq_adc_ctes()
    ctes.append(
        """r AS (
      SELECT query_id, vec_id, dist_micro2,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY dist_micro2, vec_id) AS rk
      FROM adc)"""
    )
    return (
        "\n    WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT query_id, vec_id, dist_micro2, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= {_ADC_TOPK}
    """
    )


#: Rerank candidate depth: the ADC screen keeps this many candidates
#: per query before the exact distance pass. 40 = 4× the final k —
#: the conventional shallow-rerank setting (FAISS refine factor).
_RERANK_C = 40


def _pq_rerank_oracle() -> str:
    """DuckDB oracle for ``knn_pq_rerank``: the shared ADC prefix, a
    top-``_RERANK_C`` candidate screen, then EXACT integer squared-L2
    on the full quantized vectors and the final top-k."""
    ctes = _pq_adc_ctes()
    ctes.append(
        """cand AS (
      SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY dist_micro2, vec_id) AS crk
      FROM adc)"""
    )
    ctes.append(
        f"""ex AS (
      SELECT c.query_id, c.vec_id,
             CAST(list_sum([(qu.qe[i] - v.qe[i]) * (qu.qe[i] - v.qe[i])
                            for i in range(1, 65)]) AS BIGINT)
               AS dist_micro2
      FROM cand c
      JOIN qu ON qu.query_id = c.query_id
      JOIN q v ON v.vec_id = c.vec_id
      WHERE c.crk <= {_RERANK_C})"""
    )
    ctes.append(
        """rr AS (
      SELECT query_id, vec_id, dist_micro2,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY dist_micro2, vec_id) AS rk
      FROM ex)"""
    )
    return (
        "\n    WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT query_id, vec_id, dist_micro2, CAST(rk AS BIGINT) AS rk
    FROM rr WHERE rk <= {_ADC_TOPK}
    """
    )


def _adc_scores(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """Shared Spark-side ADC scorer for ``knn_pq_adc`` and
    ``knn_pq_rerank``: train the exact-integer codebook, encode the
    corpus to codes, build the per-query (subspace, code) lookup
    table driver-side, and return the summed asymmetric distances —
    one broadcast LUT join, self-matches excluded before ranking."""
    import numpy as np

    d_sub = 64 // _PQ_M
    codebook = _pq_refine_codebook_int(emb, None, _PQ_ADC_ITERS)
    codes = _pq_encode(emb, codebook, with_err=False)

    q_rows = (
        emb.filter(F.col("vec_id") < _ADC_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )
    lut_rows = []
    for r in q_rows:
        qq = _pq_quant(np.array(r.embedding))
        for s in range(_PQ_M):
            sl = slice(s * d_sub, (s + 1) * d_sub)
            d2 = ((qq[sl][None, :] - codebook[:, sl]) ** 2).sum(axis=1)
            # iterate the ACTUAL codebook size: a corpus smaller than
            # _PQ_K yields a short codebook (mirrors the oracle LIMIT)
            lut_rows.extend(
                (r.vec_id, s + 1, c, int(d2[c])) for c in range(len(d2))
            )
    lut = spark.createDataFrame(
        lut_rows, "query_id BIGINT, subspace BIGINT, code BIGINT, d2 BIGINT"
    )

    # Self-matches are excluded BEFORE ranking (same convention as
    # knn_bruteforce_cosine) so the ANN paths' recall@10 numbers
    # are apples-to-apples — a query's own reconstruction would
    # otherwise structurally occupy one of its k slots.
    return (
        codes.join(F.broadcast(lut), ["subspace", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d2").alias("dist_micro2"))
    )


@CAT.query(
    "knn_pq_adc",
    oracle=_pq_adc_oracle(),
)
def knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance (ADC) top-{_ADC_TOPK} search over PQ codes —
    the FAISS-style third leg of the ANN family next to hyperplane-LSH
    and IVF (similarity.py), and unlike those two it is ORACLE-EXACT:
    PQ codes and lookup-table distances are deterministic integers, so
    the ranking has no float or randomness anywhere.

    ADC shape: the corpus is represented ONLY by its codes
    ({_PQ_M} small ints per vector — the compressed index a 100 TB
    corpus actually stores); per query, the distance to every possible
    (subspace, code) cell is precomputed driver-side into a
    {_ADC_QUERIES}·{_PQ_M}·{_PQ_K}-row lookup table from the bounded
    codebook + query collects, and scanning the index is then one
    broadcast LUT join + a SUM over subspaces — no embedding column is
    ever read again, no shuffle carries vectors. Top-k per query is a
    window over the ≤ n·queries scored rows with the (dist, vec_id)
    tiebreak.

    The audit companion (``embedding_pq_audit``) reports exactly the
    quantization error this search trades for its ~9× compression;
    the exact baseline for recall measurement is
    ``knn_bruteforce_cosine``, and self-matches are excluded before
    ranking so the comparison is apples-to-apples with the other two
    ANN paths. The codebook is the deterministic init (the audit's
    codebook) refined by {_PQ_ADC_ITERS} EXACT integer-Lloyd
    iterations on the bounded {_PQ_TRAIN_SAMPLE}-row training sample
    (``_pq_refine_codebook_int`` — half-away-from-zero integer means,
    first-min argmin), which the DuckDB oracle replays verbatim as
    unrolled CTEs, so training does NOT cost oracle-exactness.
    Measured recall@10 vs the brute-force baseline on the
    unit-normalized uniform sf0.1 corpus — the PQ-hostile regime, no
    cluster structure to exploit: 0.675 init-only → 0.75 at 3
    iterations (r9) → 0.7625 at the r10 7-iteration budget; every
    pipeline stage (codes, LUT, broadcast join) is unchanged by M,
    K, or training.
    """
    # persisted: the trainer's sample collect, the query collect, and
    # the encode scan would otherwise each re-read the raw table
    emb = persist_tracked(load_table(spark, sf_dir, "embeddings"))
    adc = _adc_scores(spark, emb)
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy("dist_micro2", "vec_id")
    return (
        adc.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= _ADC_TOPK)
        .select("query_id", "vec_id", "dist_micro2", "rk")
    )


@CAT.query(
    "knn_pq_rerank",
    oracle=_pq_rerank_oracle(),
)
def knn_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN — ADC screen, then EXACT rerank: the production
    retrieval shape (a FAISS ``IndexRefineFlat`` over an ADC index).
    Stage 1 reuses ``knn_pq_adc``'s scorer verbatim to keep the
    {_RERANK_C} most promising candidates per query from the
    compressed codes; stage 2 recomputes the TRUE squared L2 distance
    on the full quantized vectors for those ≲ queries×{_RERANK_C}
    candidates only and takes the final top-{_ADC_TOPK}. Quantization
    error then only costs recall where a true neighbor falls outside
    the ADC top-{_RERANK_C} — measured recall@10 on the uniform sf0.1
    corpus: 1.00 (ADC alone: 0.7625) while the exact pass touches
    <1% of the corpus.

    Oracle-exactness is inherited end to end: the ADC prefix is the
    shared integer pipeline (trained codebook replayed as unrolled
    CTEs), the rerank distance is an integer sum over the micro-unit
    grid (|diff| ≤ 2·10⁶ per dim, ×64 dims < 2⁶³ — no overflow), and
    both stages break ties by vec_id.

    Scale: stage 2's candidate list is queries×{_RERANK_C} rows — it
    BROADCASTS against the corpus embeddings, so the only exchanges
    are the ADC agg and the final model-sized ranking window; the
    full-precision vectors are read once and never shuffled. The
    exact distance is a JVM zip_with/aggregate fold — no Python in
    the rerank path."""
    # persisted: five consumers (codebook collect, LUT collect, the
    # encode scan, corpus_q, queries_q) would otherwise each re-read
    # and re-decode the raw table — the same ~40%-of-entry cost the
    # IVF entries measured before persisting
    emb = persist_tracked(load_table(spark, sf_dir, "embeddings"))
    adc = _adc_scores(spark, emb)
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy("dist_micro2", "vec_id")
    cand = (
        adc.withColumn("crk", F.row_number().over(w))
        .filter(F.col("crk") <= _RERANK_C)
        .select("query_id", "vec_id")
    )
    # quantize on the identical micro-unit grid as _pq_quant / the
    # oracle's ROUND (Spark round = half-away-from-zero on doubles)
    qvec = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * _PQ_Q).cast("bigint"),
    )
    corpus_q = emb.select("vec_id", qvec.alias("qe"))
    queries_q = (
        emb.filter(F.col("vec_id") < _ADC_QUERIES)
        .select(F.col("vec_id").alias("query_id"), qvec.alias("qqe"))
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col("qqe"), F.col("qe"), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    ex = (
        corpus_q.join(F.broadcast(cand), "vec_id")
        .join(F.broadcast(queries_q), "query_id")
        .select("query_id", "vec_id", d2.alias("dist_micro2"))
    )
    return (
        ex.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= _ADC_TOPK)
        .select("query_id", "vec_id", "dist_micro2", "rk")
    )


# ---------------------------------------------------------------------------
# IVF + PQ composite (the FAISS IVFPQ shape): coarse-probe, then ADC
# ---------------------------------------------------------------------------

#: Composite-index IVF granularity. Finer than knn_ivf_ann's 16 cells
#: because at a FIXED scan fraction (probes/cells) finer cells
#: localize true neighbors better: measured uniform recall@10 of the
#: exact-rerank probe leg at 37.5% scan is 0.70 with 16/6 but 0.89
#: with 64/24 (sf0.1). Kept its own constants so the two entries'
#: recall/cost trade-offs diverge independently — knn_ivf_ann stays
#: at 16/6 as the coarse-probe reference point.
_IVFPQ_CELLS = 64
_IVFPQ_PROBES = 24
#: Coarse-quantizer Lloyd iterations for the composite — passed
#: explicitly to similarity's trainer (``iters=``), so the oracle's
#: unroll count and the Spark trainer agree BY CONSTRUCTION and the
#: two IVF entries tune independently (knn_ivf_ann's 16-cell grid
#: measured best at 3 iterations, this 64-cell grid at 2 — a 3rd
#: iteration here drops the composite 0.775 → 0.75).
_IVF_COARSE_ITERS = 2


def _ivfpq_int_oracle() -> str:
    """DuckDB oracle for ``knn_ivf_pq_ann``: the zero-norm-filtered
    PQ training/encode/LUT prefix (``_pq_adc_ctes(filtered=True)``,
    minus its full-scan adc) plus the IVF leg — unrolled integer-Lloyd
    coarse training over the same filtered sample (seeds vec_id
    100..{100 + _IVFPQ_CELLS - 1}), integer cell assignment, probe
    ranking by (d2, cell) — and the probe-screened ADC sum. Every
    stage is BIGINT-exact; argmin ties pack as MIN(d2·K + cell)."""
    K = _IVFPQ_CELLS

    def d2i(tbl: str, cbt: str) -> str:
        return (
            f"list_sum([({tbl}.qe[i] - {cbt}.cb[i])"
            f" * ({tbl}.qe[i] - {cbt}.cb[i]) for i in range(1, 65)])"
        )

    def rnd(s: str, c: str) -> str:
        return (
            f"CASE WHEN {s} >= 0 THEN (2 * {s} + {c}) // (2 * {c})"
            f" ELSE -((2 * (-({s})) + {c}) // (2 * {c})) END"
        )

    ctes = _pq_adc_ctes(filtered=True)
    ctes.pop()  # drop the full-scan adc; the composite screens first
    ctes.append(
        f"""icb0 AS (SELECT vec_id - 100 AS cell, qe AS cb FROM q
           WHERE vec_id >= 100 AND vec_id < {100 + K})"""
    )
    for t in range(1, _IVF_COARSE_ITERS + 1):
        p = t - 1
        sums = ",\n             ".join(
            f"SUM(v.qe[{i}]) AS s{i}" for i in range(1, 65)
        )
        elems = ",\n                  ".join(
            rnd(f"u.s{i}", "u.cnt") for i in range(1, 65)
        )
        ctes.append(
            f"""ia{t} AS (
      SELECT v.vec_id, MIN({d2i('v', 'c')} * {K} + c.cell) % {K} AS cell
      FROM samp v, icb{p} c GROUP BY 1)"""
        )
        ctes.append(
            f"""iu{t} AS (
      SELECT a.cell, COUNT(*) AS cnt,
             {sums}
      FROM ia{t} a JOIN samp v USING (vec_id) GROUP BY 1)"""
        )
        # same inline-blowup guard as _pq_adc_ctes: intermediates
        # materialized, final inline so cells/iprobes fuse
        imat = " MATERIALIZED" if t < _IVF_COARSE_ITERS else ""
        ctes.append(
            f"""icb{t} AS{imat} (
      SELECT c.cell,
             CASE WHEN u.cnt IS NULL THEN c.cb
                  ELSE list_value(
                  {elems})
             END AS cb
      FROM icb{p} c LEFT JOIN iu{t} u ON u.cell = c.cell)"""
        )
    ifinal = f"icb{_IVF_COARSE_ITERS}"
    ctes.append(
        f"""cells AS (
      SELECT v.vec_id, MIN({d2i('v', 'c')} * {K} + c.cell) % {K} AS cell
      FROM q v, {ifinal} c GROUP BY 1)"""
    )
    ctes.append(
        f"""iprobes AS (
      SELECT query_id, cell FROM (
        SELECT qu.query_id, c.cell,
               row_number() OVER (PARTITION BY qu.query_id
                                  ORDER BY {d2i('qu', 'c')}, c.cell) AS prk
        FROM qu, {ifinal} c) t
      WHERE prk <= {_IVFPQ_PROBES})"""
    )
    ctes.append(
        """adc AS (
      SELECT l.query_id, c.vec_id, CAST(SUM(l.d2) AS BIGINT) AS dist_micro2
      FROM codes c
      JOIN cells cl ON cl.vec_id = c.vec_id
      JOIN iprobes p ON p.cell = cl.cell
      JOIN lut l ON l.query_id = p.query_id
                AND l.subspace = c.subspace AND l.code = c.code
      WHERE c.vec_id <> l.query_id
      GROUP BY 1, 2)"""
    )
    ctes.append(
        """r AS (
      SELECT query_id, vec_id, dist_micro2,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY dist_micro2, vec_id) AS rk
      FROM adc)"""
    )
    return (
        "\n    WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT query_id, vec_id, dist_micro2, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= {_ADC_TOPK}
    """
    )


@CAT.query(
    "knn_ivf_pq_ann",
    oracle=_ivfpq_int_oracle(),
)
def knn_ivf_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-{_ADC_TOPK} via IVF coarse quantization OVER PQ codes —
    the composite every production vector store actually deploys
    (FAISS ``IVFx,PQy``): the inverted file bounds WHICH fraction of
    the corpus a query touches, PQ bounds the BYTES per touched
    vector. The single-leg entries remain the measured references:
    ``knn_ivf_ann`` (coarse probe, exact rerank) isolates the probe
    loss, ``knn_pq_adc`` (full-scan ADC) isolates the quantization
    loss; this entry's recall is their compounding, the honest price
    of 100 TB practicality, reported side by side in bench.py's
    ``recall_at_10``. ORACLE-EXACT since r9: both models train with
    the exact integer-Lloyd refiners, so the DuckDB oracle replays
    coarse training, codebook training, assignment, probing, LUT, and
    ADC verbatim (:func:`_ivfpq_int_oracle`) — the last rows-only ANN
    path converted.

    Pipeline: train a {_IVFPQ_CELLS}-cell coarse grid with the shared
    exact-integer trainer (similarity._ivf_train_centroids_int — one
    bounded collect, the FAISS train-on-sample convention; finer than
    knn_ivf_ann's 16 cells because at the same probes/cells scan
    fraction finer cells localize neighbors better) and the PQ
    codebook with the exact integer refiner knn_pq_adc uses
    (``_pq_refine_codebook_int`` on the bounded {_PQ_TRAIN_SAMPLE}-row
    sample — both over the zero-norm-filtered frame, so the oracle's
    single filtered sample feeds both replays), then ONE fused Arrow
    pass over the corpus emits (cell, subspace, code) per vector —
    cell assignment (exact int64 argmin, first-min ties) and PQ
    encoding share the batch (the fused kernel exists because a
    separate JVM argmax pass plus a codes⨝cells shuffle measured
    5.0 s vs 0.7 s per single leg). Per query:
    probe the {_IVFPQ_PROBES} nearest cells by integer d2, ties by
    cell index (a queries×probes literal — broadcast), score
    candidates through a broadcast (query, subspace, code) → d2
    lookup table exactly like ``knn_pq_adc``, sum over subspaces,
    window top-k. The corpus-side scan reads only probed cells' CODE
    rows: probes/cells of the corpus at {_PQ_M} small ints per
    vector, no embedding column after encode, no shuffle carrying
    vectors — the exchange holds (query_id, vec_id, d2) triples for
    candidates only.

    Measured (sf0.1 uniform corpus, 38.4% scan fraction): recall@10
    0.775 — r10 closed the integer-conversion dip (0.7125 at 3 PQ
    Lloyd iterations, vs 0.7375 for the removed float trainer) by
    raising the shared codebook budget to {_PQ_ADC_ITERS} iterations;
    the offline sweep also ruled out the other levers at this scan
    budget (finer coarse grids 96/128 cells and a 3rd coarse
    iteration all LOWERED recall on this corpus; the r7
    16-cell/6-probe/init-codebook point was 0.575). Single-leg
    references: IVF-exact 0.725 at 16/6 (r10, 3 coarse iterations),
    full-scan ADC 0.7625, screen+exact-rerank 1.00.
    """
    import numpy as np

    from csv_to_parquet_spark.operators import similarity as _sim

    # the oracle replays BOTH trainers from _pq_adc_ctes's single
    # filtered sample on the _PQ_Q grid — the IVF-side constants must
    # stay coupled or the composite silently diverges from its oracle
    assert _sim._IVF_TRAIN_SAMPLE == _PQ_TRAIN_SAMPLE, (
        "composite coarse trainer samples a different row budget than "
        "the oracle's samp CTE"
    )
    assert _sim._IVF_Q == _PQ_Q, (
        "composite coarse trainer quantizes on a different grid than "
        "the oracle's q CTE"
    )
    # persisted across the trainer's jobs and the query collect —
    # same rationale as knn_ivf_ann (lint: operators/cache.py)
    e = persist_tracked(_sim._emb(spark, sf_dir))
    # iters passed explicitly == the oracle's unroll count — the two
    # IVF grids (this 64-cell one and knn_ivf_ann's 16-cell one) tune
    # their iteration budgets independently since r10
    cents = _sim._ivf_train_centroids_int(
        e, _IVFPQ_CELLS, iters=_IVF_COARSE_ITERS
    )  # int64 (K, 64)

    d_sub = 64 // _PQ_M
    # Both models train with the EXACT integer-Lloyd refiners on the
    # filtered frame (so the oracle's single filtered sample feeds
    # both replays): the coarse grid via similarity's trainer, the PQ
    # codebook via the same refiner knn_pq_adc uses.
    codebook = _pq_refine_codebook_int(e, None, _PQ_ADC_ITERS)
    # Cell assignment is FUSED into the encode pass (how production
    # IVFPQ encoders work): the trained centroids are already a
    # driver-side model, so one vectorized matmul per Arrow batch
    # assigns the cell alongside the PQ codes — no second corpus pass
    # through the interpreted HOF argmax and no codes⨝cells shuffle
    # (that first shape measured 5.0 s vs 0.7 s for each single leg).
    # The corpus below is the PERSISTED, already-nonzero-norm-filtered
    # frame from the trainer — no second raw scan, one home for the
    # zero-norm rule (functions.nonzero_norm inside _emb).
    cents_np = np.asarray(cents, dtype=np.int64)
    cent_n2 = (cents_np * cents_np).sum(axis=1)

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(
                [np.asarray(x, dtype=np.float64) for x in pdf["embedding"]]
            )
            ids = pdf["vec_id"].to_numpy()
            x = _pq_quant(v)
            # exact int64 argmin via the dot expansion (row-constant
            # |x|² dropped); first-min == the oracle's MIN packing
            cell = (cent_n2[None, :] - 2 * (x @ cents_np.T)).argmin(axis=1)
            out = {"vec_id": [], "cell": [], "subspace": [], "code": []}
            for s in range(_PQ_M):
                sl = slice(s * d_sub, (s + 1) * d_sub)
                diff = x[:, None, sl] - codebook[None, :, sl]
                d2 = (diff * diff).sum(axis=2)
                out["vec_id"].append(ids)
                out["cell"].append(cell.astype(np.int64))
                out["subspace"].append(np.full(len(ids), s + 1, dtype=np.int64))
                out["code"].append(d2.argmin(axis=1).astype(np.int64))
            yield pd.DataFrame({k: np.concatenate(vv) for k, vv in out.items()})

    codes = e.select("vec_id", "embedding").mapInPandas(
        encode, "vec_id BIGINT, cell BIGINT, subspace BIGINT, code BIGINT"
    )

    q_rows = (
        e.filter(F.col("vec_id") < _ADC_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )
    probe_rows, lut_rows = [], []
    for r in q_rows:
        qv = np.array(r.embedding, dtype=np.float64)
        qq = _pq_quant(qv)
        # same integer metric as the corpus kernel — one definition
        # keeps probing and assignment self-consistent; stable argsort
        # ties on cell index == the oracle's (d2, cell) rank
        di = ((qq[None, :] - cents_np) ** 2).sum(axis=1)
        for c in np.argsort(di, kind="stable")[:_IVFPQ_PROBES]:
            probe_rows.append((r.vec_id, int(c)))
        for s in range(_PQ_M):
            sl = slice(s * d_sub, (s + 1) * d_sub)
            d2 = ((qq[sl][None, :] - codebook[:, sl]) ** 2).sum(axis=1)
            lut_rows.extend(
                (r.vec_id, s + 1, c, int(d2[c])) for c in range(len(d2))
            )
    probes = spark.createDataFrame(probe_rows, "query_id BIGINT, cell BIGINT")
    lut = spark.createDataFrame(
        lut_rows, "query_id BIGINT, subspace BIGINT, code BIGINT, d2 BIGINT"
    )

    adc = (
        codes.join(F.broadcast(probes), "cell")
        .join(F.broadcast(lut), ["query_id", "subspace", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d2").alias("dist_micro2"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy("dist_micro2", "vec_id")
    return (
        adc.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= _ADC_TOPK)
        .select("query_id", "vec_id", "dist_micro2", "rk")
    )
