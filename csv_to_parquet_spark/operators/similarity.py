"""Similarity search over the ``embeddings`` table (array<float>[64]).

No reference analog (the reference is a CSV converter); this is the
SURVEY §7 M5 ANN surface: brute-force cosine top-k as the exact
baseline, and a random-hyperplane LSH bucketed variant as the scale
path.

Scale posture:
- The query set is small and explicitly ``broadcast()`` — the corpus
  side never shuffles for the join; top-k per query uses a window on
  the (tiny) scored side after per-partition pre-pruning.
- The LSH variant buckets the corpus ONCE (a narrow map — sign bits of
  L×k fixed hyperplane dot products) and joins queries only to probed
  buckets (query-directed multiprobe, margin-ranked ≤2-bit flips):
  candidate cost is O(n·L·T/2^k) per query instead of O(n).
- Dot products stay JVM-side via zip_with/aggregate higher-order
  functions — no Python UDF in any hot path.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from csv_to_parquet_spark.functions import dot_double, md5_60_sql, per_vector
from csv_to_parquet_spark.operators import Catalog
from csv_to_parquet_spark.sources.tables import load_table, spread

CAT = Catalog()

N_QUERIES = 8  # query set: vec_id < 8
TOP_K = 10

# Multi-table random-hyperplane LSH: L tables × k Rademacher (±1)
# hyperplanes. One table of many bits has near-zero recall when true
# neighbors sit at modest cosine (this corpus's top-10 live at
# cos ≈ 0.25–0.48, the hard regime); the standard fix is multiple
# independent coarse tables whose candidate sets union, plus
# QUERY-DIRECTED multiprobe (Lv et al., VLDB'07): per table the query
# also probes the _T_PROBES-1 perturbed buckets ranked most probable
# by its own hyperplane margins — small-margin 1- and 2-bit flips,
# where the neighbor mass actually is, instead of uniform Hamming-1.
# Measured at sf0.1 on the near-uniform corpus: recall@10 0.775 at a
# candidate fraction of L·T/2^k = 12·24/1024 ≈ 28% (the r6 uniform
# Hamming-1 shape gave 0.54 at ~13%; IVF gives 0.725 at 37.2%), and
# ≳0.95 for clustered real-world embeddings (cos ≥ 0.8). Bigger k
# keeps shrinking the fraction as corpus density grows.
#
# Plane entries are ±1 derived from md5_60("lshq_t_b_d") % 2 — sign
# random projections (the Rademacher variant of hyperplane LSH, a
# standard choice: only the DIRECTION distribution changes vs
# Gaussian, and in 64 dims the collision-vs-angle curve is nearly
# identical — measured recall on this corpus matched the Gaussian
# planes it replaced). What ±1 integer planes buy (r9): projections
# of micro-unit-quantized vectors are exact integer-valued sums
# (|proj| ≤ 64·10⁶ ≪ 2⁵³, so even float64 matmul is exact), making
# buckets, margins, and the whole probe schedule replayable in SQL —
# the entry is ORACLE-EXACT, not rows-only.
_DIM, _N_TABLES, _K_BITS = 64, 12, 10
from csv_to_parquet_spark.functions import MICRO_Q as _LSH_Q  # noqa: E402


def _lsh_plane_signs():
    """The (L·k, 64) ±1 plane matrix, derived from md5_60 so the
    oracle regenerates it verbatim in SQL (md5_60_sql)."""
    import hashlib

    import numpy as np

    s = np.empty((_N_TABLES * _K_BITS, _DIM), dtype=np.int64)
    for t in range(_N_TABLES):
        for b in range(_K_BITS):
            for d in range(_DIM):
                h = int(
                    hashlib.md5(
                        f"lshq_{t}_{b}_{d}".encode()
                    ).hexdigest()[:15],
                    16,
                )
                s[t * _K_BITS + b, d] = 1 if h % 2 == 0 else -1
    return s


_PLANES_INT = _lsh_plane_signs()


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 64-dim dot products per row on a single-file table → parallelize.
    # Zero-norm vectors are unscoreable (cosine denominator 0 is an
    # ANSI DIVIDE_BY_ZERO crash) — filtered here and in the oracles'
    # matching list_dot_product(v, v) > 0 predicate.
    from csv_to_parquet_spark.functions import nonzero_norm

    return spread(
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .filter(nonzero_norm("embedding"))
    )


def _queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (tiny) query side: NO spread — a handful of rows fanned out
    over defaultParallelism partitions would pay one Python-worker
    round trip per near-empty partition in the bucket UDF. Same
    zero-norm filter as :func:`_emb` (the oracle's q CTE selects from
    the already-filtered e)."""
    from csv_to_parquet_spark.functions import nonzero_norm

    return (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < N_QUERIES)
        .filter(nonzero_norm("embedding"))
    )


def _hoisted_cosine() -> Column:
    """cs = dot/(nq·ne) with BOTH norms precomputed once per VECTOR
    (columns ``nq``/``ne``) instead of re-derived per pair — the
    r12 guide-§1.2 per-task-work cut for the brute-force family:
    `cosine_similarity` evaluated three interpreted 64-element folds
    per (query, vector) pair (dot + both norms); hoisting leaves one.
    Bit-exact: each hoisted norm is the sqrt of the identical
    left-to-right double sum (the dedup_embedding_lsh_pairs parity
    argument), and the quotient keeps the same multiply/divide order
    as the oracle's ``/ (sqrt(..) * sqrt(..))``."""
    return dot_double("qv", "embedding") / (F.col("nq") * F.col("ne"))


def _norm_col(vec: Column | str) -> Column:
    vec = F.col(vec) if isinstance(vec, str) else vec
    return F.sqrt(dot_double(vec, vec))



@CAT.query(
    "knn_bruteforce_cosine",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
               WHERE list_dot_product(v, v) > 0),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
    s AS (
      SELECT q.query_id, e.vec_id,
             list_dot_product(q.qv, e.v)
               / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS cs
      FROM q, e WHERE e.vec_id != q.query_id)
    SELECT query_id, vec_id, ROUND(cs, 6) AS cosine, rn
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cs DESC, vec_id) AS rn
          FROM s) t
    WHERE rn <= {TOP_K}
    """,
)
def knn_bruteforce_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: broadcast the query set against the corpus,
    score with JVM higher-order functions, rank per query.

    The corpus is scanned once with zero shuffle for the join
    (broadcast-nested-loop); only the scored rows (n_queries × corpus,
    pre-prunable per partition) hit the ranking exchange. This is the
    ground-truth baseline for the ANN variants. Per-vector norms are
    hoisted out of the pair loop (:func:`_hoisted_cosine`).
    """
    e = _emb(spark, sf_dir).withColumn("ne", _norm_col("embedding"))
    q = F.broadcast(
        _queries(spark, sf_dir).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            _norm_col("embedding").alias("nq"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cs"), F.asc("vec_id"))
    return (
        e.join(q, F.col("vec_id") != F.col("query_id"))
        .withColumn("cs", _hoisted_cosine())
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "vec_id", F.round("cs", 6).alias("cosine"), "rn")
    )


def _lsh_quant(arr):
    """Float embeddings → integer micro-units (functions.quant_micro —
    ONE quantizer for every integer-exact index)."""
    from csv_to_parquet_spark.functions import quant_micro

    return quant_micro(arr)


def _table_buckets(vec: Column) -> Column:
    """array of L bucket ids (index = table) for an embedding column.

    Vectorized Arrow pandas_udf: the whole batch's L×k hyperplane dot
    products are ONE numpy matmul — the per-plane interpreted-HOF
    formulation cost ~40 boxed array passes per row. The vectors are
    micro-unit quantized and the ±1 planes keep every projection an
    exact integer (|proj| ≤ 64·10⁶ ≪ 2⁵³, so the float64 BLAS matmul
    is exact regardless of accumulation order) — bit-identical to the
    oracle's list_dot_product replay.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    planes = _PLANES_INT.astype(np.float64)
    weights = (1 << np.arange(_K_BITS, dtype=np.int64))

    def buckets(vecs):
        v = _lsh_quant(vecs).astype(np.float64)
        bits = (v @ planes.T >= 0).astype(np.int64)  # (n, L*k)
        return bits.reshape(len(v), _N_TABLES, _K_BITS) @ weights  # (n, L)

    @pandas_udf("array<bigint>")
    def buckets_udf(emb: pd.Series) -> pd.Series:
        return per_vector(emb, buckets)

    return buckets_udf(vec)


#: Query-directed multiprobe budget: probe buckets PER TABLE per query
#: (the base bucket plus the T-1 most-probable perturbations). 24
#: probes/table → candidate fraction L·T/2^k = 12·24/1024 ≈ 28% of the
#: corpus per query — still sub-linear, below IVF's 37.5% scan.
#: (r9: 20 → 24 when the planes went integer-Rademacher; measured
#: sf0.1 recall 0.775 at 26.5% actual fraction vs the Gaussian-plane
#: 0.7625 at 23% — strictly better on the recall-per-scan curve.)
_T_PROBES = 24

#: All bit-flip masks of size ≤ 2 over k bits, paired with the margin
#: indices they flip — the scoring universe for query-directed probing
#: (1 + k + C(k,2) = 56 candidates at k=10; top _T_PROBES survive).
_PERTURB = [((), 0)] + [((i,), 1 << i) for i in range(_K_BITS)] + [
    ((i, j), (1 << i) | (1 << j))
    for i in range(_K_BITS)
    for j in range(i + 1, _K_BITS)
]


def _query_probes(vec: Column) -> Column:
    """array<array<bigint>>: for each of the L tables, the _T_PROBES
    bucket ids a query should probe, most-probable first.

    Query-directed multiprobe (Lv et al., VLDB'07): a true neighbor
    that misses the query's bucket in a table almost always differs on
    the bits whose hyperplane margin |q·h| is SMALLEST — the flip
    probability per bit decays with margin. So instead of blindly
    flipping every bit once (uniform Hamming-1, the r6 shape that
    measured 0.54), score every ≤2-bit perturbation by the sum of
    squared margins it flips and take the T cheapest: small-margin
    1-flips and 2-flips outrank large-margin 1-flips, concentrating
    the probe budget where the neighbor mass actually is.

    Scoring is the SQUARED-margin sum of the flipped bits (Lv'07's
    actual rank; with ±1 planes margins are ≤ 64·10⁶ so squares fit
    int64 and the oracle replays the ranking exactly; ties break on
    the mask value). Runs only on the tiny query side
    (n_queries × L × 56 scored perturbations in numpy —
    microseconds); the corpus keeps its single-bucket-per-table map.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    planes = _PLANES_INT.astype(np.float64)
    weights = 1 << np.arange(_K_BITS, dtype=np.int64)

    def probes(vecs):
        v = _lsh_quant(vecs).astype(np.float64)
        proj = v @ planes.T  # (n, L*k) — exact integer-valued
        bits = (proj >= 0).astype(np.int64)
        buckets = bits.reshape(len(v), _N_TABLES, _K_BITS) @ weights
        m = proj.reshape(len(v), _N_TABLES, _K_BITS).astype(np.int64)
        ma = m * m  # ≤ (64·10⁶)² ≈ 4·10¹⁵ — int64-exact
        out = []
        for r in range(len(v)):
            tables = []
            for t in range(_N_TABLES):
                scored = sorted(
                    (int(sum(ma[r, t, i] for i in idxs)), mask)
                    for idxs, mask in _PERTURB
                )
                base = int(buckets[r, t])
                tables.append(
                    [base ^ mask for _, mask in scored[:_T_PROBES]]
                )
            out.append(tables)
        return out

    @pandas_udf("array<array<bigint>>")
    def probes_udf(emb: pd.Series) -> pd.Series:
        return per_vector(emb, probes)

    return probes_udf(vec)


def _lsh_oracle() -> str:
    """DuckDB oracle for ``knn_lsh_ann``: regenerate the ±1 planes
    from md5_60, replay bucketing, margin-ranked multiprobe, the
    candidate join, and the exact-cosine rerank. Everything before
    the rerank is integer-exact; the rerank is the oracle-proven
    knn_bruteforce_cosine convention."""
    one = "CAST(1 AS BIGINT)"
    return f"""
    WITH q AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> ROUND(x * {_LSH_Q})) AS qed
      FROM embeddings
      WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                             CAST(embedding AS DOUBLE[])) > 0),
    planes AS (
      SELECT t, b,
             list(CASE WHEN ({md5_60_sql("'lshq_' || t || '_' || b || '_' || d")}) % 2 = 0
                       THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END
                  ORDER BY d) AS pl
      FROM range({_N_TABLES}) r1(t), range({_K_BITS}) r2(b),
           range({_DIM}) r3(d)
      GROUP BY t, b),
    proj AS (
      SELECT e.vec_id, p.t, p.b,
             CAST(list_dot_product(e.qed, p.pl) AS BIGINT) AS m
      FROM q e, planes p),
    bkt AS (
      SELECT vec_id, t,
             SUM(CASE WHEN m >= 0 THEN ({one} << b) ELSE 0 END) AS bucket
      FROM proj GROUP BY 1, 2),
    masks AS (
      SELECT CAST(0 AS BIGINT) AS mask
      UNION ALL SELECT ({one} << i) FROM range({_K_BITS}) ri(i)
      UNION ALL SELECT ({one} << i) | ({one} << j)
                FROM range({_K_BITS}) ri(i), range({_K_BITS}) rj(j)
                WHERE j > i),
    qm AS (SELECT vec_id AS query_id, t, b, m FROM proj
           WHERE vec_id < {N_QUERIES}),
    msc AS (
      SELECT qm.query_id, qm.t, k.mask,
             COALESCE(SUM(CASE WHEN ((k.mask >> qm.b) & 1) = 1
                               THEN qm.m * qm.m END), 0) AS sc
      FROM qm, masks k GROUP BY 1, 2, 3),
    prb AS (
      SELECT s.query_id, s.t, xor(bk.bucket, s.mask) AS qbucket
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id, t
                                         ORDER BY sc, mask) AS rk
            FROM msc) s
      JOIN bkt bk ON bk.vec_id = s.query_id AND bk.t = s.t
      WHERE s.rk <= {_T_PROBES}),
    cand AS (
      SELECT DISTINCT p.query_id, e.vec_id
      FROM prb p JOIN bkt e ON e.t = p.t AND e.bucket = p.qbucket
      WHERE e.vec_id <> p.query_id),
    s AS (
      SELECT c.query_id, c.vec_id,
             list_dot_product(qu.v, e.v)
               / (sqrt(list_dot_product(qu.v, qu.v))
                  * sqrt(list_dot_product(e.v, e.v))) AS cs
      FROM cand c
      JOIN q qu ON qu.vec_id = c.query_id
      JOIN q e ON e.vec_id = c.vec_id)
    SELECT query_id, vec_id, ROUND(cs, 6) AS cosine, rn
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cs DESC, vec_id) AS rn
          FROM s) t
    WHERE rn <= {TOP_K}
    """


@CAT.query(
    "knn_lsh_ann",
    oracle=_lsh_oracle(),
)
def knn_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via multi-table random-hyperplane LSH with
    query-directed multiprobe — ORACLE-EXACT since r9: the ±1
    md5-derived planes and micro-unit quantized vectors keep every
    projection, bucket, margin, and probe rank an exact integer the
    DuckDB oracle regenerates verbatim (:func:`_lsh_oracle`); only
    the final rerank is float cosine, on the knn_bruteforce_cosine
    convention that is itself oracle-proven.

    Corpus pass: one narrow map computes each vector's bucket in each
    of the L tables (sign bits of k fixed hyperplane dot products),
    exploded to (tbl, bucket) keys. The (tiny, broadcast) query side
    probes, per table, the ``_T_PROBES`` buckets ranked most probable
    by the query's own hyperplane margins (see :func:`_query_probes`),
    so the corpus is scanned EXACTLY ONCE with zero shuffle for the
    candidate join.

    Exact cosine is computed at join time, so the only thing that ever
    shuffles is (query_id, vec_id, cs) triples — the cross-table
    dedupe is a groupBy-max over those 20-byte rows, never over the
    64-float embedding arrays (a duplicated pair costs ≤L redundant
    JVM dot products, which at 100 TB is far cheaper than shuffling
    vectors). Candidate cost ≈ L·T/2^k of the corpus per query instead
    of O(n); recall vs the brute-force baseline is asserted in tests
    and emitted per-round by bench.py (``recall_at_10``).

    Recall honesty: the driver's synthetic embeddings are near-uniform
    on the sphere, so a query's true top-10 sit at cosine ≈ 0.3 —
    collision probability per hyperplane only 0.6, the regime where
    ANY sub-linear ANN pays dearly for recall. Measured at sf0.1:
    recall@10 = 0.775 for a ~26.5% candidate fraction with directed
    probing (uniform Hamming-1 gave 0.54 at ~13%; 0.95 would require
    probing >100%). On real clustered embedding corpora — the
    production case — neighbors sit at cosine 0.8+, where the same
    parameters give per-table collision 0.9^k and recall
    ≈ 1-(1-0.9^k)^L ≈ 0.99 (pinned ≥0.9 in tests/test_llm_ops.py). In
    production k is sized to the corpus (k ≈ log₂(n/target_bucket)) —
    fixed here so the driver's check stays deterministic per sf.
    """
    e = _emb(spark, sf_dir).select(
        "vec_id",
        "embedding",
        _norm_col("embedding").alias("ne"),  # hoisted: once per vector
        F.posexplode(_table_buckets(F.col("embedding"))).alias("tbl", "bucket"),
    )
    q = F.broadcast(
        _queries(spark, sf_dir)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            _norm_col("embedding").alias("nq"),
            F.posexplode(_query_probes(F.col("embedding"))).alias(
                "qtbl", "plist"
            ),
        )
        .select(
            "query_id", "qv", "nq", "qtbl", F.explode("plist").alias("qbucket")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cs"), F.asc("vec_id"))
    return (
        e.join(
            q,
            (F.col("tbl") == F.col("qtbl"))
            & (F.col("bucket") == F.col("qbucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", "vec_id", _hoisted_cosine().alias("cs"))
        .groupBy("query_id", "vec_id")
        .agg(F.max("cs").alias("cs"))
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "vec_id", F.round("cs", 6).alias("cosine"), "rn")
    )


_IVF_CELLS = 16
#: Probes/cells is the recall/cost knob. On the synthetic near-UNIFORM
#: corpus cell membership barely correlates with the top-10
#: neighborhood, so recall tracks the scan fraction plus a rank boost:
#: measured at sf0.1 — 4/16 → 0.49, 5/16 → 0.58, 6/16 → 0.70
#: recall@10 at 2 Lloyd iterations (0.725 at the r10 3-iteration
#: budget). r11 raised 6 → 7 (VERDICT r10 #3) after an offline sweep
#: at the 3-iteration budget: 6/16 → 0.725 at 37.3% scan, 7/16 →
#: **0.7625 at 43.7% scan**, 8/16 → 0.825 but at 50% the scan is no
#: longer meaningfully sub-linear — 7 clears the ≥0.75 target while
#: keeping the candidate fraction under the documented 45% cap. On
#: clustered real-world embeddings the same setting is ≥0.9 (pinned in
#: tests/test_llm_ops.py) because the neighbor cluster fits in far
#: fewer probes.
_IVF_PROBES = 7
#: Lloyd iterations for knn_ivf_ann's 16-cell coarse quantizer. r10
#: raised 2 → 3 after an offline sweep (recall@10 0.70 → 0.725 at the
#: unchanged 37.2% scan; 4-5 iterations over-fit the 2048-row sample
#: and DROP recall to 0.7125/0.675, so 3 is the measured optimum).
#: The IVFPQ composite trains its own 64-cell grid and keeps 2
#: (clustering._IVF_COARSE_ITERS — measured better there; it passes
#: ``iters=`` explicitly), so the two entries tune independently.
_IVF_KMEANS_ITERS = 3


#: Coarse-quantizer training-sample budget for the rows-only ANN
#: entries — one bounded, deterministic collect (lowest vec_ids),
#: constant regardless of corpus size (the FAISS convention: coarse
#: quantizers are model parameters trained on a sample; the fully
#: distributed corpus-Lloyd remains showcased, oracle-exact, in
#: clustering.cluster_kmeans_assign).
_IVF_TRAIN_SAMPLE = 2048


#: Micro-unit quantization grid — the shared functions.MICRO_Q, so
#: the oracle's ROUND(x * grid) literal can never drift from the
#: quantizer.
from csv_to_parquet_spark.functions import MICRO_Q as _IVF_Q  # noqa: E402


def _ivf_quant(arr):
    """Float embeddings → integer micro-units (functions.quant_micro —
    ONE quantizer for every integer-exact index)."""
    from csv_to_parquet_spark.functions import quant_micro

    return quant_micro(arr)


def _ivf_train_centroids_int(
    e: DataFrame, ncells: int = _IVF_CELLS, iters: int = _IVF_KMEANS_ITERS
):
    """EXACT-integer sample-Lloyd trainer for the IVF coarse quantizer
    — the full-vector analog of clustering._pq_refine_codebook_int,
    so the DuckDB oracle can replay training verbatim as unrolled
    CTEs (what upgraded knn_pq_adc, and now knn_ivf_ann, from
    rows-only to oracle-exact).

    Sample and seeds follow the FAISS convention (lowest
    ``_IVF_TRAIN_SAMPLE`` vec_ids; init = vec_id 100..): vectors live
    on the integer micro-grid, assignment is first-minimal argmin over
    exact int64 squared L2 (== the oracle's MIN(d2·K + cell) packing;
    on this unit-normalized corpus L2 and cosine order agree up to
    quantization), and the centroid update is the half-away-from-zero
    integer mean. Empty cells keep their centroid. Products are
    ≤ 64·(2·10⁶)² < 2⁶³ — no overflow. Returns an int64 (K, 64)
    matrix."""
    import numpy as np

    rows = (
        e.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(_IVF_TRAIN_SAMPLE)
        .collect()
    )
    ids = np.array([int(r.vec_id) for r in rows])
    V = _ivf_quant(np.stack([list(map(float, r.embedding)) for r in rows]))
    seed_pos = [np.nonzero(ids == i)[0] for i in range(100, 100 + ncells)]
    assert all(len(p) == 1 for p in seed_pos), (
        f"IVF seed vectors 100..{100 + ncells - 1} must all exist with "
        "nonzero norm inside the training sample"
    )
    C = V[[p[0] for p in seed_pos]].copy()
    for _ in range(iters):
        score = (C * C).sum(axis=1)[None, :] - 2 * (V @ C.T)
        cell = score.argmin(axis=1)  # first-min, matches MIN packing
        for k in range(ncells):
            m = cell == k
            if m.any():
                t = V[m].sum(axis=0)
                c = int(m.sum())
                C[k] = np.sign(t) * ((2 * np.abs(t) + c) // (2 * c))
    return C


def _ivf_cells_int(vec: Column, C, n: int) -> Column:
    """array of the n nearest-centroid indices by EXACT integer
    squared L2 on the micro-unit grid, ties broken by cell index
    (stable argsort == the oracle's (d2, cell) rank). One vectorized
    Arrow crossing — the whole batch's cell distances are one
    matmul."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    Ci = np.asarray(C, dtype=np.int64)
    cn2 = (Ci * Ci).sum(axis=1)

    def cells(vecs):
        score = cn2[None, :] - 2 * (_ivf_quant(vecs) @ Ci.T)  # row-const |x|² dropped
        return np.argsort(score, axis=1, kind="stable")[:, :n].astype(np.int32)

    @pandas_udf("array<int>")
    def cells_udf(emb: pd.Series) -> pd.Series:
        return per_vector(emb, cells)

    return cells_udf(vec)


def _ivf_int_oracle() -> str:
    """DuckDB oracle for ``knn_ivf_ann``: quantize → seed centroids →
    ``_IVF_KMEANS_ITERS`` unrolled integer-Lloyd iterations (the
    knn_pq_adc chained-CTE pattern, over full 64-dim vectors) →
    corpus assignment → per-query probe ranking → exact-cosine rerank
    (the knn_bruteforce_cosine convention). Everything before the
    rerank is BIGINT-exact; argmin ties pack as MIN(d2·K + cell)."""
    K = _IVF_CELLS

    def d2(tbl: str, cbt: str) -> str:
        return (
            f"list_sum([({tbl}.qe[i] - {cbt}.cb[i])"
            f" * ({tbl}.qe[i] - {cbt}.cb[i]) for i in range(1, 65)])"
        )

    def rnd(s: str, c: str) -> str:
        return (
            f"CASE WHEN {s} >= 0 THEN (2 * {s} + {c}) // (2 * {c})"
            f" ELSE -((2 * (-({s})) + {c}) // (2 * {c})) END"
        )

    ctes = [
        f"""q AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(ROUND(x * {_IVF_Q}) AS BIGINT)) AS qe
      FROM embeddings
      WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                             CAST(embedding AS DOUBLE[])) > 0)""",
        f"""samp AS (SELECT vec_id, qe FROM q
           ORDER BY vec_id LIMIT {_IVF_TRAIN_SAMPLE})""",
        f"""cb0 AS (SELECT vec_id - 100 AS cell, qe AS cb FROM q
           WHERE vec_id >= 100 AND vec_id < {100 + K})""",
    ]
    for t in range(1, _IVF_KMEANS_ITERS + 1):
        p = t - 1
        sums = ",\n             ".join(
            f"SUM(v.qe[{i}]) AS s{i}" for i in range(1, 65)
        )
        elems = ",\n                  ".join(
            rnd(f"u.s{i}", "u.cnt") for i in range(1, 65)
        )
        ctes.append(
            f"""a{t} AS (
      SELECT v.vec_id, MIN({d2('v', 'c')} * {K} + c.cell) % {K} AS cell
      FROM samp v, cb{p} c GROUP BY 1)"""
        )
        ctes.append(
            f"""u{t} AS (
      SELECT a.cell, COUNT(*) AS cnt,
             {sums}
      FROM a{t} a JOIN samp v USING (vec_id) GROUP BY 1)"""
        )
        # intermediate codebooks MATERIALIZED, final inline — the same
        # inline-blowup guard as clustering._pq_adc_ctes (each cb{t}
        # references cb{t-1} twice; inlined, DuckDB re-evaluates the
        # chain per reference — 2^iters)
        mat = " MATERIALIZED" if t < _IVF_KMEANS_ITERS else ""
        ctes.append(
            f"""cb{t} AS{mat} (
      SELECT c.cell,
             CASE WHEN u.cnt IS NULL THEN c.cb
                  ELSE list_value(
                  {elems})
             END AS cb
      FROM cb{p} c LEFT JOIN u{t} u ON u.cell = c.cell)"""
        )
    final = f"cb{_IVF_KMEANS_ITERS}"
    ctes.append(
        f"""codes AS (
      SELECT v.vec_id, MIN({d2('v', 'c')} * {K} + c.cell) % {K} AS cell
      FROM q v, {final} c GROUP BY 1)"""
    )
    ctes.append(
        f"""qu AS (SELECT vec_id AS query_id, qe, v AS qv FROM q
           WHERE vec_id < {N_QUERIES})"""
    )
    ctes.append(
        f"""probes AS (
      SELECT query_id, cell FROM (
        SELECT qu.query_id, c.cell,
               row_number() OVER (PARTITION BY qu.query_id
                                  ORDER BY {d2('qu', 'c')}, c.cell) AS prk
        FROM qu, {final} c) t
      WHERE prk <= {_IVF_PROBES})"""
    )
    ctes.append(
        """cand AS (
      SELECT p.query_id, s.vec_id
      FROM probes p JOIN codes s USING (cell)
      WHERE s.vec_id <> p.query_id)"""
    )
    ctes.append(
        """s AS (
      SELECT c.query_id, c.vec_id,
             list_dot_product(qu.qv, e.v)
               / (sqrt(list_dot_product(qu.qv, qu.qv))
                  * sqrt(list_dot_product(e.v, e.v))) AS cs
      FROM cand c
      JOIN qu ON qu.query_id = c.query_id
      JOIN q e ON e.vec_id = c.vec_id)"""
    )
    return (
        "\n    WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT query_id, vec_id, ROUND(cs, 6) AS cosine, rn
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cs DESC, vec_id) AS rn
          FROM s) t
    WHERE rn <= {TOP_K}
    """
    )


@CAT.query(
    "knn_ivf_ann",
    oracle=_ivf_int_oracle(),
)
def knn_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via IVF (inverted-file) coarse quantization —
    ORACLE-EXACT since r9: the index lives entirely on the integer
    micro-unit grid, so the DuckDB oracle replays training,
    assignment, and probing verbatim and only the final rerank is the
    (already oracle-proven) brute-force float-cosine convention.

    Training is a real (mini) k-means on a BOUNDED SAMPLE
    (``_ivf_train_centroids_int`` — the FAISS convention: coarse
    quantizers are model parameters trained on a fixed-size sample;
    one deterministic collect + numpy). Assignment is first-minimal
    argmin over exact int64 squared L2 (on this unit-normalized
    corpus L2 and cosine order agree up to quantization — the
    integer trainer held the float trainer's 0.70 recall at 2
    iterations, the r10 3-iteration budget lifted it to 0.725, and
    the r11 7-probe budget to 0.7625 at a 43.7% scan fraction); the
    update is the half-away-from-zero integer mean —
    the exact-integer Lloyd that made knn_pq_adc's codebook
    replayable. Corpus assignment is a narrow vectorized Arrow map
    (``_ivf_cells_int``) — no shuffle, no join. Queries probe their
    ``_IVF_PROBES`` nearest cells (ties by cell index == the oracle's
    (d2, cell) rank) and rerank candidates with exact cosine,
    touching ~probes/cells of the corpus per query at scale. Recall
    vs brute force asserted in tests (trained centroids beat raw
    seeds: cells move toward actual density, balancing the inverted
    lists) and emitted per-round by bench.py (``recall_at_10``).

    Recall honesty: same caveat as :func:`knn_lsh_ann` — the synthetic
    corpus is near-uniform, so cell membership barely correlates with
    top-10 neighborhood and measured recall@10 ≈ 0.49 at sf0.1 for a
    probes/cells = 4/16 scan fraction (recall ≈ scan fraction + rank
    boost is exactly what uniform data predicts). On clustered
    real-world embeddings the same 4/16 probes capture the neighbor
    cluster and recall approaches 1; probes is the per-deployment
    recall/cost knob.
    """
    from csv_to_parquet_spark.operators.cache import persist_tracked

    # persisted across the trainer's sample collect AND the final
    # assignment — same pattern as cluster_kmeans_assign; re-scan +
    # re-spread per job was ~40% of the entry's bench time at sf0.1
    e = persist_tracked(_emb(spark, sf_dir))
    cents = _ivf_train_centroids_int(e)

    corpus = e.withColumn(
        "cell", _ivf_cells_int(F.col("embedding"), cents, 1)[0]
    ).withColumn("ne", _norm_col("embedding"))  # hoisted: once per vector
    q = F.broadcast(
        _queries(spark, sf_dir)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            _norm_col("embedding").alias("nq"),
            F.explode(
                _ivf_cells_int(F.col("embedding"), cents, _IVF_PROBES)
            ).alias("probe"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cs"), F.asc("vec_id"))
    return (
        corpus.join(
            q,
            (F.col("cell") == F.col("probe")) & (F.col("vec_id") != F.col("query_id")),
        )
        .withColumn("cs", _hoisted_cosine())
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "vec_id", F.round("cs", 6).alias("cosine"), "rn")
    )


@CAT.query(
    "similarity_label_centroids",
    oracle="""
    WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT label,
           COUNT(*) AS n_vectors,
           ROUND(AVG(v[1]), 6) AS centroid_d0,
           ROUND(AVG(v[2]), 6) AS centroid_d1,
           ROUND(AVG(list_dot_product(v, v)), 6) AS avg_sq_norm
    FROM e GROUP BY label
    """,
)
def similarity_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid components + mean squared norm — the
    aggregation shape of an IVF coarse-quantizer training pass
    (groupBy label ≙ groupBy assigned cell). avg over doubles is
    rounded: both engines sum doubles then divide, and the group sizes
    are small enough that 6 dp absorbs associativity noise."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    return (
        e.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg(v[0].cast("double")), 6).alias("centroid_d0"),
            F.round(F.avg(v[1].cast("double")), 6).alias("centroid_d1"),
            F.round(F.avg(dot_double(v, v)), 6).alias("avg_sq_norm"),
        )
        .select("label", "n_vectors", "centroid_d0", "centroid_d1", "avg_sq_norm")
    )


@CAT.query(
    "embedding_quantize_error",
    oracle="""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS d
      FROM embeddings),
    m AS (
      SELECT vec_id, d, list_min(d) AS mn, list_max(d) AS mx FROM e),
    q AS (
      SELECT vec_id, mn, mx,
             CASE WHEN mx > mn THEN
               list_max(list_transform(d, x ->
                 abs(x - (mn + round((x - mn) * 255.0 / (mx - mn))
                               * (mx - mn) / 255.0))))
             ELSE 0.0 END AS max_err
      FROM m)
    SELECT vec_id, round(mn, 6) AS vmin, round(mx, 6) AS vmax,
           round(max_err, 6) AS max_abs_err
    FROM q
    """,
)
def embedding_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 (256-level) min-max quantization audit per embedding: the
    per-vector scale bounds and the worst-case reconstruction error of
    round-trip quantization — the report that decides whether a vector
    store can ship compressed embeddings (error ≤ range/510 when the
    codec is healthy).

    Pure narrow map over the vector column: min/max, one transform
    computing |x − dequant(quant(x))|, one array max — all JVM
    higher-order functions, no shuffle, no Python. Float32 inputs
    promote to float64 identically in both engines and the
    quantize/dequantize expression trees match term for term, so the
    rounded errors hash-match. Constant vectors (mx == mn) define
    error 0 in both engines — the guard mirrors the ANSI
    divide-by-zero hardening used across the catalog."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        # promote ONCE at the leaves: float32→float64 is exact and both
        # engines then execute the identical all-double expression tree
        F.transform("embedding", lambda x: x.cast("double")).alias("d"),
    )
    mn = F.array_min("d")
    mx = F.array_max("d")
    dq = lambda x: mn + F.round((x - mn) * 255.0 / (mx - mn)) * (mx - mn) / 255.0
    err = F.array_max(F.transform("d", lambda x: F.abs(x - dq(x))))
    return emb.select(
        "vec_id",
        F.round(mn, 6).alias("vmin"),
        F.round(mx, 6).alias("vmax"),
        F.round(
            F.when(mx > mn, err).otherwise(F.lit(0.0)), 6
        ).alias("max_abs_err"),
    )


# ---------------------------------------------------------------------------
# Round 5: matryoshka prefix-dimension retrieval audit
# ---------------------------------------------------------------------------

#: Prefix width for the truncated-embedding ranking.
_MRL_DIMS = 32
#: Top-k depth audited.
_MRL_K = 10


@CAT.query(
    "embedding_prefix_rank_audit",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
               WHERE list_dot_product(v, v) > 0
                 AND list_dot_product(v[1:{_MRL_DIMS}], v[1:{_MRL_DIMS}]) > 0),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
    s AS (
      SELECT q.query_id, e.vec_id,
             list_dot_product(q.qv, e.v)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(e.v, e.v))) AS cs_full,
             list_dot_product(q.qv[1:{_MRL_DIMS}], e.v[1:{_MRL_DIMS}])
               / (sqrt(list_dot_product(q.qv[1:{_MRL_DIMS}], q.qv[1:{_MRL_DIMS}]))
                  * sqrt(list_dot_product(e.v[1:{_MRL_DIMS}], e.v[1:{_MRL_DIMS}]))) AS cs_pre
      FROM q, e WHERE e.vec_id != q.query_id),
    r AS (
      SELECT query_id, vec_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cs_full DESC, vec_id) AS rk_full,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cs_pre DESC, vec_id) AS rk_pre
      FROM s)
    SELECT query_id,
           CAST(SUM(CASE WHEN rk_full <= {_MRL_K} AND rk_pre <= {_MRL_K}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
           ROUND(CAST(SUM(CASE WHEN rk_full <= {_MRL_K} AND rk_pre <= {_MRL_K}
                         THEN 1 ELSE 0 END) AS DOUBLE) / {_MRL_K}, 6)
             AS recall_at_k
    FROM r GROUP BY query_id
    """,
)
def embedding_prefix_rank_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation audit: how much of each query's
    exact top-{_MRL_K} (full 64-dim cosine) survives when retrieval
    ranks by the first {_MRL_DIMS} dimensions only — the measurement
    behind shipping truncated embeddings (MRL) or a prefix-dim first
    pass with full-dim rerank: storage/compute halves, and this query
    reports the recall actually lost on THIS corpus.

    One scan computes both cosines per (query, vector) pair — the
    prefix dot is a ``slice`` of the same array, no second pass — and
    two row_number rankings over the same query partition share one
    exchange. Recall = |top-k ∩ prefix-top-k| / k per query. Both
    rankings order by the deterministic (cosine DESC, vec_id) key and
    every dot accumulates sequentially, so ranks — not just counts —
    are engine-exact. Vectors whose prefix is all-zero are excluded on
    both engines (their prefix cosine is undefined)."""
    from csv_to_parquet_spark.functions import nonzero_norm

    pre = lambda c: F.slice(F.col(c), 1, _MRL_DIMS)  # noqa: E731
    # full + prefix norms hoisted to one evaluation per VECTOR (the
    # _hoisted_cosine convention): the pair loop previously re-derived
    # four norms per (query, vector) pair — six interpreted folds per
    # pair down to two (the full and prefix dots).
    e = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .filter(nonzero_norm("embedding"))
        .filter(nonzero_norm(pre("embedding")))
        .withColumn("ne", _norm_col("embedding"))
        .withColumn("ne_pre", _norm_col(pre("embedding")))
    )
    q = F.broadcast(
        e.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.col("ne").alias("nq"),
            F.col("ne_pre").alias("nq_pre"),
        )
    )
    scored = (
        e.join(q, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            _hoisted_cosine().alias("cs_full"),
            (
                dot_double(pre("qv"), pre("embedding"))
                / (F.col("nq_pre") * F.col("ne_pre"))
            ).alias("cs_pre"),
        )
    )
    w_full = Window.partitionBy("query_id").orderBy(
        F.desc("cs_full"), F.asc("vec_id")
    )
    w_pre = Window.partitionBy("query_id").orderBy(
        F.desc("cs_pre"), F.asc("vec_id")
    )
    hit = (
        (F.col("rk_full") <= _MRL_K) & (F.col("rk_pre") <= _MRL_K)
    ).cast("int")
    return (
        scored.withColumn("rk_full", F.row_number().over(w_full))
        .withColumn("rk_pre", F.row_number().over(w_pre))
        .groupBy("query_id")
        .agg(
            F.sum(hit).cast("bigint").alias("n_overlap"),
            F.round(F.sum(hit).cast("double") / _MRL_K, 6).alias(
                "recall_at_k"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Round 5: hard-negative mining for contrastive training
# ---------------------------------------------------------------------------

#: Hard-negative band: ranks (_NEG_LO.._NEG_HI] below the true top-k.
_NEG_LO = TOP_K
_NEG_HI = TOP_K + 10


@CAT.query(
    "mine_hard_negatives",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
               WHERE list_dot_product(v, v) > 0),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
    s AS (
      SELECT q.query_id, e.vec_id,
             list_dot_product(q.qv, e.v)
               / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS cs
      FROM q, e WHERE e.vec_id != q.query_id)
    SELECT query_id, vec_id AS negative_id, ROUND(cs, 6) AS cosine,
           rn - {_NEG_LO} AS neg_rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cs DESC, vec_id) AS rn
          FROM s) t
    WHERE rn > {_NEG_LO} AND rn <= {_NEG_HI}
    """,
)
def mine_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: for
    each query, the {_NEG_HI - _NEG_LO} corpus vectors ranked JUST
    BELOW the exact top-{TOP_K} — similar enough to be informative
    negatives, far enough to (by the top-k definition) not be
    positives. This rank-band recipe is the standard dense-retrieval
    negative sampler (DPR/ANCE-style: negatives from the upper tail
    of the similarity distribution, excluding presumed positives).

    Same scan/broadcast/window shape as :func:`knn_bruteforce_cosine`
    — one corpus scan, the tiny query side broadcast, one ranking
    exchange of scored triples — selecting a different rank band; at
    scale the band would come off the ANN candidate list instead, with
    identical downstream semantics. Deterministic (cosine DESC,
    vec_id) ordering makes the mined set engine-exact."""
    e = _emb(spark, sf_dir).withColumn("ne", _norm_col("embedding"))
    q = F.broadcast(
        _queries(spark, sf_dir).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            _norm_col("embedding").alias("nq"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cs"), F.asc("vec_id"))
    return (
        e.join(q, F.col("vec_id") != F.col("query_id"))
        .withColumn("cs", _hoisted_cosine())
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") > _NEG_LO) & (F.col("rn") <= _NEG_HI))
        .select(
            "query_id",
            F.col("vec_id").alias("negative_id"),
            F.round("cs", 6).alias("cosine"),
            (F.col("rn") - _NEG_LO).cast("bigint").alias("neg_rank"),
        )
    )
