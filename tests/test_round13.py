"""Round-13 (optimization round 2) invariants.

- bench.py's drift_index payload field (VERDICT r12 #2): an
  additions-only host-load gauge — the median timing/floor ratio —
  computed correctly and robust to per-entry outliers; the existing
  payload contract (metric/value/unit/queries names) is untouched.
"""

from __future__ import annotations

import os

import pytest


def test_drift_index_median_semantics():
    import bench

    floors = {"a": 1.0, "b": 2.0, "c": 4.0}
    # calm window: every entry at its floor
    assert bench.drift_index_of({"a": 1.0, "b": 2.0, "c": 4.0}, floors) == 1.0
    # uniform 1.5x drift
    assert bench.drift_index_of({"a": 1.5, "b": 3.0, "c": 6.0}, floors) == 1.5
    # one genuine 10x regression must NOT move the median (robustness:
    # the gauge tracks the host, not the code)
    assert bench.drift_index_of({"a": 1.0, "b": 2.0, "c": 40.0}, floors) == 1.0
    # even-count median is the midpoint of the two central ratios
    assert (
        bench.drift_index_of({"a": 1.0, "b": 4.0}, {"a": 1.0, "b": 2.0})
        == 1.5
    )
    # entries without a floor are skipped; no floors at all -> None
    assert bench.drift_index_of({"x": 3.0}, floors) is None
    assert bench.drift_index_of({}, {}) is None
    # a zero/negative floor must never divide
    assert bench.drift_index_of({"a": 1.0}, {"a": 0.0}) is None


def test_cos_blocks_derived_from_row_count(sf_smoke, monkeypatch):
    """VERDICT r12 #3: B comes from the embeddings row count (parquet
    footer, no Spark job) with a floor of 16 — the value every current
    fixture resolves to — and grows linearly once blocks would exceed
    _COS_BLOCK_ROWS, keeping per-group rows bounded."""
    import math

    from csv_to_parquet_spark.operators import dedup as d

    # every driver fixture sits under the floor → B = 16, plans and
    # outputs identical to the r12 constant
    assert d._cos_blocks(sf_smoke) == 16
    # derivation really reads the footer: shrink the block target and
    # the SAME fixture (500 rows at smoke sf) must yield ceil(500/10)
    monkeypatch.setattr(d, "_COS_BLOCK_ROWS", 10)
    assert d._cos_blocks(sf_smoke) == 50
    monkeypatch.setattr(d, "_COS_BLOCK_ROWS", 100)
    assert d._cos_blocks(sf_smoke) == 16  # ceil(500/100)=5 → floor
    # bounded per-group rows by construction: for any corpus size the
    # derived B keeps a bucket at or under the block target (above the
    # floor region)
    monkeypatch.undo()
    for n in (1, 10**6, 10**9, 10**12):
        B = max(d._COS_BLOCKS_MIN, math.ceil(n / d._COS_BLOCK_ROWS))
        if B > d._COS_BLOCKS_MIN:
            assert math.ceil(n / B) <= d._COS_BLOCK_ROWS, (n, B)
    # unreadable path → floor, never a crash (B is a performance knob)
    assert d._cos_blocks("/nonexistent") == 16


def test_cos_kernel_chunking_is_bit_identical(spark, sf_smoke, monkeypatch):
    """ADVICE r12: the row-chunked score slab must not change a single
    output row — force pathological chunking (3-row slabs) and compare
    against the default."""
    from csv_to_parquet_spark.operators import dedup as d
    from csv_to_parquet_spark.operators.cache import release_caches

    try:
        base = sorted(
            map(tuple, d.dedup_embedding_cosine(spark, sf_smoke).collect())
        )
    finally:
        release_caches()
    monkeypatch.setattr(d, "_COS_CHUNK", 3)
    try:
        chunked = sorted(
            map(tuple, d.dedup_embedding_cosine(spark, sf_smoke).collect())
        )
    finally:
        release_caches()
    assert base == chunked and base


def test_unigram_fold_null_word_is_null(spark):
    """A NULL word segments to NULL in the codegen fold."""
    from pyspark.sql import functions as F

    from csv_to_parquet_spark.operators.textops import _ulm_viterbi_pieces

    cost = {"a": 1000, "b": 1000, "ab": 900}
    wdf = spark.createDataFrame([(None,), ("ab",)], "w STRING")
    rows = wdf.select(
        "w", _ulm_viterbi_pieces(F.col("w"), cost).alias("ps")
    ).collect()
    assert {r.w: r.ps for r in rows} == {None: None, "ab": ["ab"]}


def test_drift_index_is_additions_only():
    """The new field must be ADDED to the payload without renaming or
    removing any existing key, and the timing loop itself must not
    reference it (methodology untouched)."""
    with open(
        os.path.join(os.path.dirname(__file__), "..", "bench.py")
    ) as f:
        src = f.read()
    for key in (
        '"metric"',
        '"value"',
        '"unit"',
        '"sf"',
        '"convert_csv_mb"',
        '"convert_mbps"',
        '"recall_at_10"',
        '"floor_violations"',
        '"queries"',
    ):
        assert key in src, f"existing payload key {key} disappeared"
    assert '"drift_index": drift_index' in src
    # the timing decision logic still keys ONLY on floors/FLOOR_TOLERANCE
    assert "FLOOR_TOLERANCE * floor" in src


def test_simhash_null_text_is_null(spark, monkeypatch):
    """A NULL text hashes to a NULL token array; the SimHash fold
    returns NULL for it, as the JVM transform path does, instead of
    crashing the pandas UDF, and leaves the other rows unchanged."""
    from csv_to_parquet_spark.operators import dedup as d

    text = "the quick brown fox jumps over the lazy dog"
    rows = [(1, None), (2, text)]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    monkeypatch.setattr(d, "_docs", lambda spark, sf_dir: docs)
    sigs = d.dedup_simhash_signatures(spark, "").collect()
    got = {r.doc_id: r.simhash for r in sigs}
    alone = spark.createDataFrame(rows[1:], "doc_id BIGINT, text STRING")
    monkeypatch.setattr(d, "_docs", lambda spark, sf_dir: alone)
    (want,) = d.dedup_simhash_signatures(spark, "").collect()
    assert got == {1: None, 2: want.simhash} and want.simhash is not None


@pytest.mark.parametrize("udf", ["_table_buckets", "_query_probes", "_ivf_cells_int"])
def test_similarity_udf_null_embedding_is_null(spark, udf):
    """A NULL embedding maps to NULL in the LSH bucket, LSH probe and
    IVF cell Arrow UDFs, as the JVM array path does, instead of failing
    the batch, and the vector sharing its batch gets its lone result."""
    import numpy as np
    from pyspark.sql import functions as F

    from csv_to_parquet_spark.operators import similarity as sim

    rng = np.random.default_rng(13)
    vec = [float(x) for x in rng.normal(size=64)]
    cents = rng.integers(-(10**6), 10**6, size=(16, 64))
    build = {
        "_table_buckets": sim._table_buckets,
        "_query_probes": sim._query_probes,
        "_ivf_cells_int": lambda col: sim._ivf_cells_int(col, cents, 3),
    }[udf]

    def run(rows):
        df = spark.createDataFrame(rows, "id INT, embedding ARRAY<DOUBLE>")
        out = df.coalesce(1).select("id", build(F.col("embedding")).alias("out"))
        return {r.id: r.out for r in out.collect()}

    alone = run([(1, vec)])
    assert alone[1] is not None
    assert run([(1, vec), (2, None)]) == {1: alone[1], 2: None}


@pytest.mark.parametrize("udf", ["_seq_dots_udf", "_bucket_sig_udf"])
def test_clustering_udf_null_embedding_is_null(spark, udf):
    """A NULL embedding gets NULL struct fields from the clustering
    dot-product and LSH-signature Arrow UDFs instead of failing the
    batch, and the vector sharing its batch gets its lone result."""
    import numpy as np
    from pyspark.sql import functions as F

    from csv_to_parquet_spark.operators import clustering as cl

    rng = np.random.default_rng(17)
    vec = [float(x) for x in rng.normal(size=8)]
    planes = rng.normal(size=(3, 2, 8)).tolist()  # L=3 tables, k=2 bits
    build = {
        "_seq_dots_udf": lambda: cl._seq_dots_udf(planes[0]),
        "_bucket_sig_udf": lambda: cl._bucket_sig_udf(planes),
    }[udf]()

    def run(rows):
        df = spark.createDataFrame(rows, "id INT, embedding ARRAY<DOUBLE>")
        out = df.coalesce(1).select("id", build(F.col("embedding")).alias("out"))
        return {r.id: r.out.asDict() for r in out.collect()}

    alone = run([(1, vec)])
    assert None not in alone[1].values()
    got = run([(1, vec), (2, None)])
    assert got[1] == alone[1]
    assert set(got[2].values()) == {None}
