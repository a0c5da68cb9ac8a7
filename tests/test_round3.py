"""Round-3 hardening invariants.

- catalog rotation: canaries stay first; never-driver-verified queries
  fill the 50-entry correctness window before anything already green.
- connected components: the reliable-checkpoint path returns the same
  clusters as the localCheckpoint path.
- the MinHash shingle cache is released after a sweep (no persisted
  RDD lingers in a long-lived session).
- ns→µs narrowing floors (pre-epoch instants match DuckDB).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F


def test_rotation_window_covers_never_verified(spark):
    from csv_to_parquet_spark.catalog import (
        CANARIES,
        build_catalog,
        load_verified_rounds,
    )

    cat = build_catalog()
    names = list(cat.queries)
    assert names[: len(CANARIES)] == CANARIES
    verified = load_verified_rounds()
    never = [
        n for n in cat.queries if n not in verified and n not in CANARIES
    ]
    window = set(names[:50])
    missing = [n for n in never if n not in window]
    # every never-verified query must sit inside the driver's window
    # (when there are more than 45 of them, the earliest 45 win — only
    # possible in round 1, which predates this test)
    assert len(never) > 45 or not missing, f"outside window: {missing}"


def test_build_catalog_raises_on_a_broken_module(monkeypatch):
    """A module that fails to import fails the catalog instead of
    silently dropping its entries."""
    import sys

    import pytest

    from csv_to_parquet_spark import catalog, operators, streaming

    for pkg, mod in ((operators, "graph"), (streaming, "jobs")):
        with monkeypatch.context() as m:
            m.delattr(pkg, mod, raising=False)
            m.setitem(sys.modules, f"{pkg.__name__}.{mod}", None)
            with pytest.raises(ImportError):
                catalog.build_catalog()
    assert len(catalog.build_catalog().queries) == 340


def test_verified_rounds_snapshot_loads():
    from csv_to_parquet_spark import catalog

    assert os.path.exists(catalog._VERIFIED_JSON)
    with open(catalog._VERIFIED_JSON) as f:
        snap = json.load(f)
    assert len(snap) >= 90  # r1+r2 green rows
    merged = catalog.load_verified_rounds()
    assert set(snap) <= set(merged)


def test_cc_reliable_checkpoint_matches_local(spark, sf_smoke):
    from csv_to_parquet_spark.operators.dedup import dedup_connected_components

    local = {
        (r.doc_id, r.cluster_id)
        for r in dedup_connected_components(spark, sf_smoke).collect()
    }
    reliable = {
        (r.doc_id, r.cluster_id)
        for r in dedup_connected_components(
            spark, sf_smoke, reliable_checkpoint=True
        ).collect()
    }
    assert local == reliable
    assert len(local) > 0
    assert spark.sparkContext.getCheckpointDir() is not None


def test_minhash_cache_released(spark, sf_smoke):
    from csv_to_parquet_spark.operators import dedup

    dedup.release_caches()  # clean slate
    df = dedup.dedup_minhash_lsh(spark, sf_smoke)
    assert df.count() > 0
    assert len(dedup._ACTIVE_CACHES) == 1
    cached = dedup._ACTIVE_CACHES[0]
    assert cached.storageLevel.useMemory or cached.storageLevel.useDisk
    dedup.release_caches()
    assert dedup._ACTIVE_CACHES == []
    assert not (cached.storageLevel.useMemory or cached.storageLevel.useDisk)


def test_ns_to_us_floor_semantics(spark):
    from csv_to_parquet_spark.sources.tables import ns_to_us

    df = spark.createDataFrame(
        [(1500,), (1000,), (999,), (0,), (-1,), (-999,), (-1000,), (-1500,)],
        "ts BIGINT",
    ).select("ts", ns_to_us("ts").alias("us"))
    got = {r.ts: r.us for r in df.collect()}
    # floor(ts/1000), incl. pre-epoch — matches DuckDB's ns→µs narrowing
    assert got == {1500: 1, 1000: 1, 999: 0, 0: 0, -1: -1, -999: -1, -1000: -1, -1500: -2}


def test_parity_inference_unchanged_without_date_probes(spark, tmp_path):
    from csv_to_parquet_spark.convert.converter import infer_file_schema

    p = tmp_path / "mix.csv"
    p.write_text(
        "a,b,c,d\n"
        "1,1.5,true,2024-01-02\n"
        "2,2,false,2024-02-03\n"
    )
    parity = {c.name: c.kind for c in infer_file_schema(spark, str(p))}
    assert parity == {"a": "int64", "b": "float64", "c": "bool", "d": "string"}
    enhanced = {
        c.name: c.kind
        for c in infer_file_schema(spark, str(p), enhanced_dates=True)
    }
    assert enhanced == {"a": "int64", "b": "float64", "c": "bool", "d": "date"}


def test_ivf_trained_centroids_shape(spark, sf_smoke):
    from csv_to_parquet_spark.operators.similarity import (
        _DIM,
        _IVF_CELLS,
        _emb,
        _ivf_quant,
        _ivf_train_centroids_int,
    )

    cents = _ivf_train_centroids_int(_emb(spark, sf_smoke))
    assert cents.shape == (_IVF_CELLS, _DIM)
    # training moved at least one centroid off its (quantized) seed
    import numpy as np

    seeds = _ivf_quant(
        np.stack(
            [
                [float(v) for v in r.embedding]
                for r in _emb(spark, sf_smoke)
                .filter(
                    (F.col("vec_id") >= 100)
                    & (F.col("vec_id") < 100 + _IVF_CELLS)
                )
                .orderBy("vec_id")
                .collect()
            ]
        )
    )
    assert (cents != seeds).any()


def test_embedding_lsh_pairs_recall_vs_exact(spark, sf_smoke, sf_oracle):
    """The LSH scale path must recover the high-cosine (planted) pairs
    of the exact all-pairs baseline; boundary-band misses are the
    documented trade."""
    from csv_to_parquet_spark.catalog import build_catalog

    cat = build_catalog()
    for sf in {sf_smoke, sf_oracle}:
        exact = {
            (r.vec_a, r.vec_b): r.cosine
            for r in cat.queries["dedup_embedding_cosine"](spark, sf).collect()
        }
        lsh = {
            (r.vec_a, r.vec_b)
            for r in cat.queries["dedup_embedding_lsh_pairs"](spark, sf).collect()
        }
        assert lsh <= set(exact)  # LSH emits only verified-true pairs
        high = {p for p, cs in exact.items() if cs >= 0.9}
        if high:
            got = len(high & lsh) / len(high)
            assert got >= 0.9, f"{sf}: high-cos recall {got:.2f}"


def test_kmeans_assign_covers_corpus_and_converges(spark, sf_smoke):
    from csv_to_parquet_spark.operators.clustering import (
        _KM_CELLS,
        cluster_kmeans_assign,
    )

    rows = cluster_kmeans_assign(spark, sf_smoke).collect()
    n_vecs = len({r.vec_id for r in rows})
    assert len(rows) == n_vecs  # exactly one cluster per vector
    clusters = {r.cluster for r in rows}
    assert clusters <= set(range(_KM_CELLS))
    assert len(clusters) > 1  # corpus spreads over multiple cells
