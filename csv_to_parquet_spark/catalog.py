"""Merged operator catalog — the single source for __spark_entry__.

Each operator module contributes its ``CAT``; names must be globally
unique. The driver's correctness gate only inspects the FIRST 50
entries of ``queries()`` (dict insertion order), so ``build_catalog``
orders the catalog so that, over successive rounds, EVERY query gets a
driver-green row:

1. ``CANARIES`` — a fixed cross-suite sample that is re-verified every
   round (regression tripwire: conversion parity, LSH dedup,
   streaming, TPC-H agg, JDBC).
2. Queries that have NEVER had a driver-green row, in module order.
3. Everything else, least-recently-verified first.

"Verified" state is data, not a comment: the committed
``verified_rounds.json`` (name -> last driver-green round) is
refreshed automatically — at build time the loader also scans the
repo root for ``CORRECTNESS_r*.json`` files the driver wrote and
merges any green rows in, so a new round's results rotate the window
with no manual edit (``scripts/refresh_verified.py`` persists the
merge back into the committed JSON).
"""

from __future__ import annotations

import glob
import json
import os
import re

from csv_to_parquet_spark.operators import Catalog

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_VERIFIED_JSON = os.path.join(_PKG_DIR, "verified_rounds.json")

# Re-verified every round, ahead of the rotation (VERDICT r2 #1).
CANARIES = [
    "convert_lattice_roundtrip",
    "dedup_minhash_lsh",
    "stream_tumbling_counts",
    "q1_pricing_summary",
    "source_jdbc_roundtrip",
]


def rotation_sort_key(
    name: str,
    verified: dict[str, int],
    attempted: set[str],
    module_pos: dict[str, int],
    oracle_stale: set[str],
) -> tuple[int, int, int]:
    """Rotation rank for one query (module-level so tests can probe the
    tie-break cases directly). Three tiers: (0) previously-checked but
    never green — a fix awaiting re-verification, the most urgent rows
    — with ``oracle_stale`` names (VERDICT r11 #1: the entry grew a
    DuckDB oracle AFTER its last driver-green row, so the driver has
    only ever rows-only-checked it; its oracle form is unverified and
    must re-enter the window) ranked just behind true red rows;
    (1) never checked at all; (2) green, least-recently-verified
    first. Module order breaks remaining ties so the order is
    deterministic."""
    if name in oracle_stale:
        return (0, 1, module_pos[name])
    if name not in verified:
        return (0 if name in attempted else 1, 0, module_pos[name])
    return (2, verified[name], module_pos[name])


def _row_is_green(row: dict) -> bool:
    """A driver row counts as verified if all three gates passed, or it
    is a by-design rows-only query (``no_oracle``) that produced rows."""
    if row.get("rows_match") and row.get("schema_match") and row.get("hash_match"):
        return True
    return row.get("err") == "no_oracle" and row.get("spark_rows") is not None


def load_verified_rounds() -> dict[str, int]:
    """name -> last round with a driver-green row.

    Starts from the committed snapshot, then overlays any
    ``CORRECTNESS_r*.json`` present at the repo root (package parent),
    so the rotation advances the moment the driver writes a new file —
    no manual refresh needed between rounds.
    """
    verified: dict[str, int] = {}
    try:
        with open(_VERIFIED_JSON) as f:
            verified.update(json.load(f))
    except (OSError, ValueError):
        pass
    root = os.path.dirname(_PKG_DIR)
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if isinstance(row, dict) and _row_is_green(row):
                verified[name] = max(verified.get(name, 0), rnd)
    return verified


def load_rows_only_verified() -> set[str]:
    """Names whose LATEST driver-green row was rows-only
    (``err == "no_oracle"``). If such a name now carries an oracle in
    the live catalog, its oracle form has never seen the driver's
    DuckDB compare — ``build_catalog`` treats it as stale so the next
    window re-verifies it (VERDICT r11 #1). Names green only in the
    committed snapshot (no artifact row on disk) are assumed
    oracle-backed — the snapshot predates rows-only entries."""
    latest: dict[str, tuple[int, bool]] = {}
    root = os.path.dirname(_PKG_DIR)
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict) or not _row_is_green(row):
                continue
            oracle_backed = bool(row.get("hash_match"))
            if name not in latest or rnd >= latest[name][0]:
                latest[name] = (rnd, oracle_backed)
    return {n for n, (_, oracle_backed) in latest.items() if not oracle_backed}


def load_attempted() -> set[str]:
    """Names the driver has EVER checked (green or red) — a red row is
    a query whose fix is awaiting verification and must outrank
    brand-new queries in the rotation."""
    attempted: set[str] = set()
    root = os.path.dirname(_PKG_DIR)
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        try:
            with open(path) as f:
                attempted.update(json.load(f).keys())
        except (OSError, ValueError):
            continue
    return attempted


def build_catalog() -> Catalog:
    # imports deferred so `import csv_to_parquet_spark` stays cheap
    import importlib

    from csv_to_parquet_spark.operators import relational
    from csv_to_parquet_spark.streaming import jobs as streaming_jobs

    merged = Catalog()
    merged.merge(relational.CAT)

    for modname in (
        "relational2",
        "relational3",
        "relational4",
        "conversion",
        "dedup",
        "similarity",
        "clustering",
        "textops",
        "analytics",
        "stats",
        "spark4",
        "spark4b",
        "recursion",
        "graph",
        "pipelines",
        "packing",
        "maintenance",
        "multimodal",
        "layout",
        "formats",
    ):
        merged.merge(importlib.import_module(f"csv_to_parquet_spark.operators.{modname}").CAT)
    merged.merge(streaming_jobs.CAT)

    verified = load_verified_rounds()
    attempted = load_attempted()
    module_pos = {name: i for i, name in enumerate(merged.queries)}

    # VERDICT r11 #1: an entry whose oracle was added AFTER its last
    # driver-green (rows-only) row is stale — the oracle form has never
    # been driver-compared. Self-maintaining for any future conversion.
    oracle_stale = {n for n in load_rows_only_verified() if n in merged.oracle}

    rotation = sorted(
        (n for n in merged.queries if n not in CANARIES),
        key=lambda n: rotation_sort_key(
            n, verified, attempted, module_pos, oracle_stale
        ),
    )

    ordered = Catalog()
    for name in CANARIES + rotation:
        ordered.queries[name] = merged.queries[name]
        if name in merged.oracle:
            ordered.oracle[name] = merged.oracle[name]
    return ordered
