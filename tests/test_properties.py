"""Property-based tests (hypothesis) — SURVEY §5.4.

Random typed tables → CSV → convert → read back must equal the
original modulo the documented coercions; the inference lattice must be
insensitive to row order within the sample; header cleaning is
idempotent. Spark-free where possible (pure-function properties run in
milliseconds); one Spark roundtrip property with a reduced example
budget.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from csv_to_parquet_spark.convert.headers import clean_header, clean_headers

# ---------------------------------------------------------------------------
# clean_header properties (pure function, converter.go:201-211 parity)
# ---------------------------------------------------------------------------


@given(st.text(max_size=30))
def test_clean_header_idempotent(h):
    once = clean_header(h, 0)
    assert clean_header(once, 0) == once


@given(st.text(max_size=30))
def test_clean_header_never_empty_or_spacey(h):
    c = clean_header(h, 3)
    assert c != ""
    assert " " not in c and "." not in c
    assert not c.startswith("﻿")


@given(st.lists(st.text(max_size=12), min_size=1, max_size=8))
def test_clean_headers_positional_fallbacks(hs):
    cleaned = clean_headers(hs)
    assert len(cleaned) == len(hs)
    for i, (raw, c) in enumerate(zip(hs, cleaned)):
        if raw.lstrip("﻿").strip() == "":
            assert c == f"column_{i}"  # 0-based, converter.go:207


# ---------------------------------------------------------------------------
# Lattice decision properties (mirrors _column_kind's decision over the
# per-column class counts that infer_column_kinds sums)
# ---------------------------------------------------------------------------

_INT = st.integers(min_value=-(2**62), max_value=2**62).map(str)
_FLOAT = st.floats(
    allow_nan=False, allow_infinity=False, width=32
).map(lambda f: repr(float(f)))
_BOOL = st.sampled_from(["true", "false", "TRUE", "False"])
_TEXT = st.text(
    alphabet=st.characters(whitelist_categories=("Lu", "Ll")), min_size=1, max_size=8
)


def _kind_of(values: list[str]) -> str:
    """Reference lattice fold (converter.go:241-303) in pure Python."""

    def cell_kind(v: str) -> str | None:
        v = v.strip()
        if v == "":
            return None
        if v.lower() in ("true", "false"):
            return "bool"
        try:
            int(v, 10)
            return "int64"
        except ValueError:
            pass
        try:
            f = float(v)
            if not (math.isnan(f) or math.isinf(f)):
                return "float64"
        except ValueError:
            pass
        return "string"

    kinds = [k for k in (cell_kind(v) for v in values) if k is not None]
    if not kinds:
        return "int64"  # optimistic empty default, converter.go:214-217
    if all(k == "bool" for k in kinds):
        return "bool"
    if all(k == "int64" for k in kinds):
        return "int64"
    if all(k in ("int64", "float64") for k in kinds):
        return "float64"
    return "string"


@given(
    st.lists(
        st.one_of(_INT, _FLOAT, _BOOL, _TEXT, st.just("")), min_size=0, max_size=30
    )
)
def test_lattice_fold_order_insensitive(values):
    import random

    shuffled = values[:]
    random.Random(0).shuffle(shuffled)
    assert _kind_of(values) == _kind_of(shuffled)


@given(st.lists(_INT, min_size=1, max_size=20), st.lists(_FLOAT, min_size=1, max_size=20))
def test_lattice_int_plus_float_is_float(ints, floats):
    assert _kind_of(ints) == "int64"
    assert _kind_of(ints + floats) == "float64"


@given(st.lists(_BOOL, min_size=1, max_size=20), st.lists(_INT, min_size=1, max_size=20))
def test_lattice_bool_plus_number_is_string(bools, ints):
    assert _kind_of(bools) == "bool"
    assert _kind_of(bools + ints) == "string"


# ---------------------------------------------------------------------------
# End-to-end roundtrip property (Spark, small example budget)
# ---------------------------------------------------------------------------


@pytest.mark.slow
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-(10**9), max_value=10**9),
            st.floats(
                min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
            ),
            st.booleans(),
            # letters only, excluding bool/float literals: a
            # digits-only (or true/false/nan/inf) string column would
            # correctly infer a non-string type under the lattice —
            # that IS the semantics, a different property than
            # roundtrip fidelity
            st.text(
                alphabet=st.characters(whitelist_categories=("Lu", "Ll")),
                min_size=1,
                max_size=10,
            ).filter(
                lambda s: s.lower() not in ("true", "false", "nan", "inf", "infinity")
            ),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_typed_roundtrip(spark, tmp_path_factory, rows):
    """int/float/bool/string table → CSV → convert → identical values."""
    import os

    from csv_to_parquet_spark.convert.converter import convert_file

    d = tmp_path_factory.mktemp("prop")
    src = os.path.join(str(d), "t.csv")
    with open(src, "w") as f:
        f.write("i,f,b,s\n")
        for i, fl, b, s in rows:
            f.write(f"{i},{fl!r},{str(b).lower()},{s}\n")
    res = convert_file(spark, src, str(d))
    assert res.ok, res.error
    got = sorted(
        (r.i, r.f, r.b, r.s)
        for r in spark.read.parquet(res.output).collect()
    )
    want = sorted((i, float(repr(fl)), b, s) for i, fl, b, s in rows)
    assert got == want


@given(st.integers(min_value=-(2**62), max_value=2**62))
def test_avro_zigzag_roundtrips_any_long(v):
    """Avro zigzag-varint encode/decode is a bijection on int64."""
    from csv_to_parquet_spark.operators.formats import (
        _avro_read_long,
        _avro_zigzag,
    )

    buf = _avro_zigzag(v)
    got, pos = _avro_read_long(buf, 0)
    assert got == v and pos == len(buf)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**40),
            st.text(
                alphabet=st.characters(codec="utf-8", exclude_categories=["Cs"]),
                max_size=24,
            ),
            st.floats(allow_nan=False, allow_infinity=False, width=64),
            st.sampled_from(["AUTOMOBILE", "BUILDING", "MACHINERY"]),
        ),
        max_size=25,
    )
)
def test_avro_container_roundtrips_any_rows(rows):
    """The pure-Python Avro writer/decoder round-trips arbitrary
    (long, string, double, string) records bit-exactly — including
    empty files, unicode, negative/subnormal doubles."""
    import os
    import tempfile

    from csv_to_parquet_spark.operators.formats import (
        _avro_decode_file,
        _avro_write_file,
    )

    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "t.avro")
        _avro_write_file(p, rows)
        got = _avro_decode_file(open(p, "rb").read())
    assert got == [(k, n, float(b), s) for k, n, b, s in rows]


@given(st.integers(min_value=-(2**70), max_value=2**70), st.sampled_from([1 << 26, 1 << 53]))
def test_pca_shift_matches_sql_truncating_semantics(v, s):
    """The fixed-point shift is sign-symmetric truncation — identical
    to the SQL CASE both oracles use, for any sign and magnitude."""
    out = -((-v) // s) if v < 0 else v // s
    # reference semantics: trunc(v / s) in exact rational arithmetic
    import fractions

    assert out == int(fractions.Fraction(v, s))


# ---------------------------------------------------------------------------
# Prefix-filtering principle (dedup.jaccard_prefix_filter_pairs) —
# pure-math property: for ANY two sets with J >= tau under ANY total
# order, the prefixes of length n - ceil(tau*n) + 1 intersect.
# ---------------------------------------------------------------------------


@given(
    st.sets(st.integers(0, 60), min_size=1, max_size=25),
    st.sets(st.integers(0, 60), min_size=1, max_size=25),
    st.randoms(use_true_random=False),
)
def test_prefix_filter_principle(a, b, rnd):
    tau_num, tau_den = 3, 5  # tau = 0.6, the shipped threshold
    c = len(a & b)
    j_qualifies = c * tau_den >= tau_num * (len(a) + len(b) - c)
    order = sorted(a | b, key=lambda x: rnd.random())
    pos = {v: i for i, v in enumerate(order)}

    def prefix(s):
        n = len(s)
        p = n - (tau_num * n + tau_den - 1) // tau_den + 1
        return set(sorted(s, key=pos.__getitem__)[:p])

    if j_qualifies:
        assert prefix(a) & prefix(b), (
            f"qualifying pair missed: a={sorted(a)} b={sorted(b)} "
            f"order={order}"
        )


# ---------------------------------------------------------------------------
# Misra-Gries batched-merge survivor guarantee
# (textops.text_heavy_hitters_mg): after folding arbitrary batches
# with the offset-subtraction merge, any item with total count
# > n/(K+1) must still hold a counter.
# ---------------------------------------------------------------------------


@given(
    st.lists(
        st.lists(st.integers(0, 40), min_size=0, max_size=60),
        min_size=1,
        max_size=8,
    ),
    st.integers(2, 10),
)
def test_misra_gries_batched_merge_never_drops_heavy_items(batches, k):
    from collections import Counter

    counters: Counter = Counter()
    for batch in batches:
        counters.update(Counter(batch))
        if len(counters) > k:
            m = sorted(counters.values(), reverse=True)[k]
            counters = Counter({t: c - m for t, c in counters.items() if c > m})

    exact = Counter(x for b in batches for x in b)
    n = sum(exact.values())
    for item, cnt in exact.items():
        if cnt * (k + 1) > n:
            assert item in counters, (
                f"heavy item {item} (cnt {cnt}, n {n}, k {k}) evicted"
            )


# ---------------------------------------------------------------------------
# Subword replace-scan segmentation: pure-function properties of the
# merge cascade (the Spark/DuckDB expressions implement exactly this
# Python semantics — pinned end-to-end in test_round6; here hypothesis
# hammers the algebra: segmentation is a partition of the characters,
# merges never increase subword count, and every subword is either a
# single char or a concatenation produced by some rule chain.
# ---------------------------------------------------------------------------


def _seg_word(w: str) -> list[str]:
    from csv_to_parquet_spark.operators.textops import _SW_MERGES, _SW_SEP

    s = _SW_SEP + "".join(c + _SW_SEP for c in w)
    for a, b in _SW_MERGES:
        pat = f"{_SW_SEP}{a}{_SW_SEP}{b}{_SW_SEP}"
        rep = f"{_SW_SEP}{a}{b}{_SW_SEP}"
        s = s.replace(pat, rep).replace(pat, rep)
    return [p for p in s.split(_SW_SEP) if p]


@given(st.text(alphabet=st.characters(min_codepoint=97, max_codepoint=122), min_size=1, max_size=40))
def test_subword_segmentation_partitions_the_word(w):
    segs = _seg_word(w)
    assert "".join(segs) == w  # exact character partition
    assert 1 <= len(segs) <= len(w)  # merges only ever shrink
    # idempotence of the full cascade: re-running it on the already-
    # merged symbol stream changes nothing (every rule already applied
    # twice, and later rules cannot re-create earlier rules' inputs
    # out of nothing)
    from csv_to_parquet_spark.operators.textops import _SW_MERGES, _SW_SEP

    s = _SW_SEP + _SW_SEP.join(segs) + _SW_SEP
    for a, b in _SW_MERGES:
        pat = f"{_SW_SEP}{a}{_SW_SEP}{b}{_SW_SEP}"
        s2 = s.replace(pat, f"{_SW_SEP}{a}{b}{_SW_SEP}")
        # a later rule may still merge across boundaries the earlier
        # double-pass missed ONLY in same-pair adjacency chains; for
        # the fixed English merges table, assert the cascade closed
        s = s2
    assert [p for p in s.split(_SW_SEP) if p] == segs


# ---------------------------------------------------------------------------
# Round-6 wave properties: two-phase ranks, phonetic key, winsorized mean
# ---------------------------------------------------------------------------


@given(
    st.lists(
        st.tuples(st.integers(0, 50), st.integers(1, 5)),
        min_size=1,
        max_size=60,
    )
)
def test_doubled_avg_ranks_match_naive(pairs):
    """The integer doubled-rank identity r2 = 2*cnt_less + cnt_eq + 1
    used by stats_spearman_rank must equal 2x the classic tie-average
    rank computed naively over the expanded multiset."""
    from collections import Counter

    cnt = Counter()
    for v, c in pairs:
        cnt[v] += c
    expanded = sorted(v for v, c in cnt.items() for _ in range(c))
    # naive average rank per value over 1-based positions
    naive = {}
    for v in cnt:
        pos = [i + 1 for i, x in enumerate(expanded) if x == v]
        naive[v] = 2 * sum(pos) / len(pos)
    less = 0
    for v in sorted(cnt):
        r2 = 2 * less + cnt[v] + 1
        assert r2 == naive[v], (v, r2, naive[v])
        less += cnt[v]


@given(
    st.lists(
        st.tuples(st.integers(0, 1_000_000), st.integers(1, 4)),
        min_size=1,
        max_size=80,
    ),
    st.integers(2, 40),
)
def test_winsorized_boundaries_match_numpy_definition(pairs, den):
    """p_lo/p_hi = smallest value whose cumulative count reaches
    ceil(n/den) (resp. ceil(n*(den-1)/den)) — cross-checked against a
    direct order-statistic on the expanded multiset (the definition
    both engines' SQL text encodes as cum*den >= n)."""
    from collections import Counter

    cnt = Counter()
    for v, c in pairs:
        cnt[v] += c
    expanded = sorted(v for v, c in cnt.items() for _ in range(c))
    n = len(expanded)
    k_lo = -(-n // den)  # ceil(n/den)
    k_hi = -(-(n * (den - 1)) // den)
    cum = 0
    p_lo = p_hi = None
    for v in sorted(cnt):
        cum += cnt[v]
        if p_lo is None and cum * den >= n:
            p_lo = v
        if p_hi is None and cum * den >= n * (den - 1):
            p_hi = v
    assert p_lo == expanded[k_lo - 1]
    assert p_hi == expanded[k_hi - 1]


@settings(deadline=None)  # first DuckDB call JITs past the default
@given(
    st.text(
        alphabet="abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ",
        min_size=1,
        max_size=12,
    )
)
def test_phonetic_key_reference_model(word):
    """The nested-replace SQL pipeline in er_phonetic_block_join must
    equal the straightforward Python model: first letter + vowel-free
    digit string with runs collapsed (runs here are <= 12; each replace
    round ceil-halves a run, so the FOUR rounds in _phonetic_key_sql
    cover runs up to 16 — three only covered 8, which this test caught
    via 'bbbbbbbbbb' -> 'B11', ADVICE r6)."""
    from csv_to_parquet_spark.operators.relational4 import (
        _PHON_DST,
        _PHON_SRC,
    )

    up = word.upper()
    table = {s: d for s, d in zip(_PHON_SRC, _PHON_DST)}
    digits = "".join(table.get(ch, ch) for ch in up)[1:]
    digits = digits.replace("0", "")
    collapsed = []
    for ch in digits:
        if not collapsed or collapsed[-1] != ch:
            collapsed.append(ch)
    expect = up[:1] + "".join(collapsed)

    # evaluate the SQL text with DuckDB (same engine the oracle uses)
    import duckdb

    from csv_to_parquet_spark.operators.relational4 import _phonetic_key_sql

    got = duckdb.sql(
        f"SELECT {_phonetic_key_sql('?')}".replace("?", f"'{word}'")
    ).fetchone()[0]
    assert got == expect, (word, got, expect)


# ---------------------------------------------------------------------------
# Round-8 operator kernels (pure-function mirrors, no Spark)
# ---------------------------------------------------------------------------

_C, _S = 32, 24  # chunk_sliding_windows parameters


def _chunks_closed_form(n: int) -> list[tuple[int, int]]:
    """The operator's rule: 1 + ceil(max(0, n-C)/S) windows, clamped."""
    n_chunks = 1 + (max(n - _C, 0) + _S - 1) // _S
    return [(i * _S + 1, min(i * _S + _C, n)) for i in range(n_chunks)]


def _chunks_reference(n: int) -> list[tuple[int, int]]:
    """Naive generator: emit windows until one reaches the end."""
    out, start = [], 1
    while True:
        end = min(start + _C - 1, n)
        out.append((start, end))
        if end == n:
            return out
        start += _S


@given(st.integers(min_value=1, max_value=5000))
def test_chunk_rule_matches_reference_generator(n):
    got = _chunks_closed_form(n)
    assert got == _chunks_reference(n)
    # coverage: first chunk starts at 1, last ends at n, no gaps
    assert got[0][0] == 1 and got[-1][1] == n
    for (s1, e1), (s2, e2) in zip(got, got[1:]):
        assert s2 <= e1 + 1  # no token uncovered
        assert e2 > e1  # containment-free (strictly advancing ends)


def _merge_spans_gap_rule(positions: list[int], k: int) -> list[tuple[int, int, int]]:
    """dedup_ngram_span_exact's window rule: new span iff
    pos - prev_pos > k-1; span = (min, max+k-1, count)."""
    out: list[list[int]] = []
    for p in sorted(positions):
        if out and p - out[-1][3] <= k - 1:
            out[-1][1] = p + k - 1
            out[-1][2] += 1
            out[-1][3] = p
        else:
            out.append([p, p + k - 1, 1, p])
    return [(a, b, c) for a, b, c, _ in out]


def _merge_intervals_reference(positions: list[int], k: int):
    """Classic interval merge of [p, p+k-1] windows."""
    ivs = sorted((p, p + k - 1) for p in positions)
    out: list[list[int]] = []
    counts: list[int] = []
    for s, e in ivs:
        if out and s <= out[-1][1]:  # true overlap (touching does NOT merge)
            out[-1][1] = max(out[-1][1], e)
            counts[-1] += 1
        else:
            out.append([s, e])
            counts.append(1)
    return [(s, e, c) for (s, e), c in zip(out, counts)]


@given(
    st.sets(st.integers(min_value=1, max_value=300), min_size=1, max_size=60),
    st.integers(min_value=2, max_value=12),
)
def test_ngram_span_gap_rule_equals_interval_merge(positions, k):
    assert _merge_spans_gap_rule(sorted(positions), k) == _merge_intervals_reference(
        sorted(positions), k
    )


def _two_pass_merge(syms: list[str], a: str, b: str) -> list[str]:
    """bpe_learn_merges' engine semantics: two left-to-right
    non-overlapping literal replaces on the space-delimited symbol
    string (Python str.replace == Java String.replace == DuckDB
    replace, verified in round 8)."""
    s = " " + " ".join(syms) + " "
    pat, rep = f" {a} {b} ", f" {a}{b} "
    s = s.replace(pat, rep).replace(pat, rep)
    return s.split()


def _greedy_merge(syms: list[str], a: str, b: str) -> list[str]:
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


@given(
    st.lists(st.sampled_from("abc"), min_size=1, max_size=24),
    st.sampled_from("abc"),
    st.sampled_from("abc"),
)
def test_bpe_two_pass_merge_conserves_characters(syms, a, b):
    """Safety invariant for ANY input: the replace-scan merge never
    loses, duplicates, or reorders characters, and only fuses
    adjacent (a, b) occurrences."""
    merged = _two_pass_merge(syms, a, b)
    assert "".join(merged) == "".join(syms)
    fused = a + b
    for m in merged:
        assert m in ("a", "b", "c", fused)


@given(st.lists(st.sampled_from("abc"), min_size=1, max_size=24))
def test_bpe_two_pass_merge_equals_greedy_off_chains(syms):
    """The documented contract: two-pass replace == classic greedy BPE
    except on same-pair adjacency chains of length >= 4 (verified by
    exhaustive enumeration: length-4 chains like "aaaaa"/(a,a) already
    disagree — 1140 counterexamples at |syms| <= 12 — where a
    bounded replace scan groups differently but deterministically).
    Restrict to inputs without such chains and demand equality."""
    for a in "abc":
        for b in "abc":
            run, worst = 0, 0
            seq = "".join(syms)
            # longest adjacency chain of the pair (a, b) == longest
            # run of the 2-char pattern; detect via overlap scan
            i = 0
            while i < len(syms) - 1:
                if syms[i] == a and syms[i + 1] == b:
                    run += 1
                    i += 1
                else:
                    worst = max(worst, run)
                    run = 0
                    i += 1
            worst = max(worst, run)
            if worst >= 4:
                continue  # documented divergence regime: skip this pair
            assert _two_pass_merge(syms, a, b) == _greedy_merge(syms, a, b), (
                syms, a, b,
            )


def test_bpe_two_pass_merge_pinned_examples():
    # the banana case the r8 review caught (single pass missed it)
    assert _two_pass_merge(list("banana"), "a", "n") == ["b", "an", "an", "a"]
    # documented same-pair-chain divergence, pinned so a future change
    # to the replace semantics is caught explicitly
    assert _greedy_merge(["a"] * 5, "a", "a") == ["aa", "aa", "a"]
    assert _two_pass_merge(["a"] * 5, "a", "a") == ["aa", "a", "aa"]
