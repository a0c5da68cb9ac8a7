"""Round-12 invariants.

- catalog rotation: an entry whose DuckDB oracle was added AFTER its
  last driver-green (rows-only) row is oracle-stale and re-enters the
  correctness window ahead of never-checked entries (VERDICT r11 #1).
- get_spark no longer mutates the process-global PYTHONPATH — the
  worker export is scoped via spark.executorEnv.PYTHONPATH
  (ADVICE r11).
- bench.py writes the committed BENCH_LOCAL.json artifact only at the
  canonical sf0.1; other scales go to a suffixed sidecar
  (VERDICT r11 #3).
- the mixing and unigram chains have one code path: every entry takes
  only (spark, sf_dir) and selects its output from the pipeline.
"""

from __future__ import annotations

import os

import pytest


def test_oracle_stale_entries_reenter_window():
    """knn_ivf_pq_ann and mm_phash_near_dup were driver-greened in
    rows-only form (r7) and converted to oracle entries in r9 — the
    driver has never DuckDB-compared them. The rotation must rank
    them inside the 50-slot window until a hash_match row lands."""
    from csv_to_parquet_spark import catalog

    rows_only = catalog.load_rows_only_verified()
    cat = catalog.build_catalog()
    stale = {n for n in rows_only if n in cat.oracle}
    names = list(cat.queries)
    window = set(names[:50])
    for n in stale:
        assert n in window, f"oracle-stale {n} outside driver window"
    # the three by-design rows-only sketches have no oracle and must
    # NOT be dragged back into the urgent tier
    for n in (
        "agg_approx_count_distinct",
        "approx_percentile_sketch",
        "sketch_hll_daily_rollup",
    ):
        assert n in rows_only and n not in stale


def test_oracle_stale_sort_key_tier():
    """The oracle-stale class sits in tier 0 (urgent) just behind true
    red rows and ahead of never-checked entries, regardless of module
    position."""
    from csv_to_parquet_spark import catalog

    module_pos = {"red_q": 9, "stale_q": 8, "new_q": 0, "green_q": 1}
    verified = {"stale_q": 7, "green_q": 3}
    attempted = {"red_q", "stale_q", "green_q"}
    key = lambda n: catalog.rotation_sort_key(  # noqa: E731
        n, verified, attempted, module_pos, {"stale_q"}
    )
    assert key("red_q") < key("stale_q")
    assert key("stale_q") < key("new_q")
    assert key("new_q") < key("green_q")


def test_get_spark_does_not_mutate_global_pythonpath(spark):
    """ADVICE r11: the repo root must reach executor workers via
    spark.executorEnv.PYTHONPATH, not a process-global os.environ
    mutation that leaks into every subprocess the caller spawns."""
    pkg_root = os.path.dirname(
        os.path.dirname(
            os.path.abspath(
                __import__("csv_to_parquet_spark").__file__
            )
        )
    )
    before = os.environ.get("PYTHONPATH")
    from csv_to_parquet_spark.session import get_spark

    s = get_spark(app_name="envcheck")
    assert os.environ.get("PYTHONPATH") == before
    # the conf is set when THIS call created the session; under
    # getOrCreate-reuse the context's environment already carries it
    # from the creating call (the conftest fixture also uses get_spark)
    env_pp = s.sparkContext.environment.get("PYTHONPATH", "") or s.conf.get(
        "spark.executorEnv.PYTHONPATH", ""
    )
    assert pkg_root in env_pp.split(os.pathsep), env_pp


def test_bench_artifact_name_is_scale_guarded():
    """VERDICT r11 #3: a /verify smoke run at sf0.001 must not
    overwrite the committed sf0.1 headline artifact."""
    import re

    with open(os.path.join(os.path.dirname(__file__), "..", "bench.py")) as f:
        src = f.read()
    assert 'if sf == 0.1 else f"BENCH_LOCAL_sf{sf}.json"' in src
    # exactly one unconditional BENCH_LOCAL.json writer would be a
    # regression; the only occurrences must be the guarded expression
    # and prose/comments
    writes = re.findall(r'open\([^)]*BENCH_LOCAL\.json[^)]*\)', src)
    assert not writes, writes


def test_mix_pack_mass_matches_allocation(spark, sf_smoke):
    """The composite invariant the packing entry exists to prove
    (VERDICT r11 #2): packed token mass per source equals the Hamilton
    allocation up to one boundary document per epoch, and the bins
    conserve the instance stream's mass exactly."""
    from csv_to_parquet_spark.operators.cache import (
        release_caches,
        scope_token,
    )
    from csv_to_parquet_spark.operators.dedup import (
        _mix_alloc_frame,
        _mix_base,
        _mix_cum_frame,
        _mix_instances_frame,
        _source_effective_frame,
        mix_pack_sequences,
    )

    tok = scope_token()
    try:
        base = _mix_base(spark, sf_smoke)
        alloc_df = _mix_alloc_frame(_source_effective_frame(base))
        alloc = {r.source: r.alloc_tokens for r in alloc_df.collect()}
        inst = _mix_instances_frame(alloc_df, _mix_cum_frame(base)).collect()
        bins = sorted(
            mix_pack_sequences(spark, sf_smoke).collect(),
            key=lambda r: r.bin_id,
        )
    finally:
        release_caches(tok)
    mass: dict = {}
    max_tok: dict = {}
    n_epochs: dict = {}
    for r in inst:
        mass[r.source] = mass.get(r.source, 0) + r.n_tokens
        max_tok[r.source] = max(max_tok.get(r.source, 0), r.n_tokens)
        n_epochs[r.source] = max(n_epochs.get(r.source, 0), r.epoch + 1)
    for src, a in alloc.items():
        if a == 0:
            assert src not in mass
            continue
        assert a <= mass[src], (src, a, mass[src])
        assert mass[src] < a + n_epochs[src] * max_tok[src], (
            src,
            a,
            mass[src],
        )
    total = sum(mass.values())
    ids = [b.bin_id for b in bins]
    # bin ids are unique, nonnegative, and the last bin holds the
    # stream's final token; a document LONGER than the bin budget
    # legitimately skips intermediate ids (it lands in the bin of its
    # last token), so contiguity is NOT asserted — only emitted bins
    # are (trivially) non-empty.
    from csv_to_parquet_spark.operators.dedup import _PACK_BIN

    assert len(set(ids)) == len(ids) and ids[0] >= 0
    assert ids[-1] == (total - 1) // _PACK_BIN
    assert sum(b.sum_tokens for b in bins) == total
    assert all(b.n_docs >= 1 and b.n_sources >= 1 for b in bins)


def test_mix_training_order_deterministic_bijection(spark, sf_smoke):
    """VERDICT r11 #4 Done-clause: the training order is a
    reproducible bijection over the epoched instance stream, epochs
    ascend along it (the curriculum), and epoch 0 is exactly the
    mix_select_documents selected set (composite reconciliation)."""
    from csv_to_parquet_spark.operators.dedup import (
        mix_select_documents,
        mix_training_order,
    )

    a = sorted(
        mix_training_order(spark, sf_smoke).collect(),
        key=lambda r: r.train_order,
    )
    b = sorted(
        mix_training_order(spark, sf_smoke).collect(),
        key=lambda r: r.train_order,
    )
    assert [
        (r.source, r.doc_id, r.epoch, r.shuffle_key, r.train_order)
        for r in a
    ] == [
        (r.source, r.doc_id, r.epoch, r.shuffle_key, r.train_order)
        for r in b
    ]
    assert [r.train_order for r in a] == list(range(1, len(a) + 1))
    # curriculum: epoch bands ascend with training position
    assert all(x.epoch <= y.epoch for x, y in zip(a, a[1:]))
    # within an epoch band the order follows the seeded hash
    for x, y in zip(a, a[1:]):
        if x.epoch == y.epoch:
            assert (x.shuffle_key, x.source, x.doc_id) < (
                y.shuffle_key,
                y.source,
                y.doc_id,
            )
    epoch0 = {(r.source, r.doc_id) for r in a if r.epoch == 0}
    selected = {
        (r.source, r.doc_id)
        for r in mix_select_documents(spark, sf_smoke).collect()
        if r.selected
    }
    assert epoch0 == selected and len(epoch0) > 0


def _ulm_reference(words, iters=2, k=48, maxp=4):
    """Independent pure-Python Viterbi-EM reimplementation (third
    engine beside Spark and the DuckDB oracle) — costs evaluated
    through DuckDB ln exactly like both engine twins."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()

    def costs_of(counts):
        tot = sum(counts.values())
        df = pd.DataFrame(
            [(p, c, tot) for p, c in counts.items()],
            columns=["piece", "occ", "tot"],
        )
        con.register("cdf", df)
        return {
            p: int(w)
            for p, w in con.execute(
                "SELECT piece, CAST(FLOOR(ln(tot / CAST(occ AS DOUBLE))"
                " * 1000000) AS BIGINT) FROM cdf"
            ).fetchall()
        }

    def viterbi(w, cost):
        dp = [0] + [None] * len(w)
        bk = [0] * (len(w) + 1)
        for i in range(1, len(w) + 1):
            best, b_l = None, 0
            for length in range(maxp, 0, -1):
                if length > i:
                    continue
                c = cost.get(w[i - length:i])
                if c is None:
                    continue
                cand = dp[i - length] + c
                if best is None or cand < best:
                    best, b_l = cand, length
            dp[i] = best
            bk[i] = b_l
        ps, pos = [], len(w)
        while pos > 0:
            ps.append(w[pos - bk[pos]:pos])
            pos -= bk[pos]
        return ps

    occ: dict = {}
    for w, f in words:
        for i in range(len(w)):
            for length in range(1, maxp + 1):
                if i + length <= len(w):
                    p = w[i:i + length]
                    occ[p] = occ.get(p, 0) + f
    chars = {p: c for p, c in occ.items() if len(p) == 1}
    multi = sorted(
        ((p, c) for p, c in occ.items() if len(p) >= 2),
        key=lambda x: (-x[1], x[0]),
    )[:k]
    vocab = dict(chars)
    vocab.update(dict(multi))
    cost = costs_of(vocab)
    counts: dict = {}
    for _ in range(iters):
        counts = {p: 0 for p in cost}
        for w, f in words:
            for p in viterbi(w, cost):
                counts[p] += f
        cost = costs_of({p: c + 1 for p, c in counts.items()})
    con.close()
    return counts, cost


def test_unigram_lm_matches_pure_python_em(spark, sf_smoke):
    """The learned model (vocab, Viterbi counts, final costs, prune
    flags) must equal an independent pure-Python EM run on the same
    histogram, and the corpus fertility it implies must reconcile."""
    import duckdb

    from csv_to_parquet_spark.operators.textops import tokenizer_unigram_lm

    rows = {
        r.piece: r for r in tokenizer_unigram_lm(spark, sf_smoke).collect()
    }
    words = duckdb.sql(
        f"""SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM (
              SELECT unnest(regexp_split_to_array(trim(lower(text)),
                                                  '\\s+')) AS w
              FROM read_parquet('{sf_smoke}/documents.parquet')
              WHERE len(trim(text)) > 0)
            WHERE len(w) BETWEEN 1 AND 12 GROUP BY w"""
    ).fetchall()
    counts, cost = _ulm_reference(words)
    assert set(rows) == set(counts)
    for p, r in rows.items():
        assert r.viterbi_count == counts[p], p
        assert r.cost_micro == cost[p], p
        assert r.kept == (len(p) == 1 or counts[p] > 0), p
    # fertility reconciliation: total pieces / total word occurrences
    tok_total = sum(f for _, f in words)
    piece_total = sum(r.viterbi_count for r in rows.values())
    assert piece_total == sum(counts.values())
    fertility_milli = piece_total * 1000 // tok_total
    assert 1000 <= fertility_milli <= 12000  # >= 1 piece, <= maxlen/word


def test_unigram_lm_em_iteration_refines(spark):
    """EM discrimination on a planted histogram where the SECOND
    iteration changes the model: after iter-1 counts re-price the
    pieces, 'cad' becomes cheaper than 'ca'+'d' and the trainer
    re-segments — iter-2 counts must differ from iter-1 and match the
    reference; the abandoned 'ca' is pruned (kept=False) while the
    now-unused single char 'd' stays for coverage."""
    from csv_to_parquet_spark.operators.textops import unigram_lm_model

    words = [
        ("dccddda", 36),
        ("cad", 2),
        ("dadc", 25),
        ("baa", 10),
        ("ccbcacb", 32),
    ]
    wdf = spark.createDataFrame(words, "w STRING, f BIGINT")
    model = {p: (c, cost, kept) for p, _, c, cost, kept in
             unigram_lm_model(wdf)}
    one_iter, _ = _ulm_reference(words, iters=1)
    two_iter, _ = _ulm_reference(words, iters=2)
    assert one_iter != two_iter  # the fixture exercises a real refit
    for p, (c, _, kept) in model.items():
        assert c == two_iter[p], p
    assert model["cad"][0] == 2 and model["cad"][2]
    assert model["ca"][0] == 0 and not model["ca"][2]  # pruned
    assert model["d"][0] == 0 and model["d"][2]  # char kept at 0


def test_unigram_fertility_reconciles_with_shipped_model(spark, sf_smoke):
    """The fertility report must equal a pure-Python application of
    the SHIPPED (kept-only) model to the (lang, word) histogram —
    trainer and report reconcile through the same reference EM."""
    import duckdb

    from csv_to_parquet_spark.operators.textops import (
        tokenizer_unigram_fertility,
    )

    got = {
        r.lang: r
        for r in tokenizer_unigram_fertility(spark, sf_smoke).collect()
    }
    words = duckdb.sql(
        f"""SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM (
              SELECT unnest(regexp_split_to_array(trim(lower(text)),
                                                  '\\s+')) AS w
              FROM read_parquet('{sf_smoke}/documents.parquet')
              WHERE len(trim(text)) > 0)
            WHERE len(w) BETWEEN 1 AND 12 GROUP BY w"""
    ).fetchall()
    counts, cost = _ulm_reference(words)
    kept_cost = {
        p: c for p, c in cost.items() if len(p) == 1 or counts[p] > 0
    }

    def n_seg(w):
        dp = [0] + [None] * len(w)
        bk = [0] * (len(w) + 1)
        for i in range(1, len(w) + 1):
            best, b_l = None, 0
            for length in (4, 3, 2, 1):
                if length > i:
                    continue
                c = kept_cost.get(w[i - length:i])
                if c is None:
                    continue
                cand = dp[i - length] + c
                if best is None or cand < best:
                    best, b_l = cand, length
            dp[i] = best
            bk[i] = b_l
        n, pos = 0, len(w)
        while pos > 0:
            n += 1
            pos -= bk[pos]
        return n

    lw = duckdb.sql(
        f"""SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS f FROM (
              SELECT lang, unnest(regexp_split_to_array(trim(lower(text)),
                                                        '\\s+')) AS w
              FROM read_parquet('{sf_smoke}/documents.parquet')
              WHERE len(trim(text)) > 0)
            WHERE len(w) BETWEEN 1 AND 12 GROUP BY 1, 2"""
    ).fetchall()
    ref: dict = {}
    for lang, w, f in lw:
        nw, np_, nc = ref.get(lang, (0, 0, 0))
        ref[lang] = (nw + f, np_ + f * n_seg(w), nc + f * len(w))
    assert set(got) == set(ref)
    for lang, (nw, np_, nc) in ref.items():
        r = got[lang]
        assert (r.n_words, r.n_pieces, r.n_chars) == (nw, np_, nc), lang
        assert r.fertility_milli == np_ * 1000 // nw
        assert r.chars_per_piece_milli == nc * 1000 // np_
        assert 1000 <= r.fertility_milli <= 12000
        assert r.chars_per_piece_milli >= 1000


def test_stupid_backoff_levels_partition_and_train_docs_hit(spark, sf_smoke):
    """Stupid-backoff invariants: level hit counts partition the
    trigram count per doc; training-slice docs (their trigrams ARE the
    model) score entirely at the trigram level; held-out docs exercise
    the backoff levels; per_trigram_micro is the floored mean."""
    from csv_to_parquet_spark.operators.textops import (
        _CCNET_TRAIN_MOD,
        text_stupid_backoff_lm,
    )

    rows = text_stupid_backoff_lm(spark, sf_smoke).collect()
    assert rows
    held_backoffs = 0
    for r in rows:
        assert r.n_tri_hit + r.n_bi_hit + r.n_uni_backoff == r.n_trigrams
        assert r.per_trigram_micro == r.neg_logprob_micro // r.n_trigrams
        # >= 0, not > 0: a doc whose every trigram has a singleton
        # training context scores exactly ln(1) = 0 at level 3
        assert r.neg_logprob_micro >= 0
        if r.doc_id % _CCNET_TRAIN_MOD == 0:
            assert r.n_tri_hit == r.n_trigrams, r.doc_id
        else:
            held_backoffs += r.n_bi_hit + r.n_uni_backoff
    # the held-out slice must genuinely exercise backoff
    assert held_backoffs > 0


def test_unigram_viterbi_fold_matches_reference_on_random_words(spark):
    """Adversarial cross-check of the codegen DP fold against the
    pure-Python reference on two seeded batches of random words —
    repeated chars (tie storms), length-1 and length-12 extremes,
    costs with deliberate equal-sum collisions. Pins the fold's
    clamped element_at indexing and the longest-piece tie rule."""
    import random

    from pyspark.sql import functions as F

    from csv_to_parquet_spark.operators.textops import (
        _ulm_viterbi_pieces,
    )

    alphabet = "abc"
    # two seeded batches of words over a 3-char alphabet (tie storms),
    # each with its own cost table: all chars + random multi pieces,
    # some with EQUAL costs so tie-breaking is actually exercised
    rng = random.Random(1234)
    words = sorted(
        {
            "".join(
                rng.choice(alphabet)
                for _ in range(rng.randint(1, 12))
            )
            for _ in range(200)
        }
    )
    cost = {c: 1000 for c in alphabet}
    pieces = set()
    for _ in range(60):
        plen = rng.randint(2, 4)
        pieces.add(
            "".join(rng.choice(alphabet) for _ in range(plen))
        )
    for p in sorted(pieces):
        cost[p] = rng.choice([900, 1500, 2000, len(p) * 1000])
    cases = [(words, cost)]

    rng = random.Random(4321)
    words = sorted(
        {
            "".join(
                rng.choice(alphabet) for _ in range(rng.randint(1, 12))
            )
            for _ in range(300)
        }
    )
    cost = {c: 1000 for c in alphabet}
    for _ in range(70):
        p = "".join(
            rng.choice(alphabet) for _ in range(rng.randint(2, 4))
        )
        cost[p] = rng.choice([900, 1500, 2000, len(p) * 1000])
    cases.append((words, cost))

    def ref_seg(w, cost):
        dp = [0] + [None] * len(w)
        bk = [0] * (len(w) + 1)
        for i in range(1, len(w) + 1):
            best, b_l = None, 0
            for length in (4, 3, 2, 1):
                if length > i:
                    continue
                c = cost.get(w[i - length:i])
                if c is None:
                    continue
                cand = dp[i - length] + c
                if best is None or cand < best:
                    best, b_l = cand, length
            dp[i] = best
            bk[i] = b_l
        ps, pos = [], len(w)
        while pos > 0:
            ps.append(w[pos - bk[pos]:pos])
            pos -= bk[pos]
        return list(reversed(ps))

    for words, cost in cases:
        wdf = spark.createDataFrame([(w,) for w in words], "w STRING")
        got = {
            r.w: list(r.ps)
            for r in wdf.select(
                "w", _ulm_viterbi_pieces(F.col("w"), cost).alias("ps")
            ).collect()
        }
        for w in words:
            want = ref_seg(w, cost)
            assert got[w] == want, (w, got[w], want)
            assert "".join(got[w]) == w


def test_workers_import_package_under_session_reuse(tmp_path):
    """r12 review: when getOrCreate attaches to a PRE-EXISTING session
    (confs ignored), get_spark must still deliver the repo root to
    Python workers — via the live SparkContext.environment patch —
    or every Arrow-UDF stage dies with ModuleNotFoundError."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = f"""
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
pre = (SparkSession.builder.master("local[2]")
       .config("spark.ui.enabled", "false").getOrCreate())
pre.sparkContext.setLogLevel("ERROR")
from csv_to_parquet_spark.session import get_spark
spark = get_spark(app_name="reusecheck")
import pandas as pd
from pyspark.sql.functions import pandas_udf

@pandas_udf("bigint")
def triple(x: pd.Series) -> pd.Series:
    import csv_to_parquet_spark  # must resolve in the WORKER
    return x * 3

df = spark.range(10).select(triple("id").alias("y"))
print("SUM", sum(r.y for r in df.collect()))
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "SUM 135" in out.stdout, out.stderr[-2000:]


def test_mix_pipeline_computes_each_core_once(spark, sf_smoke, monkeypatch):
    """The point of the pipeline: the corpus-scale cores run ONCE for
    all five outputs (standalone, the fingerprint DISTINCT alone runs
    four times across the chain's entries)."""
    from csv_to_parquet_spark.operators import dedup as d
    from csv_to_parquet_spark.operators.cache import (
        release_caches,
        scope_token,
    )

    calls = {"eff": 0, "cum": 0, "inst": 0}
    orig_eff, orig_cum = d._source_effective_frame, d._mix_cum_frame
    orig_inst = d._mix_instances_frame

    def count(key, orig):
        def wrapped(*a, **k):
            calls[key] += 1
            return orig(*a, **k)

        return wrapped

    monkeypatch.setattr(
        d, "_source_effective_frame", count("eff", orig_eff)
    )
    monkeypatch.setattr(d, "_mix_cum_frame", count("cum", orig_cum))
    monkeypatch.setattr(
        d, "_mix_instances_frame", count("inst", orig_inst)
    )
    tok = scope_token()
    try:
        out = d.mix_pipeline(spark, sf_smoke)
        # materialize everything — lazily-built plans must not trigger
        # further core builds either
        for df in out.values():
            df.collect()
    finally:
        release_caches(tok)
    assert calls == {"eff": 1, "cum": 1, "inst": 1}, calls


def test_unigram_pipeline_trains_once(spark, sf_smoke, monkeypatch):
    """unigram_pipeline invokes the Viterbi-EM trainer exactly ONCE for
    both outputs, however many of them are collected."""
    from csv_to_parquet_spark.operators import textops as t
    from csv_to_parquet_spark.operators.cache import (
        release_caches,
        scope_token,
    )

    calls = {"train": 0}
    orig = t.unigram_lm_model

    def counting(words, **kwargs):
        calls["train"] += 1
        return orig(words, **kwargs)

    monkeypatch.setattr(t, "unigram_lm_model", counting)
    tok = scope_token()
    try:
        out = t.unigram_pipeline(spark, sf_smoke)
        assert out["model"].collect() and out["fertility"].collect()
    finally:
        release_caches(tok)
    assert calls["train"] == 1, calls


def test_every_entry_takes_spark_and_sf_dir_only():
    """One code path per entry: no catalog entry takes an optional
    frame or model that a caller could thread in instead."""
    import inspect

    import __spark_entry__ as entry_mod

    extra = {"dedup_connected_components": ["reliable_checkpoint"]}
    for name, fn in entry_mod.queries().items():
        params = list(inspect.signature(fn).parameters)
        assert params == ["spark", "sf_dir"] + extra.get(name, []), (
            name,
            params,
        )


#: Jobs one warm call of each chain entry runs at the smoke scale: the
#: entry selects its output from the shared pipeline, so it pays only
#: that output's subgraph.
_CHAIN_JOB_CEILINGS = {
    "mix_source_weights": 20,
    "mix_token_allocation": 35,
    "mix_select_documents": 35,
    "mix_pack_sequences": 45,
    "mix_training_order": 46,
    "tokenizer_unigram_lm": 12,
    "tokenizer_unigram_fertility": 16,
}


@pytest.mark.parametrize("name", sorted(_CHAIN_JOB_CEILINGS))
def test_chain_entry_job_ceiling(spark, sf_smoke, name):
    import __spark_entry__ as entry_mod
    from csv_to_parquet_spark.operators.cache import (
        release_caches,
        scope_token,
    )

    fn = entry_mod.queries()[name]
    sc = spark.sparkContext
    tok = scope_token()
    try:
        fn(spark, sf_smoke).collect()  # warm the schema memo
    finally:
        release_caches(tok)
    group = f"chain-{name}-{os.getpid()}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        fn(spark, sf_smoke).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        release_caches(tok)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= _CHAIN_JOB_CEILINGS[name], len(jobs)
