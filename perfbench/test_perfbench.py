"""Self-tests of the benchmark's own arithmetic and correctness gates.

Run with ``python3 -m pytest perfbench -q``; no Spark session starts.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path
from types import SimpleNamespace

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import gen  # noqa: E402
import spans as tr  # noqa: E402
import workloads as wl  # noqa: E402


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tr.tail_percentile(list(range(1, 101))) == (90, 90)
    assert tr.tail_percentile(list(range(1, 100))) == (75, 75)
    assert tr.tail_percentile(list(range(1, 1001))) == (99, 990)
    assert tr.tail_percentile(list(range(1, 21))) == (50, 10)
    assert tr.tail_percentile(list(range(1, 20))) is None


def test_self_time_subtracts_the_union_of_children():
    t = tr.Tracer()
    parent = tr.Span(0, "pass", "p", 0.0, 10.0)
    kids = [
        tr.Span(1, "a", "p", 1.0, 4.0, parent=0),
        tr.Span(2, "b", "p", 3.0, 6.0, parent=0),  # overlaps a: concurrent
        tr.Span(3, "c", "p", 9.0, 12.0, parent=0),  # runs past the parent
        tr.Span(4, "d", "p", 2.0, 3.0, parent=1),  # grandchild: not subtracted
    ]
    t.spans = [parent, *kids]
    assert t.self_seconds(parent) == pytest.approx(10.0 - 5.0 - 1.0)
    assert t.self_seconds(kids[0]) == pytest.approx(2.0)


def test_span_parent_follows_the_calling_thread():
    t = tr.Tracer()
    with t.span("outer", "op") as outer:
        with t.span("inner", "op") as inner:
            pass
    assert inner.parent == outer.id and outer.parent is None
    assert outer.seconds >= inner.seconds >= 0


def test_idle_share():
    assert tr.idle_share(2000.0, 1.0, 4) == pytest.approx(0.5)
    assert tr.idle_share(0.0, 2.0, 4) == pytest.approx(1.0)


def test_cpu_snapshot_counts_a_live_child_process():
    import subprocess
    import time

    def descendants_cpu() -> float:  # the tree less this process's own share
        return tr.cpu_snapshot().tree - sum(os.times()[:4])

    busy = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3:\n    pass\ntime.sleep(60)"
    before = descendants_cpu()
    child = subprocess.Popen([sys.executable, "-c", busy])
    try:
        deadline = time.monotonic() + 20
        while descendants_cpu() - before < 0.25 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert descendants_cpu() - before >= 0.25
    finally:
        child.kill()
        child.wait()


def test_work_cpu_leaves_out_jit_threads():
    a = tr.CpuSnapshot(10.0, {101: 2.0, 102: 1.0})
    # 101 compiled 3 s more, 102 ended, 103 started and compiled 0.5 s
    b = tr.CpuSnapshot(20.0, {101: 5.0, 103: 0.5})
    assert tr.work_cpu_seconds(a, b) == pytest.approx((6.5, 3.5))


def test_metric_names_match_the_pattern():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    names = [m["name"] for key in ("end_to_end", "per_layer") for m in spec[key]]
    names += [w["name"] for w in spec["workloads"]]
    assert names and all(tr.valid_metric_name(n) for n in names)
    assert len(names) == len(set(names))
    for bad in ("", "a b", "rate/s", "x" * 65, "ms\n"):
        assert not tr.valid_metric_name(bad)


def test_declared_per_layer_metrics_are_measured():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    measured = set(wl.LAYER_KEYS) | {"session.start_s"}
    assert {m["name"] for m in spec["per_layer"]} <= measured


def test_planted_wrong_oracle_row_counts_a_failure(tmp_path):
    w = wl.make("tpch22", str(tmp_path), seed=0)
    oracle = pd.DataFrame({"k": [1, 2, 3], "v": [10.0, 20.0, 30.0]})
    w._oracle_frames["q0_planted"] = oracle
    good = wl.OpRecord("q0_planted", 0.1)
    bad = wl.OpRecord("q0_planted", 0.1)
    planted = oracle.copy()
    planted.loc[1, "v"] = 21.0
    w.check([(good, oracle.sample(frac=1, random_state=1)), (bad, planted)])
    assert not good.failed and bad.failed
    rec = wl.PassRecord(0.2, [good, bad])
    assert sum(op.failed for op in rec.ops) == 1


def test_conversion_gate_catches_a_silent_null(tmp_path):
    w = wl.make("convert_many_small", str(tmp_path), seed=0)
    src = pd.DataFrame({"id": [1, 2, 3], "amount": [1.5, 2.5, 3.5]})
    csv = str(tmp_path / "t.csv")
    w.expected = {csv: gen.write_csv(src, csv)}
    w.out_dir = str(tmp_path / "out")
    Path(w.out_dir).mkdir()
    out = str(Path(w.out_dir) / "t.parquet")
    pq.write_table(pa.Table.from_pandas(src, preserve_index=False), out)
    assert w._output_matches(csv)
    silent = src.astype({"amount": "float64"}).copy()
    silent.loc[2, "amount"] = None
    pq.write_table(pa.Table.from_pandas(silent, preserve_index=False), out)
    assert not w._output_matches(csv)


def test_inputs_repeat_for_a_seed_and_differ_across_seeds():
    a = gen.make_tables(7, 0.001, 50, names=("orders", "documents"))
    b = gen.make_tables(7, 0.001, 50, names=("documents", "orders"))
    c = gen.make_tables(8, 0.001, 50, names=("orders",))
    pd.testing.assert_frame_equal(a["orders"], b["orders"])
    pd.testing.assert_frame_equal(a["documents"], b["documents"])
    assert not a["orders"].equals(c["orders"])


def test_small_file_split_keeps_every_row(tmp_path):
    import numpy as np

    tables = gen.make_tables(3, 0.001, 50, names=("orders", "nation", "documents"))
    checks = gen.split_csvs(np.random.default_rng(3), tables, 12, str(tmp_path))
    per_table: dict[str, int] = {}
    for path, check in checks.items():
        table = Path(path).name.rsplit("_", 1)[0]
        per_table[table] = per_table.get(table, 0) + check["rows"]
    assert per_table == {t: len(df) for t, df in tables.items()}
    assert 8 <= len(checks) <= 16


class FakeSparkContext:
    """The parts of a SparkContext the traced counters read. As in
    Spark, the status tracker keeps every job a group id ever ran."""

    def __init__(self):
        self.group = None
        self.job_groups: list[str | None] = []
        stage = SimpleNamespace(
            status=lambda: SimpleNamespace(toString=lambda: "COMPLETE"),
            numCompleteTasks=lambda: 2,
            executorRunTime=lambda: 10,
            executorCpuTime=lambda: 5e6,
            jvmGcTime=lambda: 1,
            shuffleReadBytes=lambda: 0,
            shuffleWriteBytes=lambda: 0,
            memoryBytesSpilled=lambda: 0,
            diskBytesSpilled=lambda: 0,
        )
        jsc = SimpleNamespace(
            listenerBus=lambda: SimpleNamespace(waitUntilEmpty=lambda: None),
            statusStore=lambda: SimpleNamespace(lastStageAttempt=lambda i: stage),
        )
        self._jsc = SimpleNamespace(sc=lambda: jsc)

    def setLocalProperty(self, key, value):
        self.group = value

    def run_job(self):
        self.job_groups.append(self.group)

    def statusTracker(self):
        return SimpleNamespace(
            getJobIdsForGroup=lambda g: [j for j, x in enumerate(self.job_groups) if x == g],
            getJobInfo=lambda j: SimpleNamespace(stageIds=[j]),
        )


def test_passes_do_not_share_counters(tmp_path, monkeypatch):
    sc = FakeSparkContext()
    spark = SimpleNamespace(sparkContext=sc)

    def build(spark_, op):  # one eager job while building, one to collect
        sc.run_job()
        return SimpleNamespace(toPandas=lambda: sc.run_job() or pd.DataFrame())

    w = wl.make("tpch22", str(tmp_path), seed=0)
    monkeypatch.setattr(w, "operations", lambda: ["q1_same_name"])
    monkeypatch.setattr(w, "build", build)
    monkeypatch.setattr(w, "check", lambda collected: None)
    monkeypatch.setattr(tr, "plan_counts", lambda spark_, df: (0.0, 0, 0))
    monkeypatch.setattr(tr, "cache_state", lambda sc_: (0, 0))
    tracer = tr.Tracer()
    passes = [w.run_pass(spark, tracer) for _ in range(3)]
    for p in passes:
        layers = p.ops[0].layers
        assert layers["operators.build_jobs"] == 1
        assert layers["scheduler.jobs"] == 2
        assert layers["scheduler.tasks"] == 4
        assert layers["executor.run_ms"] == 20
