"""The workloads. Each is a closed loop with one client: the next
operation starts only after the previous one returned, and the only
concurrency is the engine's own (the 4-file pool inside
``convert_all``).

A workload generates its inputs from the seed, warms the session up,
and runs passes. ``run_pass`` returns a :class:`PassRecord`; when a
:class:`~spans.Tracer` is given it also fills per-operation layer
counters. Correctness checks run outside the timed regions.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import gen
import spans as tr

#: Source tables of the many-small-files drop.
SMALL_SOURCES = (
    "orders",
    "customer",
    "part",
    "supplier",
    "events",
    "documents",
    "nation",
    "region",
)

LAYER_KEYS = (
    "convert.inference_s",
    "convert.inference_jobs",
    "convert.write_s",
    "convert.write_tasks",
    "convert.write_cpu_ms",
    "convert.bytes_out_per_byte_in",
    "convert.commit_s",
    "convert.queue_wait_s",
    "operators.build_s",
    "operators.build_jobs",
    "plans.plan_s",
    "plans.exchanges",
    "plans.python_evals",
    "scheduler.jobs",
    "scheduler.stages",
    "scheduler.tasks",
    "scheduler.idle_share",
    "executor.run_ms",
    "executor.cpu_ms",
    "executor.gc_ms",
    "shuffle.read_bytes",
    "shuffle.write_bytes",
    "shuffle.spill_bytes",
    "cache.frames",
    "cache.bytes",
)


@dataclass
class OpRecord:
    name: str
    seconds: float
    queue_s: float = 0.0
    failed: bool = False
    out_bytes: int = 0
    layers: dict[str, float] = field(default_factory=dict)


@dataclass
class PassRecord:
    seconds: float
    ops: list[OpRecord]
    traced: bool = False
    input_bytes: int = 0
    #: CPU seconds of the benchmark process tree over the timed region,
    #: JIT compilation excluded, and the JIT compilation seconds
    cpu_seconds: float = 0.0
    jit_seconds: float = 0.0
    layers: dict[str, float] = field(default_factory=dict)


def add_counters(layers: dict[str, float], c: dict[str, float]) -> None:
    for src, dst in (
        ("jobs", "scheduler.jobs"),
        ("stages", "scheduler.stages"),
        ("tasks", "scheduler.tasks"),
        ("run_ms", "executor.run_ms"),
        ("cpu_ms", "executor.cpu_ms"),
        ("gc_ms", "executor.gc_ms"),
        ("shuffle_read", "shuffle.read_bytes"),
        ("shuffle_write", "shuffle.write_bytes"),
        ("spill", "shuffle.spill_bytes"),
    ):
        layers[dst] = layers.get(dst, 0.0) + c[src]


def sum_pass_layers(rec: PassRecord, cores: int) -> None:
    """Per-pass layer totals: op counters summed, ratios recomputed."""
    totals = dict.fromkeys(LAYER_KEYS, 0.0)
    for op in rec.ops:
        for k, v in op.layers.items():
            totals[k] += v
    totals["scheduler.idle_share"] = tr.idle_share(
        totals["executor.run_ms"], rec.seconds, cores
    )
    if rec.input_bytes:
        totals["convert.bytes_out_per_byte_in"] = (
            sum(op.out_bytes for op in rec.ops) / rec.input_bytes
        )
    rec.layers = totals


class Workload:
    name = ""
    #: what one operation is, for the printed latency names
    op_kind = "op"

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.rng = np.random.default_rng([seed, 1])
        self.data = os.path.join(work, "data")
        self.input_bytes = 0
        self.pass_no = 0

    def group(self, op: str, phase: str) -> str:
        """Job-group id of one phase of one operation in the current
        pass. The status tracker keeps every job a group id ever ran,
        so the id names the pass too."""
        return f"{self.pass_no}|{op}|{phase}"

    def generate(self) -> None:
        raise NotImplementedError

    def warm_up(self, spark) -> None:
        """The set-up scan: one full read of a generated parquet table."""
        spark.read.parquet(os.path.join(self.data, self.scan_table)).count()

    def run_pass(self, spark, tracer: tr.Tracer | None) -> PassRecord:
        raise NotImplementedError


# --------------------------------------------------------------------------
# conversion


class ConvertWorkload(Workload):
    """``convert_all`` over a directory of CSVs with the CLI defaults
    (``single_file=True``, ``sample_rows=100``), sources kept."""

    scan_table = "orders.parquet"
    op_kind = "file"

    def __init__(self, work: str, seed: int, sf: float, n_files: int, sources):
        super().__init__(work, seed)
        self.sf, self.n_files, self.sources = sf, n_files, sources
        self.csv_dir = os.path.join(work, "csv")
        self.out_dir = os.path.join(work, "out")
        self.expected: dict[str, dict] = {}

    def generate(self) -> None:
        names = sorted(set(self.sources) | {"orders"})
        tables = gen.make_tables(self.seed, self.sf, int(50_000 * self.sf), names)
        gen.write_parquet({"orders": tables["orders"]}, self.data)
        picked = {t: tables[t] for t in self.sources}
        self.expected = gen.split_csvs(self.rng, picked, self.n_files, self.csv_dir)
        self.input_bytes = sum(os.path.getsize(p) for p in self.expected)

    def run_pass(self, spark, tracer: tr.Tracer | None) -> PassRecord:
        from csv_to_parquet_spark.convert import converter as conv

        self.pass_no += 1
        sc = spark.sparkContext
        records: dict[str, OpRecord] = {}
        current = threading.local()
        originals = {
            n: getattr(conv, n)
            for n in ("convert_file", "infer_file_schema", "read_csv_typed", "_single_file_output")
        }

        def convert_file(spark_, path, *a, **kw):
            start = time.perf_counter()
            if tracer is None:
                res = originals["convert_file"](spark_, path, *a, **kw)
            else:
                current.op, current.layers = path, {}
                tr.set_group(sc, self.group(path, "write"))
                try:
                    with tracer.span("convert.file", path, parent=pass_span.id) as sp:
                        res = originals["convert_file"](spark_, path, *a, **kw)
                finally:
                    tr.set_group(sc, None)
                current.layers["convert.write_s"] = tracer.self_seconds(sp)
            rec = OpRecord(path, time.perf_counter() - start, start - t0)
            rec.failed, rec.out_bytes = not res.ok, res.output_bytes
            if tracer is not None:
                rec.layers = current.layers
            records[path] = rec
            return res

        def spanned(fn_name, span_name, layer):
            def wrapper(*a, **kw):
                with tracer.span(span_name, current.op) as sp:
                    out = originals[fn_name](*a, **kw)
                current.layers[layer] = current.layers.get(layer, 0.0) + sp.seconds
                return out

            return wrapper

        infer_spanned = spanned("infer_file_schema", "convert.inference", "convert.inference_s")
        build_spanned = spanned("read_csv_typed", "operators.build", "operators.build_s")

        def infer(*a, **kw):
            tr.set_group(sc, self.group(current.op, "infer"))
            try:
                return infer_spanned(*a, **kw)
            finally:
                tr.set_group(sc, self.group(current.op, "write"))

        def build(*a, **kw):
            df = build_spanned(*a, **kw)
            with tracer.span("plans.plan", current.op):
                plan_s, _, _ = tr.plan_counts(spark, df)
            current.layers["plans.plan_s"] = plan_s
            return df

        conv.convert_file = convert_file
        if tracer is not None:
            conv.infer_file_schema = infer
            conv.read_csv_typed = build
            conv._single_file_output = spanned("_single_file_output", "convert.commit", "convert.commit_s")
        try:
            with tracer.span("pass", self.name) if tracer else nullcontext() as pass_span:
                cpu0, t0 = tr.cpu_snapshot(), time.perf_counter()
                conv.convert_all(spark, self.csv_dir, self.out_dir, delete_original=False)
                wall = time.perf_counter() - t0
                cpu = tr.work_cpu_seconds(cpu0, tr.cpu_snapshot())
        finally:
            for n, fn in originals.items():
                setattr(conv, n, fn)
        ops = [records[p] for p in sorted(records)]
        if tracer is not None:
            for op in ops:
                infer_c = tr.group_counters(sc, self.group(op.name, "infer"))
                write_c = tr.group_counters(sc, self.group(op.name, "write"))
                op.layers["convert.inference_jobs"] = infer_c["jobs"]
                op.layers["convert.write_tasks"] = write_c["tasks"]
                op.layers["convert.write_cpu_ms"] = write_c["cpu_ms"]
                op.layers["convert.queue_wait_s"] = op.queue_s
                add_counters(op.layers, infer_c)
                add_counters(op.layers, write_c)
        # correctness (untimed): every file converted, footers agree
        for op in ops:
            op.failed = op.failed or not self._output_matches(op.name)
        missing = set(self.expected) - set(records)
        ops += [OpRecord(p, 0.0, failed=True) for p in sorted(missing)]
        return PassRecord(wall, ops, tracer is not None, self.input_bytes, *cpu)

    def _output_matches(self, csv_path: str) -> bool:
        """Footer row count and per-column non-NULL counts equal the
        source table's; a cast that silently NULLs a cell fails here."""
        from csv_to_parquet_spark.convert.converter import output_path_for

        want = self.expected[csv_path]
        try:
            md = pq.ParquetFile(output_path_for(csv_path, self.out_dir)).metadata
        except OSError:
            return False
        if md.num_rows != want["rows"]:
            return False
        names = [md.schema.column(j).name for j in range(md.num_columns)]
        nulls = dict.fromkeys(names, 0)
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            for j in range(rg.num_columns):
                st = rg.column(j).statistics
                if st is None or not st.has_null_count:
                    return False
                nulls[names[j]] += st.null_count
        got = [md.num_rows - nulls[n] for n in names]
        return got == list(want["non_null"].values())


# --------------------------------------------------------------------------
# catalog queries


class Tpch22(Workload):
    """The 22 TPC-H catalog queries over a generated star schema, in an
    order the seed reshuffles every pass. Each query's result is
    collected through Arrow; tracked caches are released after each.
    After every pass, outside the timed region, each result is
    compared with its DuckDB oracle."""

    name = "tpch22"
    op_kind = "query"
    scan_table = "lineitem.parquet"

    def __init__(self, work: str, seed: int, sf: float, n_docs: int):
        super().__init__(work, seed)
        self.sf, self.n_docs = sf, n_docs
        self._catalog = None
        self._duck = None
        self._oracle_frames: dict[str, object] = {}

    def generate(self) -> None:
        gen.write_parquet(gen.make_tables(self.seed, self.sf, self.n_docs), self.data)

    @property
    def catalog(self):
        if self._catalog is None:
            from csv_to_parquet_spark.catalog import build_catalog

            self._catalog = build_catalog()
        return self._catalog

    def queries(self) -> list[str]:
        """``q1_...`` to ``q22_...`` in query-number order."""
        num = {n: n.split("_")[0][1:] for n in self.catalog.queries if n.startswith("q")}
        return sorted((n for n, k in num.items() if k.isdigit()), key=lambda n: int(num[n]))

    def operations(self) -> list[str]:
        names = self.queries()
        return [names[i] for i in self.rng.permutation(len(names))]

    def build(self, spark, op: str):
        return self.catalog.queries[op](spark, self.data)

    def oracle_frame(self, name: str):
        if name not in self._oracle_frames:
            from csv_to_parquet_spark.oracle import duckdb_connection

            if self._duck is None:
                self._duck = duckdb_connection(self.data)
            self._oracle_frames[name] = self._duck.execute(self.catalog.oracle[name]).df()
        return self._oracle_frames[name]

    def run_pass(self, spark, tracer: tr.Tracer | None) -> PassRecord:
        from csv_to_parquet_spark.operators.cache import release_caches

        self.pass_no += 1
        ops: list[OpRecord] = []
        collected: list[tuple[OpRecord, object]] = []
        with tracer.span("pass", self.name) if tracer else nullcontext():
            cpu0, t0 = tr.cpu_snapshot(), time.perf_counter()
            for name in self.operations():
                start = time.perf_counter()
                rec = OpRecord(name, 0.0, start - t0)
                try:
                    if tracer is None:
                        collected.append((rec, self.build(spark, name).toPandas()))
                        release_caches()
                    else:
                        self._traced_op(spark, tracer, rec, collected)
                except Exception as e:  # one failed operation must not end the run
                    print(f"error: {self.name}/{name}: {type(e).__name__}: {e}", flush=True)
                    rec.failed = True
                    release_caches()
                rec.seconds = time.perf_counter() - start
                ops.append(rec)
            wall = time.perf_counter() - t0
            cpu = tr.work_cpu_seconds(cpu0, tr.cpu_snapshot())
        self.check(collected)
        return PassRecord(wall, ops, tracer is not None, self.input_bytes, *cpu)

    def check(self, collected) -> None:
        """Mark every query whose result differs from its oracle failed."""
        from csv_to_parquet_spark.oracle import compare_frames

        for rec, pdf in collected:
            if compare_frames(pdf, self.oracle_frame(rec.name)):
                print(f"mismatch: {self.name}/{rec.name}", flush=True)
                rec.failed = True

    def _traced_op(self, spark, tracer, rec, collected) -> None:
        from csv_to_parquet_spark.operators.cache import release_caches

        sc, L = spark.sparkContext, rec.layers
        build_group, exec_group = self.group(rec.name, "build"), self.group(rec.name, "exec")
        with tracer.span("op", rec.name):
            tr.set_group(sc, build_group)
            try:
                with tracer.span("operators.build", rec.name) as sp:
                    df = self.build(spark, rec.name)
            finally:
                tr.set_group(sc, None)
            L["operators.build_s"] = sp.seconds
            with tracer.span("plans.plan", rec.name):
                L["plans.plan_s"], L["plans.exchanges"], L["plans.python_evals"] = tr.plan_counts(
                    spark, df
                )
            tr.set_group(sc, exec_group)
            try:
                with tracer.span("execute", rec.name):
                    collected.append((rec, df.toPandas()))
            finally:
                tr.set_group(sc, None)
            L["cache.frames"], L["cache.bytes"] = tr.cache_state(sc)
            with tracer.span("cache.release", rec.name):
                release_caches()
        build_c = tr.group_counters(sc, build_group)
        L["operators.build_jobs"] = build_c["jobs"]
        add_counters(L, build_c)
        add_counters(L, tr.group_counters(sc, exec_group))


def make(name: str, work: str, seed: int) -> Workload:
    if name == "convert_many_small":
        w = ConvertWorkload(work, seed, sf=0.03, n_files=20, sources=SMALL_SOURCES)
    elif name == "tpch22":
        w = Tpch22(work, seed, sf=0.05, n_docs=500)
    else:
        raise ValueError(f"unknown workload {name!r}")
    w.name = name
    return w


WORKLOADS = ("convert_many_small", "tpch22")
