"""Benchmark of the CSV-to-Parquet engine and its query catalog.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One run generates its inputs from the seed, sets a Spark session up
(counted from process start, so the imports and the JVM launch count),
runs the measured cold pass, then warm passes while fewer than
``--seconds`` have gone by since the cold pass began, checks every
output, and prints one JSON line last. With ``--trace 0`` it carries
the end-to-end metrics that ``BENCHMARK.json`` declares; with
``--trace 1`` the per-layer ones. Everything a run writes stays under
``.perfbench_work/`` in the checkout. See ``DESIGN.md`` for why each
workload and metric exists.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from contextlib import nullcontext  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def parse_args(argv):
    import workloads as wl

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=wl.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def declared_metrics(trace: bool) -> dict[str, str]:
    """{name: unit} of the metrics BENCHMARK.json asks this run for."""
    import spans as tr

    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    wanted = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    bad = [n for n in wanted if not tr.valid_metric_name(n)]
    if bad:
        raise ValueError(f"invalid metric names in BENCHMARK.json: {bad}")
    return wanted


def main(argv=None) -> int:
    sys.path.insert(0, str(HERE))
    args = parse_args(argv)
    if not (ROOT / "csv_to_parquet_spark" / "__init__.py").is_file():
        print("error: csv_to_parquet_spark is not in this checkout", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    base = ROOT / ".perfbench_work"
    work = base / f"{args.workload}-s{args.seed}-p{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # keep every temporary file of Python, Spark and the JVM in the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    sys.path.insert(0, str(ROOT))
    try:
        return run(args, str(work), str(tmp), base, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, tmp: str, base: Path, cores: int) -> int:
    import spans as tr
    import workloads as wl

    wanted = declared_metrics(bool(args.trace))
    w = wl.make(args.workload, work, args.seed)
    t, cpu = time.perf_counter(), os.times()
    w.generate()
    gen_s = time.perf_counter() - t
    gen_cpu_s = sum(os.times()[:2]) - sum(cpu[:2])

    from pyspark import SparkContext

    from csv_to_parquet_spark.session import get_spark

    # the engine's own heap default; only the JVM's temporary files move
    jvm_conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}
    tracer = tr.Tracer() if args.trace else None
    spark = None
    try:
        t = time.perf_counter()
        with tracer.span("session.start", "setup") if tracer else nullcontext():
            spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=jvm_conf)
        start_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        w.warm_up(spark)
        # from process start to the end of the warm-up scan, input
        # generation excluded: CPU seconds without JIT compilation, as
        # for the pass (see DESIGN.md), and wall seconds
        ready = tr.cpu_snapshot()
        setup_s = ready.tree - sum(ready.jit.values()) - gen_cpu_s
        setup_wall_s = time.perf_counter() - T_START - gen_s

        # the measured pass: the first after set-up, what every CLI run pays
        t_cold = time.perf_counter()
        cold = w.run_pass(spark, tracer)
        # warm passes only for a window longer than the cold pass
        warm: list[wl.PassRecord] = []
        while time.perf_counter() - t_cold < args.seconds:
            warm.append(w.run_pass(spark, tracer))
        peak_rss = tr.jvm_peak_rss_mb(spark)
    finally:
        if spark is not None:
            spark.stop()
        # the JVM exits when its stdin closes; wait so no process outlives the run
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            if gateway.proc is not None:
                gateway.proc.stdin.close()
                gateway.proc.wait(timeout=60)

    passes = [cold] + warm
    attempted = sum(len(p.ops) for p in passes)
    failed = sum(op.failed for p in passes for op in p.ops)
    op_s = [op.seconds for op in cold.ops]
    e2e = {
        "setup_s": setup_s,
        "setup_wall_s": setup_wall_s,
        "cold_pass_cpu_s": cold.cpu_seconds,
        "cold_pass_s": cold.seconds,
        "cold_pass_jit_s": cold.jit_seconds,
        "peak_rss_mb": peak_rss,
        "op_s_p50": tr.median(op_s),
    }
    if warm:
        e2e["pass_s"] = tr.median([p.seconds for p in warm])
        e2e["pass_cpu_s"] = tr.median([p.cpu_seconds for p in warm])
    print(f"workload {args.workload} seed {args.seed}: inputs {w.input_bytes / 2**20:.2f} MB"
          f" generated in {gen_s:.2f} s; session start {start_s:.3f} s;"
          f" warm passes {len(warm)}, operations in the cold pass {len(op_s)}")
    for what, key in (
        ("seconds", "seconds"),
        ("CPU seconds without JIT", "cpu_seconds"),
        ("JIT seconds", "jit_seconds"),
    ):
        print(f"pass {what} (cold, warm): " + ", ".join(f"{getattr(p, key):.2f}" for p in passes))
    print(f"failed_ratio {failed / attempted:.4f} ({failed} of {attempted})")
    for name, value in e2e.items():
        print(f"{name} {value:.4f} {'MB' if name.endswith('_mb') else 's'}")
    if w.input_bytes:
        print(f"convert_mb_per_s {w.input_bytes / 2**20 / cold.seconds:.4f} MB/s")
    # the highest percentile with ten samples beyond it, under the
    # workload's own name for an operation (file_s_p75, query_s_p50, ...)
    tail = tr.tail_percentile(op_s)
    if tail:
        print(f"{w.op_kind}_s_p50 {e2e['op_s_p50']:.4f} s (n={len(op_s)})")
        if tail[0] > 50:
            print(f"{w.op_kind}_s_p{tail[0]} {tail[1]:.4f} s (n={len(op_s)})")

    metrics = e2e
    if args.trace:
        metrics = trace_metrics(tracer, start_s, passes, cores, base, args)
    missing = set(wanted) - set(metrics)
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in wanted.items()},
    }))
    return 0


def trace_metrics(tracer, start_s: float, passes, cores, base: Path, args) -> dict[str, float]:
    """Per-layer metrics: the cold pass's totals, as for the end-to-end
    metrics. Also writes every pass's spans and per-operation counters
    to ``.perfbench_work/trace-<workload>-s<seed>.json``. The tracing
    overhead is the ``cold_pass_s`` and ``cold_pass_cpu_s`` this run
    prints minus those of an untraced run with the same seed."""
    import workloads as wl

    for p in passes:
        wl.sum_pass_layers(p, cores)
    out = dict(passes[0].layers)
    out["session.start_s"] = start_s
    for k, v in out.items():
        print(f"{k} {v:.6g}")
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "passes": [
            {
                "traced": p.traced,
                "seconds": p.seconds,
                "layers": p.layers,
                "ops": {op.name: {"seconds": op.seconds, **op.layers} for op in p.ops},
            }
            for p in passes
        ],
        "spans": tracer.as_dicts(),
    }
    with open(base / f"trace-{args.workload}-s{args.seed}.json", "w") as f:
        json.dump(record, f)
    return out


if __name__ == "__main__":
    sys.exit(main())
