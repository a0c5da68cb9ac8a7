#!/usr/bin/env python
"""Dump .explain('formatted') for one optimization round's targets to
plans/r<N>/<query>_<tag>.txt. Usage:

    python scripts/dump_round_plans.py --round 13 before query1 query2 ...
    python scripts/dump_round_plans.py --round 13 after  query1 query2 ...

The tables come from ``--sf-dir`` (default: $SPARK_GRAFT_SF_DIR).
"""

from __future__ import annotations

import argparse
import os
import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--round", type=int, required=True, help="round number N")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    p.add_argument(
        "--sf-dir", default=sf_dir, required=sf_dir is None,
        help="scale-factor directory of the parquet tables",
    )
    p.add_argument("tag", help="file-name suffix, e.g. before or after")
    p.add_argument("queries", nargs="+", help="catalog query names")
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)

    import __spark_entry__ as entry_mod
    from csv_to_parquet_spark.operators.cache import release_caches
    from csv_to_parquet_spark.session import get_spark

    spark = get_spark(app_name=f"dump_r{args.round}_plans")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()
    out_dir = Path(_REPO) / "plans" / f"r{args.round}"
    out_dir.mkdir(parents=True, exist_ok=True)
    for name in args.queries:
        df = queries[name](spark, args.sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        (out_dir / f"{name}_{args.tag}.txt").write_text(plan)
        release_caches()
        print(f"wrote {out_dir.name}/{name}_{args.tag}.txt ({len(plan)} bytes)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
