"""Time a SUBSET of the bench queries with bench.py's exact methodology
(same session config, and bench.py's own drain and timing loop: warm-up
pass, then min of 3 timed iterations with clearCache between) — the
optimization round's focused before/after instrument, so a change to one
query family can be re-measured without paying the full bench run.

Usage: SPARK_GRAFT_SF_DIR=... python scripts/bench_subset.py q_a q_b ...
Prints one JSON line {"queries": {name: sec}, "total": sec, "sf": ...}.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import time_queries  # noqa: E402
from pimdb_spark import entrypoints as _ep  # noqa: E402
from pimdb_spark.session import get_spark  # noqa: E402


def main() -> int:
    names = sys.argv[1:]
    if not names:
        print("usage: bench_subset.py q_name ...", file=sys.stderr)
        return 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = -1.0
    spark = get_spark("pimdb-spark-bench-subset")
    spark.sparkContext.setLogLevel("ERROR")
    bench = _ep.bench_queries()
    unknown = [n for n in names if n not in bench]
    if unknown:
        print(f"unknown bench queries: {unknown}", file=sys.stderr)
        return 2
    timings = time_queries(spark, {n: bench[n] for n in names}, sf_dir)
    print(json.dumps({"queries": timings, "total": round(sum(timings.values()), 3), "sf": sf}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
