"""Bench the flagship product path — transfer (gzipped TSV -> typed,
deduped dataset tables) + NormalizedBuild.run() (the 14-step DAG) — at two
scales, with per-step wall-clock.

This is the repo counterpart of the reference's only published numbers
(/root/reference/README.md:47,105: transfer ~11 h, build ~30 min on
SQLite/M1, full IMDb).  Results are recorded in SCALE.md's measured-scaling
table.

Usage: python scripts/bench_build.py [small_titles] [scale_mult]
  default: 20000 titles, then 10x that (200000) — ~0.13M and ~1.3M
  principal rows respectively.

Env: SPARK_GRAFT_CPUS (default 8).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pimdb_spark.ingest import transfer  # noqa: E402
from pimdb_spark.plans.build import NormalizedBuild  # noqa: E402
from pimdb_spark.plans.store import ParquetDatabase  # noqa: E402
from pimdb_spark.session import get_spark  # noqa: E402
from tests.fixtures_imdb import synth_imdb_tsv  # noqa: E402


def bench_scale(spark, n_titles: int, n_names: int) -> dict:
    work = tempfile.mkdtemp(prefix=f"bench_build_{n_titles}_")
    try:
        t0 = time.perf_counter()
        src = synth_imdb_tsv(os.path.join(work, "tsv"), n_titles, n_names)
        gen_s = time.perf_counter() - t0

        db = ParquetDatabase(spark, os.path.join(work, "db"))

        t0 = time.perf_counter()
        transfer(spark, src, db)
        transfer_s = time.perf_counter() - t0

        timings: dict[str, float] = {}
        t0 = time.perf_counter()
        NormalizedBuild(db).run(timings=timings)
        build_s = time.perf_counter() - t0

        n_principals = db.read("TitlePrincipals").count()
        n_part = db.read("participation").count()
        return {
            "n_titles": n_titles,
            "n_names": n_names,
            "n_principals": n_principals,
            "n_participation": n_part,
            "gen_sec": round(gen_s, 2),
            "transfer_sec": round(transfer_s, 2),
            "build_sec": round(build_s, 2),
            "build_steps": {k: round(v, 2) for k, v in timings.items()},
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    small = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    mult = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    spark = get_spark("pimdb-spark-bench-build")
    spark.sparkContext.setLogLevel("ERROR")

    out = []
    for n_titles in (small, small * mult):
        r = bench_scale(spark, n_titles, n_titles // 2)
        out.append(r)
        print(json.dumps(r))

    a, b = out
    print(
        json.dumps(
            {
                "metric": "flagship_build",
                "scale_mult": mult,
                "transfer_scaling": round(b["transfer_sec"] / a["transfer_sec"], 2),
                "build_scaling": round(b["build_sec"] / a["build_sec"], 2),
            }
        )
    )


if __name__ == "__main__":
    main()
