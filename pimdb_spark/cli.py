"""CLI mirroring the reference's four verbs (pimdb/command.py:29-35):

  python -m pimdb_spark download all --out data/
  python -m pimdb_spark transfer --dataset-folder data/ --database db/
  python -m pimdb_spark build --database db/
  python -m pimdb_spark query "select count(1) from TitleBasics" --database db/
"""

from __future__ import annotations

import argparse
import sys

from pimdb_spark.schemas import IMDB_DATASET_NAMES
from pimdb_spark.session import get_spark


def _dataset_args(names: list[str]) -> list[str]:
    if "all" in names:
        return list(IMDB_DATASET_NAMES)
    unknown = sorted(set(names) - set(IMDB_DATASET_NAMES))
    if unknown:
        raise SystemExit(
            f"error: unknown dataset(s) {', '.join(unknown)}; "
            f"choose from: all, {', '.join(IMDB_DATASET_NAMES)}"
        )
    return sorted(set(names))


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="pimdb_spark")
    sub = parser.add_subparsers(dest="command", required=True)

    p_dl = sub.add_parser("download", help="download IMDb datasets")
    p_dl.add_argument("names", nargs="+", help="dataset names or 'all'")
    p_dl.add_argument("--out", default=".", help="target folder")
    p_dl.add_argument("--force", action="store_true")

    p_tr = sub.add_parser("transfer", help="TSV datasets -> dataset tables")
    p_tr.add_argument("names", nargs="*", default=["all"])
    p_tr.add_argument("--dataset-folder", default=".")
    p_tr.add_argument("--database", required=True)

    p_b = sub.add_parser("build", help="dataset tables -> normalized tables")
    p_b.add_argument("--database", required=True)

    p_q = sub.add_parser("query", help="run SQL, print TSV")
    p_q.add_argument("sql", nargs="?")
    p_q.add_argument("--file", help="read SQL from file")
    p_q.add_argument("--database", required=True)

    args = parser.parse_args(argv)

    if args.command == "download":
        from pimdb_spark.sources.download import download_dataset

        for name in _dataset_args(args.names):
            path = download_dataset(name, args.out, only_if_newer=not args.force)
            print(path)
        return 0

    spark = get_spark("pimdb_spark-cli")
    spark.sparkContext.setLogLevel("ERROR")
    from pimdb_spark.plans.store import ParquetDatabase

    db = ParquetDatabase(spark, args.database)

    if args.command == "transfer":
        from pimdb_spark.ingest import transfer

        transfer(spark, args.dataset_folder, db, _dataset_args(args.names or ["all"]))
        return 0
    if args.command == "build":
        from pimdb_spark.plans.build import NormalizedBuild

        NormalizedBuild(db).run()
        return 0
    if args.command == "query":
        from pimdb_spark.sources.tsv import print_tsv

        sql = args.sql
        if args.file:
            with open(args.file) as f:
                sql = f.read()
        if not sql:
            print("error: provide SQL text or --file", file=sys.stderr)
            return 2
        # pimdb's SQLite and PostgreSQL dialects read "x" as an identifier
        key = "spark.sql.ansi.doubleQuotedIdentifiers"
        prev = spark.conf.get(key)
        spark.conf.set(key, "true")
        try:
            print_tsv(db.sql(sql))
        finally:
            spark.conf.set(key, prev)
        return 0
    return 2


if __name__ == "__main__":
    raise SystemExit(main())
