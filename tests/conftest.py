from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pimdb_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    spark = get_spark("pimdb-spark-tests", extra_conf={"spark.sql.shuffle.partitions": "4"})
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def imdb_fixture_dir(tmp_path_factory) -> str:
    from tests.fixtures_imdb import write_fixtures

    return write_fixtures(str(tmp_path_factory.mktemp("imdb_tsv")))


@pytest.fixture(scope="session")
def built_db(spark, imdb_fixture_dir, tmp_path_factory):
    """Transfer + build once for the whole session."""
    from pimdb_spark.ingest import transfer
    from pimdb_spark.plans.build import NormalizedBuild
    from pimdb_spark.plans.store import ParquetDatabase

    db_dir = str(tmp_path_factory.mktemp("imdb_db"))
    db = ParquetDatabase(spark, db_dir)
    transfer(spark, imdb_fixture_dir, db)
    NormalizedBuild(db).run()
    return db


@pytest.fixture(scope="session")
def examples_db(spark, tmp_path_factory):
    """Transfer + build of the fixture plus EXAMPLE_EXTRA_ROWS, the entities
    the docs/examples queries look for; once for the whole session."""
    from pimdb_spark.ingest import transfer
    from pimdb_spark.plans.build import NormalizedBuild
    from pimdb_spark.plans.store import ParquetDatabase
    from tests.fixtures_imdb import EXAMPLE_EXTRA_ROWS, write_fixtures

    fixture_dir = write_fixtures(
        str(tmp_path_factory.mktemp("imdb_examples_tsv")), extra_rows=EXAMPLE_EXTRA_ROWS
    )
    db = ParquetDatabase(spark, str(tmp_path_factory.mktemp("imdb_examples_db")))
    transfer(spark, fixture_dir, db)
    NormalizedBuild(db).run()
    return db
