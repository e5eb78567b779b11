"""End-to-end regression over the documented example queries.

The reference ships four demo SQL files and a harness that runs each one
against a built database and asserts at least one row
(/root/reference/tests/test_examples.py:16-33, docs/examples/*.sql).  This
is the same contract: transfer + normalized build from an IMDb-shaped
fixture, then every docs/examples/*.sql runs VERBATIM through
ParquetDatabase.sql — double-quoted identifiers and all — and must return
its golden row-set, not just a non-empty one.

The fixture is the standard edge-case fixture augmented with the specific
entities the examples query (Wyrmwood tt2535470, Alan Smithee, a James
Bond character), so the demos exercise the same build path as everything
else (the session fixture ``examples_db`` in conftest.py).
"""

from __future__ import annotations

import os
from glob import glob

_EXAMPLES_FOLDER = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "docs", "examples"
)


def _run_example(db, name: str):
    """Run one docs/examples file verbatim (ANSI double-quoted identifiers,
    as the reference's RDBMS dialects parse them)."""
    spark = db.spark
    with open(os.path.join(_EXAMPLES_FOLDER, f"{name}.sql"), encoding="utf-8") as f:
        sql = f.read()
    prev = spark.conf.get("spark.sql.ansi.doubleQuotedIdentifiers")
    spark.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", "true")
    try:
        return db.sql(sql).collect()
    finally:
        spark.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", prev)


def test_every_example_returns_rows(examples_db):
    """The reference's own bar: every example file parses and yields >=1
    row (tests/test_examples.py:28-33 there)."""
    paths = sorted(glob(os.path.join(_EXAMPLES_FOLDER, "*.sql")))
    assert len(paths) == 4
    for path in paths:
        name = os.path.splitext(os.path.basename(path))[0]
        rows = _run_example(examples_db, name)
        assert rows, f"{name} returned no rows"


def test_genres_for_wyrmwood_golden(examples_db):
    rows = [tuple(r) for r in _run_example(examples_db, "genres_for_wyrmwood")]
    assert rows == [
        ("tt2535470", "Wyrmwood: Road of the Dead", "Action"),
        ("tt2535470", "Wyrmwood: Road of the Dead", "Comedy"),
        ("tt2535470", "Wyrmwood: Road of the Dead", "Horror"),
    ]


def test_titles_alan_smithee_is_known_for_golden(examples_db):
    rows = [tuple(r) for r in _run_example(examples_db, "titles_alan_smithee_is_known_for")]
    assert rows == [("An Alan Smithee Film", 1997)]


def test_titles_directed_by_alan_smithee_golden(examples_db):
    rows = [tuple(r) for r in _run_example(examples_db, "titles_directed_by_alan_smithee")]
    assert rows == [("An Alan Smithee Film", 1997)]


def test_titles_with_a_james_bond_character_golden(examples_db):
    rows = [tuple(r) for r in _run_example(examples_db, "titles_with_a_jamed_bond_character")]
    assert rows == [("Dr. No", 1962, "Sean Connery", "James Bond")]


def test_examples_run_through_cli_query(examples_db, capsys):
    """CLI ``query --file`` parses double-quoted identifiers like pimdb's
    SQLite and PostgreSQL dialects, and leaves the session's dialect as it
    found it."""
    from pimdb_spark.cli import main

    key = "spark.sql.ansi.doubleQuotedIdentifiers"
    before = examples_db.spark.conf.get(key)
    paths = sorted(glob(os.path.join(_EXAMPLES_FOLDER, "*.sql")))
    assert len(paths) == 4
    for path in paths:
        name = os.path.splitext(os.path.basename(path))[0]
        assert main(["query", "--file", path, "--database", examples_db.db_dir]) == 0, name
        out = capsys.readouterr().out.splitlines()
        assert len(out) == 1 + len(_run_example(examples_db, name)), name
        assert examples_db.spark.conf.get(key) == before
