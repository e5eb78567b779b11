"""End-to-end CLI: transfer → build → query, mirroring the reference's
smoke tests (tests/test_command.py:31-50) plus the documented example-query
shapes (FIXTURES.md 'representative correctness queries')."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def cli_db_dir(imdb_fixture_dir, tmp_path_factory):
    from pimdb_spark.cli import main

    db_dir = str(tmp_path_factory.mktemp("cli_db"))
    assert main(["transfer", "all", "--dataset-folder", imdb_fixture_dir, "--database", db_dir]) == 0
    assert main(["build", "--database", db_dir]) == 0
    return db_dir


def test_query_count(cli_db_dir, capsys):
    from pimdb_spark.cli import main

    assert main(["query", "select count(1) as n from TitleBasics", "--database", cli_db_dir]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out == ["n", "4"]


def test_query_null_handling_and_limit(cli_db_dir, capsys):
    from pimdb_spark.cli import main

    sql = (
        "select nconst from NameBasics where birthYear is not null "
        "and deathYear is null order by birthYear limit 10"
    )
    assert main(["query", sql, "--database", cli_db_dir]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out == ["nconst", "nm0000001"]


def test_query_genres_for_title(cli_db_dir, capsys):
    """docs/examples/genres_for_wyrmwood.sql shape: title ⋈ title_to_genre
    ⋈ genre ordered by ordering."""
    from pimdb_spark.cli import main

    sql = """
        select genre.name
        from title
        join title_to_genre on title_to_genre.title_id = title.id
        join genre on genre.id = title_to_genre.genre_id
        where title.tconst = 'tt0000003'
        order by title_to_genre.ordering
    """
    assert main(["query", sql, "--database", cli_db_dir]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out == ["name", "Drama", "Comedy"]


def test_query_character_join(cli_db_dir, capsys):
    """titles_with_a_jamed_bond_character.sql shape: character ⋈
    participation_to_character ⋈ participation ⋈ name ⋈ title."""
    from pimdb_spark.cli import main

    sql = """
        select distinct title.primary_title, name.primary_name
        from character
        join participation_to_character
          on participation_to_character.character_id = character.id
        join participation
          on participation.id = participation_to_character.participation_id
        join name on name.id = participation.name_id
        join title on title.id = participation.title_id
        where character.name = 'Queen'
        order by title.primary_title
    """
    assert main(["query", sql, "--database", cli_db_dir]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out == [
        "primary_title\tprimary_name",
        "First Movie\tAlice Actor",
        "The Series\tAlice Actor",
    ]


def test_query_from_file(cli_db_dir, tmp_path, capsys):
    from pimdb_spark.cli import main

    f = tmp_path / "q.sql"
    f.write_text("select count(1) as n from title_alias")
    assert main(["query", "--file", str(f), "--database", cli_db_dir]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out == ["n", "4"]

