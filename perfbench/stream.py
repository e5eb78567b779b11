"""Seeded input generation and the seeded query stream.

Inputs are ``tests.fixtures_imdb.synth_imdb_tsv`` at a fixed size; the
gzip header's timestamp is zeroed so the same seed gives byte-identical
files.  The query stream mixes pimdb's four ``docs/examples`` queries
(with seeded name / title / character parameters), point lookups on the
dataset tables and scans or aggregates over the normalized tables.  Every
query is portable between Spark SQL and DuckDB, so each result can be
checked against DuckDB over the same parquet files (backtick quoting
becomes double quotes there).
"""

from __future__ import annotations

import os
import random

N_TITLES = 10_000
N_NAMES = 5_000

# Query templates; every literal is a seeded parameter.  The first four
# follow docs/examples/*.sql.
TEMPLATES: dict[str, str] = {
    "genres_for_title": """
select title.tconst, title.primary_title, genre.name as genre_name
from title
join title_to_genre on title_to_genre.title_id = title.id
join genre on genre.id = title_to_genre.genre_id
where title.tconst = '{tconst}'
order by title.tconst, title_to_genre.ordering""",
    "titles_known_for": """
select title.primary_title, title.start_year
from name_to_known_for_title
join name on name.id = name_to_known_for_title.name_id
join title on title.id = name_to_known_for_title.title_id
where name.primary_name = '{person}'""",
    "titles_directed_by": """
select TitleBasics.primaryTitle, TitleBasics.startYear
from TitleBasics
join TitlePrincipals on TitlePrincipals.tconst = TitleBasics.tconst
join NameBasics on NameBasics.nconst = TitlePrincipals.nconst
where NameBasics.primaryName = '{person}'
and TitlePrincipals.category = '{category}'""",
    "movies_with_character": """
select title.primary_title as title_name, title.start_year as start_year,
name.primary_name as actor, `character`.name as character_name
from `character`
join participation_to_character
on participation_to_character.character_id = `character`.id
join participation on participation.id = participation_to_character.participation_id
join name on name.id = participation.name_id
join title on title.id = participation.title_id
join title_type on title_type.id = title.title_type_id
where `character`.name = '{character}' and title_type.name = 'movie'
order by title.start_year, name.primary_name, title.primary_title""",
    "title_by_tconst": "select * from TitleBasics where tconst = '{tconst}'",
    "name_by_nconst": "select * from NameBasics where nconst = '{nconst}'",
    "top_rated_per_genre": """
select genre.name as genre_name, max(title.average_rating) as best,
count(*) as titles
from title
join title_to_genre on title_to_genre.title_id = title.id
join genre on genre.id = title_to_genre.genre_id
where title.rating_count >= {min_votes}
group by genre.name
order by genre.name""",
    "titles_per_type": """
select title_type.name as type_name, count(*) as titles
from title
join title_type on title_type.id = title.title_type_id
where title.start_year >= {year}
group by title_type.name
order by title_type.name""",
    "episodes_of_series": """
select episode.season, episode.episode, title.primary_title
from episode
join title on title.id = episode.title_id
join title parent on parent.id = episode.parent_title_id
where parent.tconst = '{series}'
order by episode.season, episode.episode, title.primary_title""",
}

_CATEGORIES = ("director", "actor", "actress", "writer", "producer")


def _params(rng: random.Random) -> dict[str, object]:
    return {
        "tconst": f"tt{rng.randint(1, N_TITLES):08d}",
        "nconst": f"nm{rng.randint(1, N_NAMES):08d}",
        "person": f"Person {rng.randint(1, N_NAMES)}",
        "category": rng.choice(_CATEGORIES),
        "character": rng.choice(
            [f"Role {rng.randrange(50)}", f"Char {rng.randint(1, 7)}"]
        ),
        "min_votes": rng.randrange(0, 100_000, 500),
        "year": rng.randrange(1920, 2026),
        # synth_imdb_tsv draws episode parents from every fourth title
        "series": f"tt{4 * rng.randint(1, N_TITLES // 4):08d}",
    }


def query_stream(seed: int | str):
    """Endless closed-loop stream of (template, sql).  Each round visits
    every template once, in a seeded order, so any whole number of
    rounds has the same mix."""
    rng = random.Random(seed)
    names = list(TEMPLATES)
    while True:
        rng.shuffle(names)
        for name in names:
            yield name, TEMPLATES[name].format(**_params(rng)).strip()


def make_inputs(target_dir: str, seed: int) -> str:
    """Write the seeded IMDb TSVs and make them byte-reproducible."""
    from tests.fixtures_imdb import synth_imdb_tsv

    synth_imdb_tsv(target_dir, N_TITLES, N_NAMES, seed=seed)
    for f in sorted(os.listdir(target_dir)):
        _zero_gzip_mtime(os.path.join(target_dir, f))
    return target_dir


def _zero_gzip_mtime(path: str) -> None:
    """Clear MTIME (header bytes 4-7); gzip's CRC covers only the data."""
    with open(path, "r+b") as f:
        f.seek(4)
        f.write(b"\0\0\0\0")
