"""Hand-written IMDb-shaped fixture TSVs covering every edge case in
FIXTURES.md: duplicate key rows, \\N in non-nullable columns, nullable
strict bools, dangling knownForTitles references, unknown episode parents,
unrated titles, multi-token alias types (+ unknown leftover), repeated and
multi-element characters JSON, multi-genre ordering, stray '"' characters.
"""

from __future__ import annotations

import gzip
import os

FIXTURE_TSVS: dict[str, str] = {
    "name.basics": """nconst	primaryName	birthYear	deathYear	primaryProfession	knownForTitles
nm0000001	Alice Actor	1970	\\N	actress,producer	tt0000001,tt9999999,tt0000002
nm0000002	Bob Builder	1960	2020	director	tt0000002
nm0000003	Carol "Quotes" Char	\\N	\\N	\\N	\\N
nm0000001	Alice DUPLICATE	1971	\\N	actress	tt0000001
""",
    "title.basics": """tconst	titleType	primaryTitle	originalTitle	isAdult	startYear	endYear	runtimeMinutes	genres
tt0000001	movie	First Movie	Erste Film	0	1999	\\N	100	Action,Comedy
tt0000002	tvSeries	The Series	The Series	0	2005	2010	45	Drama
tt0000003	tvEpisode	Ep One	Ep One	\\N	2005	\\N	45	Drama,Comedy
tt0000004	movie	No "Rating"	No Rating	1	2010	\\N	\\N	\\N
""",
    "title.akas": """titleId	ordering	title	region	language	types	attributes	isOriginalTitle
tt0000001	1	First Movie	US	en	imdbDisplay	\\N	0
tt0000001	2	Erste Film	DE	de	festivalworking	\\N	\\N
tt0000002	1	The Series	\\N	\\N	originalalternative	\\N	1
tt0000002	2	La Serie	FR	fr	bogustype	\\N	0
tt0000001	1	DUP ROW	US	en	dvd	\\N	0
""",
    "title.crew": """tconst	directors	writers
tt0000001	nm0000002	\\N
tt0000002	nm0000002	nm0000001,nm0000002
""",
    "title.episode": """tconst	parentTconst	seasonNumber	episodeNumber
tt0000003	tt0000002	1	1
tt0000004	tt7777777	2	3
""",
    "title.principals": """tconst	ordering	nconst	category	job	characters
tt0000001	1	nm0000001	actress	\\N	["Jane", "Queen"]
tt0000001	2	nm0000002	director	\\N	\\N
tt0000002	1	nm0000001	actress	\\N	["Jane", "Queen"]
tt0000002	2	nm0000003	self	host	["Self"]
tt0000003	1	nm0000003	self	\\N	["Self"]
tt0000001	1	nm0000009	actor	\\N	DUP-ROW-NEVER-PARSED
""",
    "title.ratings": """tconst	averageRating	numVotes
tt0000001	7.5	1000
tt0000002	8.2	500
""",
}


# Rows appended to FIXTURE_TSVS for the docs/examples queries: Wyrmwood
# tt2535470, Alan Smithee and a James Bond character.
EXAMPLE_EXTRA_ROWS: dict[str, str] = {
    "name.basics": (
        "nm0000007\tSean Connery\t1930\t2020\tactor\ttt0000007\n"
        "nm0000008\tAlan Smithee\t1940\t\\N\tdirector\ttt0000008\n"
    ),
    "title.basics": (
        "tt2535470\tmovie\tWyrmwood: Road of the Dead\tWyrmwood\t0\t2014\t\\N\t98\t"
        "Action,Comedy,Horror\n"
        "tt0000007\tmovie\tDr. No\tDr. No\t0\t1962\t\\N\t110\tAction\n"
        "tt0000008\tmovie\tAn Alan Smithee Film\tAn Alan Smithee Film\t0\t1997\t\\N\t86\tComedy\n"
    ),
    "title.principals": (
        'tt0000007\t1\tnm0000007\tactor\t\\N\t["James Bond"]\n'
        "tt0000008\t1\tnm0000008\tdirector\t\\N\t\\N\n"
    ),
}


def write_fixtures(
    target_dir: str, gzipped: bool = True, extra_rows: dict[str, str] | None = None
) -> str:
    os.makedirs(target_dir, exist_ok=True)
    for dataset, content in FIXTURE_TSVS.items():
        content += (extra_rows or {}).get(dataset, "")
        if gzipped:
            with gzip.open(os.path.join(target_dir, f"{dataset}.tsv.gz"), "wt") as f:
                f.write(content)
        else:
            with open(os.path.join(target_dir, f"{dataset}.tsv"), "w") as f:
                f.write(content)
    return target_dir


# ---------------------------------------------------------------------------
# Scalable synthetic IMDb-shaped TSVs — same schemas and edge cases as the
# hand-written fixture above (duplicate key rows, \N, dangling
# knownForTitles, unknown episode parents, unrated titles, multi-token
# alias types), but parameterized by size so the flagship
# transfer+NormalizedBuild path can be benched at multiple scales
# (scripts/bench_build.py).  Deterministic per (n_titles, n_names, seed).

_TITLE_TYPES = ["movie", "short", "tvSeries", "tvEpisode", "tvMovie",
                "video", "videoGame", "tvSpecial", "tvMiniSeries", "tvShort"]
_GENRES = ["Action", "Adventure", "Animation", "Comedy", "Crime", "Drama",
           "Family", "Fantasy", "History", "Horror", "Music", "Mystery",
           "Romance", "Sci-Fi", "Thriller", "War", "Western", "Biography",
           "Documentary", "Sport"]
_CATEGORIES = ["actor", "actress", "director", "writer", "producer",
               "composer", "cinematographer", "editor", "self",
               "production_designer", "archive_footage", "casting_director"]
_REGIONS = ["US", "DE", "FR", "JP", "GB", "IN", "BR", "\\N"]
_ALIAS_TYPES = ["imdbDisplay", "dvd", "festival", "original", "alternative",
                "festivalworking", "originalalternative", "bogusleftover", "\\N"]


def synth_imdb_tsv(
    target_dir: str, n_titles: int, n_names: int, seed: int = 0
) -> str:
    """Write a synthetic IMDb dataset of ~n_titles titles / n_names people
    as the 7 .tsv.gz files transfer() ingests.  Row counts: akas ~1.5x and
    principals ~4x titles, ratings ~80%, episodes ~25% — roughly IMDb's
    real proportions."""
    import random

    rng = random.Random(seed)
    os.makedirs(target_dir, exist_ok=True)

    def tconst(i):  # 1-based, with some ids deliberately never issued
        return f"tt{i:08d}"

    def nconst(i):
        return f"nm{i:08d}"

    def w(dataset, header, rows_iter):
        with gzip.open(
            os.path.join(target_dir, f"{dataset}.tsv.gz"), "wt", compresslevel=1
        ) as f:
            f.write(header + "\n")
            for row in rows_iter:
                f.write(row + "\n")

    series = [i for i in range(1, n_titles + 1) if i % 4 == 0]  # parents pool

    def title_basics():
        for i in range(1, n_titles + 1):
            tt = _TITLE_TYPES[i % len(_TITLE_TYPES)]
            n_g = rng.randint(0, 3)
            genres = ",".join(rng.sample(_GENRES, n_g)) if n_g else "\\N"
            start = 1920 + (i * 7) % 106
            end = str(start + rng.randint(1, 12)) if tt == "tvSeries" else "\\N"
            runtime = str(40 + (i * 13) % 140) if i % 9 else "\\N"
            adult = "1" if i % 37 == 0 else "0"
            yield "\t".join([
                tconst(i), tt, f'Title "{i}"', f"Original {i}", adult,
                str(start), end, runtime, genres,
            ])
            if i % 997 == 0:  # duplicate key row -> keep-first must drop it
                yield "\t".join([
                    tconst(i), tt, f"DUP {i}", f"DUP {i}", "0",
                    str(start), "\\N", "\\N", "\\N",
                ])

    def name_basics():
        for i in range(1, n_names + 1):
            n_k = rng.randint(0, 4)
            known = [tconst(rng.randint(1, int(n_titles * 1.1))) for _ in range(n_k)]
            yield "\t".join([
                nconst(i), f"Person {i}",
                str(1900 + i % 100) if i % 5 else "\\N",
                str(1970 + i % 50) if i % 11 == 0 else "\\N",
                ",".join(rng.sample(_CATEGORIES, rng.randint(1, 3))),
                ",".join(known) if known else "\\N",
            ])

    def title_akas():
        for i in range(1, n_titles + 1):
            for order in range(1, 1 + (i % 4)):  # 0..3 akas, avg ~1.5
                yield "\t".join([
                    tconst(i), str(order), f"Alias {i}.{order}",
                    rng.choice(_REGIONS), "\\N",
                    rng.choice(_ALIAS_TYPES), "\\N",
                    "1" if order == 1 and i % 3 == 0 else "0",
                ])

    def title_crew():
        for i in range(1, n_titles + 1):
            directors = ",".join(
                nconst(rng.randint(1, n_names)) for _ in range(rng.randint(1, 3))
            )
            writers = (
                ",".join(nconst(rng.randint(1, n_names)) for _ in range(rng.randint(1, 2)))
                if i % 2 else "\\N"
            )
            yield "\t".join([tconst(i), directors, writers])

    def title_episode():
        for i in range(1, n_titles + 1):
            if i % 4 == 1 and series:  # ~25% of titles are episodes
                parent = tconst(rng.choice(series)) if i % 53 else "tt99999999"
                yield "\t".join([
                    tconst(i), parent,
                    str(1 + i % 15) if i % 7 else "\\N",
                    str(1 + i % 24),
                ])

    def title_principals():
        for i in range(1, n_titles + 1):
            for order in range(1, 1 + (i % 9)):  # 0..8, avg ~4.5
                cat = _CATEGORIES[(i + order) % len(_CATEGORIES)]
                chars = (
                    f'["Char {order}", "Role {i % 50}"]'
                    if cat in ("actor", "actress") and order % 2
                    else "\\N"
                )
                yield "\t".join([
                    tconst(i), str(order), nconst(rng.randint(1, n_names)),
                    cat, "job" if cat == "self" and i % 13 == 0 else "\\N", chars,
                ])

    def title_ratings():
        for i in range(1, n_titles + 1):
            if i % 5 != 0:  # ~20% unrated -> J1 coalesce defaults exercised
                yield "\t".join([
                    tconst(i), f"{1.0 + (i * 17 % 90) / 10.0:.1f}",
                    str(5 + (i * 31) % 100000),
                ])

    w("name.basics",
      "nconst\tprimaryName\tbirthYear\tdeathYear\tprimaryProfession\tknownForTitles",
      name_basics())
    w("title.basics",
      "tconst\ttitleType\tprimaryTitle\toriginalTitle\tisAdult\tstartYear\tendYear\truntimeMinutes\tgenres",
      title_basics())
    w("title.akas",
      "titleId\tordering\ttitle\tregion\tlanguage\ttypes\tattributes\tisOriginalTitle",
      title_akas())
    w("title.crew", "tconst\tdirectors\twriters", title_crew())
    w("title.episode", "tconst\tparentTconst\tseasonNumber\tepisodeNumber",
      title_episode())
    w("title.principals", "tconst\tordering\tnconst\tcategory\tjob\tcharacters",
      title_principals())
    w("title.ratings", "tconst\taverageRating\tnumVotes", title_ratings())
    return target_dir
