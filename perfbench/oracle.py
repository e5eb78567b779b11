"""Output checks against DuckDB, run outside the timed windows.

- ``expected_row_counts`` derives every table's row count from the
  generated TSVs alone (DuckDB over the .tsv.gz files, with pimdb's
  keep-first dedup and the build's join semantics written out in SQL), so
  the ETL check does not trust any table the program wrote.
- ``parquet_connection`` + ``expected_rows`` run a query on DuckDB over
  the parquet database the program built; the query workload compares
  that with what the ``query`` verb printed.

Rows are compared as sorted multisets of TSV lines, formatted the way
``print_tsv`` formats them (``str(value)``, ``\\N`` for NULL).
"""

from __future__ import annotations

import hashlib
import os

import duckdb

# Declaration order matters: the build's greedy alias-type decomposition
# tries the known types in this order.
ALIAS_TYPES = (
    "alternative", "dvd", "festival", "tv", "video", "working", "original",
    "imdbDisplay",
)

# dataset -> (dataset table, keep-first key columns)
DATASETS = {
    "name.basics": ("NameBasics", ("nconst",)),
    "title.akas": ("TitleAkas", ("titleId", "ordering")),
    "title.basics": ("TitleBasics", ("tconst",)),
    "title.crew": ("TitleCrew", ("tconst",)),
    "title.episode": ("TitleEpisode", ("tconst",)),
    "title.principals": ("TitlePrincipals", ("tconst", "ordering")),
    "title.ratings": ("TitleRatings", ("tconst",)),
}

_CHARS = "from_json(characters, '[\"VARCHAR\"]')"

# Normalized table -> row-count SQL over the deduplicated dataset tables.
_NORMALIZED_COUNTS = {
    "title_alias_type": f"select {len(ALIAS_TYPES)}",
    "genre": """select count(distinct g) from (
        select unnest(string_split(genres, ',')) g from TitleBasics
        where genres is not null)""",
    "profession": "select count(distinct coalesce(category, '')) from TitlePrincipals",
    "title_type": "select count(distinct coalesce(titleType, '')) from TitleBasics",
    "name": "select count(*) from NameBasics",
    "title": "select count(*) from TitleBasics",
    "title_alias": """select count(*) from TitleAkas a
        join TitleBasics b on b.tconst = a.titleId""",
    "title_alias_to_title_alias_type": """select coalesce(sum(m.n), 0)
        from TitleAkas a join TitleBasics b on b.tconst = a.titleId
        join alias_type_counts m on m.types = a.types""",
    "episode": """select count(*) from TitleEpisode e
        join TitleBasics t1 on t1.tconst = e.tconst
        join TitleBasics t2 on t2.tconst = e.parentTconst""",
    "participation": """select count(*) from TitlePrincipals p
        join NameBasics n on n.nconst = p.nconst
        join TitleBasics t on t.tconst = p.tconst""",
    "character": f"""select count(distinct c) from (
        select unnest({_CHARS}) c from TitlePrincipals
        where characters is not null)""",
    "temp_characters_to_character": f"""select coalesce(sum(len({_CHARS})), 0)
        from (select distinct characters from TitlePrincipals
              where characters is not null)""",
    "participation_to_character": f"""select coalesce(sum(len({_CHARS})), 0)
        from TitlePrincipals p
        join NameBasics n on n.nconst = p.nconst
        join TitleBasics t on t.tconst = p.tconst
        where p.characters is not null""",
    "name_to_known_for_title": """select count(*) from (
        select unnest(string_split(knownForTitles, ',')) k from NameBasics
        where knownForTitles is not null) x
        join TitleBasics t on t.tconst = x.k""",
    "title_to_genre": """select count(*) from (
        select unnest(string_split(genres, ',')) from TitleBasics
        where genres is not null)""",
}


def greedy_alias_types(raw: str | None) -> list[str]:
    """The build's alias-type rule: each known type found in what is
    left of the string counts once, and all its occurrences are removed."""
    found: list[str] = []
    remaining = raw or ""
    for known in ALIAS_TYPES:
        if remaining and known in remaining:
            found.append(known)
            remaining = remaining.replace(known, "")
    return found


def expected_row_counts(tsv_dir: str) -> dict[str, int]:
    """Row count of every table transfer + build should produce."""
    con = duckdb.connect()
    # one thread keeps row_number() over () in file order (keep-first tag)
    con.execute("set threads = 1")
    counts: dict[str, int] = {}
    for dataset, (table, keys) in DATASETS.items():
        path = os.path.join(tsv_dir, f"{dataset}.tsv.gz")
        con.execute(
            f"""create table raw_{table} as
            select *, row_number() over () as _seq
            from read_csv('{path}', delim = '\t', header = true, quote = '',
                          escape = '', all_varchar = true, nullstr = '\\N')"""
        )
        con.execute(
            f"""create table {table} as select * from raw_{table}
            qualify row_number() over (
                partition by {", ".join(keys)} order by _seq) = 1"""
        )
        counts[table] = con.execute(f"select count(*) from {table}").fetchone()[0]
    types = con.execute(
        "select distinct types from TitleAkas where types is not null"
    ).fetchall()
    con.execute("create table alias_type_counts (types varchar, n bigint)")
    con.executemany(
        "insert into alias_type_counts values (?, ?)",
        [(t, len(greedy_alias_types(t))) for (t,) in types],
    )
    for table, sql in _NORMALIZED_COUNTS.items():
        counts[table] = int(con.execute(sql).fetchone()[0])
    con.close()
    return counts


def split_tsv(text: str) -> tuple[str, list[str]]:
    """print_tsv output -> (header, row lines)."""
    lines = text.split("\n")
    if lines and lines[-1] == "":
        lines.pop()
    if not lines:
        raise ValueError("no header line in query output")
    return lines[0], lines[1:]


def format_rows(rows) -> list[str]:
    return ["\t".join("\\N" if v is None else str(v) for v in r) for r in rows]


def digest(lines: list[str]) -> str:
    return hashlib.sha256("\n".join(sorted(lines)).encode()).hexdigest()


def parquet_connection(db_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB with one view per parquet table of a pimdb database."""
    con = duckdb.connect()
    for entry in sorted(os.listdir(db_dir)):
        if entry.endswith(".parquet"):
            table = entry[: -len(".parquet")]
            glob = os.path.join(db_dir, entry, "*.parquet")
            con.execute(f"""create view "{table}" as select * from read_parquet('{glob}')""")
    return con


def expected_rows(con: duckdb.DuckDBPyConnection, sql: str) -> list[str]:
    return format_rows(con.execute(sql.replace("`", '"')).fetchall())
