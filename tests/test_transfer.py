"""Transfer-layer semantics (SURVEY §2.1 S2/S3/S4, §2.2 P1)."""

from __future__ import annotations


def rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_keep_first_dedup(built_db):
    """Duplicate (nconst) and (tconst, ordering) keys keep the FIRST row in
    file order (common.py:238-255)."""
    nb = built_db.read("NameBasics")
    assert nb.count() == 3
    first = nb.filter("nconst = 'nm0000001'").collect()[0]
    assert first.primaryName == "Alice Actor"  # not "Alice DUPLICATE"

    tp = built_db.read("TitlePrincipals")
    assert tp.count() == 5
    kept = tp.filter("tconst = 'tt0000001' AND ordering = 1").collect()[0]
    assert kept.nconst == "nm0000001"  # dup row nm0000009 dropped


def test_principals_dedup_key_is_tconst_ordering(built_db):
    """title.principals dedups on (tconst, ordering) — the PK columns
    (database.py:588-591) — not common.py's (nconst, tconst) map."""
    tp = built_db.read("TitlePrincipals")
    # nm0000001 appears for two titles; both survive because tconst differs
    assert tp.filter("nconst = 'nm0000001'").count() == 2


def test_typed_coercion_defaults(built_db):
    """\\N in non-nullable isAdult coerces to False with (logged) default
    (database.py:328-344); nullable isOriginalTitle stays NULL; strict
    '1'/'0' bools (database.py:345-351)."""
    tb = built_db.read("TitleBasics")
    assert rows(tb, "tconst", "isAdult") == [
        ("tt0000001", False),
        ("tt0000002", False),
        ("tt0000003", False),  # \N coerced
        ("tt0000004", True),
    ]
    akas = built_db.read("TitleAkas")
    vals = {
        (r.titleId, r.ordering): r.isOriginalTitle
        for r in akas.select("titleId", "ordering", "isOriginalTitle").collect()
    }
    assert vals[("tt0000001", 2)] is None  # genuinely nullable
    assert vals[("tt0000002", 1)] is True


def test_unquoted_quotes_survive(built_db):
    """QUOTE_NONE: stray '\"' characters are data (common.py:226)."""
    tb = built_db.read("TitleBasics")
    assert tb.filter("tconst = 'tt0000004'").collect()[0].primaryTitle == 'No "Rating"'
    nb = built_db.read("NameBasics")
    assert nb.filter("nconst = 'nm0000003'").collect()[0].primaryName == 'Carol "Quotes" Char'


def test_conjunctive_filter(spark, imdb_fixture_dir):
    """S4: row kept iff every (column, values) constraint holds
    (common.py:241-252)."""
    from pimdb_spark.ingest import dataset_file
    from pimdb_spark.sources.tsv import read_dataset

    df = read_dataset(
        spark,
        dataset_file(imdb_fixture_dir, "title.basics"),
        "title.basics",
        {"titleType": ["movie"], "tconst": ["tt0000001", "tt0000002"]},
    )
    assert [r.tconst for r in df.collect()] == ["tt0000001"]
