"""Declared schemas for the 7 IMDb datasets and the 16 normalized tables.

Parity notes (citations are file:line into /root/reference):
- dataset column types: pimdb/database.py:85-163
- dedup/primary-key columns: pimdb/database.py:588-591 (transfer dedups on
  the table's PRIMARY-KEY columns; note title.principals uses
  (tconst, ordering) here, intentionally different from the test-data
  builder's (nconst, tconst) map at pimdb/common.py:98-106)
- table naming: PascalCase of the dataset name (pimdb/common.py:298-312)
- normalized tables: pimdb/database.py:211-317
- the 8 known title-alias types, in DECLARATION order (matters for the
  greedy token decomposition): pimdb/database.py:39
"""

from __future__ import annotations

from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

IMDB_DATASET_NAMES = [
    "name.basics",
    "title.akas",
    "title.basics",
    "title.crew",
    "title.episode",
    "title.principals",
    "title.ratings",
]

# declaration order matters (greedy match order in alias-type decomposition)
IMDB_TITLE_ALIAS_TYPES = [
    "alternative",
    "dvd",
    "festival",
    "tv",
    "video",
    "working",
    "original",
    "imdbDisplay",
]


def camelized_dot_name(name: str) -> str:
    """'title.basics' -> 'TitleBasics' (pimdb/common.py:298-312)."""
    return "".join(part[:1].upper() + part[1:] for part in name.split("."))


# (name, sparktype, nullable) per dataset; nullable=False means pimdb coerces
# \N to a type default with a warning (database.py:328-344).
_S, _I, _F, _B = StringType(), IntegerType(), DoubleType(), BooleanType()

DATASET_COLUMNS: dict[str, list[tuple[str, object, bool]]] = {
    "name.basics": [
        ("nconst", _S, False),
        ("primaryName", _S, False),
        ("birthYear", _I, True),
        ("deathYear", _I, True),
        ("primaryProfession", _S, True),
        ("knownForTitles", _S, True),
    ],
    "title.akas": [
        ("titleId", _S, False),
        ("ordering", _I, False),
        ("title", _S, True),
        ("region", _S, True),
        ("language", _S, True),
        ("types", _S, True),
        ("attributes", _S, True),
        ("isOriginalTitle", _B, True),  # genuinely nullable (database.py:123-124)
    ],
    "title.basics": [
        ("tconst", _S, False),
        ("titleType", _S, False),
        ("primaryTitle", _S, True),
        ("originalTitle", _S, True),
        ("isAdult", _B, False),
        ("startYear", _I, True),
        ("endYear", _I, True),
        ("runtimeMinutes", _I, True),
        ("genres", _S, True),
    ],
    "title.crew": [
        ("tconst", _S, False),
        ("directors", _S, True),
        ("writers", _S, True),
    ],
    "title.episode": [
        ("tconst", _S, False),
        ("parentTconst", _S, False),
        ("seasonNumber", _I, True),
        ("episodeNumber", _I, True),
    ],
    "title.principals": [
        ("tconst", _S, False),
        ("ordering", _I, False),
        ("nconst", _S, False),
        ("category", _S, False),
        ("job", _S, True),
        ("characters", _S, True),
    ],
    "title.ratings": [
        ("tconst", _S, False),
        ("averageRating", _F, False),
        ("numVotes", _I, False),
    ],
}

# transfer-time dedup keys = the table's primary-key columns
# (Database.key_columns, pimdb/database.py:588-591)
DATASET_KEY_COLUMNS: dict[str, tuple[str, ...]] = {
    "name.basics": ("nconst",),
    "title.akas": ("titleId", "ordering"),
    "title.basics": ("tconst",),
    "title.crew": ("tconst",),
    "title.episode": ("tconst",),
    "title.principals": ("tconst", "ordering"),
    "title.ratings": ("tconst",),
}

NORMALIZED_TABLE_NAMES = [
    "character",
    "episode",
    "genre",
    "name",
    "name_to_known_for_title",
    "participation",
    "participation_to_character",
    "profession",
    "temp_characters_to_character",
    "title",
    "title_alias",
    "title_alias_to_title_alias_type",
    "title_alias_type",
    "title_to_genre",
    "title_type",
]


def dataset_schema(dataset: str) -> StructType:
    """All-string read schema: pimdb reads TSV text and coerces per column
    (database.py:320-355); we replicate read-as-string → typed coercion so
    strict-bool and non-nullable-default semantics are explicit."""
    return StructType(
        [StructField(name, StringType(), True) for name, _, _ in DATASET_COLUMNS[dataset]]
    )


def type_default(spark_type) -> object:
    if isinstance(spark_type, BooleanType):
        return False
    if isinstance(spark_type, IntegerType):
        return 0
    if isinstance(spark_type, DoubleType):
        return 0.0
    return ""
