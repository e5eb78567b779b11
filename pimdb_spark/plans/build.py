"""The normalized-table build DAG (SURVEY §3.2): dataset tables → 16
normalized tables, as pure DataFrame transforms in dependency order.

Parity citations are file:line into /root/reference/pimdb/database.py.
Where the reference streams rows through driver-side Python loops (key
tables, temp character map, known-for renumbering, alias-type
decomposition), the Spark form is explode/window/join plans — identical
results, no driver-side state.

Surrogate ids: key-table ids are the 1-based rank of name in sorted order
(database.py:631-635), exactly as the reference.  Entity-table ids
(name/title/title_alias/participation) are autoincrement-in-insert-order in
the reference — unspecified across backends; here they are the 1-based rank
under a deterministic natural-key order (SURVEY §7 'surrogate-id
determinism'), assigned scalably by functions.ids.with_surrogate_id.

Scale notes per step live in each builder's docstring; broadcast hints mark
the joins whose small side is a key table.
"""

from __future__ import annotations

import time
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType
from pyspark.util import inheritable_thread_target

from pimdb_spark.functions.ids import with_key_table_id, with_surrogate_id
from pimdb_spark.plans.store import ParquetDatabase
from pimdb_spark.schemas import IMDB_TITLE_ALIAS_TYPES, NORMALIZED_TABLE_NAMES


def _known_alias_types() -> Column:
    """The 8 known alias types, in declaration order, as an array literal."""
    return F.array(*[F.lit(t) for t in IMDB_TITLE_ALIAS_TYPES])


def greedy_title_alias_types(types: Column) -> Column:
    """E4 greedy token decomposition (spec: database.py:1003-1029) as one
    native expression: fold over the 8 known alias types in DECLARATION
    order; a type contained in the remaining string is appended to the
    result and all its occurrences removed from the remainder; unknown
    leftovers are ignored.  NULL or empty input gives an empty array."""
    start = F.struct(F.array().cast("array<string>").alias("out"), types.alias("rest"))

    def step(acc: Column, k: Column) -> Column:
        return F.when(
            F.instr(acc["rest"], k) > 0,
            F.struct(
                F.array_append(acc["out"], k).alias("out"),
                F.replace(acc["rest"], k, F.lit("")).alias("rest"),
            ),
        ).otherwise(acc)

    return F.aggregate(_known_alias_types(), start, step, lambda acc: acc["out"])


class NormalizedBuild:
    """Runs the build DAG of SURVEY §3.2, one step per normalized table,
    against a ParquetDatabase that already holds the 7 dataset tables
    (from transfer)."""

    def __init__(self, db: ParquetDatabase):
        self.db = db

    # -- key tables (steps 1-4) --------------------------------------------

    def build_title_alias_type(self) -> DataFrame:
        """Static 8-value key table (database.py:637-639), exploded from
        literals so the plan stays in the JVM (a Python list would plan as
        a Scan ExistingRDD fed by a Python worker)."""
        df = self.db.spark.range(1).select(F.explode(_known_alias_types()).alias("name"))
        return with_key_table_id(df)

    def build_genre(self) -> DataFrame:
        """Distinct split(genres) (database.py:648-657): explode is
        distributed; the distinct set is tiny → single-partition rank OK."""
        tb = self.db.read("TitleBasics")
        names = (
            tb.filter(F.col("genres").isNotNull())
            .select(F.explode(F.split("genres", ",")).alias("name"))
            .distinct()
        )
        return with_key_table_id(names)

    def build_profession(self) -> DataFrame:
        """Distinct category (database.py:659-667)."""
        tp = self.db.read("TitlePrincipals")
        return with_key_table_id(tp.select(F.col("category").alias("name")).distinct())

    def build_title_type(self) -> DataFrame:
        """Distinct titleType (database.py:641-646)."""
        tb = self.db.read("TitleBasics")
        return with_key_table_id(tb.select(F.col("titleType").alias("name")).distinct())

    # -- entity tables (steps 5-10) ----------------------------------------

    def build_name(self) -> DataFrame:
        """P2 project+rename of NameBasics (database.py:817-842); id by
        nconst rank.  Scale: one range shuffle for id assignment, no joins."""
        nb = self.db.read("NameBasics")
        projected = nb.select(
            "nconst",
            F.col("primaryName").alias("primary_name"),
            F.col("birthYear").alias("birth_year"),
            F.col("deathYear").alias("death_year"),
            F.col("primaryProfession").alias("primary_professions"),
        )
        return with_surrogate_id(projected, ["nconst"])

    def build_title(self) -> DataFrame:
        """J1 (database.py:876-923): TitleBasics ⋈ title_type (broadcast)
        ⟕ TitleRatings on tconst, rating defaults 0 (database.py:907-908).
        Scale: title_type is tiny → broadcast; ratings join shuffles on
        tconst once, reused by the id range-partition."""
        tb = self.db.read("TitleBasics")
        tt = self.db.read("title_type")
        tr = self.db.read("TitleRatings")
        joined = (
            tb.join(F.broadcast(tt), tb.titleType == tt.name)
            .join(tr, "tconst", "left")
            .select(
                tb.tconst,
                tt.id.alias("title_type_id"),
                F.col("primaryTitle").alias("primary_title"),
                F.col("originalTitle").alias("original_title"),
                F.col("isAdult").alias("is_adult"),
                F.col("startYear").alias("start_year"),
                F.col("endYear").alias("end_year"),
                F.col("runtimeMinutes").alias("runtime_minutes"),
                F.coalesce(tr.averageRating, F.lit(0.0)).alias("average_rating"),
                F.coalesce(tr.numVotes, F.lit(0)).alias("rating_count"),
            )
        )
        return with_surrogate_id(joined, ["tconst"])

    def build_title_alias(self) -> DataFrame:
        """J4 (database.py:1031-1063): title ⋈ TitleAkas on titleId=tconst;
        region/language passed through (reference TODO notes lower());
        attributes column intentionally dropped, as the reference does."""
        t = self.db.read("title")
        akas = self.db.read("TitleAkas")
        joined = t.join(akas, akas.titleId == t.tconst).select(
            t.id.alias("title_id"),
            akas.ordering,
            akas.title,
            F.col("region").alias("region_code"),
            F.col("language").alias("language_code"),
            F.col("isOriginalTitle").alias("is_original_title"),
        )
        return with_surrogate_id(joined, ["title_id", "ordering"])

    def build_episode(self) -> DataFrame:
        """J3 double self-join (database.py:944-980): TitleEpisode ⋈ title
        (tconst) ⋈ title (parentTconst); unknown parents drop via the inner
        join."""
        te = self.db.read("TitleEpisode")
        t = self.db.read("title").select("id", "tconst")
        t1 = t.alias("t1")
        t2 = t.alias("t2")
        return (
            te.join(t1, F.col("t1.tconst") == te.tconst)
            .join(t2, F.col("t2.tconst") == te.parentTconst)
            .select(
                F.col("t1.id").alias("title_id"),
                F.col("t2.id").alias("parent_title_id"),
                F.col("seasonNumber").alias("season"),
                F.col("episodeNumber").alias("episode"),
            )
        )

    def build_participation(self) -> DataFrame:
        """J2 3-way inner join (database.py:669-703): TitlePrincipals ⋈
        name(nconst) ⋈ title(tconst) ⋈ profession(category), id by
        (title_id, ordering).  Scale: profession broadcast; principals is
        the big fact — the two id-lookup joins shuffle on nconst/tconst."""
        tp = self.db.read("TitlePrincipals")
        name = self.db.read("name").select(F.col("id").alias("name_id"), "nconst")
        title = self.db.read("title").select(F.col("id").alias("title_id"), "tconst")
        prof = self.db.read("profession").select(
            F.col("id").alias("profession_id"), F.col("name").alias("prof_name")
        )
        joined = (
            tp.join(name, "nconst")
            .join(title, "tconst")
            .join(F.broadcast(prof), tp.category == F.col("prof_name"))
            .select("title_id", "ordering", "name_id", "profession_id", "job")
        )
        return with_surrogate_id(joined, ["title_id", "ordering"])

    # -- character map (step 11) -------------------------------------------

    def _characters_exploded(self) -> DataFrame:
        """Each DISTINCT characters JSON parsed once (the reference's
        temp-table trick — Catalyst does not dedup expression inputs, so
        the distinct-then-join shape is kept deliberately) and exploded
        with per-list ordering.  Scale: distinct-JSON set ≪ principals
        rows; the JSON parse is a built-in from_json, not a UDF."""
        tp = self.db.read("TitlePrincipals")
        distinct_json = (
            tp.filter(F.col("characters").isNotNull()).select("characters").distinct()
        )
        return distinct_json.select(
            "characters",
            F.posexplode(F.from_json("characters", ArrayType(StringType()))).alias(
                "pos", "character_name"
            ),
        ).select("characters", (F.col("pos") + 1).alias("ordering"), "character_name")

    def build_character(self) -> DataFrame:
        """E3, first half (database.py:705-763): character names ranked for
        ids."""
        exploded = self._characters_exploded()
        return with_key_table_id(
            exploded.select(F.col("character_name").alias("name")).distinct()
        )

    def build_temp_characters_to_character(self) -> DataFrame:
        """E3, second half (database.py:705-763): (JSON, ordering) →
        character id, joined against the written character table."""
        exploded = self._characters_exploded()
        character = self.db.read("character")
        return exploded.join(
            F.broadcast(character), exploded.character_name == character.name
        ).select("characters", "ordering", F.col("id").alias("character_id"))

    def build_participation_to_character(self) -> DataFrame:
        """J6 5-way join + DISTINCT (database.py:765-811): participation ⋈
        name ⋈ title ⋈ TitlePrincipals (3-col composite: nconst AND tconst
        AND ordering) ⋈ temp map on the raw JSON string ⋈ profession.

        Scale: this is the reference's 32-GB-shm join; in Spark the big
        sides shuffle on the composite key and the temp map / profession
        broadcast.  DISTINCT is a hash agg on the 3 output columns."""
        part = self.db.read("participation")
        name = self.db.read("name").select(
            F.col("id").alias("n_id"), F.col("nconst").alias("n_nconst")
        )
        title = self.db.read("title").select(
            F.col("id").alias("t_id"), F.col("tconst").alias("t_tconst")
        )
        tp = self.db.read("TitlePrincipals")
        temp = self.db.read("temp_characters_to_character")
        prof = self.db.read("profession").select(
            F.col("id").alias("p_id"), F.col("name").alias("prof_name")
        )
        return (
            part.join(name, part.name_id == F.col("n_id"))
            .join(title, part.title_id == F.col("t_id"))
            .join(
                tp,
                (tp.nconst == F.col("n_nconst"))
                & (tp.tconst == F.col("t_tconst"))
                & (tp.ordering == part.ordering),
            )
            .join(temp, temp.characters == tp.characters)
            .join(F.broadcast(prof), tp.category == F.col("prof_name"))
            .select(
                part.id.alias("participation_id"),
                temp.ordering.alias("ordering"),
                "character_id",
            )
            .distinct()
        )

    # -- relation tables (steps 13-14) -------------------------------------

    def build_name_to_known_for_title(self) -> DataFrame:
        """E2 skip-and-renumber (database.py:844-874): explode
        knownForTitles, drop tconsts with no matching title (implicit inner
        join), renumber ordering densely per name in original list order.
        Scale: posexplode fans out ~4 rows/name; the title join shuffles on
        tconst; the renumber window shuffles on name_id."""
        nb = self.db.read("NameBasics")
        name = self.db.read("name").select(F.col("id").alias("name_id"), "nconst")
        title = self.db.read("title").select(F.col("id").alias("title_id"), "tconst")
        exploded = (
            nb.filter(F.col("knownForTitles").isNotNull())
            .join(name, "nconst")
            .select(
                "name_id",
                F.posexplode(F.split("knownForTitles", ",")).alias("pos", "tconst"),
            )
        )
        resolved = exploded.join(title, "tconst")
        w = Window.partitionBy("name_id").orderBy("pos")
        return resolved.select(
            "name_id",
            F.row_number().over(w).alias("ordering"),
            "title_id",
        )

    def build_title_to_genre(self) -> DataFrame:
        """E1+J8 (database.py:982-1001): title ⋈ TitleBasics(genres not
        null), posexplode genres with 1-based ordering, broadcast-join the
        genre key table (the Spark form of the collected name→id map,
        database.py:490-504 — never collected to the driver here)."""
        tb = self.db.read("TitleBasics")
        title = self.db.read("title").select(F.col("id").alias("title_id"), "tconst")
        genre = self.db.read("genre").select(
            F.col("id").alias("genre_id"), F.col("name").alias("genre_name")
        )
        exploded = (
            tb.filter(F.col("genres").isNotNull())
            .join(title, "tconst")
            .select("title_id", F.posexplode(F.split("genres", ",")).alias("pos", "genre_name"))
        )
        return exploded.join(F.broadcast(genre), "genre_name").select(
            "title_id", (F.col("pos") + 1).alias("ordering"), "genre_id"
        )

    def build_title_alias_to_title_alias_type(self) -> DataFrame:
        """J5+E4 (database.py:1065-1112): title_alias ⋈ title ⋈ TitleAkas on
        the composite (titleId, ordering), types NOT NULL, then the greedy
        decomposition of each row's types string, posexploded to
        (title_alias_id, ordering, title_alias_type_id).  The decomposition
        is greedy_title_alias_types, a native fold over 8 types: cheap
        enough per row that the reference's lru_cache needs no Spark
        counterpart (no distinct + join back), and no Python worker runs."""
        ta = self.db.read("title_alias")
        t = self.db.read("title").select("id", "tconst")
        akas = self.db.read("TitleAkas")
        tat = self.db.read("title_alias_type").select(
            F.col("id").alias("title_alias_type_id"), F.col("name").alias("type_name")
        )
        # only akas rows with types reach the title_alias join
        typed_akas = (
            akas.filter(akas.types.isNotNull())
            .join(t, akas.titleId == t.tconst)
            .select(t.id.alias("akas_title_id"), akas.ordering.alias("akas_ordering"), akas.types)
        )
        decomposed = ta.join(
            typed_akas,
            (ta.title_id == F.col("akas_title_id"))
            & (ta.ordering == F.col("akas_ordering")),
        ).select(
            ta.id.alias("title_alias_id"),
            F.posexplode(greedy_title_alias_types(F.col("types"))).alias("pos", "type_name"),
        )
        return decomposed.join(F.broadcast(tat), "type_name").select(
            "title_alias_id",
            (F.col("pos") + 1).alias("ordering"),
            "title_alias_type_id",
        )

    # -- orchestration ------------------------------------------------------

    # Every step: the table it writes (through build_<table>) -> the tables
    # its builder reads.  Listed in the reference's build order
    # (command.py:203-220); the dataset tables are on disk before run()
    # starts, so only the edges between steps order the schedule.
    STEPS: dict[str, tuple[str, ...]] = {
        "title_alias_type": (),
        "genre": ("TitleBasics",),
        "profession": ("TitlePrincipals",),
        "title_type": ("TitleBasics",),
        "name": ("NameBasics",),
        "title": ("TitleBasics", "title_type", "TitleRatings"),
        "title_alias": ("title", "TitleAkas"),
        "title_alias_to_title_alias_type": (
            "title_alias", "title", "TitleAkas", "title_alias_type",
        ),
        "episode": ("TitleEpisode", "title"),
        "participation": ("TitlePrincipals", "name", "title", "profession"),
        "character": ("TitlePrincipals",),
        "temp_characters_to_character": ("TitlePrincipals", "character"),
        "participation_to_character": (
            "participation", "name", "title", "TitlePrincipals",
            "temp_characters_to_character", "profession",
        ),
        "name_to_known_for_title": ("NameBasics", "name", "title"),
        "title_to_genre": ("TitleBasics", "title", "genre"),
    }

    def run(self, timings: dict[str, float] | None = None) -> None:
        """Execute the DAG dependency-driven and concurrently: this thread
        submits each step to a thread pool as soon as every table it reads
        is written, so independent steps overlap and the longest chain
        (title_type → title → title_alias →
        title_alias_to_title_alias_type) sets the wall time.  No worker
        ever waits on another.  Each table is persisted before dependents
        read it (cuts lineage and makes every step restartable).

        Workers start through inheritable_thread_target, so the caller's
        job group, job description and tags reach every job.  Steps hold
        no cache across their write: building a step's frame runs no job,
        and the child a surrogate-id step caches for its count is freed by
        Spark when that write's query stage completes.

        If a step raises, no further step starts; run() waits for the
        running ones and re-raises the first failure.

        ``timings``, when passed, collects per-table wall-clock seconds of
        each step's build and write (the plan is lazy, so each table's
        full compute lands in its write).  Steps overlap, so their sum can
        exceed run()'s wall time — scripts/bench_build.py uses them to
        bench the product path end to end."""
        db = self.db

        def step(table: str) -> float:
            t0 = time.perf_counter()
            db.write(getattr(self, f"build_{table}")(), table)
            return time.perf_counter() - t0

        waiting = dict(self.STEPS)
        running: dict[Future, str] = {}
        with ThreadPoolExecutor(max_workers=len(waiting)) as pool:
            while waiting or running:
                for table, inputs in list(waiting.items()):
                    if not any(t in waiting or t in running.values() for t in inputs):
                        del waiting[table]
                        task = inheritable_thread_target(db.spark)(step)
                        running[pool.submit(task, table)] = table
                done, _ = wait(running, return_when=FIRST_COMPLETED)
                for future in done:
                    table = running.pop(future)
                    seconds = future.result()
                    if timings is not None:
                        timings[table] = seconds
        db.drop_obsolete(
            keep=NORMALIZED_TABLE_NAMES
            + [t for t in db.table_names() if t[0].isupper()]  # dataset tables
        )
