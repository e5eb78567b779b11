"""Normalized-build semantics: every step of the 14-step DAG
(SURVEY §3.2) asserted against hand-computed expectations on the fixture."""

from __future__ import annotations

import contextlib
import os


def rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def ids_by_name(db, table):
    return {r.name: r.id for r in db.read(table).collect()}


def test_key_tables_sorted_rank_ids(built_db):
    """O1: id == 1-based rank of name in sorted order (database.py:631-635).
    'actor' only occurs on a dedup-dropped row, so it must NOT appear."""
    assert rows(built_db.read("genre"), "id", "name") == [
        (1, "Action"),
        (2, "Comedy"),
        (3, "Drama"),
    ]
    assert rows(built_db.read("title_type"), "id", "name") == [
        (1, "movie"),
        (2, "tvEpisode"),
        (3, "tvSeries"),
    ]
    assert rows(built_db.read("profession"), "id", "name") == [
        (1, "actress"),
        (2, "director"),
        (3, "self"),
    ]


def test_title_alias_type_static(built_db):
    """Static 8-value key table, sorted ids (database.py:637-639)."""
    expected = sorted(
        ["alternative", "dvd", "festival", "tv", "video", "working", "original", "imdbDisplay"]
    )
    assert rows(built_db.read("title_alias_type"), "id", "name") == [
        (i + 1, n) for i, n in enumerate(expected)
    ]


def test_title_rating_defaults_and_ids(built_db):
    """J1: left join ratings, coalesce to 0 (database.py:907-918); ids are
    rank-by-tconst."""
    t = built_db.read("title")
    got = {r.tconst: r for r in t.collect()}
    assert [got[k].id for k in sorted(got)] == [1, 2, 3, 4]
    assert got["tt0000001"].average_rating == 7.5
    assert got["tt0000001"].rating_count == 1000
    assert got["tt0000003"].average_rating == 0.0
    assert got["tt0000003"].rating_count == 0
    assert got["tt0000004"].title_type_id == 1  # movie


def test_name_projection(built_db):
    n = built_db.read("name")
    got = {r.nconst: r for r in n.collect()}
    assert len(got) == 3
    assert got["nm0000001"].primary_name == "Alice Actor"
    assert got["nm0000001"].primary_professions == "actress,producer"
    assert got["nm0000003"].birth_year is None


def test_episode_drops_unknown_parent(built_db):
    """J3: inner self-joins drop episodes whose parentTconst is unknown
    (database.py:944-980)."""
    e = built_db.read("episode")
    assert rows(e, "title_id", "parent_title_id", "season", "episode") == [(3, 2, 1, 1)]


def test_known_for_title_skip_and_renumber(built_db):
    """E2: dangling tconsts are skipped and ordering renumbers densely
    (database.py:858-874)."""
    db = built_db
    name_id = {r.nconst: r.id for r in db.read("name").collect()}
    title_id = {r.tconst: r.id for r in db.read("title").collect()}
    got = rows(db.read("name_to_known_for_title"), "name_id", "ordering", "title_id")
    assert got == sorted(
        [
            (name_id["nm0000001"], 1, title_id["tt0000001"]),  # tt9999999 skipped
            (name_id["nm0000001"], 2, title_id["tt0000002"]),  # renumbered densely
            (name_id["nm0000002"], 1, title_id["tt0000002"]),
        ]
    )


def test_title_to_genre_ordering(built_db):
    """E1: ordering follows comma-list position (database.py:996-1001)."""
    db = built_db
    title_id = {r.tconst: r.id for r in db.read("title").collect()}
    genre_id = ids_by_name(db, "genre")
    got = rows(db.read("title_to_genre"), "title_id", "ordering", "genre_id")
    assert got == sorted(
        [
            (title_id["tt0000001"], 1, genre_id["Action"]),
            (title_id["tt0000001"], 2, genre_id["Comedy"]),
            (title_id["tt0000002"], 1, genre_id["Drama"]),
            (title_id["tt0000003"], 1, genre_id["Drama"]),
            (title_id["tt0000003"], 2, genre_id["Comedy"]),
        ]
    )


def test_character_and_temp_map(built_db):
    """E3: distinct JSONs parsed once; character ids ranked by name; per-JSON
    list order preserved (database.py:705-763)."""
    db = built_db
    assert rows(db.read("character"), "id", "name") == [(1, "Jane"), (2, "Queen"), (3, "Self")]
    got = rows(db.read("temp_characters_to_character"), "characters", "ordering", "character_id")
    assert got == sorted(
        [
            ('["Jane", "Queen"]', 1, 1),
            ('["Jane", "Queen"]', 2, 2),
            ('["Self"]', 1, 3),
        ]
    )


def test_participation(built_db):
    """J2: one row per surviving principals row; profession resolved;
    ids ranked by (title_id, ordering) (database.py:669-703)."""
    db = built_db
    p = db.read("participation")
    assert p.count() == 5
    prof_id = ids_by_name(db, "profession")
    name_id = {r.nconst: r.id for r in db.read("name").collect()}
    got = rows(p, "id", "title_id", "ordering", "name_id", "profession_id")
    assert got == [
        (1, 1, 1, name_id["nm0000001"], prof_id["actress"]),
        (2, 1, 2, name_id["nm0000002"], prof_id["director"]),
        (3, 2, 1, name_id["nm0000001"], prof_id["actress"]),
        (4, 2, 2, name_id["nm0000003"], prof_id["self"]),
        (5, 3, 1, name_id["nm0000003"], prof_id["self"]),
    ]


def test_participation_to_character(built_db):
    """J6: 5-way join + DISTINCT (database.py:765-811)."""
    db = built_db
    char_id = ids_by_name(db, "character")
    got = rows(db.read("participation_to_character"), "participation_id", "ordering", "character_id")
    assert got == sorted(
        [
            (1, 1, char_id["Jane"]),
            (1, 2, char_id["Queen"]),
            (3, 1, char_id["Jane"]),
            (3, 2, char_id["Queen"]),
            (4, 1, char_id["Self"]),
            (5, 1, char_id["Self"]),
        ]
    )


def test_title_alias(built_db):
    """J4: ordering/region/language pass through; dedup dropped the
    (tt0000001, 1) duplicate before the join (database.py:1031-1063)."""
    db = built_db
    ta = db.read("title_alias")
    assert ta.count() == 4
    title_id = {r.tconst: r.id for r in db.read("title").collect()}
    got = {
        (r.title_id, r.ordering): (r.title, r.region_code, r.is_original_title)
        for r in ta.collect()
    }
    assert got[(title_id["tt0000001"], 1)] == ("First Movie", "US", False)
    assert got[(title_id["tt0000001"], 2)] == ("Erste Film", "DE", None)
    assert got[(title_id["tt0000002"], 1)] == ("The Series", None, True)


def test_alias_type_greedy_decomposition(built_db):
    """E4 (database.py:1003-1029): tokens matched in DECLARATION order
    (alternative, dvd, festival, tv, video, working, original, imdbDisplay),
    each match removed from the remainder; unknown leftovers ignored.

    'festivalworking'      -> [festival, working]
    'originalalternative'  -> [alternative, original]  (declaration order!)
    'bogustype'            -> []
    'imdbDisplay'          -> [imdbDisplay]
    """
    db = built_db
    ta = db.read("title_alias")
    title_id = {r.tconst: r.id for r in db.read("title").collect()}
    alias_id = {(r.title_id, r.ordering): r.id for r in ta.collect()}
    tat_id = ids_by_name(db, "title_alias_type")
    got = rows(
        db.read("title_alias_to_title_alias_type"),
        "title_alias_id",
        "ordering",
        "title_alias_type_id",
    )
    assert got == sorted(
        [
            (alias_id[(title_id["tt0000001"], 1)], 1, tat_id["imdbDisplay"]),
            (alias_id[(title_id["tt0000001"], 2)], 1, tat_id["festival"]),
            (alias_id[(title_id["tt0000001"], 2)], 2, tat_id["working"]),
            (alias_id[(title_id["tt0000002"], 1)], 1, tat_id["alternative"]),
            (alias_id[(title_id["tt0000002"], 1)], 2, tat_id["original"]),
        ]
    )


def test_mappable_title_alias_types_unit(spark):
    """The native E4 expression against the pure-Python oracle, all cases
    in one job."""
    from tests.fixtures_imdb import (
        greedy_title_alias_types_oracle as oracle,
        greedy_title_alias_types_spark,
    )

    cases = {
        None: [],
        "": [],
        "imdbDisplay": ["imdbDisplay"],
        "festivalworking": ["festival", "working"],
        "originalalternative": ["alternative", "original"],
        "bogustype": [],
        # removal is global: a repeated token contributes once
        "dvddvd": ["dvd"],
        # 'tv' is checked before 'video' and its removal breaks 'video'
        "tvideo": ["tv"],
        "videotv": ["tv", "video"],
        # non-ASCII around and between tokens
        "ñdvdé東京festival": ["dvd", "festival"],
        "tëv": [],
    }
    got = greedy_title_alias_types_spark(spark, list(cases))
    assert got == list(cases.values())
    assert [oracle(raw) for raw in cases] == list(cases.values())


def test_ensure_worker_code_ships_once(spark):
    from pimdb_spark import catalog

    catalog.ensure_worker_code(spark)
    app = spark.sparkContext.applicationId
    assert app in catalog._SHIPPED_APPS
    n = len(catalog._SHIPPED_APPS)
    catalog.ensure_worker_code(spark)  # idempotent per context
    assert len(catalog._SHIPPED_APPS) == n
    # the shipped zip is visible to the context (and thus to every executor)
    files = spark.sparkContext.listFiles
    assert any("pimdb_spark_" in f for f in files)


def _persisted_rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _assert_released(spark, before, timeout=30.0):
    """Every RDD persisted since ``before`` is unpersisted.  AQE frees the
    id node's cache from its query stage's completion callback, which can
    run just after the action has returned, so wait for it."""
    import time

    deadline = time.monotonic() + timeout
    while not _persisted_rdd_ids(spark) <= before:
        assert time.monotonic() < deadline, _persisted_rdd_ids(spark) - before
        time.sleep(0.05)


def test_surrogate_id_bigint_and_cache_released(spark):
    """with_surrogate_id must (a) assign dense 1..n bigint ids — int32
    silently overflows on billion-row tables — and (b) leave no persisted
    frame behind once the result is materialized (the 15-step build would
    otherwise accumulate a cached copy of every large table)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from pimdb_spark.functions import ids

    before = _persisted_rdd_ids(spark)
    df = spark.range(0, 5000).selectExpr("cast(id as string) AS v")
    out = ids.with_surrogate_id(df, ["v"], id_col="rid")
    assert isinstance(out.schema["rid"].dataType, LongType)
    got = out.agg(F.min("rid"), F.max("rid"), F.countDistinct("rid")).first()
    assert tuple(got) == (1, 5000, 5000)
    _assert_released(spark, before)


@contextlib.contextmanager
def _no_coalesce(spark):
    """Keep every range partition, so the id node really counts and
    offsets more than one partition."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def test_surrogate_id_equals_row_number(spark):
    """With a string key and with a composite (int, int) key, over at least
    four range partitions, the id is exactly row_number() over the same
    order."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pimdb_spark.functions import ids

    base = spark.range(0, 4000).selectExpr(
        "cast(id * 7919 % 4000 as string) AS s", "cast(id % 37 as int) AS a",
        "cast(id div 37 as int) AS b", "id AS payload",
    )
    with _no_coalesce(spark):
        for order in (["s"], ["a", "b"]):
            out = ids.with_surrogate_id(base, order)
            assert out.rdd.getNumPartitions() >= 4, order
            want = base.select(
                F.row_number().over(Window.orderBy(*order)).cast("bigint").alias("id"), "*"
            )
            assert out.columns == want.columns
            assert out.exceptAll(want).count() == 0, order
            assert want.exceptAll(out).count() == 0, order


def test_surrogate_id_is_one_lazy_plan(spark, tmp_path):
    """The id comes from Spark's AttachDistributedSequence node inside the
    returned frame's own plan, and the child that node caches for its
    partition count is released once the write has run."""
    from pimdb_spark.functions import ids

    df = spark.range(0, 3000).selectExpr("cast(id as string) AS v")
    with _no_coalesce(spark):
        out = ids.with_surrogate_id(df, ["v"])
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "AttachDistributedSequence" in plan
        before = _persisted_rdd_ids(spark)
        out.write.parquet(str(tmp_path / "ids"))
        _assert_released(spark, before)
    assert spark.read.parquet(str(tmp_path / "ids")).count() == 3000


def test_build_leaves_no_persisted_frames(spark, imdb_fixture_dir, tmp_path):
    """NormalizedBuild.run() leaves nothing of the build pinned in executor
    storage, and its surrogate ids are dense bigints 1..n."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from pimdb_spark.ingest import transfer
    from pimdb_spark.plans.build import NormalizedBuild
    from pimdb_spark.plans.store import ParquetDatabase

    db = ParquetDatabase(spark, str(tmp_path / "db"))
    transfer(spark, imdb_fixture_dir, db)
    before = _persisted_rdd_ids(spark)
    NormalizedBuild(db).run()
    _assert_released(spark, before)
    for table in ("name", "title", "title_alias", "participation"):
        t = db.read(table)
        assert isinstance(t.schema["id"].dataType, LongType), table
        n = t.count()
        got = t.agg(F.min("id"), F.max("id"), F.countDistinct("id")).first()
        assert tuple(got) == (1, n, n), table


def test_building_entity_frames_starts_no_job(built_db):
    """Building a surrogate-id step's frame is lazy: build_name() and
    build_title() start no Spark job; their ids are computed inside the
    caller's write."""
    from pimdb_spark.plans.build import NormalizedBuild

    build = NormalizedBuild(built_db)
    for step in (build.build_name, build.build_title):
        _, jobs = _jobs(built_db.spark, step)
        assert not jobs, step.__name__


def test_surrogate_ids_under_many_threads(spark):
    """More threads than cores, switching often: every thread gets dense
    bigint ids 1..n for its own frame, and no cached frame is left
    behind."""
    import sys
    import threading

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from pimdb_spark.functions import ids

    errors = []

    def step(n):
        try:
            out = ids.with_surrogate_id(spark.range(n).selectExpr("id AS v"), ["v"])
            assert isinstance(out.schema["id"].dataType, LongType)
            got = out.agg(F.min("id"), F.max("id"), F.countDistinct("id")).first()
            assert tuple(got) == (1, n, n), got
        except Exception as exc:
            errors.append(exc)

    before = _persisted_rdd_ids(spark)
    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=step, args=(50 + i,), daemon=True) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    _assert_released(spark, before)


def test_steps_declare_every_table_they_read(built_db, monkeypatch):
    """Each builder reads exactly the tables its STEPS entry names, so run()
    never starts a step before one of its inputs is written."""
    from pimdb_spark.plans.build import NormalizedBuild
    from pimdb_spark.schemas import NORMALIZED_TABLE_NAMES

    assert sorted(NormalizedBuild.STEPS) == sorted(NORMALIZED_TABLE_NAMES)
    read = built_db.read
    seen = []
    monkeypatch.setattr(built_db, "read", lambda table: seen.append(table) or read(table))
    build = NormalizedBuild(built_db)
    for table, inputs in NormalizedBuild.STEPS.items():
        seen.clear()
        getattr(build, f"build_{table}")()
        assert sorted(set(seen)) == sorted(inputs), table


def test_run_reraises_a_failed_step_and_starts_no_dependent(spark, tmp_path, monkeypatch):
    """A step that raises makes run() re-raise it, without hanging, and no
    step that reads its table (directly or through another step) starts."""
    import threading

    from pimdb_spark.plans.build import NormalizedBuild
    from pimdb_spark.plans.store import ParquetDatabase

    class StepFailed(RuntimeError):
        pass

    def fail(self):
        raise StepFailed("title")

    for table in NormalizedBuild.STEPS:
        monkeypatch.setattr(NormalizedBuild, f"build_{table}", lambda self: None)
    monkeypatch.setattr(NormalizedBuild, "build_title", fail)
    db = ParquetDatabase(spark, str(tmp_path / "db"))
    written = []
    monkeypatch.setattr(db, "write", lambda df, table: written.append(table))
    raised = []

    def build():
        try:
            NormalizedBuild(db).run()
        except StepFailed as exc:
            raised.append(exc)

    thread = threading.Thread(target=build, daemon=True)
    thread.start()
    thread.join(timeout=120)
    assert not thread.is_alive()
    assert len(raised) == 1
    assert "title_type" in written
    dependents = {
        "title",
        "title_alias",
        "title_alias_to_title_alias_type",
        "episode",
        "participation",
        "participation_to_character",
        "name_to_known_for_title",
        "title_to_genre",
    }
    assert not dependents & set(written)


def test_etl_jobs_run_in_the_callers_job_group(spark, imdb_fixture_dir, tmp_path):
    """transfer and run() start their worker threads through
    inheritable_thread_target, so every job started during the call
    carries the caller's job group: the ids strictly between a job run
    just before and one run just after are exactly the group's."""
    from pimdb_spark.ingest import transfer
    from pimdb_spark.plans.build import NormalizedBuild
    from pimdb_spark.plans.store import ParquetDatabase

    def marker():
        return _jobs(spark, lambda: spark.range(1).collect())[1]

    db = ParquetDatabase(spark, str(tmp_path / "db"))
    before = max(marker())
    _, etl = _jobs(spark, lambda: (transfer(spark, imdb_fixture_dir, db), NormalizedBuild(db).run()))
    after = min(marker())
    assert etl == set(range(before + 1, after))
    assert len(etl) > 15


def _compiles(spark) -> int:
    """Classes Janino has compiled in this JVM: the codegen cache's misses."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_second_etl_compiles_no_generated_code(spark, imdb_fixture_dir, tmp_path):
    """The codegen cache holds every class one ETL generates, so a second
    transfer + build in the same session compiles nothing."""
    from pimdb_spark.ingest import transfer
    from pimdb_spark.plans.build import NormalizedBuild
    from pimdb_spark.plans.store import ParquetDatabase

    def etl(name):
        db = ParquetDatabase(spark, str(tmp_path / name))
        transfer(spark, imdb_fixture_dir, db)
        NormalizedBuild(db).run()

    etl("first")
    before = _compiles(spark)
    etl("second")
    assert _compiles(spark) == before


def test_etl_plans_run_no_python(built_db, imdb_fixture_dir):
    """Every frame transfer writes and every build step's frame runs inside
    the JVM: no Python UDF, and no Python list scanned as an RDD."""
    from pimdb_spark.ingest import dataset_file
    from pimdb_spark.plans.build import NormalizedBuild
    from pimdb_spark.schemas import IMDB_DATASET_NAMES
    from pimdb_spark.sources.tsv import read_dataset

    spark = built_db.spark
    build = NormalizedBuild(built_db)
    frames = {
        d: read_dataset(spark, dataset_file(imdb_fixture_dir, d), d) for d in IMDB_DATASET_NAMES
    }
    frames.update({t: getattr(build, f"build_{t}")() for t in NormalizedBuild.STEPS})
    for name, df in frames.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        for node in ("BatchEvalPython", "ArrowEvalPython", "ExistingRDD", "PythonUDF"):
            assert node not in plan, (name, node)


def _jobs(spark, fn):
    """Call ``fn`` under its own job group: its result, and the ids of the
    jobs it launched."""
    import uuid

    sc = spark.sparkContext
    group = f"call-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "call")
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status store lags
    return out, set(sc.statusTracker().getJobIdsForGroup(group))


def test_sql_reuses_views_of_unchanged_tables(spark, tmp_path):
    from pimdb_spark.plans.store import ParquetDatabase

    db = ParquetDatabase(spark, str(tmp_path / "db"))
    # written outside the database: the schemas come from the footers
    spark.range(3).write.parquet(db.path("a"))
    spark.range(5).write.parquet(db.path("b"))
    df, jobs = _jobs(spark, lambda: db.sql("select count(*) from a"))
    assert not jobs  # the first registration starts no schema job either
    assert df.first()[0] == 3
    df, jobs = _jobs(spark, lambda: db.sql("select count(*) from b"))
    assert not jobs
    assert df.first()[0] == 5


def test_sql_sees_every_rewrite(spark, tmp_path):
    """Writes through this instance, another instance and a non-Spark
    writer all change the table's file signature, so the next query reads
    the new files."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pimdb_spark.plans.store import ParquetDatabase

    db = ParquetDatabase(spark, str(tmp_path / "db"))
    q = "select count(*) from t"
    db.write(spark.range(3), "t")
    assert db.sql(q).first()[0] == 3
    db.write(spark.range(7), "t")
    assert db.sql(q).first()[0] == 7
    ParquetDatabase(spark, db.db_dir).write(spark.range(11), "t")
    assert db.sql(q).first()[0] == 11
    shutil.rmtree(db.path("t"))
    os.makedirs(db.path("t"))
    pq.write_table(pa.table({"id": [1, 2]}), os.path.join(db.path("t"), "part-0.parquet"))
    assert db.sql(q).first()[0] == 2


def test_read_reuses_the_schema_of_a_known_table_version(spark, tmp_path):
    """read() hands Spark the schema Spark wrote into the table's footer,
    so it starts no schema-inference job, whoever wrote the table; that
    schema equals the inferred one, and every rewrite is read with its
    own schema."""
    from pimdb_spark.plans.store import ParquetDatabase

    db = ParquetDatabase(spark, str(tmp_path / "db"))
    db.write(
        spark.range(3).selectExpr(
            "id AS k", "cast(id AS string) AS v", "named_struct('x', id) AS s", "array(id) AS a"
        ),
        "t",
    )
    df, jobs = _jobs(spark, lambda: db.read("t"))
    assert not jobs
    assert df.schema == spark.read.parquet(db.path("t")).schema
    assert sorted(r.k for r in df.collect()) == [0, 1, 2]
    db.write(spark.range(2).selectExpr("id * 2 AS w"), "t")
    df = db.read("t")
    assert df.schema == spark.read.parquet(db.path("t")).schema
    assert sorted(r.w for r in df.collect()) == [0, 2]
    # written outside the database: no read infers, not even the first
    spark.range(4).write.parquet(db.path("u"))
    df, jobs = _jobs(spark, lambda: db.read("u"))
    assert not jobs
    assert df.schema == spark.read.parquet(db.path("u")).schema
    _, jobs = _jobs(spark, lambda: db.read("u"))
    assert not jobs



def test_read_in_a_fresh_session_starts_no_schema_job(spark, tmp_path):
    """A new process knows nothing of the one that wrote the database; a
    new session on the same directory stands in for it."""
    from pimdb_spark.plans.store import ParquetDatabase

    db_dir = str(tmp_path / "db")
    ParquetDatabase(spark, db_dir).write(spark.range(3).selectExpr("id AS k"), "t")
    fresh = ParquetDatabase(spark.newSession(), db_dir)
    df, jobs = _jobs(spark, lambda: fresh.read("t"))
    assert not jobs
    _, jobs = _jobs(spark, fresh.register_all)
    assert not jobs
    assert sorted(r.k for r in df.collect()) == [0, 1, 2]


def test_footer_schema_equals_inferred(built_db, examples_db, tmp_path):
    """The schema read() takes from a Spark-written footer, in a session
    that never saw the table written, equals the one Spark infers, and
    reads the same rows.  A table without Spark's footer key (here a
    hive-layout directory) falls back to inference."""
    from pimdb_spark.plans.store import ParquetDatabase

    spark = built_db.spark
    extra = ParquetDatabase(spark, str(tmp_path / "db"))
    extra.write(spark.range(0).selectExpr("id AS k", "cast(id AS string) AS v"), "empty")
    spark.range(4).selectExpr("id", "id % 2 AS p").write.partitionBy("p").parquet(
        extra.path("hive")
    )
    fresh = spark.newSession()
    for db in (built_db, examples_db, extra):
        for t in db.table_names():
            df, jobs = _jobs(spark, lambda: ParquetDatabase(fresh, db.db_dir).read(t))
            inferred = spark.read.parquet(db.path(t))
            assert df.schema == inferred.schema, t
            assert df.count() == inferred.count(), t
            assert t == "hive" or not jobs, t


def test_sql_drops_views_of_vanished_tables(spark, tmp_path):
    """A dropped or externally deleted table raises Spark's
    TABLE_OR_VIEW_NOT_FOUND instead of leaving a view over deleted files."""
    import shutil

    import pytest
    from pyspark.errors import AnalysisException

    from pimdb_spark.plans.store import ParquetDatabase

    db = ParquetDatabase(spark, str(tmp_path / "db"))
    db.write(spark.range(3), "t")
    db.write(spark.range(2), "u")
    assert db.sql("select count(*) from t").first()[0] == 3
    db.drop("t")
    with pytest.raises(AnalysisException, match="TABLE_OR_VIEW_NOT_FOUND"):
        db.sql("select count(*) from t")
    shutil.rmtree(db.path("u"))
    with pytest.raises(AnalysisException, match="TABLE_OR_VIEW_NOT_FOUND"):
        db.sql("select count(*) from u")


def test_failed_overwrite_keeps_the_old_table(spark, tmp_path):
    """An overwrite whose job fails leaves the table's old rows in place,
    so queries on it and on every other table still run."""
    import pytest

    from pimdb_spark.plans.store import ParquetDatabase

    db = ParquetDatabase(spark, str(tmp_path / "db"))
    db.write(spark.range(3), "t")
    db.write(spark.range(2), "u")
    failing = spark.range(5).selectExpr("if(id >= 0, raise_error('boom'), id) AS id")
    with pytest.raises(Exception, match="boom"):
        db.write(failing, "u")
    assert sorted(os.listdir(db.db_dir)) == ["t.parquet", "u.parquet"]
    assert db.sql("select count(*) from t").first()[0] == 3
    assert sorted(r.id for r in db.read("u").collect()) == [0, 1]


def test_sql_views_follow_the_database(built_db, examples_db):
    """Two databases in one session register the same view names over
    different directories; each query answers from its own database."""
    q = "select count(*) from title"
    n_built, n_examples = built_db.read("title").count(), examples_db.read("title").count()
    assert n_built != n_examples
    assert built_db.sql(q).first()[0] == n_built
    assert examples_db.sql(q).first()[0] == n_examples
    assert built_db.sql(q).first()[0] == n_built



def test_sql_registers_only_the_tables_it_names(built_db):
    """A fresh session (a new CLI process) reads and registers the table
    a one-table query names, however it is spelled, and none of the other
    21."""
    from pimdb_spark.plans.store import ParquetDatabase

    assert len(built_db.table_names()) == 22
    n = built_db.read("title").count()
    for q in ("title", "TITLE", "`title`", '"title"'):
        fresh = built_db.spark.newSession()
        fresh.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", "true")
        db = ParquetDatabase(fresh, built_db.db_dir)
        assert db.sql(f"select count(*) from {q}").first()[0] == n
        assert [t.name for t in fresh.catalog.listTables() if t.isTemporary] == ["title"], q
