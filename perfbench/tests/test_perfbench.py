"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import duckdb
import pytest

from perfbench import metrics, oracle, run
from perfbench.stream import TEMPLATES, make_inputs, query_stream

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- percentile rule ---------------------------------------------------------


def test_samples_beyond_nearest_rank():
    assert metrics.samples_beyond(20, 50) == 10
    assert metrics.samples_beyond(19, 50) == 9
    assert metrics.samples_beyond(100, 90) == 10
    assert metrics.samples_beyond(99, 90) == 9


def test_tail_percentile_needs_ten_samples_beyond():
    assert metrics.tail_percentile(19) is None
    assert metrics.tail_percentile(20) == 50
    assert metrics.tail_percentile(99) == 80
    assert metrics.tail_percentile(100) == 90
    assert metrics.tail_percentile(1000) == 99


def test_median():
    assert metrics.median([5.0, 1.0, 4.0, 2.0, 3.0]) == 3.0
    assert metrics.median([2.0, 1.0]) == 1.5


def test_window_starts_only_operations_that_fit():
    import time

    def count(seconds, op_s):
        n = 0
        for _ in run.window(seconds):
            time.sleep(op_s)
            n += 1
        return n

    assert count(0.0, 0.01) == 1  # the first operation always runs
    assert count(0.7, 0.2) == 3  # a fourth would end at 0.8 s


# -- metric catalogue --------------------------------------------------------


def test_metric_names_are_well_formed_and_unique():
    names = list(metrics.END_TO_END) + list(metrics.per_layer())
    assert len(names) == len(set(names))
    for name in names:
        assert metrics.NAME_RE.match(name), name


def test_benchmark_json_matches_the_code():
    b = _benchmark_json()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == metrics.per_layer()
    assert [w["name"] for w in b["workloads"]] == list(run.WORKLOADS)
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in b["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])


def test_build_steps_match_normalized_tables():
    from pimdb_spark.schemas import NORMALIZED_TABLE_NAMES

    assert sorted(metrics.BUILD_STEPS) == sorted(NORMALIZED_TABLE_NAMES)


# -- determinism of inputs and stream ---------------------------------------


def _read_all(d: str) -> dict[str, bytes]:
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = fh.read()
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _read_all(make_inputs(str(tmp_path / "a"), seed=7))
    b = _read_all(make_inputs(str(tmp_path / "b"), seed=7))
    c = _read_all(make_inputs(str(tmp_path / "c"), seed=8))
    assert len(a) == 7
    assert a == b
    assert a != c


def test_same_seed_gives_same_query_stream():
    def first(seed, n=3 * len(TEMPLATES)):
        s = query_stream(seed)
        return [next(s) for _ in range(n)]

    assert first(3) == first(3)
    assert first(3) != first(4)
    # every round visits each template once
    names = [name for name, _ in first(5)]
    for i in range(0, len(names), len(TEMPLATES)):
        assert sorted(names[i : i + len(TEMPLATES)]) == sorted(TEMPLATES)


# -- output checks -----------------------------------------------------------


def test_row_count_oracle_on_hand_written_fixture(tmp_path):
    from tests.fixtures_imdb import write_fixtures

    counts = oracle.expected_row_counts(write_fixtures(str(tmp_path)))
    assert counts == {
        # keep-first dedup drops one duplicate each from three datasets
        "NameBasics": 3, "TitleAkas": 4, "TitleBasics": 4, "TitleCrew": 2,
        "TitleEpisode": 2, "TitlePrincipals": 5, "TitleRatings": 2,
        "title_alias_type": 8, "genre": 3, "profession": 3, "title_type": 3,
        "name": 3, "title": 4, "title_alias": 4,
        "title_alias_to_title_alias_type": 5,
        "episode": 1,  # tt0000004's parent is unknown
        "participation": 5, "character": 3,
        "temp_characters_to_character": 3, "participation_to_character": 6,
        "name_to_known_for_title": 3,  # tt9999999 is dangling
        "title_to_genre": 5,
    }


def test_greedy_alias_types():
    assert oracle.greedy_alias_types("festivalworking") == ["festival", "working"]
    assert oracle.greedy_alias_types("originalalternative") == ["alternative", "original"]
    assert oracle.greedy_alias_types("bogustype") == []
    assert oracle.greedy_alias_types(None) == []


def _tiny_db(tmp_path) -> str:
    db = tmp_path / "db"
    (db / "t.parquet").mkdir(parents=True)
    con = duckdb.connect()
    con.execute(
        "copy (select * from (values (1, 'a', 1.5), (2, null, 2.0)) v(id, s, x)) "
        f"to '{db / 't.parquet' / 'part-0.parquet'}' (format parquet)"
    )
    con.close()
    return str(db)


def test_query_check_accepts_the_right_rows_in_any_order(tmp_path):
    con = oracle.parquet_connection(_tiny_db(tmp_path))
    printed = "id\ts\tx\n2\t\\N\t2.0\n1\ta\t1.5\n"
    header, rows = oracle.split_tsv(printed)
    assert header == "id\ts\tx"
    assert oracle.digest(rows) == oracle.digest(oracle.expected_rows(con, "select * from `t`"))


def test_corrupted_query_result_fails_its_check(tmp_path):
    con = oracle.parquet_connection(_tiny_db(tmp_path))
    expected = oracle.digest(oracle.expected_rows(con, "select * from t"))
    for corrupted in (
        "id\ts\tx\n1\ta\t1.5\n",  # a row lost
        "id\ts\tx\n1\ta\t1.5\n2\t\\N\t2.0\n2\t\\N\t2.0\n",  # a row duplicated
        "id\ts\tx\n1\ta\t1.5\n2\tNone\t2.0\n",  # NULL printed wrongly
    ):
        assert oracle.digest(oracle.split_tsv(corrupted)[1]) != expected


def test_corrupted_table_fails_the_row_count_check(tmp_path):
    db = _tiny_db(tmp_path)
    assert run.db_row_counts(db) == {"t": 2}
    shutil.copy(os.path.join(db, "t.parquet", "part-0.parquet"),
                os.path.join(db, "t.parquet", "part-1.parquet"))
    assert run.db_row_counts(db) != {"t": 2}


# -- failing loudly ----------------------------------------------------------


def test_unknown_workload_name_fails_loudly(capsys):
    with pytest.raises(SystemExit) as exc:
        run.main(["--workload", "catalog_ops", "--seed", "1", "--seconds", "1"])
    assert exc.value.code != 0
    assert "invalid choice" in capsys.readouterr().err


def test_fails_without_the_program(tmp_path):
    """Only BENCHMARK.json and perfbench/: exit nonzero, print no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "imdb_etl", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120, env=env,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
