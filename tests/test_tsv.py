"""print_tsv: the query verb's stdout sink (SURVEY §2.1 S5).

Rows are served one result partition at a time through a local socket;
these tests pin the order, the formatting, the job shape that bounds
driver memory, and what a failing job or a failing sink does."""

from __future__ import annotations

import io
import time
import uuid
from contextlib import contextmanager, redirect_stdout

import pytest

from pimdb_spark.sources.tsv import print_tsv

FAILS_IN_PARTITION_3 = (
    "select case when id < 500 then id else cast(concat('x', id) as int) end as v "
    "from range(0, 1000, 1, 4)"
)


@contextmanager
def _conf(spark, key: str, value: str):
    prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _drain(df) -> list[str]:
    out = io.StringIO()
    with redirect_stdout(out):
        print_tsv(df)
    return out.getvalue().splitlines()


def test_rows_print_in_collect_order_across_partitions(spark):
    with _conf(spark, "spark.sql.adaptive.coalescePartitions.enabled", "false"):
        df = spark.sql(
            "select id % 97 as k, id from range(0, 1000, 1, 8) order by k desc, id"
        )
        assert df.rdd.getNumPartitions() >= 4
        lines = _drain(df)
        expected = [f"{r.k}\t{r.id}" for r in df.collect()]
    assert lines[0] == "k\tid"
    assert lines[1:] == expected


def test_null_prints_as_backslash_n_and_empty_result_prints_the_header(spark):
    df = spark.sql("select id, if(id = 1, null, concat('v', id)) as s from range(3)")
    assert _drain(df) == ["id\ts", "0\tv0", "1\t\\N", "2\tv2"]
    assert _drain(df.filter("id < 0")) == ["id\ts"]


def test_drain_runs_one_single_task_job_per_partition(spark):
    """At most one result partition is fetched per job; ``collect``
    would run one job for all four."""
    sc = spark.sparkContext
    group = f"drain-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "drain")
    try:
        lines = _drain(spark.range(0, 40, 1, 4))
    finally:
        sc._jsc.clearJobGroup()
    assert len(lines) == 41
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
    assert len(jobs) == 4
    for job in jobs:
        assert [tracker.getStageInfo(s).numTasks for s in job.stageIds] == [1]


def test_a_job_failing_in_a_later_partition_raises_after_the_earlier_rows(spark):
    out = io.StringIO()
    with _conf(spark, "spark.sql.ansi.enabled", "true"):
        with pytest.raises(Exception, match="CAST_INVALID_INPUT"), redirect_stdout(out):
            print_tsv(spark.sql(FAILS_IN_PARTITION_3))
    assert out.getvalue().splitlines() == ["v"] + [str(i) for i in range(500)]


def test_cli_query_failing_in_a_later_partition_raises(spark, tmp_path, capsys):
    from pimdb_spark.cli import main

    with _conf(spark, "spark.sql.ansi.enabled", "true"):
        with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
            main(["query", FAILS_IN_PARTITION_3, "--database", str(tmp_path / "db")])
    assert capsys.readouterr().out.splitlines() == ["v"] + [str(i) for i in range(500)]


class _FailingSink(io.StringIO):
    """Raises once the header and the first row have been written."""

    def write(self, s: str) -> int:
        if self.getvalue().count("\n") >= 2:
            raise BrokenPipeError("sink closed")
        return super().write(s)


def test_a_failing_sink_raises_and_leaves_no_job_or_serving_thread(spark):
    """The result is larger than the socket's buffers, so the serving
    thread is still writing when the sink fails; closing the socket ends
    it even while the error, and so print_tsv's frame, is still held."""
    sc = spark.sparkContext
    with pytest.raises(BrokenPipeError, match="sink closed") as raised, redirect_stdout(
        _FailingSink()
    ):
        print_tsv(spark.range(0, 2_000_000, 1, 4))
    deadline = time.monotonic() + 10
    while _busy(sc) and time.monotonic() < deadline:
        time.sleep(0.2)
    assert not _busy(sc), raised.traceback


def _busy(sc) -> list:
    """Active jobs, else live threads serving a print_tsv stream."""
    threads = sc._jvm.java.lang.Thread.getAllStackTraces().keySet().toArray()
    return list(sc.statusTracker().getActiveJobsIds()) or [
        t.getName() for t in threads if t.getName() == "print-tsv"
    ]
