"""Benchmark of pimdb_spark's product path: the IMDb ETL (``transfer`` +
``NormalizedBuild.run``) and the ``query`` verb (``ParquetDatabase.sql``
then ``print_tsv``).

    python3 perfbench/run.py --workload imdb_etl --seed 1 --seconds 20 --trace 0

Run it from the repository root.  The last line of stdout is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones (see
``metrics.py`` and ``NOTES.md``).  Outputs are checked against DuckDB
outside the timed windows; on a mismatch the command exits with 1.

One process, one client, closed loop, Spark on ``local[4]``.  All files
(inputs, databases, Spark scratch) live under ``.perfbench_work/`` in the
repository and are removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if __name__ == "__main__":
    # Import from the repository root, not from this directory, so the
    # root's ``tests`` package (the input generator) is not shadowed.
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") not in (HERE, ROOT)]

from perfbench import metrics, oracle  # noqa: E402
from perfbench.jobtrace import Tracer  # noqa: E402
from perfbench.stream import make_inputs, query_stream  # noqa: E402

WORKLOADS = ("imdb_etl", "imdb_query")
SETUP_REPEATS = 3
WARMUP_QUERIES = 5
CPUS = "4"


def configure_env(work: str) -> dict[str, str]:
    """Pin the Spark configuration and keep every scratch file in ``work``.
    PYTHONPATH ships this checkout to the Python workers: without it the
    build's Python UDF fails with ModuleNotFoundError whenever the JVM's
    working directory is not the repository root."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.pop("SPARK_MASTER", None)
    os.environ.update(
        SPARK_GRAFT_CPUS=CPUS,
        SPARK_SHUFFLE_PARTITIONS=CPUS,
        SPARK_DRIVER_MEMORY="2g",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def start_session(conf: dict[str, str]):
    from pimdb_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_jvm(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from the JVM's /proc status")


def parquet_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def db_row_counts(db_dir: str) -> dict[str, int]:
    con = oracle.parquet_connection(db_dir)
    tables = [t for (t,) in con.execute("select view_name from duckdb_views() where not internal").fetchall()]
    counts = {t: con.execute(f'select count(*) from "{t}"').fetchone()[0] for t in tables}
    con.close()
    return counts


class Etl:
    """One transfer + build into a fresh database directory."""

    def __init__(self, spark, src: str):
        self.spark = spark
        self.src = src
        self.steps = {t: 0.0 for t in metrics.BUILD_STEPS}
        self.datasets = {t: 0.0 for t in metrics.TRANSFER_TABLES}

    def run(self, tracer: Tracer, db_dir: str, record: bool) -> tuple[float, float]:
        from pimdb_spark.ingest import transfer
        from pimdb_spark.plans.build import NormalizedBuild
        from pimdb_spark.plans.store import ParquetDatabase
        from pimdb_spark.schemas import IMDB_DATASET_NAMES, camelized_dot_name

        db = ParquetDatabase(self.spark, db_dir)
        with tracer.phase("etl.transfer") as tr:
            if tracer.traced:  # one call per dataset, for per-table times
                for d in IMDB_DATASET_NAMES:
                    t0 = time.perf_counter()
                    transfer(self.spark, self.src, db, [d])
                    if record:
                        self.datasets[camelized_dot_name(d)] += time.perf_counter() - t0
            else:
                transfer(self.spark, self.src, db)
        timings: dict[str, float] = {}
        with tracer.phase("etl.build") as b:
            NormalizedBuild(db).run(timings=timings)
        if record:
            for t, v in timings.items():
                self.steps[t] += v
        return tr["wall_s"], b["wall_s"]


def run(workload: str, seed: int, seconds: float, traced: bool, work: str) -> dict:
    conf = configure_env(work)
    src = make_inputs(os.path.join(work, "tsv"), seed)
    expected = oracle.expected_row_counts(src)
    db0 = os.path.join(work, "db0")

    spark = start_session(conf)
    try:
        # The first ETL in the JVM is cold: in imdb_etl it is the warm-up,
        # in imdb_query it builds the database the stream reads.
        tracer = Tracer(spark, traced)
        etl = Etl(spark, src)
        cold_tracer = tracer if workload == "imdb_query" else Tracer(spark, False)
        cold_transfer_s, cold_build_s = etl.run(
            cold_tracer, db0, record=workload == "imdb_query"
        )
        cold_ok = db_row_counts(db0) == expected

        # Set-up, repeated: open the database (every verb opens one; the
        # query verb also registers all of its tables).
        from pimdb_spark.plans.store import ParquetDatabase

        setup = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            db = ParquetDatabase(spark, db0)
            db.register_all()
            setup.append(time.perf_counter() - t0)

        if workload == "imdb_etl":
            ops, failed, result_rows = etl_loop(etl, tracer, expected, seconds, work)
        else:
            ops, failed, result_rows = query_loop(db, tracer, seed, seconds, db0)

        if not ops:
            raise RuntimeError(f"no {workload} operation completed correctly")
        if traced:
            out_metrics = layer_metrics(tracer, etl, ops, result_rows)
            out_metrics["etl.cold_transfer_s"] = cold_transfer_s
            out_metrics["etl.cold_build_s"] = cold_build_s
            out_metrics["jvm.peak_rss_mb"] = jvm_peak_rss_mb(spark)
        else:
            tsv_bytes = sum(os.path.getsize(os.path.join(src, f)) for f in os.listdir(src))
            out_metrics = {
                "setup_s": metrics.median(setup),
                "op_p50_s": metrics.median(ops),
                "etl.db_bytes_per_tsv_byte": parquet_bytes(db0) / tsv_bytes,
            }
    finally:
        stop_jvm(spark)

    if not cold_ok:
        print("row-count mismatch in the first ETL", file=sys.stderr)
    units = metrics.per_layer() if traced else metrics.END_TO_END
    return {
        "correct": failed == 0 and cold_ok,
        "attempted": len(ops) + failed,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in out_metrics.items()},
    }


def window(seconds: float):
    """Closed-loop timing window: yields once per operation.  The first
    always runs; each later one starts only if, taking as long as the last,
    it ends within ``seconds``.  So a run holds whole operations and the
    count does not flip between runs when an operation lasts about as long
    as the window."""
    deadline = time.perf_counter() + seconds
    last = 0.0
    while True:
        t0 = time.perf_counter()
        if last and t0 + last > deadline:
            return
        yield
        last = time.perf_counter() - t0


def etl_loop(etl: Etl, tracer: Tracer, expected: dict, seconds: float, work: str):
    ops: list[float] = []
    failed = 0
    for _ in window(seconds):
        db_dir = os.path.join(work, f"db{len(ops) + failed + 1}")
        transfer_s, build_s = etl.run(tracer, db_dir, record=True)
        if db_row_counts(db_dir) == expected:
            ops.append(transfer_s + build_s)
        else:
            print(f"row-count mismatch in {db_dir}", file=sys.stderr)
            failed += 1
        shutil.rmtree(db_dir)
    return ops, failed, 0


def query_loop(db, tracer: Tracer, seed: int, seconds: float, db_dir: str):
    from pimdb_spark.sources.tsv import print_tsv

    # Untimed warm-up on its own stream: the first queries in a JVM are
    # slower (JIT, Catalyst code paths) and would skew the timed median.
    warmup = query_stream(f"warmup-{seed}")
    for _ in range(WARMUP_QUERIES):
        with contextlib.redirect_stdout(io.StringIO()):
            print_tsv(db.sql(next(warmup)[1]))

    done: list[tuple[str, str, float, list[str]]] = []
    errors = 0
    stream = query_stream(seed)
    for _ in window(seconds):
        name, sql = next(stream)
        sink = io.StringIO()
        try:
            with tracer.phase("query.sql") as a:
                df = db.sql(sql)
            with tracer.phase("query.drain") as b, contextlib.redirect_stdout(sink):
                print_tsv(df)
        except Exception:
            traceback.print_exc()
            errors += 1
            continue
        done.append((name, sql, a["wall_s"] + b["wall_s"], oracle.split_tsv(sink.getvalue())[1]))

    con = oracle.parquet_connection(db_dir)
    expected: dict[str, str] = {}
    ops: list[float] = []
    for name, sql, latency, rows in done:
        if sql not in expected:
            expected[sql] = oracle.digest(oracle.expected_rows(con, sql))
        if oracle.digest(rows) == expected[sql]:
            ops.append(latency)
        else:
            print(f"result mismatch ({name}): {sql}", file=sys.stderr)
    con.close()
    result_rows = sum(len(rows) for *_, rows in done)
    return ops, errors + len(done) - len(ops), result_rows


def layer_metrics(tracer: Tracer, etl: Etl, ops: list[float], result_rows: int) -> dict:
    out: dict[str, float] = {}
    for p in metrics.PHASES:
        for c, v in tracer.per_call(p).items():
            out[f"{p}.{c}"] = v
    n_etl = tracer.calls["etl.build"] or 1
    for t, v in etl.steps.items():
        out[f"etl.build.step_s.{t}"] = v / n_etl
    out["etl.build.construct_s"] = out["etl.build.wall_s"] - sum(
        out[f"etl.build.step_s.{t}"] for t in metrics.BUILD_STEPS
    )
    for t, v in etl.datasets.items():
        out[f"etl.transfer.{t}_s"] = v / n_etl
    n_queries = tracer.calls["query.drain"]
    out["query.result_rows"] = result_rows / n_queries if n_queries else 0.0
    query_input = tracer.input_records["query.sql"] + tracer.input_records["query.drain"]
    out["query.input_rows_per_result_row"] = query_input / result_rows if result_rows else 0.0
    out["trace.op_p50_s"] = metrics.median(ops)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import pimdb_spark.plans.build  # noqa: F401  (fail before any work)
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
