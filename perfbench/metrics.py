"""Metric names, units and the percentile rule.

Kept free of Spark imports so the benchmark's own tests can check the
metric catalogue without starting a JVM.  BENCHMARK.json lists the same
names; ``tests/test_perfbench.py`` holds the two in step.
"""

from __future__ import annotations

import math
import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# Printed with --trace 0 on every workload.
END_TO_END: dict[str, str] = {
    "setup_s": "s",
    "op_p50_s": "s",
    "etl.db_bytes_per_tsv_byte": "ratio",
}

# Phases the benchmark wraps in a Spark job group (one per public call).
PHASES = ("etl.transfer", "etl.build", "query.sql", "query.drain")

# Counters recorded per phase, read from the Spark status store.
COUNTERS: dict[str, str] = {
    "wall_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "input_bytes": "bytes",
    "failed_tasks": "count",
}

# NormalizedBuild.run(timings=...) keys, in the order run() writes them.
BUILD_STEPS = (
    "title_alias_type",
    "genre",
    "profession",
    "title_type",
    "name",
    "title",
    "title_alias",
    "title_alias_to_title_alias_type",
    "episode",
    "participation",
    "character",
    "temp_characters_to_character",
    "participation_to_character",
    "name_to_known_for_title",
    "title_to_genre",
)

# Dataset tables written by transfer, one per IMDb dataset.
TRANSFER_TABLES = (
    "NameBasics",
    "TitleAkas",
    "TitleBasics",
    "TitleCrew",
    "TitleEpisode",
    "TitlePrincipals",
    "TitleRatings",
)


def per_layer() -> dict[str, str]:
    """Every metric printed with --trace 1, name -> unit."""
    out = {f"{p}.{c}": u for p in PHASES for c, u in COUNTERS.items()}
    out.update({f"etl.build.step_s.{t}": "s" for t in BUILD_STEPS})
    out["etl.build.construct_s"] = "s"
    out.update({f"etl.transfer.{t}_s": "s" for t in TRANSFER_TABLES})
    out["query.result_rows"] = "count"
    out["query.input_rows_per_result_row"] = "ratio"
    out["etl.cold_transfer_s"] = "s"
    out["etl.cold_build_s"] = "s"
    out["jvm.peak_rss_mb"] = "MB"
    out["trace.op_p50_s"] = "s"
    return out


def samples_beyond(n: int, q: float) -> int:
    """Samples strictly above the nearest-rank q-th percentile of n."""
    return n - math.ceil(q / 100.0 * n)


def tail_percentile(n: int, ladder=(99, 95, 90, 80, 50)) -> float | None:
    """Highest percentile on ``ladder`` with at least ten samples beyond
    it, or None when even the median has fewer."""
    for q in ladder:
        if samples_beyond(n, q) >= 10:
            return q
    return None


def median(values: list[float]) -> float:
    ordered = sorted(values)
    mid = len(ordered) // 2
    return ordered[mid] if len(ordered) % 2 else (ordered[mid - 1] + ordered[mid]) / 2
