"""Query registry — the engine's declared surface.

Every operator from SURVEY.md §2 registers here as a named query: a Spark
callable `(spark, sf_dir) -> DataFrame` plus, when SQL-expressible, the
equivalent DuckDB oracle SQL. `__spark_entry__.queries()` / `oracle_sql()`
are thin views over this registry, and the pytest differential harness
iterates it directly.

`registry()` returns keys in grading order: by the round of each key's
latest green verdict in the committed CORRECTNESS_r*.json files, oldest
first, with never-green and `_STALE_SINCE`-marked keys ahead of all and
registration order breaking ties. Without those files it is plain
registration order.

Oracle-parity conventions (keep these or the value-hash comparison breaks):
- alias EVERY computed column, identically in Spark and SQL;
- round float aggregates (sums/avgs/scores) in BOTH engines;
- emit epoch seconds (`unix_timestamp` / floor(epoch())) instead of raw
  timestamps — robust to driver session timezone;
- deterministic tie-breaks on every rank/top-k/limit (append a key column);
- cast floor/ceil and similar to the same type on both sides.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: SparkQuery
    oracle: Optional[str]  # DuckDB SQL over the pre-registered table views
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: Optional[str] = None) -> Callable[[SparkQuery], SparkQuery]:
    """Decorator: register a query under `name` with an optional oracle."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query key {name!r}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, (fn.__doc__ or "").strip())
        return fn

    return deco


def _load_all_modules() -> None:
    """Import every module that registers queries (idempotent).

    Import order fixes registration order, the tie-break in `registry()`:
    within the same latest-green round, earlier-imported modules grade
    first. The order below keeps cheap scan/function families ahead of
    streaming (slow to grade, each query runs a real micro-batch).
    """
    from .sources import jdbc  # noqa: F401
    from .functions import scalar, udfs  # noqa: F401
    from .operators import (  # noqa: F401
        windows,
        sorts,
        text,
        similarity,
        rules,
        graph,
    )
    from .sources import datagen, pyds  # noqa: F401
    from .operators import scans, scale  # noqa: F401
    from .streaming import queries as streaming_queries  # noqa: F401
    from .operators import (  # noqa: F401
        aggregates,
        cdc,
        dedup,
        joins,
        projections,
    )


# Each grading round checks a bounded prefix (50 keys) of `registry()`
# and records each key's verdict in CORRECTNESS_r{N}.json at the repo
# root. Ranking keys by the round of their latest green verdict, oldest
# first, keeps every verdict fresh on a rolling basis.
_VERDICT_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The one hand-set input: key -> the last round whose green verdict does
# not cover the key's current code. A marked key grades with the
# never-green keys until a newer CORRECTNESS file grades it green; the
# mark then expires by itself.
_STALE_SINCE: dict[str, int] = {
    # edge list rebuilt as one explode instead of a union of projections
    "dedup_cluster_cc": 22,
}


def _is_green(verdict: object) -> bool:
    return (
        isinstance(verdict, dict)
        and bool(
            verdict.get("rows_match")
            and verdict.get("schema_match")
            and verdict.get("hash_match")
        )
        and not verdict.get("err")
    )


@functools.lru_cache(maxsize=None)
def _latest_green(verdict_dir: str) -> dict[str, int]:
    """key -> the latest round whose CORRECTNESS file grades it green.

    Files are read in numeric round order (r9 < r10 < r100). An unreadable
    file is skipped so that importing the registry never fails; the
    registry tests fail on it instead."""
    rounds = []
    for path in glob.glob(os.path.join(verdict_dir, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m:
            rounds.append((int(m.group(1)), path))
    latest: dict[str, int] = {}
    for rnd, path in sorted(rounds):
        try:
            with open(path) as f:
                verdicts = json.load(f)
        except (OSError, ValueError):
            continue
        if isinstance(verdicts, dict):
            latest.update((k, rnd) for k, v in verdicts.items() if _is_green(v))
    return latest


def _rank(name: str, latest: dict[str, int]) -> int:
    rnd = latest.get(name, 0)
    return 0 if rnd <= _STALE_SINCE.get(name, 0) else rnd


def registry() -> dict[str, QuerySpec]:
    _load_all_modules()
    latest = _latest_green(_VERDICT_DIR)
    return dict(sorted(_REGISTRY.items(), key=lambda kv: _rank(kv[0], latest)))


def all_queries() -> dict[str, SparkQuery]:
    return {k: v.fn for k, v in registry().items()}


def all_oracles() -> dict[str, str]:
    return {k: v.oracle for k, v in registry().items() if v.oracle is not None}
