"""Result checks against the registry's DuckDB oracles.

The DuckDB side of a check does not depend on the engine, so its answer is
computed once per lake and cached next to it as a digest of the canonical
rows (`plans.oracle_check.canonical_rows`: column-name-sorted, stringified,
row-sorted). A check then runs only the Spark side and compares columns,
row count and digest, which is what `plans.oracle_check.compare` compares.
"""

from __future__ import annotations

import hashlib
import json
import os


def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def _answer(pdf) -> dict:
    from fintech_data_lake_as_code_spark.plans.oracle_check import canonical_rows

    return {
        "columns": sorted(pdf.columns),
        "rows": len(pdf),
        "sha256": _digest(canonical_rows(pdf)),
    }


def ensure_cache(cache_dir: str, lake_dir: str, keys) -> None:
    """Compute and store the oracle answer of every key not yet cached."""
    from fintech_data_lake_as_code_spark.plans.oracle_check import duck_connection
    from fintech_data_lake_as_code_spark.registry import all_oracles

    oracles = all_oracles()
    for key in keys:
        if not oracles.get(key):
            raise KeyError(f"{key} has no DuckDB oracle")
    missing = [k for k in keys if not os.path.exists(_path(cache_dir, k))]
    if not missing:
        return
    os.makedirs(cache_dir, exist_ok=True)
    con = duck_connection(lake_dir)
    try:
        for key in missing:
            answer = _answer(con.sql(oracles[key]).df())
            tmp = f"{_path(cache_dir, key)}.{os.getpid()}.tmp"
            with open(tmp, "w") as f:
                json.dump(answer, f)
            os.replace(tmp, _path(cache_dir, key))
    finally:
        con.close()


def _path(cache_dir: str, key: str) -> str:
    """Cache file of `key`, named after its oracle SQL so that an edited
    oracle is computed afresh."""
    from fintech_data_lake_as_code_spark.registry import all_oracles

    sql = all_oracles()[key].encode()
    return os.path.join(cache_dir, f"{key}-{hashlib.sha256(sql).hexdigest()[:12]}.json")


def check(cache_dir: str, key: str, spark_df) -> list[str]:
    """Issues found comparing `spark_df` with the cached oracle answer;
    an empty list means the result matches."""
    with open(_path(cache_dir, key)) as f:
        want = json.load(f)
    got = _answer(spark_df.toPandas())
    return [
        f"{field}: spark={got[field]} oracle={want[field]}"
        for field in ("columns", "rows", "sha256")
        if got[field] != want[field]
    ]
