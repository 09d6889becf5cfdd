"""Grading-order invariants over the registry's verdict derivation.

The driver grades a 50-key prefix of ``registry()`` per round and records
the per-key verdicts in ``CORRECTNESS_r{N}.json``. The registry derives
each key's latest green round from those files and grades the oldest
verdicts first, after never-green and ``_STALE_SINCE``-marked keys.

These tests re-parse the files independently and check that:

- the derived latest-green map equals the files' own record;
- ``registry()`` is sorted by the derived rank, registration order
  breaking ties;
- every committed file parses, so the derivation's skip of an unreadable
  file can never silently reorder the grading prefix;
- no files means registration order, rounds sort numerically, and a
  stale mark ranks a key first until a newer file grades it green.
"""

from __future__ import annotations

import glob
import json
import os

import pytest

from fintech_data_lake_as_code_spark import registry as R

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _green(v: dict) -> bool:
    return bool(
        v.get("rows_match") and v.get("schema_match") and v.get("hash_match")
    ) and not v.get("err")


def _round_of(path: str) -> int:
    return int(os.path.basename(path).split("_r")[1].split(".")[0])


def _committed_files() -> list[str]:
    return glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))


@pytest.fixture(scope="module")
def green_rounds() -> dict[str, list[int]]:
    """key -> sorted rounds with a full green verdict, from the files."""
    greens: dict[str, set[int]] = {}
    for path in _committed_files():
        with open(path) as f:
            data = json.load(f)
        for key, verdict in data.items():
            if isinstance(verdict, dict) and _green(verdict):
                greens.setdefault(key, set()).add(_round_of(path))
    assert greens, "no CORRECTNESS files found — run from the repo root"
    return {k: sorted(v) for k, v in greens.items()}


def _registration_order() -> list[str]:
    R._load_all_modules()
    return list(R._REGISTRY)


def _write_round(d, rnd: int, verdicts: dict[str, bool]) -> None:
    ok = {"rows_match": True, "schema_match": True, "hash_match": True,
          "err": None}
    bad = dict(ok, hash_match=False)
    with open(os.path.join(d, f"CORRECTNESS_r{rnd}.json"), "w") as f:
        json.dump({k: ok if g else bad for k, g in verdicts.items()}, f)


def test_committed_verdict_files_parse():
    """Every committed file is a {key: verdict dict} map.

    The derivation skips an unreadable file so that importing the
    registry never fails; this makes such a file fail here instead."""
    paths = _committed_files()
    assert paths, "no CORRECTNESS files found — run from the repo root"
    for path in paths:
        with open(path) as f:
            data = json.load(f)
        assert isinstance(data, dict) and data, path
        bad = [k for k, v in data.items() if not isinstance(v, dict)]
        assert not bad, f"{path}: non-dict verdicts for {bad}"


def test_derived_latest_green_matches_files(green_rounds):
    derived = R._latest_green(R._VERDICT_DIR)
    assert derived == {k: max(v) for k, v in green_rounds.items()}


def test_registry_sorted_by_derived_rank(green_rounds):
    """Rank = latest green round, 0 for never-green or stale-marked keys;
    equal ranks keep registration order."""
    def rank(k: str) -> int:
        latest = max(green_rounds.get(k, [0]))
        return 0 if latest <= R._STALE_SINCE.get(k, 0) else latest

    reg = _registration_order()
    keys = list(R.registry())
    assert sorted(keys) == sorted(reg)
    assert keys == sorted(reg, key=rank)


def test_no_verdict_files_gives_registration_order(tmp_path, monkeypatch):
    monkeypatch.setattr(R, "_VERDICT_DIR", str(tmp_path))
    assert list(R.registry()) == _registration_order()


def test_rounds_resolve_numerically(tmp_path, monkeypatch):
    """r9 < r10 < r100, although "r100" < "r9" as strings."""
    first, second = _registration_order()[:2]
    _write_round(tmp_path, 9, {first: True, second: True})
    _write_round(tmp_path, 10, {first: False, second: True})
    _write_round(tmp_path, 100, {first: True, second: False})
    monkeypatch.setattr(R, "_VERDICT_DIR", str(tmp_path))
    monkeypatch.setattr(R, "_STALE_SINCE", {})
    assert R._latest_green(str(tmp_path)) == {first: 100, second: 10}
    keys = list(R.registry())
    assert keys.index(second) < keys.index(first)


def test_stale_mark_expires_with_a_newer_green(tmp_path, monkeypatch):
    first, second = _registration_order()[:2]
    monkeypatch.setattr(R, "_STALE_SINCE", {second: 5})
    old, red, green = (tmp_path / d for d in ("old", "red", "green"))
    for d in (old, red, green):
        d.mkdir()
        _write_round(d, 5, {first: True, second: True})
    _write_round(red, 6, {first: True, second: False})
    _write_round(green, 6, {first: True, second: True})

    def order(d) -> list[str]:
        monkeypatch.setattr(R, "_VERDICT_DIR", str(d))
        keys = list(R.registry())
        return [k for k in keys if k in (first, second)]

    assert order(old) == [second, first]  # marked: ranks with never-green
    assert order(red) == [second, first]  # a red grade keeps the mark
    assert order(green) == [first, second]  # r6 green: mark expired


def test_stale_set_keys_exist():
    """_STALE_SINCE must reference registered keys only."""
    keys = set(R.registry().keys())
    unknown = set(R._STALE_SINCE) - keys
    assert not unknown, f"stale-regrade names not in registry: {sorted(unknown)}"


# Keys whose LATEST recorded grade legitimately-or-knowingly carries zero
# oracle rows. A 0-row hash match certifies schema only — the operator
# could be arbitrarily wrong and still grade green — so every entry here
# is either scheduled to be made discriminating (with the round) or must
# carry a rationale. Remove each key when its fix re-grades non-empty.
VACUOUS_EMPTY_ALLOWED: set[str] = set()
# (join_anti and rule_b10_cross_sell self-expired with CORRECTNESS_r16:
# both now grade non-empty — 5 and 83 oracle rows — so the whitelist is
# empty for the first time since the r15 vacuousness audit.)


def test_latest_grades_are_not_vacuously_empty(green_rounds):
    """No key's latest green verdict may rest on a 0-row result.

    The r15 vacuousness audit over recorded `oracle_rows` found two keys
    grading green on structurally empty results (the fn_collation class
    of hazard, caught there by hand). This pins the audit: any future
    key — or fixture regeneration — that drains a graded result to zero
    rows fails here instead of silently certifying nothing."""
    # fold in NUMERIC round order (ADVICE r16 #2): lexicographic order
    # breaks at round 100+ (r100 sorts before r16)
    latest: dict[str, tuple[int, int | None]] = {}
    for path in sorted(
        glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")),
        key=lambda p: int(os.path.basename(p).split("_r")[1].split(".")[0]),
    ):
        rnd = int(os.path.basename(path).split("_r")[1].split(".")[0])
        try:
            data = json.load(open(path))
        except (json.JSONDecodeError, OSError):
            continue
        for key, v in data.items():
            if isinstance(v, dict) and _green(v):
                latest[key] = (rnd, v.get("oracle_rows"))
    empty = {
        k: rnd
        for k, (rnd, n) in latest.items()
        if n == 0 and k not in VACUOUS_EMPTY_ALLOWED
    }
    assert not empty, (
        f"keys whose latest green grade is a 0-row match: {empty} — make "
        "the query discriminating on the fixture or whitelist with a "
        "rationale in VACUOUS_EMPTY_ALLOWED"
    )
    stale_whitelist = {
        k
        for k in VACUOUS_EMPTY_ALLOWED
        if k in latest and latest[k][1] not in (0, None)
    }
    assert not stale_whitelist, (
        f"whitelisted keys now grade non-empty — drop them from "
        f"VACUOUS_EMPTY_ALLOWED: {sorted(stale_whitelist)}"
    )
