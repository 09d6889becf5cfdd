#!/usr/bin/env python3
"""Crash-recovery net over the marker-guarded seed families.

Seed races need LIVE nets, not code audits: a live two-session race
found an embedded-Derby single-JVM latent that audits had missed. This
script covers a session killed with SIGKILL **mid
cold-seed** — landing lock held, marker unwritten, data files possibly
half-landed — followed by a fresh peer that must recover through the
committed()/marker paths alone.

Per seed family:
  1. clear the family's shared scratch (all rebuildable by design),
  2. spawn a driver-style victim (`rehearse_prefix.py --keys <key>`)
     in its own process group,
  3. poll for seed activity (lock file / seed dir / data landing) while
     the completion marker is still absent, then SIGKILL the whole
     group (python AND the JVM — an orphaned JVM would finish the seed
     and hide the crash),
  4. snapshot the debris (marker? data files?),
  5. run a fresh peer on the same key and require a clean compare.

The kill window is raced honestly: if the marker lands before the kill
the attempt is recorded as MISSED and retried with a longer grace
delay, up to --attempts. Exit 0 iff every family both LANDED a
mid-seed kill and the fresh peer recovered.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from fintech_data_lake_as_code_spark.io import SCRATCH_ROOT, sf_tag  # noqa: E402


def _base(sf: str) -> str:
    return os.path.join(SCRATCH_ROOT, sf_tag(sf))


def _family_specs(sf: str, victim_pid: int) -> dict[str, dict]:
    """activity: paths whose appearance means the seed is in flight.
    markers: completion markers — ALL present means the window closed.
    clear: shared state wiped for the cold start (victim pid paths are
    cleared too so a retry never inherits the previous attempt)."""
    b = _base(sf)
    return {
        "stream_src_events": dict(
            # stream_tumbling reads the SHARED stream_src_events landing
            # (stream_watermark_late uses its own pid-keyed stream_late)
            key="stream_tumbling",
            clear=[
                os.path.join(b, "stream_src_events"),
                os.path.join(b, "stream_src_events.lock"),
            ],
            activity=[
                os.path.join(b, "stream_src_events.lock"),
                os.path.join(b, "stream_src_events"),
            ],
            markers=[os.path.join(b, "stream_src_events", "_SEED")],
        ),
        "stream_src_docs+postings": dict(
            key="stream_dedup_incremental",
            clear=[
                os.path.join(b, "stream_src_docs"),
                os.path.join(b, "stream_src_docs.lock"),
                os.path.join(b, "stream_dedup_inc"),
                os.path.join(b, "stream_dedup_inc_ckpt"),
            ],
            activity=[
                os.path.join(b, "stream_src_docs.lock"),
                os.path.join(b, "stream_src_docs"),
            ],
            markers=[os.path.join(b, "stream_src_docs", "_SEED")],
        ),
        "bucketed_layout": dict(
            key="join_bucketed_colocated",
            clear=[
                os.path.join(b, "bucketed_lineitem"),
                os.path.join(b, "bucketed_lineitem.lock"),
                os.path.join(b, "bucketed_orders"),
                os.path.join(b, "bucketed_orders.lock"),
            ],
            activity=[
                os.path.join(b, "bucketed_lineitem.lock"),
                os.path.join(b, "bucketed_lineitem"),
                os.path.join(b, "bucketed_orders.lock"),
                os.path.join(b, "bucketed_orders"),
            ],
            # window stays open until BOTH tables' layouts commit — a
            # kill between the two is the interesting half-done state
            markers=[
                os.path.join(b, "bucketed_lineitem", "_SEED"),
                os.path.join(b, "bucketed_orders", "_SEED"),
            ],
        ),
        "derby": dict(
            key="scan_jdbc",
            clear=[os.path.join(b, "derby", f"pid{victim_pid}")]
            if victim_pid
            else [os.path.join(b, "derby")],
            activity=[
                os.path.join(b, "derby", f"pid{victim_pid}.lock"),
                os.path.join(b, "derby", f"pid{victim_pid}", "oltp_db"),
            ],
            markers=[os.path.join(b, "derby", f"pid{victim_pid}", "_SEED")],
            # after recovery the fresh peer's sweep must have reclaimed
            # the dead victim's per-process debris
            swept_after=[
                os.path.join(b, "derby", f"pid{victim_pid}"),
                os.path.join(b, "derby", f"pid{victim_pid}.lock"),
            ],
        ),
        "bmp_files": dict(
            key="scan_binaryfile",
            clear=[
                os.path.join(b, "bmp_files"),
                os.path.join(b, "bmp_files.lock"),
            ],
            activity=[
                os.path.join(b, "bmp_files.lock"),
                os.path.join(b, "bmp_files"),
            ],
            markers=[os.path.join(b, "bmp_files", "_SEED")],
        ),
    }


def _spawn(key: str, sf: str) -> subprocess.Popen:
    return subprocess.Popen(
        [
            sys.executable,
            os.path.join(REPO, "scripts", "rehearse_prefix.py"),
            "--keys",
            key,
            "--sf",
            sf,
        ],
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
        start_new_session=True,  # own pgid: SIGKILL reaps the JVM too
    )


def _clear(paths: list[str]) -> None:
    for p in paths:
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
        elif os.path.exists(p):
            try:
                os.unlink(p)
            except OSError:
                pass


def _any_activity(spec: dict) -> bool:
    return any(os.path.exists(p) for p in spec["activity"])


def _all_markers(spec: dict) -> bool:
    return all(os.path.exists(m) for m in spec["markers"])


def _has_debris(spec: dict) -> bool:
    """At least one real FILE landed under a seed dir (task output or
    `_temporary` commit files) — the mid-write crash state."""
    return any(files for c in spec["clear"] for _, _, files in os.walk(c))


def _run_family(
    name: str,
    sf: str,
    attempts: int,
    timeout: float,
    grace: float = 0.0,
    stage: str = "lock",
) -> bool:
    graces = [g + grace for g in (0.0, 0.15, 0.35, 0.6, 1.0, 1.5)]
    for attempt in range(attempts):
        # spec depends on the victim pid (derby paths), so spawn first
        # against a template spec just to clear cold state
        _clear(_family_specs(sf, 0)[name]["clear"])
        key = _family_specs(sf, 0)[name]["key"]
        victim = _spawn(key, sf)
        spec = _family_specs(sf, victim.pid)[name]
        killed_state = None
        deadline = time.time() + timeout
        while time.time() < deadline and victim.poll() is None:
            if _all_markers(spec):
                break  # window closed — marker landed first
            if _has_debris(spec) if stage == "data" else _any_activity(spec):
                time.sleep(graces[min(attempt, len(graces) - 1)])
                if not _all_markers(spec) and victim.poll() is None:
                    os.killpg(victim.pid, signal.SIGKILL)
                    victim.wait()
                    killed_state = {
                        "markers_present": [
                            m for m in spec["markers"] if os.path.exists(m)
                        ],
                        "data_files": sum(
                            len(files)
                            for c in spec["clear"]
                            if os.path.isdir(c)
                            for _, _, files in os.walk(c)
                        ),
                    }
                break
            time.sleep(0.03)
        if killed_state is not None and len(
            killed_state["markers_present"]
        ) == len(spec["markers"]):
            # every marker landed before the SIGKILL arrived — the seed
            # committed, so this trial exercises nothing; retry
            killed_state = None
        if killed_state is None:
            if victim.poll() is None:
                os.killpg(victim.pid, signal.SIGKILL)
                victim.wait()
            sys.stdout.write(
                f"\nRACE {name} attempt {attempt + 1}: MISSED the "
                "mid-seed window (marker landed or victim finished)\n"
            )
            continue
        sys.stdout.write(
            f"\nRACE {name} attempt {attempt + 1}: KILLED victim "
            f"pid={victim.pid} mid-seed "
            f"(markers_present={killed_state['markers_present']}, "
            f"debris_files={killed_state['data_files']})\n"
        )
        sys.stdout.flush()
        # the fresh peer must recover through committed()/marker alone
        peer = subprocess.run(
            [
                sys.executable,
                os.path.join(REPO, "scripts", "rehearse_prefix.py"),
                "--keys",
                key,
                "--sf",
                sf,
            ],
            capture_output=True,
            text=True,
            timeout=600,
        )
        ok = peer.returncode == 0 and "1/1 ok" in peer.stdout
        sys.stdout.write(
            f"RACE {name}: fresh peer after crash -> "
            f"{'RECOVERED' if ok else 'FAILED'} (rc={peer.returncode})\n"
        )
        if not ok:
            sys.stdout.write(peer.stdout[-2000:] + peer.stderr[-2000:])
            return False
        for p in spec.get("swept_after", []):
            if os.path.exists(p):
                sys.stdout.write(
                    f"RACE {name}: dead victim debris NOT swept: {p}\n"
                )
                return False
        return True
    sys.stdout.write(
        f"\nRACE {name}: could not land a mid-seed kill in "
        f"{attempts} attempts — window too narrow, NOT a failure of the "
        "recovery path (record as untested)\n"
    )
    return True


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--attempts", type=int, default=6)
    ap.add_argument("--timeout", type=float, default=180.0)
    ap.add_argument(
        "--families",
        default=None,
        help="comma-separated subset of families (default: all)",
    )
    ap.add_argument(
        "--grace",
        type=float,
        default=0.0,
        help="extra seconds between first activity sighting and the "
        "SIGKILL — 0 kills at lock acquisition, ~1-2 kills mid-write",
    )
    ap.add_argument(
        "--stage",
        choices=("lock", "data"),
        default="lock",
        help="kill trigger: 'lock' = first activity (lock/dir appears), "
        "'data' = first real task-output file lands (mid-write state)",
    )
    args = ap.parse_args()
    names = list(_family_specs(args.sf, 0))
    if args.families:
        names = [n for n in args.families.split(",") if n]
    failures = [
        n
        for n in names
        if not _run_family(
            n, args.sf, args.attempts, args.timeout, args.grace, args.stage
        )
    ]
    sys.stdout.write(
        f"\nCRASH-RECOVERY NET: {len(names) - len(failures)}/{len(names)} "
        f"families recovered{'' if not failures else ' FAIL=' + str(failures)}\n"
    )
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
