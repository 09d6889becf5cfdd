#!/usr/bin/env python3
"""One-shot box-cleanliness probe: the SAME CPU and shuffle probe
queries bench.py runs pre/post, against the SAME reference constants,
in a ~20-second standalone session — for deciding WHETHER to spend 15
minutes on a bench run (or whether to trust one already recorded)
without hand-rolling the probe inline every time.

Discipline: one discarded warm-up rep, then median-of-3 per probe —
a quick screen, not bench's pre/post median-of-5, so treat the ratios
as band estimates rather than exactly interchangeable with bench's
recorded calibration pair. The session IS bench's session
(`session.get_spark`): same master/core env overrides
(SPARK_GRAFT_CPUS / SPARK_GRAFT_MASTER / SPARK_GRAFT_DRIVER_MEM),
same `apply_engine_conf` (AQE, shuffle partitions), so a CLEAN
verdict here predicts bench's own probe ratios on this box instead
of a hardcoded local[32] stand-in.

Exit 0 when both ratios are at or under their clean thresholds
(CPU <= 0.75 is the condition under which headline totals were
recorded; shuffle <= 1.15 is bench.py's SHUF_DEGRADED retry threshold), exit 1
otherwise — so shell loops can wait for a clean window:

    until python scripts/probe_box.py; do sleep 120; done && python bench.py
"""

from __future__ import annotations

import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from bench import (  # noqa: E402
    _CAL_REF_SEC,
    _SHUF_REF_SEC,
    _probe_cpu,
    _probe_median,
    _probe_shuffle,
)

CPU_CLEAN = 0.75  # the 14.4-16.0 s headline band was recorded under it
SHUF_CLEAN = 1.15  # bench.py SHUF_DEGRADED: retry threshold


def main() -> int:
    from fintech_data_lake_as_code_spark.session import get_spark

    spark = get_spark("fintech-data-lake-probe")
    spark.sparkContext.setLogLevel("ERROR")

    _probe_cpu(spark), _probe_shuffle(spark)  # JIT/codegen warm-up, discarded
    c = _probe_median(_probe_cpu, spark, 3)
    s = _probe_median(_probe_shuffle, spark, 3)
    cr, sr = c / _CAL_REF_SEC, s / _SHUF_REF_SEC
    clean = cr <= CPU_CLEAN and sr <= SHUF_CLEAN
    sys.stdout.write(
        f"\nPROBE cpu={c:.3f}s ratio={cr:.2f} (clean<={CPU_CLEAN}) "
        f"shuffle={s:.3f}s ratio={sr:.2f} (clean<={SHUF_CLEAN}) "
        f"=> {'CLEAN' if clean else 'DEGRADED'}\n"
    )
    spark.stop()
    return 0 if clean else 1


if __name__ == "__main__":
    sys.exit(main())
