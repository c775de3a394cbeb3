"""Ad-hoc: run one declared entry with a job-census listener.

Usage: python scripts/profile_entry.py q116_lakehouse_merge [runs]

Prints per-run wall plus a Spark job census (job id, duration, stage/task
counts, description) so fixed per-job machinery can be attributed to
operator phases. Measurement-only tooling; never imported by the engine.
"""

from __future__ import annotations

import gc
import os
import sys
import time

here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, here)

from e02_spark.queries import all_queries, reset_shared_state
from e02_spark.session import get_spark


def main() -> int:
    names = [a for a in sys.argv[1:] if not a.isdigit()]
    runs = int(next((a for a in sys.argv[1:] if a.isdigit()), "1"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("e02-profile-entry")
    spark.sparkContext.setLogLevel("WARN")
    qs = all_queries()
    # same warmup as bench.py
    qs["q01_pricing_summary"](spark, sf_dir).count()
    spark.range(0, 64, 1, 32).mapInPandas(lambda it: it, schema="id long").count()

    sc = spark.sparkContext
    jvm = sc._jvm
    gw = sc._gateway
    # StatusStore-based census: poll the app status store after the run
    # (no listener registration needed from Python).
    store = sc._jsc.sc().statusStore()

    for name in names:
        for r in range(runs):
            jobs_before = {j.jobId() for j in _jobs(store, gw)}
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            n = df.count()
            wall = time.perf_counter() - t0
            time.sleep(0.5)
            jobs = [j for j in _jobs(store, gw) if j.jobId() not in jobs_before]
            print(f"\n=== {name} run {r}: wall={wall:.3f}s rows={n} "
                  f"jobs={len(jobs)} ===")
            total_ms = 0
            for j in sorted(jobs, key=lambda x: x.jobId()):
                sub = j.submissionTime()
                comp = j.completionTime()
                dur = -1.0
                if sub.isDefined() and comp.isDefined():
                    dur = (comp.get().getTime() - sub.get().getTime()) / 1000.0
                    total_ms += dur
                desc = j.description()
                d = desc.get() if desc.isDefined() else ""
                nm = j.name()
                label = d if d else nm
                print(f"  job {j.jobId():4d}  {dur:7.3f}s  tasks={j.numTasks():4d}  {label[:110]}")
            print(f"  --- sum job durations: {total_ms:.3f}s (wall {wall:.3f}s)")
            reset_shared_state(spark)
            gc.collect()
    return 0


def _jobs(store, gw):
    it = store.jobsList(None).iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


if __name__ == "__main__":
    sys.exit(main())
