#!/usr/bin/env python
"""Run registry queries and report wall-clock + Spark JOB COUNT per query.

Usage: python scripts/profile_jobs.py [out.json] [name ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.01).

With no names it runs the whole registry.  One timed run per query
(build + noop materialization — the same methodology the driver's
correctness sweep pays), sequential, with a per-query job description
so the UI/event log stays readable.  Output: JSON {name: {sec, n_jobs,
err}} ranked slowest-first, written to out.json; a totals line and the
15 slowest queries are printed.

Job count is the per-query delta of the highest job id the status
tracker knows — the direct measure for "coalesced per-batch job
counts" (VERDICT r12 item 3): iterative/streaming operators pay a fixed
scheduling + barrier cost per driver-synchronous job, so removing
standalone materialization jobs shows up here even when total compute
is unchanged.  Job ids are monotone, so the delta stays right after the
status store starts evicting old jobs (``spark.ui.retainedJobs``, 1000
by default) — a delta of the retained-job list size would read 0 from
then on.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from heatmap_spark import get_spark  # noqa: E402
from heatmap_spark.queries import REGISTRY  # noqa: E402


def _max_job_id(spark) -> int:
    """Highest job id started so far (-1 before the first job)."""
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None), default=-1)


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/job_profile.json"
    names = sys.argv[2:] or list(REGISTRY)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark("job-profile")
    out: dict[str, dict] = {}
    for i, name in enumerate(names):
        spark.sparkContext.setJobDescription(name)
        j0, t0 = _max_job_id(spark), time.perf_counter()
        try:
            REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            err = None
        except Exception:  # noqa: BLE001
            err = traceback.format_exc(limit=3)
        wall = round(time.perf_counter() - t0, 3)
        out[name] = {"sec": wall, "n_jobs": _max_job_id(spark) - j0, "err": err}
        spark.sparkContext.setJobDescription(None)
        spark.catalog.clearCache()
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for rid in list(jmap.keySet().toArray()):
            jmap.get(rid).unpersist()
        print(f"[{i + 1}/{len(names)}] {name}: {wall}s, {out[name]['n_jobs']} jobs"
              + ("  ERROR" if err else ""), flush=True)
    ranked = dict(sorted(out.items(), key=lambda kv: -kv[1]["sec"]))
    with open(out_path, "w") as fh:
        json.dump({"sf_dir": sf_dir, "queries": ranked}, fh, indent=1)
    print(json.dumps({"total_sec": round(sum(q["sec"] for q in out.values()), 1),
                      "total_jobs": sum(q["n_jobs"] for q in out.values()),
                      "n": len(out),
                      "n_errors": sum(q["err"] is not None for q in out.values())}))
    print("top 15:", json.dumps(
        {n: q["sec"] for n, q in list(ranked.items())[:15]}, indent=1))


if __name__ == "__main__":
    main()
