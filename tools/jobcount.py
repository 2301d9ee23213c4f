"""Deterministic job/stage census for one or more registry entries.

Runs each named entry once (after the bench warmup) inside its own job
group and reports wall seconds plus the Spark job and stage counts the
entry triggered — the noise-immune metric the r16/r17 optimization
rounds use to certify structural claims.

Usage: python tools/jobcount.py [--staged] [sf_dir] query [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = list(sys.argv[1:])
    staged = "--staged" in args
    if staged:
        args.remove("--staged")
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir = args.pop(0)
    names = args

    import __spark_entry__ as entrymod

    qs = dict(entrymod.queries())
    if hasattr(entrymod, "staged_queries"):
        qs.update(entrymod.staged_queries())
    # a mistyped sf_dir is not a directory, so it lands here as a name
    unknown = [n for n in names if n not in qs]
    if unknown or not names:
        print(__doc__.strip().splitlines()[-1], file=sys.stderr)
        if unknown:
            print(f"jobcount.py: unknown entry name(s): {' '.join(unknown)}",
                  file=sys.stderr)
        sys.exit(2)

    import bench as benchmod
    from embeddinghub_spark.session import get_spark

    spark = get_spark(app_name="jobcount")
    spark.sparkContext.setLogLevel("ERROR")
    benchmod._warmup(spark, sf_dir)

    tracker = spark.sparkContext.statusTracker()
    for n in names:
        gid = f"jobcount:{n}"
        spark.sparkContext.setJobGroup(gid, n)
        t0 = time.time()
        qs[n](spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        jids = tracker.getJobIdsForGroup(gid)
        nstages = sum(
            len(tracker.getJobInfo(j).stageIds)
            for j in jids
            if tracker.getJobInfo(j)
        )
        print(f"{n:35s} wall={dt:7.3f}s jobs={len(jids):3d} stages={nstages:3d}",
              flush=True)
        spark.sparkContext.setJobGroup(None, None)


if __name__ == "__main__":
    main()
