"""Per-job wall-time breakdown for one registry query (guide §1/§7.1).

``bench.py --isolated`` gives the per-query wall; this shows WHERE it
goes inside the query: every Spark job the measured pass triggers, with
its duration, task count and call site. The session is the bench's own
(randas_spark.session.get_spark, unchanged). The warm and measured
passes run under separate job groups, and the jobs are read back from
the driver's status store, so no UI or REST server is needed and no
warm-pass job is mistaken for a measured one. Job groups are thread-local:
a job a query launches from a plain Python thread carries no group and
is not listed.

Usage: python tools/profile_jobs.py [sf_dir] query
Prints one line per measured-pass job: seconds, task count, call site.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import run_clean  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    sf_dir = (
        args.pop(0)
        if args and os.path.isdir(args[0])
        else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    if len(args) != 1:
        raise SystemExit("usage: profile_jobs.py [sf_dir] query")
    name = args[0]

    import __spark_entry__ as e
    from randas_spark.session import get_spark

    qs = e.queries()
    if name not in qs:
        raise SystemExit(f"unknown query {name}")
    spark = get_spark(f"profile-{name}")
    sc = spark.sparkContext

    def run() -> None:
        qs[name](spark, sf_dir).collect()

    # warm pass (JVM/codegen/file cache), then the measured pass
    sc.setJobGroup("warm", name)
    run_clean(spark, run)
    sc.setJobGroup("measured", name)
    wall = run_clean(spark, run)

    rows = []
    it = sc._jsc.sc().statusStore().jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        if not j.jobGroup().contains("measured"):
            continue
        start = j.submissionTime().get().getTime()
        end = j.completionTime().get().getTime() if j.completionTime().isDefined() else start
        rows.append((j.jobId(), (end - start) / 1000, j.numTasks(), j.name()[:110]))
    rows.sort()
    print(f"== {name}: wall {wall:.3f}s, {len(rows)} jobs (measured pass) ==")
    for jid, secs, ntasks, site in rows:
        print(f"job {jid:4d}  {secs:7.3f}s  {ntasks:5d} tasks  {site}")
    jobs_wall = sum(r[1] for r in rows)
    print(f"sum(job walls) {jobs_wall:.3f}s; plan/driver gap {wall - jobs_wall:.3f}s")


if __name__ == "__main__":
    main()
