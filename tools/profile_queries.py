"""Per-query profiler.  For each named query (default: the top-N
slowest in ``BENCH_DETAIL_sf0.1.json``), runs a warm-up pass and then
times the full result through a ``noop`` sink, and records:

- wall seconds (min of N passes, same estimator as bench.py),
- the number of Spark JOBS the query triggers (statusTracker job ids
  in the query's job group) — at 17 MB/sf0.1 the suite is fixed-
  overhead dominated (sched canary ≈ 0.1 s/job), so job count is the
  first-order cost model,
- the number of stages across those jobs (each extra stage ≈ one
  shuffle boundary or retry),
- the build: wall seconds to construct the DataFrame, the jobs it
  launched, and their summed wall seconds. Build time that no job
  explains is driver-side work (py4j expression building, analysis)
  that the job count cannot see.

The action is bench.py's ``force`` (a ``noop`` write) in both the
warm-up and the timed passes, so the job counts come from the plan a
consumer of the whole result runs.

Usage: python tools/profile_queries.py [sf_dir] [q... | -n TOPN]
Output: one JSON line per query to stdout + a summary table.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import force  # noqa: E402


def job_wall_s(sc, job_ids) -> float:
    """Summed submission-to-completion seconds of finished jobs, read
    from the driver's status store (kept with the UI off)."""
    store = sc._jsc.sc().statusStore()
    total_ms = 0
    for jid in job_ids:
        job = store.job(jid)
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isDefined() and done.isDefined():
            total_ms += done.get().getTime() - sub.get().getTime()
    return total_ms / 1000


def main() -> None:
    argv = list(sys.argv[1:])
    topn = 40
    if "-n" in argv:
        i = argv.index("-n")
        topn = int(argv[i + 1])
        del argv[i : i + 2]
    passes = 2
    if "-p" in argv:
        i = argv.index("-p")
        passes = int(argv[i + 1])
        del argv[i : i + 2]
    confs = []
    while "-c" in argv:
        i = argv.index("-c")
        k, _, v = argv[i + 1].partition("=")
        confs.append((k, v))
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.1"
    names = argv[1:]

    import __spark_entry__ as entry
    from nyc_taxi_data_prediction_pyspark_spark.session import get_spark

    qs = entry.queries()
    if not names:
        detail = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "BENCH_DETAIL_sf0.1.json",
        )
        with open(detail) as fh:
            timings = json.load(fh)["queries"]
        names = [k for k, _ in sorted(timings.items(), key=lambda kv: -kv[1])[:topn]]

    spark = get_spark("profile")
    for k, v in confs:
        spark.conf.set(k, v)
        print(f"conf {k}={v}", file=sys.stderr)
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    # warm-up at the smallest SF (bench.py methodology)
    warm = "/root/testdata/sf0.001"
    for n in names:
        try:
            force(qs[n](spark, warm))
        except Exception as e:  # noqa: BLE001
            print(f"WARN warmup {n}: {type(e).__name__}: {e}", file=sys.stderr)

    rows = []
    for n in names:
        best = None
        for p in range(passes):
            group = f"prof_{n}_{p}"
            sc.setJobGroup(group, n)
            t0 = time.perf_counter()
            df = qs[n](spark, sf_dir)
            build_s = time.perf_counter() - t0
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            build_ids = tracker.getJobIdsForGroup(group)
            force(df)
            dt = time.perf_counter() - t0
            sc.setJobGroup(None, None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            job_ids = tracker.getJobIdsForGroup(group)
            n_stages = 0
            for jid in job_ids:
                ji = tracker.getJobInfo(jid)
                if ji is not None:
                    n_stages += len(ji.stageIds)
            rec = {
                "q": n,
                "wall": round(dt, 3),
                "jobs": len(job_ids),
                "stages": n_stages,
                "build_s": round(build_s, 3),
                "build_jobs": len(build_ids),
                "build_job_s": round(job_wall_s(sc, build_ids), 3),
            }
            if best is None or rec["wall"] < best["wall"]:
                best = rec
        rows.append(best)
        print(json.dumps(best), flush=True)

    rows.sort(key=lambda r: -r["wall"])
    print(f"\n{'wall':>7} {'jobs':>5} {'stages':>7} {'build':>7} {'b.jobs':>6} {'b.job_s':>7}  query")
    for r in rows:
        print(
            f"{r['wall']:7.3f} {r['jobs']:5d} {r['stages']:7d} {r['build_s']:7.3f}"
            f" {r['build_jobs']:6d} {r['build_job_s']:7.3f}  {r['q']}"
        )
    print(
        f"\ntotal {sum(r['wall'] for r in rows):.1f}s over {len(rows)} queries; "
        f"jobs {sum(r['jobs'] for r in rows)}, stages {sum(r['stages'] for r in rows)}"
    )


if __name__ == "__main__":
    main()
