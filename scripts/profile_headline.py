"""Warm-session profiler for the optimization rounds (guide §1).

Times each requested query with the noop sink in ONE warm session —
N warm draws after a discarded cold draw — and writes the
``explain("formatted")`` plan to plans/<tag>/<name>_<suffix>.txt.
Unlike bench.py this is a diagnostic tool: it reports per-query medians
plus per-query job/stage/task counts and shuffle bytes from a
SparkListener, which is exactly the evidence the optimization guide
(§1.1, §7.2) asks for before touching anything.

Usage:
  python scripts/profile_headline.py [--suffix before] [--reps 3] \
      [--plans-dir plans/r18] [--queries A1_group_agg,...]

Writes a JSON line per query to stdout and a summary at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE
from test_dataengineer2026_spark import registry, tables
from test_dataengineer2026_spark.session import get_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--queries", default=None)
    ap.add_argument("--no-plans", action="store_true")
    args = ap.parse_args()

    names = args.queries.split(",") if args.queries else HEADLINE
    spark = get_session("profile", shuffle_partitions=max(CPUS, 16))
    qs = registry.queries()

    # Warmups identical to bench.py so the floor matches its protocol.
    qs["A1_group_agg"](spark, SF_DIR).write.format("noop").mode("overwrite").save()
    qs["M2_tumbling_window"](spark, SF_DIR).write.format("noop").mode("overwrite").save()
    for _t in tables.TABLES:
        tables.load(spark, SF_DIR, _t)
    tables.register_views(spark, SF_DIR)
    spark.range(32).repartition(32).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    results: dict[str, dict] = {}
    for name in names:
        fn = qs[name]
        samples = []
        jobs0 = None
        for i in range(args.reps + 1):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            dt = round(time.perf_counter() - t0, 3)
            if i == 0:
                continue  # cold draw discarded (codegen/footer lottery)
            samples.append(dt)
        # one more run to count jobs/stages via the REST-less status API
        spark.catalog.clearCache()
        sc.setJobGroup(f"prof_{name}", name)
        df = fn(spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        job_ids = tracker.getJobIdsForGroup(f"prof_{name}") or []
        n_stages = 0
        n_tasks = 0
        for jid in job_ids:
            ji = tracker.getJobInfo(jid)
            if ji is None:
                continue
            for sid in ji.stageIds:
                si = tracker.getStageInfo(sid)
                if si is not None and si.numCompletedTasks > 0:
                    n_stages += 1
                    n_tasks += si.numTasks
        sc.setJobGroup(None, None)
        med = round(statistics.median(samples), 3)
        rec = {
            "name": name,
            "warm_samples": samples,
            "warm_median": med,
            "n_jobs": len(job_ids),
            "n_stages": n_stages,
            "n_tasks": n_tasks,
        }
        results[name] = rec
        print(json.dumps(rec), flush=True)
        if not args.no_plans and args.plans_dir:
            os.makedirs(args.plans_dir, exist_ok=True)
            plan = fn(spark, SF_DIR)._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(
                os.path.join(args.plans_dir, f"{name}_{args.suffix}.txt"), "w"
            ) as f:
                f.write(plan)

    total = round(sum(r["warm_median"] for r in results.values()), 3)
    print(
        json.dumps(
            {
                "summary": "warm_median_total_sec",
                "value": total,
                "queries": {n: r["warm_median"] for n, r in results.items()},
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
