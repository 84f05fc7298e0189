"""Per-key timing harness for optimization iteration and scale receipts:
bench.py's own probe, warm runs and pass loop over just the named keys,
so a change can be measured without paying the full 26-key suite.

    python tools/qtime.py <key> [<key> ...]

A key is any registered query or bench key (``ann_graph_serve``,
``corpus_build_full``, ``corpus_build_fixed_lm``). Env:
$SPARK_GRAFT_SF_DIR (timed data, default sf0.1), $SPARK_GRAFT_WARMUP_DIR
(when set, the untimed warm run happens there — e.g. a 50 K corpus ahead
of timing a 500 K one), $SPARK_GRAFT_BENCH_PASSES (default 5),
$SPARK_GRAFT_CPUS. Prints one JSON line: the probe, the dirs, the pass
count, the sum of the medians, and per key the wall samples with their
median/min/max, an untimed row count (docs written for a corpus key),
the Spark jobs and stages per timed pass in the key's job group, for any
other key the py4j round trips of building its plan once (the
construction layer), and for a corpus key the last build's funnel and
stage walls. A decade exponent is log10 of the ratio of two runs' medians.
NOT the driver bench contract — iteration tooling only.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from vat_etl_spark.plans import py4j_round_trips  # noqa: E402
from vat_etl_spark.session import get_spark  # noqa: E402
from vat_etl_spark.sources.catalog import load_tables  # noqa: E402


def _group_jobs(spark, key: str) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(key))


def main() -> None:
    keys = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    warm_dir = os.environ.get("SPARK_GRAFT_WARMUP_DIR")
    n_passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "5"))
    spark = get_spark("qtime")
    probe = bench.cpu_probe(spark)

    for df in load_tables(spark, sf_dir).values():
        df.schema
    bench.warm_keys(spark, keys, sf_dir, warm_dir)
    warm_jobs = {k: _group_jobs(spark, k) for k in keys}
    samples, records = bench.time_passes(spark, keys, sf_dir, n_passes)

    tracker = spark.sparkContext.statusTracker()
    out: dict[str, dict] = {}
    for k, s in samples.items():
        jobs = _group_jobs(spark, k) - warm_jobs[k]
        infos = [tracker.getJobInfo(j) for j in jobs]
        stages = sum(len(i.stageIds) for i in infos if i)
        row = {
            "median": round(statistics.median(s), 3),
            "min": round(min(s), 3),
            "max": round(max(s), 3),
            "samples": [round(x, 3) for x in s],
            "jobs_per_pass": round(len(jobs) / len(s), 2),
            "stages_per_pass": round(stages / len(s), 2),
        }
        if k in bench.CORPUS_KEYS:
            row["rows"] = records[k]["docs_written"]
            row["funnel"] = records[k]["funnel"]
            row["stage_walls"] = records[k]["stage_walls"]
        else:
            with py4j_round_trips(spark) as trips:
                plan = bench.key_plan(spark, k, sf_dir)
            row["round_trips"] = trips.n
            row["rows"] = plan.count()
            bench.release_caches(spark)
        out[k] = row
    print(
        json.dumps(
            {
                "probe": probe,
                "passes": n_passes,
                "sf_dir": sf_dir,
                "warm_dir": warm_dir or sf_dir,
                "total": round(sum(r["median"] for r in out.values()), 3),
                "queries": out,
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
