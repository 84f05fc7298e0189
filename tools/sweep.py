"""Full-registry steady-state sweep: execute EVERY registered query at the
bench scale factor into a noop sink and record per-query wall seconds.

This is the tail-finder behind SCALE.md's "Fuzzy-dedup profile" and the
per-round artifacts/SWEEP_r0N.json: bench.py times the 13 curated
headliners with a median-of-N protocol; this sweep instead answers "which
of the 200+ registrations is slow at all" with one pass each (first-pass
numbers INCLUDE codegen compile — fine for ranking, not for regression
gating, which bench.py owns).

Usage: python tools/sweep.py [out.json]   (env: SPARK_GRAFT_SF_DIR)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vat_etl_spark.queries import QUERIES  # noqa: E402
from vat_etl_spark.session import get_spark, release_engine_caches  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_path = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.path.join(repo, "artifacts", "SWEEP.json")
    )
    os.makedirs(os.path.dirname(os.path.abspath(out_path)), exist_ok=True)
    spark = get_spark("sweep")
    # one untimed smoke-scale pass of the first query so session-level
    # one-time costs (codegen pipeline, broadcast machinery, noop sink)
    # don't land on whichever query happens to run first
    smoke = os.environ.get("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    first = next(iter(QUERIES))
    QUERIES[first](
        spark, smoke if os.path.isdir(smoke) else sf_dir
    ).write.format("noop").mode("overwrite").save()
    release_engine_caches(spark)
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    t_all = time.perf_counter()
    for name, fn in QUERIES.items():
        t0 = time.perf_counter()
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            timings[name] = round(time.perf_counter() - t0, 3)
        except Exception as e:  # record, keep sweeping
            errors[name] = f"{type(e).__name__}: {e}"[:300]
        release_engine_caches(spark)  # no query reads another's cache
        print(
            f"{name}: {timings.get(name, 'ERROR')}",
            file=sys.stderr,
            flush=True,
        )
    doc = {
        "sf_dir": sf_dir,
        "total_sec": round(time.perf_counter() - t_all, 1),
        "n_queries": len(timings),
        "errors": errors,
        "queries": dict(sorted(timings.items(), key=lambda kv: -kv[1])),
    }
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1)
    print(json.dumps({k: doc[k] for k in ("total_sec", "n_queries", "errors")}))


if __name__ == "__main__":
    main()
