"""Standing full-registry ORACLE sweep at sf0.1 (verdict-r10 task 6): run
every queries()/oracle_sql() pair through the in-repo mirror of the
driver's DuckDB comparison gate ONE DECADE above the driver's sf0.01 —
the round-10 one-off sweep at this scale caught 3 latent
magnitude-dependent parity bugs (scaled-decimal→double conversion past
2^53 micros, UDF half-cent tie domain) that the sf0.01 gate passed on
luck. Recording it per round makes magnitude-dependent parity a standing
artifact instead of a heroic one-off; re-run after ANY exact-sum / UDF /
conversion-path change. Note the hierarchical-average pair explicitly:
havg_merge divides-then-casts where davg casts-then-divides
(functions/numeric.py) — both engine-paired, but different rounding
sequences that only sf0.1+ magnitudes exercise. ``run_all`` also fails
any query whose plan breaks ``plans.plan_violations`` (self-equal join
predicates, CartesianProduct, undeclared single-partition windows).

Usage: python tools/oracle_sweep.py [out.json] [sf_dir]
(defaults: artifacts/ORACLE_sf01_r12.json, /root/testdata/sf0.1;
correctness-only — walls are NOT comparable, runs may share the box)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vat_etl_spark.oracle import run_all  # noqa: E402
from vat_etl_spark.session import get_spark  # noqa: E402


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_path = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.path.join(repo, "artifacts", "ORACLE_sf01_r12.json")
    )
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_spark("oracle-sweep")
    t0 = time.time()
    results = run_all(spark, sf_dir)
    doc = {
        "sf_dir": sf_dir,
        "wall_sec": round(time.time() - t0, 1),
        "n_queries": len(results),
        "n_pass": sum(1 for ok, _ in results.values() if ok),
        "failures": {
            name: msg for name, (ok, msg) in results.items() if not ok
        },
        "rows_only": [
            name
            for name, (ok, msg) in results.items()
            if ok and "rows-only" in msg
        ],
    }
    os.makedirs(os.path.dirname(os.path.abspath(out_path)), exist_ok=True)
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    print(json.dumps({k: doc[k] for k in ("n_queries", "n_pass", "wall_sec")}))
    if doc["failures"]:
        print(json.dumps(doc["failures"], indent=1))
        sys.exit(1)


if __name__ == "__main__":
    main()
