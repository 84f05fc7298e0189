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
sequences that only sf0.1+ magnitudes exercise.

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
from vat_etl_spark.session import get_spark, release_engine_caches  # noqa: E402

# Single-partition-window allowlist (round 14, verdict-r13 task 4): every
# registered query whose OPTIMIZED plan may contain a Window with an empty
# partitionSpec, with the bound that makes the single-partition sort
# irrelevant at any data volume. The sweep counts unpartitioned Window
# nodes per query and fails on any mismatch — a new global window over an
# unbounded relation can no longer hide in the WindowExec warning noise.
# (The scale-critical rank paths have two-pass variants plan-pinned in
# tests/test_plans.py; this is the registry-wide inventory.)
_UNPARTITIONED_WINDOW_ALLOWLIST = {
    # query -> (n_windows, bound)
    "dq_key_skew_profile": (1, "rank over top-5 post-limit (5 rows)"),
    "text_zipf_rank_freq": (1, "rank over top-30 post-limit (30 rows)"),
    "ts_gapfill_interpolate": (1, "calendar-day spine (~2.4k rows/SF-free)"),
    "ts_rolling_median": (1, "day grain, 7-row centered frames"),
    "ts_yoy_growth": (1, "month grain (|months| rows)"),
    "retrieval_hybrid_rrf": (2, "per-branch top-50 post-limit ranks"),
    "retrieval_eval_metrics": (3, "LIMIT-bounded ranks (10/50 rows)"),
}

# Cache-state-dependent entries: ts_cusum_drift's day-grain windows are
# usually hidden behind the persist substitution (tests/test_plans.py
# documents both states and checks the calendar bound whenever visible);
# the sweep accepts any count up to the cap and never flags absence.
_UNPARTITIONED_WINDOW_OPTIONAL = {
    "ts_cusum_drift": (2, "day-grain CUSUM walk (calendar; cache-dependent)"),
}


def _unpartitioned_windows(df) -> int:
    """Count Window nodes with an empty partitionSpec in the OPTIMIZED
    logical plan (stable pre-AQE; 1:1 with the runtime `WindowExec: No
    Partition Defined` warnings)."""
    nodes = json.loads(df._jdf.queryExecution().optimizedPlan().toJSON())
    return sum(
        1
        for n in nodes
        if n.get("class", "").endswith("logical.Window")
        and not n.get("partitionSpec", [])
    )


def window_inventory(spark, sf_dir: str) -> tuple[dict, list[str]]:
    """(found, violations): unpartitioned-window counts per registered
    query, and the allowlist mismatches."""
    import __spark_entry__ as entrymod

    found: dict[str, int] = {}
    for name, fn in entrymod.queries().items():
        c = _unpartitioned_windows(fn(spark, sf_dir))
        # an earlier query's persisted frame would substitute a matching
        # subplan of a later one and hide its windows
        release_engine_caches(spark)
        if c:
            found[name] = c
    def _ok(name: str, c: int) -> bool:
        if name in _UNPARTITIONED_WINDOW_OPTIONAL:
            return c <= _UNPARTITIONED_WINDOW_OPTIONAL[name][0]
        return c == _UNPARTITIONED_WINDOW_ALLOWLIST.get(name, (0,))[0]

    violations = [
        f"{name}: {c} unpartitioned windows, allowlisted "
        f"{_UNPARTITIONED_WINDOW_ALLOWLIST.get(name, (0, 'NOT LISTED'))}"
        for name, c in sorted(found.items())
        if not _ok(name, c)
    ] + [
        f"{name}: allowlisted ({c}, {why!r}) but plan has none — stale entry"
        for name, (c, why) in sorted(_UNPARTITIONED_WINDOW_ALLOWLIST.items())
        if name not in found
    ]
    return found, violations


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
    # window inventory at the SMALLEST sf: the optimizedPlan is pre-AQE
    # and SF-independent, but query CONSTRUCTION executes any
    # driver-coordinated folds (ANN builds, BPE/k-means/LM training
    # loops, eager localCheckpoints) — at sf0.1 that second pass measured
    # >45 min; at sf0.001 it is ~3 min. run_all released the sweep's
    # engine caches query by query, so the pass starts cold and bounded.
    inv_sf = os.environ.get("VAT_ETL_WININV_SF", "/root/testdata/sf0.001")
    if not os.path.isdir(inv_sf):
        inv_sf = sf_dir
    windows, window_violations = window_inventory(spark, inv_sf)
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
        "unpartitioned_windows": windows,
        "window_violations": window_violations,
    }
    os.makedirs(os.path.dirname(os.path.abspath(out_path)), exist_ok=True)
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    print(json.dumps({k: doc[k] for k in ("n_queries", "n_pass", "wall_sec")}))
    if doc["failures"] or doc["window_violations"]:
        print(json.dumps(doc["failures"], indent=1))
        print("\n".join(doc["window_violations"]))
        sys.exit(1)


if __name__ == "__main__":
    main()
