#!/usr/bin/env python
"""Parallel pytest runner: the full suite in well under 8 minutes.

The suite is ~18 min serial because every file shares one session-scoped
SparkSession. pytest-xdist is not installed in this environment, so this
runner does the same thing at file granularity: N worker threads pull test
FILES from a longest-first queue and run each in its own pytest
subprocess (own JVM). Per-worker isolation:

  - SPARK_GRAFT_TEST_SLOT  -> per-slot spark.sql.warehouse.dir
                              (bucketed-table tests; see tests/conftest.py)
  - VAT_ETL_INDEX_DIR      -> per-slot persisted-ANN-index dir
                              (serve queries auto-build on first use)
  - SPARK_GRAFT_CPUS       -> local[N] threads per worker JVM so the
                              workers share the box instead of each
                              grabbing all 32 cores

Usage:  python tools/partest.py [-j N]   (default N=4, from repo root)

Exit code is non-zero if any file fails; per-file tails are printed for
failures. A file that is absent from DURATION_HINTS is scheduled first
(unknown = assume long), so new test files cannot silently serialize the
tail of the run.
"""

from __future__ import annotations

import argparse
import glob
import os
import queue
import subprocess
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# coarse serial-seconds hints from measured runs — ordering only, the
# dynamic queue self-balances; unknown files sort FIRST (assumed long)
DURATION_HINTS = {
    "test_oracle_parity.py": 222,
    "test_streaming.py": 200,
    "test_llm_pipeline.py": 100,
    "test_corpus_build.py": 165,
    "test_local_cluster.py": 92,
    "test_plans.py": 16,
    "test_graph.py": 77,
    "test_multimodal.py": 30,
    "test_partition_invariance.py": 57,
    "test_dedup_determinism.py": 90,
    "test_timeseries.py": 22,
    "test_ranks.py": 40,
    "test_vat_pipeline.py": 30,
    "test_sampling.py": 25,
    "test_llm_properties.py": 33,
    "test_app.py": 170,
    "test_sinks.py": 28,
    "test_sources.py": 39,
    "test_currency_properties.py": 50,
    "test_dates_properties.py": 36,
    "test_months_properties.py": 32,
    "test_currency.py": 21,
    "test_fuzzy_corpus.py": 25,
    "test_dates.py": 15,
    "test_headers.py": 9,
    "test_months.py": 14,
    "test_numeric.py": 22,
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("-j", type=int, default=4, help="worker processes")
    ap.add_argument(
        "--cpus", type=int, default=None,
        help="local[N] threads per worker (default: 32 // j)",
    )
    args = ap.parse_args()
    cpus = args.cpus or max(4, (os.cpu_count() or 32) // args.j)

    files = sorted(
        glob.glob(os.path.join(REPO, "tests", "test_*.py")),
        key=lambda p: -DURATION_HINTS.get(os.path.basename(p), 10_000),
    )
    q: queue.Queue[str] = queue.Queue()
    for f in files:
        q.put(f)

    results: dict[str, tuple[int, float, str]] = {}
    lock = threading.Lock()

    def worker(slot: int) -> None:
        env = dict(os.environ)
        env["SPARK_GRAFT_TEST_SLOT"] = str(slot)
        env["SPARK_GRAFT_CPUS"] = str(cpus)
        env["SPARK_GRAFT_DRIVER_MEM"] = "10g"
        env["VAT_ETL_INDEX_DIR"] = f"/tmp/vat_etl_test_idx_{slot}"
        while True:
            try:
                f = q.get_nowait()
            except queue.Empty:
                return
            name = os.path.basename(f)
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, "-m", "pytest", f, "-q", "-p", "no:cacheprovider"],
                cwd=REPO, env=env, capture_output=True, text=True,
            )
            wall = time.time() - t0
            tail = (p.stdout or "")[-4000:]
            with lock:
                results[name] = (p.returncode, wall, tail)
                status = "PASS" if p.returncode == 0 else f"FAIL({p.returncode})"
                print(f"[{slot}] {status} {name} {wall:.1f}s", flush=True)

    t0 = time.time()
    threads = [threading.Thread(target=worker, args=(i,)) for i in range(args.j)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    total = time.time() - t0

    failed = {n: r for n, r in results.items() if r[0] != 0}
    print(f"\n== {len(results)} files, {len(failed)} failed, wall {total:.1f}s "
          f"(serial-equivalent {sum(r[1] for r in results.values()):.1f}s) ==")
    for n, (rc, wall, tail) in failed.items():
        print(f"\n--- {n} (rc={rc}, {wall:.1f}s) ---\n{tail}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
