"""Slow-tier core-scaling receipt one decade above sf0.1 (verdict-r14
item 6): at sf0.1 every benched dataset is sub-second of real work, so
scheduler/AQE overhead dominates and the driver's 8-core run BEATS 32
cores across the whole suite — the bench cannot detect a parallelism
regression. This harness measures the four slow-tier keys on a 10×
corpus (50 K fuzzy-vocabulary documents / 20 K embeddings — the
established decade substrates of tools/gen_fuzzy_corpus.py and
tools/ann_decade.py) at 8 vs 32 cores, probe-stamped, so a change that
serializes a hot stage shows up as a ratio collapse.

Usage:
    python tools/scaling_receipt.py            # orchestrates both runs
    python tools/scaling_receipt.py --measure <cpus> <data_dir> <out_json>

The orchestrator generates the dataset once, then runs each core count
in a FRESH subprocess (master is fixed at session creation) —
sequentially, never two JVMs at once. Writes
artifacts/SCALING_r15.json.
"""

from __future__ import annotations

import json
import os
import pathlib
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_DOCS = 50_000
N_VEC = 20_000
PASSES = 3
KEYS = [
    "corpus_build_full",
    "ann_graph_serve",
    "retrieval_prf_rm3",
    "pipeline_span_removal",
]


def _gen_dataset(data_dir: str) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tools.gen_fuzzy_corpus import generate

    pathlib.Path(data_dir).mkdir(parents=True, exist_ok=True)
    marker = os.path.join(data_dir, "READY")
    if os.path.exists(marker):
        return
    # gopherable: the default pseudo-word regime fails every Gopher rule,
    # which would zero the build_corpus funnel at stage 1
    generate(data_dir, N_DOCS, seed=20260818, gopherable=True)
    rng = np.random.default_rng(20260818)
    vecs = rng.standard_normal((N_VEC, 64)).astype(np.float32)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(N_VEC), pa.int64()),
            "embedding": pa.array(list(map(list, vecs)), pa.list_(pa.float32())),
        }
    )
    pq.write_table(tbl, os.path.join(data_dir, "embeddings.parquet"))
    open(marker, "w").write("ok")


def _measure(cpus: int, data_dir: str, out_json: str) -> None:
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["VAT_ETL_INDEX_DIR"] = os.path.join(data_dir, "idx")
    import bench
    from vat_etl_spark.session import get_spark

    spark = get_spark(f"scaling_receipt_c{cpus}")
    probe = bench.cpu_probe(spark)
    # warm pass (index build, codegen, listings) untimed; every key runs
    # PASSES times (no corpus-build pass cap)
    bench.warm_keys(spark, KEYS, data_dir)
    samples, _ = bench.time_passes(spark, KEYS, data_dir, PASSES, pass_cap={})
    out = {
        "cpus": cpus,
        "probe": probe,
        "passes": PASSES,
        "medians": {
            k: round(statistics.median(s), 3) for k, s in samples.items()
        },
        "samples": {k: [round(x, 3) for x in s] for k, s in samples.items()},
    }
    with open(out_json, "w") as f:
        json.dump(out, f)
    print(json.dumps(out))


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--measure":
        _measure(int(sys.argv[2]), sys.argv[3], sys.argv[4])
        return
    data_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scaling_sf1"
    _gen_dataset(data_dir)
    results = {}
    for cpus in (32, 8):  # sequential, never two JVMs at once
        out_json = f"/tmp/scaling_c{cpus}.json"
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--measure",
             str(cpus), data_dir, out_json],
            check=True,
        )
        results[cpus] = json.load(open(out_json))
    ratios = {
        k: round(results[8]["medians"][k] / results[32]["medians"][k], 2)
        for k in KEYS
    }
    art = {
        "n_docs": N_DOCS,
        "n_vec": N_VEC,
        "c32": results[32],
        "c8": results[8],
        "ratio_8c_over_32c": ratios,
    }
    path = os.path.join(REPO, "artifacts", "SCALING_r15.json")
    with open(path, "w") as f:
        json.dump(art, f, indent=1, sort_keys=True)
    print(json.dumps(art["ratio_8c_over_32c"]))
    print("wrote", path)


if __name__ == "__main__":
    main()
