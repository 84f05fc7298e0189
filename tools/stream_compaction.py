"""Does index compaction actually buy per-batch latency? (round-12
extension of the streaming-throughput receipt).

The throughput run (tools/stream_throughput.py) leaves each gate's
persistent index fragmented across 20 epoch partitions. Every future
micro-batch anti-joins against a scan of that whole index, so the
maintenance question at a continuous gate is: what does folding the
epochs into one consolidated partition (compact_*_index's grace
protocol) do to steady-state admit latency?

Protocol: copy the 500 K-replay line and SimHash index states twice —
FRAGMENTED (as the replay left it: 20 epoch dirs) and COMPACTED (two
compactor cycles at grace 0: fold + purge) — then drive the SAME 100 K-doc
delta (4 batches, ids offset clear of the original corpus) through
admit_*_batch against each copy, timing every batch. Same data, same
code, only the index layout differs.

Prints one JSON line; writes artifacts/STREAM_COMPACTION_r13.json.
Requires a prior tools/stream_throughput.py run (state under
/tmp/stream_tp). Usage: python tools/stream_compaction.py
"""

from __future__ import annotations

import json
import os
import pathlib
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import bench  # noqa: E402
from tools.gen_fuzzy_corpus import generate  # noqa: E402
from vat_etl_spark.session import get_spark  # noqa: E402

_GATES = {
    "lines": ("line_index", "admit_lines_batch", "compact_line_index"),
    "neardup": ("simhash_index", "admit_neardup_batch", "compact_simhash_index"),
}


def main() -> None:
    import vat_etl_spark.streaming.corpus as C

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src_state = "/tmp/stream_tp"
    delta_dir = "/tmp/stream_tp/delta100k"
    if not os.path.isdir(f"{delta_dir}/documents.parquet"):
        generate(delta_dir, 100_000, seed=13, n_files=4, gopherable=True)
    spark = get_spark("stream-compaction")

    parts = sorted(
        pathlib.Path(f"{delta_dir}/documents.parquet").glob("part-*.parquet")
    )
    doc = {"delta_docs": 100_000, "delta_batches": len(parts), "gates": {}}
    only = os.environ.get("COMPACTION_GATES")
    for gate, (idx_name, admit_name, compact_name) in _GATES.items():
        if only and gate not in only.split(","):
            continue
        src_idx = f"{src_state}/out_{gate}/{idx_name}"
        if not os.path.isdir(src_idx):
            print(f"skip {gate}: no state at {src_idx} (run stream_throughput)")
            continue
        admit = getattr(C, admit_name)
        compact = getattr(C, compact_name)
        res = {}
        for variant in ("fragmented", "compacted"):
            res.setdefault("probes", {})[variant] = bench.cpu_probe(spark)
            out = f"/tmp/stream_tp/cmp_{gate}_{variant}"
            shutil.rmtree(out, ignore_errors=True)
            os.makedirs(out)
            shutil.copytree(src_idx, f"{out}/{idx_name}")
            if variant == "compacted":
                compact(spark, out, grace_seconds=0.0)  # fold + mark
                compact(spark, out, grace_seconds=0.0)  # purge superseded
            walls = []
            for i, p in enumerate(parts):
                df = spark.read.parquet(str(p)).withColumn(
                    "doc_id", F.col("doc_id") + 10_000_000
                )
                t0 = time.perf_counter()
                admit(df, out, epoch_id=1000 + i)
                walls.append(round(time.perf_counter() - t0, 2))
            idx = pathlib.Path(out) / idx_name
            res[variant] = {
                "batch_walls_sec": walls,
                "median_batch_sec": sorted(walls)[len(walls) // 2],
                "index_partitions": len(list(idx.glob("epoch=*"))),
                "index_files": len(list(idx.rglob("*.parquet"))),
            }
        res["speedup_median"] = round(
            res["fragmented"]["median_batch_sec"]
            / res["compacted"]["median_batch_sec"],
            2,
        )
        doc["gates"][gate] = res
        print(json.dumps({gate: res["speedup_median"]}), flush=True)
    out_json = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.path.join(repo, "artifacts", "STREAM_COMPACTION_r13.json")
    )
    with open(out_json, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    print(json.dumps({"gates_measured": sorted(doc["gates"])}))


if __name__ == "__main__":
    main()
