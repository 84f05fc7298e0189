"""Streaming-admission throughput + state-growth measurement
(verdict-r11 task 3).

The streaming tier has correctness twins and replay/restart idempotence
pins but had zero performance evidence. This drives each admission gate
(exact content-key, line-grain C4, SimHash near-dup) over an ORDERED
replay of a >= 500 K-doc corpus split into E epoch files
(maxFilesPerTrigger=1 — one epoch per micro-batch, exactly the
production wiring in streaming/corpus.py), timing every micro-batch
from inside the foreachBatch callback, and records:

- sustained docs/s over the whole replay (per gate);
- per-batch wall latency, first->last (the trend is the 100 TB
  question: each batch anti-joins a persistent index that GROWS with
  the admitted corpus — a flat curve means the gate is batch-bound,
  a rising one means index-scan-bound and compaction cadence matters);
- the state growth curve: cumulative index rows + parquet bytes per
  epoch (the SimHash index's 8 B/doc claim, measured).

Prints one JSON line; writes artifacts/STREAM_THROUGHPUT_r12.json.

Usage: python tools/stream_throughput.py [N_DOCS] [N_EPOCHS] [GATES]
defaults: 500000 docs, 20 epochs, gates=exact,lines,neardup
"""

from __future__ import annotations

import json
import os
import pathlib
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from tools.gen_fuzzy_corpus import generate  # noqa: E402
from vat_etl_spark.session import get_spark  # noqa: E402

_INDEX_SUBDIR = {
    "exact": "key_index",
    "lines": "line_index",
    "neardup": "simhash_index",
}


def _index_growth(out_dir: str, gate: str) -> list[dict]:
    """Per-epoch index partition sizes (rows from parquet footers, bytes
    from the filesystem), ordered by epoch — cumulative curves are the
    state-vs-corpus receipt."""
    import pyarrow.parquet as pq

    idx = pathlib.Path(out_dir) / _INDEX_SUBDIR[gate]
    rows = []
    for part in sorted(idx.glob("epoch=*")):
        epoch = int(part.name.split("=")[1])
        n = b = 0
        # rglob kept for robustness only: since round 13 the line index
        # writes bucket-PURE FILES directly under epoch=N (file grain —
        # one file per hash bucket per epoch, prunable via parquet
        # min/max stats on the bucket column), not bucket subdirectories
        # (directory grain was measured 2.4× slower; see admit_lines_batch)
        for f in part.rglob("*.parquet"):
            n += pq.ParquetFile(f).metadata.num_rows
            b += f.stat().st_size
        rows.append({"epoch": epoch, "rows": n, "bytes": b})
    return rows


def _drive(spark, src_dir: str, out_dir: str, gate: str) -> dict:
    from vat_etl_spark.streaming.corpus import (
        admit_batch,
        admit_lines_batch,
        admit_neardup_batch,
    )

    fn = {
        "exact": admit_batch,
        "lines": admit_lines_batch,
        "neardup": admit_neardup_batch,
    }[gate]
    walls: list[float] = []

    def timed(df, epoch_id):
        t0 = time.perf_counter()
        fn(df, out_dir, epoch_id)
        walls.append(round(time.perf_counter() - t0, 2))

    schema = spark.read.parquet(src_dir).schema
    t0 = time.time()
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .writeStream.foreachBatch(timed)
        .option("checkpointLocation", f"{out_dir}/_checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    total = round(time.time() - t0, 1)
    growth = _index_growth(out_dir, gate)
    admitted = sum(g["rows"] for g in growth) if gate != "lines" else None
    return {
        "total_sec": total,
        "batch_walls_sec": walls,
        "first_batch_sec": walls[0] if walls else None,
        "last_batch_sec": walls[-1] if walls else None,
        "median_batch_sec": sorted(walls)[len(walls) // 2] if walls else None,
        "index_rows_total": sum(g["rows"] for g in growth),
        "index_bytes_total": sum(g["bytes"] for g in growth),
        "index_growth": growth,
        "admitted_docs": admitted,
    }


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    n_epochs = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    gates = (
        sys.argv[3].split(",")
        if len(sys.argv) > 3
        else ["exact", "lines", "neardup"]
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_json = (
        sys.argv[4]
        if len(sys.argv) > 4
        else os.path.join(repo, "artifacts", "STREAM_THROUGHPUT_r14.json")
    )
    corpus = f"/tmp/stream_tp/corpus_n{n_docs}_e{n_epochs}"
    if not os.path.exists(f"{corpus}/documents.parquet"):
        # gopherable: the exact gate quality-screens before admitting —
        # the default pseudo-word regime fails every Gopher rule and
        # would measure an empty-index fast path instead of admission
        generate(corpus, n_docs, seed=12, n_files=n_epochs, gopherable=True)
    src = f"{corpus}/documents.parquet"
    spark = get_spark("stream-throughput")

    doc = {
        "n_docs": n_docs,
        "n_epochs": n_epochs,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
        # bench.py's CPU probe: isolates host state so cross-round docs/s
        # comparisons can be drift-adjusted
        "cpu_probe_sec": bench.cpu_probe(spark),
        "gates": {},
    }
    for gate in gates:
        out_dir = f"/tmp/stream_tp/out_{gate}"
        shutil.rmtree(out_dir, ignore_errors=True)
        r = _drive(spark, src, out_dir, gate)
        r["docs_per_sec"] = round(n_docs / r["total_sec"], 1)
        doc["gates"][gate] = r
        print(
            json.dumps(
                {
                    "gate": gate,
                    "docs_per_sec": r["docs_per_sec"],
                    "first_batch": r["first_batch_sec"],
                    "last_batch": r["last_batch_sec"],
                }
            ),
            flush=True,
        )
    with open(out_json, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    print(json.dumps({k: doc[k] for k in ("n_docs", "n_epochs")}))


if __name__ == "__main__":
    main()
