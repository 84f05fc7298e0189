"""Streaming admission gates vs PRE-EXISTING index size (verdict-r13
task 6): the throughput harness shows flat batch walls while an index
grows from zero over 20 epochs, but the regime the bucketed hashed
layout exists for is a FIXED small batch arriving against a LARGE
standing index (continuous ingest after months of corpus). This harness
measures exactly that, per gate:

- pre-build the gate's persisted index at 1× and 10× key volume
  (consolidated ``epoch=-1`` partitions in the production layout, keys
  derived with the production expressions over disjoint gopherable
  corpora — the state, not the gate, is synthesized);
- admit the SAME fixed EPOCH_DOCS-doc batch (disjoint seed) three times
  against each index, timing each call of the production admit function
  directly (they are deterministic per-batch functions — no stream
  wiring needed, per their docstrings);
- for the line gate, also run a RAW-LAYOUT CONTROL: an in-harness
  re-implementation of the r12 spelling (index stores raw line text in
  plain epoch partitions, per-batch index-side distinct) against raw
  indexes at the same two scales — the measured cost of the layout the
  r13 migration retired.

Both legs run back-to-back in ONE session with a CPU probe before each,
so the 10×/1× RATIO is drift-free even on a moving host (the r13
lesson: absolute docs/s across rounds conflated host state with code).

Prints one JSON line; writes artifacts/STREAM_STATE_DECADE_r14.json.

Usage: python tools/stream_state_decade.py [N1] [EPOCH_DOCS] [OUT_JSON]
defaults: 500000 index docs (10x = 5000000), 25000-doc fixed epoch.
"""

from __future__ import annotations

import json
import os
import pathlib
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

import bench  # noqa: E402
from tools.gen_fuzzy_corpus import generate  # noqa: E402
from vat_etl_spark.session import get_spark  # noqa: E402

_WORK = "/tmp/stream_sd"


def _corpus(n: int, seed: int) -> str:
    out = f"{_WORK}/corpus_n{n}_s{seed}"
    if not os.path.isdir(f"{out}/documents.parquet"):
        generate(out, n, seed=seed, n_files=32, gopherable=True)
    return f"{out}/documents.parquet"


def _lines(df):
    """The production pseudo-line split (mirrors llm_pipeline's
    line_dedup_plan; W from the registered query): (doc_id, line_idx,
    line)."""
    from vat_etl_spark.queries.llm_pipeline import _LINE_W as w

    toked = df.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("t"))
    return toked.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, (size(t) + {w - 1}) div {w}),"
                f" i -> concat_ws(' ', slice(t, (i - 1) * {w} + 1, {w})))"
            )
        ).alias("i0", "line"),
    ).select("doc_id", (F.col("i0") + 1).alias("line_idx"), "line")


def _build_index(spark, gate: str, corpus: str, out_dir: str) -> int:
    """Pre-build the gate's persisted index in its production layout as a
    consolidated epoch=-1 partition; returns the key count."""
    from vat_etl_spark.queries.dedup import simhash_expr
    from vat_etl_spark.streaming.corpus import _LINE_IDX_BUCKETS

    docs = spark.read.parquet(corpus)
    shutil.rmtree(out_dir, ignore_errors=True)
    if gate == "exact":
        from vat_etl_spark.queries.llm_pipeline import tokens_expr

        keys = docs.select(
            F.concat_ws(" ", F.slice(tokens_expr(F.col("text")), 1, 2)).alias(
                "content_key"
            )
        ).distinct()
        out = keys.select("content_key", F.lit(-1).alias("src_epoch"))
        out.write.parquet(f"{out_dir}/key_index/epoch=-1")
    elif gate == "neardup":
        keys = docs.select(simhash_expr(F.col("text")).alias("simhash")).distinct()
        out = keys.select("simhash", F.lit(-1).alias("src_epoch"))
        out.write.parquet(f"{out_dir}/simhash_index/epoch=-1")
    elif gate == "lines":
        keys = (
            _lines(docs)
            .select(
                F.xxhash64("line").alias("lk"),
                F.xxhash64(F.lit(-1), F.col("line")).alias("lk2"),
            )
            .distinct()
        )
        out = keys.select(
            "lk",
            "lk2",
            F.pmod(F.col("lk"), F.lit(_LINE_IDX_BUCKETS)).alias("bucket"),
            F.lit(-1).alias("src_epoch"),
        )
        out.repartition(_LINE_IDX_BUCKETS, "bucket").sortWithinPartitions(
            "bucket", "lk"
        ).write.parquet(f"{out_dir}/line_index/epoch=-1")
    elif gate == "rawlines":
        keys = _lines(docs).select("line").distinct()
        out = keys.select("line", F.lit(-1).alias("src_epoch"))
        out.write.parquet(f"{out_dir}/line_index/epoch=-1")
    else:
        raise ValueError(gate)
    import pyarrow.parquet as pq

    idx_root = next(pathlib.Path(out_dir).glob("*_index"))
    n = sum(
        pq.ParquetFile(f).metadata.num_rows for f in idx_root.rglob("*.parquet")
    )
    return n


def _admit_rawlines(batch, out_dir: str, epoch_id: int) -> None:
    """MEASUREMENT CONTROL ONLY — the r12 line-gate spelling this repo
    retired: index stores RAW line text in plain epoch partitions, the
    per-batch reference pays an index-side distinct, and every join
    shuffles strings. Kept here (not in the engine) so the layout
    migration's win is re-measurable."""
    spark = batch.sparkSession
    idx_path = f"{out_dir}/line_index"
    lines = _lines(batch)
    idx = (
        spark.read.option("basePath", idx_path)
        .option("ignoreMissingFiles", "true")
        .parquet(idx_path)
    )
    prov = F.coalesce(F.col("src_epoch"), F.col("epoch"))
    seen = idx.filter(prov != epoch_id).select("line").distinct()
    fresh = lines.join(seen, ["line"], "left_anti")
    surv = fresh.groupBy("line").agg(
        F.min(F.col("doc_id") * 1_000_000 + F.col("line_idx")).alias("keep_key")
    )
    occ = lines.join(surv, ["line"], "left").select(
        "doc_id",
        "line",
        (
            F.col("doc_id") * 1_000_000 + F.col("line_idx") == F.col("keep_key")
        ).alias("kept"),
    )
    cleaned = occ.groupBy("doc_id").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.when(F.col("kept"), 0).otherwise(1)).alias("n_removed"),
    ).localCheckpoint(eager=True)
    kept_lines = (
        occ.filter(F.col("kept"))
        .select("line", F.lit(epoch_id).alias("src_epoch"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    cleaned.write.mode("overwrite").parquet(f"{out_dir}/docs/epoch={epoch_id}")
    kept_lines.write.mode("overwrite").parquet(f"{idx_path}/epoch={epoch_id}")


def main() -> None:
    n1 = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    epoch_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 25_000
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_json = (
        sys.argv[3]
        if len(sys.argv) > 3
        else os.path.join(repo, "artifacts", "STREAM_STATE_DECADE_r14.json")
    )
    from vat_etl_spark.streaming.corpus import (
        admit_batch,
        admit_lines_batch,
        admit_neardup_batch,
    )

    fns = {
        "exact": admit_batch,
        "lines": admit_lines_batch,
        "neardup": admit_neardup_batch,
        "rawlines": _admit_rawlines,
    }
    spark = get_spark("stream-state-decade")

    batch = spark.read.parquet(_corpus(epoch_docs, seed=13)).localCheckpoint()
    scales = {"1x": _corpus(n1, seed=12), "10x": _corpus(10 * n1, seed=12)}
    doc: dict = {"n1": n1, "epoch_docs": epoch_docs, "gates": {}}
    for gate, fn in fns.items():
        row: dict = {}
        for scale, corpus in scales.items():
            out_dir = f"{_WORK}/out_{gate}_{scale}"
            n_keys = _build_index(spark, gate, corpus, out_dir)
            leg = {
                "index_keys": n_keys,
                "probe": bench.cpu_probe(spark),
                "walls": [],
            }
            # untimed warm admit (JIT/readahead), then 3 timed epochs —
            # 3×epoch_docs on an n1-key index keeps the index ~fixed-size
            fn(batch, out_dir, 0)
            for e in (1, 2, 3):
                t0 = time.perf_counter()
                fn(batch, out_dir, e)
                leg["walls"].append(round(time.perf_counter() - t0, 2))
            leg["median"] = sorted(leg["walls"])[1]
            row[scale] = leg
            print(json.dumps({"gate": gate, "scale": scale, **leg}), flush=True)
        row["wall_ratio_10x"] = round(row["10x"]["median"] / row["1x"]["median"], 2)
        doc["gates"][gate] = row
    lr = doc["gates"].get("lines", {}).get("wall_ratio_10x")
    rr = doc["gates"].get("rawlines", {}).get("wall_ratio_10x")
    if lr and rr:
        doc["line_layout_note"] = (
            f"bucketed hashed line gate grows {lr}x for 10x index keys; "
            f"raw-text control grows {rr}x"
        )
    with open(out_json, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    print(json.dumps(doc, sort_keys=True), flush=True)


if __name__ == "__main__":
    main()
