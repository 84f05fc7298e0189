"""Stress the pHash band-bucket cap IN ITS ACTIVE REGIME (verdict-r13
task 1's recall receipt; the multimodal twin of tools/mhb_capstress.py).

The dormancy pytest proves BUCKET_CAP never fires at oracle
scale, and the seed-7 decade corpus never trips it even at 5 M docs
(MULTIMODAL_DECADE_r14) — so the claim "the cap costs ~no recall" needs
a corpus where it actually fires. This harness builds one:

- base: tools/gen_fuzzy_corpus.py documents (realistic Zipfian text);
- a BOILERPLATE-PADDED family: docs whose first half is space padding
  (the web analogue: shared page chrome/templates). Padding blocks all
  sit below the global byte mean, so the first 128 signature bits are 0
  for EVERY such doc → fused join bands 0 and 1 degenerate to one
  >30 K-signature bucket each. Uncapped, those two buckets alone are
  ~2×C(30K,2) ≈ 1 B candidate pairs; the cap drops them.
- planted variants of every 10th padded doc (one suffix byte perturbed
  by ±64, variant id = -doc_id-1): their hot bands are capped away, so
  detection must survive via the clean suffix bands — measuring exactly
  the pigeonhole-under-cap recall bound;
- identical-doc clusters LARGER than the cap (3×1500): the sig-grain
  collapse must keep every within-cluster pair (round-12 text-path
  failure mode).

Measured: buckets over cap, capped vs hypothetical-uncapped candidate
volume (bucket-histogram arithmetic, no join), planted recall vs the
EXACT truth (signature Hamming ≤ tau computed directly — no banding),
and identical-cluster pair completeness. Targets: recall ≥ 0.95,
completeness = ALL pairs.

Prints one JSON line; writes artifacts/PHASH_CAPSTRESS_r14.json.

Usage: python tools/phash_capstress.py [N_BASE] [N_PADDED] [OUT_JSON]
defaults: 300000 base docs, 30000 padded docs.
"""

from __future__ import annotations

import json
import os
import pathlib
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
import pyspark.sql.functions as F  # noqa: E402

import bench  # noqa: E402
from tools.gen_fuzzy_corpus import generate  # noqa: E402

_N_CLUSTERS = 3
_CLUSTER_SIZE = 1500  # > BUCKET_CAP
_PAD_BASE_ID = 10_000_000
_CLUSTER_BASE_ID = 20_000_000
_TAU = 3


def _write_extra(corpus: str, n_padded: int, seed: int) -> None:
    """Append the padded family (+ variants) and the identical clusters
    as one extra parquet part, deterministically."""
    rng = np.random.default_rng(seed + 7)
    # BIMODAL suffix alphabet: '0' (48) and 'z' (122). Global mean over
    # space padding + suffix ≈ (32+85)/2 = 58.5, so suffix block means
    # (48 / 85 / 122 for the 1-3-byte blocks at this length) fall on BOTH
    # sides of it — suffix signature bits fluctuate per doc (DISTINCT
    # sigs, no sig-grain collapse), while every padding block (32 < 58.5)
    # stays 0 — all padded docs share fused join bands 0 and 1 (= 0):
    # two >n_padded-signature buckets, exactly the degenerate regime the
    # cap defends. (A plain-letters suffix was measured useless here:
    # letters are ALWAYS above the global mean, so every padded doc had
    # the identical all-0/all-1 signature and the sig-grain collapse
    # absorbed the whole family into one bucket slot.)
    bimodal = np.frombuffer(b"0z", dtype=np.uint8)
    ids: list[int] = []
    texts: list[str] = []
    for i in range(n_padded):
        n = int(400 + rng.integers(0, 200)) // 2 * 2
        suffix = bytes(bimodal[rng.integers(0, 2, n // 2)]).decode()
        doc_id = _PAD_BASE_ID + i
        text = " " * (n // 2) + suffix
        ids.append(doc_id)
        texts.append(text)
        if i % 10 == 0:
            # perturb ONE '0' suffix byte by +64 → 'p' (112, still one
            # UTF-8 byte so block boundaries are unchanged): flips that
            # block's bit, so the variant lands at a small nonzero
            # hamming from its original — detectable only via the CLEAN
            # suffix band once the cap drops the shared padding bands
            chars = list(text)
            zeros = [
                j for j in range(n // 2, n) if chars[j] == "0"
            ]
            pos = zeros[int(rng.integers(0, len(zeros)))]
            chars[pos] = chr(ord(chars[pos]) + 64)
            ids.append(-doc_id - 1)
            texts.append("".join(chars))
    for c in range(_N_CLUSTERS):
        words = [f"boiler{c}w{rng.integers(0, 1000)}" for _ in range(60)]
        text = " ".join(words)
        for i in range(_CLUSTER_SIZE):
            ids.append(_CLUSTER_BASE_ID + c * _CLUSTER_SIZE + i)
            texts.append(text)
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(ids), pa.string()),
            "source": pa.array(["padstress"] * len(ids), pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(
        table, f"{corpus}/documents.parquet/part-padstress.parquet"
    )


def main() -> None:
    n_base = int(sys.argv[1]) if len(sys.argv) > 1 else 300_000
    n_padded = int(sys.argv[2]) if len(sys.argv) > 2 else 30_000
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_json = (
        sys.argv[3]
        if len(sys.argv) > 3
        else os.path.join(repo, "artifacts", "PHASH_CAPSTRESS_r14.json")
    )
    corpus = f"/tmp/phash_capstress_{n_base}_{n_padded}"
    if not os.path.isdir(f"{corpus}/documents.parquet"):
        pathlib.Path(corpus).mkdir(parents=True, exist_ok=True)
        generate(corpus, n_base, seed=7)
        _write_extra(corpus, n_padded, seed=7)

    from vat_etl_spark.operators.multimodal import attach_payload, perceptual_hash
    from vat_etl_spark.operators.neardup import BUCKET_CAP, elect
    from vat_etl_spark.queries.multimodal import (
        _phash_band_explode,
        _phash_near_dup_pairs,
    )
    from vat_etl_spark.session import get_spark
    from vat_etl_spark.sources.catalog import read_table

    spark = get_spark("phash-capstress")

    cpu_probe = bench.cpu_probe(spark)
    docs = read_table(spark, corpus, "documents")
    mm = attach_payload(docs)

    # --- bucket histogram: is the cap ACTIVE, and what did it save? ---
    sigs = perceptual_hash(mm).select("doc_id", "bands").persist()
    grp, _ = elect(sigs, ["bands"])
    hist = (
        _phash_band_explode(grp, tau=_TAU)
        .groupBy("band_no", "band_key")
        .count()
        .agg(
            F.sum(
                F.when(
                    F.col("count") <= BUCKET_CAP,
                    F.expr("count*(count-1)/2"),
                ).otherwise(0)
            ).alias("kept"),
            F.sum(F.expr("count*(count-1)/2")).alias("uncapped"),
            F.sum(
                F.when(F.col("count") > BUCKET_CAP, 1).otherwise(0)
            ).alias("over"),
            F.max("count").alias("max_bucket"),
        )
        .collect()[0]
    )

    # --- exact planted truth: signature Hamming <= tau, NO banding ---
    sv = sigs.filter(F.col("doc_id") < 0).select(
        (-F.col("doc_id") - 1).alias("doc_id"), F.col("bands").alias("vb")
    )
    so = sigs.filter(F.col("doc_id") >= _PAD_BASE_ID).filter(
        F.col("doc_id") < _CLUSTER_BASE_ID
    ).select("doc_id", F.col("bands").alias("ob"))
    ham = F.aggregate(
        F.zip_with(
            F.col("ob"),
            F.col("vb"),
            lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    truth_df = so.join(sv, "doc_id").select("doc_id", ham.alias("h"))
    n_planted = truth_df.count()
    truth = {
        r.doc_id for r in truth_df.filter(F.col("h") <= _TAU).collect()
    }

    # --- production detection over the full corpus (cap active) ---
    t0 = time.time()
    pairs = _phash_near_dup_pairs(mm, tau=_TAU)
    planted_found = {
        r.o
        for r in pairs.filter(
            (F.col("doc_a") < 0) | (F.col("doc_b") < 0)
        )
        .select(
            F.when(F.col("doc_a") < 0, F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("o"),
            F.when(F.col("doc_a") < 0, -F.col("doc_a") - 1)
            .otherwise(-F.col("doc_b") - 1)
            .alias("v"),
        )
        .filter(F.col("o") == F.col("v"))
        .collect()
    }
    cluster_pairs = pairs.filter(
        (F.col("doc_a") >= _CLUSTER_BASE_ID)
        & (F.col("doc_b") >= _CLUSTER_BASE_ID)
        & (
            (F.col("doc_a") - _CLUSTER_BASE_ID) / _CLUSTER_SIZE
        ).cast("long").eqNullSafe(
            ((F.col("doc_b") - _CLUSTER_BASE_ID) / _CLUSTER_SIZE).cast("long")
        )
    ).count()
    wall = round(time.time() - t0, 1)

    expected_cluster_pairs = (
        _N_CLUSTERS * _CLUSTER_SIZE * (_CLUSTER_SIZE - 1) // 2
    )
    recall = (
        round(len(planted_found & truth) / len(truth), 4) if truth else None
    )
    out = {
        "cpu_probe_sec": cpu_probe,
        "n_docs": docs.count(),
        "n_planted_variants": n_planted,
        "n_truth_pairs": len(truth),
        "planted_recall": recall,
        "buckets_over_cap": int(hist["over"]),
        "max_bucket": int(hist["max_bucket"]),
        "capped_candidates": int(hist["kept"]),
        "uncapped_candidates": int(hist["uncapped"]),
        "identical_cluster_pairs": int(cluster_pairs),
        "identical_cluster_pairs_expected": expected_cluster_pairs,
        "detect_wall_sec": wall,
    }
    with open(out_json, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps(out, sort_keys=True), flush=True)
    assert out["buckets_over_cap"] >= 2, "cap not active — corpus failed"
    assert recall is not None and recall >= 0.95, f"recall {recall}"
    assert cluster_pairs == expected_cluster_pairs, "cluster pairs lost"


if __name__ == "__main__":
    main()
