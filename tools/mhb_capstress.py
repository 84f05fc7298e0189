"""Skew-stress the banded-MinHash bucket cap IN ITS ACTIVE REGIME.

The dormant-cap pytest proves BUCKET_CAP never fires at oracle
scale, and the round-11 5 M decade saw it fire on only ~2 buckets — so
the claim "the cap costs ~no recall" had no receipt from the regime it
defends against (verdict-r11 task 5). This harness generates a corpus
where the cap is ACTIVE on 100+ band buckets and measures what it costs:

- corpus: tools/gen_fuzzy_corpus.py with a HOTTER Zipf exponent and a
  smaller vocabulary than the decade runs (hot shingles dominate the
  per-seed argmin, so band keys degenerate — the round-11 mechanism,
  dialed up), plus planted near-dup twins with a sidecar for exact
  per-pair truth;
- additionally, K identical-doc clusters larger than the cap are
  appended (the round-12 ADVICE case: pre-fix, such a cluster blew all
  its band buckets at once and lost every pair; post-fix it collapses
  to one signature-grain representative per cluster);
- measured: #buckets over cap, candidate-pair volume with the cap vs
  the hypothetical uncapped volume (bucket-histogram arithmetic — no
  join), twin recall vs exact planted truth (target >= 0.97), and
  identical-cluster pair completeness (target: ALL pairs).

Prints one JSON line and writes it to artifacts/MHB_CAPSTRESS_r12.json.

Usage: python tools/mhb_capstress.py [N_DOCS] [ALPHA] [VOCAB] [OUT_JSON]
defaults: 300000 docs, alpha 1.5, vocab 3000.
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

from tools.gen_fuzzy_corpus import generate  # noqa: E402
from vat_etl_spark.queries import QUERIES  # noqa: E402
from vat_etl_spark.operators.neardup import BUCKET_CAP, elect  # noqa: E402
from vat_etl_spark.queries.dedup import (  # noqa: E402
    _hashed_sets,
    _minhash_bands,
    _minhash_sig_frame,
    _shingle_docsets,
    _sig_slim,
    _verify_common_tokens,
)
from vat_etl_spark.session import get_spark  # noqa: E402

_N_CLUSTERS = 3
_CLUSTER_SIZE = 1500  # > BUCKET_CAP: pre-fix these lost ALL pairs


def _append_identical_clusters(corpus: str, n_docs: int, seed: int) -> int:
    """Append _N_CLUSTERS identical-doc clusters of _CLUSTER_SIZE as an
    extra parquet part; returns the first cluster doc_id. Texts are
    drawn deterministically so the corpus stays byte-reproducible."""
    rng = np.random.default_rng(seed + 1)
    base = n_docs + 1_000_000  # id space clear of the generator's docs
    ids, texts = [], []
    for c in range(_N_CLUSTERS):
        words = [f"boiler{c}w{rng.integers(0, 1000)}" for _ in range(60)]
        text = " ".join(words)
        for i in range(_CLUSTER_SIZE):
            ids.append(base + c * _CLUSTER_SIZE + i)
            texts.append(text)
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(ids), pa.string()),
            "source": pa.array(["boiler"] * len(ids), pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(
        table,
        pathlib.Path(corpus) / "documents.parquet" / "part-900.parquet",
    )
    return base


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 300_000
    alpha = float(sys.argv[2]) if len(sys.argv) > 2 else 1.5
    vocab = int(sys.argv[3]) if len(sys.argv) > 3 else 3000
    out_json = (
        sys.argv[4]
        if len(sys.argv) > 4
        else os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "artifacts",
            "MHB_CAPSTRESS_r12.json",
        )
    )
    corpus = f"/tmp/mhb_capstress/n{n_docs}_a{alpha}_v{vocab}"
    if not os.path.exists(f"{corpus}/twins.parquet"):
        generate(corpus, n_docs, seed=11, vocab_size=vocab, alpha=alpha)
        cluster_base = _append_identical_clusters(corpus, n_docs, seed=11)
    else:
        cluster_base = n_docs + 1_000_000
    spark = get_spark("mhb-capstress")

    # --- bucket histogram: how active is the cap, and what does it save?
    hashed = _hashed_sets(_shingle_docsets(spark, corpus)).persist()
    slim = _sig_slim(_minhash_sig_frame(hashed))
    hist = (
        _minhash_bands(slim, elect(slim, ["k1", "k2"])[0])
        .groupBy("bk")
        .agg(F.count("*").alias("c"))
        .persist()
    )
    stats = hist.agg(
        F.count("*").alias("n_buckets"),
        F.count(F.when(F.col("c") > BUCKET_CAP, 1)).alias("n_hot"),
        F.max("c").alias("max_bucket"),
        F.sum(F.expr("c * (c - 1) / 2")).alias("pairs_uncapped"),
        F.sum(
            F.when(
                F.col("c") <= BUCKET_CAP, F.expr("c * (c - 1) / 2")
            ).otherwise(F.lit(0))
        ).alias("pairs_capped"),
    ).collect()[0]

    # --- twin recall vs exact planted truth (cap active)
    t0 = time.time()
    twins = spark.read.parquet(f"{corpus}/twins.parquet")
    jac = F.col("common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("common")
    )
    docsets = _shingle_docsets(spark, corpus)
    truth = (
        _verify_common_tokens(twins, docsets)
        .select("doc_a", "doc_b", jac.alias("j"))
        .where(F.col("j") >= 0.6)
        .persist()
    )
    detected = QUERIES["dedup_minhash_banded"](spark, corpus).select(
        "doc_a", "doc_b"
    ).persist()
    n_truth = truth.count()
    n_hit = truth.join(detected, ["doc_a", "doc_b"], "left_semi").count()
    wall = round(time.time() - t0, 1)

    # --- identical-cluster completeness (the ADVICE failure mode).
    # Round-13 ADVICE fix: compare against the EXACT expected pair set
    # (both ids in the same _CLUSTER_SIZE block) via a semi-join, not a
    # count of detected pairs in the cluster id range — a count could let
    # hypothetical cross-cluster false positives mask missing
    # within-cluster pairs.
    n_cluster_docs = _N_CLUSTERS * _CLUSTER_SIZE
    expect_cluster_pairs = _N_CLUSTERS * (
        _CLUSTER_SIZE * (_CLUSTER_SIZE - 1) // 2
    )
    ids = spark.range(cluster_base, cluster_base + n_cluster_docs)
    blk = (F.col("id") - cluster_base) / _CLUSTER_SIZE
    members = ids.select(
        F.col("id"), F.floor(blk).alias("c")
    )
    expected = (
        members.alias("x")
        .join(members.alias("y"), F.col("x.c") == F.col("y.c"))
        .where(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("doc_a"), F.col("y.id").alias("doc_b")
        )
    )
    got_cluster_pairs = expected.join(
        detected, ["doc_a", "doc_b"], "left_semi"
    ).count()
    cluster_false_pos = detected.where(
        (F.col("doc_a") >= cluster_base) & (F.col("doc_b") >= cluster_base)
    ).join(expected, ["doc_a", "doc_b"], "left_anti").count()

    doc = {
        "corpus": corpus,
        "n_docs": n_docs + n_cluster_docs,
        "zipf_alpha": alpha,
        "vocab_size": vocab,
        "bucket_cap": BUCKET_CAP,
        "n_buckets": int(stats.n_buckets),
        "n_buckets_over_cap": int(stats.n_hot),
        "max_bucket_distinct_sigs": int(stats.max_bucket),
        "candidate_pairs_capped": int(stats.pairs_capped),
        "candidate_pairs_uncapped_hypothetical": int(stats.pairs_uncapped),
        "truth_pairs_j_ge_0.6": n_truth,
        "detected_among_truth": n_hit,
        "recall": round(n_hit / n_truth, 4) if n_truth else None,
        "identical_cluster_pairs_expected": expect_cluster_pairs,
        "identical_cluster_pairs_detected": got_cluster_pairs,
        "cluster_range_false_positives": cluster_false_pos,
        "detect_wall_sec": wall,
    }
    with open(out_json, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    print(json.dumps(doc))


if __name__ == "__main__":
    main()
