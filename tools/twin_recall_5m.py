"""Planted-twin recall of dedup_minhash_banded at 5 M docs — EXACT truth.

The third decade (SCALE.md round-11) proved the
hardened banded MinHash *survives* 5 M docs and that its verified-pair
count scales output-linearly; this measures the claim an all-pairs
oracle cannot reach at that scale: RECALL against exact planted ground
truth. tools/gen_fuzzy_corpus.py now writes a twins.parquet sidecar
(the (base, twin) id pairs it planted — corpus bytes unchanged), so
truth is computable per-pair: planted pairs whose EXACT 3-gram-shingle
Jaccard ≥ 0.6 (at edit_rate 0.1 a twin's shingle-Jaccard averages
~0.58 — token-level J ~0.82 destroys ~27 % of 3-grams — so roughly
half the planted pairs are legitimately below the contract threshold
and per-pair truth is the only honest denominator).

Prints one JSON line: truth size, detected∩truth, recall, and the
missed pairs' Jaccard histogram (expected: misses hug the 0.6
boundary, where the b×r scheme's hit probability is by design ~0.97).

Usage: python tools/twin_recall_5m.py [CORPUS_DIR]
(CORPUS_DIR must contain documents.parquet AND twins.parquet)
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from vat_etl_spark.queries import QUERIES  # noqa: E402
from vat_etl_spark.queries.dedup import (  # noqa: E402
    _shingle_docsets,
    _verify_common_tokens,
)
from vat_etl_spark.session import get_spark  # noqa: E402


def main() -> None:
    corpus = sys.argv[1] if len(sys.argv) > 1 else "/tmp/decade_r11/fuzzy5m"
    spark = get_spark("twin-recall-5m")
    twins = spark.read.parquet(f"{corpus}/twins.parquet")
    docsets = _shingle_docsets(spark, corpus)
    jac = F.col("common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("common")
    )
    planted = (
        _verify_common_tokens(twins, docsets)
        .select("doc_a", "doc_b", jac.alias("j"))
        .localCheckpoint()
    )
    truth = planted.where(F.col("j") >= 0.6)
    detected = QUERIES["dedup_minhash_banded"](spark, corpus).select(
        "doc_a", "doc_b"
    )
    hit = truth.join(detected, ["doc_a", "doc_b"], "left_semi")
    missed = truth.join(detected, ["doc_a", "doc_b"], "left_anti")
    n_planted = planted.count()
    n_truth = truth.count()
    n_hit = hit.count()
    miss_hist = {
        f"{r['bin'] / 100:.2f}": r["n"]
        for r in missed.groupBy(
            F.floor(F.col("j") * 100).cast("int").alias("bin")
        )
        .agg(F.count("*").alias("n"))
        .orderBy("bin")
        .collect()
    }
    print(
        json.dumps(
            {
                "corpus": corpus,
                "planted_pairs": n_planted,
                "truth_pairs_j_ge_0.6": n_truth,
                "detected_among_truth": n_hit,
                "recall": round(n_hit / n_truth, 4) if n_truth else None,
                "missed_jaccard_histogram": miss_hist,
            }
        )
    )


if __name__ == "__main__":
    main()
