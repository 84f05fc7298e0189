"""Retrieval-family decade: BM25 / chunk-MaxP / RM3 PRF / eval / hybrid
RRF at 500 K -> 5 M docs (verdict-r11 task 6).

Every other query family has 10x receipts; retrieval topped out at
sf0.1 bench walls. Protocol follows the SCALE.md decade runs: the seeded
fuzzy-vocabulary corpus family (realistic Zipf 30 K vocab), one session,
serial, untimed 50 K warm pass, ONE timed run per (query, scale) with
both scales timed same-session so the exponent is same-night.

Two decade-specific fixtures:

- the registered queries rank the fixed terms _BM25_TERMS, which don't
  occur in the pseudo-word vocabulary — the harness picks THREE
  MID-FREQUENCY TERMS from the 500 K corpus (df nearest n/100, n/20,
  n/5) and patches queries.text._BM25_TERMS for the session (the same
  terms at both scales, so the exponent compares identical queries; the
  patch is a harness device, the registered contract is untouched);
- retrieval_hybrid_rrf's vector branch needs an embeddings table:
  seeded 64-dim float32 vectors (vec_id == doc_id grain) are written
  alongside each corpus.

Watch-items from the verdict: RM3's two-round shape and MaxP's
chunk-grain BM25 are the candidates for super-linear joins.

Usage: python tools/retrieval_decade.py [WORK_DIR]
(prints one JSON line; writes artifacts/RETRIEVAL_DECADE_r12.json)
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

QUERIES_TO_TIME = [
    "text_bm25_ranking",
    "retrieval_chunk_maxp",
    "retrieval_prf_rm3",
    "retrieval_eval_metrics",
    "retrieval_hybrid_rrf",
]


def _write_embeddings(out_dir: str, n: int, seed: int) -> None:
    """Seeded iid 64-dim float32 vectors at vec_id == doc_id grain, in
    500 K-row files (the hybrid query's vector branch is a brute-force
    cosine scan — iid vs clustered doesn't change its cost shape)."""
    path = f"{out_dir}/embeddings.parquet"
    if os.path.isdir(path):
        return
    os.makedirs(path, exist_ok=True)
    rng = np.random.default_rng(seed)
    chunk = 500_000
    for f, start in enumerate(range(0, n, chunk)):
        m = min(chunk, n - start)
        vecs = rng.standard_normal((m, 64)).astype(np.float32)
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(
                        range(start, start + m), pa.int64()
                    ),
                    "embedding": pa.array(
                        list(map(list, vecs)), pa.list_(pa.float32())
                    ),
                    "label": pa.array(["x"] * m, pa.string()),
                }
            ),
            f"{path}/part-{f:03d}.parquet",
        )


def _pick_terms(spark, sf_dir: str, n_docs: int) -> list[str]:
    """Three deterministic mid-frequency terms from the 500 K corpus: the
    tokens whose document frequency is nearest n/100, n/20 and n/5 —
    real postings volume at every scale without degenerating into
    every-doc stopword scans."""
    from pyspark.sql import functions as F

    df = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            F.explode(
                F.array_distinct(F.split(F.trim("text"), r"\s+"))
            ).alias("w")
        )
        .groupBy("w")
        .count()
    ).persist()
    terms = []
    for target in (n_docs // 100, n_docs // 20, n_docs // 5):
        t = (
            df.filter(~F.col("w").isin(terms))
            .orderBy(F.abs(F.col("count") - target), "w")
            .first()
        )
        terms.append(t["w"])
    df.unpersist()
    return terms


def main() -> None:
    work = sys.argv[1] if len(sys.argv) > 1 else "/tmp/decade_r10"
    os.makedirs(work, exist_ok=True)
    here = os.path.dirname(os.path.abspath(__file__))
    repo = os.path.dirname(here)
    warm = (50_000, f"{work}/fuzzy50k")
    scales = [(500_000, f"{work}/fuzzy500k"), (5_000_000, f"{work}/fuzzy5m")]
    for n, out in [warm] + scales:
        if not os.path.isdir(f"{out}/documents.parquet"):
            t0 = time.time()
            subprocess.run(
                [sys.executable, f"{here}/gen_fuzzy_corpus.py", out, str(n), "7"],
                check=True,
            )
            print(f"generated {n} docs in {round(time.time()-t0,1)}s", flush=True)
        _write_embeddings(out, n, seed=n)

    from vat_etl_spark.queries import QUERIES, text as text_mod
    from vat_etl_spark.session import get_spark

    spark = get_spark("retrieval-decade")
    terms = _pick_terms(spark, scales[0][1], scales[0][0])
    print(json.dumps({"patched_bm25_terms": terms}), flush=True)
    text_mod._BM25_TERMS[:] = terms  # in-place: closures saw the list object

    results: dict[str, dict] = {}
    for name in QUERIES_TO_TIME:
        QUERIES[name](spark, warm[1]).write.format("noop").mode(
            "overwrite"
        ).save()
    print("warm pass done", flush=True)

    for name in QUERIES_TO_TIME:
        row: dict[str, object] = {}
        for n, sf in scales:
            t0 = time.time()
            QUERIES[name](spark, sf).write.format("noop").mode(
                "overwrite"
            ).save()
            row[f"wall_{n}"] = round(time.time() - t0, 1)
            print(f"{name} @ {n}: {row[f'wall_{n}']}s", flush=True)
        w0, w1 = row["wall_500000"], row["wall_5000000"]
        row["exponent"] = round(math.log10(w1 / w0), 2) if w0 > 0 else None
        results[name] = row
    results["bm25_terms"] = terms
    out_json = os.path.join(repo, "artifacts", "RETRIEVAL_DECADE_r12.json")
    with open(out_json, "w") as f:
        json.dump(results, f, indent=1, sort_keys=True)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
