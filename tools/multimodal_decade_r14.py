"""Round-14 multimodal pHash decade (verdict-r13 task 1 receipt): re-run
the 500 K → 5 M seed-7 fuzzy-corpus decade after the two structural
changes — fused 4×64-bit join bands and the signature-grain bucket cap —
and record what they changed:

- wall + verified pairs of the production `multimodal_dedup_phash`
  (pairs must equal the r13 receipt's 207 / 2 102 — the banding change
  is pigeonhole-lossless at tau=3, so the ANSWER is identical);
- join-band candidate volume via bucket-histogram arithmetic over the
  PRODUCTION band explode (sum C(sz,2) over kept buckets + the gsz>1
  within-group pairs) — r13's 32-bit-grain join measured 1.03 M → 103 M
  (exponent ≈2.0/decade); target ≤ ~1.3;
- buckets over BUCKET_CAP per scale (expected 0 on this corpus —
  the cap's ACTIVE-regime receipt is tools/phash_capstress.py).

Protocol: one session, untimed 50 K warm pass, one timed noop-write per
scale (bench.py's warm runs and pass loop), bench.py's cpu_probe_sec
recorded. Prints one JSON line; writes artifacts/MULTIMODAL_DECADE_r14.json.

Usage: python tools/multimodal_decade_r14.py [WORK_DIR]
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def _candidate_stats(spark, sf_dir: str) -> dict:
    """Histogram arithmetic over the PRODUCTION join-band explode: kept
    (capped) candidate mass, hypothetical uncapped mass, buckets over
    cap, within-group (identical-signature) pair mass."""
    from vat_etl_spark.operators.multimodal import attach_payload, perceptual_hash
    from vat_etl_spark.operators.neardup import BUCKET_CAP, elect
    from vat_etl_spark.queries.multimodal import _phash_band_explode
    from vat_etl_spark.sources.catalog import read_table

    docs = read_table(spark, sf_dir, "documents")
    sigs = perceptual_hash(attach_payload(docs)).select("doc_id", "bands").persist()
    grp, _ = elect(sigs, ["bands"])
    bk = (
        _phash_band_explode(grp, tau=3)
        .groupBy("band_no", "band_key")
        .count()
    )
    r = bk.agg(
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
    ).collect()[0]
    within = (
        grp.filter(F.col("gsz") > 1)
        .agg(F.sum(F.expr("gsz*(gsz-1)/2")))
        .collect()[0][0]
        or 0
    )
    sigs.unpersist()
    return {
        "band_candidates": int(r["kept"]),
        "uncapped_band_candidates": int(r["uncapped"]),
        "buckets_over_cap": int(r["over"]),
        "max_bucket": int(r["max_bucket"]),
        "within_group_pairs": int(within),
    }


def main() -> None:
    work = sys.argv[1] if len(sys.argv) > 1 else "/tmp/decade_r10"
    os.makedirs(work, exist_ok=True)
    here = os.path.dirname(os.path.abspath(__file__))
    repo = os.path.dirname(here)
    warm_dir = f"{work}/fuzzy50k"
    scales = [(500_000, f"{work}/fuzzy500k"), (5_000_000, f"{work}/fuzzy5m")]
    for n, out in [(50_000, warm_dir)] + scales:
        if not os.path.isdir(f"{out}/documents.parquet"):
            subprocess.run(
                [sys.executable, f"{here}/gen_fuzzy_corpus.py", out, str(n), "7"],
                check=True,
            )

    import bench
    from vat_etl_spark.session import get_spark

    spark = get_spark("multimodal-decade-r14")
    key = "multimodal_dedup_phash"
    bench.warm_keys(spark, [key], warm_dir)
    print("warm pass done", flush=True)

    row: dict = {"cpu_probe_sec": bench.cpu_probe(spark)}
    for n, sf in scales:
        samples, _ = bench.time_passes(spark, [key], sf, 1)
        row[f"wall_{n}"] = round(samples[key][0], 1)
        row[f"verified_pairs_{n}"] = bench.key_plan(spark, key, sf).count()
        for k, v in _candidate_stats(spark, sf).items():
            row[f"{k}_{n}"] = v
        print(
            f"phash @ {n}: {row[f'wall_{n}']}s "
            f"cands={row[f'band_candidates_{n}']} "
            f"pairs={row[f'verified_pairs_{n}']}",
            flush=True,
        )

    w0, w1 = row["wall_500000"], row["wall_5000000"]
    row["wall_exponent"] = round(math.log10(w1 / w0), 2) if w0 > 0 else None
    c0, c1 = row["band_candidates_500000"], row["band_candidates_5000000"]
    row["candidate_exponent"] = (
        round(math.log10(c1 / c0), 2) if c0 > 0 else None
    )
    out = {"multimodal_dedup_phash": row}
    with open(
        os.path.join(repo, "artifacts", "MULTIMODAL_DECADE_r14.json"), "w"
    ) as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps(out, sort_keys=True), flush=True)


if __name__ == "__main__":
    main()
