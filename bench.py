"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
compact JSON line on stdout: {"metric": ..., "value": total_sec,
"unit": "sec", "queries": {name: sec}, "sf": ...}. Per-query min/max
spread and the regression gate go to ONE stderr line ("BENCH_DIAG {...}")
so the stdout contract line stays well under tail-capture limits
(verdict-r14 item 1: the r13 line, grown by the spread block, was
truncated mid-line by the driver's tail capture and parsed as null).

Each query executes end-to-end into a noop sink (full pipeline, no driver
collect). The set covers every subsystem: VAT flagship, wide agg, multi-way
join, top-k, windows, sessionization, text, dedup, similarity.

Methodology: steady-state latency — one untimed warm pass of the full suite
(JIT + whole-stage-codegen compilation, shuffle machinery, catalog/footers),
then the timed pass. One-time JVM initialization is a per-process constant
that would otherwise dominate sub-second queries and is not a property of
the query plans being measured.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame  # noqa: E402

from vat_etl_spark.queries import QUERIES  # noqa: E402
from vat_etl_spark.session import get_spark, host_sizing, release_engine_caches  # noqa: E402

BENCH_QUERIES = [
    "vat_summary",
    "q1_pricing_summary",
    "q5_region_revenue",
    "topk_customers",
    "agg_rollup_period",
    "window_top3_orders_per_customer",
    "events_sessionize",
    "events_tumbling_window",
    "text_corpus_stats",
    "dedup_exact",
    "knn_bruteforce_cosine",
    # LLM-pipeline composite: quality-filter → exact-dedup survivor pick →
    # shard assignment, end-to-end — guards the north-star tier, not just
    # the relational surface.
    "pipeline_training_set",
    # explode + broadcast-join + agg over the text corpus — the heaviest
    # shape in the decontamination/dedup family.
    "pipeline_contamination_ngram",
    # two corpus-derived count tables joined back to the exploded bigram
    # stream with NO broadcast hints — exercises AQE's join-strategy and
    # skew decisions, a shape nothing else in the list covers.
    "text_bigram_fluency",
    # composed IR: two independent corpus-scan branches (BM25 postings,
    # vector cosine) each ending in a top-k, fused by a k-row outer join —
    # guards the retrieval family end-to-end.
    "retrieval_hybrid_rrf",
    # span-index join + doc-partitioned interval-merge windows + map-only
    # higher-order-lambda text reconstruction — the substring-dedup shape
    # (corpus scanned 3x by design: index build, probe, reconstruct).
    "pipeline_span_removal",
    # --- round-8 additions: the heavy LLM tier under the regression gate ---
    # shingle -> minhash -> band -> bucket join: the canonical near-dup
    # blocking shape (nothing above exercises the banded LSH join). The
    # round-10 b x r banded spelling is the ONLY benched MinHash since
    # round 11: ml.feature's single-hash OR bands cliff at 500 K docs
    # (SCALE.md), so that path is fenced as dedup_minhash_ml_reference
    # (oracle-checked A/B, never benched as production).
    "dedup_minhash_banded",
    # global line index + keep-first survivorship + doc-grain reassembly —
    # two keyed shuffles over the exploded line stream.
    "pipeline_line_dedup",
    # map-only hashed-classifier inference: the cheapest 100 TB shape;
    # guards the whole-stage-codegen projection staying fused.
    "pipeline_quality_classifier",
    # interpolated-LM scoring: bigram/continuation count tables joined back
    # to the token stream with exact integer-micros arithmetic.
    "text_kneser_ney_bigram",
    # round-14 addition: the multimodal family's first bench presence —
    # Arrow mapInPandas signature pass + signature-grain collapse + fused
    # 64-bit band equi-join + exact Hamming verify; the only benched
    # mapInPandas hot path, and the plan this round's fused-band change
    # rewired (SCALE.md round-14), so regressions land in the gate.
    "multimodal_dedup_phash",
]

# Queries whose REAL cost includes driver-coordinated phases (model-sized
# collects between distributed stages: PRF's feedback round, the two-pass
# rank's boundary/offset jobs). The prepared-plan protocol would hide those
# phases, so these are rebuilt and executed inside the timed pass —
# measuring the whole algorithm, exactly as a user runs it.
MULTI_JOB_BENCH = [
    # round-1 postings persist + feedback collect + round-2 re-rank (r5
    # ask: 2.8 s -> ~1.7 s after postings reuse)
    "retrieval_prf_rm3",
    # fused multi-metric two-pass ntile (functions/ranks.py
    # two_pass_ntile_multi since r7: one shared boundary sample + one
    # fused count/anchor aggregate = 3 driver jobs, down from 9)
    "events_rfm_segmentation",
    # serve-only beam search over the PERSISTED NN-Descent graph (round-8
    # build/serve split; round-11 audit split): driver-coordinated hop
    # loop with checkpoints, so the plan must be rebuilt per pass; the
    # warm pass builds the index once, timed passes measure SEARCH alone
    # — the exact-truth recall audit stays in the registered
    # ann_graph_search (oracle/pytest tier), so the gate stops re-flagging
    # the audit harness every time the recall budget moves. Runs via
    # key_plan below, not the QUERIES registry.
    "ann_graph_serve",
    # the composed end-to-end corpus build (round-10 ask): the FULL
    # curation funnel (Gopher -> classifier -> perplexity -> exact dedup
    # -> line dedup -> span removal -> SimHash gate -> leakage-safe split)
    # written partitionBy(split, shard) into a temp dir, funnel counters
    # asserted every pass. This is the flagship LLM deliverable; it runs
    # via run_key below, not the QUERIES registry.
    "corpus_build_full",
    # the same composed build with the CCNet train-once split (round 12):
    # the perplexity stage SCORES against a persisted LM (estimated once
    # in the warm phase — _bench_lm_dir) instead of re-deriving the KN LM
    # from the full input corpus per build. Benched alongside the self-LM
    # build so the production cadence's wall is a tracked number, not a
    # one-off decade receipt.
    "corpus_build_fixed_lm",
]

# Per-entry pass caps for the expensive composed pipelines: a full
# median-of-5 would double the bench wall. Three timed passes make the
# median a real middle sample — with two it is their mean, so one slow
# pass moves it by half its excess.
PASS_CAP = {"corpus_build_full": 3, "corpus_build_fixed_lm": 3}

CORPUS_KEYS = ("corpus_build_full", "corpus_build_fixed_lm")

# one-time per-process KN LM estimate for corpus_build_fixed_lm: the whole
# point of the fixed-LM shape is that estimation is AMORTIZED across
# builds, so the bench estimates once (warm phase) and every timed pass
# scores against the persisted tables — exactly the production cadence.
# Keyed by sf_dir (round-13 ADVICE: a second invocation in the same
# process with a different sf_dir must not score against the wrong LM)
# and cleaned up at process exit.
_BENCH_LM_DIRS: dict[str, str] = {}


def _bench_lm_dir(spark, sf_dir: str) -> str:
    if sf_dir not in _BENCH_LM_DIRS:
        import atexit
        import shutil
        import tempfile

        from vat_etl_spark.queries.llm_pipeline import kn_write_lm

        d = tempfile.mkdtemp(prefix="bench_knlm_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        kn_write_lm(spark, sf_dir, d)
        _BENCH_LM_DIRS[sf_dir] = d
    return _BENCH_LM_DIRS[sf_dir]


def cpu_probe(spark) -> float:
    """Fixed pure-JVM/CPU probe (round-13, verdict task 6): the regression
    gate normalizes by machine drift estimated FROM prior-round query
    walls, which conflates plan changes with host state. This probe is
    invariant across rounds (no I/O, no shuffle, whole-stage-codegen
    xxhash64 fold over a fixed range), so its wall isolates the host:
    compare cpu_probe_sec across BENCH_r*.json artifacts to attribute a
    slow round to the box, not the code. Median of 3 after one warm."""

    def _probe() -> float:
        t0 = time.perf_counter()
        spark.range(0, 400_000_000, 1, 32).selectExpr(
            "bit_xor(xxhash64(id)) AS s"
        ).collect()
        return time.perf_counter() - t0

    _probe()
    return round(statistics.median(_probe() for _ in range(3)), 3)


def key_plan(spark, key: str, sf_dir: str) -> DataFrame:
    """The DataFrame a non-corpus bench key writes: a registry query, or
    the serve-only ANN pass (audit-preset budget, no exact-truth audit)
    against the persisted graph index."""
    if key == "ann_graph_serve":
        from vat_etl_spark.queries.similarity import ann_graph_serve

        return ann_graph_serve(spark, sf_dir)
    return QUERIES[key](spark, sf_dir)


def run_key(spark, key: str, sf_dir: str, plan: DataFrame | None = None) -> dict:
    """Run one bench key once, end to end. A corpus key runs build_corpus
    into a fresh temp dir (with the fixed LM for corpus_build_fixed_lm),
    asserts the funnel-counter sanity contract (monotone non-increasing
    doc counts, nonzero output) so a silently-empty funnel can never post
    a fast time, and returns the build's ``funnel``, ``stage_walls`` and
    ``docs_written``. Any other key writes ``plan`` (default: built here
    by :func:`key_plan`) into the noop sink and returns {}."""
    if key not in CORPUS_KEYS:
        if plan is None:
            plan = key_plan(spark, key, sf_dir)
        plan.write.format("noop").mode("overwrite").save()
        return {}
    import shutil
    import tempfile

    from vat_etl_spark.queries.llm_pipeline import build_corpus

    lm_dir = _bench_lm_dir(spark, sf_dir) if key == "corpus_build_fixed_lm" else None
    out = tempfile.mkdtemp(prefix="bench_corpus_")
    try:
        m = build_corpus(spark, sf_dir, f"{out}/corpus", lm_dir=lm_dir)
    finally:
        shutil.rmtree(out, ignore_errors=True)
    docs = list(m["funnel"].values())  # insertion-ordered stage counts
    assert docs[0] > 0 and docs[-1] > 0, m["funnel"]
    assert all(a >= b for a, b in zip(docs, docs[1:])), m["funnel"]
    assert m["docs_written"] == docs[-1], m
    return {k: m[k] for k in ("funnel", "stage_walls", "docs_written")}


def release_caches(spark) -> None:
    """Drop every engine cache and fail if a persisted RDD or a cached
    plan survives: a timed run must not read a cache an earlier run
    built (VERDICT r15 #1: otherwise span_removal_plan's cache_latest
    hands every pipeline_span_removal pass after the first a warm
    InMemoryRelation, and a persisted frame can serve a matching subplan
    of another key)."""
    release_engine_caches(spark)
    n_rdds = spark.sparkContext._jsc.getPersistentRDDs().size()
    if n_rdds or not spark._jsparkSession.sharedState().cacheManager().isEmpty():
        raise RuntimeError(
            f"engine caches survived a run boundary ({n_rdds} persisted RDDs)"
        )


def _in_group(spark, key: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(key, f"bench:{key}")
    try:
        return fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def warm_keys(spark, keys: list[str], sf_dir: str, warm_dir: str | None = None) -> None:
    """One untimed run of every key (codegen, shuffle machinery, file
    listings, ANN index build) at ``warm_dir`` (default ``sf_dir``),
    caches released after each. Warming at another dir still builds the
    persisted state the timed runs at ``sf_dir`` read — the fixed LM and
    the ANN graph index — so no timed run pays for it. A corpus key gets
    a second warm run: after one, its first timed pass was still the
    slowest in 31 of 36 qtime runs."""
    for key in keys:
        for _ in range(2 if key in CORPUS_KEYS else 1):
            _in_group(spark, key, lambda: run_key(spark, key, warm_dir or sf_dir))
            release_caches(spark)
    if warm_dir not in (None, sf_dir):
        if "corpus_build_fixed_lm" in keys:
            _bench_lm_dir(spark, sf_dir)
        if "ann_graph_serve" in keys:
            from vat_etl_spark.queries.similarity import build_graph_index

            build_graph_index(spark, sf_dir)
        release_caches(spark)


def time_passes(
    spark, keys: list[str], sf_dir: str, n_passes: int,
    pass_cap: dict[str, int] = PASS_CAP,
) -> tuple[dict[str, list[float]], dict[str, dict]]:
    """The timed passes: ``n_passes`` rounds over ``keys`` in order, each
    run under ``setJobGroup(key)`` and followed by :func:`release_caches`.
    Returns per-key wall samples and each key's last run_key record.

    Prepared-plan protocol: a registry key's DataFrame is BUILT before
    its timed region and the timer covers execution only (noop sink —
    full scan/shuffle/agg, AQE re-plans every time). Python-side plan
    construction is driver overhead (~0.3s for the flagship's ~150 py4j
    round trips), is O(1) in data volume, and is not a property of the
    plans being measured — at 100 TB it is noise, at sf0.1 it would be
    ~30% of the flagship number. The plan is rebuilt (untimed) every
    pass: a plan that persists an intermediate at construction would
    otherwise run cache-less from the second pass on, a regime no caller
    sees. MULTI_JOB_BENCH keys are rebuilt inside the timed region (their
    driver-coordinated phases are the algorithm) and run at most
    ``pass_cap`` times."""
    samples: dict[str, list[float]] = {key: [] for key in keys}
    records: dict[str, dict] = {}
    for _ in range(n_passes):
        for key in keys:
            if len(samples[key]) >= pass_cap.get(key, n_passes):
                continue
            plan = None if key in MULTI_JOB_BENCH else key_plan(spark, key, sf_dir)
            t0 = time.perf_counter()
            records[key] = _in_group(
                spark, key, lambda: run_key(spark, key, sf_dir, plan)
            )
            samples[key].append(time.perf_counter() - t0)
            release_caches(spark)
    return samples, records


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark("bench")
    probe = cpu_probe(spark)

    # Warm-up: exercise the same codegen paths (broadcast hash join, decimal
    # hash aggregate, window, noop sink) once at smoke scale so the timings
    # below measure the queries, not one-time JVM/codegen initialization.
    smoke_dir = os.environ.get("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    warm = smoke_dir if os.path.isdir(smoke_dir) else sf_dir
    # touch every table's footer/file-listing once (catalog warm-up) so
    # query timings measure execution, not first-touch FS initialization
    from vat_etl_spark.sources.catalog import load_tables

    for df in load_tables(spark, sf_dir).values():
        df.schema
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    QUERIES["vat_summary"](spark, warm).write.format("noop").mode("overwrite").save()
    # untimed warm pass: compile every query's codegen stages at bench scale
    keys = BENCH_QUERIES + MULTI_JOB_BENCH
    warm_keys(spark, keys, sf_dir)

    # N timed passes (default 5), median-of-N per query: round 3 showed
    # best-of-2 drifting +20% across the board on untouched plans, which
    # makes real regressions indistinguishable from machine/JVM variance.
    # The median is robust to a slow outlier pass and, unlike min, does not
    # systematically reward noise; min/max per query are reported so a
    # reader can separate spread (environment) from shift (plan change).
    n_passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "5"))
    samples, _ = time_passes(spark, keys, sf_dir, n_passes)

    timings = {name: round(statistics.median(s), 3) for name, s in samples.items()}
    spread = {
        name: {"min": round(min(s), 3), "max": round(max(s), 3)}
        for name, s in samples.items()
    }
    total = round(sum(timings.values()), 3)
    # tier subtotals (round-13, verdict task 5): the two ~20 s corpus
    # builds dominate the total, so a regression in a sub-second query
    # moves it by <1% — report the fast tier (registry one-shot queries)
    # and slow tier (driver-coordinated composites) separately so the
    # total stays interpretable. No entries removed; the per-entry flag
    # logic is unchanged.
    subtotal_fast = round(sum(timings[n] for n in BENCH_QUERIES), 3)
    subtotal_slow = round(sum(timings[n] for n in MULTI_JOB_BENCH), 3)
    # Round-15 measurement fix (verdict-r14 item 1): the r13 driver
    # artifact had parsed=null because the one-line JSON — grown to ~4 KB
    # by the per-query spread block — outran the driver's tail capture
    # and was truncated mid-line, silencing the whole round-over-round
    # PERF comparison. The contract line (metric/value/unit/queries/
    # subtotals/probe/passes/sf) is now printed COMPACT on stdout (~1.2 KB
    # for 26 queries) and is the ONLY stdout line; the diagnostics
    # (spread, regression gate) move to ONE stderr line so any tail/line
    # capture of stdout sees a complete, parseable contract object. No
    # query key is removed or renamed; the timed regions are unchanged.
    contract = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "subtotal_fast_tier": subtotal_fast,
        "subtotal_slow_tier": subtotal_slow,
        "cpu_probe_sec": probe,
        "passes": n_passes,
        "sf": sf,
        "cpus": host_sizing()[0],
        "driver_heap": host_sizing()[1],
    }
    print(json.dumps(contract, separators=(",", ":")))
    diag = {
        "spread": spread,
        "regressions": find_regressions(timings, samples),
    }
    print(
        "BENCH_DIAG " + json.dumps(diag, separators=(",", ":")),
        file=sys.stderr,
    )


def find_regressions(
    timings: dict[str, float], samples: dict[str, list[float]]
) -> dict[str, object]:
    """Regression gate against the LATEST bench artifact taken on the same
    host shape (same ``sf`` and ``cpus`` stamp; artifacts without a
    ``cpus`` stamp predate it and never qualify): a key optimized in
    round N is flagged the moment a later run loses the gain, and a run
    on a 4-core host is never compared with a 32-core one. Robust to
    machine drift: the box's speed shifts run to run (measured a uniform
    1.4-1.7× slowdown across UNCHANGED queries within one day), so a
    query is flagged only when its median-vs-prior ratio exceeds 1.2× the
    MEDIAN ratio across the pack (it shifted against the pack, not with
    it) AND even this run's fastest pass is over that bar (a shift, not
    spread — the median-vs-min distinction the r3/r4 noise adjudication
    established). machine_drift is that pack ratio. Priors come from
    artifacts/BENCH_r*.json; no qualifying artifact (fresh clone, new
    host) degrades to no gate rather than an error."""
    import glob

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    host = (float(m.group(1)) if m else -1.0, host_sizing()[0])
    here = os.path.dirname(os.path.abspath(__file__))
    latest = None  # queries-map of the last qualifying artifact
    for path in sorted(glob.glob(os.path.join(here, "artifacts", "BENCH_r*.json"))):
        try:
            with open(path) as f:
                d = json.load(f)
            # driver artifacts wrap the contract under "parsed"; local
            # artifacts ARE the raw contract object
            prior = d.get("parsed") or (d if "metric" in d else {})
        except (OSError, json.JSONDecodeError):
            continue
        # queries scale non-uniformly with data volume and cores, so the
        # median-drift normalization cannot absorb an sf or cpus mismatch
        if (prior.get("sf"), prior.get("cpus")) != host:
            continue
        q = {
            name: sec
            for name, sec in (prior.get("queries") or {}).items()
            if isinstance(sec, (int, float)) and sec > 0 and name in timings
        }
        if q:
            latest = q
    if latest is None:
        return {"machine_drift": None, "flagged": {}}
    ratios = {name: timings[name] / latest[name] for name in latest}
    drift = statistics.median(ratios.values())
    flagged = {}
    for name, ratio in sorted(ratios.items()):
        bar = 1.2 * max(1.0, drift) * latest[name]
        if timings[name] > bar and min(samples[name]) > bar:
            flagged[name] = {
                "median": timings[name],
                "prior_median": latest[name],
                "ratio": round(ratio, 2),
                "ratio_vs_drift": round(ratio / max(1.0, drift), 2),
            }
    return {"machine_drift": round(drift, 2), "flagged": flagged}


if __name__ == "__main__":
    main()
