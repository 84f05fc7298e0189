"""Pin the regression-gate semantics (bench.find_regressions): a key is
judged against the latest artifact of the same sf and core count only —
one ancient fast-host artifact can no longer flag a key that the recent
comparison shows improved (the r15 false positive: dedup_minhash_banded
vs a probe-less r11 wall). Also pins bench's pass loop: no engine cache
crosses a run boundary."""

from __future__ import annotations

import glob
import json

import pytest
from pyspark.sql import functions as F

import bench
from vat_etl_spark.functions.caching import cache_latest
from vat_etl_spark.queries import QUERIES
from vat_etl_spark.session import release_engine_caches

# the gate reads the scale factor from the env: pin it, never inherit it
SF_DIR = "/root/testdata/sf0.1"
# and compares only artifacts stamped with this host's core count
CPUS = bench.host_sizing()[0]


def _write(tmp_path, name, queries, cpus=CPUS):
    p = tmp_path / name
    p.write_text(
        json.dumps({"metric": "m", "sf": 0.1, "cpus": cpus, "queries": queries})
    )
    return str(p)


def test_gate_flags_only_intersection(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF_DIR)
    # ancient artifact: key x recorded on a much faster host (or an older
    # algorithm generation) -> x looks regressed against IT only
    p1 = _write(
        tmp_path, "BENCH_r01.json", {"x": 0.5, "y": 1.0, "z": 1.0, "w": 1.0}
    )
    # recent artifact: x actually improved; z regressed here too
    p2 = _write(
        tmp_path, "BENCH_r02.json", {"x": 1.0, "y": 1.0, "z": 1.0, "w": 1.0}
    )
    monkeypatch.setattr(glob, "glob", lambda pat: [p1, p2])
    timings = {"x": 0.9, "y": 1.0, "z": 2.0, "w": 1.0}
    samples = {k: [v, v, v] for k, v in timings.items()}
    out = bench.find_regressions(timings, samples)
    # sanity of the construction: x IS suspect against the ancient
    # artifact alone (ratio 1.8 vs bar 1.2*1.4) but improved vs recent
    assert "x" not in out["flagged"], out
    # z is over the bar against EVERY artifact -> flagged
    assert "z" in out["flagged"], out
    # drift reported vs the most recent artifact's pack
    assert out["machine_drift"] == 1.0


def test_gate_flags_key_missing_from_some_artifacts(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF_DIR)
    # a key recorded by only SOME artifacts must still be flaggable: the
    # intersection runs over the artifacts that recorded it, not all
    # artifacts (r15 review finding — a plain all-artifact intersection
    # permanently exempted every key added after any recorded round)
    p1 = _write(tmp_path, "BENCH_r01.json", {"y": 1.0, "z": 1.0, "w": 1.0})
    p2 = _write(
        tmp_path, "BENCH_r02.json", {"x": 1.0, "y": 1.0, "z": 1.0, "w": 1.0}
    )
    monkeypatch.setattr(glob, "glob", lambda pat: [p1, p2])
    timings = {"x": 5.0, "y": 1.0, "z": 1.0, "w": 1.0}
    samples = {k: [v, v, v] for k, v in timings.items()}
    out = bench.find_regressions(timings, samples)
    assert "x" in out["flagged"], out
    # and its details come from the artifact that recorded it
    assert out["flagged"]["x"]["prior_median"] == 1.0


def test_gate_min_spread_shield(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF_DIR)
    # a slow MEDIAN whose fastest pass is under the bar is spread, not a
    # shift -> never flagged (the r3/r4 adjudication, carried over)
    p1 = _write(tmp_path, "BENCH_r01.json", {"x": 1.0, "y": 1.0, "z": 1.0})
    monkeypatch.setattr(glob, "glob", lambda pat: [p1])
    timings = {"x": 2.0, "y": 1.0, "z": 1.0}
    samples = {"x": [1.1, 2.0, 2.2], "y": [1.0], "z": [1.0]}
    out = bench.find_regressions(timings, samples)
    assert out["flagged"] == {}, out


def test_gate_skips_mismatched_sf(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF_DIR)
    p1 = tmp_path / "BENCH_r01.json"
    p1.write_text(
        json.dumps({"metric": "m", "sf": 0.01, "cpus": CPUS, "queries": {"x": 0.1}})
    )
    monkeypatch.setattr(glob, "glob", lambda pat: [str(p1)])
    out = bench.find_regressions({"x": 1.0}, {"x": [1.0]})
    assert out == {"machine_drift": None, "flagged": {}}


def test_gate_skips_other_host_cpus(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF_DIR)
    # x looks 10x regressed against an artifact from a host with another
    # core count; that artifact is not a comparable prior
    p1 = _write(tmp_path, "BENCH_r01.json", {"x": 0.1}, cpus=CPUS + 28)
    monkeypatch.setattr(glob, "glob", lambda pat: [p1])
    out = bench.find_regressions({"x": 1.0}, {"x": [1.0]})
    assert out == {"machine_drift": None, "flagged": {}}


def _cache_state(spark) -> tuple[int, bool]:
    """(persisted RDDs, cache manager empty?)"""
    return (
        spark.sparkContext._jsc.getPersistentRDDs().size(),
        spark._jsparkSession.sharedState().cacheManager().isEmpty(),
    )


def _cached_key(seen: list):
    """A registry plan that persists an intermediate at construction
    (cache_latest, like span_removal_plan) and reads it twice; each
    construction records the cache state it finds, i.e. what crossed the
    previous run boundary."""

    def plan(spark, sf_dir):
        seen.append(_cache_state(spark))
        (base,) = cache_latest(
            "bench_loop_probe",
            spark.range(0, 1000).withColumn("k", F.col("id") % 7),
        )
        return base.groupBy("k").count().join(
            base.groupBy("k").agg(F.max("id").alias("top")), "k"
        )

    return plan


def test_pass_loop_releases_caches_between_runs(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF_DIR)
    seen: list = []
    monkeypatch.setitem(QUERIES, "bench_loop_probe", _cached_key(seen))
    release_engine_caches(spark)  # start clean of other tests' caches
    bench.warm_keys(spark, ["bench_loop_probe"], SF_DIR)
    samples, _ = bench.time_passes(spark, ["bench_loop_probe"], SF_DIR, 3)
    assert len(samples["bench_loop_probe"]) == 3
    # warm run + 3 timed runs, each built on a cache-free session
    assert seen == [(0, True)] * 4, seen
    assert _cache_state(spark) == (0, True)


def test_pass_loop_fails_when_a_cache_survives(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF_DIR)
    monkeypatch.setitem(QUERIES, "bench_loop_probe", _cached_key([]))
    monkeypatch.setattr(bench, "release_engine_caches", lambda s: 0)
    try:
        with pytest.raises(RuntimeError, match="survived"):
            bench.time_passes(spark, ["bench_loop_probe"], SF_DIR, 2)
    finally:
        release_engine_caches(spark)
