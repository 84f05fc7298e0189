"""Smoke-level oracle parity: every registered query must hash-match its
DuckDB oracle at sf0.001 and obey the registry-wide plan rules
(``plans.plan_violations``) — the one pass that builds every registration
(the full sf0.01 run is the verify recipe / driver gate; this keeps
`pytest` fast while still executing every plan end-to-end against the
oracle)."""

from __future__ import annotations

from vat_etl_spark.oracle import run_all


def test_all_queries_match_oracle(spark, sf_smoke):
    results = run_all(spark, sf_smoke)
    failures = [msg for ok, msg in results.values() if not ok]
    assert not failures, "\n".join(failures)
    assert len(results) >= 40


def test_entry_smoke(spark):
    import __spark_entry__ as m

    df = m.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {
        "Period", "FTA Box", "Description", "Net Value", "VAT Value", "Net VAT Payable",
    }
    assert set(m.oracle_sql()) <= set(m.queries())
