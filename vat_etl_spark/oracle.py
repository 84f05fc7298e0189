"""Local mirror of the driver's DuckDB-oracle correctness protocol.

The driver runs each ``queries()[name]`` under Spark at sf=0.01 and the
matching ``oracle_sql()[name]`` under DuckDB over the same parquet, then
compares row-count + schema + order-insensitive value-hash
(``/root/repo/__spark_entry__.py`` contract). This module reimplements that
comparison so parity is verified in-repo (tests/test_oracle_parity.py)
before the driver ever sees the code.
"""

from __future__ import annotations

import math
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from vat_etl_spark.plans import (
    BOUNDED_GLOBAL_WINDOWS,
    plan_violations,
    trivially_true_predicates,
)
from vat_etl_spark.schemas import TESTDATA_TABLES
from vat_etl_spark.session import release_engine_caches


def duckdb_connect(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _norm_cell(v: Any) -> Any:
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # collapse -0.0 and format at full precision
        return repr(v + 0.0)
    return str(v)


def normalize_rows(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Sort columns by name, normalize cells, sort rows — the
    order-insensitive canonical form used for comparison."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple("" if x is None else str(x) for x in t))
    return out


def compare(
    spark_df: DataFrame, con, sql: str, name: str = "?", rel_tol: float = 0.0
) -> tuple[bool, str]:
    """Compare a Spark result against a DuckDB oracle result.

    Returns (ok, message). Strict: exact normalized equality — the driver
    hashes values, so approximate matches do NOT pass the real gate.
    """
    s_rows = [tuple(r) for r in spark_df.collect()]
    s_cols = list(spark_df.columns)
    d = con.execute(sql)
    d_cols = [c[0] for c in d.description]
    d_rows = [tuple(r) for r in d.fetchall()]

    if sorted(s_cols) != sorted(d_cols):
        return False, f"{name}: schema mismatch spark={sorted(s_cols)} duck={sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return False, f"{name}: rowcount mismatch spark={len(s_rows)} duck={len(d_rows)}"
    a = normalize_rows(s_cols, s_rows)
    b = normalize_rows(d_cols, d_rows)
    if a == b:
        return True, f"{name}: OK ({len(s_rows)} rows)"
    ndiff = sum(1 for x, y in zip(a, b) if x != y)
    example = next(((x, y) for x, y in zip(a, b) if x != y), None)
    return False, (
        f"{name}: value mismatch in {ndiff}/{len(a)} rows; first diff:\n"
        f"  spark={example[0]}\n  duck ={example[1]}"
    )


def run_all(
    spark: SparkSession, sf_dir: str, only: list[str] | None = None
) -> dict[str, tuple[bool, str]]:
    """Run every queries()/oracle_sql() pair and compare. Queries without an
    oracle get a rows-only check (>= 0 rows, i.e. executes successfully).
    Each built DataFrame must also obey ``plans.plan_violations`` (checked
    before it executes), and building it must log no trivially-true
    equals predicate: a query passes only when parity holds and its plan
    breaks no rule. Each query is one run: its engine caches are
    released after it."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    con = duckdb_connect(sf_dir)
    results: dict[str, tuple[bool, str]] = {
        name: (False, f"{name}: in BOUNDED_GLOBAL_WINDOWS but not registered")
        for name in BOUNDED_GLOBAL_WINDOWS.keys() - qs.keys()
    }
    for name, fn in qs.items():
        if only and name not in only:
            continue
        with trivially_true_predicates(spark) as warned:
            df = fn(spark, sf_dir)
        faults = [f"WARN while building: {w}" for w in warned] + plan_violations(name, df)
        if name in oracles:
            ok, msg = compare(df, con, oracles[name], name)
        else:
            ok, msg = True, f"{name}: rows-only check ({df.count()} rows)"
        if faults:
            ok, msg = False, f"{msg}; plan violations: " + "; ".join(faults)
        results[name] = (ok, msg)
        release_engine_caches(spark)
    return results
