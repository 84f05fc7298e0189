"""Command-line application: the reference's Streamlit workflow
(``/root/reference/fianl2.py:198-259`` — upload → per-sheet normalize →
union → VAT box summary → screen/xlsx/SQLite sinks) as a headless Spark
driver program. A reference user switches by pointing this CLI at their
workbook; parquet/CSV inputs make the same pipeline work where Excel
libraries (or Excel-sized data) don't.

    python -m vat_etl_spark summary --input txns.csv --out-sqlite vat.db
    python -m vat_etl_spark summary --input workbook.xlsx --out-xlsx out.xlsx
    python -m vat_etl_spark query q1_pricing_summary --sf-dir /root/testdata/sf0.01
    python -m vat_etl_spark corpus --out /tmp/corpus --shards 8
    python -m vat_etl_spark list
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def load_transactions(
    spark: SparkSession, path: str, *, compat: bool = True, as_of_year: int | None = None
) -> DataFrame:
    """Dispatch on input format (the reference's S4 gate, widened beyond
    xlsx). xlsx goes through the driver-side workbook bridge; csv/parquet
    are read distributed as all-string columns, the sheet normalizer's
    input, and the file stem plays the sheet-name role (it carries the
    reporting month, as sheet names do in the reference's workbooks)."""
    from pyspark.sql.types import StringType, StructField, StructType

    from vat_etl_spark.functions.headers import canonical_rename
    from vat_etl_spark.functions.sqltext import ident
    from vat_etl_spark.sources.catalog import csv_header
    from vat_etl_spark.sources.excel import normalize_vat_sheet, read_workbook

    ext = os.path.splitext(path)[1].lower()
    if ext == ".xlsx":
        return read_workbook(spark, path, compat=compat, as_of_year=as_of_year)
    if ext == ".csv":
        # the header is read as file metadata, so no inference job runs
        schema = StructType([StructField(c, StringType()) for c in csv_header(spark, path)])
        raw = spark.read.schema(schema).option("header", "true").csv(path)
    elif ext in (".parquet", ""):
        raw = spark.read.parquet(path)
        raw = raw.selectExpr(*[f"CAST({ident(c)} AS STRING) AS {ident(c)}" for c in raw.columns])
    else:
        raise ValueError(f"unsupported input format {ext!r} (xlsx, csv, parquet)")
    renamed = raw.toDF(*canonical_rename(raw.columns))
    stem = os.path.splitext(os.path.basename(path.rstrip("/")))[0]
    return normalize_vat_sheet(renamed, stem, compat=compat, as_of_year=as_of_year)


def run_summary(args: argparse.Namespace, spark: SparkSession | None = None) -> DataFrame:
    from vat_etl_spark.operators.vat_summary import vat_box_summary
    from vat_etl_spark.session import get_spark
    from vat_etl_spark.sources import sinks

    spark = spark or get_spark("vat-etl-summary")
    tx = load_transactions(
        spark, args.input, compat=not args.sane, as_of_year=args.as_of_year
    )
    if tx.isEmpty():
        raise SystemExit("no rows parsed from input (reference P7 guard)")
    summary = vat_box_summary(tx, compat=not args.sane)

    # period-mapping display (reference fianl2.py:230-233)
    periods = tx.select("SourceSheet", "Month", "Year").distinct().orderBy("Year")
    print("Detected periods:")
    for r in periods.collect():
        print(f"  {r.SourceSheet}: {r.Month} {r.Year}")

    if args.out_parquet:
        sinks.write_parquet(summary, args.out_parquet)
    if args.out_sqlite:
        sinks.write_sqlite(summary, args.out_sqlite, table=args.sqlite_table)
    if args.out_xlsx:
        sinks.write_xlsx(summary, args.out_xlsx)
    summary.show(100, truncate=False)
    return summary


def run_query(args: argparse.Namespace, spark: SparkSession | None = None) -> DataFrame:
    from vat_etl_spark.queries import QUERIES
    from vat_etl_spark.session import get_spark

    if args.name not in QUERIES:
        raise SystemExit(f"unknown query {args.name!r}; see `list`")
    spark = spark or get_spark("vat-etl-query")
    df = QUERIES[args.name](spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
    df.show(args.rows, truncate=False)
    return df


def run_estimate_lm(args, spark: SparkSession | None = None):
    from vat_etl_spark.queries.llm_pipeline import kn_write_lm
    from vat_etl_spark.session import get_spark

    spark = spark or get_spark("vat-etl-estimate-lm")
    stats = kn_write_lm(spark, args.sf_dir, args.out, where=args.where)
    print(
        f"estimated KN LM from {stats['ref_docs']} reference docs "
        f"({stats['bigram_types']} bigram types) -> {stats['lm_dir']}"
    )
    return stats


def run_corpus(args, spark: SparkSession | None = None):
    from vat_etl_spark.queries.llm_pipeline import build_corpus
    from vat_etl_spark.session import get_spark

    spark = spark or get_spark("vat-etl-corpus")
    from vat_etl_spark.queries.llm_pipeline import CORPUS_STAGES

    stages = (
        tuple(s for s in args.stages.split(",") if s)
        if args.stages
        else CORPUS_STAGES
    )
    unknown = set(stages) - set(CORPUS_STAGES)
    if unknown:
        raise SystemExit(f"unknown corpus stages: {sorted(unknown)}")
    stats = build_corpus(
        spark, args.sf_dir, args.out, n_shards=args.shards, stages=stages,
        base_dir=args.base, lm_dir=args.lm_dir,
    )
    print("funnel: " + " -> ".join(f"{s}={n}" for s, n in stats["funnel"].items()))
    print(
        f"wrote {stats['docs_written']} docs across {stats['shards']} "
        f"(split, shard) partitions ({stats['splits']} splits) to {args.out}"
    )
    print(
        f"observed (from the write pass itself): train={stats['train_docs']} "
        f"val={stats['val_docs']} test={stats['test_docs']} "
        f"chars={stats['chars_written']}; persisted to {args.out}/build_metrics"
    )
    return stats


def run_ann_build(args, spark: SparkSession | None = None):
    """Build (or refresh) the persisted ANN serve indexes — the batch half
    of vector search: the NN-Descent graph and the IVF+PQ artifacts.
    Serve queries (ann_graph_search / ann_ivfpq_search) read these."""
    from vat_etl_spark.queries.similarity import (
        build_graph_index,
        build_ivfpq_index,
    )
    from vat_etl_spark.session import get_spark

    spark = spark or get_spark("vat-etl-ann-build")
    p1 = build_graph_index(spark, args.sf_dir, force=args.force)
    p2 = build_ivfpq_index(spark, args.sf_dir, force=args.force)
    print(f"graph index: {p1}")
    print(f"ivfpq index: {p2}")
    return p1, p2


def run_dedupe(args, spark: SparkSession | None = None):
    """Substring-granular dedup as a tool: write cleaned documents parquet
    under one of the two standard policies — ``span`` (Lee et al. 2021:
    cut EVERY copy of a repeated 5-gram run) or ``line`` (C4: keep the
    corpus-wide FIRST copy of each repeated line, drop the rest)."""
    from vat_etl_spark.queries import QUERIES
    from vat_etl_spark.session import get_spark

    spark = spark or get_spark("vat-etl-dedupe")
    name = {"span": "pipeline_span_removal", "line": "pipeline_line_dedup"}[
        args.policy
    ]
    cleaned = QUERIES[name](spark, args.sf_dir)
    from pyspark.sql import Observation

    obs = Observation("dedupe")
    unit = "n_removed"
    observed = cleaned.observe(
        obs,
        F.count("*").alias("docs"),
        F.sum(unit).alias("removed_units"),
        F.sum((F.col(unit) > 0).cast("long")).alias("docs_affected"),
    )
    observed.write.mode("overwrite").parquet(args.out)
    m = obs.get
    print(
        f"policy={args.policy}: {m['docs']} docs written to {args.out}; "
        f"{m['docs_affected']} affected, {m['removed_units']} "
        f"{'tokens' if args.policy == 'span' else 'lines'} removed"
    )
    return m


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="vat_etl_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("summary", help="VAT box summary pipeline (the reference app)")
    s.add_argument("--input", required=True, help="xlsx workbook, csv, or parquet")
    s.add_argument("--out-parquet", help="write summary as parquet")
    s.add_argument("--out-sqlite", help="write summary to SQLite (full replace)")
    s.add_argument("--sqlite-table", default="vat_summary")
    s.add_argument("--out-xlsx", help="write summary as xlsx (needs xlsxwriter)")
    s.add_argument("--sane", action="store_true",
                   help="documented fixes instead of bit-compat quirks")
    s.add_argument("--as-of-year", type=int, default=None,
                   help="year fallback when no dates parse (replaces now())")
    s.set_defaults(fn=run_summary)

    q = sub.add_parser("query", help="run a registered query")
    q.add_argument("name")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q.add_argument("--rows", type=int, default=20)
    q.add_argument("--explain", action="store_true")
    q.set_defaults(fn=run_query)

    c = sub.add_parser(
        "corpus",
        help="composed training-data build: gopher -> classifier -> "
        "perplexity -> exact dedup -> line dedup -> span removal -> "
        "simhash near-dup gate -> content-key split/shard parquet + "
        "dataset card",
    )
    c.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    c.add_argument("--out", required=True, help="output directory")
    c.add_argument("--shards", type=int, default=8)
    c.add_argument(
        "--stages",
        default=None,
        help="comma-separated subset of funnel stages (default: all)",
    )
    c.add_argument(
        "--base",
        default=None,
        help="previous build's out dir: incremental delta build gated "
        "against its written content keys and neardup_sig_index",
    )
    c.add_argument(
        "--lm-dir",
        default=None,
        help="persisted KN LM from 'estimate-lm': the perplexity stage "
        "SCORES against it (CCNet train-once) instead of re-estimating "
        "the LM from the full input corpus every build",
    )
    c.set_defaults(fn=run_corpus)

    e = sub.add_parser(
        "estimate-lm",
        help="estimate the Kneser-Ney LM + CCNet bucket thresholds once "
        "from a reference corpus and persist them for 'corpus --lm-dir'",
    )
    e.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    e.add_argument("--out", required=True, help="LM output directory")
    e.add_argument(
        "--where",
        default=None,
        help="SQL predicate restricting the reference corpus "
        "(e.g. 'doc_id % 10 < 3')",
    )
    e.set_defaults(fn=run_estimate_lm)

    a = sub.add_parser(
        "ann-build",
        help="build/refresh the persisted ANN serve indexes "
        "(NN-Descent graph + IVF/PQ artifacts)",
    )
    a.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    a.add_argument("--force", action="store_true", help="rebuild even if fresh")
    a.set_defaults(fn=run_ann_build)

    d = sub.add_parser(
        "dedupe",
        help="substring-granular dedup: write cleaned documents parquet "
        "(span = cut all copies of repeated 5-gram runs; "
        "line = keep first copy of each repeated line)",
    )
    d.add_argument("--policy", choices=["span", "line"], required=True)
    d.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    d.add_argument("--out", required=True, help="output directory")
    d.set_defaults(fn=run_dedupe)

    l = sub.add_parser("list", help="list registered queries")
    l.set_defaults(fn=None)
    return p


def main(argv: list[str] | None = None, spark: SparkSession | None = None):
    args = build_parser().parse_args(argv)
    if args.cmd == "list":
        from vat_etl_spark.queries import ORACLE_SQL, QUERIES

        for name in QUERIES:
            print(f"{name}  [{'oracle' if name in ORACLE_SQL else 'rows-only'}]")
        return None
    return args.fn(args, spark)


if __name__ == "__main__":
    main(sys.argv[1:])
