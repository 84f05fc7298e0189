"""Source-format surface: CSV / JSON round-trips with explicit schemas, and
bucketed-table co-located joins (the pay-shuffle-once-at-write-time path)."""

from __future__ import annotations

from pyspark.sql import functions as F

from vat_etl_spark.plans import shuffle_count
from vat_etl_spark.sources.catalog import (
    read_csv,
    read_json,
    read_table,
    write_bucketed_table,
)


def test_csv_roundtrip_explicit_schema(spark, sf_smoke, tmp_path):
    df = read_table(spark, sf_smoke, "nation")
    out = str(tmp_path / "nation_csv")
    df.write.option("header", "true").csv(out)
    back = read_csv(spark, out, schema=df.schema)
    assert back.schema == df.schema
    assert sorted(r.n_name for r in back.collect()) == sorted(
        r.n_name for r in df.collect()
    )


def test_json_roundtrip_explicit_schema(spark, sf_smoke, tmp_path):
    df = read_table(spark, sf_smoke, "region")
    out = str(tmp_path / "region_json")
    df.write.json(out)
    back = read_json(spark, out, schema=df.schema)
    assert back.schema == df.schema
    assert back.count() == df.count()
    assert sorted(r.r_name for r in back.collect()) == sorted(
        r.r_name for r in df.collect()
    )


def test_bucketed_join_has_no_shuffle(spark, sf_smoke, tmp_path):
    """Co-bucketed fact-fact join: zero Exchange operators in the plan."""
    o = read_table(spark, sf_smoke, "orders")
    li = read_table(spark, sf_smoke, "lineitem")
    write_bucketed_table(o, "orders_b", str(tmp_path / "ob"), ["o_orderkey"], 4)
    write_bucketed_table(li, "lineitem_b", str(tmp_path / "lb"), ["l_orderkey"], 4)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        ob, lb = spark.table("orders_b"), spark.table("lineitem_b")
        joined = ob.join(lb, ob["o_orderkey"] == lb["l_orderkey"]).select(
            "o_orderkey", "l_linenumber", "o_totalprice", "l_quantity"
        )
        assert shuffle_count(joined) == 0
        # and it actually runs
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


SHEET_JAN = """Supply Type,Invoice #,Date,Customer Name,Net,Tax,Gross,Recoverable,Box
Sales,1,15/01/2024,Acme,AED 1000,AED 50,AED 1050,,A
Sales,2,20/01/2024,Beta,USD 100,USD 5,USD 105,,B
"""
# a pre-header banner row, like real workbooks have (header detection must skip it)
SHEET_FEB = """ACME LLC - VAT workbook,,,,,,,,
Supply Type,Invoice #,Date,Customer Name,Net,Tax,Gross,Recoverable,Box
Purchase,3,10/02/2024,Gamma,(500),(25),(525),,C
"""


def test_workbook_datasource_distributed_sheets(spark, tmp_path):
    """Custom Python DataSource: one partition per sheet, per-partition
    header inference, SourceSheet lineage — the distributed form of the
    reference's workbook ingest."""
    from vat_etl_spark.sources.workbook_datasource import WorkbookDataSource

    wb = tmp_path / "wb"
    wb.mkdir()
    (wb / "Jan 2024.csv").write_text(SHEET_JAN)
    (wb / "Feb 2024.csv").write_text(SHEET_FEB)

    spark.dataSource.register(WorkbookDataSource)
    df = spark.read.format("vat_workbook").load(str(wb))
    assert df.rdd.getNumPartitions() == 2  # one per sheet
    rows = {r["Invoice Number"]: r for r in df.collect()}
    assert set(rows) == {"1", "2", "3"}
    assert rows["1"]["SourceSheet"] == "Jan 2024"
    assert rows["3"]["SourceSheet"] == "Feb 2024"  # banner row skipped
    assert rows["3"]["Box"] == "C"
    # canonical rename applied per partition: "Net" → "Supply/Purchase Value"
    assert rows["2"]["Supply/Purchase Value"] == "USD 100"


def test_workbook_datasource_first_duplicate_header_wins(spark, tmp_path):
    """Two headers that canonicalize to one name ("Net" and "Supply/Purchase
    Value") read from the FIRST column, as excel.read_workbook keeps the
    first (``~columns.duplicated()``) — in the batch read and in the row
    reader the stream source shares."""
    from vat_etl_spark.sources.workbook_datasource import (
        WorkbookDataSource,
        _read_sheet_rows,
    )

    wb = tmp_path / "wb_dup"
    wb.mkdir()
    (wb / "Jan 2024.csv").write_text(
        "Supply Type,Net,Date,Tax,Gross,Box,Supply/Purchase Value\n"
        "Sales,100,01/01/2024,5,105,A,999\n"
    )
    spark.dataSource.register(WorkbookDataSource)
    rows = spark.read.format("vat_workbook").load(str(wb)).collect()
    assert [r["Supply/Purchase Value"] for r in rows] == ["100"]
    (streamed,) = _read_sheet_rows(str(wb), "Jan 2024.csv")
    assert tuple(rows[0]) == streamed


def test_workbook_datasource_feeds_vat_pipeline(spark, tmp_path):
    """End-to-end: custom source → normalize → flagship summary."""
    from pyspark.sql import functions as F

    from vat_etl_spark.operators.vat_summary import vat_box_summary
    from vat_etl_spark.sources.excel import normalize_vat_sheet
    from vat_etl_spark.sources.workbook_datasource import WorkbookDataSource

    wb = tmp_path / "wb2"
    wb.mkdir()
    (wb / "Jan 2024.csv").write_text(SHEET_JAN)

    spark.dataSource.register(WorkbookDataSource)
    raw = spark.read.format("vat_workbook").load(str(wb)).drop("SourceSheet")
    norm = normalize_vat_sheet(raw, "Jan 2024", compat=True)
    summary = {r["FTA Box"]: r for r in vat_box_summary(norm, compat=True).collect()}
    assert summary["Box A"]["Net Value"] == 1000.0
    assert summary["Box B"]["Net Value"] == 367.0


def test_observe_metrics_on_ingest(spark, sf_smoke):
    """df.observe(): pipeline-embedded metrics (row counts, null counts,
    value totals) collected as a side effect of the action — the engine's
    data-quality instrumentation at no extra pass over the data."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("ingest_metrics")
    o = read_table(spark, sf_smoke, "orders").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").isNull().cast("long")).alias("null_prices"),
        F.max("o_orderdate").alias("max_date"),
    )
    n = o.filter(F.col("o_totalprice") > 0).count()
    assert obs.get["n_rows"] >= n
    assert obs.get["null_prices"] == 0
    assert obs.get["max_date"] is not None


def test_json_tolerant_captures_corrupt_records(spark, tmp_path):
    from pyspark.sql import types as T

    from vat_etl_spark.sources.catalog import read_json_tolerant

    p = tmp_path / "mixed.jsonl"
    p.write_text(
        '{"id": 1, "v": 10.5}\n'
        "this is not json\n"
        '{"id": 2, "v": "not-a-number"}\n'
        '{"id": 3, "v": 7.25}\n'
    )
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.DoubleType())]
    )
    df = read_json_tolerant(spark, str(p), schema).cache()
    clean = df.filter(F.col("_corrupt_record").isNull())
    quarantined = df.filter(F.col("_corrupt_record").isNotNull())
    assert sorted(r.id for r in clean.collect()) == [1, 3]
    assert quarantined.count() == 2  # the raw line survives for forensics
    assert any("not json" in r._corrupt_record for r in quarantined.collect())
    df.unpersist()


def test_csv_dropmalformed_skips_bad_rows(spark, tmp_path):
    from pyspark.sql import types as T

    p = tmp_path / "mixed.csv"
    p.write_text("id,v\n1,10.5\ntwo,oops\n3,7.25\n")
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.DoubleType())]
    )
    df = (
        spark.read.schema(schema)
        .option("header", "true")
        .option("mode", "DROPMALFORMED")
        .csv(str(p))
    )
    assert sorted(r.id for r in df.collect()) == [1, 3]


def test_workbook_datasource_writer_roundtrip(spark, sf_smoke, tmp_path):
    """Custom Python DataSource WRITE path: partition-parallel sheet files
    under a two-phase commit (temp file + rename-on-commit + _SUCCESS).
    Overwrite mode replaces the previous sheet set, not appends."""
    import os

    from vat_etl_spark.sources.workbook_datasource import WorkbookDataSource

    spark.dataSource.register(WorkbookDataSource)
    out = str(tmp_path / "wb_out")
    df = read_table(spark, sf_smoke, "region").repartition(3)
    df.write.format("vat_workbook").mode("overwrite").save(out)

    files = sorted(f for f in os.listdir(out) if f.endswith(".csv"))
    assert len(files) == 3 and files[0] == "sheet-00000.csv"
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    assert not [f for f in os.listdir(out) if f.startswith(".tmp-")]
    back = spark.read.option("header", "true").csv(out)
    assert back.count() == df.count()
    assert set(back.columns) == set(df.columns)

    # overwrite: fewer partitions ⇒ fewer sheets, previous set gone
    df.coalesce(1).write.format("vat_workbook").mode("overwrite").save(out)
    files2 = [f for f in os.listdir(out) if f.endswith(".csv")]
    assert len(files2) == 1
    assert spark.read.option("header", "true").csv(out).count() == df.count()


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join handling: a sort-merge join whose shuffle has one hot
    key must come back from execution with ``SortMergeJoin(skew=true)`` and
    ``AQEShuffleRead … skewed`` — the hot reducer partition split into
    mapper-range chunks with the other side replicated. This is the
    runtime defense the engine relies on at 100 TB when salting wasn't
    applied by hand (SCALE.md). Split granularity is per MAP OUTPUT, so
    the scenario needs multiple mappers (10-partition ranges), and the
    split target is max(advisory size, minPartitionSize) — thresholds are
    forced far below the hot partition's bytes."""
    from pyspark.sql import functions as F

    prev = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "800")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "800")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        hot = F.when(F.col("id") < 250, 249).otherwise(F.col("id"))
        left = spark.range(0, 1000, 1, 10).select(
            hot.alias("key1"), F.col("id").alias("value1")
        )
        right = spark.range(0, 1000, 1, 10).select(
            F.when(F.col("id") % 3 == 0, 249).otherwise(F.col("id")).alias("key2"),
            F.col("id").alias("value2"),
        )
        j = left.join(right, F.col("key1") == F.col("key2"))
        j.collect()
        final = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, final[:2000]
        assert "skewed" in final  # AQEShuffleRead marker
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_read_workbook_logs_skipped_sheet(spark, monkeypatch, caplog):
    """A sheet that fails to read is skipped, never silently: the sheet
    name and the exception go to the module logger (the reference shows
    st.error and continues, fianl2.py:219-221). openpyxl is optional, so
    pandas' Excel entry points are stubbed with in-memory sheets."""
    import io
    import logging

    import pandas as pd

    from vat_etl_spark.sources import excel

    good = pd.read_csv(io.StringIO(SHEET_JAN), header=None, dtype=object)

    class FakeBook:
        sheet_names = ["Jan 2024", "Broken"]

    def fake_read_excel(xls, sheet_name, header, dtype):
        if sheet_name == "Broken":
            raise ValueError("corrupt sheet XML")
        return good

    monkeypatch.setattr(pd, "ExcelFile", lambda path: FakeBook())
    monkeypatch.setattr(pd, "read_excel", fake_read_excel)
    with caplog.at_level(logging.ERROR, logger=excel.__name__):
        out = excel.read_workbook(spark, "book.xlsx")
    assert out.select("SourceSheet").distinct().collect()[0][0] == "Jan 2024"
    skipped = [r for r in caplog.records if r.name == excel.__name__]
    assert len(skipped) == 1
    assert "Broken" in skipped[0].getMessage()
    assert "corrupt sheet XML" in caplog.text
