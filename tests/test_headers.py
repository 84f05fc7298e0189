"""Header inference + normalization (reference fianl2.py:51-81 semantics)."""

from __future__ import annotations

import pytest

from vat_etl_spark.functions.headers import (
    canonical_rename,
    detect_header_row,
    normalize_header,
)


def test_normalize_nbsp_and_strip():
    assert normalize_header("  Net Value  ") == "Net Value"
    assert normalize_header(None) == ""


def test_detect_header_row_needs_two_keywords():
    rows = [
        ["junk", "junk"],
        ["only net here", "x"],          # 1 keyword → not a header
        ["Supply Type", "Tax", "Box"],   # 3 keywords → header
    ]
    assert detect_header_row(rows) == 2


def test_detect_header_row_defaults_to_zero():
    assert detect_header_row([["a", "b"], ["c", "d"]]) == 0


def test_detect_header_row_caps_scan_at_30():
    rows = [["x"]] * 31 + [["net", "tax"]]
    assert detect_header_row(rows) == 0


def test_canonical_rename_aliases():
    cols = ["Invoice #", "Net", "Tax", "Gross", "Customer Name", "Box", "Extra"]
    assert canonical_rename(cols) == [
        "Invoice Number",
        "Supply/Purchase Value",
        "VAT Value",
        "Invoice Value",
        "Customer/supplier Name",
        "Box",
        "Extra",
    ]


def test_xlsx_bridge_gated_when_openpyxl_missing(spark, tmp_path):
    """The Excel source must fail with a clear gate, not a random crash,
    in containers without openpyxl."""
    from vat_etl_spark.sources.excel import read_workbook

    fake = tmp_path / "wb.xlsx"
    fake.write_bytes(b"PK\x03\x04 not a real workbook")
    with pytest.raises((NotImplementedError, ValueError)):
        read_workbook(spark, str(fake))


# CSV header matrix: the first non-blank line as Spark's own inference names
# it. Bytes, so line endings and a BOM are exactly what the file holds. (A
# tab-only first line is the one case where csv_header follows Spark's data
# reader instead: tests/test_app.py.)
CSV_HEADER_CASES = {
    "plain": b"Date,Box,Net\n1,A,2\n",
    "bom": b"\xef\xbb\xbfDate,Box\n1,A\n",
    "crlf": b"Date,Box,Net\r\n1,A,2\r\n",
    "cr_only": b"Date,Box\r1,A\r",
    "quoted_comma": b'"Net, AED",Box\n"1,5",A\n',
    "case_duplicates": b"Box,box,Box\n1,2,3\n",
    "empty_name": b"Date,,Box\n1,2,3\n",
    "quotes": b'"say ""hi""","a\\"b",c\n1,2,3\n',
    "leading_blank_lines": b"\n  \n\r\nDate,Box\n1,A\n",
    "nbsp": "Date , Box\n1,A\n".encode(),
    "no_trailing_newline": b"Date,Box",
    "empty_file": b"",
}


def _job_free(spark, fn):
    """``fn()``'s result, asserting it ran no Spark job (its job group
    stays empty)."""
    sc = spark.sparkContext
    group = "csv_header_probe"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    return out


def _spark_header(spark, path):
    return spark.read.option("header", "true").csv(path).columns



@pytest.mark.parametrize("case", sorted(CSV_HEADER_CASES))
def test_csv_header_matches_spark_inference_without_jobs(spark, tmp_path, case):
    from vat_etl_spark.sources.catalog import csv_header

    path = tmp_path / f"{case}.csv"
    path.write_bytes(CSV_HEADER_CASES[case])
    got = _job_free(spark, lambda: csv_header(spark, str(path)))
    assert got == _spark_header(spark, str(path))


def test_csv_header_of_directory_is_the_largest_files(spark, tmp_path):
    """Spark infers a directory's header from the first line of its first
    split, the largest file's; hidden files are not part of the scan."""
    from vat_etl_spark.sources.catalog import csv_header

    d = tmp_path / "sheets"
    d.mkdir()
    (d / "a_small.csv").write_text("x,y\n1,2\n")
    (d / "b_large.csv").write_text("p,q,r\n" + "1,2,3\n" * 50)
    (d / "_hidden.csv").write_text("h\n" + "1\n" * 500)
    got = _job_free(spark, lambda: csv_header(spark, str(d)))
    assert got == _spark_header(spark, str(d)) == ["p", "q", "r"]
    glob = str(d / "*.csv")
    assert csv_header(spark, glob) == _spark_header(spark, glob)
    with pytest.raises(Exception, match="UNABLE_TO_INFER_SCHEMA"):
        csv_header(spark, str(d / "_hidden.csv"))


def test_csv_header_reads_through_the_compression_codec(spark, tmp_path):
    import gzip

    from vat_etl_spark.sources.catalog import csv_header

    path = str(tmp_path / "part-00000.csv.gz")
    with open(path, "wb") as fh:
        fh.write(gzip.compress(b"\n  \nDate,Box\n1,A\n"))
    got = _job_free(spark, lambda: csv_header(spark, path))
    assert got == _spark_header(spark, path) == ["Date", "Box"]
