"""A custom Python DataSource (Spark 4 DataSource API) for sheet-per-file
workbooks: a directory of per-sheet CSVs (the openpyxl-free stand-in for an
xlsx workbook — swap the per-partition reader body for openpyxl row
iteration when the library is present and the distribution story is
identical).

This is the distributed alternative to the driver-side pandas bridge
(sources/excel.py, reference S1-S3): each SHEET becomes one input partition,
so sheet reads parallelize across executors, and the sheet name rides along
as the ``SourceSheet`` lineage column exactly as the reference retains it
(fianl2.py:161). Header handling per partition mirrors the reference:
detect the header row within the first 30 rows (≥2 keyword hits), normalize
NFKD/NBSP, rename through the exact alias map.

Usage:

    spark.dataSource.register(WorkbookDataSource)
    df = spark.read.format("vat_workbook").load("/path/to/workbook_dir")
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StringType, StructField, StructType

from vat_etl_spark.functions.headers import (
    canonical_rename,
    detect_header_row,
)
from vat_etl_spark.schemas import VAT_REQUIRED_COLUMNS

WORKBOOK_SCHEMA = StructType(
    [StructField(c, StringType()) for c in VAT_REQUIRED_COLUMNS]
    + [StructField("SourceSheet", StringType())]
)


def _sheet_files(directory: str) -> list[str]:
    import os

    return sorted(f for f in os.listdir(directory) if f.lower().endswith(".csv"))


def _read_sheet_rows(directory: str, filename: str):
    """One sheet's rows in WORKBOOK_SCHEMA order — the body both the batch
    and the stream reader run. csv.reader stands in for openpyxl's row
    iterator; everything else is format-agnostic. A canonical header that
    occurs twice reads from its FIRST column, the rule
    ``excel.read_workbook`` applies (``~columns.duplicated()``)."""
    import csv
    import os

    path = os.path.join(directory, filename)
    sheet = os.path.splitext(filename)[0]
    with open(path, newline="", encoding="utf-8") as fh:
        rows = list(csv.reader(fh))
    if not rows:
        return
    header_row = detect_header_row(rows)
    header = canonical_rename(rows[header_row])
    idx: dict[str, int] = {}
    for i, name in enumerate(header):
        idx.setdefault(name, i)
    for raw in rows[header_row + 1 :]:
        yield tuple(
            raw[idx[c]] if c in idx and idx[c] < len(raw) and raw[idx[c]] != "" else None
            for c in VAT_REQUIRED_COLUMNS
        ) + (sheet,)


class SheetPartition(InputPartition):
    def __init__(self, filename: str):
        self.filename = filename


class WorkbookReader(DataSourceReader):
    def __init__(self, options: dict):
        self.dir = options.get("path")
        if not self.dir:
            raise ValueError("vat_workbook requires a path (directory of sheet CSVs)")

    def partitions(self):
        sheets = _sheet_files(self.dir)
        if not sheets:
            raise ValueError(f"no sheets (*.csv) found in {self.dir!r}")
        return [SheetPartition(f) for f in sheets]

    def read(self, partition: SheetPartition):
        # runs ON THE EXECUTOR — one sheet per task
        yield from _read_sheet_rows(self.dir, partition.filename)


class WorkbookDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "vat_workbook"

    def schema(self) -> StructType:
        return WORKBOOK_SCHEMA

    def reader(self, schema: StructType) -> WorkbookReader:
        return WorkbookReader(self.options)

    def simpleStreamReader(self, schema: StructType) -> "WorkbookStreamReader":
        return WorkbookStreamReader(self.options)

    def writer(self, schema: StructType, overwrite: bool) -> "WorkbookWriter":
        return WorkbookWriter(self.options, schema, overwrite)


# --- streaming: sheets arriving in the directory become micro-batches --------


class WorkbookStreamReader:
    """SimpleDataSourceStreamReader over the workbook directory: the offset
    is the count of sheet files ingested in sorted-name order, so arriving
    sheets form the next micro-batch and any (start, end) range replays
    deterministically — exactly the replayability contract checkpoint
    recovery needs. Files must arrive append-only under ascending names
    (standard landing-zone discipline); at scale the same pattern is the
    file-notification source over object storage."""

    def __init__(self, options: dict):
        self.dir = options.get("path")
        if not self.dir:
            raise ValueError("vat_workbook stream requires a path")

    def initialOffset(self) -> dict:
        return {"n": 0}

    def read(self, start: dict):
        files = _sheet_files(self.dir)
        end = {"n": len(files)}
        # iter over a materialized list, not a generator: the simple-reader
        # contract prefetches on the driver and PICKLES the iterator out to
        # executors (list iterators pickle; generators don't)
        return iter(self._rows(files[start["n"]:])), end

    def readBetweenOffsets(self, start: dict, end: dict):
        files = _sheet_files(self.dir)
        return iter(self._rows(files[start["n"]:end["n"]]))

    def _rows(self, files: list[str]) -> list[tuple]:
        return [r for f in files for r in _read_sheet_rows(self.dir, f)]

    def commit(self, end: dict) -> None:
        pass


# --- write path: distributed sheet-per-partition writer ----------------------
#
# The reference's Excel sink collects to the driver (fianl2.py:241-250 —
# correct for its 4-rows-per-period summary). This is the scale path: each
# partition writes its own "sheet" (CSV stand-in, same caveat as the reader)
# under a two-phase commit — tasks emit TEMP files + a commit message, the
# driver renames winners into place and writes _SUCCESS, aborted/speculative
# attempts are discarded — i.e. the same output-commit protocol contract as
# Spark's FileOutputCommitter, expressed through the Python DataSource API.

from dataclasses import dataclass

from pyspark.sql.datasource import DataSourceWriter, WriterCommitMessage


@dataclass
class SheetCommit(WriterCommitMessage):
    temp_path: str
    n_rows: int


class WorkbookWriter(DataSourceWriter):
    def __init__(self, options: dict, schema: StructType, overwrite: bool):
        self.dir = options.get("path")
        if not self.dir:
            raise ValueError("vat_workbook writer requires a path")
        self.schema = schema
        self.overwrite = overwrite

    def write(self, iterator) -> SheetCommit:
        import csv
        import os
        import uuid

        os.makedirs(self.dir, exist_ok=True)
        tmp = os.path.join(self.dir, f".tmp-{uuid.uuid4().hex}.csv")
        n = 0
        with open(tmp, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow([fld.name for fld in self.schema.fields])
            for row in iterator:
                w.writerow(["" if v is None else v for v in row])
                n += 1
        return SheetCommit(temp_path=tmp, n_rows=n)

    def commit(self, messages) -> None:
        import os

        if self.overwrite:
            for f in os.listdir(self.dir):
                if f.lower().endswith(".csv") and not f.startswith(".tmp-"):
                    os.remove(os.path.join(self.dir, f))
        total = 0
        for i, m in enumerate(messages):
            os.replace(m.temp_path, os.path.join(self.dir, f"sheet-{i:05d}.csv"))
            total += m.n_rows
        with open(os.path.join(self.dir, "_SUCCESS"), "w") as f:
            f.write(str(total))

    def abort(self, messages) -> None:
        import os

        for m in messages:
            if m is not None and os.path.exists(m.temp_path):
                os.remove(m.temp_path)
