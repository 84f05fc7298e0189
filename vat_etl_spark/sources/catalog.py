"""Testdata catalog: parquet readers for the driver tables (TESTDATA.md).

Parquet is the engine's primary scale format — columnar, statistics for
row-group skipping, splittable. Readers are plain ``spark.read.parquet`` so
Catalyst gets full pushdown/pruning; no schema override is needed because the
footers carry exact types (FIXTURES.md §B).
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from vat_etl_spark.schemas import TESTDATA_TABLES


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet stores ``ts`` as parquet TIMESTAMP(NANOS). Spark
    version behavior differs, so branch on the inferred schema:

    - Spark ≥4.1 reads NANOS natively as ``timestamp_ntz`` truncated to
      microseconds — verified identical to DuckDB's ``epoch_us(cast(ts AS
      TIMESTAMP))`` down to the microsecond. Cast NTZ→LTZ (identity under
      the UTC session timezone) so downstream ``unix_micros``/window
      functions accept it.
    - Older Sparks reject NANOS unless ``nanosAsLong`` is set, in which
      case ``ts`` arrives as a long of epoch-nanos: integral-divide to
      micros (double division loses precision above 2^53 ns) — the same
      truncation DuckDB applies casting ns→µs, so oracle comparisons agree.
    """
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(table_path(sf_dir, "events"))
    ts_type = df.schema["ts"].dataType.simpleString()
    if ts_type in ("bigint", "long"):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


_TABLE_CACHE: dict[tuple[int, str, str], DataFrame] = {}


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Memoized per (session, sf_dir, table): DataFrames are immutable lazy
    plans, so reuse is safe, and it avoids re-running footer/schema
    inference and file listing on every query that touches the same table —
    the same role a catalog plays on a real cluster.

    Split-granularity note: the testdata ships each table as one parquet
    file with ONE row group, so scan stages run on a single task (the row
    group is Spark's minimum split unit; maxPartitionBytes cannot divide
    it). A measured A/B of hash-repartitioning large tables post-scan showed
    the extra exchange costs MORE than the single-task scan at every bench
    size (e.g. q1 0.27s → 0.55s), so no rescue shuffle is inserted. At real
    scale the layout has many files × many row groups and scan parallelism
    comes from the layout itself — writers here emit 128 MB row groups
    (write_parquet in sinks.py) for exactly that reason."""
    key = (id(spark), sf_dir, name)
    if key not in _TABLE_CACHE:
        if name == "events":
            _TABLE_CACHE[key] = read_events(spark, sf_dir)
        else:
            _TABLE_CACHE[key] = spark.read.parquet(table_path(sf_dir, name))
    return _TABLE_CACHE[key]


def load_tables(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    """Load the driver parquet tables as lazy DataFrames."""
    return {
        name: read_table(spark, sf_dir, name)
        for name in (names or TESTDATA_TABLES)
        if os.path.exists(table_path(sf_dir, name))
    }


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load + register each table as a temp view for the SQL surface."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables


def hadoop_path(spark: SparkSession, path: str):
    """``path`` qualified by the Hadoop ``FileSystem`` that serves it —
    absolute, with scheme and authority, so ``x``, ``/abs/x`` and
    ``file:///abs/x`` compare equal — returned with that filesystem
    (py4j handles): the one way persisted state is located and managed
    whether it lives on a local disk, ``file://``, s3a or hdfs."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, fs.makeQualified(p)


def _jclass(spark: SparkSession, name: str):
    """A py4j handle on the JVM class ``name``, built without a round
    trip (``spark._jvm.a.b.C`` sends one reflection lookup per package
    segment)."""
    from py4j.java_gateway import JavaClass

    return JavaClass(name, spark._jvm._gateway_client)


def _hidden(name: str) -> bool:
    """Names Spark's file index leaves out of a directory scan."""
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def csv_header(spark: SparkSession, path: str) -> list[str]:
    """The column names ``spark.read.option("header", "true").csv(path)``
    infers, without the Spark job that inference runs.

    One case differs on purpose: a leading line that is blank only to
    Java's ``trim`` (e.g. a lone tab). Spark's inference takes it as the
    header (it skips only lines SQL ``trim`` empties), but its data reader
    skips it and drops the next line as the header; the names here are
    that next line's, so they name the rows the reader returns.

    The header is read as file metadata, with Spark's own CSV code on the
    JVM: ``CSVUtils.readHeaderLine`` reads the first line Java's ``trim``
    does not empty of the file inference reads first (for a directory or
    glob, the largest file: Spark packs splits largest first and takes the
    first line), through the file's compression codec and Hadoop's line
    reader, which drops a leading UTF-8 BOM. The univocity parser
    Spark configures (``CSVOptions.asParserSettings``) tokenizes it, and
    ``CSVUtils.makeSafeHeader`` names empty (``_c1``) and duplicate
    (``Box0, box1``, under the session's case sensitivity) columns. The
    names come back in one py4j call, newline-joined: a line holds none."""
    jvm = spark._jvm
    fs, qpath = hadoop_path(spark, path)
    files = []
    for st in fs.globStatus(qpath) or []:
        if not st.isDirectory():
            name = st.getPath().getName()
            if not _hidden(name):
                files.append((st.getLen(), st.getPath()))
            continue
        root = st.getPath().toString()
        it = fs.listFiles(st.getPath(), True)
        while it.hasNext():
            f = it.next()
            parts = [p for p in f.getPath().toString()[len(root):].split("/") if p]
            if not any(_hidden(p) for p in parts):
                files.append((f.getLen(), f.getPath()))
    if not files:  # Spark's own error: no such path, or nothing to infer from
        return spark.read.option("header", "true").csv(path).columns
    files.sort(key=lambda f: -f[0])  # stable: ties keep the listing order
    csv = _jclass(spark, "org.apache.spark.sql.execution.datasources.csv.CSVUtils")
    opts = _jclass(spark, "org.apache.spark.sql.catalyst.csv.CSVOptions")(
        jvm.PythonUtils.toScalaMap({"header": "true"}),
        False,
        spark.conf.get("spark.sql.session.timeZone"),
    )
    conf = spark._jsc.hadoopConfiguration()
    for _, fpath in files:
        line = csv.readHeaderLine(fpath, opts, conf)
        if line.isDefined():
            break
    else:
        return []
    parser = _jclass(spark, "com.univocity.parsers.csv.CsvParser")(opts.asParserSettings())
    tokens = parser.parseLine(line.get())
    case_sensitive = spark.conf.get("spark.sql.caseSensitive") == "true"
    names = csv.makeSafeHeader(tokens, case_sensitive, opts)
    joined = _jclass(spark, "org.apache.hadoop.util.StringUtils").join("\n", names)
    return joined.split("\n")


def read_index(spark: SparkSession, idx_path: str, schema) -> DataFrame | None:
    """Read a persisted dedup index (the corpus gates' key, line and
    signature indexes, and ``build_corpus``'s ``neardup_sig_index``) with
    its declared ``schema``. Returns None when ``idx_path`` does not exist
    yet — the only failure read as "no index".

    The probe is a TRY-READ, not a local-filesystem existence check: a
    ``pathlib``/``os.path`` probe reads "absent" for every Hadoop URI
    (``file://``, ``s3a://``, ``hdfs://``), which silently turns off
    dedup against history. Only ``PATH_NOT_FOUND`` is downgraded; a
    present but unreadable index raises, and so does an index directory
    with no data files (with an explicit schema Spark would read it as an
    empty index and admit every duplicate of the history it lost).

    The explicit schema replaces per-batch schema inference and merging
    (merging re-read every footer per batch: +9 s measured on a 20-epoch
    line index): a file written before a column existed reads it as
    NULL, and the ``epoch`` partition column is still discovered from the
    directory names under ``idx_path``. ``ignoreMissingFiles``: a
    directory the compactor purges under a running scan (its keys already
    live in a consolidated partition this listing also sees) must not
    fail it."""
    try:
        idx = (
            spark.read.schema(schema)
            .option("basePath", idx_path)
            .option("ignoreMissingFiles", "true")
            .parquet(idx_path)
        )
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return None
    if not idx.inputFiles():
        raise ValueError(f"index {idx_path} exists but holds no data files")
    return idx


def read_csv(spark: SparkSession, path: str, schema=None, header: bool = True) -> DataFrame:
    """CSV source with an explicit schema (no inference job at scale —
    schema inference reads the data twice). Compression-splittability and
    lack of column statistics make CSV a landing format only; convert to
    parquet before heavy queries."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-lines source. Same policy as CSV: explicit schema, landing
    format only; nested structs map to StructType/ArrayType columns."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_bucketed_table(
    df: DataFrame,
    name: str,
    path: str,
    bucket_cols: list[str],
    n_buckets: int = 8,
) -> None:
    """Persist a bucketed + sorted external table: joins/aggregations on the
    bucket columns between co-bucketed tables need NO shuffle (the scan
    reports the hash partitioning). This is the 100 TB strategy for repeated
    fact-fact joins — pay the shuffle once at write time."""
    (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .saveAsTable(name)
    )


def read_orc(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """ORC source — the other columnar container Spark reads natively, with
    the same pushdown/pruning/split machinery as parquet (PushedFilters show
    in .explain). Kept for interop with Hive-era warehouses; parquet remains
    the engine's primary format."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def read_json_tolerant(
    spark: SparkSession, path: str, schema, corrupt_col: str = "_corrupt_record"
) -> DataFrame:
    """JSON-lines source with malformed-record capture: PERMISSIVE mode
    parses what it can and lands the raw text of any unparseable line in
    ``corrupt_col`` instead of failing the job — at scale a single bad line
    in TB of logs must not kill the pipeline. Callers split the result on
    ``corrupt_col IS NULL`` into clean rows and a quarantine sink. (Use
    mode=DROPMALFORMED to silently drop instead; FAILFAST to abort.)"""
    from pyspark.sql import types as T

    full = T.StructType(schema.fields + [T.StructField(corrupt_col, T.StringType())])
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )
