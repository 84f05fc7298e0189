"""Continuous corpus admission: three Structured Streaming gates over a
feed that never stops, each deduplicating arriving documents against a
PERSISTENT index of everything it admitted before.

- :func:`admit_batch` — exact gate: shared batch/stream quality gate
  (queries/llm_pipeline.py:quality_flags), then content-key dedup
  (``corpus_admit_plan``, the plan of the ``corpus_ingest_admit_twin``
  oracle query) against ``key_index``.
- :func:`admit_lines_batch` — C4 line gate: every document sheds the
  lines the corpus already holds (``line_dedup_plan``, the plan of
  ``pipeline_line_dedup``) against ``line_index``.
- :func:`admit_neardup_batch` — SimHash near-dup gate
  (``neardup_admit_plan``, the plan of ``corpus_neardup_admit_twin``)
  against ``simhash_index``.

Historical documents are touched ONLY as their compact index (the delta
discipline of ``pipeline_incremental_dedup``). Every gate runs one
protocol per micro-batch (:func:`_run_gate`):

1. **History**: read the index with its declared schema
   (``sources.catalog.read_index``: a missing index means "no history
   yet", anything else unreadable raises) and drop the rows this epoch
   wrote itself — on the ``src_epoch`` DATA column, coalesced with the
   ``epoch`` partition for files written before that column existed.
   Compaction may have folded the epoch's rows into a consolidated
   partition, and a replay must still exclude them or it would block
   itself and clobber its output with an empty admit.
2. **Admit**: a pure lazy plan shared with a registered batch twin, so
   the twin's oracle row is direct evidence for the stream's semantics.
3. **Snapshot**: one eager ``localCheckpoint``; both writes below read
   it, so the index records exactly what the docs output admitted
   (without it each write re-executes the admit, and the second would
   see the index rows the first just wrote).
4. **Write**: the docs and the new index rows each OVERWRITE their own
   ``epoch=N`` directory. ``foreachBatch`` is at-least-once — a
   replayed epoch would double-APPEND — but a replay of epoch N is the
   same deterministic admit and clobbers its own partial output, which
   makes the pipeline effectively exactly-once (the idempotent
   ``foreachBatch`` recipe).

:func:`_drain` wires a gate into a file-source stream (one file per
trigger, ``availableNow``-drainable, checkpointed under the output
directory). ``compact_*_index`` fold an index's epochs under a grace
protocol that is safe while the stream runs (:func:`compact_key_index`).

At 100 TB the indexes are bucketed tables on their join key and the
per-batch anti-join co-locates on the bucket; here the content key is
the 2-token prefix (this corpus has no exact duplicates — see
pipeline_cross_source_dedup)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vat_etl_spark.queries.llm_pipeline import (
    corpus_admit_plan,
    line_dedup_plan,
    reassemble_lines,
)
from vat_etl_spark.sources.catalog import hadoop_path, read_index


def _run_gate(
    batch: DataFrame, out_dir: str, epoch_id: int, index: str, schema: str,
    plan, docs, keys,
) -> None:
    """Protocol steps 1-4 for one micro-batch: ``plan(batch, history)``
    is the admit, ``docs(snapshot)`` the docs output and
    ``keys(snapshot, src_epoch)`` the new index rows."""
    idx_path = f"{out_dir}/{index}"
    history = read_index(batch.sparkSession, idx_path, schema)
    if history is not None:
        history = history.filter(
            F.coalesce(F.col("src_epoch"), F.col("epoch")) != epoch_id
        )
    snap = plan(batch, history).localCheckpoint(eager=True)
    docs(snap).write.mode("overwrite").parquet(f"{out_dir}/docs/epoch={epoch_id}")
    keys(snap, F.lit(epoch_id).alias("src_epoch")).write.mode(
        "overwrite"
    ).parquet(f"{idx_path}/epoch={epoch_id}")


def _drain(spark: SparkSession, src_dir: str, out_dir: str, schema, admit):
    """Wire ``admit(batch, out_dir, epoch_id)`` into a file-source stream
    and start it; drain with ``awaitTermination``."""
    if schema is None:
        schema = spark.read.parquet(src_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .writeStream.foreachBatch(
            lambda df, epoch_id: admit(df, out_dir, epoch_id)
        )
        .option("checkpointLocation", f"{out_dir}/_checkpoint")
        .trigger(availableNow=True)
        .start()
    )


# key index: one row per admitted content key
_KEY_INDEX = "content_key string, src_epoch int"


def admit_batch(batch: DataFrame, out_dir: str, epoch_id: int) -> None:
    """Exact gate for one micro-batch (also unit-testable without a
    stream): quality gate → anti-join vs the key index → in-batch rank-1
    per content key, written under the gate protocol."""
    _run_gate(
        batch, out_dir, epoch_id, "key_index", _KEY_INDEX, corpus_admit_plan,
        docs=lambda admitted: admitted,
        keys=lambda admitted, src: admitted.select("content_key", src),
    )


def corpus_ingest_stream(
    spark: SparkSession, src_dir: str, out_dir: str, schema=None
):
    """Drain ``src_dir`` through :func:`admit_batch`; returns the started
    query."""
    return _drain(spark, src_dir, out_dir, schema, admit_batch)


_SUPERSEDED_MARKER = "_SUPERSEDED"

# line-index layout (round 13, verdict-r12 task 2): lines are stored as a
# 128-bit hash pair (lk, lk2 — two independent xxhash64s) instead of raw
# text, laid out in _LINE_IDX_BUCKETS hash-bucket partitions on
# pmod(lk, B). Collision bound, same argument as the exact-twin content
# key: two DISTINCT lines colliding on both 64-bit hashes ≈ n²/2^129 —
# ~4e-15 at 10^12 index lines; a collision removes one innocent line
# from one document. The hashed keys cut the per-ROW key payload ~20×
# (16 bytes vs ~300-byte avg line text — the width the per-batch
# anti-join shuffles on) and the persistent index 2.0× on disk
# (84.9 → 41.9 MB at 500 K docs, STREAM_THROUGHPUT_r12 vs r13 —
# src_epoch/bucket columns and parquet overhead dominate at this line
# length); the drift-free same-session A/B measured the gate 1.26×
# faster over 10 epochs (LINE_GATE_AB_r13). The
# bucket layout gives maintenance a per-bucket unit of work (and a
# storage-partitioned join path on a real cluster). 16 buckets: enough
# for per-bucket maintenance grain while keeping per-epoch files
# task-sized — 64 buckets measured 2.4× throughput loss from tiny-file
# explosion at 20 epochs (the compactor folds epochs, so steady-state
# file count is ~bucket count, not epochs × buckets).
_LINE_IDX_BUCKETS = 16
_LINE_INDEX = "lk long, lk2 long, bucket long, src_epoch int"


def compact_key_index(
    spark: SparkSession, out_dir: str, grace_seconds: float = 300.0
) -> int:
    """Index maintenance, safe to run WHILE the ingest stream is live: fold
    the key index's accumulated ``epoch=N`` partitions into a single
    consolidated negative-epoch partition (distinct keys, coalesced files).
    Run periodically — each micro-batch reads the whole index, so thousands
    of tiny epoch files would otherwise turn every admit into a small-files
    scan (the same pathology compact_parquet_dir exists for). Negative
    epoch ids can never collide with a replayed real epoch id, so the
    replay-excludes-own-epoch rule in admit_batch is unaffected.

    Live-safety protocol (one maintenance thread at a time):

    1. **Purge with grace**: delete only directories a PREVIOUS compaction
       marked ``_SUPERSEDED`` — their keys have lived in a consolidated
       partition for a full inter-compaction cycle, so no reader that
       listed the index since then depends on them, and admit_batch reads
       with ``ignoreMissingFiles`` as the belt-and-braces.
    2. **Snapshot**: list the epoch directories ONCE and fold exactly
       those epochs — an epoch the stream writes mid-compaction is
       neither folded nor touched, just left for the next cycle.
    3. **Publish then mark**: the consolidated partition is renamed INTO
       the index first (rename-first crash safety: a crash at any point
       leaves every key readable, at worst duplicated — harmless, every
       reader applies ``distinct``), and the snapshotted directories are
       then only MARKED superseded, never removed in the same cycle.

    Returns the distinct key count of the consolidated partition."""
    return _compact_index(spark, f"{out_dir}/key_index", _KEY_INDEX,
                          grace_seconds)


def compact_line_index(
    spark: SparkSession, out_dir: str, grace_seconds: float = 300.0
) -> int:
    """The line index's maintenance twin of :func:`compact_key_index` —
    identical grace/snapshot/publish-then-mark protocol over
    ``line_index/epoch=N`` partitions, folding on the hashed (lk, lk2)
    line keys and preserving the hash-bucket partition layout.
    src_epoch provenance survives the fold so a replay of a folded epoch
    still excludes its own lines (see :func:`admit_lines_batch`). A
    raw-line-text index (the layout before hashed keys) must be rebuilt:
    under the declared schema its keys read as NULL and match nothing."""
    return _compact_index(spark, f"{out_dir}/line_index", _LINE_INDEX,
                          grace_seconds, partition_col="bucket")


def _compact_index(
    spark: SparkSession,
    idx_path: str,
    schema: str,
    grace_seconds: float,
    partition_col: str | None = None,
) -> int:
    import time

    # every step goes through the Hadoop FileSystem that serves idx_path,
    # so an s3a/hdfs/file:// out_dir is maintained like a local one
    fs, root = hadoop_path(spark, idx_path)
    Path = spark._jvm.org.apache.hadoop.fs.Path

    def epoch_dirs():
        return [
            st.getPath() for st in fs.listStatus(root)
            if st.isDirectory() and st.getPath().getName().startswith("epoch=")
        ]

    # 1. purge what a previous cycle superseded — but only if the marker is
    # older than grace_seconds. The next-cycle rule alone is not enough when
    # compaction can run twice inside one in-flight admit (its listing may
    # predate the first cycle's consolidated partition); the default (300 s)
    # is conservative — set it above the deployment's maximum micro-batch
    # duration so no reader that listed before a publish can still be
    # running at purge time. Tests that quiesce the stream between cycles
    # pass 0.0 explicitly.
    now_ms = time.time() * 1000
    for p in epoch_dirs():
        marker = Path(p, _SUPERSEDED_MARKER)
        if (
            fs.exists(marker)
            and now_ms - fs.getFileStatus(marker).getModificationTime()
            >= grace_seconds * 1000
        ):
            fs.delete(p, True)
    # 2. pin this cycle to a one-shot snapshot of the remaining epoch dirs
    snapshot = epoch_dirs()
    if not snapshot:
        return 0
    # nothing to fold: when every remaining partition is already a
    # consolidated (negative-epoch) one and there is only one of them,
    # re-folding copies the whole index into a new partition while the
    # marked original lingers a full grace cycle — doubling every
    # admit's scan until the next purge (measured: the 2.6 M-key line
    # index read 5.2 M rows per batch after a fold+refold sequence).
    # Purge-only cycles are exactly what the grace protocol wants here.
    folded = [int(p.getName().split("=", 1)[1]) for p in snapshot]
    if len(folded) == 1 and folded[0] < 0:
        return 0
    # src_epoch provenance survives consolidation so a late replay of a
    # folded epoch can still exclude its own keys (protocol step 1); a
    # file written before the column existed takes its directory's epoch
    idx = read_index(spark, idx_path, schema).filter(F.col("epoch").isin(folded))
    cols = [c for c in idx.columns if c not in ("src_epoch", "epoch")]
    keys = idx.select(
        *cols, F.coalesce(F.col("src_epoch"), F.col("epoch")).alias("src_epoch")
    ).distinct()
    staging = f"{idx_path}_compacting"
    # Size the consolidated partition to the data (round-12 measured
    # finding, artifacts/STREAM_COMPACTION_r12.json): the old
    # unconditional coalesce(1) wrote ONE file with one row group, which
    # serialized every future admit's index scan onto a single task —
    # steady-state batch latency got WORSE than the fragmented layout it
    # replaced (11.3 s vs 7.6 s on a 2.6 M-line index) even as the cold
    # first batch improved 3× from the file-count cut. ~1 M keys per
    # output file keeps the scan parallel and still folds 20 epochs of
    # footers into a handful; at cluster scale this is where the index
    # would instead be bucketed on the join key.
    keys = keys.persist()
    n_files = max(1, (keys.count() + 999_999) // 1_000_000)
    if partition_col:
        # preserve the hash-bucket layout through the fold at the FILE
        # grain (see admit_lines_batch): bucket-pure, bucket-sorted files
        # sized to the data — max(n_files, buckets) output files
        keys = keys.repartition(
            max(n_files, _LINE_IDX_BUCKETS), F.col(partition_col)
        ).sortWithinPartitions(
            partition_col, *(c for c in cols if c != partition_col)
        )
    else:
        keys = keys.repartition(n_files)
    keys.write.mode("overwrite").parquet(staging)
    keys.unpersist()
    n = spark.read.parquet(staging).count()
    taken = {int(p.getName().split("=", 1)[1]) for p in epoch_dirs()}
    slot = -1
    while slot in taken:
        slot -= 1
    # 3. publish the consolidated partition, then mark (not delete) inputs
    if not fs.rename(Path(staging), Path(root, f"epoch={slot}")):
        raise OSError(f"could not publish {staging} into {idx_path}")
    for p in snapshot:
        fs.create(Path(p, _SUPERSEDED_MARKER), True).close()
    return n


def admit_lines_batch(batch: DataFrame, out_dir: str, epoch_id: int) -> None:
    """Line-grain continuous dedup — the streaming form of
    ``pipeline_line_dedup`` (C4 keep-first, arXiv:1910.10683) for a crawl
    that never stops: every arriving document sheds any line the corpus
    has already admitted, keeps its own first copy of lines that repeat
    WITHIN the micro-batch, and the surviving lines join the persistent
    line index for all future epochs. The snapshot is the batch's
    ``line_dedup_plan``; the docs output is its ``reassemble_lines``,
    the same two steps ``pipeline_line_dedup`` runs. Equivalence to the
    batch query: when epochs arrive in ascending doc_id order, the
    streamed keep-first survivor equals pipeline_line_dedup's global
    ``min(doc_id·10^6 + line_idx)`` — pinned in tests/test_streaming.py.

    Index layout (the 100 TB gap of the raw-text layout): the persistent
    index stores the 128-bit HASHED line keys (lk, lk2; collision bound
    at _LINE_IDX_BUCKETS), never raw line text, and needs no index-side
    ``distinct`` per batch: a line is KEPT in exactly one epoch and
    replays overwrite their own partition, so admitted keys are globally
    unique by construction. Fold old epochs with
    :func:`compact_line_index`."""
    _run_gate(
        batch, out_dir, epoch_id, "line_index", _LINE_INDEX, line_dedup_plan,
        docs=reassemble_lines, keys=_bucketed_line_keys,
    )


def _bucketed_line_keys(occ: DataFrame, src_epoch) -> DataFrame:
    """The line index rows of an occurrence snapshot: its kept keys.
    Hash buckets at the FILE grain, not directory grain: repartition by
    bucket writes one bucket-pure file per bucket per epoch (parquet
    min/max stats on the bucket column make per-bucket maintenance and
    scans file-prunable). Directory-grain partitionBy("bucket") was
    measured and rejected twice: per-input-task slivers cost 2.4×
    throughput (~2 000 files/epoch), and even one-file-per-dir kept a
    ~25% per-batch partition-discovery tax at 20 epochs. An epoch too
    large for one task per bucket would salt the repartition key — the
    bucket count, not the task layout, is the maintenance unit."""
    return (
        occ.filter(F.col("kept"))
        .select(
            "lk",
            "lk2",
            F.pmod(F.col("lk"), F.lit(_LINE_IDX_BUCKETS)).alias("bucket"),
            src_epoch,
        )
        .repartition(_LINE_IDX_BUCKETS, "bucket")
        .sortWithinPartitions("bucket", "lk")
    )


def corpus_lines_stream(
    spark: SparkSession, src_dir: str, out_dir: str, schema=None
):
    """Drain ``src_dir`` through :func:`admit_lines_batch`."""
    return _drain(spark, src_dir, out_dir, schema, admit_lines_batch)


# signature index: one row per admitted SimHash
_SIMHASH_INDEX = "simhash long, src_epoch int"


def admit_neardup_batch(batch: DataFrame, out_dir: str, epoch_id: int) -> None:
    """SimHash near-dup admission per micro-batch — the FUZZY sibling of
    :func:`admit_batch`: arriving docs are rejected when their 64-bit
    SimHash lies within Hamming distance 3 of the persisted signature
    index (4×16-bit banded candidates, exact xor+bit_count verify) or of
    an earlier doc in the same batch; survivors' signatures join the
    index. At 100 TB the signature index is 8 bytes per admitted doc —
    bucket it on a band key so the per-batch candidate join co-locates;
    fold old epochs with :func:`compact_simhash_index`."""
    from vat_etl_spark.queries.dedup import neardup_admit_plan

    _run_gate(
        batch, out_dir, epoch_id, "simhash_index", _SIMHASH_INDEX,
        neardup_admit_plan,
        docs=lambda admitted: admitted.drop("simhash"),
        keys=lambda admitted, src: admitted.select("simhash", src).distinct(),
    )


def bootstrap_simhash_index(
    spark: SparkSession, corpus_out_dir: str, stream_out_dir: str
) -> int:
    """Seed a streaming ingest directory's signature index from a BATCH
    ``build_corpus`` output, so continuous ingest takes over exactly where
    the nightly build left off: the batch corpus's persisted
    ``neardup_sig_index`` lands as partition ``epoch=-1`` (a real epoch id
    can never be negative, so replay exclusion never drops it, and the
    compactor folds it like any other epoch). Returns the signature count.
    This is the handoff that lets the batch funnel and the streaming gate
    share ONE dedup state — a re-sent batch corpus is fully rejected by
    the stream (pinned in tests/test_streaming.py)."""
    sigs = spark.read.parquet(f"{corpus_out_dir}/neardup_sig_index")
    out = (
        sigs.select("simhash", F.lit(-1).alias("src_epoch"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    out.write.mode("overwrite").parquet(
        f"{stream_out_dir}/simhash_index/epoch=-1"
    )
    return out.count()


def compact_simhash_index(
    spark: SparkSession, out_dir: str, grace_seconds: float = 300.0
) -> int:
    """Signature-index maintenance twin of :func:`compact_key_index` —
    identical grace/snapshot/publish-then-mark protocol (shared via
    ``_compact_index``) folding on the ``simhash`` column."""
    return _compact_index(spark, f"{out_dir}/simhash_index", _SIMHASH_INDEX,
                          grace_seconds)


def corpus_neardup_stream(
    spark: SparkSession, src_dir: str, out_dir: str, schema=None
):
    """Drain ``src_dir`` through :func:`admit_neardup_batch`."""
    return _drain(spark, src_dir, out_dir, schema, admit_neardup_batch)
