"""The benchmark's workloads. Each is a closed loop with one client: an op
starts when the previous one has returned.

A workload makes its inputs from the seed (cached per seed), runs one op into
a fresh output directory, and checks that op's output. The engine sees only
the generated files.
"""

from __future__ import annotations

import datetime as dt
import functools
import hashlib
import json
import os
import shutil
import sqlite3

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import sheets

GOLDEN_COLUMNS = ["Period", "FTA Box", "Description", "Net Value", "VAT Value",
                  "Net VAT Payable"]


def tree_bytes(root: str) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``root``."""
    n_bytes = n_files = 0
    for d, _, files in os.walk(root):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(d, f))
            n_files += 1
    return n_bytes, n_files


def cached(cache_dir: str, make) -> dict:
    """Inputs for one seed: built once into ``cache_dir`` by ``make(dir)``,
    published by rename, then read back from the stored record. Paths in the
    record are relative to ``cache_dir``."""
    rec_path = os.path.join(cache_dir, "record.json")
    if not os.path.exists(rec_path):
        tmp = cache_dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        rec = make(tmp)
        with open(os.path.join(tmp, "record.json"), "w") as fh:
            json.dump(rec, fh)
        shutil.rmtree(cache_dir, ignore_errors=True)
        os.rename(tmp, cache_dir)
    with open(rec_path) as fh:
        rec = json.load(fh)
    rec["cache_dir"] = cache_dir
    return rec


class VatSheets:
    """The paper's pipeline as the ``summary`` CLI runs it: load each messy
    monthly CSV sheet, union them, compute the VAT box summary, and write it
    to parquet and SQLite. One op is one full pipeline run."""

    name = "vat_sheets"
    N_SHEETS = 3
    ROWS = 8000  # per sheet
    SIZE = f"{N_SHEETS}x{ROWS}"

    def __init__(self, spark, tracer):
        self.spark, self.tr = spark, tracer

    @classmethod
    def make_inputs(cls, cache_dir: str, seed: int) -> dict:
        def make(d):
            rec = sheets.write_sheets(d, seed, cls.N_SHEETS, cls.ROWS)
            rec["paths"] = [os.path.relpath(p, d) for p in rec["paths"]]
            return rec

        rec = cached(cache_dir, make)
        rec["paths"] = [os.path.join(cache_dir, p) for p in rec["paths"]]
        rec["expected"] = [tuple(r) for r in rec["expected"]]
        return rec

    def op(self, inp: dict, out: str) -> dict:
        from vat_etl_spark import app
        from vat_etl_spark.operators.vat_summary import vat_box_summary
        from vat_etl_spark.sources import sinks

        frames = []
        for path in inp["paths"]:
            with self.tr.span("app.load_transactions"):
                frames.append(app.load_transactions(self.spark, path))
        tx = functools.reduce(lambda a, b: a.unionByName(b), frames)
        with self.tr.span("operators.vat_box_summary"):
            summary = vat_box_summary(tx)
        with self.tr.span("sinks.write_parquet"):
            sinks.write_parquet(summary, os.path.join(out, "summary.parquet"))
        with self.tr.span("sinks.write_sqlite"):
            sinks.write_sqlite(summary, os.path.join(out, "vat_summary.db"))
        return {"rows": inp["rows"]}

    def check(self, inp: dict, out: str, res: dict) -> list[str]:
        errors = []
        con = sqlite3.connect(os.path.join(out, "vat_summary.db"))
        try:
            cols = [r[1] for r in con.execute('PRAGMA table_info("vat_summary")')]
            rows = con.execute('SELECT * FROM "vat_summary" ORDER BY rowid').fetchall()
        finally:
            con.close()
        table = pq.read_table(os.path.join(out, "summary.parquet"))
        if cols != GOLDEN_COLUMNS or table.column_names != GOLDEN_COLUMNS:
            errors.append(f"column order {cols} / {table.column_names}")
        if [tuple(r.values()) for r in table.to_pylist()] != rows:
            errors.append("parquet and SQLite sinks differ")
        cents = [(r[0], r[1], round(r[3] * 100), round(r[4] * 100), round(r[5] * 100))
                 for r in rows]
        if cents != inp["expected"]:
            bad = [(g, e) for g, e in zip(cents, inp["expected"]) if g != e][:3]
            errors.append(f"summary differs from generator totals: {bad or len(cents)}")
        for i in range(0, len(rows), 4):
            block = rows[i:i + 4]
            if [r[1] for r in block] != ["Box A", "Box B", "Box C", "Box D"] or len(
                {r[0] for r in block}
            ) != 1:
                errors.append(f"period block at row {i} is not 4 rows A-D")
                break
            a, c, d = block[0], block[2], block[3]
            if round((a[4] - c[4]) * 100) != round(d[4] * 100) or d[4] != d[5]:
                errors.append(f"Box D != A - C for {d[0]}")
        periods = [dt.datetime.strptime(r[0], "%b %Y") for r in rows[::4]]
        if periods != sorted(periods):
            errors.append("periods are not in chronological order")
        return errors


class CorpusStream:
    """Streaming corpus admission: ``corpus_ingest_stream`` drains K epoch
    files with ``availableNow``. One op is one epoch (one micro-batch); a
    drain runs all K into a fresh output directory."""

    name = "corpus_stream"
    EPOCHS = 4
    EPOCH_DOCS = 3000
    DUPS_PER_EPOCH = 150  # exact copies of earlier epochs' docs, new ids
    SIZE = f"{EPOCHS}x{EPOCH_DOCS}+{DUPS_PER_EPOCH}"

    def __init__(self, spark, tracer):
        import vat_etl_spark.streaming.corpus as stream_mod

        self.spark, self.tr = spark, tracer
        self.digest: str | None = None
        # the stream calls admit_batch once per epoch on its own thread
        tracer.wrap(stream_mod, "admit_batch", "streaming.admit_batch")

    @classmethod
    def make_inputs(cls, cache_dir: str, seed: int) -> dict:
        def make(d):
            from tools.gen_fuzzy_corpus import generate

            n = cls.EPOCHS * cls.EPOCH_DOCS
            generate(os.path.join(d, "corpus"), n, seed=seed, gopherable=True)
            docs = pq.read_table(os.path.join(d, "corpus", "documents.parquet"))
            shutil.rmtree(os.path.join(d, "corpus"))
            rng = np.random.default_rng(seed)
            order = rng.permutation(n)
            src = os.path.join(d, "epochs")
            os.makedirs(src)
            planted, next_id = [], n
            for k in range(cls.EPOCHS):
                part = docs.take(order[k * cls.EPOCH_DOCS:(k + 1) * cls.EPOCH_DOCS])
                if k:
                    seen = order[: k * cls.EPOCH_DOCS]
                    dup = docs.take(rng.choice(seen, cls.DUPS_PER_EPOCH, replace=False))
                    ids = np.arange(next_id, next_id + dup.num_rows, dtype=np.int64)
                    next_id += dup.num_rows
                    planted.extend(ids.tolist())
                    dup = dup.set_column(0, "doc_id", pa.array(ids))
                    part = pa.concat_tables([part, dup])
                path = os.path.join(src, f"epoch-{k:03d}.parquet")
                pq.write_table(part, path)
                # the file source takes files in modification-time order
                os.utime(path, (1.7e9 + k, 1.7e9 + k))
            return {
                "src": "epochs",
                "rows": n + len(planted),
                "bytes": tree_bytes(src)[0],
                "planted": planted,
            }

        rec = cached(cache_dir, make)
        rec["src"] = os.path.join(cache_dir, rec["src"])
        return rec

    def op(self, inp: dict, out: str) -> dict:
        from vat_etl_spark.streaming.corpus import corpus_ingest_stream

        with self.tr.span("streaming.corpus_ingest_stream"):
            q = corpus_ingest_stream(self.spark, inp["src"], out)
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        epochs = []
        for p in q.recentProgress:
            start = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(
                tzinfo=dt.timezone.utc).timestamp()
            d = {k: v / 1e3 for k, v in p["durationMs"].items()}
            epochs.append({"start": start, "end": start + d["triggerExecution"],
                           "rows": p["numInputRows"], "durations": d})
            self.tr.record("streaming.epoch", start, start + d["triggerExecution"])
        return {"rows": sum(e["rows"] for e in epochs), "epochs": epochs}

    def check(self, inp: dict, out: str, res: dict) -> list[str]:
        errors = []
        if len(res["epochs"]) != self.EPOCHS:
            errors.append(f"{len(res['epochs'])} epochs ran")
        docs = [pq.read_table(f, columns=["doc_id", "content_key"])
                for f in _parquet_files(os.path.join(out, "docs"))]
        docs = pa.concat_tables(docs).to_pydict() if docs else {"doc_id": [], "content_key": []}
        keys = pa.concat_tables(
            [pq.read_table(f, columns=["content_key"])
             for f in _parquet_files(os.path.join(out, "key_index"))]
        ).column("content_key").to_pylist()
        if len(set(docs["content_key"])) != len(docs["content_key"]):
            errors.append("a content_key was admitted twice")
        if sorted(keys) != sorted(docs["content_key"]):
            errors.append("key index keys differ from admitted docs' keys")
        if set(docs["doc_id"]) & set(inp["planted"]):
            errors.append("a planted exact duplicate was admitted")
        pairs = sorted(zip(docs["doc_id"], docs["content_key"]))
        digest = hashlib.sha256(json.dumps(pairs).encode()).hexdigest()[:16]
        res["digest"], res["admitted"] = digest, len(pairs)
        key_bytes, key_files = tree_bytes(os.path.join(out, "key_index"))
        res["layout"] = {
            "streaming.key_index.bytes": key_bytes,
            "streaming.key_index.files": key_files,
            "streaming.checkpoint.bytes": tree_bytes(os.path.join(out, "_checkpoint"))[0],
            "streaming.docs.files": tree_bytes(os.path.join(out, "docs"))[1],
        }
        if self.digest is None:
            self.digest = _seed_digest(inp["cache_dir"], digest)
        if digest != self.digest:
            errors.append("admitted docs differ between drains or runs of this seed")
        return errors


def _seed_digest(cache_dir: str, digest: str) -> str:
    """The digest the first checked drain of this seed recorded, so later
    runs of the same seed compare against it."""
    path = os.path.join(cache_dir, "admitted.digest")
    if not os.path.exists(path):
        with open(path, "w") as fh:
            fh.write(digest)
    with open(path) as fh:
        return fh.read().strip()


def _parquet_files(root: str) -> list[str]:
    return sorted(
        os.path.join(d, f)
        for d, _, files in os.walk(root)
        for f in files
        if f.endswith(".parquet")
    )


WORKLOADS = {w.name: w for w in (VatSheets, CorpusStream)}
