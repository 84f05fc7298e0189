"""The streaming corpus gates' shared protocol (streaming/corpus.py):
every gate deduplicates against its persisted index wherever the output
directory lives — a Hadoop URI included — and the one index reader
(``sources.catalog.read_index``) reads a missing index as "no history
yet" but refuses an index directory that holds no data files. The same
reader serves ``build_corpus``'s base ``neardup_sig_index``."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from vat_etl_spark.sources.catalog import read_table


def _epoch(spark, out: str, n: int):
    return spark.read.parquet(f"{out}/docs/epoch={n}")


@pytest.mark.parametrize(
    "gate", ["admit_batch", "admit_lines_batch", "admit_neardup_batch"]
)
def test_gate_dedups_against_history_at_a_uri(spark, sf_smoke, tmp_path, gate):
    """Re-sending epoch 0's documents as epoch 1 into a ``file://`` output
    directory: the key and near-dup gates admit nothing, the line gate
    strips every line. A local-path existence probe reads "absent" for a
    URI and would admit the same documents twice."""
    import vat_etl_spark.streaming.corpus as corpus

    admit = getattr(corpus, gate)
    docs = read_table(spark, sf_smoke, "documents")
    out = (tmp_path / "gate").as_uri()
    admit(docs, out, 0)
    admit(docs, out, 1)
    ep0, ep1 = _epoch(spark, out, 0), _epoch(spark, out, 1)
    if gate == "admit_lines_batch":
        assert ep0.filter("n_removed < n_lines").count() > 0
        assert ep1.count() == ep0.count()
        assert ep1.filter("n_removed != n_lines OR cleaned_text != ''").count() == 0
    else:
        assert ep0.count() > 0
        assert ep1.count() == 0


def test_gate_index_reader_rules(spark, sf_smoke, tmp_path):
    """A missing index means the gate runs with no history (epoch 0
    admits exactly the one-shot plan); an index directory with no data
    files raises instead of reading as an empty history."""
    from vat_etl_spark.queries.llm_pipeline import corpus_admit_plan
    from vat_etl_spark.streaming.corpus import admit_batch

    docs = read_table(spark, sf_smoke, "documents")
    out = str(tmp_path / "fresh")
    admit_batch(docs, out, 0)
    got = {r.doc_id for r in _epoch(spark, out, 0).collect()}
    want = {r.doc_id for r in corpus_admit_plan(docs).collect()}
    assert got == want and got

    emptied = tmp_path / "emptied"
    os.makedirs(emptied / "key_index")
    with pytest.raises(ValueError, match="no data files"):
        admit_batch(docs, str(emptied), 0)
    assert not (emptied / "docs").exists()


def test_build_corpus_base_index_reader_rules(spark, sf_smoke, tmp_path):
    """``build_corpus(base_dir=…)`` reads the base's ``neardup_sig_index``
    through the same reader: at a ``file://`` URI the base signatures
    gate the build (every doc is a near-dup of the base → nothing
    written); a base without the index chains with no base signatures;
    an empty index directory raises."""
    from vat_etl_spark.queries.dedup import simhash_frame
    from vat_etl_spark.queries.llm_pipeline import build_corpus

    docs = read_table(spark, sf_smoke, "documents")
    base = tmp_path / "base"
    # base shards whose content key matches nothing in the feed, so only
    # the near-dup gate can reject
    spark.createDataFrame([("~ ~",)], "content_key string").write.parquet(
        str(base / "shards")
    )
    stages = ("neardup",)

    simhash_frame(docs).select("simhash").distinct().write.parquet(
        str(base / "neardup_sig_index")
    )
    gated = build_corpus(spark, sf_smoke, str(tmp_path / "gated"), n_shards=2,
                         stages=stages, base_dir=base.as_uri())
    assert gated["funnel"]["raw"] > 0 and gated["docs_written"] == 0

    os.rename(base / "neardup_sig_index", tmp_path / "moved_away")
    chained = build_corpus(spark, sf_smoke, str(tmp_path / "chained"),
                           n_shards=2, stages=stages, base_dir=str(base))
    assert chained["docs_written"] > 0

    os.makedirs(base / "neardup_sig_index")
    with pytest.raises(ValueError, match="no data files"):
        build_corpus(spark, sf_smoke, str(tmp_path / "refused"), n_shards=2,
                     stages=stages, base_dir=str(base))


def test_build_corpus_refuses_its_base_as_out_dir_in_any_spelling(
    spark, sf_smoke, tmp_path
):
    """An incremental build reads its base lazily while writing out_dir,
    so writing into the base would overwrite its own input. The guard
    compares qualified locations: the base's plain path given back as a
    ``file://`` URI is the same directory and is refused before anything
    is written."""
    from vat_etl_spark.queries.llm_pipeline import build_corpus

    base = tmp_path / "base"
    build_corpus(spark, sf_smoke, str(base), n_shards=2, stages=("gopher",))
    before = sorted(p.name for p in base.iterdir())
    with pytest.raises(ValueError, match="NEW out_dir"):
        build_corpus(spark, sf_smoke, base.as_uri(), n_shards=2,
                     stages=("gopher",), base_dir=str(base))
    assert sorted(p.name for p in base.iterdir()) == before
