"""Hypothesis property tests for the round-5 kernels: the BPE encoder and
the perceptual-hash signature must agree with their pure-Python
references on adversarial inputs the corpus never produces (overlap runs
like a,a,a; merged symbols re-matching; empty/1-byte payloads). The BPE
property is pure Python; the pHash one runs one Spark job per example."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from vat_etl_spark.operators.multimodal import PHASH_BITS
from vat_etl_spark.queries.llm_pipeline import _bpe_encode_len


from tests.conftest import py_bpe_merge as _py_merge
from tests.conftest import train_ref_bpe


letters = st.sampled_from("abc")


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.text(alphabet="abc", max_size=12), min_size=1, max_size=16),
    letters,
    letters,
)
def test_merge_fold_matches_python_reference(words, a, b):
    # one merge: runs of the pair symbol (a,a,a with pair (a,a) must fuse
    # leftmost-first -> [aa, a])
    for w in words:
        want = len(_py_merge(list(w), a, b))
        assert _bpe_encode_len(w, {(a, b): 1}) == want, (w, a, b)
    # a learned table, where merged symbols re-match (pair (aa, b) after an
    # (a,a) fuse): the rank-priority encoder must land on the sequential
    # encoder's symbols
    merges, syms, _ = train_ref_bpe(words, n_merges=8)
    ranks = {(x, y): r for r, x, y, _ in merges}
    for w, want in syms.items():
        assert _bpe_encode_len(w, ranks) == len(want), (w, merges)


@settings(max_examples=15, deadline=None)
@given(st.lists(st.binary(min_size=0, max_size=200), min_size=1, max_size=12))
def test_phash_matches_python_on_arbitrary_bytes(spark, payloads):
    from pyspark.sql import types as T

    from vat_etl_spark.operators.multimodal import perceptual_hash

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    df = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in enumerate(payloads)], schema
    )
    got = {r.doc_id: list(r.bands) for r in perceptual_hash(df).collect()}

    def ref(b: bytes) -> list[int]:
        from vat_etl_spark.operators.multimodal import (
            PHASH_BAND_BITS,
            PHASH_BANDS,
        )

        n = len(b)
        bands = [0] * PHASH_BANDS
        if not n:
            return bands
        total = sum(b)
        for i in range(PHASH_BITS):
            lo, hi = i * n // PHASH_BITS, (i + 1) * n // PHASH_BITS
            if hi > lo and sum(b[lo:hi]) * n >= total * (hi - lo):
                bands[i // PHASH_BAND_BITS] |= 1 << (i % PHASH_BAND_BITS)
        return bands

    for i, b in enumerate(payloads):
        assert got[i] == ref(b), b


def test_sampling_coin_never_overflows_to_negative(spark):
    """The per-mille sampling coin folds doc_id to 31 bits BEFORE the
    multiply: for doc_id up to 2^62 the bucket stays in [0, 1000) — the
    unmasked product would wrap negative above ~3.5e9 (and a negative
    bucket always passes `bucket < rate`, silently keeping every such
    doc). Pins the masked form for both primes."""
    from pyspark.sql import functions as F

    ids = [0, 1, 3_499_999_999, 2**31, 2**40, 2**62, 2**62 + 12345]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = df.select(
        (((F.col("doc_id") % 2147483648) * 2654435761) % 1000).alias("b1"),
        (((F.col("doc_id") % 2147483648) * 2246822519) % 1000).alias("b2"),
    ).collect()
    for r in out:
        assert 0 <= r.b1 < 1000 and 0 <= r.b2 < 1000, tuple(r)
