"""Behavioral invariants for the training-data pipeline operators (oracle
parity is covered by test_oracle_parity.py; these pin edge-case semantics
and cross-run determinism the hash gate can't express)."""

from __future__ import annotations

from pyspark.sql import functions as F

from vat_etl_spark.queries import QUERIES
from vat_etl_spark.queries.llm_pipeline import _PACK_BUDGET, _ngrams
from vat_etl_spark.queries.text import tokens_expr
from vat_etl_spark.session import release_engine_caches


def _py_ngrams(words: list[str], n: int) -> list[str]:
    return [" ".join(words[i : i + n]) for i in range(len(words) - n + 1)]


def test_ngrams_expr_matches_python_reference(spark):
    # edge cases the corpus never exercises: shorter than n, exactly n,
    # all-identical tokens (Spark's sequence(1, k<1) descends — the guard
    # must yield [] instead)
    cases = [
        "one",
        "one two",
        "one two three",
        "one two three four",
        "x x x x x x",
        "a b a b a b a",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(cases)], "i int, text string")
    got = {
        r.i: list(r.g)
        for r in df.select("i", _ngrams(tokens_expr(F.col("text")), 3).alias("g")).collect()
    }
    for i, t in enumerate(cases):
        assert got[i] == _py_ngrams(t.split(), 3), t


def test_seq_packing_invariants(spark, sf_smoke):
    rows = QUERIES["pipeline_seq_packing"](spark, sf_smoke).collect()
    by_group: dict[tuple, list] = {}
    for r in rows:
        by_group.setdefault((r.lang, r.shard), []).append(r)
    assert len({lang for lang, _ in by_group}) == 5
    # the shard key actually fans groups out (the scale-safety property)
    assert len(by_group) > 5
    for (lang, shard), docs in by_group.items():
        docs.sort(key=lambda r: r.doc_id)
        cum = 0
        for r in docs:
            assert r.shard == (r.doc_id * 2654435761) % 4, r
            assert r.seq_id == cum // _PACK_BUDGET, (lang, shard, r)
            assert r.seq_offset == cum % _PACK_BUDGET, (lang, shard, r)
            cum += r.n_tokens
        # packing is tight: every sequence except the last one was entered
        assert docs[0].seq_id == 0 and docs[0].seq_offset == 0
        seq_ids = {r.seq_id for r in docs}
        assert seq_ids == set(range(max(seq_ids) + 1)), (lang, shard)


def test_domain_mix_deterministic_and_bounded(spark, sf_smoke):
    a = {r.lang: r for r in QUERIES["pipeline_domain_mix"](spark, sf_smoke).collect()}
    release_engine_caches(spark)  # the second build recomputes
    b = {r.lang: r for r in QUERIES["pipeline_domain_mix"](spark, sf_smoke).collect()}
    assert set(a) == {"en", "fr", "de", "es", "zh"}
    for lang in a:
        assert (a[lang].n_kept, a[lang].tokens_kept) == (b[lang].n_kept, b[lang].tokens_kept)
        assert 0 <= a[lang].n_kept <= a[lang].n_total
    # weight 1.0 keeps everything; the sampled langs keep a strict subset
    assert a["de"].n_kept == a["de"].n_total
    assert a["en"].n_kept < a["en"].n_total


def test_cross_source_dedup_prefers_trusted_source(spark, sf_smoke):
    surv = QUERIES["pipeline_cross_source_dedup"](spark, sf_smoke)
    # exactly one survivor per content key, and group sizes account for
    # every document
    agg = surv.groupBy("content_key").count().filter(F.col("count") > 1).count()
    assert agg == 0
    total_docs = surv.select(F.sum("group_size")).collect()[0][0]
    import duckdb

    n = duckdb.connect().execute(
        f"SELECT count(*) FROM '{sf_smoke}/documents.parquet'"
    ).fetchone()[0]
    assert total_docs == n
    # survivors of multi-doc groups actually carry the group's minimal
    # (src_prio, doc_id): rebuild the keyed set and compare per group
    from vat_etl_spark.queries.text import tokens_expr
    from vat_etl_spark.sources.catalog import read_table

    keyed = read_table(spark, sf_smoke, "documents").select(
        "doc_id",
        F.substring("source", 4, 10).cast("int").alias("src_prio"),
        F.concat_ws(" ", F.slice(tokens_expr(F.col("text")), 1, 2)).alias(
            "content_key"
        ),
    )
    best = {
        r.content_key: (r.src_prio, r.doc_id)
        for r in keyed.groupBy("content_key")
        .agg(F.min(F.struct("src_prio", "doc_id")).alias("m"))
        .select("content_key", F.col("m.src_prio").alias("src_prio"), F.col("m.doc_id").alias("doc_id"))
        .collect()
    }
    multi = surv.filter(F.col("group_size") > 1).withColumn(
        "src_prio", F.substring("source", 4, 10).cast("int")
    ).collect()
    assert multi, "corpus has no duplicate content keys — vacuous test"
    for r in multi:
        assert (r.src_prio, r.doc_id) == best[r.content_key], r


def test_contamination_excludes_eval_docs(spark, sf_smoke):
    rows = QUERIES["pipeline_contamination_ngram"](spark, sf_smoke).collect()
    assert rows, "no contaminated docs found — vacuous test"
    assert all(r.doc_id % 97 != 0 for r in rows)
    assert all(r.shared_3grams >= 1 for r in rows)


def test_nosplit_packing_never_splits_docs(spark, sf_smoke):
    from vat_etl_spark.queries.llm_pipeline import _PACK_BUDGET

    rows = QUERIES["pipeline_seq_packing_nosplit"](spark, sf_smoke).collect()
    by_key: dict[tuple, list] = {}
    for r in rows:
        by_key.setdefault((r.lang, r.shard, r.seq_id), []).append(r)
    for (lang, shard, seq), docs in by_key.items():
        total = sum(r.n_tokens for r in docs)
        # a sequence only exceeds the budget if a single doc does
        assert total <= _PACK_BUDGET or len(docs) == 1, (lang, shard, seq, total)
        for r in docs:
            assert r.seq_offset + r.n_tokens <= max(_PACK_BUDGET, r.n_tokens)


def test_quality_flags_survives_malformed_docs(spark):
    """A real corpus contains empty / whitespace-only / single-token /
    pathological docs — the gate must score them without throwing (ANSI
    mode included: no division by a zero token count may surface)."""
    from vat_etl_spark.queries.llm_pipeline import quality_flags

    cases = [
        (1, ""),
        (2, "   "),
        (3, "x"),
        (4, "the " * 500),
        (5, "\t\n y \n\t"),
        (6, "a" * 10000),
    ]
    df = spark.createDataFrame(cases, "doc_id long, text string")
    rows = {r.doc_id: r for r in quality_flags(df).collect()}
    assert set(rows) == {1, 2, 3, 4, 5, 6}
    for r in rows.values():
        assert r.n_words >= 1  # split of empty text yields ['']
        assert r.passes in (True, False)
    assert rows[4].stopword_frac == 1.0 and not rows[4].passes
    assert rows[6].n_words == 1 and not rows[6].passes


def test_pack_group_properties_hypothesis():
    """Property-test the packing recurrence directly (no Spark): for any
    token-count sequence and budget, offsets are prefix sums within a
    sequence, sequences never exceed budget unless a single doc does, and
    sequence ids are contiguous from 0."""
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from vat_etl_spark.queries.llm_pipeline import pack_group

    @settings(max_examples=200, deadline=None)
    @given(
        tokens=st.lists(st.integers(min_value=1, max_value=3000), min_size=1, max_size=60),
        budget=st.integers(min_value=1, max_value=2048),
    )
    def check(tokens, budget):
        pdf = pd.DataFrame({"doc_id": range(len(tokens)), "n_tokens": tokens})
        out = pack_group(pdf, budget=budget)
        fills: dict = {}
        last_seq = 0
        for r in out.itertuples():
            assert r.seq_id >= last_seq  # nondecreasing
            assert r.seq_id - last_seq <= 1  # contiguous ids
            last_seq = r.seq_id
            assert r.seq_offset == fills.get(r.seq_id, 0)
            fills[r.seq_id] = fills.get(r.seq_id, 0) + r.n_tokens
        for seq, total in fills.items():
            n_docs = (out["seq_id"] == seq).sum()
            assert total <= budget or n_docs == 1, (seq, total, n_docs)

    check()


def test_probe_image_dims_never_throws_hypothesis():
    """Fuzz the image-header probe: arbitrary byte payloads (including ones
    starting with real magic numbers) must never raise."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from vat_etl_spark.operators.multimodal import _probe_image_dims

    magics = [b"", b"\x89PNG\r\n\x1a\n", b"GIF89a", b"GIF87a", b"BM", b"P6", b"P3"]

    @settings(max_examples=300, deadline=None)
    @given(prefix=st.sampled_from(magics), body=st.binary(max_size=64))
    def check(prefix, body):
        w, h = _probe_image_dims(prefix + body)
        assert (w is None) == (h is None) or (w is not None and h is not None)

    check()


def test_pii_scrub_redacts_everything(spark, sf_smoke):
    """Every planted PII instance is counted, and re-scanning the scrubbed
    text finds zero residual matches — the self-audit column must be 0 on
    every row, and docs that got PII planted must report it."""
    rows = QUERIES["pipeline_pii_scrub"](spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert r.n_residual == 0, r
        if r.doc_id % 3 == 0:
            assert r.n_emails >= 1, r
        if r.doc_id % 5 == 0:
            assert r.n_phones >= 1, r
        if r.doc_id % 7 == 0:
            assert r.n_ips >= 1, r


def test_duplicate_spans_bounds_and_saturation(spark, sf_smoke):
    rows = QUERIES["pipeline_duplicate_spans"](spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert 0 <= r.dup_spans <= r.n_spans
        assert abs(r.dup_frac - r.dup_spans / r.n_spans) < 1e-12
    # the 31-word synthetic vocabulary makes cross-doc span duplication
    # pervasive — if nothing is duplicated the operator is vacuous
    assert any(r.dup_spans > 0 for r in rows)


def test_pii_scrub_zero_residual_hypothesis(spark):
    """Property: on ARBITRARY text, scrubbing then re-scanning with the
    same detectors finds nothing — replacement can never manufacture or
    leave a detectable match (e.g. via placeholder/leftover splicing
    like '[EMAIL]@host.com'). Alphabet is adversarial: @, dots, dashes,
    digits, brackets, and letters."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from vat_etl_spark.queries.llm_pipeline import (
        _PII_EMAIL,
        _PII_IP,
        _PII_PHONE,
        scrub_pii,
    )

    @settings(max_examples=20, deadline=None)
    @given(
        st.lists(
            st.text(alphabet="abcEMAIL@.-0123456789[] +%_", max_size=40),
            min_size=1,
            max_size=25,
        )
    )
    def check(texts):
        df = spark.createDataFrame([(t,) for t in texts], "raw string")
        residual = (
            F.regexp_count(F.col("clean"), F.lit(_PII_EMAIL))
            + F.regexp_count(F.col("clean"), F.lit(_PII_PHONE))
            + F.regexp_count(F.col("clean"), F.lit(_PII_IP))
        )
        rows = (
            df.select(scrub_pii(F.col("raw")).alias("clean"))
            .select(residual.alias("r"))
            .collect()
        )
        assert all(r.r == 0 for r in rows), texts

    check()


def test_temperature_mix_upsamples_low_resource(spark, sf_smoke):
    # alpha=0.5 temperature sampling: the head language anchors at exactly
    # the 500-per-mille base rate, every smaller language is up-sampled
    # (rate >= head's), and rates never exceed the 1000 cap
    rows = QUERIES["pipeline_temperature_mix"](spark, sf_smoke).collect()
    assert len(rows) == 5
    head = max(rows, key=lambda r: r.n_tokens)
    assert head.rate_per_mille == 500
    for r in rows:
        assert 500 <= r.rate_per_mille <= 1000
        # monotone: fewer tokens -> rate at least as high
        for s in rows:
            if r.n_tokens <= s.n_tokens:
                assert r.rate_per_mille >= s.rate_per_mille
        assert r.n_kept <= r.n_docs


def test_global_shuffle_positions_contiguous_and_deterministic(spark, sf_smoke):
    df = QUERIES["pipeline_global_shuffle"](spark, sf_smoke)
    rows = df.collect()
    # every doc appears exactly once
    assert len({r.doc_id for r in rows}) == len(rows)
    # per-shard positions are 1..n with no gaps
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), shard
    # a second run is bit-identical (pure function of doc_id)
    release_engine_caches(spark)
    again = {(r.doc_id, r.shard, r.pos) for r in QUERIES["pipeline_global_shuffle"](spark, sf_smoke).collect()}
    assert again == {(r.doc_id, r.shard, r.pos) for r in rows}


def test_epoch_upsample_copy_counts_exact(spark, sf_smoke):
    rows = QUERIES["pipeline_epoch_upsample"](spark, sf_smoke).collect()
    # per-doc: copy_ids are exactly 1..n_copies
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, rs in by_doc.items():
        n = rs[0].n_copies
        assert sorted(r.copy_id for r in rs) == list(range(1, n + 1)), doc_id
        # fractional epochs: floor(w) <= n_copies <= ceil(w)
        epm = rs[0].epochs_per_mille
        assert epm // 1000 <= n <= epm // 1000 + (1 if epm % 1000 else 0)
    # expected-rate property per weight class: total copies equals
    # sum(floor) + #(bucket < frac) -- i.e. the deterministic coin hits
    # the fractional epoch target exactly, not just in expectation
    for epm in (2500, 1500, 1000):
        docs = [rs for rs in by_doc.values() if rs[0].epochs_per_mille == epm]
        if not docs:
            continue
        total = sum(len(rs) for rs in docs)
        base = (epm // 1000) * len(docs)
        extra = sum(
            1 for rs in docs
            if (rs[0].doc_id * 2246822519) % 1000 < epm % 1000
        )
        assert total == base + extra


def test_bigram_fluency_matches_bruteforce(spark, tmp_path):
    import collections
    texts = {
        0: "the cat sat on the mat",
        1: "the cat ran",
        2: "a dog sat on a log",
        3: "the the the",
        4: "single",  # no bigrams -> excluded from output
    }
    df = spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "docs")
    df.coalesce(1).write.parquet(d + "/documents.parquet")
    got = {
        r.doc_id: (r.n_bigrams, r.fluency_sum, r.fluency_mean)
        for r in QUERIES["text_bigram_fluency"](spark, str(tmp_path / "docs")).collect()
    }
    # brute force
    bis: dict[int, list[tuple[str, str]]] = {}
    for i, t in texts.items():
        w = t.split()
        bis[i] = [(w[j], w[j + 1]) for j in range(len(w) - 1)]
    c2 = collections.Counter(b for lst in bis.values() for b in lst)
    c1 = collections.Counter(b[0] for lst in bis.values() for b in lst)
    for i, lst in bis.items():
        if not lst:
            assert i not in got
            continue
        pts = [(1000000 * c2[b]) // c1[b[0]] for b in lst]
        assert got[i] == (len(lst), sum(pts), sum(pts) // len(lst)), i


def test_semantic_dedup_survivors_are_pairwise_distant(spark, sf_smoke):
    from vat_etl_spark.queries.dedup import _N_SEM_CENTROIDS, _SEM_TAU, cosine_expr
    from vat_etl_spark.sources.catalog import read_table

    surv = QUERIES["dedup_semantic_clustered"](spark, sf_smoke)
    rows = surv.collect()
    assert len({r.vec_id for r in rows}) == len(rows)
    assert all(0 <= r.cluster_id < _N_SEM_CENTROIDS for r in rows)
    # no two SURVIVORS in the same cluster may sit within tau: join back to
    # embeddings and check all intra-cluster survivor pairs
    e = read_table(spark, sf_smoke, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    s = surv.join(e, "vec_id")
    a = s.select(F.col("cluster_id"), F.col("vec_id").alias("va"), F.col("emb").alias("ea"))
    b = s.select(F.col("cluster_id"), F.col("vec_id").alias("vb"), F.col("emb").alias("eb"))
    close = (
        a.join(b, "cluster_id")
        .filter(F.col("va") < F.col("vb"))
        .filter(cosine_expr(F.col("ea"), F.col("eb")) >= _SEM_TAU)
        .count()
    )
    assert close == 0


def test_bpe_merges_match_pure_python(spark, sf_smoke):
    """The iterative BPE trainer must reproduce a pure-Python BPE with the
    same conventions (overlapping pair counts weighted by word frequency,
    ties broken lexicographically, leftmost-first greedy fusion). The
    reference lives once in conftest (train_ref_bpe) — shared with the
    apply-step and property tests so the convention cannot drift."""
    import duckdb

    from tests.conftest import train_ref_bpe

    texts = [
        r[0]
        for r in duckdb.sql(
            f"SELECT text FROM '{sf_smoke}/documents.parquet'"
        ).fetchall()
    ]
    expected, _syms, _vocab = train_ref_bpe(texts, n_merges=5)
    got = [
        (r.rank, r.left, r.right, r.pair_count)
        for r in QUERIES["text_bpe_merges"](spark, sf_smoke).collect()
    ]
    assert sorted(got) == expected


def test_bpe_pair_counts_weighted_by_word_frequency(spark, sf_smoke):
    # cross-check one pair against an independent token-stream count
    rows = {r.pair: r.pair_count for r in QUERIES["text_bpe_pair_counts"](spark, sf_smoke).collect()}
    import collections
    import re

    import duckdb

    texts = [
        r[0]
        for r in duckdb.sql(
            f"SELECT text FROM '{sf_smoke}/documents.parquet'"
        ).fetchall()
    ]
    counts = collections.Counter()
    for t in texts:
        for w in re.split(r"\s+", t.strip()):
            for i in range(len(w) - 1):
                counts[w[i : i + 2]] += 1
    assert rows == dict(counts)


def test_leakage_safe_split_keys_never_straddle_splits(spark, sf_smoke):
    """The property the operator exists for: every content_key maps to
    exactly ONE split (group-aware assignment), while the doc_id-hash
    split is expected to leak on this near-dup-saturated corpus."""
    from vat_etl_spark.sources.catalog import read_table

    d = read_table(spark, sf_smoke, "documents")
    keyed = d.select(
        "doc_id",
        F.concat_ws(" ", F.slice(tokens_expr(F.col("text")), 1, 2)).alias("content_key"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("content_key").cast("binary")), 1, 4), 16, 10)
        .cast("long") % 100
    )
    tagged = keyed.withColumn(
        "split",
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test"),
    )
    straddlers = (
        tagged.groupBy("content_key")
        .agg(F.countDistinct("split").alias("ns"))
        .filter(F.col("ns") > 1)
        .count()
    )
    assert straddlers == 0
    # contrast: the id-hash split DOES put some shared key in two splits
    # here (the leak this operator prevents) — if the corpus ever stops
    # exhibiting it, the contrast assertion below flags the test corpus
    id_tagged = tagged.withColumn(
        "id_split",
        F.when((F.col("doc_id") * 2654435761) % 100 < 90, "train")
        .when((F.col("doc_id") * 2654435761) % 100 < 95, "val")
        .otherwise("test"),
    )
    leaks = (
        id_tagged.groupBy("content_key")
        .agg(F.countDistinct("id_split").alias("ns"))
        .filter(F.col("ns") > 1)
        .count()
    )
    assert leaks > 0


def test_bpe_apply_matches_pure_python_encoder(spark, sf_smoke):
    import re

    import duckdb

    from tests.conftest import train_ref_bpe

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_smoke}/documents.parquet'"
    ).fetchall()
    _merges, syms, _vocab = train_ref_bpe([t for _, t in rows], n_merges=5)

    expected = {}
    for doc_id, t in rows:
        words = [w for w in re.split(r"\s+", t.strip()) if w]
        chars = sum(len(w) for w in words)
        toks = sum(len(syms[w]) for w in words)
        expected[doc_id] = (chars, toks, 1000 * toks // chars if chars else None)

    got = {
        r.doc_id: (r.chars, r.bpe_tokens, r.compression_per_mille)
        for r in QUERIES["text_bpe_apply"](spark, sf_smoke).collect()
    }
    assert got == expected


def test_bpe_apply_matches_python_at_exhaustion_k(spark, sf_smoke):
    """At K far beyond the oracle window (trained to pair exhaustion on
    the smoke corpus) the text_bpe_apply encoder must reproduce the
    pure-Python sequential encoder exactly — the production-K regime the
    registered K=5 query does not reach."""
    import re

    import duckdb

    from tests.conftest import train_ref_bpe
    from vat_etl_spark.queries.llm_pipeline import bpe_apply_counts_plan

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_smoke}/documents.parquet'"
    ).fetchall()
    merges, syms, _vocab = train_ref_bpe([t for _, t in rows], n_merges=500)
    assert 5 < len(merges) < 500  # exhausted, genuinely > oracle K
    d = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    got = {
        r.doc_id: r.bpe_tokens
        for r in bpe_apply_counts_plan(
            d, [(a, b) for _, a, b, _ in merges]
        ).collect()
    }
    for doc_id, t in rows:
        words = [w for w in re.split(r"\s+", t.strip()) if w]
        assert got[doc_id] == sum(len(syms[w]) for w in words), doc_id


def test_bpe_apply_null_text_matches_oracle(spark, sf_smoke, tmp_path):
    """text_bpe_apply must report chars=0 / bpe_tokens=0 / NULL compression
    for NULL-text documents, exactly like the oracle's LEFT JOIN +
    coalesce — pinned explicitly because the shipped testdata carries no
    null texts (same pin simhash_frame has for null text)."""
    import duckdb

    import __spark_entry__ as entrymod
    from vat_etl_spark.oracle import compare
    from vat_etl_spark.schemas import TESTDATA_TABLES

    sf = str(tmp_path / "sf_null")
    import os

    os.makedirs(sf)
    duckdb.sql(
        f"""COPY (
          SELECT * FROM '{sf_smoke}/documents.parquet'
          UNION ALL SELECT 900001, NULL, 'en', 'web', NULL
          UNION ALL SELECT 900002, '   ', 'en', 'web', 3
        ) TO '{sf}/documents.parquet' (FORMAT PARQUET)"""
    )
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        src = sf if t == "documents" else sf_smoke
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{src}/{t}.parquet'"
        )
    df = QUERIES["text_bpe_apply"](spark, sf)
    ok, msg = compare(df, con, entrymod.oracle_sql()["text_bpe_apply"], "bpe_null")
    assert ok, msg
    got = {r.doc_id: (r.chars, r.bpe_tokens) for r in df.collect()}
    assert got[900001] == (0, 0)
    assert got[900002] == (0, 0)


def test_bpe_sep_guard_fails_loudly_on_separator_byte(spark, sf_smoke, tmp_path):
    """A corpus token containing the chr(1) framing byte must fail LOUDLY
    (raise_error), never silently corrupt the merge table — the DuckDB
    oracle uses the identical framing, so the hash gate could not catch a
    silent corruption."""
    import duckdb

    import pytest

    sf = str(tmp_path / "sf_sep")
    import os

    os.makedirs(sf)
    duckdb.sql(
        f"""COPY (
          SELECT * FROM '{sf_smoke}/documents.parquet'
          UNION ALL SELECT 900003, 'bad' || chr(1) || 'token here', 'en', 'web', 14
        ) TO '{sf}/documents.parquet' (FORMAT PARQUET)"""
    )
    with pytest.raises(Exception, match="framing invariant"):
        QUERIES["text_bpe_merges"](spark, sf).collect()
    with pytest.raises(Exception, match="framing invariant"):
        QUERIES["text_bpe_apply"](spark, sf).collect()


def test_dsir_weights_discriminate_target_language(spark, sf_smoke):
    """pipeline_dsir_weights must actually tilt toward the target domain:
    target-lang ('de') documents score a higher mean per-token log-weight
    than every other language (their hashed-unigram distribution IS the
    target distribution), and the corpus-level expected weight behaves
    like a log-ratio (mixed sign across docs, not a constant)."""
    from pyspark.sql import functions as F

    from vat_etl_spark.queries import QUERIES
    from vat_etl_spark.sources.catalog import read_table

    w = QUERIES["pipeline_dsir_weights"](spark, sf_smoke)
    langs = read_table(spark, sf_smoke, "documents").select("doc_id", "lang")
    by_lang = {
        r.lang: r.mean_avg
        for r in w.join(langs, "doc_id")
        .groupBy("lang")
        .agg(F.avg("avg_logw_micros").alias("mean_avg"))
        .collect()
    }
    assert "de" in by_lang and len(by_lang) >= 3
    for lang, m in by_lang.items():
        if lang != "de":
            assert by_lang["de"] > m, (lang, by_lang)
    # resampling property: the top-50 by per-token weight over-represents
    # the target language by >= 2x its base rate (measured 19/50 vs 14%
    # base — the synthetic langs share a vocabulary, so the lift is real
    # but not a step function). NOTE: per-doc logw is negative for nearly
    # all docs — the source-expected log-ratio is -KL(source||target) —
    # so sign tests are meaningless; ORDER is the signal.
    top = (
        w.join(langs, "doc_id")
        .orderBy(F.desc("avg_logw_micros"), "doc_id")
        .limit(50)
        .where(F.col("lang") == "de")
        .count()
    )
    n_de = langs.where(F.col("lang") == "de").count()
    n_all = langs.count()
    assert top / 50 >= 2 * n_de / n_all, (top, n_de, n_all)


def test_kneser_ney_continuation_beats_raw_frequency(spark, tmp_path):
    """The property that makes KN smoothing KN (and not just discounted
    MLE): a token's backoff weight comes from how many DISTINCT histories
    it follows, not how often it occurs. 'francisco' occurs 20x but only
    ever after 'san'; 'cat' occurs 6x after 6 different histories. For
    two equally-unseen-ish bigrams with the same head ('zz francisco' vs
    'zz cat', both count 1), KN must score 'zz cat' HIGHER — raw MLE
    (text_bigram_fluency) scores them identically."""
    from vat_etl_spark.queries import QUERIES

    texts = [" ".join(["san francisco"] * 20)]
    texts += [f"{h} cat" for h in ("the", "a", "my", "one", "his", "her")]
    texts += ["zz francisco", "zz cat"]
    df = spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "docs")
    df.coalesce(1).write.parquet(d + "/documents.parquet")

    kn = {r.doc_id: r.kn_mean
          for r in QUERIES["text_kneser_ney_bigram"](spark, d).collect()}
    fl = {r.doc_id: r.fluency_mean
          for r in QUERIES["text_bigram_fluency"](spark, d).collect()}
    id_fran, id_cat = len(texts) - 2, len(texts) - 1
    assert kn[id_cat] > kn[id_fran], kn
    assert fl[id_cat] == fl[id_fran], fl  # MLE can't tell them apart


def _span_removal_ref(texts: list[str], w: int) -> dict[int, tuple]:
    """Pure-Python reference for pipeline_span_removal's semantics."""
    toks = {i: t.strip().split() for i, t in enumerate(texts)}
    grams: dict[str, set[int]] = {}
    for i, t in toks.items():
        for p in range(len(t) - w + 1):
            grams.setdefault(" ".join(t[p : p + w]), set()).add(i)
    out = {}
    for i, t in toks.items():
        hits = sorted(
            p for p in range(len(t) - w + 1)
            if len(grams[" ".join(t[p : p + w])]) >= 2
        )
        islands: list[list[int]] = []
        for p in hits:
            if islands and p <= islands[-1][1] + 1:
                islands[-1][1] = max(islands[-1][1], p + w - 1)
            else:
                islands.append([p, p + w - 1])
        covered = {q for s, e in islands for q in range(s, e + 1)}
        kept = [tok for q, tok in enumerate(t) if q not in covered]
        out[i] = (len(t), len(covered), len(islands), " ".join(kept))
    return out


def test_span_removal_merges_islands_and_reconstructs(spark, tmp_path):
    """Planted-duplicate audit: overlapping dup 5-grams must merge into ONE
    island (positions 3 and 4 overlap -> tokens 3..9 cut), two far-apart
    dup regions stay TWO islands, and a clean doc survives verbatim —
    each checked exactly against a pure-Python reference."""
    shared1 = "q r s t u v"          # 6 tokens -> two overlapping 5-grams
    shared2 = "k l m n o"            # 5 tokens -> one 5-gram
    texts = [
        f"a1 a2 {shared1} a3 a4",                       # one merged island
        f"b1 {shared1} b2",                             # the dup partner
        f"c1 c2 {shared2} c3 c4 c5 c6 c7 {shared2} c8", # two islands
        f"d1 {shared2} d2",                             # partner for shared2
        "e1 e2 e3 e4 e5 e6 e7 e8",                      # clean: no dup spans
    ]
    df = spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "docs")
    df.coalesce(1).write.parquet(d + "/documents.parquet")

    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.n_islands, r.cleaned_text)
        for r in QUERIES["pipeline_span_removal"](spark, d).collect()
    }
    assert got == _span_removal_ref(texts, 5)
    # the structural claims the reference itself must exhibit:
    assert got[0][2] == 1 and got[0][1] == 6      # overlap merged, 6 cut
    assert got[2][2] == 2                          # far regions stay apart
    assert got[4] == (8, 0, 0, texts[4])           # clean doc verbatim


def test_perplexity_buckets_equidepth_and_tie_safe(spark, sf_smoke):
    """Per-language thirds must be equi-depth up to tie classes, a score
    value must never straddle two buckets within a language (the property
    row-ntile lacks), and `kept` must drop exactly the lowest-fluency
    bucket 1."""
    rows = QUERIES["pipeline_perplexity_buckets"](spark, sf_smoke).collect()
    assert rows
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rs in by_lang.items():
        buckets = {}
        score_to_bucket = {}
        for r in rs:
            assert r.kept == (r.ppl_bucket < 3)
            buckets[r.ppl_bucket] = buckets.get(r.ppl_bucket, 0) + 1
            prev = score_to_bucket.setdefault(r.kn_mean, r.ppl_bucket)
            assert prev == r.ppl_bucket, (lang, r.kn_mean)
        assert set(buckets) == {1, 2, 3}, (lang, buckets)
        # equi-depth up to the largest tie class
        ties = {}
        for r in rs:
            ties[r.kn_mean] = ties.get(r.kn_mean, 0) + 1
        slack = max(ties.values())
        assert max(buckets.values()) - min(buckets.values()) <= slack, (
            lang, buckets, slack)
        # buckets are ordered by score: every bucket-1 score < every
        # bucket-3 score
        b1 = [r.kn_mean for r in rs if r.ppl_bucket == 1]
        b3 = [r.kn_mean for r in rs if r.ppl_bucket == 3]
        assert max(b1) < min(b3), lang


def test_line_dedup_keeps_first_occurrence_only(spark, tmp_path):
    """C4 keep-one semantics: a line duplicated across documents survives
    in its FIRST document (lowest doc_id, then lowest position) and is
    removed everywhere else — including later repeats inside the same
    document — while unique lines pass through untouched."""
    dup = " ".join(f"d{i}" for i in range(10))          # one exact pseudo-line
    uniq = lambda tag: " ".join(f"{tag}{i}" for i in range(10))
    texts = [
        f"{uniq('a')} {dup}",          # doc 0: dup at line 2 -> FIRST, kept
        f"{dup} {uniq('b')}",          # doc 1: dup at line 1 -> removed
        f"{uniq('c')} {dup} {dup}",    # doc 2: two copies -> both removed
        uniq("e"),                     # doc 3: clean
    ]
    df = spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "docs")
    df.coalesce(1).write.parquet(d + "/documents.parquet")
    got = {
        r.doc_id: (r.n_lines, r.n_removed, r.cleaned_text)
        for r in QUERIES["pipeline_line_dedup"](spark, d).collect()
    }
    assert got[0] == (2, 0, texts[0])
    assert got[1] == (2, 1, uniq("b"))
    assert got[2] == (3, 2, uniq("c"))
    assert got[3] == (1, 0, texts[3])


def test_span_and_line_dedup_on_random_corpora(spark, tmp_path):
    """Seeded random-corpus audit: on three corpora drawn from a 12-token
    vocabulary (dense accidental overlap — the hostile regime for
    interval merging and survivor picking), both substring-dedup policies
    must match their pure-Python references on EVERY output cell."""
    import random

    def line_ref(texts, w):
        toks = {i: t.strip().split() for i, t in enumerate(texts)}
        first = {}
        for i in sorted(toks):
            t = toks[i]
            for li in range(1, (len(t) + w - 1) // w + 1):
                line = " ".join(t[(li - 1) * w : li * w])
                first.setdefault(line, i * 1_000_000 + li)
        out = {}
        for i, t in toks.items():
            kept, removed, n = [], 0, (len(t) + w - 1) // w
            for li in range(1, n + 1):
                line = " ".join(t[(li - 1) * w : li * w])
                if first[line] == i * 1_000_000 + li:
                    kept.append(line)
                else:
                    removed += 1
            out[i] = (n, removed, " ".join(kept))
        return out

    for seed in (11, 22, 33):
        rng = random.Random(seed)
        vocab = [f"w{k}" for k in range(12)]
        texts = [
            " ".join(rng.choices(vocab, k=rng.randint(8, 60)))
            for _ in range(40)
        ]
        d = str(tmp_path / f"docs{seed}")
        spark.createDataFrame(
            [(i, t, "en", "src0", len(t)) for i, t in enumerate(texts)],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.parquet(d + "/documents.parquet")

        got_span = {
            r.doc_id: (r.n_tokens, r.n_removed, r.n_islands, r.cleaned_text)
            for r in QUERIES["pipeline_span_removal"](spark, d).collect()
        }
        assert got_span == _span_removal_ref(texts, 5), seed

        got_line = {
            r.doc_id: (r.n_lines, r.n_removed, r.cleaned_text)
            for r in QUERIES["pipeline_line_dedup"](spark, d).collect()
        }
        assert got_line == line_ref(texts, 10), seed


def _py_qc_score(text: str, B: int = 4096) -> tuple[int, int]:
    """Pure-Python twin of the hashed linear classifier: (n_feat, score_sum)."""
    import hashlib

    toks = text.strip().split()
    feats = toks + [f"{a}_{b}" for a, b in zip(toks, toks[1:])]

    def w(f: str) -> int:
        b = int(hashlib.md5(f.encode()).hexdigest()[:4], 16) % B
        return int(hashlib.md5(str(b).encode()).hexdigest()[:4], 16) % 2001

    return len(feats), sum(w(f) for f in feats)


def test_quality_classifier_matches_python_reference(spark, sf_smoke):
    """The Spark score must equal the hashlib reimplementation feature-for-
    feature (bucket hash, weight hash, bigram join, milli-mean), and the
    threshold must actually split the corpus — a classifier that keeps
    (or drops) everything proves nothing."""
    rows = QUERIES["pipeline_quality_classifier"](spark, sf_smoke).collect()
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{sf_smoke}/documents.parquet")
        .where("text IS NOT NULL AND trim(text) <> ''")
        .collect()
    }
    assert len(rows) == len(docs)
    labels = set()
    for r in rows:
        n_feat, score = _py_qc_score(docs[r.doc_id])
        assert (r.n_feat, r.score_sum) == (n_feat, score), r.doc_id
        assert r.mean_milli == (1000 * score) // n_feat
        assert r.label == ("keep" if r.mean_milli >= 1_000_000 else "drop")
        labels.add(r.label)
    assert labels == {"keep", "drop"}


def test_quality_classifier_is_map_only(spark, sf_smoke):
    """Classifier inference must stay the cheapest 100 TB shape: one
    whole-stage-codegen projection over the scan — zero Exchange, zero
    Join, zero BatchEvalPython in the physical plan."""
    plan = (
        QUERIES["pipeline_quality_classifier"](spark, sf_smoke)
        ._jdf.queryExecution().executedPlan().toString()
    )
    for op in ("Exchange", "Join", "BatchEvalPython", "ArrowEvalPython"):
        assert op not in plan, (op, plan)


