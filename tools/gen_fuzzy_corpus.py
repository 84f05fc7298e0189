"""Seeded synthetic corpus with a REALISTIC (Zipfian, large) vocabulary
for fuzzy-dedup scale measurements.

The driver testdata's documents draw from a ~31-word vocabulary, which
makes near-dup density quadratic (15% of ALL pairs exceed Jaccard 0.6 —
SCALE.md finding 7) and turns every candidate scheme output-bound. Real
web corpora are the opposite regime: Zipfian 10^5-10^6 vocabularies,
near-dup density orders of magnitude below all-pairs. This generator
produces that regime deterministically so the LSH / shingle-containment
/ Jaccard-prefix exponents can be measured one decade further than the
driver data allows (SCALE.md "Fuzzy-dedup realistic-vocabulary decade").

Shape: `n_docs` documents, token counts lognormal (~40-250), tokens
drawn Zipf(alpha) over `vocab` pseudo-words; a `dup_frac` fraction of
docs get a near-dup twin (token-substitution rate `edit_rate`, giving
Jaccard ~ (1-edit_rate)/(1+edit_rate) ~ 0.82 at the default 0.1 — above
every family's threshold). Output matches the testdata documents schema
(doc_id, text, lang, source, n_chars) and is written as `n_files`
parquet files so the scan has real row-group parallelism (the
`_docs_fanout` no-op case).

Usage: python tools/gen_fuzzy_corpus.py OUT_DIR N_DOCS [SEED]
writes OUT_DIR/documents.parquet/part-*.parquet
"""

from __future__ import annotations

import pathlib
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_CONS = "bcdfghjklmnpqrstvwz"
_VOW = "aeiou"


def _vocab(size: int, rng: np.random.Generator) -> list[str]:
    """Deterministic pseudo-words: 2-4 CV syllables, de-duplicated by
    suffixing a rank on collision — rank order IS frequency order."""
    words: list[str] = []
    seen: set[str] = set()
    for rank in range(size):
        n_syll = 2 + int(rng.integers(0, 3))
        w = "".join(
            _CONS[int(rng.integers(0, len(_CONS)))]
            + _VOW[int(rng.integers(0, len(_VOW)))]
            for _ in range(n_syll)
        )
        if w in seen:
            w = f"{w}{rank}"
        seen.add(w)
        words.append(w)
    return words


def generate(
    out_dir: str,
    n_docs: int,
    seed: int = 7,
    vocab_size: int = 30_000,
    alpha: float = 1.15,
    dup_frac: float = 0.03,
    edit_rate: float = 0.1,
    n_files: int = 8,
    gopherable: bool = False,
) -> pathlib.Path:
    """``gopherable=True`` (round 11, for the composed-funnel decade,
    SCALE.md): the default pseudo-word regime fails EVERY
    Gopher rule (no stopwords, mean word length ~6, lengths 40-250), so
    the full build_corpus funnel zeroes at stage 1 and measures nothing.
    Gopherable mode makes the corpus statistically survivable while
    keeping the dedup-relevant structure (Zipf vocabulary, planted
    twins): the top-10 Zipf ranks ARE the engine's STOPWORDS (real text's
    most frequent words are stopwords — this is what makes the stopword
    fraction and the 4.0-5.0 mean-word-length band reachable), and doc
    lengths center in the 25-80 Gopher window with a lognormal tail that
    realistically fails word_count_ok for part of the corpus."""
    rng = np.random.default_rng(seed)
    vocab = np.array(_vocab(vocab_size, rng))
    if gopherable:
        # mirror of vat_etl_spark.queries.text.STOPWORDS (kept inline so
        # the generator stays importable without pyspark on sys.path)
        stopwords = ["the", "a", "and", "of", "to", "in", "is", "it", "on", "for"]
        vocab[: len(stopwords)] = stopwords
    n_base = int(n_docs / (1 + dup_frac))
    if gopherable:
        lengths = np.clip(
            rng.lognormal(mean=3.85, sigma=0.35, size=n_base).astype(int),
            25,
            250,
        )
    else:
        lengths = np.clip(
            rng.lognormal(mean=4.4, sigma=0.5, size=n_base).astype(int), 40, 250
        )
    # Zipf token draws: bounded rejection-free via truncated zipf ranks
    docs: list[str] = []
    for n in lengths:
        ranks = rng.zipf(alpha, size=int(n * 2))
        ranks = ranks[ranks <= vocab_size][:n]
        while len(ranks) < n:
            more = rng.zipf(alpha, size=int(n))
            ranks = np.concatenate([ranks, more[more <= vocab_size]])[:n]
        docs.append(" ".join(vocab[ranks - 1]))
    # planted near-dup twins: token substitution at edit_rate
    n_dups = n_docs - n_base
    twin_of = rng.choice(n_base, size=n_dups, replace=False)
    for src in twin_of:
        toks = docs[int(src)].split()
        flips = rng.random(len(toks)) < edit_rate
        repl = rng.zipf(alpha, size=len(toks))
        repl = np.clip(repl, 1, vocab_size)
        toks = [
            vocab[repl[i] - 1] if flips[i] else t for i, t in enumerate(toks)
        ]
        docs.append(" ".join(toks))

    # planted-twin sidecar (round 11): the (base, twin) id pairs, so
    # recall can be measured against EXACT planted ground truth at
    # scales where an all-pairs oracle is infeasible (truth = planted
    # pairs whose exact shingle-Jaccard clears the query's threshold —
    # at edit_rate 0.1 a twin's 3-gram-shingle Jaccard averages ~0.58,
    # so roughly half the planted pairs are legitimately below a 0.6
    # contract and the sidecar is what lets truth be computed per-pair).
    # Written AFTER the doc loop from values already drawn — the corpus
    # bytes are identical with or without the sidecar.
    twins_out = pathlib.Path(out_dir) / "twins.parquet"
    twins_out.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_a": pa.array(twin_of.astype(np.int64), pa.int64()),
                "doc_b": pa.array(
                    np.arange(n_base, n_base + n_dups, dtype=np.int64),
                    pa.int64(),
                ),
            }
        ),
        twins_out,
    )

    out = pathlib.Path(out_dir) / "documents.parquet"
    out.mkdir(parents=True, exist_ok=True)
    ids = np.arange(len(docs), dtype=np.int64)
    per = (len(docs) + n_files - 1) // n_files
    for f in range(n_files):
        sl = slice(f * per, min((f + 1) * per, len(docs)))
        if sl.start >= len(docs):
            break
        chunk = docs[sl]
        table = pa.table(
            {
                "doc_id": pa.array(ids[sl], pa.int64()),
                "text": pa.array(chunk, pa.string()),
                "lang": pa.array(["en"] * len(chunk), pa.string()),
                "source": pa.array(
                    [f"shard{f}"] * len(chunk), pa.string()
                ),
                "n_chars": pa.array(
                    [len(t) for t in chunk], pa.int64()
                ),
            }
        )
        # bounded row groups (round 12): one row group per part file put a
        # 420 MB column chunk under every reader task at the 5 M scale —
        # 3 concurrent stages x 8 tasks OOM'd a 16 GB local JVM in the
        # parquet read itself. 100 K-row groups bound per-task read memory
        # and give the scan real split granularity (same fix gen_tpch.py
        # shipped for the relational sf1 decade). Logical content is
        # unchanged (same seed -> same rows); only the page layout moves.
        pq.write_table(
            table, out / f"part-{f:03d}.parquet", row_group_size=100_000
        )
    return out


if __name__ == "__main__":
    args = [a for a in sys.argv[1:] if a != "--gopherable"]
    out_dir = args[0]
    n_docs = int(args[1])
    seed = int(args[2]) if len(args) > 2 else 7
    g = "--gopherable" in sys.argv
    p = generate(out_dir, n_docs, seed=seed, gopherable=g)
    print(f"wrote {p} ({n_docs} docs, seed {seed}, gopherable={g})")
