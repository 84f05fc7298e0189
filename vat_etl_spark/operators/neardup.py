"""The signature-grain near-dup pair protocol shared by the batch pair
finders: text MinHash (``dedup_minhash_banded``), image pHash
(``multimodal_dedup_phash``) and ``dedup_simhash``. Each caller owns its
signature, its band layout and its verify step (exact Jaccard at doc
grain, exact Hamming at representative grain); the three steps around
them live here.

1. **Election** (:func:`elect`). Docs collapse to one representative per
   DISTINCT signature: ``groupBy(key).agg(min(doc_id) AS srep, count AS
   gsz)``, a narrow-key aggregate with map-side partial collapse. Only
   representatives are banded, so an identical-signature cluster of any
   size (exact dups, J≈1 boilerplate — they share EVERY band key) occupies
   one slot per bucket. ``dup`` is the doc→rep membership of the gsz>1
   groups only: EMPTY on dup-free corpora, output-volume-bound on
   boilerplate ones. A signature narrow enough to be its own group name
   (SimHash's 64-bit value) may skip the rep id and pass every doc as a
   member instead: no join back to the group table.

2. **Bucket cap** (:func:`drop_hot`). A band bucket holding more than
   :data:`BUCKET_CAP` distinct signatures has degenerated (hot shingles /
   hot byte blocks dominate its key) and carries ~no pair information, but
   its pairs grow quadratically (12 K-doc buckets = 72 M junk pairs EACH
   at 5 M Zipfian docs, SCALE.md round 11). The hot list is a
   partial-aggregated ``groupBy(bucket).count()`` — no task ever buffers a
   bucket, unlike the round-14 count-window, which held a whole degenerate
   bucket in one task — and it is structurally ≤ rows/CAP entries, so AQE
   broadcasts the ``left_anti`` join (EMPTY at oracle scale) or falls back
   to a skew-splittable SMJ. Hot rows drop BEFORE the self-join's bucket
   shuffle. Because the cap counts signatures, not docs, an
   identical-signature cluster can never trip it. Recall under the cap:

   - MinHash: band keys of sig-distinct members come from different
     min-hash coordinates, so a pair losing k of its B buckets keeps B−k
     independent chances; its miss probability is ≤ (1−J^R)^(B−k)
     (≈ 3e-5 at the planted-twin J≈0.82 even at k=2). A pair collapsed by
     EVERY band is sig-identical and immune by construction.
   - pHash: a pair at Hamming ≤ tau loses at most tau of its k join bands
     to flipped bits (pigeonhole), so it is lost only if ALL of its ≥ k−tau
     clean buckets are over the cap.

   Dormant at oracle scale (pytest-pinned, so the all-pairs oracle twins
   stay exact); the active regime is measured by ``tools/mhb_capstress.py``
   and ``tools/phash_capstress.py``. SimHash stays uncapped: a cap on its
   16-bit band keys would break pigeonhole losslessness at scale.

3. **Expansion** (:func:`expand`). Verified representative pairs expand
   back to doc pairs through the membership: LEFT joins against the
   (normally ~0-byte, AQE-broadcast) ``dup``, reps without member rows
   expanding to themselves via ``coalesce``; plus every within-group
   pair, emitted directly (identical signatures are near-certain true
   pairs) with the caller's within-group column values, e.g. Hamming 0.
   doc→rep is functional, so each doc pair appears exactly once and no
   distinct runs at the expanded grain."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BUCKET_CAP = 1000


def elect(members: DataFrame, key: list[str]) -> tuple[DataFrame, DataFrame]:
    """(grp, dup) over ``members`` (doc_id + the signature ``key``
    columns): grp = (*key, srep, gsz), one row per distinct signature;
    dup = (srep, doc_id) for the docs of gsz>1 groups."""
    grp = members.groupBy(*key).agg(
        F.min("doc_id").alias("srep"), F.count("*").alias("gsz")
    )
    dup = (
        members.select("doc_id", *key)
        .join(grp.filter(F.col("gsz") > 1).select(*key, "srep"), key)
        .select("srep", "doc_id")
    )
    return grp, dup


def drop_hot(banded: DataFrame, bucket: list[str]) -> DataFrame:
    """``banded`` without the rows of buckets over :data:`BUCKET_CAP`,
    persisted for both sides of the caller's bucket self-join."""
    hot = (
        banded.groupBy(*bucket)
        .count()
        .filter(F.col("count") > BUCKET_CAP)
        .select(*bucket)
    )
    return banded.join(hot, bucket, "left_anti").persist()


def expand(rep_pairs: DataFrame, dup: DataFrame, **within: Column) -> DataFrame:
    """(doc_a, doc_b, *extra) doc pairs, doc_a < doc_b, from
    ``rep_pairs`` = (ra, rb, *extra) and the membership ``dup`` =
    (srep, doc_id); a rep with no member row stands for itself, and the
    within-group pairs take ``within``'s value for each extra column."""
    ma = dup.select(F.col("srep").alias("ra"), F.col("doc_id").alias("da"))
    mb = dup.select(F.col("srep").alias("rb"), F.col("doc_id").alias("db"))
    cross = (
        rep_pairs.join(ma, "ra", "left")
        .withColumn("da", F.coalesce("da", "ra"))
        .join(mb, "rb", "left")
        .withColumn("db", F.coalesce("db", "rb"))
    )
    pairs = ma.join(mb, (F.col("ra") == F.col("rb")) & (F.col("da") < F.col("db")))
    extra = [c for c in rep_pairs.columns if c not in ("ra", "rb")]
    return cross.select(
        F.least("da", "db").alias("doc_a"),
        F.greatest("da", "db").alias("doc_b"),
        *extra,
    ).unionByName(
        pairs.select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            *[within[c].alias(c) for c in extra],
        )
    )
