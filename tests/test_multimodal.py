"""Multimodal column plumbing: payload/metadata schema, Arrow-batched
feature extraction determinism, decode stub behavior."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vat_etl_spark.operators.multimodal import (
    attach_payload,
    decode_image,
    extract_features,
)
from vat_etl_spark.sources.catalog import read_table


@pytest.fixture(scope="module")
def mm(spark, sf_smoke):
    return attach_payload(read_table(spark, sf_smoke, "documents"))


def test_payload_schema(mm):
    fields = dict(mm.dtypes)
    assert fields["payload"] == "binary"
    assert "mime" in fields["meta"] and "checksum" in fields["meta"]


def test_checksum_matches_text(mm, spark, sf_smoke):
    docs = {r.doc_id: r.text for r in read_table(spark, sf_smoke, "documents").collect()}
    import hashlib

    for r in mm.limit(5).collect():
        want = hashlib.md5(docs[r.doc_id].encode()).hexdigest()
        assert r.meta.checksum == want
        assert r.meta.n_bytes == len(docs[r.doc_id].encode())


def test_feature_extraction_deterministic(mm):
    a = {r.doc_id: (r.n_bytes, tuple(r.byte_histogram), r.entropy_proxy)
         for r in extract_features(mm).collect()}
    b = {r.doc_id: (r.n_bytes, tuple(r.byte_histogram), r.entropy_proxy)
         for r in extract_features(mm).collect()}
    assert a == b
    some = next(iter(a.values()))
    assert sum(some[1]) == some[0]  # histogram mass == byte count


def test_decode_image_fills_dims_for_known_formats(spark):
    # synthetic headers: a 640x480 PNG IHDR, a 13x11 GIF89a screen, a 7x5
    # BMP info header (DIB size 40), a 9x4 OS/2 BMP core header (DIB size
    # 12, u16 dims), a 3x2 netpbm, and a text payload (→ NULL dims)
    import struct

    png = b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\rIHDR" + struct.pack(">II", 640, 480) + b"\x08"
    gif = b"GIF89a" + struct.pack("<HH", 13, 11) + b"\x00" * 4
    bmp = b"BM" + b"\x00" * 12 + struct.pack("<I", 40) + struct.pack("<ii", 7, -5) + b"\x00" * 4
    bmp_os2 = b"BM" + b"\x00" * 12 + struct.pack("<I", 12) + struct.pack("<HH", 9, 4) + b"\x00" * 4
    pbm = b"P6\n# comment\n3 2\n255\n" + b"\x00" * 18
    txt = b"just some text"
    rows = [(1, png), (2, gif), (3, bmp), (4, pbm), (5, txt), (6, bmp_os2)]
    src = spark.createDataFrame(rows, "doc_id long, payload binary").select(
        "doc_id",
        "payload",
        F.lit(None).cast("string").alias("uri"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.length("payload").cast("long").alias("n_bytes"),
            F.md5("payload").alias("checksum"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
        ).alias("meta"),
    )
    # use_pil=False: PIL (when installed) rejects these header-only
    # payloads, so force the probe path for environment-independence
    out = {r.doc_id: (r.meta.width, r.meta.height)
           for r in decode_image(src, use_pil=False).collect()}
    assert out[1] == (640, 480)
    assert out[2] == (13, 11)
    assert out[3] == (7, 5)  # negative BMP height = top-down DIB → abs
    assert out[4] == (3, 2)
    assert out[6] == (9, 4)  # OS/2 core header, u16 dims
    assert out[5] == (None, None)


def test_decode_image_pure_python_probe_direct():
    # the fallback probe must behave identically whether or not PIL exists
    from vat_etl_spark.operators.multimodal import _probe_image_dims

    assert _probe_image_dims(b"") == (None, None)
    assert _probe_image_dims(b"\x89PNG\r\n\x1a\n\x00") == (None, None)  # truncated
    assert _probe_image_dims(b"P1 4 9") == (4, 9)


def test_frame_sample_is_map_only(spark, sf_smoke):
    from vat_etl_spark.plans import shuffle_count
    from vat_etl_spark.queries import QUERIES

    df = QUERIES["multimodal_frame_sample"](spark, sf_smoke)
    assert shuffle_count(df) == 0
    # stride-2 sampling: only even frame indices survive
    assert df.filter((df.frame_idx % 2) == 1).count() == 0


def test_resize_payload_shrinks_and_refreshes_meta(spark, sf_smoke):
    import math

    from vat_etl_spark.operators.multimodal import attach_payload, resize_payload
    from vat_etl_spark.sources.catalog import read_table

    docs = read_table(spark, sf_smoke, "documents").limit(50)
    mm = attach_payload(docs)
    orig = {r.doc_id: r.meta.n_bytes for r in mm.select("doc_id", "meta").collect()}
    small = resize_payload(mm, factor=4)
    # composable: same multimodal convention (nullability aside — mapInPandas
    # output fields are always nullable)
    assert [(f.name, f.dataType.simpleString()) for f in small.schema.fields] == [
        (f.name, f.dataType.simpleString()) for f in mm.schema.fields
    ]
    for r in small.collect():
        assert r.meta.n_bytes == math.ceil(orig[r.doc_id] / 4)
        assert len(r.payload) == r.meta.n_bytes


def test_audio_frame_energy_matches_struct_reference(mm):
    """PCM framing parity: frame geometry, energy, and peak must equal a
    pure-Python struct.unpack reference on the same payload bytes."""
    import struct

    from vat_etl_spark.operators.multimodal import audio_frame_energy

    got = {}
    for r in audio_frame_energy(mm, frame_samples=64).collect():
        got.setdefault(r.doc_id, {})[r.frame_idx] = (r.n_samples, r.energy, r.peak_abs)
    payloads = {r.doc_id: bytes(r.payload) for r in mm.select("doc_id", "payload").collect()}
    assert set(got) == set(payloads)
    for doc_id, b in list(payloads.items())[:10]:
        usable = len(b) // 2 * 2
        samples = struct.unpack(f"<{usable // 2}h", b[:usable])
        expected = {}
        for idx in range(0, max(len(samples), 1), 64):
            fr = samples[idx : idx + 64]
            expected[idx // 64] = (
                len(fr),
                sum(s * s for s in fr),
                max((abs(s) for s in fr), default=0),
            )
        assert got[doc_id] == expected, doc_id


def test_keyframe_select_matches_python_reference(mm):
    from vat_etl_spark.operators.multimodal import keyframe_select

    got = {}
    for r in keyframe_select(mm, frame_bytes=32, threshold=500).collect():
        got.setdefault(r.doc_id, {})[r.frame_idx] = (r.delta, r.is_keyframe)
    payloads = {r.doc_id: bytes(r.payload) for r in mm.select("doc_id", "payload").collect()}
    assert set(got) == set(payloads)
    for doc_id, b in list(payloads.items())[:10]:
        n_frames = max(-(-len(b) // 32), 1)
        frames = [b[i * 32 : (i + 1) * 32] for i in range(n_frames)]
        expected = {}
        prev = None
        for i, fr in enumerate(frames):
            if prev is None:
                expected[i] = (0, True)
            else:
                width = max(len(fr), len(prev))
                a = fr.ljust(width, b"\x00"); p = prev.ljust(width, b"\x00")
                d = sum(abs(x - y) for x, y in zip(a, p))
                expected[i] = (d, d > 500)
            prev = fr
        assert got[doc_id] == expected, doc_id
    # the heuristic must actually select a nontrivial subset
    keys = sum(1 for d in got.values() for (_, k) in d.values() if k)
    total = sum(len(d) for d in got.values())
    assert 0 < keys < total


def _ref_phash_bands(b: bytes) -> list[int]:
    """Pure-Python reference of the 256-bit band-word signature —
    intentionally re-derived from the aHash definition (not the
    production numpy code) so the pin is independent."""
    from vat_etl_spark.operators.multimodal import (
        PHASH_BAND_BITS,
        PHASH_BANDS,
        PHASH_BITS,
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


def _ref_hamming(a: list[int], b: list[int]) -> int:
    return sum(bin(x ^ y).count("1") for x, y in zip(a, b))


def test_phash_matches_pure_python_and_blocking_is_lossless(spark, sf_smoke):
    from vat_etl_spark.operators.multimodal import (
        attach_payload,
        perceptual_hash,
    )
    from vat_etl_spark.queries import QUERIES
    from vat_etl_spark.sources.catalog import read_table

    docs = read_table(spark, sf_smoke, "documents")
    got = {
        r.doc_id: (r.n_bytes, list(r.bands))
        for r in perceptual_hash(attach_payload(docs)).collect()
    }

    texts = {r.doc_id: r.text for r in docs.collect()}
    assert len(got) == len(texts)
    for doc_id, t in texts.items():
        b = t.encode("utf-8")
        assert got[doc_id] == (len(b), _ref_phash_bands(b)), doc_id

    # banding must find EVERY pair at hamming <= 3 (pigeonhole-lossless):
    # compare the query output against the brute-force pair set
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in QUERIES["multimodal_dedup_phash"](spark, sf_smoke).collect()
    }
    ids = sorted(got)
    brute = {}
    for i, da in enumerate(ids):
        for db in ids[i + 1 :]:
            h = sum(
                bin(x ^ y).count("1")
                for x, y in zip(got[da][1], got[db][1])
            )
            if h <= 3:
                brute[(da, db)] = h
    assert pairs == brute


def test_phash_planted_family_detected_exactly(spark, sf_smoke):
    """`multimodal_dedup_phash_planted` must detect EXACTLY the planted
    pairs the pure-Python phash reference predicts sit within tau=3 — a
    positive-path audit of the detection machinery on real corpus bytes
    (the production query's corpus answer is honestly zero)."""
    from vat_etl_spark.queries import QUERIES
    from vat_etl_spark.sources.catalog import read_table

    texts = {
        r.doc_id: r.text
        for r in read_table(spark, sf_smoke, "documents").collect()
        if r.text
    }
    want = {}
    for doc_id, t in texts.items():
        if doc_id % 20 != 0:
            continue
        v = chr(ord(t[0]) ^ 64) + t[1:]
        h = _ref_hamming(
            _ref_phash_bands(t.encode()), _ref_phash_bands(v.encode())
        )
        if h <= 3:
            want[(doc_id, doc_id)] = h
    got = {
        (r.doc_id, r.variant_of): r.hamming
        for r in QUERIES["multimodal_dedup_phash_planted"](spark, sf_smoke).collect()
    }
    assert want and got == want
    assert max(got.values()) >= 1  # a real spread, not only exact dups


def test_phash_dedup_finds_synthetic_near_dups(spark, tmp_path):
    """The real corpus has no byte-level near-dups (min pairwise hamming
    8 — measured; its near-dups are token-SHUFFLES, which restructure the
    byte blocks), so the corpus run is honestly empty. This pins the
    positive behavior on constructed families: single-bit flips and
    adjacent-word swaps must land within tau=3 of their original and be
    FOUND (banding can't lose them — pigeonhole), while structurally
    different documents must NOT pair."""
    from vat_etl_spark.queries import QUERIES

    base1 = "the quick brown fox jumps over the lazy dog again and again"
    base2 = "entirely different content with другое byte structure here ok"
    b1 = base1.encode()
    flip = b1[:5] + bytes([b1[5] ^ 1]) + b1[6:]          # 1-bit flip of base1
    w = base1.split(); w[0], w[1] = w[1], w[0]
    swap = " ".join(w).encode()                          # adjacent swap of base1
    docs = [
        (0, base1),
        (1, flip.decode()),
        (2, swap.decode()),
        (3, base2),
    ]
    df = spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "docs")
    df.coalesce(1).write.parquet(d + "/documents.parquet")
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in QUERIES["multimodal_dedup_phash"](spark, d).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] <= 3
    assert (0, 2) in pairs and pairs[(0, 2)] <= 3
    assert all(3 not in p for p in pairs), pairs


def test_registered_multimodal_audio_frames_query(spark, sf_smoke, mm):
    """Binds the registered `multimodal_audio_frames` query (default frame
    geometry) to the payload bytes: frame indices contiguous from 0, total
    sample count reconstructs the payload's usable s16 length, and the
    first frames match the struct.unpack reference."""
    import struct

    from vat_etl_spark.queries import QUERIES

    rows = QUERIES["multimodal_audio_frames"](spark, sf_smoke).collect()
    per_doc: dict[int, dict[int, tuple]] = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, {})[r.frame_idx] = (
            r.n_samples, r.energy, r.peak_abs,
        )
    payloads = {
        r.doc_id: bytes(r.payload) for r in mm.select("doc_id", "payload").collect()
    }
    assert set(per_doc) == set(payloads)
    frame = max(max(d) for d in per_doc.values())  # infer default frame size
    for doc_id, frames in per_doc.items():
        assert sorted(frames) == list(range(len(frames)))
        usable = len(payloads[doc_id]) // 2
        assert sum(n for n, _, _ in frames.values()) == max(usable, 0)
    # exact struct reference on a sample of docs at the registered geometry
    some = sorted(payloads)[:5]
    default_fs = max(n for d in some for (n, _, _) in per_doc[d].values())
    for doc_id in some:
        b = payloads[doc_id]
        usable = len(b) // 2 * 2
        samples = struct.unpack(f"<{usable // 2}h", b[:usable])
        for idx in range(0, max(len(samples), 1), default_fs):
            fr = samples[idx : idx + default_fs]
            assert per_doc[doc_id][idx // default_fs] == (
                len(fr),
                sum(s * s for s in fr),
                max((abs(s) for s in fr), default=0),
            )


def test_registered_multimodal_keyframes_query(spark, sf_smoke, mm):
    """Binds the registered `multimodal_keyframes` query: frame 0 is always
    a keyframe with delta 0, keyframe flags equal (delta > threshold), and
    the selection is a nontrivial subset."""
    from vat_etl_spark.queries import QUERIES

    rows = QUERIES["multimodal_keyframes"](spark, sf_smoke).collect()
    per_doc: dict[int, dict[int, tuple]] = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, {})[r.frame_idx] = (r.delta, r.is_keyframe)
    assert per_doc
    # threshold is recoverable: every non-first keyframe delta exceeds every
    # non-keyframe delta (the flag is a pure threshold on delta)
    key_deltas = [d for doc in per_doc.values() for i, (d, k) in doc.items() if k and i > 0]
    non_deltas = [d for doc in per_doc.values() for i, (d, k) in doc.items() if not k]
    for doc in per_doc.values():
        assert doc[0] == (0, True)
        assert sorted(doc) == list(range(len(doc)))
    if key_deltas and non_deltas:
        assert min(key_deltas) > max(non_deltas)
    n_key = len(key_deltas) + len(per_doc)
    n_all = sum(len(d) for d in per_doc.values())
    assert 0 < n_key < n_all


def test_phash_fallback_band_grain_for_tau_above_3(spark):
    """tau in (3, 7] must fall back to the 8x32-bit join grain (the fused
    4x64 grain is only pigeonhole-lossless to hamming 3): detection at
    tau=5 must equal brute force over the reference signatures, and
    tau > 7 must refuse (beyond the 8-band pigeonhole bound)."""
    import pytest as _pytest

    import vat_etl_spark.queries.multimodal as M
    from vat_etl_spark.operators.multimodal import attach_payload

    # 256-byte payloads = one byte per signature block, with a large
    # byte-mean margin (spaces 32 / 'z' 122 vs global mean ~77), so
    # flipping k distinct suffix bytes to '0' (48, below the mean) moves
    # EXACTLY k signature bits — a deterministic hamming-k family with
    # no global-mean cascade (repeating-pattern bases sit knife-edge on
    # the mean and cascade under any perturbation; measured)
    base = " " * 128 + "z" * 128
    rows = [(0, base)]
    rows += [(i, " " * 128 + "y" * (120 + i) + "z" * (8 - i)) for i in range(1, 8)]
    for k in range(1, 6):
        chars = list(base)
        for j in range(k):
            chars[140 + 17 * j] = "0"
        rows.append((100 + k, "".join(chars)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in M._phash_near_dup_pairs(attach_payload(docs), tau=5).collect()
    }
    sigs = {
        r.doc_id: list(r.bands)
        for r in __import__(
            "vat_etl_spark.operators.multimodal", fromlist=["perceptual_hash"]
        ).perceptual_hash(attach_payload(docs)).collect()
    }
    ids = sorted(sigs)
    brute = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = sum(bin(x ^ y).count("1") for x, y in zip(sigs[a], sigs[b]))
            if h <= 5:
                brute[(a, b)] = h
    assert got == brute
    assert any(h > 3 for h in brute.values()), "family must exercise tau>3"
    with _pytest.raises(ValueError):
        M._phash_band_explode(docs.limit(0), tau=8)
