"""Multimodal decode-kernel tests.

The registered queries (mm_*) are oracle-gated on the documents table,
where every payload falls through to the deterministic stub.  These
tests cover the REAL decode layers above the stub: the dependency-free
PPM (P6) parser, the misparse guards, and the full Spark mapInPandas
path with a genuine image payload.
"""

from __future__ import annotations

from chinook_music_database_analysis_spark.operators.multimodal import (
    _decode_media,
    _parse_ppm,
    media_features,
)


def _ppm(w: int, h: int, fill: bytes = b"A") -> bytes:
    return f"P6 {w} {h} 255\n".encode() + fill * (w * h * 3)


def test_ppm_parse_real_decode():
    payload = _ppm(8, 6)
    w, h, off = _parse_ppm(payload)
    assert (w, h) == (8, 6) and payload[off:].startswith(b"A")
    n, w, h, c = _decode_media(payload)
    assert (n, w, h, c) == (len(payload), 8, 6, 3)


def test_ppm_comment_header():
    payload = b"P6\n# a comment\n4 3 255\n" + b"B" * 36
    w, h, _off = _parse_ppm(payload)
    assert (w, h) == (4, 3)


def test_ppm_misparse_guards():
    # Truncated raster, oversized maxval, or text that merely starts
    # with P6 must all fall through to the stub — never a fake decode.
    assert _parse_ppm(_ppm(8, 6)[:-1]) is None
    assert _parse_ppm(b"P6 2 2 65535\n" + b"C" * 12) is None
    assert _parse_ppm(b"P6 is a format name dropped mid-sentence") is None
    n = len(b"P6 not an image")
    assert _decode_media(b"P6 not an image") == (n, n % 512, (n * 7) % 512, 3)


def test_media_features_decodes_ppm_through_spark(spark):
    # ASCII raster bytes survive the text->utf8 encode in with_media,
    # so the full mapInPandas path sees a byte-exact P6 image.
    text = "P6 4 3 255\n" + "A" * 36
    docs = spark.createDataFrame([(1, text), (2, "plain text")], "doc_id long, text string")
    rows = {r.doc_id: r for r in media_features(docs).collect()}
    assert (rows[1].width, rows[1].height, rows[1].channels) == (4, 3, 3)
    n = len("plain text")
    assert (rows[2].n_bytes, rows[2].width, rows[2].height) == (n, n % 512, (n * 7) % 512)


def test_resize_ppm_real_kernel():
    """resize_ppm must actually resample: a 4x2 two-color P6 image
    downsized to 2x1 keeps the nearest-sampled pixels, and the output
    re-parses as a valid P6 of the target size."""
    import numpy as np

    from chinook_music_database_analysis_spark.operators.multimodal import (
        _parse_ppm,
        resize_ppm,
    )

    # left half red, right half blue, 4 wide x 2 tall
    src = np.zeros((2, 4, 3), dtype=np.uint8)
    src[:, :2] = [255, 0, 0]
    src[:, 2:] = [0, 0, 255]
    payload = b"P6\n4 2\n255\n" + src.tobytes()
    out = resize_ppm(payload, 2, 1)
    assert out is not None and _parse_ppm(out)[:2] == (2, 1)
    raster = np.frombuffer(out, dtype=np.uint8, offset=len(b"P6\n2 1\n255\n")).reshape(
        1, 2, 3
    )
    assert raster[0, 0].tolist() == [255, 0, 0]  # sampled from red half
    assert raster[0, 1].tolist() == [0, 0, 255]  # sampled from blue half
    # identity resize reproduces the image exactly
    same = resize_ppm(payload, 4, 2)
    assert np.array_equal(
        np.frombuffer(same, dtype=np.uint8, offset=len(b"P6\n4 2\n255\n")), src.ravel()
    )
    # non-image payloads are rejected (stub path)
    assert resize_ppm(b"not an image at all", 2, 2) is None


def test_resize_media_routes_ppm_through_real_kernel(spark):
    """Through the full mapInPandas stage, a P6 payload comes back as
    a re-encoded P6 (cropped=False, n_bytes = header+raster), while
    text payloads take the stub (crop) path."""
    from chinook_music_database_analysis_spark.operators import multimodal as mm

    ppm = _ppm(8, 6)
    df = spark.createDataFrame([(1, "just text")], "doc_id long, text string")
    out = {r.doc_id: r for r in mm.resize_media(df, 4, 3).collect()}
    assert out[1].cropped is False or out[1].n_bytes <= 4 * 3 * 3  # text: stub path
    # A P6 payload through the kernel re-encodes (cropped=False, size =
    # header + w*h*3); with_media only carries utf-8 text, so drive the
    # real-image route at the kernel layer and pin the stage schema.
    real = mm.resize_ppm(ppm, 4, 3)
    assert real is not None and len(real) == len(b"P6\n4 3\n255\n") + 4 * 3 * 3
    assert [f.name for f in mm.RESIZED_SCHEMA.fields] == [
        "doc_id", "resized", "width", "height", "n_bytes", "cropped",
    ]


def test_media_phash_kernel_and_pair_detection(spark):
    """The perceptual hash is the documented integer aHash (cross-
    multiplied block-mean bits over code points, checked against a
    pure-python reference), identical payloads collide at hamming 0
    and are found by the banded pair join, and an unrelated payload
    is not paired at the threshold."""
    from chinook_music_database_analysis_spark.operators.multimodal import (
        PHASH_BITS,
        media_phash,
        phash_near_dup_pairs,
    )

    a = "the quick brown fox jumps over the lazy dog again and again"
    b = "completely different payload with other words entirely here now"
    docs = spark.createDataFrame(
        [(1, a), (2, a), (3, b)], "doc_id long, text string"
    )

    def ref(text):
        cs = [ord(c) for c in text]
        n = len(cs)
        total = sum(cs)
        h = 0
        for j in range(PHASH_BITS):
            lo, hi = (j * n) // PHASH_BITS, ((j + 1) * n) // PHASH_BITS
            if hi > lo and sum(cs[lo:hi]) * n > total * (hi - lo):
                h |= 1 << j
        return h

    got = {r.doc_id: r.phash for r in media_phash(docs).collect()}
    assert got == {1: ref(a), 2: ref(a), 3: ref(b)}

    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in phash_near_dup_pairs(media_phash(docs)).collect()
    }
    assert pairs.get((1, 2)) == 0, "identical payloads must pair at hamming 0"
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_multimodal_kernels_tolerate_null_text(spark):
    """A NULL text row used to crash the whole job inside mapInPandas
    (None.startswith / len(None) / ord over None — r10 review); NULL
    now maps to an empty payload every kernel already handles."""
    from chinook_music_database_analysis_spark.operators.multimodal import (
        media_features,
        media_phash,
        resize_media,
        sample_frames,
    )

    docs = spark.createDataFrame(
        [(1, "hello world"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    feats = {r["doc_id"]: r for r in media_features(docs).collect()}
    assert feats[2]["n_bytes"] == 0 and feats[3]["n_bytes"] == 0
    rs = {r["doc_id"]: r for r in resize_media(docs).collect()}
    assert rs[2]["n_bytes"] == 0 and not rs[2]["cropped"]
    frames = sample_frames(docs).collect()
    assert all(r["doc_id"] == 1 for r in frames)  # empty payloads: 0 frames
    ph = {r["doc_id"]: r["phash"] for r in media_phash(docs).collect()}
    assert ph[2] == 0 and ph[3] == 0


def test_phash_pairs_refuse_out_of_guarantee_radius(spark):
    """max_hamming at or past the band count would silently lose
    recall (pigeonhole: d >= PHASH_BANDS pairs may share no band) —
    refused loudly instead (r10 review)."""
    import pytest

    from chinook_music_database_analysis_spark.operators.multimodal import (
        PHASH_BANDS,
        media_phash,
        phash_near_dup_pairs,
    )

    docs = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    with pytest.raises(ValueError, match="pigeonhole"):
        phash_near_dup_pairs(media_phash(docs), max_hamming=PHASH_BANDS)
