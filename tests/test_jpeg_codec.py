"""Baseline JPEG codec (operators/multimodal.py): encoder/decoder
pinned against independent direct-formula DCT/IDCT implementations
(quadruple cosine loops, not the codec's matrix path)."""

from __future__ import annotations

import math
import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from activity_classifier_spark_cassandra_spark.operators import multimodal as MM


def _idct_direct(coef: np.ndarray) -> np.ndarray:
    """T.81 A.3.3 IDCT as the literal double sum."""
    out = np.zeros((8, 8))
    for x in range(8):
        for y in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 1 / math.sqrt(2) if u == 0 else 1.0
                    cv = 1 / math.sqrt(2) if v == 0 else 1.0
                    s += (
                        cu
                        * cv
                        * coef[u, v]
                        * math.cos((2 * x + 1) * u * math.pi / 16)
                        * math.cos((2 * y + 1) * v * math.pi / 16)
                    )
            out[x, y] = s / 4.0
    return out


def _textured(seed: int) -> np.ndarray:
    """Deterministic 16x16 textured grayscale image."""
    g = np.zeros((16, 16), dtype=np.uint8)
    for i in range(16):
        for j in range(16):
            g[i, j] = (seed * 37 + i * 13 + j * 7 + (i * j) % 11) % 256
    return g


def test_flat_blocks_roundtrip_exact():
    img = np.zeros((16, 16), dtype=np.uint8)
    vals = [0, 62, 128, 254]  # even offsets from 128
    for b, (by, bx) in enumerate([(0, 0), (0, 8), (8, 0), (8, 8)]):
        img[by : by + 8, bx : bx + 8] = vals[b]
    w, h, c, raster = MM.decode_jpeg(MM.encode_jpeg_baseline(img))
    assert (w, h, c) == (16, 16, 1)
    out = np.frombuffer(raster, dtype=np.uint8).reshape(16, 16)
    assert (out == img).all()


def test_flat_ycbcr_color_matches_jfif_formula():
    y0, cb, cr = 90, 128 + 17 * 3, 128 - 17 * 5
    img = np.stack(
        [
            np.full((8, 8), y0, dtype=np.uint8),
            np.full((8, 8), cb, dtype=np.uint8),
            np.full((8, 8), cr, dtype=np.uint8),
        ],
        axis=-1,
    )
    w, h, c, raster = MM.decode_jpeg(MM.encode_jpeg_baseline(img, ycbcr=True))
    assert (w, h, c) == (8, 8, 3)
    out = np.frombuffer(raster, dtype=np.uint8).reshape(8, 8, 3)
    r = int(np.clip(math.floor(y0 + 1.402 * (cr - 128) + 0.5), 0, 255))
    g = int(
        np.clip(
            math.floor(
                y0 - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5
            ),
            0,
            255,
        )
    )
    b = int(np.clip(math.floor(y0 + 1.772 * (cb - 128) + 0.5), 0, 255))
    assert (out.reshape(-1, 3) == [r, g, b]).all()


def test_textured_decode_matches_direct_idct():
    """Decode of a real entropy-coded textured image must match the
    independent direct-sum IDCT reconstruction on every pixel (allow
    the odd 1-count difference at float rounding boundaries)."""
    img = _textured(5)
    w, h, c, raster = MM.decode_jpeg(MM.encode_jpeg_baseline(img))
    got = np.frombuffer(raster, dtype=np.uint8).reshape(16, 16).astype(int)

    # independent path: same quantized coefficients, direct IDCT
    want = np.zeros((16, 16), dtype=int)
    q = np.array(MM._QT_LUMA, dtype=np.float64).reshape(8, 8)
    for by in (0, 8):
        for bx in (0, 8):
            blk = img[by : by + 8, bx : bx + 8].astype(np.float64) - 128.0
            # direct DCT
            coef = np.zeros((8, 8))
            for u in range(8):
                for v in range(8):
                    cu = 1 / math.sqrt(2) if u == 0 else 1.0
                    cv = 1 / math.sqrt(2) if v == 0 else 1.0
                    s = sum(
                        blk[x, y]
                        * math.cos((2 * x + 1) * u * math.pi / 16)
                        * math.cos((2 * y + 1) * v * math.pi / 16)
                        for x in range(8)
                        for y in range(8)
                    )
                    coef[u, v] = cu * cv * s / 4.0
            qc = np.floor(coef / q + 0.5)
            rec = _idct_direct(qc * q)
            want[by : by + 8, bx : bx + 8] = np.clip(
                np.floor(rec + 128.5), 0, 255
            ).astype(int)
    diff = np.abs(got - want)
    assert (diff <= 1).all(), diff.max()
    assert (diff == 0).mean() > 0.95


def test_rgb_gradient_roundtrip_close():
    """Smooth RGB gradient survives encode/decode within small
    quantization error (sanity that the color path is wired, not an
    exactness pin)."""
    img = np.zeros((16, 16, 3), dtype=np.uint8)
    for i in range(16):
        for j in range(16):
            img[i, j] = (100 + 2 * i, 80 + 3 * j, 120 + i + j)
    w, h, c, raster = MM.decode_jpeg(MM.encode_jpeg_baseline(img))
    out = np.frombuffer(raster, dtype=np.uint8).reshape(16, 16, 3).astype(int)
    assert np.abs(out - img.astype(int)).max() <= 12


def test_header_walk_agrees_with_full_decoder():
    img = _textured(9)
    blob = MM.encode_jpeg_baseline(img)
    assert MM.jpeg_dims(blob) == (16, 16, 1)


def test_unsupported_surfaces_raise():
    img = _textured(3)
    blob = bytearray(MM.encode_jpeg_baseline(img))
    # progressive: flip SOF0 marker to SOF2
    i = blob.find(b"\xff\xc0")
    prog = bytes(blob[:i]) + b"\xff\xc2" + bytes(blob[i + 2 :])
    with pytest.raises(NotImplementedError):
        MM.decode_jpeg(prog)
    # subsampled chroma: hand-build an SOF with 2x2 luma sampling
    color = MM.encode_jpeg_baseline(
        np.zeros((8, 8, 3), dtype=np.uint8), ycbcr=True
    )
    j = color.find(b"\xff\xc0")
    sub = bytearray(color)
    sub[j + 11] = 0x22  # component 1 sampling 2x2
    with pytest.raises(NotImplementedError):
        MM.decode_jpeg(bytes(sub))
    # truncated entropy stream
    with pytest.raises(NotImplementedError):
        MM.decode_jpeg(bytes(blob[:-20]))
    # nonzero restart interval
    dri = (
        bytes(blob[:i])
        + b"\xff\xdd" + struct.pack(">HH", 4, 8)
        + bytes(blob[i:])
    )
    with pytest.raises(NotImplementedError):
        MM.decode_jpeg(dri)


def test_huffman_tables_roundtrip():
    for bits, vals in (
        MM._HT_DC_LUMA,
        MM._HT_AC_LUMA,
        MM._HT_DC_CHROMA,
        MM._HT_AC_CHROMA,
    ):
        enc = MM._huff_codes(bits, vals)
        dec = MM._huff_decode_table(bits, vals)
        assert len(enc) == len(vals)
        for sym, lc in enc.items():
            assert dec[lc] == sym


def test_random_images_match_independent_reconstruction():
    """Property: for deterministic pseudo-random 16x16 grayscale
    images, decode(encode(x)) equals the independent reconstruction
    (direct-formula DCT -> quantize -> direct-formula IDCT) on >=95%
    of pixels with max deviation 1 (float rounding boundaries)."""
    q = np.array(MM._QT_LUMA, dtype=np.float64).reshape(8, 8)
    for seed in range(6):
        img = _textured(seed * 17 + 1)
        w, h, c, raster = MM.decode_jpeg(MM.encode_jpeg_baseline(img))
        got = np.frombuffer(raster, dtype=np.uint8).reshape(16, 16).astype(int)
        want = np.zeros((16, 16), dtype=int)
        for by in (0, 8):
            for bx in (0, 8):
                blk = img[by : by + 8, bx : bx + 8].astype(np.float64) - 128.0
                coef = np.zeros((8, 8))
                for u in range(8):
                    for v in range(8):
                        cu = 1 / math.sqrt(2) if u == 0 else 1.0
                        cv = 1 / math.sqrt(2) if v == 0 else 1.0
                        coef[u, v] = (
                            cu * cv / 4.0
                            * sum(
                                blk[x, y]
                                * math.cos((2 * x + 1) * u * math.pi / 16)
                                * math.cos((2 * y + 1) * v * math.pi / 16)
                                for x in range(8)
                                for y in range(8)
                            )
                        )
                rec = _idct_direct(np.floor(coef / q + 0.5) * q)
                want[by : by + 8, bx : bx + 8] = np.clip(
                    np.floor(rec + 128.5), 0, 255
                ).astype(int)
        diff = np.abs(got - want)
        assert (diff <= 1).all(), (seed, diff.max())
        assert (diff == 0).mean() >= 0.95, (seed, (diff == 0).mean())


def test_malformed_streams_raise_notimplemented_not_crash():
    """ADVICE r8: a corrupt real-world JPEG must surface as the
    documented NotImplementedError (-> decode_ok=False row), never as
    struct.error / IndexError / StopIteration, which would kill the
    whole Spark task inside the mapInPandas generator."""
    img = _textured(7)
    blob = bytearray(MM.encode_jpeg_baseline(img))

    def corrupt_sof_short():
        # SOF segment with length 5 (2 < ln < 8): short unpack
        i = blob.find(b"\xff\xc0")
        return bytes(blob[:i]) + b"\xff\xc0" + struct.pack(">H", 5) + b"\x08\x00\x08" + bytes(blob[i:])

    def corrupt_sos_short():
        # SOS claiming 3 scan components but a 3-byte body
        i = blob.find(b"\xff\xda")
        return bytes(blob[:i]) + b"\xff\xda" + struct.pack(">H", 4) + b"\x03\x01" + bytes(blob[i:])

    def corrupt_sos_unknown_component():
        # scan references component id 9 that no SOF declared
        i = blob.find(b"\xff\xda")
        out = bytearray(blob)
        out[i + 5] = 9  # first scan component selector
        return bytes(out)

    def corrupt_dri_short():
        i = blob.find(b"\xff\xc0")
        return bytes(blob[:i]) + b"\xff\xdd" + struct.pack(">H", 3) + b"\x00" + bytes(blob[i:])

    def truncated_mid_segment():
        return bytes(blob[: blob.find(b"\xff\xc4") + 5])

    for make in (
        corrupt_sof_short,
        corrupt_sos_short,
        corrupt_sos_unknown_component,
        corrupt_dri_short,
        truncated_mid_segment,
    ):
        with pytest.raises(NotImplementedError):
            MM.decode_jpeg(make())

    # random byte garbage after a valid SOI: anything goes, but it
    # must come out as NotImplementedError
    rng = np.random.default_rng(0)
    for _ in range(25):
        junk = b"\xff\xd8" + rng.integers(0, 256, 120, dtype=np.uint8).tobytes()
        try:
            MM.decode_jpeg(junk)
        except NotImplementedError:
            pass


_FUZZ_BLOB = MM.encode_jpeg_baseline(_textured(7))


def _decodes_or_declines(data: bytes) -> None:
    """The codec contract: a decoded tuple or NotImplementedError."""
    try:
        out = MM.decode_jpeg(data)
    except NotImplementedError:
        return
    assert isinstance(out, tuple) and len(out) == 4


@settings(max_examples=300, deadline=None)
@given(
    flip=st.none() | st.integers(0, len(_FUZZ_BLOB) * 8 - 1),
    cut=st.integers(0, len(_FUZZ_BLOB)),
)
def test_bit_flips_and_truncations_keep_error_contract(flip, cut):
    blob = bytearray(_FUZZ_BLOB)
    if flip is not None:
        blob[flip // 8] ^= 1 << (flip % 8)
    _decodes_or_declines(bytes(blob[:cut]))


def test_corrupt_dht_overflow_declines():
    """One flip in the DC table's code counts (byte 127 of the blob,
    inside the first DHT) drives the Huffman slow path to a coefficient
    too large for int64; that OverflowError used to escape the
    contract and fail the whole Spark task."""
    assert _FUZZ_BLOB[102:104] == b"\xff\xc4"
    blob = bytearray(_FUZZ_BLOB)
    blob[127] ^= 1 << 6
    with pytest.raises(NotImplementedError, match="corrupt JPEG stream"):
        MM.decode_jpeg(bytes(blob))


def test_codec_cache_stats_are_per_cache():
    """Encoder and decoder memo traffic land in separate counters:
    one image encoded twice is one encode miss + one encode hit, one
    blob decoded twice is one decode miss + one decode hit."""
    MM._ENC_CACHE.clear()
    MM._DEC_CACHE.clear()
    before = MM.codec_cache_stats()
    img = _textured(7)
    blob = MM.encode_jpeg_baseline(img)
    assert MM.encode_jpeg_baseline(img) == blob
    MM.decode_jpeg(blob)
    MM.decode_jpeg(blob)
    after = MM.codec_cache_stats()
    MM._ENC_CACHE.clear()
    MM._DEC_CACHE.clear()
    for side in ("enc", "dec"):
        assert after[side]["hits"] - before[side]["hits"] == 1
        assert after[side]["misses"] - before[side]["misses"] == 1
        assert 0.0 < after[side]["hit_rate"] <= 1.0
