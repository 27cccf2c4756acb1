"""Codec round-trip + spec tests for operators/multimodal_codec.py.

The registered keys are oracle-checked by tests/test_oracle_parity.py;
these tests pin the codec halves themselves: lossless round trips over
arbitrary content (hypothesis), the exact header/padding/alignment
arithmetic, and loud failures on malformed files.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from classification_problem_with_pyspark_spark.operators.multimodal_codec import (
    BMP_FILE_LEN,
    BMP_H,
    _bmp_pixels,
    _wav_params,
    _wav_samples,
    decode_bmp24,
    decode_wav_pcm16,
    encode_bmp24,
    encode_wav_pcm16,
)


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(1, 17),
    w=st.integers(1, 17),
    seed=st.integers(0, 2**31 - 1),
)
def test_bmp_roundtrip_lossless(h, w, seed):
    rng = np.random.default_rng(seed)
    pix = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    out = decode_bmp24(encode_bmp24(pix))
    assert out.shape == (h, w, 3)
    assert np.array_equal(out, pix)


def test_bmp_row_padding_is_real():
    # width 15 → 45-byte rows → 3 pad bytes; file length is closed-form
    pix = _bmp_pixels(7)
    data = encode_bmp24(pix)
    assert len(data) == BMP_FILE_LEN == 54 + BMP_H * 48
    # stride parsed back correctly despite padding
    assert np.array_equal(decode_bmp24(data), pix)


def test_bmp_layout_is_bottom_up_bgr():
    # first pixel row in the FILE is the LAST array row, channels reversed
    pix = _bmp_pixels(3)
    data = encode_bmp24(pix)
    first_file_px = np.frombuffer(data[54:57], dtype=np.uint8)
    assert np.array_equal(first_file_px, pix[-1, 0, ::-1])


@pytest.mark.parametrize(
    "mutate, err",
    [
        (lambda d: b"XX" + d[2:], "magic"),
        (lambda d: d[:40], "truncated"),
        # compression field (offset 14+16) forced to BI_RLE8
        (lambda d: d[:30] + struct.pack("<I", 1) + d[34:], "BI_RGB"),
        # bit count forced to 8
        (lambda d: d[:28] + struct.pack("<H", 8) + d[30:], "24-bit"),
    ],
)
def test_bmp_rejects_malformed(mutate, err):
    data = encode_bmp24(_bmp_pixels(1))
    with pytest.raises(ValueError, match=err):
        decode_bmp24(mutate(bytes(data)))


@settings(max_examples=40, deadline=None)
@given(
    n=st.integers(1, 300),
    rate=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(0, 2**31 - 1),
)
def test_wav_roundtrip_lossless(n, rate, seed):
    rng = np.random.default_rng(seed)
    s = rng.integers(-32768, 32768, size=n, dtype=np.int16)
    dec_rate, out = decode_wav_pcm16(encode_wav_pcm16(s, rate))
    assert dec_rate == rate
    assert np.array_equal(out, s)


def test_wav_chunk_walk_skips_unknown_chunks():
    """The encoder plants an odd-length LIST chunk before data; a decoder
    that doesn't walk chunks (or forgets word alignment) would misparse.
    Also prepend ANOTHER junk chunk before fmt to prove full generality."""
    s = _wav_samples(9, 70)
    rate, _ = _wav_params(9)
    data = encode_wav_pcm16(s, rate)
    # splice an extra 5-byte junk chunk (+1 pad) right after 'WAVE'
    extra = struct.pack("<4sI", b"INFO", 5) + b"abcde\x00"
    spliced = (
        data[:12]
        + extra
        + data[12:]
    )
    # fix up the RIFF size field
    spliced = data[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    dec_rate, out = decode_wav_pcm16(spliced)
    assert dec_rate == rate
    assert np.array_equal(out, s)


def test_wav_payload_len_closed_form():
    for m in (0, 7, 14, 63, 700):
        rate, n = _wav_params(m)
        assert len(encode_wav_pcm16(_wav_samples(m, n), rate)) == 60 + 2 * n


@pytest.mark.parametrize(
    "mutate, err",
    [
        (lambda d: b"RIFX" + d[4:], "magic"),
        (lambda d: d[:8] + b"AVI " + d[12:], "magic"),
        (lambda d: d[:-4], "truncated"),
    ],
)
def test_wav_rejects_malformed(mutate, err):
    data = encode_wav_pcm16(_wav_samples(1, 64), 8000)
    with pytest.raises(ValueError, match=err):
        decode_wav_pcm16(mutate(bytes(data)))


def test_wav_rejects_stereo():
    data = bytearray(encode_wav_pcm16(_wav_samples(1, 64), 8000))
    # channels field lives at offset 12 (RIFF hdr) + 8 (fmt hdr) + 2
    struct.pack_into("<H", data, 22, 2)
    with pytest.raises(ValueError, match="mono"):
        decode_wav_pcm16(bytes(data))


def test_decode_media_dispatches_to_real_decoders():
    from classification_problem_with_pyspark_spark.operators.multimodal import (
        decode_media,
    )

    pix = _bmp_pixels(2)
    assert np.array_equal(decode_media(encode_bmp24(pix), "image/bmp"), pix)
    s = _wav_samples(2, 66)
    assert np.array_equal(
        decode_media(encode_wav_pcm16(s, 12000), "audio/wav"), s
    )
    with pytest.raises(NotImplementedError):
        decode_media(b"\xff\xd8\xff", "image/jpeg")


# ---------------------------------------------------------------------------
# PNG (round 6): real DEFLATE (stdlib zlib) + all five scanline filters
# ---------------------------------------------------------------------------

from classification_problem_with_pyspark_spark.operators.multimodal_codec import (  # noqa: E402
    PNG_H,
    PNG_W,
    _png_pixels,
    decode_png_rgb8,
    encode_png_rgb8,
)


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(1, 17),
    w=st.integers(1, 17),
    seed=st.integers(0, 2**31 - 1),
)
def test_png_roundtrip_lossless(h, w, seed):
    rng = np.random.default_rng(seed)
    pix = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    out = decode_png_rgb8(encode_png_rgb8(pix))
    assert out.shape == (h, w, 3)
    assert np.array_equal(out, pix)


def test_png_exercises_all_five_filters():
    # the fixture height is 10 → scanlines use filter types 0..4 twice;
    # read them straight out of the inflated stream
    import zlib as _zlib

    data = encode_png_rgb8(_png_pixels(4))
    # walk chunks, concat IDAT
    off, idat = 8, b""
    while off + 12 <= len(data):
        (size,) = struct.unpack_from(">I", data, off)
        if data[off + 4 : off + 8] == b"IDAT":
            idat += data[off + 8 : off + 8 + size]
        off += 12 + size
    scan = np.frombuffer(_zlib.decompress(idat), dtype=np.uint8).reshape(
        PNG_H, PNG_W * 3 + 1
    )
    assert list(scan[:, 0]) == [r % 5 for r in range(PNG_H)]


def test_png_idat_is_split_and_reassembled():
    data = encode_png_rgb8(_png_pixels(6))
    off, n_idat = 8, 0
    while off + 12 <= len(data):
        (size,) = struct.unpack_from(">I", data, off)
        if data[off + 4 : off + 8] == b"IDAT":
            n_idat += 1
        off += 12 + size
    assert n_idat == 2  # decoder must concatenate before inflating
    assert np.array_equal(decode_png_rgb8(data), _png_pixels(6))


@pytest.mark.parametrize(
    "mutate, err",
    [
        (lambda d: b"\x89PNJ" + d[4:], "signature"),
        (lambda d: d[:-6], "IEND"),  # IEND chunk mangled away
    ],
)
def test_png_rejects_malformed(mutate, err):
    data = encode_png_rgb8(_png_pixels(1))
    with pytest.raises(ValueError, match=err):
        decode_png_rgb8(mutate(bytes(data)))


def test_png_rejects_crc_corruption():
    data = bytearray(encode_png_rgb8(_png_pixels(2)))
    # flip a byte inside the first IDAT payload (offset past IHDR chunk)
    data[8 + 25 + 12] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_png_rgb8(bytes(data))


def test_png_rejects_unsupported_color_type():
    pix = _png_pixels(3)
    data = bytearray(encode_png_rgb8(pix))
    # IHDR payload starts at 8 (sig) + 8 (len+type); color type is byte 9
    data[8 + 8 + 9] = 6  # RGBA
    # re-CRC the IHDR chunk so the failure is the color type, not the CRC
    import zlib as _zlib

    payload = bytes(data[8 + 8 : 8 + 8 + 13])
    struct.pack_into(">I", data, 8 + 8 + 13, _zlib.crc32(b"IHDR" + payload) & 0xFFFFFFFF)
    with pytest.raises(ValueError, match="RGB non-interlaced"):
        decode_png_rgb8(bytes(data))


def test_decode_media_dispatches_png():
    from classification_problem_with_pyspark_spark.operators.multimodal import (
        decode_media,
    )

    pix = _png_pixels(8)
    assert np.array_equal(decode_media(encode_png_rgb8(pix), "image/png"), pix)


def test_png_rejects_oversized_inflate():
    """A valid-CRC PNG whose IDAT inflates far past the IHDR-implied
    h*(3w+1) bytes must raise instead of ballooning memory — the
    decompress is bounded by the header, not trusted to the stream."""
    import zlib as _zlib

    w, h = 4, 2
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    big = _zlib.compress(b"\x00" * 10_000_000)  # ~10 KB compressed → 10 MB inflated

    def chunk(ctype: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + ctype
            + payload
            + struct.pack(">I", _zlib.crc32(ctype + payload) & 0xFFFFFFFF)
        )

    data = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", big)
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="exceeds IHDR-implied"):
        decode_png_rgb8(data)


# ---------------------------------------------------------------------------
# BMP BI_RLE8 (round 7): palette + full RLE escape grammar
# ---------------------------------------------------------------------------

from classification_problem_with_pyspark_spark.operators.multimodal_codec import (  # noqa: E402
    decode_bmp,
    decode_bmp_rle8,
    encode_bmp_rle8,
)


def _rand_palette(rng):
    return rng.integers(0, 256, size=(256, 3), dtype=np.uint8)


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(1, 17),
    w=st.integers(1, 17),
    seed=st.integers(0, 2**31 - 1),
    cardinality=st.integers(2, 8),
)
def test_bmp_rle8_roundtrip(h, w, seed, cardinality):
    # low index cardinality → long runs AND literal stretches, so both
    # encoded and absolute packets appear across the example set
    rng = np.random.default_rng(seed)
    idx = rng.integers(0, cardinality, size=(h, w), dtype=np.uint8)
    pal = _rand_palette(rng)
    out = decode_bmp_rle8(encode_bmp_rle8(idx, pal))
    assert out.shape == (h, w, 3)
    assert np.array_equal(out, pal[idx])


def test_bmp_rle8_absolute_mode_is_exercised():
    # an all-distinct row forces absolute packets (with the odd-length pad)
    idx = np.arange(15, dtype=np.uint8).reshape(1, 15)
    data = encode_bmp_rle8(idx, _rand_palette(np.random.default_rng(0)))
    stream = data[14 + 40 + 1024 :]
    assert stream[0] == 0 and stream[1] == 15  # absolute packet, count 15
    assert len(stream) == 2 + 15 + 1 + 2  # payload + pad byte + EOF


def test_bmp_rle8_delta_escape_decodes():
    # hand-crafted stream: pixel run, delta (dx=2, dy=1), run, EOF —
    # skipped cells stay index 0
    pal = np.zeros((256, 3), dtype=np.uint8)
    pal[5] = (10, 20, 30)
    pal[7] = (40, 50, 60)
    stream = bytes((2, 5, 0, 2, 2, 1, 3, 7, 0, 1))
    quads = np.zeros((256, 4), dtype=np.uint8)
    quads[:, :3] = pal[:, ::-1]
    data_off = 14 + 40 + 1024
    header = struct.pack("<2sIHHI", b"BM", data_off + len(stream), 0, 0, data_off)
    info = struct.pack("<IiiHHIIiiII", 40, 7, 2, 1, 8, 1, len(stream), 0, 0, 256, 0)
    out = decode_bmp_rle8(header + info + quads.tobytes() + stream)
    # bottom row: two 5s then skip; top row: three 7s starting at x=4
    assert np.array_equal(out[1, 0], pal[5]) and np.array_equal(out[1, 1], pal[5])
    assert np.array_equal(out[0, 4], pal[7]) and np.array_equal(out[0, 6], pal[7])
    assert np.array_equal(out[1, 2], pal[0])


@pytest.mark.parametrize(
    "mutate, err",
    [
        (lambda s: s[:-2], "without end-of-bitmap"),  # EOF stripped
        (lambda s: bytes((200, 1)) + s, "past row end"),  # run overflows row
    ],
)
def test_bmp_rle8_rejects_malformed(mutate, err):
    idx = np.zeros((2, 4), dtype=np.uint8)
    data = bytearray(encode_bmp_rle8(idx, _rand_palette(np.random.default_rng(1))))
    off = 14 + 40 + 1024
    data = bytes(data[:off]) + mutate(bytes(data[off:]))
    with pytest.raises(ValueError, match=err):
        decode_bmp_rle8(data)


def _rle8_file(h, w, stream):
    quads = np.zeros((256, 4), dtype=np.uint8)
    quads[0, 2] = 7  # palette[0] = RGB (7, 0, 0) so background is visible
    data_off = 14 + 40 + 1024
    header = struct.pack("<2sIHHI", b"BM", data_off + len(stream), 0, 0, data_off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 1, len(stream), 0, 0, 256, 0)
    return header + info + quads.tobytes() + stream


def test_bmp_rle8_rejects_hostile_dimensions():
    """A tiny file whose header claims huge h×w must be rejected BEFORE
    the (h, w) zeros allocation — via the ABSOLUTE 64 Mpx budget (r9,
    ADVICE r8: the earlier stream-relative bound rejected spec-valid
    sparse files)."""
    stream = bytes((0, 1))  # immediate end-of-bitmap: 2 bytes
    # claims 46000×46000 (~2 GB as uint8) from a ~1 KB file
    with pytest.raises(ValueError, match="exceed the pixel budget"):
        decode_bmp_rle8(_rle8_file(46000, 46000, stream))


def test_bmp_rle8_sparse_skip_heavy_file_decodes():
    """Spec-valid skip-heavy RLE8: EOL/EOF/delta escapes may skip
    arbitrarily large regions (implicitly palette index 0), so a
    1000×1000 image whose stream is a lone pixel run plus end-of-bitmap
    (h*w far above 128× the stream length) must DECODE, not be rejected
    (r9, ADVICE r8)."""
    # one 5-px run of palette index 3 at (0,0), delta to skip, then EOF
    stream = bytes((5, 3, 0, 2, 10, 10, 0, 1))
    out = decode_bmp_rle8(_rle8_file(1000, 1000, stream))
    assert out.shape == (1000, 1000, 3)
    assert np.array_equal(out[999, :5], np.zeros((5, 3), dtype=np.uint8))
    # everything else is background palette[0] = (7, 0, 0)
    assert np.array_equal(out[0, 0], np.array([7, 0, 0], dtype=np.uint8))
    assert int((out[..., 0] == 7).sum()) == 1000 * 1000 - 5


def test_decode_bmp_dispatches_on_compression():
    rng = np.random.default_rng(2)
    pix = rng.integers(0, 256, size=(3, 4, 3), dtype=np.uint8)
    assert np.array_equal(decode_bmp(encode_bmp24(pix)), pix)
    idx = rng.integers(0, 4, size=(3, 4), dtype=np.uint8)
    pal = _rand_palette(rng)
    assert np.array_equal(decode_bmp(encode_bmp_rle8(idx, pal)), pal[idx])
