"""Round-12 operators: PNG decode.

The entry gets a brute-force pure-Python recompute (independent of both
Spark and DuckDB) so the two engines' agreement can never be a shared-bug
artifact, plus the degenerate-input pins the round workflow requires.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE


# --------------------------- PNG decode (round 12) -------------------------


def _png_cases():
    return [(0, 5, 5), (37, 16, 13), (255, 6, 9), (101, 12, 5), (7, 16, 16)]


def test_png_roundtrip_matches_pixel_formula():
    """encode_png -> decode_png must reproduce the exact pixel sums, the
    top-left corner, and the filter signature computed independently from
    the pixel formula — across sizes that exercise every filter type and
    both odd and 4-aligned strides."""
    from tmapreduce_spark.functions.multimodal import (
        _pix_fn,
        decode_image,
        decode_pixels,
        decode_png,
        encode_png,
    )

    for seed, w, h in _png_cases():
        pix = _pix_fn(seed)
        img = encode_png(w, h, pix)
        got = decode_png(img)
        want_sum = sum(sum(pix(x, y)) for y in range(h) for x in range(w))
        r, g, b = pix(0, 0)
        want = (
            w, h, 3, want_sum, r + 256 * g + 65536 * b,
            sum(((3 * y) % 5) * (y + 1) for y in range(h)),
        )
        assert got == want, (seed, w, h)
        # full pixel-array decode agrees pixel-for-pixel, top-down
        pw, ph, px = decode_pixels(img)
        assert (pw, ph) == (w, h)
        assert px == [pix(x, y) for y in range(h) for x in range(w)]
        # the magic-dispatch path returns the 5-tuple contract
        assert decode_image(img) == want[:5]


def test_png_every_filter_type_is_load_bearing():
    """Force each single filter type across a whole image and check the
    decode — a broken Sub/Up/Average/Paeth unfilter fails its own case
    instead of hiding behind the mixed default schedule."""
    from tmapreduce_spark.functions.multimodal import (
        _pix_fn,
        decode_png,
        encode_png,
    )

    pix = _pix_fn(42)
    want_sum = sum(sum(pix(x, y)) for y in range(9) for x in range(7))
    for f in range(5):
        img = encode_png(7, 9, pix, filter_of_row=lambda y, f=f: f)
        w, h, _ch, psum, _corner, fsig = decode_png(img)
        assert (w, h, psum) == (7, 9, want_sum), f
        assert fsig == f * sum(y + 1 for y in range(9)), f


def test_png_decoder_rejects_corruption_and_unsupported():
    """CRC corruption and truncation raise ValueError; unsupported color
    types / bit depths / interlacing raise NotImplementedError (the honest
    gate — never a silent wrong decode)."""
    import struct
    import zlib

    from tmapreduce_spark.functions.multimodal import (
        _pix_fn,
        decode_png,
        encode_png,
    )

    img = bytearray(encode_png(8, 8, _pix_fn(3)))
    img[41] ^= 0xFF  # flip a byte inside a chunk body
    with pytest.raises(ValueError):
        decode_png(bytes(img))
    good = encode_png(8, 8, _pix_fn(3))
    with pytest.raises(ValueError):
        decode_png(good[: len(good) // 2])

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    sig = b"\x89PNG\r\n\x1a\n"
    for ihdr in (
        struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0),  # grayscale
        struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0),  # 16-bit
        struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1),  # interlaced
    ):
        with pytest.raises(NotImplementedError):
            decode_png(sig + chunk(b"IHDR", ihdr))
    with pytest.raises(ValueError):
        decode_png(b"\x89PNG\r\n\x1a" + b"X")  # bad signature


def test_png_multi_chunk_idat_is_exercised():
    """The encoder splits IDAT in two; a decoder that inflates only the
    first chunk must fail. Verify the fixture actually HAS two IDAT chunks
    (so the test is load-bearing) and that decode consumes both."""
    import struct

    from tmapreduce_spark.functions.multimodal import (
        _pix_fn,
        decode_png,
        encode_png,
    )

    img = encode_png(10, 10, _pix_fn(9))
    tags = []
    pos = 8
    while pos + 8 <= len(img):
        (ln,) = struct.unpack_from(">I", img, pos)
        tags.append(img[pos + 4 : pos + 8])
        pos += 12 + ln
    assert tags.count(b"IDAT") == 2, tags
    assert decode_png(img)[0:2] == (10, 10)


def test_multimodal_png_decode_oracle_parity(spark, duck):
    """The catalog entry, Spark vs DuckDB, bit-exact at the smoke SF."""
    from tmapreduce_spark.functions.multimodal import (
        MULTIMODAL_PNG_DECODE_SQL,
        multimodal_png_decode,
    )

    sp = sorted(tuple(r) for r in multimodal_png_decode(spark, SF_SMOKE).collect())
    duck.execute(
        "CREATE OR REPLACE VIEW documents AS "
        f"SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    orc = sorted(tuple(r) for r in duck.execute(MULTIMODAL_PNG_DECODE_SQL).fetchall())
    assert sp == orc


def test_png_codec_property_random_images():
    """Hypothesis: ANY pixel content, ANY size, ANY per-row filter schedule
    round-trips bit-exactly through encode_png -> decode_png / decode_pixels
    — the unfilter algebra is inverse for arbitrary bytes, not just the
    deterministic fixture gradients."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from tmapreduce_spark.functions.multimodal import (
        decode_pixels,
        decode_png,
        encode_png,
    )

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(1, 12),
        h=st.integers(1, 12),
        seed=st.integers(0, 2**31 - 1),
        schedule=st.lists(st.integers(0, 4), min_size=12, max_size=12),
    )
    def prop(w, h, seed, schedule):
        import random

        rng = random.Random(seed)
        grid = {
            (x, y): (rng.randrange(256), rng.randrange(256), rng.randrange(256))
            for y in range(h)
            for x in range(w)
        }
        img = encode_png(w, h, lambda x, y: grid[(x, y)],
                         filter_of_row=lambda y: schedule[y])
        dw, dh, ch, psum, corner, fsig = decode_png(img)
        assert (dw, dh, ch) == (w, h, 3)
        assert psum == sum(sum(v) for v in grid.values())
        r, g, b = grid[(0, 0)]
        assert corner == r + 256 * g + 65536 * b
        assert fsig == sum(schedule[y] * (y + 1) for y in range(h))
        pw, ph, px = decode_pixels(img)
        assert px == [grid[(x, y)] for y in range(h) for x in range(w)]

    prop()
