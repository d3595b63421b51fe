"""PNG codec round trips, palette decode and rejected inputs
(sits_spark.operators.multimodal)."""

import numpy as np
import pytest

from sits_spark.operators import multimodal


def _rand_img(h, w, ch, dtype, seed):
    rng = np.random.default_rng(seed)
    hi = 65536 if dtype == np.uint16 else 256
    shape = (h, w) if ch == 0 else (h, w, ch)
    return rng.integers(0, hi, shape, dtype=dtype)


@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
@pytest.mark.parametrize("ch", [1, 2, 3, 4])
def test_png_roundtrip_filters_and_colors(filter_type, ch):
    """Every scanline filter x every color type round-trips exactly:
    the encoder applies the FORWARD filter independently, so agreement
    pins the decoder's unfiltering arithmetic."""
    img = _rand_img(11, 7, ch, np.uint8, seed=filter_type * 10 + ch)
    got = multimodal.decode_png(multimodal.encode_png(img, filter_type))
    np.testing.assert_array_equal(got, img)


@pytest.mark.parametrize("filter_type", [0, 1, 4])
def test_png_roundtrip_16bit(filter_type):
    img = _rand_img(6, 5, 3, np.uint16, seed=42 + filter_type)
    got = multimodal.decode_png(multimodal.encode_png(img, filter_type))
    assert got.dtype == np.uint16
    np.testing.assert_array_equal(got, img)


def test_png_grayscale_2d_input():
    img2d = _rand_img(8, 9, 0, np.uint8, seed=5)
    got = multimodal.decode_png(multimodal.encode_png(img2d))
    np.testing.assert_array_equal(got[:, :, 0], img2d)


def test_png_palette_decode():
    """Hand-built palette PNG (color type 3 + PLTE) resolves indices."""
    import struct
    import zlib

    plte = bytes(range(30))  # 10 palette entries
    idx = np.array([[0, 1, 2], [9, 8, 7]], dtype=np.uint8)
    lines = b"".join(b"\x00" + row.tobytes() for row in idx)

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body))
        )

    payload = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", plte)
        + chunk(b"IDAT", zlib.compress(lines))
        + chunk(b"IEND", b"")
    )
    got = multimodal.decode_png(payload)
    assert got.shape == (2, 3, 3)
    np.testing.assert_array_equal(got[0, 1], [3, 4, 5])  # palette entry 1
    np.testing.assert_array_equal(got[1, 0], [27, 28, 29])  # entry 9


def test_png_rejects_and_seams():
    with pytest.raises(ValueError, match="not a PNG"):
        multimodal.decode_png(b"nope")
    # interlaced -> documented seam
    import struct
    import zlib

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body))
        )

    interlaced = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 1))
        + chunk(b"IDAT", zlib.compress(b"\x00\x00"))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError, match="Adam7"):
        multimodal.decode_png(interlaced)

