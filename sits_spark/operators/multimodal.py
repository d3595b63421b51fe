"""PNG codec for image payloads, pure numpy + stdlib zlib.

``decode_png`` reads the non-interlaced 8/16-bit core of the format
(gray, RGB, palette, gray+alpha, RGBA; all five scanline filters).
``encode_png`` writes it with one forward filter per image; its filters
are computed independently of the decoder's unfiltering, so a round trip
pins the decoder's arithmetic. Adam7 interlace and sub-byte depths raise
NotImplementedError.
"""

from __future__ import annotations

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type -> samples per pixel (3 = palette: 1 index -> 3 RGB samples)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def decode_png(payload: bytes) -> np.ndarray:
    """PNG -> (h, w, c) uint8/uint16 array, pure numpy + stdlib zlib.

    Full support for the non-interlaced 8/16-bit core of the format:
    color types 0 (gray), 2 (RGB), 3 (palette+PLTE), 4 (gray+alpha),
    6 (RGBA); filters 0-4 (None/Sub/Up/Average/Paeth) unfiltered per
    spec (byte-wise, bpp-lane vectorized — Sub is a mod-256 cumsum, Up
    a row add; Average/Paeth walk columns with all lanes vectorized).
    Adam7 interlace and packed sub-byte depths raise NotImplementedError
    (the remaining documented seam)."""
    import struct
    import zlib

    if payload[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = len(_PNG_SIG)
    ihdr = None
    plte = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + length  # len + type + data + crc
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, color, comp, filt, interlace = ihdr
    if interlace:
        raise NotImplementedError("Adam7-interlaced PNG not supported")
    if depth not in (8, 16) or color not in _PNG_CHANNELS:
        raise NotImplementedError(f"PNG depth={depth} color={color} not supported")
    if color == 3 and (plte is None or depth != 8):
        raise NotImplementedError("palette PNG requires 8-bit PLTE")
    ch = _PNG_CHANNELS[color]
    bpp = ch * (depth // 8)  # filter unit per spec: whole bytes
    stride = w * bpp
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG scanline payload length mismatch")
    raw = raw.reshape(h, stride + 1)
    ftypes = raw[:, 0]
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        f = int(ftypes[y])
        line = raw[y, 1:].astype(np.int32)
        if f == 0:
            rec = line
        elif f == 1:  # Sub: cumsum over pixels, vectorized across lanes
            lanes = line.reshape(w, bpp)
            rec = np.cumsum(lanes, axis=0, dtype=np.int64).reshape(stride)
        elif f == 2:  # Up
            rec = line + prev
        elif f == 3:  # Average: left is reconstructed -> column walk
            rec = np.empty(stride, dtype=np.int32)
            lanes = line.reshape(w, bpp)
            pl = prev.astype(np.int32).reshape(w, bpp)
            left = np.zeros(bpp, dtype=np.int32)
            r2 = rec.reshape(w, bpp)
            for x in range(w):
                left = (lanes[x] + ((left + pl[x]) >> 1)) & 0xFF
                r2[x] = left
        elif f == 4:  # Paeth
            rec = np.empty(stride, dtype=np.int32)
            lanes = line.reshape(w, bpp)
            pl = prev.astype(np.int32).reshape(w, bpp)
            left = np.zeros(bpp, dtype=np.int32)
            ul = np.zeros(bpp, dtype=np.int32)
            r2 = rec.reshape(w, bpp)
            for x in range(w):
                p = left + pl[x] - ul
                pa, pb, pc = np.abs(p - left), np.abs(p - pl[x]), np.abs(p - ul)
                pred = np.where(
                    (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, pl[x], ul)
                )
                left = (lanes[x] + pred) & 0xFF
                r2[x] = left
                ul = pl[x]
            rec = r2.reshape(stride)
        else:
            raise ValueError(f"PNG filter type {f} invalid")
        prev = (rec & 0xFF).astype(np.uint8)
        out[y] = prev
    if depth == 16:
        img = out.reshape(h, stride).view(">u2").astype(np.uint16).reshape(h, w, ch)
    else:
        img = out.reshape(h, w, ch)
    if color == 3:
        img = plte[img[:, :, 0]]
    return img


def encode_png(img: np.ndarray, filter_type: int = 0) -> bytes:
    """(h, w, c) uint8/uint16 -> PNG bytes (stdlib zlib; one filter type
    for the whole image — the independent FORWARD filter that pins the
    decoder's unfiltering in tests; also the writer half of an
    image-normalization pipeline)."""
    import struct
    import zlib

    img = np.asarray(img)
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, ch = img.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    depth = 16 if img.dtype == np.uint16 else 8
    data = (
        img.astype(">u2").tobytes() if depth == 16 else img.astype(np.uint8).tobytes()
    )
    bpp = ch * (depth // 8)
    stride = w * bpp
    rows = np.frombuffer(data, dtype=np.uint8).reshape(h, stride).astype(np.int32)
    lines = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        cur = rows[y]
        left = np.concatenate([np.zeros(bpp, dtype=np.int32), cur[:-bpp]])
        up_left = np.concatenate([np.zeros(bpp, dtype=np.int32), prev[:-bpp]])
        if filter_type == 0:
            enc = cur
        elif filter_type == 1:
            enc = cur - left
        elif filter_type == 2:
            enc = cur - prev
        elif filter_type == 3:
            enc = cur - ((left + prev) >> 1)
        elif filter_type == 4:
            p = left + prev - up_left
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - up_left)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, up_left)
            )
            enc = cur - pred
        else:
            raise ValueError("filter_type must be 0..4")
        lines.append(filter_type)
        lines += (enc & 0xFF).astype(np.uint8).tobytes()
        prev = cur

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(lines)))
        + chunk(b"IEND", b"")
    )

