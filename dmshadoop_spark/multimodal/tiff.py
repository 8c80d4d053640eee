"""Baseline TIFF decode — the document-scan image format (pure stdlib).

Decodes striped baseline TIFF 6.0: both byte orders, 8-bit grayscale and
RGB(A), compression 1 (none), 5 (TIFF-LZW — MSB-first codes with the
early-change rule, NOT the GIF variant), and 32773 (PackBits) →
HxWx3 uint8. Tiled, paletted, multi-bit-depth and JPEG-in-TIFF variants
raise NotImplementedError so callers fall back (the codec-family
contract). The IFD walk mirrors dms.extract's EXIF parser (same TIFF
structure, different tags).
"""

from __future__ import annotations

import struct

import numpy as np

_TAG_WIDTH = 256
_TAG_HEIGHT = 257
_TAG_BITS = 258
_TAG_COMPRESSION = 259
_TAG_PHOTOMETRIC = 262
_TAG_STRIP_OFFSETS = 273
_TAG_SPP = 277
_TAG_ROWS_PER_STRIP = 278
_TAG_STRIP_COUNTS = 279

# bytes per value of each TIFF field type; dms.extract's EXIF parser
# reads the same table
TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8}


def _read_ifd_values(data: bytes, e: str) -> dict[int, list[int]]:
    """First-IFD tag → list of integer values (SHORT/LONG/BYTE only)."""
    (ifd_off,) = struct.unpack(e + "I", data[4:8])
    if ifd_off + 2 > len(data):
        raise ValueError("TIFF: truncated IFD offset")
    (n,) = struct.unpack(e + "H", data[ifd_off : ifd_off + 2])
    out: dict[int, list[int]] = {}
    for i in range(n):
        base = ifd_off + 2 + 12 * i
        if base + 12 > len(data):
            raise ValueError("TIFF: truncated IFD entry")
        tag, typ, count = struct.unpack(e + "HHI", data[base : base + 8])
        if count > 1_000_000:  # corrupt count: would build a huge fmt string
            raise ValueError(f"implausible TIFF entry count {count}")
        size = TYPE_SIZES.get(typ, 1) * count
        if size <= 4:
            payload = data[base + 8 : base + 8 + size]
        else:
            (off,) = struct.unpack(e + "I", data[base + 8 : base + 12])
            payload = data[off : off + size]
        if typ == 3:
            out[tag] = list(
                struct.unpack(e + "H" * count, payload[: 2 * count])
            )
        elif typ == 4:
            out[tag] = list(
                struct.unpack(e + "I" * count, payload[: 4 * count])
            )
        elif typ == 1:
            out[tag] = list(payload[:count])
    return out


def _unpackbits(data: bytes, expected: int) -> bytes:
    """Apple PackBits RLE (TIFF compression 32773)."""
    out = bytearray()
    i = 0
    while i < len(data) and len(out) < expected:
        n = data[i]
        i += 1
        if n < 128:
            out += data[i : i + n + 1]
            i += n + 1
        elif n > 128:
            if i >= len(data):
                raise ValueError("PackBits: truncated run")
            out += bytes([data[i]]) * (257 - n)
            i += 1
        # n == 128: no-op
    if len(out) < expected:
        raise ValueError("PackBits: short output")
    return bytes(out[:expected])


def _tiff_lzw_decode(data: bytes, expected: int) -> bytes:
    """TIFF-variant LZW: 8-bit min code, MSB-first bit packing, and the
    EARLY-CHANGE rule (code width bumps one code sooner than GIF)."""
    CLEAR, EOI = 256, 257
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    out = bytearray()
    width = 9
    acc = bits = 0
    prev: bytes | None = None
    for byte in data:
        acc = (acc << 8) | byte
        bits += 8
        while bits >= width:
            code = (acc >> (bits - width)) & ((1 << width) - 1)
            bits -= width
            if code == CLEAR:
                table = table[:258]
                width = 9
                prev = None
                continue
            if code == EOI:
                if len(out) < expected:
                    raise ValueError("TIFF-LZW: short output")
                return bytes(out[:expected])
            if prev is None:
                if code >= len(table):
                    raise ValueError("TIFF-LZW: first code out of range")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("TIFF-LZW: code out of range")
            out += entry
            prev = entry
            if len(table) == (1 << width) - 1 and width < 12:  # early change
                width += 1
            if len(out) >= expected:
                return bytes(out[:expected])
    if len(out) < expected:
        raise ValueError("TIFF-LZW: truncated stream")
    return bytes(out[:expected])


from dmshadoop_spark.multimodal.binary import _valueerror_on_malformed


@_valueerror_on_malformed
def decode_tiff(content: bytes) -> "np.ndarray":
    """Decode a striped baseline TIFF to HxWx3 uint8 (grayscale
    replicates, alpha drops)."""
    data = bytes(content)
    if data[:4] == b"II*\x00":
        e = "<"
    elif data[:4] == b"MM\x00*":
        e = ">"
    else:
        raise ValueError("not a TIFF payload")
    try:
        tags = _read_ifd_values(data, e)
        width = tags[_TAG_WIDTH][0]
        height = tags[_TAG_HEIGHT][0]
        offsets = tags[_TAG_STRIP_OFFSETS]
        counts = tags[_TAG_STRIP_COUNTS]
    except (KeyError, IndexError, struct.error) as exc:
        raise ValueError(f"malformed TIFF: {exc!r}") from exc
    spp = tags.get(_TAG_SPP, [1])[0]
    bits = tags.get(_TAG_BITS, [8])
    compression = tags.get(_TAG_COMPRESSION, [1])[0]
    rows_per_strip = tags.get(_TAG_ROWS_PER_STRIP, [height])[0] or height
    if any(b != 8 for b in bits) or spp not in (1, 3, 4):
        raise NotImplementedError(f"TIFF bits={bits} spp={spp}")
    if compression not in (1, 5, 32773):
        raise NotImplementedError(f"TIFF compression={compression}")
    if not (0 < width and 0 < height and width * height <= 64_000_000):
        raise ValueError(f"implausible TIFF dimensions {width}x{height}")
    if len(offsets) != len(counts):
        raise ValueError("TIFF: strip offsets/counts mismatch")
    rows = []
    for si, (off, cnt) in enumerate(zip(offsets, counts)):
        strip_rows = min(rows_per_strip, height - si * rows_per_strip)
        if strip_rows <= 0:
            break
        expected = strip_rows * width * spp
        raw = data[off : off + cnt]
        if len(raw) < cnt:
            raise ValueError("TIFF: truncated strip")
        if compression == 1:
            if len(raw) < expected:
                raise ValueError("TIFF: short uncompressed strip")
            decoded = raw[:expected]
        elif compression == 5:
            decoded = _tiff_lzw_decode(raw, expected)
        else:
            decoded = _unpackbits(raw, expected)
        rows.append(
            np.frombuffer(decoded, dtype=np.uint8).reshape(
                strip_rows, width, spp
            )
        )
    img = np.concatenate(rows)
    if img.shape[0] != height:
        raise ValueError("TIFF: strip rows do not cover the image height")
    if spp == 1:
        return np.repeat(img, 3, axis=2)
    return np.ascontiguousarray(img[:, :, :3])


def encode_tiff(
    arr: "np.ndarray", compression: int = 1, rows_per_strip: int = 16
) -> bytes:
    """Spec-valid little-endian striped TIFF from HxWx3 uint8 —
    compression 1 (none) or 32773 (PackBits, naive literal runs)."""
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError("encode_tiff expects an HxWx3 uint8 array")
    h, w = arr.shape[:2]
    strips = []
    for lo in range(0, h, rows_per_strip):
        raw = arr[lo : lo + rows_per_strip].tobytes()
        if compression == 1:
            strips.append(raw)
        elif compression == 32773:
            out = bytearray()
            for j in range(0, len(raw), 128):
                chunk = raw[j : j + 128]
                out += bytes([len(chunk) - 1]) + chunk
            strips.append(bytes(out))
        else:
            raise ValueError(f"encode_tiff: unsupported compression {compression}")
    n = len(strips)
    # layout: header(8) + IFD + strip data
    entries = 9
    ifd_size = 2 + 12 * entries + 4
    arrays_off = 8 + ifd_size
    # value arrays appended after IFD: bits(3 SHORT), offsets(n LONG), counts(n LONG)
    bits_off = arrays_off
    offs_off = bits_off + 6
    cnts_off = offs_off + 4 * n
    data_off = cnts_off + 4 * n
    offsets = []
    pos = data_off
    for sdata in strips:
        offsets.append(pos)
        pos += len(sdata)

    def entry(tag, typ, count, value_bytes):
        return struct.pack("<HHI", tag, typ, count) + value_bytes.ljust(4, b"\x00")

    def short_inline(v):
        return struct.pack("<H", v)

    e = b"".join([
        entry(_TAG_WIDTH, 3, 1, short_inline(w)),
        entry(_TAG_HEIGHT, 3, 1, short_inline(h)),
        entry(_TAG_BITS, 3, 3, struct.pack("<I", bits_off)),
        entry(_TAG_COMPRESSION, 3, 1, short_inline(compression)),
        entry(_TAG_PHOTOMETRIC, 3, 1, short_inline(2)),  # RGB
        entry(_TAG_STRIP_OFFSETS, 4, n, struct.pack("<I", offs_off)),
        entry(_TAG_SPP, 3, 1, short_inline(3)),
        entry(_TAG_ROWS_PER_STRIP, 3, 1, short_inline(rows_per_strip)),
        entry(_TAG_STRIP_COUNTS, 4, n, struct.pack("<I", cnts_off)),
    ])
    ifd = struct.pack("<H", entries) + e + struct.pack("<I", 0)
    return (
        b"II*\x00" + struct.pack("<I", 8) + ifd
        + struct.pack("<HHH", 8, 8, 8)
        + b"".join(struct.pack("<I", o) for o in offsets)
        + b"".join(struct.pack("<I", len(sd)) for sd in strips)
        + b"".join(strips)
    )
