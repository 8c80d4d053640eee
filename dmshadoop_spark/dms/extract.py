"""Metadata extraction (SURVEY.md §2.11 UD1) — binary content → map.

Reference: ``extract`` (src/DMS.py:70-91) runs hachoir over a temp file and
parses its "- key: value" plaintext lines, keeping only split(':')[1] — which
truncates values containing ':' (bug B4: "Creation date: 2014-04-25
14:22:33" → " 2014-04-25 14"). This reimplementation:

  * splits on the FIRST colon only (B4 fixed);
  * sniffs container formats by magic bytes and pulls image dimensions with
    pure-stdlib parsing (hachoir is Python-2-dead; Pillow isn't in the
    container) — JPEG SOF scan and PNG IHDR;
  * walks the JPEG APP1/Exif TIFF IFDs for the camera/date fields the
    reference's hachoir emitted (Make, Model, DateTime[Original], ISO,
    exposure, focal length, pixel dims; src/DMS.py:70-91) — both byte
    orders, bounds-checked, never raising on malformed input;
  * always emits the ingest metadata the reference stored from WebHDFS
    FileStatus (length; src/DMS.py:122,146-155) plus a content hash.

Two surfaces: ``extract_metadata`` (plain Python, used by the DocumentStore
for uploads and inside its bulk-ingest write tasks) and
``with_extracted_meta`` (Arrow-batched pandas UDF for the LLM-data queries;
one Python round-trip per batch, not per row).
"""

from __future__ import annotations

import hashlib
import json
import struct

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

_MAGIC = (
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"\x89PNG\r\n\x1a\n", "image/png"),
    (b"GIF87a", "image/gif"),
    (b"GIF89a", "image/gif"),
    (b"II*\x00", "image/tiff"),
    (b"MM\x00*", "image/tiff"),
    (b"%PDF", "application/pdf"),
)


def _sniff(content: bytes) -> str:
    for magic, mime in _MAGIC:
        if content.startswith(magic):
            return mime
    if content[:4] == b"RIFF":  # container type lives at offset 8
        if content[8:12] == b"WAVE":
            return "audio/x-wav"
        if content[8:12] == b"AVI ":
            return "video/x-msvideo"
        if content[8:12] == b"WEBP":
            return "image/webp"
    if content[4:8] == b"ftyp":  # ISO BMFF: size then 'ftyp'
        return "video/mp4"
    if content[:4] == b"\x1a\x45\xdf\xa3":  # EBML (Matroska/WebM)
        return "video/x-matroska"
    if content[:4] == b"fLaC":
        return "audio/flac"
    if content[:4] == b"PK\x03\x04":
        return "application/zip"
    if content[:5] == b"WARC/":
        return "application/warc"
    if content[:2] == b"\x1f\x8b":
        # gzip: per-record-gzipped WARC (the Common Crawl layout) also
        # starts 1f 8b — peek at the first decompressed bytes to tell
        # them apart without inflating the whole stream
        import zlib

        try:
            head = zlib.decompressobj(31).decompress(bytes(content[:512]), 8)
        except zlib.error:
            head = b""
        if head[:5] == b"WARC/":
            return "application/warc"
        return "application/gzip"
    if content[:3] == b"ID3":
        # ID3v2-tagged stream: the tag prefixes BOTH MPEG audio and AAC
        # ADTS in crawled audio. Peek past the syncsafe tag size (the
        # same skip adts_frames/mp3_frames implement) and apply the
        # ADTS-vs-MPEG sync discrimination there; a tag whose audio
        # lies beyond the fetched bytes stays audio/mpeg (the common
        # case, and the pre-round-12 behavior).
        if len(content) >= 10:
            tag_end = 10 + (
                (content[6] & 0x7F) << 21 | (content[7] & 0x7F) << 14
                | (content[8] & 0x7F) << 7 | (content[9] & 0x7F)
            )
            if (
                len(content) >= tag_end + 2
                and content[tag_end] == 0xFF
                and (content[tag_end + 1] & 0xF6) == 0xF0
            ):
                from dmshadoop_spark.multimodal.containers import _adts_frame_at

                first = _adts_frame_at(content, tag_end)
                if first is not None:
                    frame_len = first[0]
                    end = tag_end + frame_len
                    if end <= len(content) and (
                        end == len(content)
                        or _adts_frame_at(content, end) is not None
                    ):
                        return "audio/aac"
        return "audio/mpeg"
    if len(content) >= 7 and content[0] == 0xFF and (content[1] & 0xF6) == 0xF0:
        # AAC ADTS: sync 0xFFF with layer bits 00 (disjoint from MPEG
        # audio, whose walk rejects layer 00 as reserved). Same
        # two-consecutive-frames discipline as the audio/mpeg branch.
        from dmshadoop_spark.multimodal.containers import _adts_frame_at

        first = _adts_frame_at(content, 0)
        if first is not None:
            frame_len = first[0]
            if frame_len <= len(content) and (
                frame_len == len(content)
                or _adts_frame_at(content, frame_len) is not None
            ):
                return "audio/aac"
    if len(content) >= 2 and content[0] == 0xFF and (content[1] & 0xE0) == 0xE0:
        # 2-byte sync alone over-matches (UTF-16-LE BOM is FF FE, and many
        # binary blobs start FF Ex); even a full 4-byte header can occur by
        # chance in text, so require a SECOND consecutive valid frame right
        # where the first one's length says it ends (or an exact
        # single-frame stream) before claiming audio/mpeg
        from dmshadoop_spark.multimodal.containers import _mp3_frame_at

        first = _mp3_frame_at(content, 0)
        if first is not None:
            frame_len = first[0]
            if frame_len <= len(content) and (
                frame_len == len(content)
                or _mp3_frame_at(content, frame_len) is not None
            ):
                return "audio/mpeg"
    try:
        content.decode("utf-8")
        return "text/plain"
    except (UnicodeDecodeError, AttributeError):
        return "application/octet-stream"


def _jpeg_dimensions(content: bytes) -> tuple[int, int] | None:
    """Walk JPEG segments to the first SOF marker (frame header)."""
    i = 2
    n = len(content)
    while i + 9 < n:
        if content[i] != 0xFF:
            return None
        marker = content[i + 1]
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            height, width = struct.unpack(">HH", content[i + 5 : i + 9])
            return width, height
        seg_len = struct.unpack(">H", content[i + 2 : i + 4])[0]
        i += 2 + seg_len
    return None


def _png_dimensions(content: bytes) -> tuple[int, int] | None:
    if len(content) >= 24 and content[12:16] == b"IHDR":
        width, height = struct.unpack(">II", content[16:24])
        return width, height
    return None


def _gif_dimensions(content: bytes) -> tuple[int, int] | None:
    """GIF logical screen descriptor: two little-endian u16 at offset 6."""
    if len(content) >= 10:
        width, height = struct.unpack("<HH", content[6:10])
        return width, height
    return None


# EXIF/TIFF IFD walk (pure stdlib) — parity with the reference's hachoir
# metadata on real images (src/DMS.py:70-91), which surfaced creation
# date / camera fields. Tag names follow the EXIF spec; values render as
# strings for the flat map contract.
_EXIF_TAGS = {
    0x010F: "exif_make",
    0x0110: "exif_model",
    0x0112: "exif_orientation",
    0x0131: "exif_software",
    0x0132: "exif_datetime",
    0x013B: "exif_artist",
    0x8827: "exif_iso",
    0x829A: "exif_exposure_time",
    0x829D: "exif_f_number",
    0x9003: "exif_datetime_original",
    0x9004: "exif_datetime_digitized",
    0x920A: "exif_focal_length",
    0xA002: "exif_pixel_x",
    0xA003: "exif_pixel_y",
}
_EXIF_IFD_POINTER = 0x8769
_TIFF_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8}


def _render_tiff_value(endian: str, typ: int, count: int, raw: bytes) -> str:
    if typ == 2:  # ASCII, NUL-terminated
        return raw.split(b"\x00")[0].decode("utf-8", "replace")
    if typ == 7:  # UNDEFINED
        return raw.hex()
    fmt = {1: "B", 3: "H", 4: "I", 6: "b", 8: "h", 9: "i"}.get(typ)
    if fmt is not None:
        vals = struct.unpack(endian + fmt * count, raw)
        return ",".join(str(v) for v in vals)
    # RATIONAL / SRATIONAL: (numerator, denominator) pairs
    fmt = "II" if typ == 5 else "ii"
    vals = struct.unpack(endian + fmt * count, raw)
    return ",".join(
        f"{vals[i]}/{vals[i + 1]}" for i in range(0, len(vals), 2)
    )


def _walk_ifd(data: bytes, endian: str, off: int, out: dict[str, str]) -> int | None:
    """Parse one IFD at `off`, recording known tags into `out`; returns the
    Exif-sub-IFD pointer if present. Bounds-checked throughout — malformed
    entries are skipped, never raised."""
    exif_ptr = None
    if off < 0 or off + 2 > len(data):
        return None
    (n_entries,) = struct.unpack_from(endian + "H", data, off)
    pos = off + 2
    for _ in range(n_entries):
        if pos + 12 > len(data):
            break
        tag, typ, count = struct.unpack_from(endian + "HHI", data, pos)
        unit = _TIFF_TYPE_SIZE.get(typ, 0)
        size = unit * count
        if 0 < size and count <= 65536:
            if size <= 4:
                voff = pos + 8
            else:
                (voff,) = struct.unpack_from(endian + "I", data, pos + 8)
            if voff + size <= len(data):
                raw = data[voff : voff + size]
                if tag == _EXIF_IFD_POINTER and typ == 4:
                    (exif_ptr,) = struct.unpack(endian + "I", raw)
                elif tag in _EXIF_TAGS:
                    try:
                        out[_EXIF_TAGS[tag]] = _render_tiff_value(
                            endian, typ, count, raw
                        )
                    except struct.error:
                        pass
        pos += 12
    return exif_ptr


def _parse_tiff_exif(data: bytes) -> dict[str, str]:
    """TIFF container walk: header → IFD0 → Exif sub-IFD (both endians)."""
    out: dict[str, str] = {}
    if len(data) < 8:
        return out
    endian = {b"II": "<", b"MM": ">"}.get(data[:2])
    if endian is None or struct.unpack(endian + "H", data[2:4])[0] != 42:
        return out
    (ifd0_off,) = struct.unpack(endian + "I", data[4:8])
    exif_ptr = _walk_ifd(data, endian, ifd0_off, out)
    if exif_ptr is not None:
        _walk_ifd(data, endian, exif_ptr, out)
    return out


def _jpeg_exif(content: bytes) -> dict[str, str]:
    """Find the APP1/Exif segment in a JPEG and parse its TIFF block."""
    i, n = 2, len(content)
    while i + 4 <= n and content[i] == 0xFF:
        marker = content[i + 1]
        if marker in (0xD8, 0xD9, 0xDA):  # SOI/EOI/scan start: no APP1 left
            break
        seg_len = struct.unpack(">H", content[i + 2 : i + 4])[0]
        if seg_len < 2:
            break
        if marker == 0xE1 and content[i + 4 : i + 10] == b"Exif\x00\x00":
            return _parse_tiff_exif(content[i + 10 : i + 2 + seg_len])
        i += 2 + seg_len
    return {}


def extract_metadata(content: bytes) -> dict[str, str]:
    """Binary content → flat string→string metadata map (UD1 contract)."""
    meta: dict[str, str] = {
        "length": str(len(content)),
        "sha256": hashlib.sha256(content).hexdigest(),
    }
    ctype = _sniff(content)
    meta["content_type"] = ctype
    dims = None
    if ctype == "image/jpeg":
        dims = _jpeg_dimensions(content)
        meta.update(_jpeg_exif(content))
    elif ctype == "image/png":
        dims = _png_dimensions(content)
    elif ctype == "image/gif":
        dims = _gif_dimensions(content)
    elif ctype == "image/webp":
        from dmshadoop_spark.multimodal.webp import (
            webp_anim_frames,
            webp_dimensions,
        )

        dims = webp_dimensions(content)
        try:
            anim = webp_anim_frames(bytes(content))
        except (ValueError, NotImplementedError):
            anim = []
        if anim:
            meta["frame_count"] = str(len(anim))
            meta["duration_ms"] = str(sum(f["duration_ms"] for f in anim))
    elif ctype == "image/tiff":
        try:
            from dmshadoop_spark.multimodal.tiff import _read_ifd_values

            e = "<" if content[:2] == b"II" else ">"
            tags = _read_ifd_values(bytes(content), e)
            if 256 in tags and 257 in tags:
                dims = (tags[256][0], tags[257][0])
        except (ValueError, struct.error):
            pass
    if dims:
        meta["width"], meta["height"] = str(dims[0]), str(dims[1])
    if ctype == "audio/x-wav":
        try:
            from dmshadoop_spark.multimodal.binary import parse_wav

            w = parse_wav(content)
            n = len(w["samples"]) // w["channels"]
            meta["sample_rate"] = str(w["sample_rate"])
            meta["channels"] = str(w["channels"])
            meta["duration_ms"] = str(n * 1000 // w["sample_rate"])
        except (ValueError, NotImplementedError, struct.error):
            pass
    elif ctype == "video/x-msvideo":
        try:
            from dmshadoop_spark.multimodal.binary import parse_avi

            uspf, frames = parse_avi(content)
            meta["frame_count"] = str(len(frames))
            if uspf:
                meta["duration_ms"] = str(len(frames) * uspf // 1000)
        except (ValueError, struct.error):
            pass
    elif ctype == "audio/mpeg":
        try:
            from dmshadoop_spark.multimodal.containers import (
                parse_id3v2,
                parse_mp3,
            )

            meta.update(parse_id3v2(content))
            m = parse_mp3(content)
            meta["frame_count"] = str(m["n_frames"])
            meta["sample_rate"] = str(m["sample_rate"])
            meta["bitrate"] = str(m["bitrate"])
            meta["duration_ms"] = str(int(m["duration"] * 1000))
        except (ValueError, struct.error):
            pass
    elif ctype == "audio/aac":
        try:
            from dmshadoop_spark.multimodal.containers import (
                parse_adts,
                parse_id3v2,
            )

            meta.update(parse_id3v2(content))
            m = parse_adts(content)
            meta["frame_count"] = str(m["n_frames"])
            meta["sample_rate"] = str(m["sample_rate"])
            meta["channels"] = str(m["channels"])
            meta["profile"] = m["profile"]
            meta["duration_ms"] = str(int(m["duration"] * 1000))
        except (ValueError, struct.error):
            pass
    elif ctype == "video/mp4":
        try:
            from dmshadoop_spark.multimodal.containers import parse_mp4

            m = parse_mp4(content)
            meta["duration_ms"] = str(int(m["duration"] * 1000))
            vid = next(
                (t for t in m["tracks"] if t["handler"] == "vide"), None
            )
            if vid:
                meta["width"] = str(vid["width"])
                meta["height"] = str(vid["height"])
                meta["frame_count"] = str(len(vid["samples"]))
        except (ValueError, struct.error):
            pass
    elif ctype == "audio/flac":
        try:
            from dmshadoop_spark.multimodal.containers import (
                parse_flac_streaminfo,
            )

            meta.update(parse_flac_streaminfo(content))
        except (ValueError, struct.error):
            pass
    elif ctype == "application/zip":
        try:
            import io
            import zipfile

            with zipfile.ZipFile(io.BytesIO(bytes(content))) as zf:
                names = zf.namelist()
                meta["member_count"] = str(len(names))
                if names:
                    meta["first_member_name"] = names[0]
                    meta["first_member_type"] = _sniff(zf.read(names[0]))
        except (zipfile.BadZipFile, ValueError, struct.error, OSError,
                KeyError):
            pass
    elif ctype == "application/warc":
        try:
            from dmshadoop_spark.multimodal.warc import parse_warc

            records = parse_warc(bytes(content))
            meta["member_count"] = str(len(records))
            if records:
                meta["first_member_type"] = _sniff(records[0]["payload"])
        except (ValueError, struct.error):
            pass
    elif ctype == "application/pdf":
        try:
            from dmshadoop_spark.multimodal.pdf import parse_pdf

            meta.update(parse_pdf(content))
        except (ValueError, struct.error):
            pass
    elif ctype == "video/x-matroska":
        try:
            from dmshadoop_spark.multimodal.ebml import parse_mkv

            m = parse_mkv(content)
            if m["doc_type"]:
                meta["doc_type"] = m["doc_type"]
            if m["duration"] is not None:
                meta["duration_ms"] = str(int(m["duration"] * 1000))
            vid = next(
                (t for t in m["tracks"] if t.get("type") == "video"), None
            )
            if vid and "width" in vid and "height" in vid:
                meta["width"] = str(vid["width"])
                meta["height"] = str(vid["height"])
            aud = next(
                (t for t in m["tracks"] if t.get("type") == "audio"), None
            )
            if aud and "sample_rate" in aud:
                meta["sample_rate"] = str(int(aud["sample_rate"]))
        except (ValueError, struct.error):
            pass
    if ctype == "text/plain":
        text = content.decode("utf-8")
        meta["line_count"] = str(text.count("\n") + 1 if text else 0)
        meta["word_count"] = str(len(text.split()))
        # The reference's "- key: value" convention (src/DMS.py:80-86),
        # split on the FIRST colon only (bug B4 fixed).
        for line in text.splitlines():
            line = line.strip()
            if line.startswith("- ") and ":" in line:
                key, _, value = line[2:].partition(":")
                meta[key.strip()] = value.strip()
    return meta


def _extract_json_fn(content: pd.Series) -> pd.Series:
    """Arrow-batched extraction; emits JSON (decoded to a MAP column by the
    caller) so the UDF return type stays a simple Arrow string."""
    return content.map(
        lambda c: json.dumps(extract_metadata(bytes(c)), sort_keys=True)
        if c is not None
        else None
    )


_extract_json = None


def with_extracted_meta(content_col: Column | str) -> Column:
    """meta MAP<STRING,STRING> column from a BINARY content column."""
    # pandas_udf resolves its return type against the active session, so the
    # wrapper is built lazily on first use rather than at import.
    global _extract_json
    if _extract_json is None:
        _extract_json = pandas_udf(_extract_json_fn, "string")
    c = F.col(content_col) if isinstance(content_col, str) else content_col
    return F.from_json(_extract_json(c), "map<string,string>")
