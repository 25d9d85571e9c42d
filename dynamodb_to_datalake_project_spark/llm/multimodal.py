"""Multimodal columns: opaque `binary` payloads + typed metadata, with
feature extraction in per-document Arrow row kernels (`rowmap.map_rows`).

The Spark-side plumbing is real and tested: binary column construction,
metadata structs, one `mapInArrow` stage per codec whose row function
sees exact Python values (a null is `None`, a long stays exact) and
yields tuples typed by an explicit output schema, and
partition-parallel execution. Four codecs are REAL with
zero third-party deps — RIFF/WAVE 16-bit PCM (`encode_wav`/
`decode_wav`), 24-bit BI_RGB BMP (`encode_bmp`/`decode_bmp`, plus a
genuine nearest-neighbor `resize_image`), 8-bit truecolor PNG
(`encode_png`/`decode_png`: chunk framing + CRC32, zlib deflate, all
five scanline filters incl. sequential Paeth defiltering), and GIF
(`encode_gif`/`decode_gif`: hand-rolled variable-width LZW with the
early-change convention, palette handling, interlace, extension
skip), baseline sequential JPEG (`encode_jpeg`/`decode_jpeg`:
T.81 Huffman entropy coding, zigzag/dequantize, orthonormal 8x8
IDCT, chroma upsampling, JFIF color conversion), and lossless WebP
(`llm/webp.py`: full VP8L bitstream — canonical prefix codes, color
cache, LZ77 with the 2D distance map, meta prefix codes, and all
four inverse transforms) — the WAV/BMP/JPEG/WebP paths are exercised
end-to-end by catalog queries whose DuckDB oracles recompute every
sample/pixel from first principles; the PNG/GIF paths by golden-byte
tests (spec-built PNG bytes; canonical wild-encoder 1x1 GIF) plus
round-trips through every filter/width-growth/dictionary-overflow
path (JPEG round-trips are PSNR-bounded — the format is lossy).
Audio has two real codecs: RIFF/WAVE PCM and FLAC (`llm/flac.py`:
Rice residuals, fixed + LPC predictors, all stereo decorrelations,
CRC-8/16 + MD5 verification — exercised end-to-end by
`multimodal_flac_stats` with a full hash-match oracle). Video has a
real AVI/MJPEG leg (`encode_avi_mjpeg`/`decode_avi_frames`: RIFF
demux + per-frame T.81 decode, sampling decodes only sampled frames
— `multimodal_video_frames` oracle) and a real MP4/ISO-BMFF DEMUX
leg (`encode_mp4_container`/`parse_mp4_boxes`: 14496-12 box walk,
stsc×stco×stsz sample-table resolution — `multimodal_mp4_stats`
oracle; frame decode of H.264/VP9/AAC payloads stays stubbed).
Audio containers get the same demux-only treatment: a real MPEG-1
Layer III frame-sync walk (`encode_mp3_stream`/`parse_mp3_frames`,
ISO 11172-3 frame-length arithmetic, ID3v2/ID3v1 tag handling —
`multimodal_mp3_stats` oracle) and a real Ogg page walk
(`encode_ogg_stream`/`parse_ogg_pages`, RFC 3533 lacing reassembly
with every page CRC recomputed — `multimodal_ogg_stats` oracle).
Formats that genuinely require third-party codec BODIES (lossy-WebP
VP8 / mp3 granule / Vorbis / H.264 — patented/complex transforms
with no stdlib support) stay
clearly-marked stubs (NotImplementedError); the generic
feature-extraction step uses a deterministic fake feature
(`(n_bytes * 7 + first_byte) % 997`) whose value a SQL oracle can
also compute — proving the Arrow round-trip bit-for-bit.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dynamodb_to_datalake_project_spark.catalog import query
from dynamodb_to_datalake_project_spark.lake import load_table
from dynamodb_to_datalake_project_spark.llm.bitio import (
    MsbReader,
    MsbWriter,
    crc16,
    crc32_msb,
)
from dynamodb_to_datalake_project_spark.rowmap import map_rows

#: canonical multimodal record shape: opaque payload + typed metadata
MULTIMODAL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("n_bytes", T.LongType()),
                    T.StructField("checksum", T.StringType()),
                    T.StructField("mime", T.StringType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("checksum", T.StringType()),
        T.StructField("fake_feature", T.LongType()),
    ]
)


def encode_bmp_array(px: "object", width: int, height: int) -> bytes:
    """REAL codec (stdlib `struct` + numpy packing): encode an
    (h, w, 3) uint8 RGB array as a 24-bit uncompressed BI_RGB Windows
    BMP. The container stores rows BOTTOM-UP, channels as BGR, and
    pads each row to a 4-byte boundary — all three transformations are
    performed here (as vectorized slices: `[::-1, :, ::-1]` + padded
    row buffer) and reversed in decode, so a round-trip exercises
    genuine container logic, not a memcpy. Per-pixel work is numpy,
    so the payload path scales with rows/sec, not Python-loop speed."""
    import struct

    import numpy as np

    arr = np.asarray(px, dtype=np.uint8).reshape(height, width, 3)
    row_size = (width * 3 + 3) // 4 * 4
    image_size = row_size * height
    off = 54
    header = struct.pack("<2sIHHI", b"BM", off + image_size, 0, 0, off)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, image_size, 2835, 2835, 0, 0
    )
    rows = np.zeros((height, row_size), dtype=np.uint8)
    rows[:, : width * 3] = arr[::-1, :, ::-1].reshape(height, width * 3)
    return header + info + rows.tobytes()


def encode_bmp(
    pixels: "list[tuple[int, int, int]]", width: int, height: int
) -> bytes:
    """Row-major top-down RGB pixel-tuple API over `encode_bmp_array`."""
    return encode_bmp_array(pixels, width, height)


def decode_bmp_array(payload: bytes) -> dict:
    """REAL codec (stdlib `struct` + numpy unpacking): parse a 24-bit
    BI_RGB BMP payload — file header, info header, bottom-up padded
    BGR rows — back to a row-major top-down (h, w, 3) uint8 RGB array
    plus typed dimensions. Handles both bottom-up (height > 0) and
    top-down (height < 0) row orders per the BITMAPINFOHEADER
    contract."""
    import struct

    import numpy as np

    magic, _file_size, _, _, off = struct.unpack_from("<2sIHHI", payload, 0)
    if magic != b"BM":
        raise ValueError("not a BMP payload")
    _hdr, width, height, _planes, bpp, comp, *_ = struct.unpack_from(
        "<IiiHHI", payload, 14
    )
    if bpp != 24 or comp != 0:
        raise NotImplementedError("only 24-bit BI_RGB decode implemented")
    row_size = (width * 3 + 3) // 4 * 4
    bottom_up = height > 0
    h = abs(height)
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=row_size * h, offset=off
    ).reshape(h, row_size)
    px = rows[:, : width * 3].reshape(h, width, 3)[:, :, ::-1]  # BGR -> RGB
    if bottom_up:
        px = px[::-1]
    return {"width": width, "height": h, "px": px}


def decode_bmp(payload: bytes) -> dict:
    """Pixel-tuple API over `decode_bmp_array` (the array form is the
    hot path inside Arrow batches; this one feeds tests and ad-hoc
    use)."""
    d = decode_bmp_array(payload)
    pixels = [tuple(int(c) for c in p) for row in d["px"] for p in row]
    return {"width": d["width"], "height": d["height"], "pixels": pixels}


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def encode_png(
    px: "object", width: int, height: int, filter_type: int = 0
) -> bytes:
    """REAL codec (stdlib `zlib` + `struct`): encode an (h, w, 3)
    uint8 RGB array as an 8-bit truecolor non-interlaced PNG.
    Implements the full chunk framing (length/type/data/CRC32) and all
    five scanline filters of the spec (0 None, 1 Sub, 2 Up,
    3 Average, 4 Paeth) — `filter_type` selects which one every row
    uses, so tests can exercise each defilter path in `decode_png`
    against genuinely filtered + deflate-compressed bytes. Filter
    arithmetic is vectorized per row (the sequential left-neighbor
    dependency only exists on DECODE)."""
    import struct
    import zlib

    import numpy as np

    arr = np.asarray(px, dtype=np.uint8).reshape(height, width, 3)
    rows = arr.reshape(height, width * 3).astype(np.int64)
    zeros3 = np.zeros(3, dtype=np.int64)
    raw = bytearray()
    prev = np.zeros(width * 3, dtype=np.int64)
    for y in range(height):
        row = rows[y]
        left = np.concatenate([zeros3, row[:-3]]) if width else row
        if filter_type == 0:
            filt = row
        elif filter_type == 1:  # Sub
            filt = (row - left) % 256
        elif filter_type == 2:  # Up
            filt = (row - prev) % 256
        elif filter_type == 3:  # Average
            filt = (row - (left + prev) // 2) % 256
        elif filter_type == 4:  # Paeth
            ul = np.concatenate([zeros3, prev[:-3]])
            p = left + prev - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul)
            )
            filt = (row - pred) % 256
        else:
            raise ValueError(f"unknown PNG filter {filter_type}")
        raw.append(filter_type)
        raw += filt.astype(np.uint8).tobytes()
        prev = row
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def _gif_gct_end(payload: bytes) -> int:
    """Offset just past the Logical Screen Descriptor + Global Color
    Table — where extension blocks may begin (GIF89a spec layout)."""
    import struct as _struct

    if payload[:6] not in (b"GIF89a", b"GIF87a"):
        raise ValueError("gif: bad signature")
    if len(payload) < 13:
        raise ValueError("gif: truncated logical screen descriptor")
    packed = payload[10]
    at = 13
    if packed & 0x80:
        at += 3 * (2 << (packed & 0x07))
    return at


def gif_insert_extensions(
    payload: bytes, comment: "str | None" = None, loop_count: "int | None" = None
) -> bytes:
    """Insert a Comment Extension (0xFE, sub-blocked at 255 bytes) and
    a NETSCAPE2.0 looping Application Extension right after the global
    color table — the canonical position. Requires a GIF89a stream
    (extensions are an 89a feature)."""
    import struct as _struct

    if payload[:6] != b"GIF89a":
        raise ValueError("gif: extensions require GIF89a")
    at = _gif_gct_end(payload)
    blocks = bytearray()
    if loop_count is not None:
        blocks += (
            b"\x21\xff\x0bNETSCAPE2.0\x03\x01"
            + _struct.pack("<H", loop_count)
            + b"\x00"
        )
    if comment is not None:
        raw = comment.encode("latin-1")
        blocks += b"\x21\xfe"
        for i in range(0, len(raw), 255):
            chunk = raw[i : i + 255]
            blocks += bytes([len(chunk)]) + chunk
        blocks += b"\x00"
    return payload[:at] + bytes(blocks) + payload[at:]


def parse_gif_extensions(payload: bytes) -> dict:
    """GIF block walk (GIF89a spec appendix): comment text (sub-blocks
    reassembled), the NETSCAPE2.0 loop count, image count, and screen
    dims — without LZW-decoding a pixel. Raises on a bad signature,
    sub-blocks overrunning the payload, a malformed NETSCAPE block, a
    missing trailer, truncated block headers, or an unknown top-level
    block byte — never IndexError/struct.error on corrupt uploads."""
    import struct as _struct

    pos = _gif_gct_end(payload)  # validates signature + LSD length
    width, height = _struct.unpack_from("<HH", payload, 6)

    def subblocks(at: int) -> "tuple[bytes, int]":
        buf = bytearray()
        while True:
            if at >= len(payload):
                raise ValueError("gif: sub-blocks overrun the payload")
            n = payload[at]
            at += 1
            if n == 0:
                return bytes(buf), at
            if at + n > len(payload):
                raise ValueError("gif: sub-block overruns the payload")
            buf += payload[at : at + n]
            at += n

    comment = None
    loop_count = None
    n_images = 0
    trailer = False
    while pos < len(payload):
        block = payload[pos]
        if block == 0x21:
            if pos + 2 > len(payload):
                raise ValueError("gif: truncated extension introducer")
            label = payload[pos + 1]
            data, pos = subblocks(pos + 2)
            if label == 0xFE:
                comment = data.decode("latin-1")
            elif label == 0xFF:
                if data[:11] == b"NETSCAPE2.0":
                    # sub-blocks reassembled: 11-byte app id + the
                    # 3-byte (0x01, loop lo, loop hi) data sub-block
                    if len(data) != 14 or data[11] != 0x01:
                        raise ValueError("gif: malformed NETSCAPE block")
                    (loop_count,) = _struct.unpack_from("<H", data, 12)
        elif block == 0x2C:
            if pos + 10 > len(payload):
                raise ValueError("gif: truncated image descriptor")
            n_images += 1
            packed = payload[pos + 9]
            pos += 10
            if packed & 0x80:
                pos += 3 * (2 << (packed & 0x07))
            pos += 1  # LZW minimum code size
            _, pos = subblocks(pos)
        elif block == 0x3B:
            trailer = True
            break
        else:
            raise ValueError(f"gif: unknown block 0x{block:02x} at {pos}")
    if not trailer:
        raise ValueError("gif: missing trailer")
    return {
        "width": width,
        "height": height,
        "comment": comment,
        "loop_count": loop_count,
        "n_images": n_images,
    }


def png_insert_chunks(payload: bytes, chunks: "list[tuple[bytes, bytes]]") -> bytes:
    """Splice ancillary chunks right after IHDR (the position the spec
    prescribes for pHYs and allows for tEXt/iTXt) — each framed with
    its real CRC32; the IDAT stream is untouched."""
    import struct as _struct

    if payload[:8] != PNG_SIG:
        raise ValueError("not a PNG payload")
    (ihdr_len,) = _struct.unpack_from(">I", payload, 8)
    cut = 8 + 12 + ihdr_len
    spliced = b"".join(_png_chunk(t, d) for t, d in chunks)
    return payload[:cut] + spliced + payload[cut:]


def parse_png_metadata(payload: bytes) -> dict:
    """PNG ancillary-metadata walk (PNG spec §11.3): every chunk CRC
    verified, tEXt (latin-1 keyword\\0value, keyword 1-79 bytes), iTXt
    (compression flag/method, language tag, translated keyword, UTF-8
    text, zlib-inflated when compressed), and pHYs (pixels-per-unit +
    unit). Raises on bad signature, CRC mismatch, malformed field
    structure, or a reserved iTXt compression method — corrupt-upload
    quarantine. Returns dims + texts in wire order + pHYs."""
    import struct as _struct
    import zlib as _zlib

    if payload[:8] != PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = 8
    width = height = None
    texts: "list[tuple[str, str, str]]" = []  # (keyword, lang, text)
    phys = None
    n_chunks = 0
    while pos + 12 <= len(payload):
        (length,) = _struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) != length or pos + 12 + length > len(payload):
            raise ValueError(f"png: chunk {ctype!r} overruns the payload")
        (crc,) = _struct.unpack_from(">I", payload, pos + 8 + length)
        if _zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"png: chunk {ctype!r} CRC mismatch")
        n_chunks += 1
        if ctype == b"IHDR":
            width, height = _struct.unpack_from(">II", data)
        elif ctype == b"tEXt":
            if b"\x00" not in data:
                raise ValueError("png: tEXt without keyword separator")
            kw, txt = data.split(b"\x00", 1)
            if not 1 <= len(kw) <= 79:
                raise ValueError("png: tEXt keyword length out of range")
            texts.append((kw.decode("latin-1"), "", txt.decode("latin-1")))
        elif ctype == b"iTXt":
            if data.count(b"\x00") < 3:
                raise ValueError("png: iTXt missing separators")
            kw, rest = data.split(b"\x00", 1)
            if not 1 <= len(kw) <= 79 or len(rest) < 2:
                raise ValueError("png: malformed iTXt")
            comp_flag, comp_method = rest[0], rest[1]
            lang, rest2 = rest[2:].split(b"\x00", 1)
            _translated, txt = rest2.split(b"\x00", 1)
            if comp_flag not in (0, 1) or comp_method != 0:
                raise ValueError("png: reserved iTXt compression")
            if comp_flag:
                try:
                    txt = _zlib.decompress(txt)
                except _zlib.error as exc:
                    raise ValueError(f"png: corrupt iTXt zlib stream: {exc}")
            texts.append(
                (kw.decode("latin-1"), lang.decode("ascii"), txt.decode("utf-8"))
            )
        elif ctype == b"pHYs":
            if length != 9:
                raise ValueError("png: bad pHYs length")
            x, y, unit = _struct.unpack(">IIB", data)
            phys = {"ppu_x": x, "ppu_y": y, "unit": unit}
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if width is None:
        raise ValueError("png: no IHDR chunk")
    return {
        "width": width,
        "height": height,
        "texts": texts,
        "phys": phys,
        "n_chunks": n_chunks,
    }


def decode_png_array(payload: bytes) -> dict:
    """REAL codec (stdlib `zlib` + `struct`): parse an 8-bit truecolor
    non-interlaced PNG — chunk walk with CRC verification, inflate of
    the concatenated IDAT stream, and full scanline DEFILTERING (None/
    Sub/Up/Average/Paeth; Sub/Average/Paeth reconstruct sequentially
    along the row exactly as the spec's recursive definition requires)
    — back to a row-major (h, w, 3) uint8 RGB array. Palette/alpha/
    16-bit/interlaced PNGs raise NotImplementedError (honest subset,
    like the 24-bit-only BMP leg)."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, width, height, idat = 8, None, None, bytearray()
    while pos < len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            width, height, bits, color, comp, filt, ilace = struct.unpack(
                ">IIBBBBB", data
            )
            if (bits, color, comp, filt, ilace) != (8, 2, 0, 0, 0):
                raise NotImplementedError(
                    "only 8-bit truecolor non-interlaced PNG decode implemented"
                )
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if width is None:
        raise ValueError("PNG payload has no IHDR chunk")
    raw = zlib.decompress(bytes(idat))
    stride = width * 3
    if len(raw) != height * (stride + 1):
        raise ValueError("PNG data length mismatch")
    out = np.zeros((height, stride), dtype=np.int64)
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(height):
        base = y * (stride + 1)
        ft = raw[base]
        cur = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=base + 1
        ).astype(np.int64)
        if ft == 0:
            rec = cur
        elif ft == 2:  # Up — no intra-row dependency, vectorized
            rec = (cur + prev) % 256
        elif ft in (1, 3, 4):  # left-dependent: sequential per spec
            rec = np.zeros(stride, dtype=np.int64)
            for i in range(stride):
                a = rec[i - 3] if i >= 3 else 0  # reconstructed left
                b = prev[i]
                if ft == 1:
                    pred = a
                elif ft == 3:
                    pred = (a + b) // 2
                else:
                    c = prev[i - 3] if i >= 3 else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                rec[i] = (cur[i] + pred) % 256
        else:
            raise ValueError(f"unknown PNG filter {ft}")
        out[y] = rec
        prev = rec
    return {
        "width": width,
        "height": height,
        "px": out.astype(np.uint8).reshape(height, width, 3),
    }


def decode_png(payload: bytes) -> dict:
    """Pixel-tuple API over `decode_png_array` (mirrors `decode_bmp`)."""
    d = decode_png_array(payload)
    pixels = [tuple(int(c) for c in p) for row in d["px"] for p in row]
    return {"width": d["width"], "height": d["height"], "pixels": pixels}


def _lzw_decode(data: bytes, min_code_size: int) -> "list[int]":
    """GIF-variant LZW decode (spec appendix F): LSB-first variable-
    width codes starting at min_code_size+1 bits, CLEAR resets the
    table, width grows when the table reaches 2^width (capped at 12
    bits / 4096 entries)."""
    clear = 1 << min_code_size
    end = clear + 1
    base = [[i] for i in range(clear)] + [None, None]
    table = list(base)
    width = min_code_size + 1
    out: list[int] = []
    prev: "list[int] | None" = None
    bitpos, total = 0, len(data) * 8
    while True:
        if bitpos + width > total:
            break
        code = 0
        for i in range(width):
            code |= ((data[(bitpos + i) >> 3] >> ((bitpos + i) & 7)) & 1) << i
        bitpos += width
        if code == clear:
            table = list(base)
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            # bounds-check BEFORE indexing: a corrupt stream whose first
            # code (after start/CLEAR) exceeds the table must fail with
            # the module's clean ValueError, not an IndexError
            if code >= len(table) or table[code] is None:
                raise ValueError("corrupt LZW stream (bad first code)")
            entry = table[code]
        elif code < len(table) and table[code] is not None:
            entry = table[code]
        elif code == len(table):
            entry = prev + [prev[0]]  # the KwKwK case
        else:
            raise ValueError("corrupt LZW stream (code beyond table)")
        out.extend(entry)
        if prev is not None and len(table) < 4096:
            table.append(prev + [entry[0]])
        # early-change width growth: the DECODER's table lags the
        # encoder's by exactly one entry (the KwKwK lag), so it must
        # widen when len+1 — the encoder's next_code at this position
        # — reaches 2^width. This is the convention real-world
        # encoders/giflib use.
        if len(table) + 1 == (1 << width) and width < 12:
            width += 1
        prev = entry
    return out


def _lzw_encode(indices: "list[int]", min_code_size: int) -> bytes:
    """GIF-variant LZW encode, the exact inverse of `_lzw_decode`
    (same width-growth points, CLEAR emitted at start and on table
    overflow)."""
    clear = 1 << min_code_size
    end = clear + 1
    bits: list[tuple[int, int]] = []  # (code, width)

    def fresh():
        return {(i,): i for i in range(clear)}, end + 1, min_code_size + 1

    table, next_code, width = fresh()
    bits.append((clear, width))
    buf: tuple[int, ...] = ()
    for px in indices:
        cand = buf + (int(px),)
        if cand in table:
            buf = cand
            continue
        bits.append((table[buf], width))
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            if next_code - 1 == (1 << width) - 1 and width < 12:
                width += 1
        else:
            bits.append((clear, width))
            table, next_code, width = fresh()
        buf = (int(px),)
    if buf:
        bits.append((table[buf], width))
    bits.append((end, width))
    # pack LSB-first
    acc = bytearray()
    cur, ncur = 0, 0
    for code, w in bits:
        cur |= code << ncur
        ncur += w
        while ncur >= 8:
            acc.append(cur & 0xFF)
            cur >>= 8
            ncur -= 8
    if ncur:
        acc.append(cur & 0xFF)
    return bytes(acc)


def encode_gif(px: "object", width: int, height: int) -> bytes:
    """REAL codec (pure spec logic, zero deps): encode an (h, w, 3)
    uint8 RGB array as a GIF89a — palette built from the image's
    distinct colors (≤256 required; GIF is an indexed format), indices
    compressed with the real variable-width LZW (`_lzw_encode`), data
    emitted in ≤255-byte sub-blocks."""
    import struct

    import numpy as np

    arr = np.asarray(px, dtype=np.uint8).reshape(height, width, 3)
    flat = arr.reshape(-1, 3)
    colors, inverse = np.unique(flat, axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError("GIF is indexed: more than 256 distinct colors")
    gct_bits = max(1, int(len(colors) - 1).bit_length())  # table size 2^n
    table = np.zeros((1 << gct_bits, 3), dtype=np.uint8)
    table[: len(colors)] = colors
    min_code = max(2, gct_bits)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", width, height, 0x80 | (gct_bits - 1), 0, 0)
    out += table.tobytes()
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, width, height, 0)  # no LCT
    out.append(min_code)
    data = _lzw_encode([int(i) for i in inverse], min_code)
    for i in range(0, len(data), 255):
        blk = data[i : i + 255]
        out.append(len(blk))
        out += blk
    out += b"\x00\x3b"  # block terminator + trailer
    return bytes(out)


def decode_gif_array(payload: bytes) -> dict:
    """REAL codec (pure spec logic, zero deps): parse a GIF87a/89a —
    logical screen descriptor, global/local color tables, extension
    skip, first image descriptor, variable-width LZW decompression
    (`_lzw_decode`), interlace reordering — to a row-major (h, w, 3)
    uint8 RGB array. Animated GIFs decode their FIRST frame."""
    import struct

    import numpy as np

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    _, _, packed, _, _ = struct.unpack_from("<HHBBB", payload, 6)
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(payload, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3
    def _at(i: int) -> int:
        # truncation guard: every positional read fails with the
        # module's clean ValueError, never a bare IndexError
        if i >= len(payload):
            raise ValueError("truncated GIF payload")
        return payload[i]

    while pos < len(payload):
        block = payload[pos]
        if block == 0x21:  # extension: label + sub-blocks until 0
            pos += 2
            while _at(pos):
                pos += payload[pos] + 1
            pos += 1
        elif block == 0x2C:  # image descriptor
            if pos + 10 > len(payload):
                raise ValueError("truncated GIF payload")
            _, _, w, h, ipacked = struct.unpack_from("<HHHHB", payload, pos + 1)
            pos += 10
            ct = gct
            if ipacked & 0x80:
                n = 2 << (ipacked & 0x07)
                ct = np.frombuffer(payload, np.uint8, n * 3, pos).reshape(n, 3)
                pos += n * 3
            if ct is None:
                raise ValueError("GIF image has no color table")
            min_code = _at(pos)
            pos += 1
            data = bytearray()
            while _at(pos):
                ln = payload[pos]
                if pos + 1 + ln > len(payload):
                    raise ValueError("truncated GIF payload")
                data += payload[pos + 1 : pos + 1 + ln]
                pos += ln + 1
            idx = _lzw_decode(bytes(data), min_code)
            if len(idx) < w * h:
                raise ValueError("GIF pixel data truncated")
            grid = np.asarray(idx[: w * h], dtype=np.int64).reshape(h, w)
            if int(grid.max(initial=0)) >= len(ct):
                raise ValueError("GIF pixel index beyond color table")
            if ipacked & 0x40:  # interlaced: reorder the 4 passes
                order = [y for y in range(0, h, 8)]
                order += [y for y in range(4, h, 8)]
                order += [y for y in range(2, h, 4)]
                order += [y for y in range(1, h, 2)]
                un = np.empty_like(grid)
                un[np.asarray(order)] = grid
                grid = un
            return {"width": w, "height": h, "px": ct[grid]}
        elif block == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
    raise ValueError("GIF payload has no image block")


def decode_gif(payload: bytes) -> dict:
    """Pixel-tuple API over `decode_gif_array` (mirrors `decode_bmp`)."""
    d = decode_gif_array(payload)
    pixels = [tuple(int(c) for c in p) for row in d["px"] for p in row]
    return {"width": d["width"], "height": d["height"], "pixels": pixels}


# ---------------------------------------------------------------------------
# JPEG — baseline sequential DCT (ITU-T T.81), pure stdlib + numpy.
# Decoder: marker parse, DQT/DHT/SOF0/SOF1/DRI/SOS, canonical Huffman,
# byte-stuffed bit reader with restart markers, dequantize + 8x8 IDCT
# (orthonormal basis matrix), chroma upsampling, JFIF YCbCr->RGB.
# Encoder: baseline 4:4:4 with the T.81 Annex K example tables
# (quality-scaled per the public IJG convention) — exists to synthesize
# genuine JPEG payloads for tests and the resize round-trip. JPEG is
# LOSSY: round-trips compare within a PSNR bound, not byte-exact.
# ---------------------------------------------------------------------------

# zigzag scan position -> raster index (T.81 Figure A.6)
_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# T.81 Annex K.1 example quantization tables (raster order)
_JPEG_QUANT_LUM = [
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
]
_JPEG_QUANT_CHROM = [
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
]

# T.81 Annex K.3 example Huffman tables: (bits[1..16], values)
_JPEG_HUFF_DC_LUM = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_JPEG_HUFF_DC_CHROM = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_JPEG_HUFF_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_JPEG_HUFF_AC_CHROM = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)


#: table-derivation caches — an MJPEG stream (and most wild corpora
#: from one encoder) reuses identical DHT/DQT bytes for every frame,
#: so the canonical-Huffman walk, the peek-16 flat tables, and the
#: de-zigzagged quant matrices are built once per process, not per
#: frame. All caches are size-capped; cached arrays are never mutated
#: by callers.
_JPEG_HUFF_CACHE: "dict[bytes, list]" = {}
_JPEG_DQT_CACHE: "dict[tuple, object]" = {}
_JPEG_IDCT_A = None


def _jpeg_huff_table(bits: "list[int]", values: "list[int]") -> list:
    """Canonical Huffman table as its cache entry [lut, peek]: lut =
    {(code_length, code): value}; peek = the (value, length) flat
    peek-16 tables `_jpeg_fast_lut` fills on first decode use. Cached
    on the raw (bits, values) bytes; past the cap the oldest entry
    makes room, so a table seen again is always a hit."""
    key = bytes(bits) + bytes(values)
    hit = _JPEG_HUFF_CACHE.get(key)
    if hit is not None:
        return hit
    lut, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            lut[(length, code)] = values[k]
            k += 1
            code += 1
        code <<= 1
    if len(_JPEG_HUFF_CACHE) >= 256:
        del _JPEG_HUFF_CACHE[next(iter(_JPEG_HUFF_CACHE))]
    hit = _JPEG_HUFF_CACHE[key] = [lut, None]
    return hit


def _jpeg_idct_matrix():
    global _JPEG_IDCT_A
    if _JPEG_IDCT_A is None:
        import math

        import numpy as np

        a = np.zeros((8, 8))
        for u in range(8):
            c = math.sqrt(0.5) if u == 0 else 1.0
            for x in range(8):
                a[u, x] = 0.5 * c * math.cos((2 * x + 1) * u * math.pi / 16)
        _JPEG_IDCT_A = a
    return _JPEG_IDCT_A


def _jpeg_entropy_segments(
    data: bytes, pos: int
) -> "list[tuple[bytes, bool]]":
    """Split the entropy-coded stream into UNSTUFFED segments:
    0xFF00 → literal 0xFF; an RSTn marker ends a segment (rst=True)
    and starts the next; EOI or buffer end terminates (rst=False).
    Any other 0xFF+x pair is kept verbatim as data — the read sequence
    of the original incremental bit reader on well-formed streams.
    (Two malformed-stream edges drift from that reader: a bare
    trailing 0xFF is kept as 8 data bits instead of raising, and a
    read crossing an EOI-terminated segment reports "truncated"
    rather than "hit marker".)"""
    segs: "list[tuple[bytes, bool]]" = []
    out = bytearray()
    d, n = data, len(data)
    i = pos
    while i < n:
        j = d.find(b"\xff", i)
        if j < 0:
            out += d[i:]
            i = n
            break
        out += d[i:j]
        if j + 1 >= n:
            out.append(0xFF)
            i = n
            break
        nxt = d[j + 1]
        if nxt == 0x00:
            out.append(0xFF)
            i = j + 2
        elif 0xD0 <= nxt <= 0xD7:
            segs.append((bytes(out), True))
            out = bytearray()
            i = j + 2
        elif nxt == 0xD9:
            segs.append((bytes(out), False))
            return segs
        else:
            # non-delimiting marker byte: the incremental reader
            # returned 0xFF as data and the next byte separately
            out.append(0xFF)
            i = j + 1
    segs.append((bytes(out), False))
    return segs


def _jpeg_fast_lut(table: list) -> "tuple[bytes, bytes]":
    """The (value, length) flat peek-16 tables of a `_jpeg_huff_table`
    entry, built once and kept in the entry. Huffman symbols are 8-bit
    and code lengths at most 16, so each table is one 64 KiB `bytes`
    (the 256-entry cache stays near 32 MiB per process); indexing it
    returns the same small ints a list would. Length 0 marks a code no
    symbol owns."""
    if table[1] is None:
        val = bytearray(65536)
        ln = bytearray(65536)
        for (length, code), v in table[0].items():
            lo = code << (16 - length)
            hi = min(lo + (1 << (16 - length)), 65536)
            if lo < hi:  # an overfull (malformed) DHT's codes run past 16 bits
                val[lo:hi] = bytes([v]) * (hi - lo)
                ln[lo:hi] = bytes([length]) * (hi - lo)
        table[1] = (bytes(val), bytes(ln))
    return table[1]


#: bytes of entropy segment windowed per chunk: bounds the transient
#: Python-list window table to O(chunk), not O(segment) — a multi-MB
#: restartless scan no longer materializes ~36 bytes per BIT at once.
_JPEG_WIN_CHUNK = 1 << 16

#: upper bound on the bits one 8x8 block can consume: DC 16+11, AC
#: 63 x (16+10) — used to decide when the window chunk must slide
_JPEG_MAX_BLOCK_BITS = 1700

#: decoded blocks buffered per component before the batched IDCT runs
_JPEG_IDCT_BATCH = 4096

_JPEG_WIN_SHIFTS = None


def _jpeg_bit_windows(seg: bytes, start: int = 0, nbytes=None) -> "list[int]":
    """W[p - 8*start] = the 16 bits starting at bit p of `seg`
    (zero-padded past the segment end), for p in
    [8*start, 8*(start+nbytes)], as a plain list for fast scalar
    indexing. Lookahead past the chunk reads real segment bytes, so a
    chunk's windows are identical to the whole-segment table's."""
    global _JPEG_WIN_SHIFTS
    import numpy as np

    if nbytes is None:
        nbytes = len(seg) - start
    chunk = seg[start : start + nbytes + 3]
    u = np.frombuffer(chunk, np.uint8).astype(np.uint32)
    pad = nbytes + 3 - len(chunk)
    if pad:
        u = np.concatenate([u, np.zeros(pad, np.uint32)])
    # per-byte 32-bit windows, then the 8 intra-byte shifts at once
    b32 = (u[:-3] << 24) | (u[1:-2] << 16) | (u[2:-1] << 8) | u[3:]
    if _JPEG_WIN_SHIFTS is None:
        _JPEG_WIN_SHIFTS = (16 - np.arange(8, dtype=np.uint32))[None, :]
    w = (b32[:, None] >> _JPEG_WIN_SHIFTS) & np.uint32(0xFFFF)
    out = w.ravel().tolist()
    out.append(int(u[nbytes] << 8 | u[nbytes + 1]) & 0xFFFF)
    return out


def decode_jpeg_array(payload: bytes) -> dict:
    """REAL codec (pure T.81 spec logic, stdlib + numpy): baseline
    sequential DCT JPEG (SOF0/SOF1, the overwhelmingly common wild
    format) to a row-major (h, w, 3) uint8 RGB array. Grayscale decodes
    replicated to RGB; progressive (SOF2) and arithmetic coding raise
    NotImplementedError (honest subset)."""
    import struct

    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    qt: dict[int, "object"] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class, id) -> lut
    comps: list[dict] = []
    w = h = 0
    restart_interval = 0
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("corrupt JPEG marker stream")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack_from(">H", payload, pos + 2)
        seg = payload[pos + 4 : pos + 2 + seglen]
        if len(seg) != seglen - 2:
            raise ValueError("truncated JPEG segment")
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                prec, tid = seg[i] >> 4, seg[i] & 0x0F
                i += 1
                n = 64 * (2 if prec else 1)
                raw = seg[i : i + n]
                if len(raw) < n:
                    raise ValueError("truncated JPEG DQT")
                hit = _JPEG_DQT_CACHE.get((prec, raw))
                if hit is None:
                    vals = (
                        np.frombuffer(raw, ">u2").astype(np.int64)
                        if prec
                        else np.frombuffer(raw, np.uint8).astype(np.int64)
                    )
                    tbl = np.zeros(64, np.int64)
                    tbl[np.array(_JPEG_ZIGZAG)] = vals  # de-zigzag
                    hit = tbl.reshape(8, 8)
                    if len(_JPEG_DQT_CACHE) < 256:
                        _JPEG_DQT_CACHE[(prec, raw)] = hit
                qt[tid] = hit
                i += n
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                cls, tid = seg[i] >> 4, seg[i] & 0x0F
                bits = list(seg[i + 1 : i + 17])
                nvals = sum(bits)
                values = list(seg[i + 17 : i + 17 + nvals])
                if len(values) < nvals:
                    raise ValueError("truncated JPEG DHT")
                huff[(cls, tid)] = _jpeg_huff_table(bits, values)
                i += 17 + nvals
        elif marker in (0xC0, 0xC1):  # SOF0/SOF1: baseline/ext sequential
            _, h, w, nc = struct.unpack_from(">BHHB", seg, 0)
            comps = []
            for ci in range(nc):
                cid, samp, tq = struct.unpack_from("BBB", seg, 6 + ci * 3)
                comps.append(
                    {"id": cid, "hs": samp >> 4, "vs": samp & 0x0F, "tq": tq}
                )
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "only baseline/extended sequential Huffman JPEG implemented"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS
            if not comps or not qt:
                raise ValueError("JPEG SOS before SOF/DQT")
            ns = seg[0]
            scan = []
            for si in range(ns):
                cs, tables = seg[1 + si * 2], seg[2 + si * 2]
                comp = next(c for c in comps if c["id"] == cs)
                scan.append((comp, tables >> 4, tables & 0x0F))
            data_start = pos + 2 + seglen
            return _jpeg_decode_scan(
                payload, data_start, w, h, scan, qt, huff, restart_interval
            )
        # APPn/COM/unknown: skip
        pos += 2 + seglen
    raise ValueError("JPEG payload has no SOS scan")


def _jpeg_decode_scan(
    payload, data_start, w, h, scan, qt, huff, restart_interval
) -> dict:
    import numpy as np

    A = _jpeg_idct_matrix()
    hmax = max(c["hs"] for c, _, _ in scan)
    vmax = max(c["vs"] for c, _, _ in scan)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    planes = {}
    for c, _, _ in scan:
        planes[c["id"]] = np.zeros(
            (mcuy * c["vs"] * 8, mcux * c["hs"] * 8), np.float64
        )
    # Entropy decode via peek-16 Huffman LUTs over a precomputed
    # bit-window table (r11): the incremental reader paid ~5 Python
    # calls PER BIT (profile: >80% of decode wall); here a symbol is
    # one list index + one table lookup and a magnitude read is one
    # shift — identical bit consumption, values and error conditions
    # (pure integer arithmetic, so exactness is structural).
    segs = _jpeg_entropy_segments(payload, data_start)
    per_comp = []
    for c, dc_id, ac_id in scan:
        dlut = huff.get((0, dc_id))
        alut = huff.get((1, ac_id))
        q = qt.get(c["tq"])
        if dlut is None or alut is None or q is None:
            raise ValueError("JPEG scan references missing table")
        per_comp.append(
            (c, _jpeg_fast_lut(dlut), _jpeg_fast_lut(alut), q)
        )
    # W covers one chunk of the segment; bp and every bit-count below
    # are RELATIVE to wb (the chunk's byte-aligned bit offset), so the
    # single-chunk case (any segment <= _JPEG_WIN_CHUNK bytes — every
    # sane frame) runs the exact per-peek op sequence of a whole-
    # segment table, and only multi-chunk scans pay the slide.
    si = 0
    seg0 = segs[0][0]
    cb = min(_JPEG_WIN_CHUNK, len(seg0))
    W = _jpeg_bit_windows(seg0, 0, cb)
    wb = 0  # absolute bit offset of W[0] (multiple of 8)
    wlen = cb * 8  # valid relative window indices: 0..wlen
    nbits = len(seg0) * 8 - wb  # segment bits REMAINING from wb
    bp = 0
    pred = {c["id"]: 0 for c, _, _ in scan}
    zz = list(_JPEG_ZIGZAG)
    n_mcu = 0
    blocks: "dict[int, list]" = {c["id"]: [] for c, _, _ in scan}
    spots_by: "dict[int, list]" = {c["id"]: [] for c, _, _ in scan}

    def _flush(cid, coefs, spots, q):
        # batched dequantize + IDCT: one (n, 8, 8) stack — elementwise
        # dequant and the broadcasted A.T @ block @ A run the SAME 8x8
        # kernel per slice as the former per-block form (verified
        # bit-identical on the A/B corpus) regardless of batch size;
        # flushing every <= _JPEG_IDCT_BATCH blocks bounds the Python
        # coefficient buffer to O(1) instead of O(image)
        deq = np.asarray(coefs).reshape(-1, 8, 8) * q[None, :, :]
        spatial = A.T @ deq @ A + 128.0
        plane = planes[cid]
        for i, (y0, x0) in enumerate(spots):
            plane[y0 : y0 + 8, x0 : x0 + 8] = spatial[i]

    def _starved():
        # reading past the segment: a marker ended it (the incremental
        # reader's "hit marker" case) or the buffer simply ran out
        if segs[si][1] or si + 1 < len(segs):
            return ValueError("hit marker inside entropy segment")
        return ValueError("truncated JPEG scan data")

    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                # byte-align; the RSTn must follow immediately
                bp = (bp + 7) & ~7
                if bp != nbits or not segs[si][1]:
                    raise ValueError("missing JPEG restart marker")
                si += 1
                seg0 = segs[si][0]
                cb = min(_JPEG_WIN_CHUNK, len(seg0))
                W = _jpeg_bit_windows(seg0, 0, cb)
                wb = 0
                wlen = cb * 8
                nbits = len(seg0) * 8
                bp = 0
                pred = {k: 0 for k in pred}
            for c, (dval, dlen), (aval, alen), q in per_comp:
                coefs = blocks[c["id"]]
                spots = spots_by[c["id"]]
                for by in range(c["vs"]):
                    for bx in range(c["hs"]):
                        if wlen < nbits and bp + _JPEG_MAX_BLOCK_BITS > wlen:
                            # slide the window chunk: one block never
                            # consumes more than _JPEG_MAX_BLOCK_BITS,
                            # so W always covers the whole block
                            b0 = (wb + bp) >> 3
                            cb = min(_JPEG_WIN_CHUNK, len(seg0) - b0)
                            W = _jpeg_bit_windows(seg0, b0, cb)
                            bp = wb + bp - b0 * 8
                            wb = b0 * 8
                            wlen = cb * 8
                            nbits = len(seg0) * 8 - wb
                        coef = [0.0] * 64
                        w16 = W[bp]
                        t = dlen[w16]
                        if t == 0:
                            raise (
                                _starved()
                                if nbits - bp < 16
                                else ValueError(
                                    "corrupt JPEG Huffman stream"
                                )
                            )
                        if bp + t > nbits:
                            raise _starved()
                        s = dval[w16]
                        bp += t
                        if s:
                            if bp + s > nbits:
                                raise _starved()
                            v = W[bp] >> (16 - s)
                            bp += s
                            pred[c["id"]] += (
                                v - (1 << s) + 1
                                if v < (1 << (s - 1))
                                else v
                            )
                        coef[0] = float(pred[c["id"]])
                        k = 1
                        while k < 64:
                            w16 = W[bp]
                            t = alen[w16]
                            if t == 0:
                                raise (
                                    _starved()
                                    if nbits - bp < 16
                                    else ValueError(
                                        "corrupt JPEG Huffman stream"
                                    )
                                )
                            if bp + t > nbits:
                                raise _starved()
                            rs = aval[w16]
                            bp += t
                            r, s = rs >> 4, rs & 0x0F
                            if s == 0:
                                if r == 15:  # ZRL: 16 zeros
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("JPEG AC run overflow")
                            if bp + s > nbits:
                                raise _starved()
                            v = W[bp] >> (16 - s)
                            bp += s
                            coef[zz[k]] = float(
                                v - (1 << s) + 1
                                if v < (1 << (s - 1))
                                else v
                            )
                            k += 1
                        coefs.append(coef)
                        spots.append(
                            (
                                (my * c["vs"] + by) * 8,
                                (mx * c["hs"] + bx) * 8,
                            )
                        )
                        if len(coefs) >= _JPEG_IDCT_BATCH:
                            _flush(c["id"], coefs, spots, q)
                            coefs.clear()
                            spots.clear()
            n_mcu += 1
    for c, _, _, q in per_comp:
        coefs = blocks[c["id"]]
        if coefs:
            _flush(c["id"], coefs, spots_by[c["id"]], q)
    # upsample each plane to full grid, crop, color-convert
    full = []
    for c, _, _ in scan:
        p = planes[c["id"]]
        p = np.repeat(p, vmax // c["vs"], axis=0)
        p = np.repeat(p, hmax // c["hs"], axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:
        ych = np.clip(full[0], 0, 255)
        px = np.repeat(ych[:, :, None], 3, axis=2)
    elif len(full) == 3:
        y, cb, cr = full
        r = y + 1.402 * (cr - 128.0)
        g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
        b = y + 1.772 * (cb - 128.0)
        px = np.stack([r, g, b], axis=2)
    else:
        raise NotImplementedError("only 1- or 3-component JPEG implemented")
    px = np.clip(np.round(px), 0, 255).astype(np.uint8)
    return {"width": w, "height": h, "px": px}


def decode_jpeg(payload: bytes) -> dict:
    """Pixel-tuple API over `decode_jpeg_array` (mirrors `decode_bmp`)."""
    d = decode_jpeg_array(payload)
    pixels = [tuple(int(c) for c in p) for row in d["px"] for p in row]
    return {"width": d["width"], "height": d["height"], "pixels": pixels}


_JPEG_QUANT_CACHE: "dict[tuple, object]" = {}


def _jpeg_scaled_quant(base: "list[int]", quality: int):
    import numpy as np

    key = (id(base), quality)
    hit = _JPEG_QUANT_CACHE.get(key)
    if hit is not None:
        return hit[1]
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    t = (np.array(base, np.int64) * scale + 50) // 100
    t = np.clip(t, 1, 255)
    if len(_JPEG_QUANT_CACHE) < 256:
        # pin `base` in the entry so its id cannot be recycled
        _JPEG_QUANT_CACHE[key] = (base, t)
    return t


_JPEG_ENCODE_CODES_CACHE: "dict[bytes, dict]" = {}

#: SOI..SOS byte prefix per (width, height, quality) — every frame of
#: an MJPEG stream writes the identical header
_JPEG_HEADER_CACHE: "dict[tuple, bytes]" = {}


def _jpeg_encode_codes(bits, values):
    """value -> (code, length) for the encoder side (cached on the
    raw table bytes — the Annex K tables in practice)."""
    key = bytes(bits) + bytes(values)
    hit = _JPEG_ENCODE_CODES_CACHE.get(key)
    if hit is None:
        hit = {
            v: (c, l) for (l, c), v in _jpeg_huff_table(bits, values)[0].items()
        }
        if len(_JPEG_ENCODE_CODES_CACHE) < 256:
            _JPEG_ENCODE_CODES_CACHE[key] = hit
    return hit


def encode_jpeg(px: "object", width: int, height: int, quality: int = 85) -> bytes:
    """REAL codec (pure T.81 spec logic): baseline sequential 4:4:4
    JPEG from an (h, w, 3) uint8 RGB array, Annex K example Huffman
    tables, IJG-convention quality scaling of the Annex K quant
    tables. Lossy by nature — tests bound reconstruction error (PSNR),
    not bytes."""
    import struct

    import numpy as np

    arr = np.asarray(px, dtype=np.uint8).reshape(height, width, 3).astype(np.float64)
    # RGB -> YCbCr (JFIF)
    r, g, b = arr[:, :, 0], arr[:, :, 1], arr[:, :, 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    # pad to 8x8 multiples by edge replication
    ph, pw = -height % 8, -width % 8
    if ph or pw:
        chans = [
            np.pad(ch, ((0, ph), (0, pw)), mode="edge") for ch in (y, cb, cr)
        ]
    else:
        chans = [y, cb, cr]
    qlum = _jpeg_scaled_quant(_JPEG_QUANT_LUM, quality)
    qchr = _jpeg_scaled_quant(_JPEG_QUANT_CHROM, quality)
    A = _jpeg_idct_matrix()
    zz = np.array(_JPEG_ZIGZAG)
    inv_zz = np.argsort(zz)  # raster index -> zigzag position

    dc_codes = [
        _jpeg_encode_codes(*_JPEG_HUFF_DC_LUM),
        _jpeg_encode_codes(*_JPEG_HUFF_DC_CHROM),
    ]
    ac_codes = [
        _jpeg_encode_codes(*_JPEG_HUFF_AC_LUM),
        _jpeg_encode_codes(*_JPEG_HUFF_AC_CHROM),
    ]
    quant = [qlum.reshape(8, 8), qchr.reshape(8, 8)]

    pred = [0, 0, 0]
    nby, nbx = chans[0].shape[0] // 8, chans[0].shape[1] // 8
    # Batched forward DCT per channel (r11): one (n_blocks, 8, 8)
    # stack runs the SAME 8x8 kernel per slice as the former per-block
    # matmul (A/B verified byte-identical output), and round/divide/
    # zigzag are elementwise — the Python loop below only walks the
    # already-quantized integer sequences.
    seqs = []
    for ci in range(3):
        t = 0 if ci == 0 else 1
        ch = chans[ci]
        B = (
            ch.reshape(nby, 8, nbx, 8)
            .transpose(0, 2, 1, 3)
            .reshape(-1, 8, 8)
        )
        F8 = A @ (B - 128.0) @ A.T
        qc = np.round(F8 / quant[t][None, :, :]).astype(np.int64)
        seqs.append(qc.reshape(-1, 64)[:, zz].tolist())
    # symbol stream as (code, length) pairs; bits are packed in one
    # vectorized pass below — the per-bit accumulator writer spent
    # ~5 Python ops per BIT
    sym_c: "list[int]" = []
    sym_l: "list[int]" = []
    for my in range(nby):
        for mx in range(nbx):
            bi = my * nbx + mx
            for ci in range(3):
                t = 0 if ci == 0 else 1
                seq = seqs[ci][bi]
                dcc = dc_codes[t]
                acc_ = ac_codes[t]
                # DC
                dc = seq[0]
                diff = dc - pred[ci]
                pred[ci] = dc
                nb = abs(diff).bit_length()
                code, ln = dcc[nb]
                sym_c.append(code)
                sym_l.append(ln)
                if nb:
                    sym_c.append(
                        diff if diff >= 0 else diff + (1 << nb) - 1
                    )
                    sym_l.append(nb)
                # AC
                run = 0
                for k in range(1, 64):
                    v = seq[k]
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        code, ln = acc_[0xF0]  # ZRL
                        sym_c.append(code)
                        sym_l.append(ln)
                        run -= 16
                    nb = abs(v).bit_length()
                    code, ln = acc_[(run << 4) | nb]
                    sym_c.append(code)
                    sym_l.append(ln)
                    sym_c.append(v if v >= 0 else v + (1 << nb) - 1)
                    sym_l.append(nb)
                    run = 0
                if run:
                    code, ln = acc_[0x00]  # EOB
                    sym_c.append(code)
                    sym_l.append(ln)
    # pack: scatter each code's bits into a 1-padded bit array (spec
    # pads the final byte with 1-bits), MSB-first packbits, then the
    # 0xFF00 byte stuffing — identical bytes to the incremental writer.
    # Small symbol streams (tiny frames) pack via one big-int shift
    # accumulator instead: same bit sequence, none of the ~70 fixed
    # numpy dispatches the scatter path costs.
    if len(sym_c) < 512:
        acc = 1  # sentinel top bit, dropped by the to_bytes length
        total = 0
        for code, ln in zip(sym_c, sym_l):
            acc = (acc << ln) | code
            total += ln
        padn = -total % 8
        acc = (acc << padn) | ((1 << padn) - 1)
        entropy = acc.to_bytes((total + padn) // 8 + 1, "big")[1:].replace(
            b"\xff", b"\xff\x00"
        )
    else:
        codes_a = np.array(sym_c, np.int64)
        lens_a = np.array(sym_l, np.int64)
        ends = np.cumsum(lens_a)
        starts = ends - lens_a
        total = int(ends[-1]) if len(ends) else 0
        bits = np.ones((total + 7) & ~7, np.uint8)
        for j in range(16):
            m = lens_a > j
            if not m.any():
                break
            bits[starts[m] + j] = (codes_a[m] >> (lens_a[m] - 1 - j)) & 1
        packed = np.packbits(bits)
        ffs = np.nonzero(packed == 0xFF)[0]
        if len(ffs):
            packed = np.insert(packed, ffs + 1, 0)
        entropy = packed.tobytes()

    hkey = (width, height, quality)
    header = _JPEG_HEADER_CACHE.get(hkey)
    if header is None:
        out = bytearray(b"\xff\xd8")  # SOI
        out += (
            b"\xff\xe0"
            + struct.pack(">H", 16)
            + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
        )
        for tid, q in ((0, qlum), (1, qchr)):
            out += b"\xff\xdb" + struct.pack(">HB", 67, tid)
            out += bytes(int(q[i]) for i in _JPEG_ZIGZAG)  # zigzag order
        out += b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, height, width, 3)
        for cid, tq in ((1, 0), (2, 1), (3, 1)):
            out += struct.pack("BBB", cid, 0x11, tq)  # 4:4:4
        for cls, tid, (hb, hv) in (
            (0, 0, _JPEG_HUFF_DC_LUM),
            (1, 0, _JPEG_HUFF_AC_LUM),
            (0, 1, _JPEG_HUFF_DC_CHROM),
            (1, 1, _JPEG_HUFF_AC_CHROM),
        ):
            out += b"\xff\xc4" + struct.pack(
                ">HB", 19 + len(hv), (cls << 4) | tid
            )
            out += bytes(hb) + bytes(hv)
        out += b"\xff\xda" + struct.pack(">HB", 12, 3)
        for cid, tabs in ((1, 0x00), (2, 0x11), (3, 0x11)):
            out += struct.pack("BB", cid, tabs)
        out += b"\x00\x3f\x00"  # Ss/Se/Ah-Al for sequential
        header = bytes(out)
        if len(_JPEG_HEADER_CACHE) < 1024:
            _JPEG_HEADER_CACHE[hkey] = header
    return header + entropy + b"\xff\xd9"


def _tiff_ifd(entries, base: int, endian: str) -> bytes:
    """One TIFF IFD at absolute offset `base`: entry table (tag, type,
    count, inline-or-offset value) + next-IFD=0 + the overflow value
    area for values wider than 4 bytes — TIFF 6.0 §2. `entries` is
    [(tag, type, count, data_bytes)] with data already in wire order."""
    import struct as _struct

    e = endian
    table = _struct.pack(e + "H", len(entries))
    overflow = bytearray()
    over_at = base + 2 + 12 * len(entries) + 4
    for tag, typ, count, data in sorted(entries):
        table += _struct.pack(e + "HHI", tag, typ, count)
        if len(data) <= 4:
            table += data + b"\x00" * (4 - len(data))
        else:
            if (over_at + len(overflow)) % 2:  # TIFF values are word-aligned
                overflow += b"\x00"
            table += _struct.pack(e + "I", over_at + len(overflow))
            overflow += data
    return table + _struct.pack(e + "I", 0) + bytes(overflow)


def encode_exif_app1(
    ifd0: "list[tuple[int, int, int, bytes]]",
    exif_ifd: "list[tuple[int, int, int, bytes]]",
    big_endian: bool = False,
    gps_ifd: "list[tuple[int, int, int, bytes]] | None" = None,
) -> bytes:
    """A complete JPEG APP1 Exif segment (marker + length + `Exif\\0\\0`
    + TIFF stream): IFD0 with an ExifIFD pointer (tag 0x8769) to the
    Exif sub-IFD and, when `gps_ifd` is given, a GPSInfo pointer
    (tag 0x8825) to the GPS sub-IFD — Exif 2.32 §4.5.2/§4.6.6, both
    byte orders."""
    import struct as _struct

    e = ">" if big_endian else "<"
    hdr = (b"MM\x00\x2a" if big_endian else b"II\x2a\x00") + _struct.pack(
        e + "I", 8
    )
    # two-pass: size IFD0 (with the pointer entries) to place sub-IFDs
    zero = _struct.pack(e + "I", 0)
    pointers = [(0x8769, 4, 1, zero)]
    if gps_ifd is not None:
        pointers.append((0x8825, 4, 1, zero))
    exif_at = 8 + len(_tiff_ifd(ifd0 + pointers, 8, e))
    ifd0_w = ifd0 + [(0x8769, 4, 1, _struct.pack(e + "I", exif_at))]
    tail = _tiff_ifd(exif_ifd, exif_at, e)
    if gps_ifd is not None:
        gps_at = exif_at + len(tail)
        ifd0_w.append((0x8825, 4, 1, _struct.pack(e + "I", gps_at)))
        tail += _tiff_ifd(gps_ifd, gps_at, e)
    tiff = hdr + _tiff_ifd(ifd0_w, 8, e) + tail
    body = b"Exif\x00\x00" + tiff
    return b"\xff\xe1" + _struct.pack(">H", len(body) + 2) + body


def _exif_ascii(s: str) -> "tuple[int, int, bytes]":
    b = s.encode("ascii") + b"\x00"
    return 2, len(b), b


def parse_jpeg_exif(payload: bytes) -> dict:
    """JPEG marker walk to the APP1 Exif segment, then a real TIFF 6.0
    IFD walk: both byte orders, magic-42 check, inline vs offset
    values by type width, ASCII/SHORT/LONG/RATIONAL decode, ExifIFD
    (0x8769) chase. Raises on missing SOI/APP1, bad byte-order mark or
    magic, entries overrunning the TIFF stream, or unterminated ASCII
    — corrupt-upload quarantine. Returns the routing fields an image
    pipeline needs before any pixel decode."""
    import struct as _struct

    if payload[:2] != b"\xff\xd8":
        raise ValueError("exif: not a JPEG (no SOI)")
    pos, tiff = 2, None
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("exif: marker desync in segment walk")
        marker = payload[pos + 1]
        if marker in (0xD8, 0xD9) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (seglen,) = _struct.unpack_from(">H", payload, pos + 2)
        if marker == 0xE1 and payload[pos + 4 : pos + 10] == b"Exif\x00\x00":
            tiff = payload[pos + 10 : pos + 2 + seglen]
            break
        if marker == 0xDA:
            break  # entropy-coded data: no Exif before image data
        pos += 2 + seglen
    if tiff is None:
        raise ValueError("exif: no APP1 Exif segment")
    if len(tiff) < 8:
        raise ValueError("exif: truncated TIFF header")
    if tiff[:2] == b"II":
        e = "<"
    elif tiff[:2] == b"MM":
        e = ">"
    else:
        raise ValueError(f"exif: bad byte-order mark {tiff[:2]!r}")
    if _struct.unpack_from(e + "H", tiff, 2)[0] != 42:
        raise ValueError("exif: bad TIFF magic")

    def read_ifd(at: int) -> dict:
        if at + 2 > len(tiff):
            raise ValueError("exif: IFD offset overruns the TIFF stream")
        (n,) = _struct.unpack_from(e + "H", tiff, at)
        if at + 2 + 12 * n + 4 > len(tiff):
            raise ValueError("exif: IFD table overruns the TIFF stream")
        out: dict[int, object] = {}
        for i in range(n):
            ent = at + 2 + 12 * i
            tag, typ, count = _struct.unpack_from(e + "HHI", tiff, ent)
            width = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}.get(typ)
            if width is None:
                continue  # unknown type: skippable per TIFF 6.0
            size = width * count
            if size <= 4:
                off = ent + 8
            else:
                (off,) = _struct.unpack_from(e + "I", tiff, ent + 8)
            if off + size > len(tiff):
                raise ValueError(f"exif: tag 0x{tag:04x} overruns the stream")
            if typ == 2:
                raw = tiff[off : off + count]
                if not raw.endswith(b"\x00"):
                    raise ValueError(f"exif: ASCII tag 0x{tag:04x} unterminated")
                out[tag] = raw[:-1].decode("ascii")
            elif typ == 3:
                v = _struct.unpack_from(e + f"{count}H", tiff, off)
                out[tag] = v[0] if count == 1 else list(v)
            elif typ in (1, 4):
                fmt = "B" if typ == 1 else "I"
                v = _struct.unpack_from(e + f"{count}{fmt}", tiff, off)
                out[tag] = v[0] if count == 1 else list(v)
            else:  # RATIONAL
                v = _struct.unpack_from(e + f"{2 * count}I", tiff, off)
                pairs = [(v[2 * j], v[2 * j + 1]) for j in range(count)]
                out[tag] = pairs[0] if count == 1 else pairs
        return out

    (ifd0_at,) = _struct.unpack_from(e + "I", tiff, 4)
    ifd0 = read_ifd(ifd0_at)
    exif = read_ifd(ifd0[0x8769]) if 0x8769 in ifd0 else {}
    exposure = exif.get(0x829A)
    gps = None
    if 0x8825 in ifd0:
        g = read_ifd(ifd0[0x8825])
        gps = {"n_tags": len(g)}
        for key, ref_tag, val_tag, neg in (
            ("lat_mas", 0x0001, 0x0002, "S"),
            ("lon_mas", 0x0003, 0x0004, "W"),
        ):
            ref, dms = g.get(ref_tag), g.get(val_tag)
            if ref is None or dms is None or len(dms) != 3:
                gps[key] = None
                continue
            # exact integer milliarcseconds (1° = 3 600 000 mas);
            # floor division per component — exact for the den values
            # real cameras write (1 / 1 / 100ths-of-a-second)
            mas = (
                dms[0][0] * 3_600_000 // dms[0][1]
                + dms[1][0] * 60_000 // dms[1][1]
                + dms[2][0] * 1_000 // dms[2][1]
            )
            gps[key] = -mas if ref == neg else mas
            gps[key.replace("_mas", "_ref")] = ref
    return {
        "byte_order": "MM" if e == ">" else "II",
        "n_ifd0": len(ifd0),
        "description": ifd0.get(0x010E),
        "orientation": ifd0.get(0x0112),
        "datetime": ifd0.get(0x0132),
        "pixel_x": exif.get(0xA002),
        "pixel_y": exif.get(0xA003),
        "exposure_num": exposure[0] if exposure else None,
        "exposure_den": exposure[1] if exposure else None,
        "gps": gps,
    }


def _read_ifd_raw(tiff: bytes, at: int, e: str) -> "list[tuple[int, int, int, bytes]]":
    """Read an IFD back as RAW (tag, type, count, wire-bytes) entries —
    the lossless form `_tiff_ifd`/`encode_exif_app1` re-serialize, so
    surgery (GPS scrub) preserves every non-touched tag bit-for-bit.
    Unknown types keep their 4 inline bytes untouched."""
    import struct as _struct

    if at + 2 > len(tiff):
        raise ValueError("exif: IFD offset overruns the TIFF stream")
    (n,) = _struct.unpack_from(e + "H", tiff, at)
    if at + 2 + 12 * n + 4 > len(tiff):
        raise ValueError("exif: IFD table overruns the TIFF stream")
    out: "list[tuple[int, int, int, bytes]]" = []
    for i in range(n):
        ent = at + 2 + 12 * i
        tag, typ, count = _struct.unpack_from(e + "HHI", tiff, ent)
        width = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}.get(typ)
        if width is None:
            out.append((tag, typ, count, tiff[ent + 8 : ent + 12]))
            continue
        size = width * count
        if size <= 4:
            data = tiff[ent + 8 : ent + 8 + size]
        else:
            (off,) = _struct.unpack_from(e + "I", tiff, ent + 8)
            if off + size > len(tiff):
                raise ValueError(f"exif: tag 0x{tag:04x} overruns the stream")
            data = tiff[off : off + size]
        out.append((tag, typ, count, data))
    return out


def strip_exif_gps(payload: bytes) -> "tuple[bytes, bool]":
    """Image-PII scrub: remove the GPS sub-IFD (and its IFD0 pointer)
    from a JPEG's APP1 Exif segment, preserving every other tag
    bit-for-bit by re-serializing the raw IFD entries — the privacy
    pass a training-image pipeline runs before anything else. The
    compressed image data is untouched (only the APP1 segment is
    rebuilt). Returns (payload, had_gps); a JPEG without GPS (or
    without Exif) passes through unchanged."""
    import struct as _struct

    if payload[:2] != b"\xff\xd8":
        raise ValueError("exif: not a JPEG (no SOI)")
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("exif: marker desync in segment walk")
        marker = payload[pos + 1]
        if marker in (0xD8, 0xD9) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (seglen,) = _struct.unpack_from(">H", payload, pos + 2)
        if marker == 0xE1 and payload[pos + 4 : pos + 10] == b"Exif\x00\x00":
            break
        if marker == 0xDA:
            return payload, False  # no Exif before image data
        pos += 2 + seglen
    else:
        return payload, False
    tiff = payload[pos + 10 : pos + 2 + seglen]
    if len(tiff) < 8:
        raise ValueError("exif: truncated TIFF header")
    if tiff[:2] == b"II":
        e, big = "<", False
    elif tiff[:2] == b"MM":
        e, big = ">", True
    else:
        raise ValueError(f"exif: bad byte-order mark {tiff[:2]!r}")
    (ifd0_at,) = _struct.unpack_from(e + "I", tiff, 4)
    ifd0_raw = _read_ifd_raw(tiff, ifd0_at, e)
    if not any(tag == 0x8825 for tag, _, _, _ in ifd0_raw):
        return payload, False
    exif_ptr = next(
        (d for tag, _, _, d in ifd0_raw if tag == 0x8769), None
    )
    exif_raw: "list[tuple[int, int, int, bytes]]" = []
    if exif_ptr is not None:
        exif_raw = _read_ifd_raw(
            tiff, _struct.unpack(e + "I", exif_ptr)[0], e
        )
    clean0 = [
        ent for ent in ifd0_raw if ent[0] not in (0x8769, 0x8825)
    ]
    new_app1 = encode_exif_app1(clean0, exif_raw, big_endian=big)
    return payload[:pos] + new_app1 + payload[pos + 2 + seglen :], True


def decode_image(payload: bytes) -> "object":
    """Image decode: BMP, PNG, GIF, baseline JPEG and lossless WebP
    (VP8L) payloads are decoded for real via the zero-dep parsers
    (struct + zlib + hand-rolled GIF-LZW + T.81 Huffman/IDCT + the
    VP8L prefix-code/transform decoder in llm/webp.py); only lossy
    WebP (VP8) genuinely requires a third-party codec and stays
    honestly stubbed (inside decode_webp)."""
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:8] == PNG_SIG:
        return decode_png(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(payload)
    if payload[:2] == b"\xff\xd8":
        return decode_jpeg(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        from dynamodb_to_datalake_project_spark.llm.webp import decode_webp

        return decode_webp(payload)
    raise NotImplementedError(
        "only BMP, PNG, GIF, baseline JPEG and lossless WebP decode "
        "available in this environment"
    )


def encode_wav(
    samples: "list[int]", sample_rate: int = 16_000, n_channels: int = 1
) -> bytes:
    """REAL codec (stdlib `wave` + `struct`): encode 16-bit signed PCM
    samples as a RIFF/WAVE payload. Used to synthesize genuine audio
    payloads for the decode path below."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(n_channels)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


def decode_wav(payload: bytes) -> dict:
    """REAL codec (stdlib `wave` + `struct`): parse a RIFF/WAVE payload
    — header fields AND the PCM frames — into typed features. This is
    the honest-decode leg of `decode_audio`: no third-party libs, runs
    end-to-end in this container, and is exercised by the
    `multimodal_wav_stats` catalog query whose oracle recomputes every
    stat from first principles."""
    import io
    import struct
    import wave

    with wave.open(io.BytesIO(payload), "rb") as w:
        n_channels = w.getnchannels()
        sample_rate = w.getframerate()
        sampwidth = w.getsampwidth()
        n_frames = w.getnframes()
        frames = w.readframes(n_frames)
    if sampwidth != 2:
        raise NotImplementedError("only 16-bit PCM decode implemented")
    samples = struct.unpack(f"<{n_frames * n_channels}h", frames)
    return {
        "n_channels": n_channels,
        "sample_rate": sample_rate,
        "n_samples": n_frames * n_channels,
        "sum_abs": sum(abs(s) for s in samples),
        "peak": max((abs(s) for s in samples), default=0),
    }


def wav_append_info(payload: bytes, fields: "list[tuple[str, str]]") -> bytes:
    """Append a RIFF `LIST`/`INFO` metadata chunk (the WAV tagging
    convention: INAM title, IART artist, ILNG language, ...) and patch
    the RIFF size field — each sub-chunk word-aligned with a NUL pad
    byte as RIFF requires. The declared RIFF size must match the
    buffer exactly (8 + size == len) — a stale size or trailing bytes
    would make the patched header lie about where the LIST chunk sits,
    so that input raises instead."""
    import struct as _struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("wav: not a RIFF/WAVE payload")
    if len(payload) < 12:
        raise ValueError("wav: truncated RIFF header")
    if 8 + _struct.unpack_from("<I", payload, 4)[0] != len(payload):
        raise ValueError(
            "wav: declared RIFF size does not match the buffer "
            "(stale size or trailing bytes)"
        )
    body = bytearray(b"INFO")
    for fourcc, value in fields:
        v = value.encode("utf-8") + b"\x00"  # NUL-terminated per convention
        if len(v) % 2:
            v += b"\x00"
        body += fourcc.encode("ascii") + _struct.pack("<I", len(v)) + v
    chunk = b"LIST" + _struct.pack("<I", len(body)) + bytes(body)
    new_size = len(payload) + len(chunk) - 8
    return payload[:4] + _struct.pack("<I", new_size) + payload[8:] + chunk


def parse_wav_info(payload: bytes) -> dict:
    """RIFF chunk walk: fmt fields, data byte count, and the
    LIST/INFO tag fields. Validates the RIFF/WAVE magic, the declared
    RIFF size against the buffer, per-chunk bounds, and word-aligned
    stepping; raises on violations (corrupt-upload quarantine)."""
    import struct as _struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("wav: not a RIFF/WAVE payload")
    (riff_size,) = _struct.unpack_from("<I", payload, 4)
    if 8 + riff_size > len(payload):
        raise ValueError("wav: RIFF size overruns the payload")
    pos, end = 12, 8 + riff_size
    fmt = None
    data_bytes = None
    info: "list[tuple[str, str]]" = []
    n_chunks = 0
    while pos + 8 <= end:
        cid = payload[pos : pos + 4]
        (clen,) = _struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + clen]
        if len(body) != clen:
            raise ValueError(f"wav: chunk {cid!r} overruns the payload")
        n_chunks += 1
        if cid == b"fmt ":
            if clen < 16:
                raise ValueError("wav: fmt chunk too short")
            fmt_tag, n_ch, rate = _struct.unpack_from("<HHI", body)
            bits = _struct.unpack_from("<H", body, 14)[0]
            fmt = {
                "format": fmt_tag,
                "n_channels": n_ch,
                "sample_rate": rate,
                "bits": bits,
            }
        elif cid == b"data":
            data_bytes = clen
        elif cid == b"LIST" and body[:4] == b"INFO":
            at = 4
            while at + 8 <= clen:
                sub = body[at : at + 4]
                (slen,) = _struct.unpack_from("<I", body, at + 4)
                sval = body[at + 8 : at + 8 + slen]
                if len(sval) != slen:
                    raise ValueError(f"wav: INFO field {sub!r} overruns LIST")
                info.append(
                    (sub.decode("ascii"), sval.rstrip(b"\x00").decode("utf-8"))
                )
                at += 8 + slen + (slen % 2)
        pos += 8 + clen + (clen % 2)
    if fmt is None:
        raise ValueError("wav: no fmt chunk")
    return {
        "fmt": fmt,
        "data_bytes": data_bytes,
        "info": info,
        "n_chunks": n_chunks,
    }


def decode_audio(payload: bytes) -> "object":
    """Audio decode: RIFF/WAVE payloads via the stdlib parser
    (`decode_wav`), FLAC via the zero-dep Rice/LPC decoder in
    llm/flac.py; only codecs that genuinely require third-party DSP
    libraries (mp3 granules, Vorbis/Opus samples) stay honestly
    stubbed — their CONTAINERS demux fine (parse_mp3_frames /
    parse_ogg_pages: frame counts, durations, tag/CRC validation) and
    Vorbis/Opus streams IDENTIFY fine (parse_vorbis_id_header /
    parse_opus_id_header: codec, sample rate, channels, pre-skip),
    just no PCM."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return decode_wav(payload)
    if payload[:4] == b"fLaC":
        from dynamodb_to_datalake_project_spark.llm.flac import decode_flac

        return decode_flac(payload)
    raise NotImplementedError(
        "only WAV and FLAC PCM decode available in this environment "
        "(mp3/ogg demux: parse_mp3_frames / parse_ogg_pages; ogg codec "
        "identification: identify_ogg_codec)"
    )


def to_binary_docs(docs: DataFrame, mime: str = "text/plain") -> DataFrame:
    """Wrap a text corpus as multimodal records (payload = UTF-8 bytes,
    metadata derived JVM-side)."""
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.length(payload).cast("long").alias("n_bytes"),
            F.md5(payload).alias("checksum"),
            F.lit(mime).alias("mime"),
        ).alias("meta"),
    )


def extract_features(binary_docs: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    `map_rows` processes whole Arrow record batches per partition —
    the shape a real decode (image resize, audio frame-sample) plugs
    into. The fake feature is deterministic so tests/oracles can verify
    the full binary round-trip.
    """

    def row(doc_id, payload):
        feature = (len(payload) * 7 + (payload[0] if payload else 0)) % 997
        yield doc_id, len(payload), hashlib.md5(payload).hexdigest(), feature

    return map_rows(binary_docs.select("doc_id", "payload"), row, FEATURE_SCHEMA)


@query(
    "multimodal_features",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS checksum,
           CAST((octet_length(encode(text)) * 7 + ascii(substr(text, 1, 1))) % 997
                AS BIGINT) AS fake_feature
    FROM documents
    """,
)
def q_multimodal_features(spark, sf_dir):
    """documents → binary payload + metadata → map_rows feature
    extraction; the SQL oracle recomputes every feature from the text,
    so a single flipped byte anywhere in the Arrow round-trip fails."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return extract_features(to_binary_docs(docs))


WAV_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_channels", T.LongType()),
        T.StructField("sample_rate", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("n_payload_bytes", T.LongType()),
        T.StructField("sum_abs", T.LongType()),
        T.StructField("peak", T.LongType()),
    ]
)


def wav_roundtrip_stats(docs: DataFrame, max_samples: int = 256) -> DataFrame:
    """Synthesize a REAL 16-bit PCM WAV payload per document
    (deterministic samples derived from doc_id), then decode it with
    the stdlib WAV parser and emit the decoded features — the full
    encode → binary payload → decode → features path with an actual
    codec, in Arrow batches.

    Samples are sample[i] = ((doc_id*131 + i*7919) % 65536) - 32768
    over n = min(n_chars, max_samples) — a pure function of
    (doc_id, n_chars), so an independent SQL oracle can recompute the
    decoded stats without running the codec: agreement proves the
    header fields, frame count, payload size, AND every PCM sample
    survived the WAV container bit-for-bit."""

    def row(doc_id, n_chars):
        # NULL n_chars is None — treat as an empty
        # payload (0 samples), mirroring the oracle's coalesce
        n = 0 if n_chars is None else min(n_chars, max_samples)
        samples = [
            ((doc_id * 131 + i * 7919) % 65536) - 32768
            for i in range(n)
        ]
        payload = encode_wav(samples)
        feat = decode_wav(payload)
        yield (
            doc_id,
            feat["n_channels"],
            feat["sample_rate"],
            feat["n_samples"],
            len(payload),
            feat["sum_abs"],
            feat["peak"],
        )

    return map_rows(docs.select("doc_id", "n_chars"), row, WAV_STATS_SCHEMA)


@query(
    "multimodal_wav_stats",
    oracle="""
    WITH t AS (
      SELECT doc_id, least(coalesce(n_chars, 0), 256) AS n FROM documents
    ), s AS (
      SELECT doc_id, n,
             list_transform(range(0, n),
               i -> abs(((doc_id * 131 + i * 7919) % 65536) - 32768)) AS a
      FROM t
    )
    SELECT doc_id,
           CAST(1 AS BIGINT) AS n_channels,
           CAST(16000 AS BIGINT) AS sample_rate,
           CAST(n AS BIGINT) AS n_samples,
           CAST(44 + 2 * n AS BIGINT) AS n_payload_bytes,
           CAST(coalesce(list_sum(a), 0) AS BIGINT) AS sum_abs,
           CAST(coalesce(list_max(a), 0) AS BIGINT) AS peak
    FROM s
    """,
)
def q_multimodal_wav_stats(spark, sf_dir):
    """WAV encode → decode round trip over the documents table with
    the stdlib PCM codec; the oracle recomputes header fields, the
    44-byte-header payload size, and exact sample statistics from
    first principles — a flipped byte anywhere in the container or
    the PCM frames fails the hash."""
    docs = load_table(spark, sf_dir, "documents")
    return wav_roundtrip_stats(docs)


WAV_TAGS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("title", T.StringType()),
        T.StructField("language", T.StringType()),
        T.StructField("artist", T.StringType()),
        T.StructField("sample_rate", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("data_bytes", T.LongType()),
        T.StructField("n_chunks", T.LongType()),
    ]
)


def wav_tags_stats(docs: DataFrame) -> DataFrame:
    """Per document: a real 16-bit PCM WAV with a LIST/INFO tag chunk
    appended (RIFF size patched), the chunk walk run back over it, and
    the stdlib decode re-run on the tagged payload to prove the tags
    leave the PCM frames intact. Arrow `map_rows`, map-only."""

    def row(did, lang):
        n = 2 + did % 3
        samples = [((did * 131 + i) % 65536) - 32768 for i in range(n)]
        fields = [("INAM", f"doc-{did}"), ("ILNG", str(lang))]
        if did % 5 == 0:
            fields.append(("IART", f"artist-{did % 7}"))
        tagged = wav_append_info(encode_wav(samples), fields)
        d = parse_wav_info(tagged)
        feat = decode_wav(tagged)  # stdlib decode still clean
        if feat["n_samples"] != n:
            raise ValueError("wav: tag append corrupted frames")
        tags = dict(d["info"])
        yield (
            did,
            tags.get("INAM"),
            tags.get("ILNG"),
            tags.get("IART"),
            d["fmt"]["sample_rate"],
            feat["n_samples"],
            d["data_bytes"],
            d["n_chunks"],
        )

    return map_rows(docs.select("doc_id", "lang"), row, WAV_TAGS_SCHEMA, spread=True)


@query(
    "multimodal_wav_tags",
    oracle="""
    SELECT doc_id,
           'doc-' || CAST(doc_id AS VARCHAR) AS title,
           lang AS language,
           CASE WHEN doc_id % 5 = 0
                THEN 'artist-' || CAST(doc_id % 7 AS VARCHAR) END AS artist,
           CAST(16000 AS BIGINT) AS sample_rate,
           CAST(2 + doc_id % 3 AS BIGINT) AS n_samples,
           CAST(2 * (2 + doc_id % 3) AS BIGINT) AS data_bytes,
           CAST(3 AS BIGINT) AS n_chunks
    FROM documents
    """,
)
def q_multimodal_wav_tags(spark, sf_dir):
    """WAV LIST/INFO metadata: the RIFF tagging convention (INAM/ILNG/
    IART) appended with a patched RIFF size, chunk-walked back out,
    and the stdlib PCM decode re-verified on the tagged payload. ILNG
    carries the actual `lang` column, so the oracle reads it off
    `documents` with no parser — closing the tags family across
    MP3/Ogg/FLAC/PNG/JPEG/WAV."""
    docs = load_table(spark, sf_dir, "documents")
    return wav_tags_stats(docs)


FLAC_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_channels", T.LongType()),
        T.StructField("sample_rate", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("sum_abs", T.LongType()),
        T.StructField("peak", T.LongType()),
        T.StructField("ord_checksum", T.LongType()),
    ]
)


def flac_roundtrip_stats(docs: DataFrame, max_frames: int = 192) -> DataFrame:
    """Synthesize a REAL stereo FLAC payload per document (deterministic
    per-channel samples derived from doc_id), decode it with the
    zero-dep Rice/fixed-predictor codec, and emit the decoded stats —
    including a position-weighted checksum over the INTERLEAVED sample
    sequence, so channel order and frame stitching are pinned, not
    just value multisets. block_size=64 forces multiple frames per
    payload (n up to 192), exercising frame numbering, per-frame CRCs,
    and the STREAMINFO MD5 across frame boundaries. FLAC is lossless,
    so the SQL oracle recomputes everything from the sample formula
    with no codec."""
    from dynamodb_to_datalake_project_spark.llm.flac import (
        decode_flac_samples,
        encode_flac,
    )

    def row(did, n_chars):
        n = 0 if n_chars is None else min(n_chars, max_frames)
        samples = []
        for i in range(n):
            samples.append(((did * 131 + i * 7919) % 65536) - 32768)
            samples.append(((did * 37 + i * 101) % 65536) - 32768)
        payload = encode_flac(samples, n_channels=2, block_size=64)
        d = decode_flac_samples(payload)
        dec = d["samples"]
        yield (
            did,
            d["n_channels"],
            d["sample_rate"],
            len(dec),
            sum(abs(s) for s in dec),
            max((abs(s) for s in dec), default=0),
            sum((i + 1) * s for i, s in enumerate(dec)),
        )

    # spread the Arrow batches across cores (same rationale as the
    # JPEG/WebP stats stages: real per-doc Python codec work, 1-2
    # parquet input splits)
    return map_rows(
        docs.select("doc_id", "n_chars"), row, FLAC_STATS_SCHEMA, spread=True
    )


@query(
    "multimodal_flac_stats",
    oracle="""
    WITH t AS (
      SELECT doc_id, least(coalesce(n_chars, 0), 192) AS n FROM documents
    ), s AS (
      SELECT doc_id, n,
             list_transform(range(0, 2 * n), i -> CASE
               WHEN i % 2 = 0
               THEN ((doc_id * 131 + (i // 2) * 7919) % 65536) - 32768
               ELSE ((doc_id * 37 + (i // 2) * 101) % 65536) - 32768
             END) AS a
      FROM t
    )
    SELECT doc_id,
           CAST(2 AS BIGINT) AS n_channels,
           CAST(16000 AS BIGINT) AS sample_rate,
           CAST(2 * n AS BIGINT) AS n_samples,
           CAST(coalesce(list_sum(list_transform(a, v -> abs(v))), 0)
             AS BIGINT) AS sum_abs,
           CAST(coalesce(list_max(list_transform(a, v -> abs(v))), 0)
             AS BIGINT) AS peak,
           CAST(coalesce(list_sum(list_transform(range(0, 2 * n),
             i -> (i + 1) * a[i + 1])), 0) AS BIGINT) AS ord_checksum
    FROM s
    """,
)
def q_multimodal_flac_stats(spark, sf_dir):
    """Stereo FLAC encode → decode over the documents table with the
    zero-dep codec (llm/flac.py); the DuckDB oracle recomputes channel
    count, sample counts, exact PCM statistics, and the interleaved
    position-weighted checksum from the sample formula alone — a full
    hash-match gate over Rice coding, fixed predictors, frame CRCs,
    and channel interleaving."""
    docs = load_table(spark, sf_dir, "documents")
    return flac_roundtrip_stats(docs)


def flac_insert_metadata(payload: bytes, blocks: "list[tuple[int, bytes]]") -> bytes:
    """Insert metadata blocks after the existing ones of a FLAC stream
    (RFC 9639 §8): walk the block chain, clear every last-block flag,
    append the new (type, body) blocks with the flag set on the final
    one. The audio frames are untouched."""
    import struct as _struct

    if payload[:4] != b"fLaC":
        raise ValueError("flac: bad stream marker")
    out = bytearray(b"fLaC")
    pos = 4
    while True:
        hdr = payload[pos]
        (length,) = _struct.unpack(">I", b"\x00" + payload[pos + 1 : pos + 4])
        out += bytes([hdr & 0x7F]) + payload[pos + 1 : pos + 4 + length]
        pos += 4 + length
        if hdr >> 7:
            break
    for i, (btype, body) in enumerate(blocks):
        last = 0x80 if i == len(blocks) - 1 else 0
        out += bytes([last | btype]) + len(body).to_bytes(3, "big") + body
    return bytes(out) + payload[pos:]


def parse_flac_metadata(payload: bytes) -> dict:
    """FLAC metadata-chain walk (RFC 9639 §8): STREAMINFO fields plus
    the parsed VORBIS_COMMENT block (§8.6 — the same little-endian
    comment structure as OpusTags, with no magic and no framing bit).
    Raises on a missing marker, truncated chain, a STREAMINFO that is
    not first (spec MUST), or a malformed comment structure."""
    import struct as _struct

    if payload[:4] != b"fLaC":
        raise ValueError("flac: bad stream marker")
    pos, first, streaminfo, comments = 4, True, None, None
    types: "list[int]" = []
    while True:
        if pos + 4 > len(payload):
            raise ValueError("flac: truncated metadata chain")
        hdr = payload[pos]
        btype = hdr & 0x7F
        (length,) = _struct.unpack(">I", b"\x00" + payload[pos + 1 : pos + 4])
        body = payload[pos + 4 : pos + 4 + length]
        if len(body) != length:
            raise ValueError("flac: truncated metadata block")
        if first and btype != 0:
            raise ValueError("flac: first metadata block must be STREAMINFO")
        first = False
        types.append(btype)
        if btype == 0:
            from dynamodb_to_datalake_project_spark.llm.flac import _Reader

            r = _Reader(body)
            r.read(16); r.read(16); r.read(24); r.read(24)
            streaminfo = {
                "sample_rate": r.read(20),
                "n_channels": r.read(3) + 1,
                "bps": r.read(5) + 1,
                "total_samples": r.read(36),
            }
        elif btype == 4:
            comments = _parse_comment_body(body, 0, framed=False)
        pos += 4 + length
        if hdr >> 7:
            break
    return {"streaminfo": streaminfo, "comments": comments, "block_types": types}


FLAC_TAGS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("vendor", T.StringType()),
        T.StructField("n_comments", T.LongType()),
        T.StructField("title", T.StringType()),
        T.StructField("language", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("sample_rate", T.LongType()),
        T.StructField("total_samples", T.LongType()),
    ]
)


def flac_tags_stats(docs: DataFrame) -> DataFrame:
    """Per document: a real (tiny) FLAC stream with a VORBIS_COMMENT
    block spliced into the metadata chain, walked back out — tags AND
    STREAMINFO in one pass, then the full sample decode re-run on the
    tagged payload to prove the splice leaves the audio bit-exact.
    Arrow `map_rows`, map-only."""
    from dynamodb_to_datalake_project_spark.llm.flac import (
        decode_flac_samples,
        encode_flac,
    )

    def row(did, lang, source):
        n = 2 + did % 3
        samples = [((did * 131 + i) % 65536) - 32768 for i in range(n)]
        plain = encode_flac(samples, n_channels=1, block_size=64)
        comments = [("TITLE", f"doc-{did}"), ("LANGUAGE", str(lang))]
        if did % 4 == 0:
            comments.append(("SOURCE", str(source)))
        body = _encode_comment_body("spark-graft flac", comments)
        tagged = flac_insert_metadata(plain, [(4, body)])
        d = parse_flac_metadata(tagged)
        dec = decode_flac_samples(tagged)  # audio still bit-exact
        if dec["samples"] != samples:
            raise ValueError("flac: tag splice corrupted audio")
        tags = dict(d["comments"]["comments"])
        yield (
            did,
            d["comments"]["vendor"],
            d["comments"]["n_comments"],
            tags.get("TITLE"),
            tags.get("LANGUAGE"),
            tags.get("SOURCE"),
            d["streaminfo"]["sample_rate"],
            d["streaminfo"]["total_samples"],
        )

    return map_rows(
        docs.select("doc_id", "lang", "source"), row, FLAC_TAGS_SCHEMA, spread=True
    )


@query(
    "multimodal_flac_tags",
    oracle="""
    SELECT doc_id,
           'spark-graft flac' AS vendor,
           CAST(CASE WHEN doc_id % 4 = 0 THEN 3 ELSE 2 END AS BIGINT)
             AS n_comments,
           'doc-' || CAST(doc_id AS VARCHAR) AS title,
           lang AS language,
           CASE WHEN doc_id % 4 = 0 THEN source END AS source,
           CAST(16000 AS BIGINT) AS sample_rate,
           CAST(2 + doc_id % 3 AS BIGINT) AS total_samples
    FROM documents
    """,
)
def q_multimodal_flac_tags(spark, sf_dir):
    """FLAC VORBIS_COMMENT metadata (RFC 9639 §8.6): a comment block
    spliced into a real FLAC metadata chain (last-flag rewrite), tags
    + STREAMINFO walked back out, and the sample decode re-verified on
    the tagged payload. LANGUAGE/SOURCE carry actual table columns, so
    the DuckDB oracle reads them off `documents` with no parser —
    completing the tags family across MP3/Ogg/FLAC."""
    docs = load_table(spark, sf_dir, "documents")
    return flac_tags_stats(docs)


IMAGE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("n_pixels", T.LongType()),
        T.StructField("n_payload_bytes", T.LongType()),
        T.StructField("sum_rgb", T.LongType()),
        T.StructField("peak", T.LongType()),
        T.StructField("n_resized_bytes", T.LongType()),
        T.StructField("resized_sum", T.LongType()),
    ]
)


def bmp_roundtrip_stats(docs: DataFrame, max_chars: int = 126) -> DataFrame:
    """Synthesize a REAL 24-bit BMP payload per document (deterministic
    7×H pixel grid derived from doc_id), decode it with the stdlib BMP
    parser, nearest-neighbor resize it to 3×2, decode THAT, and emit
    typed features of both — the full encode → binary → decode →
    transform → re-encode → decode chain with an actual codec, in
    Arrow batches.

    Width is 7 ON PURPOSE: 7×3 = 21 bytes/row pads to 24, so the BMP
    row-padding logic is exercised on every row. Pixel (p, channel c)
    value = (doc_id*131 + p*7919 + c*104729) % 256 over H = n//7 + 1
    rows with n = min(n_chars, max_chars) — a pure function of
    (doc_id, n_chars), so an independent SQL oracle recomputes the
    dimensions, padded payload size, exact channel statistics, AND the
    resized image's pixels without running the codec: agreement proves
    headers, bottom-up row order, BGR packing, padding, and the
    nearest-neighbor index math all survived bit-for-bit."""

    import numpy as np

    def row(did, n_chars):
        # clamp BOTH ends: NULL and negative n_chars (corrupt
        # metadata) degrade to the minimal 7x1 image, mirroring
        # the oracle's greatest(0, least(...)) — never a
        # negative height crashing the Arrow batch
        n = 0 if n_chars is None else max(0, min(n_chars, max_chars))
        h = n // 7 + 1
        # deterministic pixel grid as one vectorized expression
        p = np.arange(7 * h, dtype=np.int64)[:, None]
        c = np.arange(3, dtype=np.int64)[None, :]
        px = ((did * 131 + p * 7919 + c * 104729) % 256).reshape(h, 7, 3)
        payload = encode_bmp_array(px, 7, h)
        img = decode_bmp_array(payload)
        flat = img["px"].astype(np.int64)
        resized = resize_image(payload, 3, 2)
        rflat = decode_bmp_array(resized)["px"].astype(np.int64)
        yield (
            did,
            img["width"],
            img["height"],
            img["width"] * img["height"],
            len(payload),
            int(flat.sum()),
            int(flat.max()),
            len(resized),
            int(rflat.sum()),
        )

    return map_rows(docs.select("doc_id", "n_chars"), row, IMAGE_STATS_SCHEMA)


@query(
    "multimodal_image_stats",
    oracle="""
    WITH t AS (
      SELECT doc_id, greatest(0, least(coalesce(n_chars, 0), 126)) // 7 + 1 AS h
      FROM documents
    ), px AS (
      SELECT doc_id, h,
             list_transform(range(0, 7 * h * 3),
               i -> (doc_id * 131 + (i // 3) * 7919 + (i % 3) * 104729) % 256) AS v,
             list_transform(range(0, 18),
               i -> (doc_id * 131
                     + ((i // 9) * h // 2 * 7 + ((i // 3) % 3) * 7 // 3) * 7919
                     + (i % 3) * 104729) % 256) AS rv
      FROM t
    )
    SELECT doc_id,
           CAST(7 AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(7 * h AS BIGINT) AS n_pixels,
           CAST(54 + 24 * h AS BIGINT) AS n_payload_bytes,
           CAST(list_sum(v) AS BIGINT) AS sum_rgb,
           CAST(list_max(v) AS BIGINT) AS peak,
           CAST(78 AS BIGINT) AS n_resized_bytes,
           CAST(list_sum(rv) AS BIGINT) AS resized_sum
    FROM px
    """,
)
def q_multimodal_image_stats(spark, sf_dir):
    """BMP encode → decode → nearest-neighbor resize → decode over the
    documents table with the stdlib codec; the oracle recomputes the
    dimensions, the padded payload size (7px rows: 21 data bytes → 24),
    exact per-channel pixel statistics, and the resized 3×2 image's
    pixels via the same src = dst*src_dim//dst_dim index math — a
    flipped byte anywhere in the container, row order, BGR packing,
    padding, or resampling fails the hash."""
    docs = load_table(spark, sf_dir, "documents")
    return bmp_roundtrip_stats(docs)


JPEG_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("n_pixels", T.LongType()),
        T.StructField("sum_rgb", T.LongType()),
        T.StructField("peak", T.LongType()),
        T.StructField("block_checksum", T.LongType()),
        T.StructField("uniform_blocks", T.LongType()),
    ]
)


def jpeg_roundtrip_stats(docs: DataFrame) -> DataFrame:
    """Synthesize a REAL baseline JPEG per document and prove the full
    encode → binary → decode chain against an independent SQL oracle —
    despite JPEG being lossy.

    The trick that makes an EXACT oracle possible: each image is
    piecewise-flat on the 8×8 DCT grid (2 block-rows × wb block-cols,
    wb = 2 + doc_id % 2; block k is the solid color
    r=(id*31+k*41)%199+17, g=(id*37+k*43)%199+17, b=(id*29+k*47)%199+17).
    A flat block has zero AC energy, so only the DC coefficient
    survives quantization, and at quality 95 (Annex-K DC steps of 2)
    the worst-case reconstruction error per channel is
    q/16 + 1.772·q/16 ≈ 0.35 < 0.5 — the rounded decode is therefore
    bit-identical to the source color. The oracle recomputes
    dimensions, exact pixel sums, peak, a position-weighted block
    checksum, and the per-block-uniformity count from the color
    formula alone (no codec); every statistic here is computed from
    the DECODED pixels, so Huffman tables, byte stuffing, zigzag,
    dequantization, IDCT, DC prediction across MCUs, and the JFIF
    color transform all have to survive bit-for-bit to match."""

    import numpy as np

    def row(did):
        wb = 2 + did % 2
        w, h = 8 * wb, 16
        k = np.arange(2 * wb, dtype=np.int64)
        cols = np.stack(
            [
                (did * 31 + k * 41) % 199 + 17,
                (did * 37 + k * 43) % 199 + 17,
                (did * 29 + k * 47) % 199 + 17,
            ],
            axis=1,
        )  # (2*wb, 3)
        px = (
            cols.reshape(2, wb, 3)[:, None, :, None, :]
            .repeat(8, axis=1)
            .repeat(8, axis=3)
            .reshape(h, w, 3)
            .astype(np.uint8)
        )
        payload = encode_jpeg(px, w, h, quality=95)
        img = decode_jpeg_array(payload)
        flat = img["px"].astype(np.int64)
        bv = flat.reshape(2, 8, wb, 8, 3)
        ptp = bv.max(axis=(1, 3)) - bv.min(axis=(1, 3))  # (2, wb, 3)
        uniform = int((ptp.max(axis=2) == 0).sum())
        tl = bv[:, 0, :, 0, :].reshape(2 * wb, 3)  # block colors
        weights = np.arange(1, 2 * wb + 1, dtype=np.int64)
        checksum = int(
            (weights * (tl[:, 0] + 2 * tl[:, 1] + 3 * tl[:, 2])).sum()
        )
        yield (
            did,
            img["width"],
            img["height"],
            img["width"] * img["height"],
            int(flat.sum()),
            int(flat.max()),
            checksum,
            uniform,
        )

    # spread the Arrow batches across all cores BEFORE the map: the
    # codec costs ~1.3 ms/doc of real Python DCT+Huffman work, and the
    # documents parquet arrives in 1-2 input splits — without this
    # exchange (1 long column, cheap) the whole corpus encodes on two
    # cores (measured 7.0 s -> sub-second at sf0.1/local[32])
    return map_rows(docs.select("doc_id"), row, JPEG_STATS_SCHEMA, spread=True)


@query(
    "multimodal_jpeg_stats",
    oracle="""
    WITH t AS (
      SELECT doc_id, 2 + doc_id % 2 AS wb FROM documents
    ), p AS (
      SELECT doc_id, wb,
        list_transform(range(0, 2 * wb),
          k -> (doc_id * 31 + k * 41) % 199 + 17) AS rs,
        list_transform(range(0, 2 * wb),
          k -> (doc_id * 37 + k * 43) % 199 + 17) AS gs,
        list_transform(range(0, 2 * wb),
          k -> (doc_id * 29 + k * 47) % 199 + 17) AS bs
      FROM t
    )
    SELECT doc_id,
           CAST(8 * wb AS BIGINT) AS width,
           CAST(16 AS BIGINT) AS height,
           CAST(128 * wb AS BIGINT) AS n_pixels,
           CAST(64 * (list_sum(rs) + list_sum(gs) + list_sum(bs)) AS BIGINT)
             AS sum_rgb,
           CAST(greatest(list_max(rs), list_max(gs), list_max(bs)) AS BIGINT)
             AS peak,
           CAST(list_sum(list_transform(range(0, 2 * wb),
             k -> (k + 1) * ((doc_id * 31 + k * 41) % 199 + 17
                             + 2 * ((doc_id * 37 + k * 43) % 199 + 17)
                             + 3 * ((doc_id * 29 + k * 47) % 199 + 17))))
             AS BIGINT) AS block_checksum,
           CAST(2 * wb AS BIGINT) AS uniform_blocks
    FROM p
    """,
)
def q_multimodal_jpeg_stats(spark, sf_dir):
    """JPEG encode → decode over the documents table with the zero-dep
    baseline T.81 codec; piecewise-flat 8×8 blocks make the lossy
    round-trip exactly predictable (see `jpeg_roundtrip_stats`), so
    the DuckDB oracle recomputes every statistic from the color
    formula with no codec at all — a full hash-match gate over
    Huffman coding, IDCT, DC prediction, and color conversion."""
    docs = load_table(spark, sf_dir, "documents")
    return jpeg_roundtrip_stats(docs)


JPEG_EXIF_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("byte_order", T.StringType()),
        T.StructField("n_ifd0", T.LongType()),
        T.StructField("orientation", T.LongType()),
        T.StructField("description", T.StringType()),
        T.StructField("exif_datetime", T.StringType()),
        T.StructField("pixel_x", T.LongType()),
        T.StructField("pixel_y", T.LongType()),
        T.StructField("exposure_num", T.LongType()),
        T.StructField("exposure_den", T.LongType()),
    ]
)


def jpeg_exif_stats(docs: DataFrame) -> DataFrame:
    """Synthesize a real 8x8 baseline JPEG per document, splice in a
    conformant APP1 Exif segment (byte order alternating II/MM by
    doc parity — both wire dialects exercised at every batch), and
    extract the routing metadata with the TIFF IFD walk. Arrow row
    kernel (`map_rows`), map-only."""
    import struct as _struct

    import numpy as np

    def row(did):
        big = did % 2 == 1
        e = ">" if big else "<"
        dt = f"2024:01:{1 + did % 28:02d} {did % 24:02d}:00:00"
        ifd0 = [
            (0x010E, *_exif_ascii(f"doc-{did}")),
            (0x0112, 3, 1, _struct.pack(e + "H", 1 + did % 8)),
            (0x0132, *_exif_ascii(dt)),
        ]
        exif_ifd = [
            (0x829A, 5, 1, _struct.pack(e + "II", 1, 50 + did % 200)),
            (0xA002, 4, 1, _struct.pack(e + "I", 8)),
            (0xA003, 4, 1, _struct.pack(e + "I", 8)),
        ]
        app1 = encode_exif_app1(ifd0, exif_ifd, big_endian=big)
        px = np.full((8, 8, 3), (did * 31) % 199 + 17, dtype=np.uint8)
        jpg = encode_jpeg(px, 8, 8, quality=95)
        payload = jpg[:2] + app1 + jpg[2:]  # APP1 right after SOI
        d = parse_jpeg_exif(payload)
        yield (
            did,
            d["byte_order"],
            d["n_ifd0"],
            d["orientation"],
            d["description"],
            d["datetime"],
            d["pixel_x"],
            d["pixel_y"],
            d["exposure_num"],
            d["exposure_den"],
        )

    return map_rows(docs.select("doc_id"), row, JPEG_EXIF_SCHEMA, spread=True)


@query(
    "multimodal_jpeg_exif",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 1 THEN 'MM' ELSE 'II' END AS byte_order,
           CAST(4 AS BIGINT) AS n_ifd0,
           CAST(1 + doc_id % 8 AS BIGINT) AS orientation,
           'doc-' || CAST(doc_id AS VARCHAR) AS description,
           '2024:01:' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
             || ' ' || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0')
             || ':00:00' AS exif_datetime,
           CAST(8 AS BIGINT) AS pixel_x,
           CAST(8 AS BIGINT) AS pixel_y,
           CAST(1 AS BIGINT) AS exposure_num,
           CAST(50 + doc_id % 200 AS BIGINT) AS exposure_den
    FROM documents
    """,
)
def q_multimodal_jpeg_exif(spark, sf_dir):
    """EXIF metadata extraction: a real APP1 (TIFF 6.0 IFD0 + Exif
    sub-IFD, alternating little/big endian) spliced into a real
    baseline JPEG, walked back out tag by tag — orientation,
    description, capture time, pixel dims, exposure rational; the
    fields image-ingest routes and dedups on before any pixel decode.
    The oracle replays the tag formulas straight off `documents`, so a
    hash match pins marker walk, endian handling, inline-vs-offset
    packing, and every type decode (n_ifd0 = 3 written tags + the
    ExifIFD pointer)."""
    docs = load_table(spark, sf_dir, "documents")
    return jpeg_exif_stats(docs)


PNG_TEXT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("title", T.StringType()),
        T.StructField("comment", T.StringType()),
        T.StructField("comment_lang", T.StringType()),
        T.StructField("compressed", T.LongType()),
        T.StructField("ppu_x", T.LongType()),
        T.StructField("n_chunks", T.LongType()),
    ]
)


def png_text_stats(docs: DataFrame) -> DataFrame:
    """Per document: a real 2x2 PNG with tEXt + iTXt (compressed on
    every third doc) + pHYs spliced after IHDR, metadata walked back
    out, and the pixel decode re-run on the spliced payload to prove
    the chunks leave the image bit-exact. Arrow `map_rows`,
    map-only."""
    import struct as _struct
    import zlib as _zlib

    import numpy as np

    def row(did, lang):
        px = np.full((2, 2, 3), (did * 13) % 251, dtype=np.uint8)
        plain = encode_png(px, 2, 2)
        comp = 1 if did % 3 == 0 else 0
        txt = f"c-{did}".encode("utf-8")
        itxt = (
            b"Comment\x00"
            + bytes((comp, 0))
            + str(lang).encode("ascii")
            + b"\x00\x00"
            + (_zlib.compress(txt) if comp else txt)
        )
        phys = _struct.pack(">IIB", 2835 + did % 100, 2835, 1)
        tagged = png_insert_chunks(
            plain,
            [
                (b"tEXt", b"Title\x00" + f"doc-{did}".encode("latin-1")),
                (b"iTXt", itxt),
                (b"pHYs", phys),
            ],
        )
        d = parse_png_metadata(tagged)
        dec = decode_png_array(tagged)  # pixels still bit-exact
        if not (dec["px"] == px).all():
            raise ValueError("png: text splice corrupted pixels")
        tmap = {k: (lg, v) for k, lg, v in d["texts"]}
        yield (
            did,
            d["width"],
            d["height"],
            tmap["Title"][1],
            tmap["Comment"][1],
            tmap["Comment"][0],
            comp,
            d["phys"]["ppu_x"],
            d["n_chunks"],
        )

    return map_rows(docs.select("doc_id", "lang"), row, PNG_TEXT_SCHEMA, spread=True)


@query(
    "multimodal_png_text",
    oracle="""
    SELECT doc_id,
           CAST(2 AS BIGINT) AS width,
           CAST(2 AS BIGINT) AS height,
           'doc-' || CAST(doc_id AS VARCHAR) AS title,
           'c-' || CAST(doc_id AS VARCHAR) AS comment,
           lang AS comment_lang,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS compressed,
           CAST(2835 + doc_id % 100 AS BIGINT) AS ppu_x,
           CAST(6 AS BIGINT) AS n_chunks
    FROM documents
    """,
)
def q_multimodal_png_text(spark, sf_dir):
    """PNG ancillary metadata (spec §11.3): tEXt/iTXt/pHYs spliced
    into a real PNG with live CRCs, walked back out (iTXt zlib
    inflation on every third doc), pixel decode re-verified on the
    tagged payload. The iTXt language tag carries the actual `lang`
    column, so the oracle reads it off `documents` with no parser —
    the image-side counterpart of the MP3/Ogg/FLAC tags family."""
    docs = load_table(spark, sf_dir, "documents")
    return png_text_stats(docs)


GIF_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("comment", T.StringType()),
        T.StructField("loop_count", T.LongType()),
        T.StructField("n_images", T.LongType()),
    ]
)


def gif_meta_stats(docs: DataFrame) -> DataFrame:
    """Per document: a real GIF89a with a Comment Extension and a
    NETSCAPE2.0 loop count spliced after the global color table, the
    block walk run back over it, and the LZW pixel decode re-run on
    the tagged payload. Arrow `map_rows`, map-only."""

    import numpy as np

    def row(did):
        px = np.full((2, 2, 3), (did * 29) % 251, dtype=np.uint8)
        plain = encode_gif(px, 2, 2)
        tagged = gif_insert_extensions(
            plain, comment=f"doc-{did}", loop_count=did % 100
        )
        d = parse_gif_extensions(tagged)
        dec = decode_gif(tagged)  # LZW decode still clean
        if dec["pixels"] != [tuple(int(c) for c in p) for row in px for p in row]:
            raise ValueError("gif: extension splice corrupted pixels")
        yield (
            did,
            d["width"],
            d["height"],
            d["comment"],
            d["loop_count"],
            d["n_images"],
        )

    return map_rows(docs.select("doc_id"), row, GIF_META_SCHEMA, spread=True)


@query(
    "multimodal_gif_meta",
    oracle="""
    SELECT doc_id,
           CAST(2 AS BIGINT) AS width,
           CAST(2 AS BIGINT) AS height,
           'doc-' || CAST(doc_id AS VARCHAR) AS comment,
           CAST(doc_id % 100 AS BIGINT) AS loop_count,
           CAST(1 AS BIGINT) AS n_images
    FROM documents
    """,
)
def q_multimodal_gif_meta(spark, sf_dir):
    """GIF89a extension metadata: Comment + NETSCAPE2.0 loop count
    spliced into a real GIF, walked back out by the block walk
    (sub-block reassembly, image-descriptor skip without LZW decode),
    with the full pixel decode re-verified on the tagged payload —
    the last leg of the tags family (MP3/Ogg/FLAC/WAV/MP4/PNG/JPEG/
    GIF)."""
    docs = load_table(spark, sf_dir, "documents")
    return gif_meta_stats(docs)


WEBP_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("n_pixels", T.LongType()),
        T.StructField("sum_rgb", T.LongType()),
        T.StructField("peak", T.LongType()),
        T.StructField("checksum", T.LongType()),
    ]
)


def webp_roundtrip_stats(docs: DataFrame) -> DataFrame:
    """Synthesize a REAL lossless-WebP (VP8L) payload per document and
    prove the encode → binary → decode chain against an independent
    SQL oracle. VP8L is lossless, so the oracle recomputes every
    statistic straight from the pixel formula (w = 4 + id % 5,
    h = 3 + id % 4, channel c at (x, y) a small modular polynomial in
    id/x/y) with no codec — the prefix-code tables, canonical code
    assignment, bit order, and container framing all have to survive
    bit-for-bit for the decoded-pixel stats to match."""
    import numpy as np

    from dynamodb_to_datalake_project_spark.llm.webp import (
        decode_webp_array,
        encode_webp,
    )

    def row(did):
        w, h = 4 + did % 5, 3 + did % 4
        ys, xs = np.mgrid[0:h, 0:w]
        px = np.stack(
            [
                (did * 7 + xs * 11 + ys * 13) % 251,
                (did * 5 + xs * 3 + ys * 17) % 251,
                (did * 3 + xs * 19 + ys * 7) % 251,
            ],
            axis=2,
        ).astype(np.uint8)
        img = decode_webp_array(encode_webp(px, w, h))
        flat = img["px"].astype(np.int64)
        pos = (ys * w + xs + 1).astype(np.int64)
        weighted = (
            pos
            * (
                flat[:, :, 0]
                + 2 * flat[:, :, 1]
                + 3 * flat[:, :, 2]
            )
        ).sum()
        yield (
            did,
            img["width"],
            img["height"],
            img["width"] * img["height"],
            int(flat.sum()),
            int(flat.max()),
            int(weighted),
        )

    # same core-spreading exchange as the JPEG stats stage: the codec
    # is real per-doc Python work and the documents parquet arrives in
    # 1-2 input splits
    return map_rows(docs.select("doc_id"), row, WEBP_STATS_SCHEMA, spread=True)


@query(
    "multimodal_webp_stats",
    oracle="""
    WITH t AS (
      SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h FROM documents
    ), e AS (
      SELECT doc_id, w, h,
             u.i % w AS x, u.i // w AS y,
             (doc_id * 7 + (u.i % w) * 11 + (u.i // w) * 13) % 251 AS r,
             (doc_id * 5 + (u.i % w) * 3 + (u.i // w) * 17) % 251 AS g,
             (doc_id * 3 + (u.i % w) * 19 + (u.i // w) * 7) % 251 AS b
      FROM t, LATERAL (SELECT unnest(range(0, w * h)) AS i) u
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(w * h AS BIGINT) AS n_pixels,
           CAST(sum(r + g + b) AS BIGINT) AS sum_rgb,
           CAST(max(greatest(r, g, b)) AS BIGINT) AS peak,
           CAST(sum((y * w + x + 1) * (r + 2 * g + 3 * b)) AS BIGINT)
             AS checksum
    FROM e
    GROUP BY doc_id, w, h
    """,
)
def q_multimodal_webp_stats(spark, sf_dir):
    """Lossless-WebP encode → decode over the documents table with the
    zero-dep VP8L codec (llm/webp.py); the DuckDB oracle recomputes
    dimensions, exact pixel sums, peak, and a position-weighted
    checksum from the pixel formula alone — a full hash-match gate
    over VP8L prefix-code construction, bit packing, and the RIFF
    container."""
    docs = load_table(spark, sf_dir, "documents")
    return webp_roundtrip_stats(docs)


def resize_image(payload: bytes, width: int, height: int) -> bytes:
    """REAL resize for BMP/PNG/GIF/JPEG/WebP-lossless payloads:
    decode → nearest-neighbor sample (src = dst * src_dim // dst_dim,
    as a vectorized fancy-index) → re-encode IN THE SAME FORMAT.
    Binary in → binary out, the contract a `map_rows` pipeline
    stage plugs into; for formats without a stdlib codec the decode
    raises the honest stub."""
    import numpy as np

    if payload[:2] == b"BM":
        d, enc = decode_bmp_array(payload), encode_bmp_array
    elif payload[:8] == PNG_SIG:
        d, enc = decode_png_array(payload), encode_png
    elif payload[:6] in (b"GIF87a", b"GIF89a"):
        d, enc = decode_gif_array(payload), encode_gif
    elif payload[:2] == b"\xff\xd8":
        d, enc = decode_jpeg_array(payload), encode_jpeg
    elif payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        from dynamodb_to_datalake_project_spark.llm import webp as _webp

        d, enc = _webp.decode_webp_array(payload), _webp.encode_webp
    else:
        decode_image(payload)  # raises the format-specific stub
        raise AssertionError("unreachable")
    sw, sh, px = d["width"], d["height"], d["px"]
    ys = np.arange(height) * sh // height
    xs = np.arange(width) * sw // width
    return enc(px[ys][:, xs], width, height)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("n_frame_bytes", T.LongType()),
        T.StructField("frame_md5", T.StringType()),
    ]
)


def frame_sample(
    binary_docs: DataFrame, frame_chars: int = 64, every: int = 2
) -> DataFrame:
    """1:N frame sampling over binary payloads — the video-frame batch
    shape (one input record → several output rows), as opposed to
    `extract_features`' 1:1 shape. Deterministic fake framing: the
    payload decodes to text and "frames" are fixed 64-char windows,
    every 2nd one sampled — so a SQL oracle can recompute every frame
    checksum and byte length, proving the Arrow 1:N round-trip exactly.
    The REAL-codec version of this shape is `video_frame_stats` below
    (AVI/MJPEG demux + per-frame T.81 decode); this one keeps a
    text-derived oracle so the 1:N Arrow mechanics are pinned
    independently of any codec."""
    import hashlib as _hashlib

    def row(doc_id, payload):
        s = payload.decode("utf-8")
        nframes = (len(s) + frame_chars - 1) // frame_chars
        for i in range(0, nframes, every):
            b = s[i * frame_chars : (i + 1) * frame_chars].encode("utf-8")
            yield doc_id, i, len(b), _hashlib.md5(b).hexdigest()

    return map_rows(binary_docs.select("doc_id", "payload"), row, FRAME_SCHEMA)


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH t AS (
      SELECT doc_id, text, length(text) AS n FROM documents WHERE length(text) >= 1
    )
    SELECT doc_id,
           CAST(u.i AS BIGINT) AS frame_idx,
           CAST(octet_length(encode(substring(text, u.i * 64 + 1, 64))) AS BIGINT)
             AS n_frame_bytes,
           md5(substring(text, u.i * 64 + 1, 64)) AS frame_md5
    FROM t, LATERAL (
      SELECT unnest(range(0, CAST(ceil(n / 64.0) AS BIGINT), 2)) AS i
    ) u
    """,
)
def q_multimodal_frame_sample(spark, sf_dir):
    """documents → binary payload → 1:N frame sampling; the oracle
    recomputes every sampled frame's md5 and byte count from the text,
    so any drift in the Arrow 1:N expansion (frame boundaries, count,
    bytes) fails the hash."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return frame_sample(to_binary_docs(docs))


# ---------------------------------------------------------------------------
# REAL video: AVI/MJPEG container over the zero-dep T.81 JPEG codec


def encode_avi_mjpeg(
    frames: "list", width: int, height: int, fps: int = 10, quality: int = 95
) -> bytes:
    """REAL video encode: a list of (h, w, 3) uint8 RGB frames -> a
    valid RIFF/AVI container with an MJPEG video stream (each frame a
    genuine baseline JPEG from `encode_jpeg`), including avih/strh/
    strf headers and an idx1 index. Zero third-party deps; any
    standard player/demuxer reads it."""
    import struct

    payloads = [encode_jpeg(f, width, height, quality=quality) for f in frames]

    def chunk(fourcc: bytes, data: bytes) -> bytes:
        pad = b"\x00" if len(data) & 1 else b""
        return fourcc + struct.pack("<I", len(data)) + data + pad

    def lst(fourcc: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", fourcc + data)

    max_bytes = max((len(p) for p in payloads), default=0)
    avih = struct.pack(
        "<14I",
        1_000_000 // fps, max_bytes * fps, 0, 0x10,  # AVIF_HASINDEX
        len(payloads), 0, 1, max_bytes, width, height, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIiI4H",
        b"vids", b"MJPG", 0, 0, 0, 0, 1, fps, 0, len(payloads),
        max_bytes, -1, 0, 0, 0, width, height,
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40, width, height, 1, 24, b"MJPG", width * height * 3, 0, 0, 0, 0,
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi_chunks, idx, off = [], [], 4  # offsets relative to 'movi' fourcc
    for p in payloads:
        movi_chunks.append(chunk(b"00dc", p))
        idx.append(struct.pack("<4sIII", b"00dc", 0x10, off, len(p)))
        off += 8 + len(p) + (len(p) & 1)
    movi = lst(b"movi", b"".join(movi_chunks))
    idx1 = chunk(b"idx1", b"".join(idx))
    return chunk(b"RIFF", b"AVI " + hdrl + movi + idx1)


def decode_avi_frames(payload: bytes, every: int = 1) -> dict:
    """REAL video decode + frame sampling: RIFF/AVI walk to the MJPEG
    stream, then decode every `every`-th frame with the zero-dep T.81
    decoder — skipped frames are never decoded (the container walk is
    O(bytes), the expensive IDCT work only runs on sampled frames,
    which is the point of frame sampling at 100 TB). Returns dims,
    total frame count, and the decoded sampled frames."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")

    def walk(data: bytes, pos: int, end: int):
        while pos + 8 <= end:
            fourcc = data[pos : pos + 4]
            (size,) = struct.unpack_from("<I", data, pos + 4)
            body = data[pos + 8 : pos + 8 + size]
            if len(body) != size:
                raise ValueError("truncated AVI chunk")
            yield fourcc, pos + 8, size
            pos += 8 + size + (size & 1)

    width = height = total = None
    jpeg_spans: "list[tuple[int, int]]" = []
    stack = [(12, len(payload))]
    while stack:
        start, end = stack.pop()
        for fourcc, body_off, size in walk(payload, start, end):
            if fourcc == b"LIST":
                stack.append((body_off + 4, body_off + size))
            elif fourcc == b"avih":
                vals = struct.unpack_from("<14I", payload, body_off)
                total, width, height = vals[4], vals[8], vals[9]
            elif fourcc in (b"00dc", b"00db"):
                jpeg_spans.append((body_off, size))
    if width is None:
        raise ValueError("AVI payload has no avih header")
    if total is not None and total != len(jpeg_spans):
        raise ValueError("AVI frame count disagrees with movi chunks")
    frames = [
        decode_jpeg_array(payload[off : off + size])["px"]
        for off, size in jpeg_spans[::every]
    ]
    return {
        "width": width,
        "height": height,
        "n_frames": len(jpeg_spans),
        "sampled_idx": list(range(0, len(jpeg_spans), every)),
        "frames": frames,
    }


def decode_video(payload: bytes) -> dict:
    """Video decode: RIFF/AVI MJPEG payloads are decoded for real
    (container walk + per-frame T.81 JPEG); containers that genuinely
    require third-party codecs (mp4/h264, webm/vp9) stay honestly
    stubbed."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        return decode_avi_frames(payload)
    if len(payload) >= 8 and payload[4:8] == b"ftyp":
        raise NotImplementedError(
            "mp4: container DEMUX is available (parse_mp4_boxes — track "
            "layout, codecs, sample tables incl. fMP4 fragments, duration) "
            "but frame decode of H.264/VP9/AAC payloads needs third-party "
            "codecs"
        )
    if payload[:4] == bytes.fromhex("1A45DFA3"):
        raise NotImplementedError(
            "webm: container DEMUX is available (llm.ebml.parse_webm — "
            "tracks, codecs, block accounting, duration) but VP9/Opus "
            "frame decode needs third-party codecs"
        )
    raise NotImplementedError(
        "only AVI/MJPEG video decode available in this environment "
        "(mp4/webm frame decode needs third-party codecs; demux: "
        "parse_mp4_boxes / llm.ebml.parse_webm)"
    )


VIDEO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("r", T.LongType()),
        T.StructField("g", T.LongType()),
        T.StructField("b", T.LongType()),
    ]
)


def video_frame_stats(docs: DataFrame, every: int = 2) -> DataFrame:
    """Synthesize a REAL MJPEG video per document (2 + doc_id % 3
    flat-color 8x8 frames — the piecewise-flat trick from
    `jpeg_roundtrip_stats` makes the lossy per-frame decode exactly
    predictable), demux + decode every 2nd frame, and emit one row per
    SAMPLED frame with its decoded color — the 1:N video-frame batch
    shape with a REAL container and a REAL codec end-to-end. Skipped
    frames are never IDCT'd."""
    import numpy as np

    def row(did):
        nf = 2 + did % 3
        frames = []
        for f in range(nf):
            col = np.array(
                [
                    (did * 31 + f * 41) % 199 + 17,
                    (did * 37 + f * 43) % 199 + 17,
                    (did * 29 + f * 47) % 199 + 17,
                ],
                dtype=np.uint8,
            )
            frames.append(np.broadcast_to(col, (8, 8, 3)).copy())
        payload = encode_avi_mjpeg(frames, 8, 8, quality=95)
        d = decode_avi_frames(payload, every=every)
        for idx, px in zip(d["sampled_idx"], d["frames"]):
            flat = px.reshape(-1, 3)
            yield (
                did,
                idx,
                d["n_frames"],
                d["width"],
                d["height"],
                int(flat[0, 0]),
                int(flat[0, 1]),
                int(flat[0, 2]),
            )

    return map_rows(docs.select("doc_id"), row, VIDEO_FRAME_SCHEMA, spread=True)


@query(
    "multimodal_video_frames",
    oracle="""
    WITH t AS (
      SELECT doc_id, 2 + doc_id % 3 AS nf FROM documents
    )
    SELECT doc_id,
           CAST(u.f AS BIGINT) AS frame_idx,
           CAST(nf AS BIGINT) AS n_frames,
           CAST(8 AS BIGINT) AS width,
           CAST(8 AS BIGINT) AS height,
           CAST((doc_id * 31 + u.f * 41) % 199 + 17 AS BIGINT) AS r,
           CAST((doc_id * 37 + u.f * 43) % 199 + 17 AS BIGINT) AS g,
           CAST((doc_id * 29 + u.f * 47) % 199 + 17 AS BIGINT) AS b
    FROM t, LATERAL (SELECT unnest(range(0, nf, 2)) AS f) u
    """,
)
def q_multimodal_video_frames(spark, sf_dir):
    """REAL video frame sampling over the documents table: MJPEG
    encode (AVI container + per-frame T.81 JPEG) → demux → decode
    every 2nd frame → one row per sampled frame. Flat 8x8 frames at
    quality 95 decode bit-exactly (see jpeg_roundtrip_stats), so the
    DuckDB oracle recomputes every sampled frame's color, index, and
    count from the formula with no codec — a full hash-match over the
    container framing, the index math, AND the per-frame JPEG
    decode."""
    docs = load_table(spark, sf_dir, "documents")
    return video_frame_stats(docs)


# ---------------------------------------------------------------------------
# REAL MP4/ISO-BMFF container demux (ISO/IEC 14496-12 box walk) —
# the demux half of the AVI leg above. Reference parity: the reference
# has no media operators at all (SURVEY.md §2); this belongs to the
# LLM-pipeline multimodal tier. Frame DECODE of the sample payloads
# (H.264/VP9/AAC/Vorbis) genuinely requires third-party codecs and
# stays honestly stubbed (`decode_video`); everything a 100 TB
# curation pass needs from a video file WITHOUT decoding it — track
# layout, codec fourcc, sample counts/bytes, duration — is real.


def _mp4_box(fourcc: bytes, payload: bytes) -> bytes:
    import struct

    return struct.pack(">I", 8 + len(payload)) + fourcc + payload


def _mp4_full(fourcc: bytes, version: int, flags: int, payload: bytes) -> bytes:
    import struct

    return _mp4_box(fourcc, struct.pack(">B3s", version, flags.to_bytes(3, "big")) + payload)


_MP4_MATRIX = (
    b"\x00\x01\x00\x00" + b"\x00" * 12 + b"\x00\x01\x00\x00" + b"\x00" * 12
    + b"\x40\x00\x00\x00"
)


def encode_mp4_container(
    tracks: "list[dict]", movie_timescale: int = 1000
) -> bytes:
    """REAL ISO-BMFF encode: ftyp + moov (mvhd + one trak per entry)
    + mdat. Each track dict: handler ('vide'|'soun'), codec (4-char
    fourcc), timescale, sample_delta, samples (list[bytes]), and for
    video width/height. All samples of a track form ONE chunk in mdat
    (stsc: 1 run), sizes in stsz, the chunk's absolute file offset in
    stco — a layout every standard demuxer reads. The sample PAYLOADS
    are opaque here (no encoder for H.264/AAC exists in this
    environment); the container framing is the real thing.

    Presentation timing (ISO 14496-12 §8.6): optional per-track
    'ctts_offsets' (one composition offset per sample; run-length
    compressed on write, version 1 if any offset is negative — the
    modern B-frame idiom) and 'edits' (list of (segment_duration in
    MOVIE timescale, media_time) elst entries, rate 1.0; media_time -1
    = empty edit, segment_duration 0 on the last entry = to-end).
    Optional 'sync_samples' (1-based sample indices) writes an stss
    sync-sample table (§8.6.2: absent = every sample is a keyframe).
    'ctts_version'/'elst_version' force box versions for goldens."""
    import struct

    def trak_box(t: "dict", track_id: int, stco_off: int) -> bytes:
        n = len(t["samples"])
        dur_units = n * t["sample_delta"]
        dur_movie = dur_units * movie_timescale // t["timescale"]
        is_video = t["handler"] == "vide"
        w, h = (t.get("width", 0), t.get("height", 0)) if is_video else (0, 0)
        tkhd = _mp4_full(
            b"tkhd", 0, 3,
            struct.pack(">IIII", 0, 0, track_id, 0)
            + struct.pack(">II", dur_movie, 0)
            + struct.pack(">IHHHH", 0, 0, 0, 0 if is_video else 0x0100, 0)
            + _MP4_MATRIX
            + struct.pack(">II", w << 16, h << 16),
        )
        mdhd = _mp4_full(
            b"mdhd", 0, 0,
            struct.pack(">IIIIHH", 0, 0, t["timescale"], dur_units, 0x55C4, 0),
        )
        hdlr = _mp4_full(
            b"hdlr", 0, 0,
            struct.pack(">I4s", 0, t["handler"].encode())
            + b"\x00" * 12 + b"demux\x00",
        )
        codec = t["codec"].encode()
        if is_video:
            entry = _mp4_box(
                codec,
                b"\x00" * 6 + struct.pack(">H", 1)  # data_reference_index
                + b"\x00" * 16
                + struct.pack(">HH", w, h)
                + struct.pack(">II", 0x00480000, 0x00480000)
                + struct.pack(">IH", 0, 1)
                + b"\x00" * 32
                + struct.pack(">Hh", 24, -1),
            )
            mhd = _mp4_full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
        else:
            entry = _mp4_box(
                codec,
                b"\x00" * 6 + struct.pack(">H", 1)
                + b"\x00" * 8
                # the sample-entry samplerate is 16.16 fixed-point and
                # informational; mdhd's 32-bit timescale is authoritative,
                # so rates >= 2^16 store truncated here (as real muxers do)
                + struct.pack(
                    ">HHHHI", 2, 16, 0, 0, (t["timescale"] & 0xFFFF) << 16
                ),
            )
            mhd = _mp4_full(b"smhd", 0, 0, struct.pack(">HH", 0, 0))
        stsd = _mp4_full(b"stsd", 0, 0, struct.pack(">I", 1) + entry)
        stts = _mp4_full(
            b"stts", 0, 0, struct.pack(">III", 1, n, t["sample_delta"])
        )
        stss = b""
        if t.get("sync_samples") is not None:
            idx = sorted(t["sync_samples"])
            if idx and (idx[0] < 1 or idx[-1] > n):
                raise ValueError("mp4: stss sample index out of range")
            stss = _mp4_full(
                b"stss", 0, 0,
                struct.pack(">I", len(idx))
                + b"".join(struct.pack(">I", i) for i in idx),
            )
        ctts = b""
        if t.get("ctts_offsets") is not None:
            offs = t["ctts_offsets"]
            if len(offs) != n:
                raise ValueError("mp4: ctts_offsets length != sample count")
            runs: "list[tuple[int, int]]" = []
            for o in offs:
                if runs and runs[-1][1] == o:
                    runs[-1] = (runs[-1][0] + 1, o)
                else:
                    runs.append((1, o))
            v = t.get(
                "ctts_version", 1 if any(o < 0 for o in offs) else 0
            )
            if v == 0 and any(o < 0 for o in offs):
                raise ValueError("mp4: negative ctts offsets need version 1")
            fmt = ">Ii" if v else ">II"
            ctts = _mp4_full(
                b"ctts", v, 0,
                struct.pack(">I", len(runs))
                + b"".join(struct.pack(fmt, c, o) for c, o in runs),
            )
        stsc = _mp4_full(b"stsc", 0, 0, struct.pack(">IIII", 1, 1, n, 1))
        stsz = _mp4_full(
            b"stsz", 0, 0,
            struct.pack(">II", 0, n)
            + b"".join(struct.pack(">I", len(s)) for s in t["samples"]),
        )
        stco = _mp4_full(b"stco", 0, 0, struct.pack(">II", 1, stco_off))
        stbl = _mp4_box(b"stbl", stsd + stts + ctts + stss + stsc + stsz + stco)
        dref = _mp4_full(
            b"dref", 0, 0, struct.pack(">I", 1) + _mp4_full(b"url ", 0, 1, b"")
        )
        minf = _mp4_box(b"minf", mhd + _mp4_box(b"dinf", dref) + stbl)
        mdia = _mp4_box(b"mdia", mdhd + hdlr + minf)
        edts = b""
        if t.get("edits"):
            v = t.get("elst_version", 0)
            entries = b""
            for seg_dur, media_time in t["edits"]:
                if v:
                    entries += struct.pack(">Qq", seg_dur, media_time)
                else:
                    entries += struct.pack(">Ii", seg_dur, media_time)
                entries += struct.pack(">hh", 1, 0)  # rate 1.0 (16.16)
            edts = _mp4_box(
                b"edts",
                _mp4_full(
                    b"elst", v, 0, struct.pack(">I", len(t["edits"])) + entries
                ),
            )
        return _mp4_box(b"trak", tkhd + edts + mdia)

    ftyp = _mp4_box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2mp41")
    movie_dur = max(
        (
            len(t["samples"]) * t["sample_delta"] * movie_timescale // t["timescale"]
            for t in tracks
        ),
        default=0,
    )
    mvhd = _mp4_full(
        b"mvhd", 0, 0,
        struct.pack(">IIII", 0, 0, movie_timescale, movie_dur)
        + struct.pack(">IH", 0x00010000, 0x0100) + b"\x00" * 10
        + _MP4_MATRIX + b"\x00" * 24 + struct.pack(">I", len(tracks) + 1),
    )

    # stco holds ABSOLUTE file offsets, which depend on moov's size —
    # build moov once with placeholder offsets to measure it (stco
    # entries are fixed-width, so the size cannot change), then again
    # with the real offsets
    def moov_with(offsets: "list[int]") -> bytes:
        traks = b"".join(
            trak_box(t, i + 1, offsets[i]) for i, t in enumerate(tracks)
        )
        return _mp4_box(b"moov", mvhd + traks)

    probe = moov_with([0] * len(tracks))
    base = len(ftyp) + len(probe) + 8  # + mdat header
    offsets, off = [], base
    for t in tracks:
        offsets.append(off)
        off += sum(len(s) for s in t["samples"])
    moov = moov_with(offsets)
    assert len(moov) == len(probe)
    mdat = _mp4_box(
        b"mdat", b"".join(s for t in tracks for s in t["samples"])
    )
    return ftyp + moov + mdat


_MP4_CONTAINERS = {
    b"moov", b"trak", b"mdia", b"minf", b"stbl", b"dinf", b"edts", b"udta",
}


def _apply_edit_list(
    cts: "list[int]", elst: "list[tuple[int, int, float]]",
    media_ts: int, movie_ts: int,
) -> "list[int | None]":
    """Map composition times to presentation times through an edit
    list (ISO 14496-12 §8.6.6): empty edits (media_time -1) insert
    leading presentation time; a normal edit presents the media range
    [media_time, media_time + duration·media_ts/movie_ts) at the
    running presentation cursor; duration 0 on the LAST entry means
    to-end. Samples no edit covers return None (trimmed — exactly what
    a negative-ctts lead frame plus a trim edit produces). Dwell
    (rate 0), rate-scaled edits, and edit lists that RE-present an
    already-presented media range (ISO 14496-12 allows a sample to be
    presented more than once; a single pts-per-sample column can't
    represent that) raise honestly — they need a player's timeline,
    not a demuxer's."""
    if not elst:
        return list(cts)
    out: "list[int | None]" = [None] * len(cts)
    pcur = 0
    for idx, (seg_dur, media_time, rate) in enumerate(elst):
        if media_time == -1:  # empty edit: presentation-time gap
            pcur += seg_dur * media_ts // movie_ts
            continue
        if rate == 0:
            raise NotImplementedError(
                "mp4: dwell edits (rate 0) not implemented"
            )
        if rate != 1.0:
            raise NotImplementedError(
                f"mp4: rate-scaled edits (rate {rate}) not implemented"
            )
        if seg_dur == 0:
            if idx != len(elst) - 1:
                raise ValueError(
                    "mp4: zero-duration edit segment before the last entry"
                )
            seg_media = None  # to end of media
        else:
            seg_media = seg_dur * media_ts // movie_ts
        for i, c in enumerate(cts):
            if c >= media_time and (
                seg_media is None or c < media_time + seg_media
            ):
                if out[i] is not None:
                    raise NotImplementedError(
                        "mp4: edit list re-presents an already-presented "
                        "sample (repeat presentations need a player "
                        "timeline, not one pts per sample)"
                    )
                out[i] = c - media_time + pcur
        if seg_media is None:
            break
        pcur += seg_media
    return out


def parse_mp4_boxes(payload: bytes) -> dict:
    """REAL ISO-BMFF demux: generic box walk (32-bit and 64-bit
    `largesize` boxes, size-0 run-to-end), then per-track sample-table
    resolution — stsc runs expanded against stco chunk offsets and
    stsz sizes, the general algorithm (not a single-chunk shortcut).
    Returns brand plus one dict per track: handler, codec fourcc,
    sample count/bytes, timescale, duration, dimensions, and the sum
    of each sample's FIRST payload byte (reading it proves the
    resolved offsets point at real mdat bytes). Raises on truncated
    boxes, missing moov/mdat, or sample spans outside the file —
    validation a 100 TB ingest filter needs to quarantine corrupt
    uploads WITHOUT decoding anything."""
    import struct

    def walk(pos: int, end: int):
        while pos + 8 <= end:
            start = pos
            (size,) = struct.unpack_from(">I", payload, pos)
            fourcc = payload[pos + 4 : pos + 8]
            body = pos + 8
            if size == 1:
                (size,) = struct.unpack_from(">Q", payload, pos + 8)
                body = pos + 16
            elif size == 0:
                size = end - pos
            if size < body - pos or pos + size > end:
                raise ValueError(f"mp4: truncated/invalid box {fourcc!r}")
            yield fourcc, start, body, pos + size
            pos += size

    if len(payload) < 8 or payload[4:8] != b"ftyp":
        raise ValueError("mp4: payload does not start with an ftyp box")
    brand = payload[8:12].decode("ascii", "replace")

    def parse_trak(lo: int, hi: int) -> dict:
        # each trak subtree walks with its OWN dict — a shared mutable
        # cursor across subtrees mixes tracks up under LIFO traversal
        cur: dict = {}
        stack = [(lo, hi)]
        while stack:
            a, b = stack.pop()
            for fourcc, _start, body, end in walk(a, b):
                if fourcc in _MP4_CONTAINERS:
                    stack.append((body, end))
                elif fourcc == b"tkhd":
                    v = payload[body]
                    o = body + (12 if v == 0 else 20)
                    (cur["track_id"],) = struct.unpack_from(">I", payload, o)
                    cur["width"] = (
                        struct.unpack_from(">I", payload, end - 8)[0] >> 16
                    )
                    cur["height"] = (
                        struct.unpack_from(">I", payload, end - 4)[0] >> 16
                    )
                elif fourcc == b"mdhd":
                    v = payload[body]
                    o = body + (12 if v == 0 else 20)
                    if v == 0:
                        cur["timescale"], cur["duration"] = struct.unpack_from(
                            ">II", payload, o
                        )
                    else:
                        (cur["timescale"],) = struct.unpack_from(
                            ">I", payload, o
                        )
                        (cur["duration"],) = struct.unpack_from(
                            ">Q", payload, o + 4
                        )
                elif fourcc == b"hdlr":
                    cur["handler"] = payload[body + 8 : body + 12].decode(
                        "ascii", "replace"
                    )
                elif fourcc == b"stsd":
                    cur["codec"] = payload[body + 12 : body + 16].decode(
                        "ascii", "replace"
                    )
                elif fourcc == b"stts":
                    (n,) = struct.unpack_from(">I", payload, body + 4)
                    cur["stts"] = [
                        struct.unpack_from(">II", payload, body + 8 + 8 * i)
                        for i in range(n)
                    ]
                elif fourcc == b"ctts":
                    v = payload[body]
                    (n,) = struct.unpack_from(">I", payload, body + 4)
                    # version 1 offsets are SIGNED (negative =
                    # composition before decode, the B-frame idiom)
                    fmt = ">Ii" if v else ">II"
                    cur["ctts"] = [
                        struct.unpack_from(fmt, payload, body + 8 + 8 * i)
                        for i in range(n)
                    ]
                elif fourcc == b"stss":
                    (n,) = struct.unpack_from(">I", payload, body + 4)
                    cur["stss"] = {
                        struct.unpack_from(">I", payload, body + 8 + 4 * i)[0]
                        for i in range(n)
                    }
                elif fourcc == b"elst":
                    v = payload[body]
                    (n,) = struct.unpack_from(">I", payload, body + 4)
                    ents, o = [], body + 8
                    for _ in range(n):
                        if v:
                            sd, mt = struct.unpack_from(">Qq", payload, o)
                            o += 16
                        else:
                            sd, mt = struct.unpack_from(">Ii", payload, o)
                            o += 8
                        ri, rf = struct.unpack_from(">hh", payload, o)
                        o += 4
                        ents.append((sd, mt, ri + rf / 65536))
                    cur["elst"] = ents
                elif fourcc == b"stsc":
                    (n,) = struct.unpack_from(">I", payload, body + 4)
                    cur["stsc"] = [
                        struct.unpack_from(">III", payload, body + 8 + 12 * i)
                        for i in range(n)
                    ]
                elif fourcc == b"stsz":
                    uniform, n = struct.unpack_from(">II", payload, body + 4)
                    cur["sizes"] = (
                        [uniform] * n
                        if uniform
                        else list(
                            struct.unpack_from(f">{n}I", payload, body + 12)
                        )
                    )
                elif fourcc in (b"stco", b"co64"):
                    (n,) = struct.unpack_from(">I", payload, body + 4)
                    fmt, w = (">I", 4) if fourcc == b"stco" else (">Q", 8)
                    cur["chunk_offsets"] = [
                        struct.unpack_from(fmt, payload, body + 8 + w * i)[0]
                        for i in range(n)
                    ]
        return cur

    def parse_traf(lo: int, hi: int, moof_start: int) -> dict:
        # one movie-fragment track run: tfhd (defaults + base), trun
        # (per-sample sizes/durations) — ISO 14496-12 §8.8
        tf: dict = {"trex": None}
        base = None
        d_dur = d_size = None
        runs: "list[tuple[int, list[int], list[int], list[int], int]]" = []
        for f3, _s3, b3, e3 in walk(lo, hi):
            if f3 == b"tfdt":
                v = payload[b3]
                (tf["tfdt"],) = struct.unpack_from(
                    ">Q" if v else ">I", payload, b3 + 4
                )
            elif f3 == b"tfhd":
                flags = int.from_bytes(payload[b3 + 1 : b3 + 4], "big")
                o = b3 + 4
                (tf["track_id"],) = struct.unpack_from(">I", payload, o)
                o += 4
                if flags & 0x1:  # base-data-offset-present
                    (base,) = struct.unpack_from(">Q", payload, o)
                    o += 8
                if flags & 0x2:  # sample-description-index
                    o += 4
                if flags & 0x8:  # default-sample-duration
                    (d_dur,) = struct.unpack_from(">I", payload, o)
                    o += 4
                if flags & 0x10:  # default-sample-size
                    (d_size,) = struct.unpack_from(">I", payload, o)
                    o += 4
                if flags & 0x20000:  # default-base-is-moof
                    base = moof_start
            elif f3 == b"trun":
                flags = int.from_bytes(payload[b3 + 1 : b3 + 4], "big")
                o = b3 + 4
                (n,) = struct.unpack_from(">I", payload, o)
                o += 4
                if not flags & 0x1:
                    raise ValueError(
                        "mp4: trun without data-offset unsupported "
                        "(runs would be ambiguous)"
                    )
                (doff,) = struct.unpack_from(">i", payload, o)
                o += 4
                if flags & 0x4:  # first-sample-flags
                    o += 4
                # trun version 1 composition offsets are SIGNED
                cfmt = ">i" if payload[b3] else ">I"
                sizes, durs, ctss = [], [], []
                for _ in range(n):
                    if flags & 0x100:
                        (d,) = struct.unpack_from(">I", payload, o)
                        o += 4
                        durs.append(d)
                    if flags & 0x200:
                        (s,) = struct.unpack_from(">I", payload, o)
                        o += 4
                        sizes.append(s)
                    if flags & 0x400:
                        o += 4
                    if flags & 0x800:
                        (c,) = struct.unpack_from(cfmt, payload, o)
                        o += 4
                        ctss.append(c)
                runs.append((n, sizes, durs, ctss, doff))
        if "track_id" not in tf:
            raise ValueError("mp4: traf without tfhd")
        if base is None:
            raise ValueError(
                "mp4: tfhd has neither base-data-offset nor "
                "default-base-is-moof"
            )
        tf.update(base=base, d_dur=d_dur, d_size=d_size, runs=runs)
        return tf

    tracks: "list[dict]" = []
    trex: "dict[int, tuple[int, int]]" = {}  # track_id -> (dur, size)
    frags: "list[dict]" = []
    saw_moov = saw_mdat = False
    last_seq = 0
    movie_timescale = 1000
    for fourcc, start, body, end in walk(0, len(payload)):
        if fourcc == b"mdat":
            saw_mdat = True
        elif fourcc == b"moov":
            saw_moov = True
            for f2, _s2, b2, e2 in walk(body, end):
                if f2 == b"mvhd":
                    v = payload[b2]
                    (movie_timescale,) = struct.unpack_from(
                        ">I", payload, b2 + (20 if v else 12)
                    )
                elif f2 == b"trak":
                    tracks.append(parse_trak(b2, e2))
                elif f2 == b"mvex":
                    for f3, _s3, b3, e3 in walk(b2, e2):
                        if f3 == b"trex":
                            tid, _sdi, td, tsz, _tf = struct.unpack_from(
                                ">IIIII", payload, b3 + 4
                            )
                            trex[tid] = (td, tsz)
        elif fourcc == b"moof":
            for f2, _s2, b2, e2 in walk(body, end):
                if f2 == b"mfhd":
                    (seq,) = struct.unpack_from(">I", payload, b2 + 4)
                    if seq != last_seq + 1:
                        raise ValueError(
                            f"mp4: fragment sequence gap (got {seq}, "
                            f"want {last_seq + 1})"
                        )
                    last_seq = seq
                elif f2 == b"traf":
                    frags.append(parse_traf(b2, e2, start))
    if not saw_moov:
        raise ValueError("mp4: no moov box")
    if not saw_mdat:
        raise ValueError("mp4: no mdat box")

    # resolve movie-fragment runs to absolute spans per track, with the
    # spec's default resolution order: trun entry > tfhd default > trex
    frag_spans: "dict[int, list[tuple[int, int]]]" = {}
    frag_dur: "dict[int, int]" = {}
    frag_times: "dict[int, list[tuple[int, int]]]" = {}  # tid -> (dts, cts)
    frag_cursor: "dict[int, int]" = {}  # decode time when tfdt is absent
    for tf in frags:
        tid = tf["track_id"]
        tx_dur, tx_size = trex.get(tid, (0, 0))
        # a zero trex default is the "truns always override" idiom —
        # treat it as absent so a sample that ends up 0-sized/0-length
        # is quarantined, not silently counted
        tx_dur, tx_size = tx_dur or None, tx_size or None
        # tfdt anchors the fragment's decode time; without one, decode
        # continues from the end of the track's previous fragment (§8.8.12)
        dt = tf.get("tfdt", frag_cursor.get(tid, 0))
        for n, sizes, durs, ctss, doff in tf["runs"]:
            off = tf["base"] + doff
            for i in range(n):
                sz = (
                    sizes[i]
                    if sizes
                    else tf["d_size"] if tf["d_size"] is not None else tx_size
                )
                du = (
                    durs[i]
                    if durs
                    else tf["d_dur"] if tf["d_dur"] is not None else tx_dur
                )
                if sz is None or du is None:
                    raise ValueError(
                        "mp4: fragment sample has no size/duration at any "
                        "default level (trun/tfhd/trex)"
                    )
                frag_spans.setdefault(tid, []).append((off, sz))
                frag_times.setdefault(tid, []).append(
                    (dt, dt + (ctss[i] if ctss else 0))
                )
                frag_dur[tid] = frag_dur.get(tid, 0) + du
                dt += du
                off += sz
        frag_cursor[tid] = dt

    out = []
    for t in tracks:
        sizes = t.get("sizes", [])
        offsets = t.get("chunk_offsets", [])
        stsc = t.get("stsc", [])
        # expand stsc runs: entry (first_chunk, samples_per_chunk, _)
        # applies to chunks [first_chunk, next_first_chunk)
        spans, si = [], 0
        for i, (first, per, _) in enumerate(stsc):
            last = stsc[i + 1][0] - 1 if i + 1 < len(stsc) else len(offsets)
            for ci in range(first - 1, last):
                off = offsets[ci]
                for _ in range(per):
                    if si >= len(sizes):
                        break
                    spans.append((off, sizes[si]))
                    off += sizes[si]
                    si += 1
        if si != len(sizes):
            raise ValueError("mp4: stsc/stsz sample count mismatch")

        # presentation timing (§8.6): decode times from stts runs,
        # composition = decode + ctts offset, presentation = composition
        # mapped through the edit list; movie-fragment samples continue
        # from tfdt with trun composition offsets
        deltas: "list[int]" = []
        for cnt, delta in t.get("stts", []):
            deltas += [delta] * cnt
        if deltas and len(deltas) != len(sizes):
            raise ValueError("mp4: stts/stsz sample count mismatch")
        dts_list, acc = [], 0
        for d in deltas:
            dts_list.append(acc)
            acc += d
        coffs: "list[int]" = []
        for cnt, coff in t.get("ctts", []):
            coffs += [coff] * cnt
        if coffs and len(coffs) != len(dts_list):
            raise ValueError("mp4: ctts/stts sample count mismatch")
        cts_list = [
            d + (coffs[i] if coffs else 0) for i, d in enumerate(dts_list)
        ]

        # movie-fragment samples append after the moov sample table
        # (empty for a pure fMP4 stream) in fragment order
        tid = t.get("track_id", 0)
        spans += frag_spans.pop(tid, [])
        for fdts, fcts in frag_times.pop(tid, []):
            dts_list.append(fdts)
            cts_list.append(fcts)
        pts_list = _apply_edit_list(
            cts_list, t.get("elst", []), t.get("timescale", 1) or 1,
            movie_timescale,
        )
        presented = [p for p in pts_list if p is not None]
        # stss: 1-based sync-sample indices; ABSENT means every sample
        # is a keyframe (§8.6.2). Movie-fragment samples (appended
        # after the moov table) count as sync here — the moov stss
        # cannot describe them (their sync bits live in trun
        # sample_flags, which this walk does not interpret).
        stss = t.get("stss")
        if stss is not None and stss and max(stss) > len(sizes):
            raise ValueError("mp4: stss sample index out of range")
        sync_pts = [
            p
            for i, p in enumerate(pts_list)
            if p is not None and (stss is None or i >= len(sizes) or i + 1 in stss)
        ]

        for off, sz in spans:
            if off + sz > len(payload):
                raise ValueError("mp4: sample span outside the file")
        out.append(
            {
                "track_id": tid,
                "handler": t.get("handler", "?"),
                "codec": t.get("codec", "?"),
                "n_samples": len(spans),
                "sample_bytes": sum(sz for _, sz in spans),
                "timescale": t.get("timescale", 0),
                "duration": t.get("duration", 0)
                + frag_dur.get(t.get("track_id", 0), 0),
                "width": t.get("width", 0),
                "height": t.get("height", 0),
                "first_byte_sum": sum(
                    payload[off] for off, sz in spans if sz > 0
                ),
                "n_presented": len(presented),
                "n_reordered": sum(
                    1 for d, c in zip(dts_list, cts_list) if c != d
                ),
                "pts_min": min(presented, default=0),
                "pts_max": max(presented, default=0),
                "pts_sum": sum(presented),
                "n_sync": len(sync_pts),
                "pts_sum_sync": sum(sync_pts),
            }
        )
    if frag_spans:
        raise ValueError(
            f"mp4: moof references unknown track ids {sorted(frag_spans)}"
        )
    return {"brand": brand, "tracks": out}


def encode_mp4_udta_tags(
    texts: "list[tuple[str, str]]", trkn: "tuple[int, int] | None" = None
) -> bytes:
    """A `udta` box carrying the iTunes-style tag tree (udta → meta
    [FullBox] → hdlr 'mdir' + ilst): each text tag is a 4CC item box
    (e.g. '©nam') holding one `data` box with type indicator 1 (UTF-8)
    and locale 0; `trkn` is the classic type-0 binary item
    (0, track, total, 0 as 16-bit fields)."""
    import struct as _struct

    items = bytearray()
    for fourcc, text in texts:
        fcc = fourcc.encode("latin-1")  # © = 0xA9
        if len(fcc) != 4:
            raise ValueError(f"mp4 tags: item code must be 4 bytes, got {fourcc!r}")
        data = _mp4_box(
            b"data", _struct.pack(">II", 1, 0) + text.encode("utf-8")
        )
        items += _mp4_box(fcc, data)
    if trkn is not None:
        data = _mp4_box(
            b"data",
            _struct.pack(">II", 0, 0) + _struct.pack(">HHHH", 0, *trkn, 0),
        )
        items += _mp4_box(b"trkn", data)
    hdlr = _mp4_full(
        b"hdlr", 0, 0, b"\x00" * 4 + b"mdir" + b"appl" + b"\x00" * 9
    )
    meta = _mp4_full(b"meta", 0, 0, hdlr + _mp4_box(b"ilst", bytes(items)))
    return _mp4_box(b"udta", meta)


def mp4_insert_udta(payload: bytes, udta: bytes) -> bytes:
    """Splice a `udta` box into the top-level `moov` of a finished
    ISO-BMFF file — the surgery a tagger actually performs: the moov
    size field is patched AND every stco/co64 chunk offset at or past
    the insertion point is shifted by the splice length, so the sample
    tables still resolve to the same mdat bytes (re-demuxing the
    tagged file is the proof). 64-bit `largesize` moov is rejected
    (our encoder never emits one)."""
    import struct as _struct

    pos, end = 0, len(payload)
    moov_at = moov_end = None
    while pos + 8 <= end:
        (size,) = _struct.unpack_from(">I", payload, pos)
        fourcc = payload[pos + 4 : pos + 8]
        if size == 1:
            raise ValueError("mp4 tags: 64-bit moov not supported")
        if size == 0:
            size = end - pos
        if size < 8 or pos + size > end:
            raise ValueError(f"mp4 tags: truncated box {fourcc!r}")
        if fourcc == b"moov":
            moov_at, moov_end = pos, pos + size
            break
        pos += size
    if moov_at is None:
        raise ValueError("mp4 tags: no moov box")
    delta = len(udta)
    out = bytearray(payload[:moov_end] + udta + payload[moov_end:])
    (moov_size,) = _struct.unpack_from(">I", out, moov_at)
    _struct.pack_into(">I", out, moov_at, moov_size + delta)

    # shift stco/co64 offsets >= the insertion point (mdat after moov)
    def shift(lo: int, hi: int) -> None:
        p = lo
        while p + 8 <= hi:
            (size,) = _struct.unpack_from(">I", out, p)
            fcc = bytes(out[p + 4 : p + 8])
            body = p + 8
            if size == 1:
                (size,) = _struct.unpack_from(">Q", out, p + 8)
                body = p + 16
            elif size == 0:
                size = hi - p
            if fcc in _MP4_CONTAINERS:
                shift(body, p + size)
            elif fcc in (b"stco", b"co64"):
                (n,) = _struct.unpack_from(">I", out, body + 4)
                wide = fcc == b"co64"
                for i in range(n):
                    at = body + 8 + i * (8 if wide else 4)
                    fmt = ">Q" if wide else ">I"
                    (off,) = _struct.unpack_from(fmt, out, at)
                    if off >= moov_end:
                        _struct.pack_into(fmt, out, at, off + delta)
            p += size

    shift(moov_at + 8, moov_end + delta)
    return bytes(out)


def parse_mp4_tags(payload: bytes) -> dict:
    """Walk moov → udta → meta (FullBox: 4 post-header bytes) → ilst
    and decode the tag items: type-1 `data` payloads as UTF-8, the
    type-0 `trkn` binary as (track, total). Raises on a missing tag
    tree, a non-'data' child, an unknown type indicator, or truncated
    boxes — corrupt-upload quarantine."""
    import struct as _struct

    def walk(lo: int, hi: int):
        p = lo
        while p + 8 <= hi:
            (size,) = _struct.unpack_from(">I", payload, p)
            fcc = payload[p + 4 : p + 8]
            body = p + 8
            if size == 1:
                (size,) = _struct.unpack_from(">Q", payload, p + 8)
                body = p + 16
            elif size == 0:
                size = hi - p
            if size < body - p or p + size > hi:
                raise ValueError(f"mp4 tags: truncated box {fcc!r}")
            yield fcc, body, p + size
            p += size

    def find(lo: int, hi: int, fourcc: bytes, skip: int = 0):
        for fcc, body, end in walk(lo, hi):
            if fcc == fourcc:
                return body + skip, end
        return None

    span = find(0, len(payload), b"moov")
    if span is None:
        raise ValueError("mp4 tags: no moov box")
    span = find(*span, b"udta")
    if span is None:
        raise ValueError("mp4 tags: no udta box")
    span = find(*span, b"meta", skip=4)  # FullBox version/flags
    if span is None:
        raise ValueError("mp4 tags: no meta box")
    span = find(*span, b"ilst")
    if span is None:
        raise ValueError("mp4 tags: no ilst box")
    texts: "list[tuple[str, str]]" = []
    trkn = None
    n_items = 0
    for fcc, body, end in walk(*span):
        n_items += 1
        d = find(body, end, b"data")
        if d is None:
            raise ValueError(f"mp4 tags: item {fcc!r} has no data box")
        dbody, dend = d
        typ, loc = _struct.unpack_from(">II", payload, dbody)
        val = payload[dbody + 8 : dend]
        if typ == 1:
            texts.append((fcc.decode("latin-1"), val.decode("utf-8")))
        elif typ == 0 and fcc == b"trkn":
            _z, track, total, _z2 = _struct.unpack(">HHHH", val)
            trkn = (track, total)
        else:
            raise ValueError(f"mp4 tags: unknown data type {typ} in {fcc!r}")
    return {"texts": texts, "trkn": trkn, "n_items": n_items}


MP4_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("track_id", T.LongType()),
        T.StructField("handler", T.StringType()),
        T.StructField("codec", T.StringType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("sample_bytes", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("first_byte_sum", T.LongType()),
    ]
)


def mp4_container_stats(docs: DataFrame) -> DataFrame:
    """Synthesize a REAL two-track mp4 per document (one video track —
    avc1 or mp4v by doc parity — and one mp4a audio track, sample
    sizes/bytes from integer formulas), demux it with
    `parse_mp4_boxes`, and emit one row per TRACK. Everything the
    demux recovers — codec fourcc, counts, per-sample byte sums,
    duration math, the first payload byte of every resolved sample
    offset — is re-derived by the SQL oracle from the same formulas
    with no parser, so a hash match pins the round trip end-to-end.
    Arrow `map_rows`, map-only: the per-document work never
    shuffles."""

    def row(did):
        nv, na = 3 + did % 5, 4 + did % 7
        w, h = 16 * (1 + did % 4), 16 * (1 + did % 3)
        vsamples = [
            bytes([(did * 3 + i * 17) % 256])
            + bytes([(did + i) % 256]) * (49 + (did * 7 + i * 13) % 100)
            for i in range(nv)
        ]
        asamples = [
            bytes([(did * 11 + i * 19) % 256])
            + bytes([(did + i) % 256]) * (19 + (did * 5 + i * 11) % 50)
            for i in range(na)
        ]
        payload = encode_mp4_container(
            [
                {
                    "handler": "vide",
                    "codec": "avc1" if did % 2 == 0 else "mp4v",
                    "timescale": 1000,
                    "sample_delta": 40,
                    "samples": vsamples,
                    "width": w,
                    "height": h,
                },
                {
                    "handler": "soun",
                    "codec": "mp4a",
                    "timescale": 48000,
                    "sample_delta": 1024,
                    "samples": asamples,
                },
            ]
        )
        d = parse_mp4_boxes(payload)
        for t in d["tracks"]:
            yield (
                did,
                t["track_id"],
                t["handler"],
                t["codec"],
                t["n_samples"],
                t["sample_bytes"],
                t["duration"] * 1000 // t["timescale"],
                t["width"],
                t["height"],
                t["first_byte_sum"],
            )

    return map_rows(docs.select("doc_id"), row, MP4_STATS_SCHEMA, spread=True)


@query(
    "multimodal_mp4_stats",
    oracle="""
    WITH t AS (
      SELECT doc_id, 3 + doc_id % 5 AS nv, 4 + doc_id % 7 AS na,
             16 * (1 + doc_id % 4) AS w, 16 * (1 + doc_id % 3) AS h
      FROM documents
    ), v AS (
      SELECT doc_id,
             CAST(1 AS BIGINT) AS track_id,
             'vide' AS handler,
             CASE WHEN doc_id % 2 = 0 THEN 'avc1' ELSE 'mp4v' END AS codec,
             CAST(nv AS BIGINT) AS n_samples,
             CAST((SELECT SUM(50 + (doc_id * 7 + u.i * 13) % 100)
                   FROM (SELECT unnest(range(0, nv)) AS i) u) AS BIGINT)
               AS sample_bytes,
             CAST(nv * 40 AS BIGINT) AS duration_ms,
             CAST(w AS BIGINT) AS width,
             CAST(h AS BIGINT) AS height,
             CAST((SELECT SUM((doc_id * 3 + u.i * 17) % 256)
                   FROM (SELECT unnest(range(0, nv)) AS i) u) AS BIGINT)
               AS first_byte_sum
      FROM t
    ), a AS (
      SELECT doc_id,
             CAST(2 AS BIGINT) AS track_id,
             'soun' AS handler,
             'mp4a' AS codec,
             CAST(na AS BIGINT) AS n_samples,
             CAST((SELECT SUM(20 + (doc_id * 5 + u.i * 11) % 50)
                   FROM (SELECT unnest(range(0, na)) AS i) u) AS BIGINT)
               AS sample_bytes,
             CAST((na * 1024 * 1000) // 48000 AS BIGINT) AS duration_ms,
             CAST(0 AS BIGINT) AS width,
             CAST(0 AS BIGINT) AS height,
             CAST((SELECT SUM((doc_id * 11 + u.i * 19) % 256)
                   FROM (SELECT unnest(range(0, na)) AS i) u) AS BIGINT)
               AS first_byte_sum
      FROM t
    )
    SELECT * FROM v UNION ALL SELECT * FROM a
    """,
)
def q_multimodal_mp4_stats(spark, sf_dir):
    """REAL MP4/ISO-BMFF demux over the documents table: build a valid
    two-track mp4 per document (opaque sample payloads — H.264/AAC
    DECODE is honestly out of scope in this environment), walk the box
    tree back, resolve every track's sample table (stsc×stco×stsz, the
    general expansion), and emit one row per track. The DuckDB oracle
    recomputes codec choice, sample counts, per-sample size sums,
    integer duration math, and the first-byte-of-every-sample checksum
    from the same formulas with no parser — a full hash match pins the
    encoder, the box walk, AND the offset resolution."""
    docs = load_table(spark, sf_dir, "documents")
    return mp4_container_stats(docs)


MP4_TAGS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("title", T.StringType()),
        T.StructField("artist", T.StringType()),
        T.StructField("year", T.StringType()),
        T.StructField("track_no", T.LongType()),
        T.StructField("track_total", T.LongType()),
        T.StructField("n_items", T.LongType()),
        T.StructField("first_byte_sum", T.LongType()),
    ]
)


def mp4_tags_stats(docs: DataFrame) -> DataFrame:
    """Per document: a real single-track mp4, an iTunes-style tag tree
    spliced into the finished file with `mp4_insert_udta` (moov size
    patched, stco offsets shifted), tags walked back out, and the FULL
    demux re-run on the tagged payload — the emitted first-byte sum
    comes from the TAGGED file's resolved sample offsets, so a hash
    match proves the offset surgery byte-exactly. Arrow `map_rows`,
    map-only."""

    def row(did, source):
        nv = 2 + did % 3
        vsamples = [
            bytes([(did * 3 + i * 17) % 256])
            + bytes([(did + i) % 256]) * (9 + (did + i) % 20)
            for i in range(nv)
        ]
        plain = encode_mp4_container(
            [
                {
                    "handler": "vide",
                    "codec": "avc1",
                    "timescale": 1000,
                    "sample_delta": 40,
                    "samples": vsamples,
                    "width": 16,
                    "height": 16,
                }
            ]
        )
        udta = encode_mp4_udta_tags(
            [
                ("©nam", f"doc-{did}"),
                ("©ART", str(source)),
                ("©day", str(2000 + did % 25)),
            ],
            trkn=(1 + did % 12, 12),
        )
        tagged = mp4_insert_udta(plain, udta)
        t = parse_mp4_tags(tagged)
        d = parse_mp4_boxes(tagged)  # offsets must still resolve
        texts = dict(t["texts"])
        yield (
            did,
            texts.get("©nam"),
            texts.get("©ART"),
            texts.get("©day"),
            t["trkn"][0],
            t["trkn"][1],
            t["n_items"],
            d["tracks"][0]["first_byte_sum"],
        )

    return map_rows(docs.select("doc_id", "source"), row, MP4_TAGS_SCHEMA, spread=True)


@query(
    "multimodal_mp4_tags",
    oracle="""
    SELECT doc_id,
           'doc-' || CAST(doc_id AS VARCHAR) AS title,
           source AS artist,
           CAST(2000 + doc_id % 25 AS VARCHAR) AS year,
           CAST(1 + doc_id % 12 AS BIGINT) AS track_no,
           CAST(12 AS BIGINT) AS track_total,
           CAST(4 AS BIGINT) AS n_items,
           CAST(list_sum(list_transform(range(0, 2 + doc_id % 3),
                i -> (doc_id * 3 + i * 17) % 256)) AS BIGINT)
             AS first_byte_sum
    FROM documents
    """,
)
def q_multimodal_mp4_tags(spark, sf_dir):
    """MP4/M4A iTunes-style tags (moov→udta→meta→ilst): the tag tree
    spliced into a FINISHED file — real tagger surgery, moov size
    patched and every stco offset shifted — then walked back out, with
    the full demux re-run on the tagged payload. `first_byte_sum` is
    read through the TAGGED file's sample tables, so the oracle hash
    match pins the offset patch, not just the text decode; ©ART
    carries the actual `source` column."""
    docs = load_table(spark, sf_dir, "documents")
    return mp4_tags_stats(docs)


MP4_PTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("container", T.StringType()),
        T.StructField("track_id", T.LongType()),
        T.StructField("handler", T.StringType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("n_presented", T.LongType()),
        T.StructField("n_reordered", T.LongType()),
        T.StructField("pts_min", T.LongType()),
        T.StructField("pts_max", T.LongType()),
        T.StructField("pts_sum", T.LongType()),
        T.StructField("n_sync", T.LongType()),
        T.StructField("pts_sum_sync", T.LongType()),
    ]
)


def mp4_pts_stats(docs: DataFrame) -> DataFrame:
    """Per-sample presentation timing through BOTH timing mechanisms of
    ISO 14496-12: a plain MP4 whose video track carries B-frame-style
    ctts composition offsets (negative for every third document —
    version 1) plus a lead-trim elst edit, and a fragmented MP4 whose
    trun entries carry per-sample composition offsets against tfdt
    decode anchors. The demux resolves DTS → CTS → PTS (the math any
    seek-accurate frame sampler needs) and emits per-track PTS
    aggregates; the oracle replays every number from the integer
    formulas. Arrow `map_rows`, map-only."""

    #: per-track fields, in schema order after doc_id and container
    track_keys = [f.name for f in MP4_PTS_SCHEMA.fields[2:]]

    def row(did):
        nv, na = 3 + did % 5, 4 + did % 7
        neg = 40 if did % 3 == 0 else 0
        vsamples = [bytes([(did + i) % 256]) * 8 for i in range(nv)]
        plain = encode_mp4_container(
            [
                {
                    "handler": "vide",
                    "codec": "avc1",
                    "timescale": 1000,
                    "sample_delta": 40,
                    "samples": vsamples,
                    "width": 16,
                    "height": 16,
                    "ctts_offsets": [
                        40 * ((did + i) % 3) - neg for i in range(nv)
                    ],
                    # every third sample is a keyframe (GOP-ish)
                    "sync_samples": [
                        i + 1 for i in range(nv) if (did + i) % 3 == 0
                    ],
                    # lead-trim edit: media_time = one frame for
                    # odd docs, to-end duration
                    "edits": [(0, 40 * (did % 2))],
                },
                {
                    "handler": "soun",
                    "codec": "mp4a",
                    "timescale": 48000,
                    "sample_delta": 1024,
                    "samples": [
                        bytes([(did + i) % 256]) * 4 for i in range(na)
                    ],
                },
            ]
        )
        for t in parse_mp4_boxes(plain)["tracks"]:
            yield did, "mp4", *(t[k] for k in track_keys)

        fneg = 40 if did % 5 == 0 else 0
        nfrag = 2 + did % 3
        frags = [
            [
                (
                    bytes([(did + f + j) % 256]) * 6,
                    40,
                    40 * ((did + f + j) % 2) - fneg,
                )
                for j in range(1 + (did + f) % 3)
            ]
            for f in range(nfrag)
        ]
        frag = encode_mp4_fragmented(
            [
                {
                    "handler": "vide",
                    "codec": "avc1",
                    "timescale": 1000,
                    "sample_delta": 40,
                    "width": 16,
                    "height": 16,
                    "fragments": frags,
                }
            ]
        )
        for t in parse_mp4_boxes(frag)["tracks"]:
            yield did, "fmp4", *(t[k] for k in track_keys)

    return map_rows(docs.select("doc_id"), row, MP4_PTS_SCHEMA, spread=True)


@query(
    "multimodal_mp4_pts_stats",
    oracle="""
    WITH t AS (
      SELECT doc_id, 3 + doc_id % 5 AS nv, 4 + doc_id % 7 AS na,
             CASE WHEN doc_id % 3 = 0 THEN 40 ELSE 0 END AS neg,
             40 * (doc_id % 2) AS mt,
             CASE WHEN doc_id % 5 = 0 THEN 40 ELSE 0 END AS fneg,
             2 + doc_id % 3 AS nfrag
      FROM documents
    ), vs AS (
      SELECT doc_id, mt, u.i, 40 * u.i AS dts,
             40 * u.i + 40 * ((doc_id + u.i) % 3) - neg AS cts,
             40 * ((doc_id + u.i) % 3) - neg AS coff,
             (doc_id + u.i) % 3 = 0 AS is_sync
      FROM t, LATERAL (SELECT unnest(range(0, nv)) AS i) u
    ), v AS (
      SELECT doc_id, 'mp4' AS container, CAST(1 AS BIGINT) AS track_id,
             'vide' AS handler,
             CAST(count(*) AS BIGINT) AS n_samples,
             CAST(count(*) FILTER (cts >= mt) AS BIGINT) AS n_presented,
             CAST(count(*) FILTER (coff <> 0) AS BIGINT) AS n_reordered,
             CAST(coalesce(min(cts - mt) FILTER (cts >= mt), 0)
                  AS BIGINT) AS pts_min,
             CAST(coalesce(max(cts - mt) FILTER (cts >= mt), 0)
                  AS BIGINT) AS pts_max,
             CAST(coalesce(sum(cts - mt) FILTER (cts >= mt), 0)
                  AS BIGINT) AS pts_sum,
             CAST(count(*) FILTER (is_sync AND cts >= mt) AS BIGINT)
               AS n_sync,
             CAST(coalesce(sum(cts - mt) FILTER (is_sync AND cts >= mt), 0)
                  AS BIGINT) AS pts_sum_sync
      FROM vs GROUP BY doc_id
    ), a AS (
      SELECT doc_id, 'mp4' AS container, CAST(2 AS BIGINT) AS track_id,
             'soun' AS handler,
             CAST(na AS BIGINT) AS n_samples,
             CAST(na AS BIGINT) AS n_presented,
             CAST(0 AS BIGINT) AS n_reordered,
             CAST(0 AS BIGINT) AS pts_min,
             CAST(1024 * (na - 1) AS BIGINT) AS pts_max,
             CAST(1024 * na * (na - 1) // 2 AS BIGINT) AS pts_sum,
             CAST(na AS BIGINT) AS n_sync,
             CAST(1024 * na * (na - 1) // 2 AS BIGINT) AS pts_sum_sync
      FROM t
    ), fs0 AS (
      SELECT doc_id, fneg, u.f, v.j,
             row_number() OVER (PARTITION BY doc_id ORDER BY u.f, v.j) - 1
               AS g,
             40 * ((doc_id + u.f + v.j) % 2) - fneg AS coff
      FROM t,
           LATERAL (SELECT unnest(range(0, nfrag)) AS f) u,
           LATERAL (SELECT unnest(range(0, 1 + (doc_id + u.f) % 3)) AS j) v
    ), fs AS (
      SELECT doc_id, coff, 40 * g + coff AS pts FROM fs0
    ), fv AS (
      SELECT doc_id, 'fmp4' AS container, CAST(1 AS BIGINT) AS track_id,
             'vide' AS handler,
             CAST(count(*) AS BIGINT) AS n_samples,
             CAST(count(*) AS BIGINT) AS n_presented,
             CAST(count(*) FILTER (coff <> 0) AS BIGINT) AS n_reordered,
             CAST(min(pts) AS BIGINT) AS pts_min,
             CAST(max(pts) AS BIGINT) AS pts_max,
             CAST(sum(pts) AS BIGINT) AS pts_sum,
             CAST(count(*) AS BIGINT) AS n_sync,
             CAST(sum(pts) AS BIGINT) AS pts_sum_sync
      FROM fs GROUP BY doc_id
    )
    SELECT * FROM v UNION ALL SELECT * FROM a UNION ALL SELECT * FROM fv
    """,
)
def q_multimodal_mp4_pts_stats(spark, sf_dir):
    """MP4 presentation-timing math over the documents table — the
    half of ISO 14496-12 timing the container walk alone doesn't give:
    ctts composition offsets (v1 negative for every third document) +
    elst lead-trim edits on a plain MP4, and per-sample trun
    composition offsets against tfdt anchors on a fragmented MP4.
    Emits per-track PTS aggregates (count presented after edit
    trimming, reordered-sample count, min/max/sum of PTS) — the
    arithmetic a seek-accurate video frame sampler runs before
    touching any codec. Full hash-match DuckDB oracle replays every
    field from the integer formulas with no parser."""
    docs = load_table(spark, sf_dir, "documents")
    return mp4_pts_stats(docs)


# ---------------------------------------------------------------------------
# MP3 (MPEG-1 Audio Layer III) frame-sync walk — demux-only, like mp4
# ---------------------------------------------------------------------------

# MPEG-1 Layer III bitrate table (kbps), index 1..14 (0 = free-format,
# 15 = forbidden) and samplerate table, index 0..2 — ISO/IEC 11172-3
# Table B.2 / §2.4.2.3
_MP3_BITRATES = (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
_MP3_RATES = (44100, 48000, 32000)
_MP3_SAMPLES_PER_FRAME = 1152


def _syncsafe(n: int) -> bytes:
    """ID3v2 28-bit syncsafe size: 4 bytes of 7 bits each (MSB first,
    top bit of every byte 0 so the tag body can never alias a frame
    sync)."""
    return bytes(((n >> s) & 0x7F) for s in (21, 14, 7, 0))


_MP3_RAMP = bytes(range(256)) * 8


def _mp3_ramp(need: int) -> bytes:
    """Repeating 0..255 byte ramp of at least `need` bytes."""
    global _MP3_RAMP
    if len(_MP3_RAMP) < need:
        _MP3_RAMP = bytes(range(256)) * (-(-need // 256) + 1)
    return _MP3_RAMP


def encode_mp3_stream(
    frames: "list[tuple[int, int, bytes]]",
    sr_idx: int,
    id3v2: bytes | None = None,
    id3v1: bool = False,
) -> bytes:
    """REAL MPEG-1 Layer III stream framing: optional ID3v2 tag
    (syncsafe size), then one frame per (bitrate_index, padding,
    payload_head) tuple — a genuine 4-byte header (sync/version/layer/
    protection/bitrate/samplerate/padding/mode bits per ISO/IEC
    11172-3) followed by filler to the EXACT frame length
    144000*kbps//samplerate + padding, optionally an ID3v1 'TAG'
    trailer. The Huffman-coded granule payload is opaque filler (mp3
    DECODE needs the full polyphase/IMDCT pipeline, honestly out of
    scope); the framing every mp3 demuxer syncs on is the real thing."""
    import struct as _struct

    out = bytearray()
    if id3v2 is not None:
        out += b"ID3" + bytes((3, 0, 0)) + _syncsafe(len(id3v2)) + id3v2
    sr = _MP3_RATES[sr_idx]
    for br_idx, padding, head in frames:
        kbps = _MP3_BITRATES[br_idx - 1]
        flen = 144000 * kbps // sr + padding
        b2 = (br_idx << 4) | (sr_idx << 2) | (padding << 1)
        # 0xFB = sync low bits + MPEG-1 (11) + Layer III (01) + no-CRC (1)
        hdr = _struct.pack(">BBBB", 0xFF, 0xFB, b2, 0x40)
        # filler bytes are the cyclic ramp (len(head) + i) % 256 — a
        # slice of the precomputed repeating 0..255 ramp (identical
        # bytes to the former per-byte genexpr, which dominated the
        # encode profile)
        start = len(head) % 256
        n_fill = flen - 4 - len(head)
        body = head + _mp3_ramp(start + n_fill)[start : start + n_fill]
        assert len(body) == flen - 4
        out += hdr + body
    if id3v1:
        out += b"TAG" + bytes(125)
    return bytes(out)


_MP3_GR_FIELDS = (
    ("part2_3_length", 12),
    ("big_values", 9),
    ("global_gain", 8),
    ("scalefac_compress", 4),
)
_MP3_GR_TAIL = (
    ("preflag", 1),
    ("scalefac_scale", 1),
    ("count1table_select", 1),
)


def encode_mp3_side_info(si: dict, channels: int = 2) -> bytes:
    """MPEG-1 Layer III side information (ISO 11172-3 §2.4.1.7): the
    bit-exact 17-byte (mono) / 32-byte (stereo) block that precedes
    the main data in every frame — main_data_begin, private bits,
    scfsi, and per-(granule, channel) the 59-bit field group. Only
    normal blocks (window_switching_flag=0) are encoded; granule
    Huffman payloads stay honestly out of scope."""
    w = MsbWriter("mp3 side info")
    w.write(si["main_data_begin"], 9)
    w.write(si.get("private_bits", 0), 5 if channels == 1 else 3)
    for c in range(channels):
        w.write(si["scfsi"][c], 4)
    for g in range(2):
        for c in range(channels):
            gr = si["granules"][g][c]
            for name, width in _MP3_GR_FIELDS:
                w.write(gr[name], width)
            w.write(0, 1)  # window_switching_flag: normal blocks
            for t in gr["table_select"]:
                w.write(t, 5)
            w.write(gr["region0_count"], 4)
            w.write(gr["region1_count"], 3)
            for name, _w in _MP3_GR_TAIL:
                w.write(gr[name], 1)
    w.align()
    out = bytes(w.out)
    assert len(out) == (17 if channels == 1 else 32)
    return out


def parse_mp3_side_info(data: bytes, channels: int = 2) -> dict:
    """Parse the Layer III side-info block back out (normal-block
    layout; a set window_switching_flag raises — start/short/stop
    block shapes need the reorder tables of a full decoder). Raises on
    short input. The granule METADATA every stream inspector reads;
    main-data Huffman decode stays honestly stubbed."""
    need = 17 if channels == 1 else 32
    if len(data) < need:
        raise ValueError(f"mp3 side info: need {need} bytes, got {len(data)}")
    r = MsbReader(data[:need], what="mp3 side info")
    out: dict = {"main_data_begin": r.read(9)}
    out["private_bits"] = r.read(5 if channels == 1 else 3)
    out["scfsi"] = [r.read(4) for _ in range(channels)]
    grs: list = [[], []]
    for g in range(2):
        for _c in range(channels):
            gr: dict = {}
            for name, width in _MP3_GR_FIELDS:
                gr[name] = r.read(width)
            if r.read(1):
                raise ValueError(
                    "mp3 side info: window-switching (short/start/stop) "
                    "blocks need a full decoder"
                )
            gr["table_select"] = [r.read(5) for _ in range(3)]
            gr["region0_count"] = r.read(4)
            gr["region1_count"] = r.read(3)
            for name, _w in _MP3_GR_TAIL:
                gr[name] = r.read(1)
            grs[g].append(gr)
    out["granules"] = grs
    return out


def mp3_first_side_info(payload: bytes, channels: int = 2) -> dict:
    """Locate the first audio frame (skipping any ID3v2 tag exactly as
    `parse_mp3_frames` does) and parse its side-info block (no-CRC
    frames: side info starts at header+4)."""
    pos = 0
    if payload[:3] == b"ID3":
        size = 0
        for b in payload[6:10]:
            size = (size << 7) | b
        pos = 10 + size
    if payload[pos] != 0xFF:
        raise ValueError("mp3 side info: no frame sync at expected offset")
    return parse_mp3_side_info(payload[pos + 4 :], channels)


def encode_id3v2_frames(
    frames: "list[tuple[str, str]]", version: int = 3
) -> bytes:
    """ID3v2 frame block (the tag BODY `encode_mp3_stream` wraps in a
    v2.3 header): per frame a 4-char id, the size (plain 32-bit BE in
    v2.3, syncsafe in v2.4 — the wire difference that breaks naive
    parsers), two zero flag bytes, then encoding byte 0x03 (UTF-8) +
    text — id3v2.3.0 §3.3 / id3v2.4.0-structure §4."""
    import struct as _struct

    out = bytearray()
    for fid, text in frames:
        if len(fid) != 4:
            raise ValueError(f"id3: frame id must be 4 chars, got {fid!r}")
        body = b"\x03" + text.encode("utf-8")
        size = _syncsafe(len(body)) if version == 4 else _struct.pack(
            ">I", len(body)
        )
        out += fid.encode("ascii") + size + b"\x00\x00" + body
    return bytes(out)


def parse_id3v2(payload: bytes) -> dict:
    """Parse a leading ID3v2 tag (v2.3 or v2.4): header version +
    syncsafe tag size, then a frame walk — v2.3 plain sizes vs v2.4
    syncsafe sizes, stop at zero-padding, text frames (T***) decoded
    per their encoding byte (0x00 latin-1 / 0x01 UTF-16 w/ BOM / 0x02
    UTF-16BE-no-BOM v2.4-only / 0x03 UTF-8), other frames skipped by
    size. Raises on missing tag,
    unsupported versions, frames overrunning the tag, or unknown text
    encodings — corrupt-upload quarantine. Returns version and the
    (id, text) list in wire order."""
    import struct as _struct

    if payload[:3] != b"ID3":
        raise ValueError("id3: no ID3v2 tag")
    if len(payload) < 10:
        raise ValueError("id3: truncated ID3v2 header")
    ver = payload[3]
    if ver not in (3, 4):
        raise ValueError(f"id3: unsupported ID3v2.{ver} tag")
    size = 0
    for b in payload[6:10]:
        if b & 0x80:
            raise ValueError("id3: non-syncsafe tag size")
        size = (size << 7) | b
    end = 10 + size
    if end > len(payload):
        raise ValueError("id3: tag size overruns the payload")
    pos = 10
    frames: "list[tuple[str, str]]" = []
    while pos + 10 <= end:
        fid = payload[pos : pos + 4]
        if fid[0] == 0:
            break  # zero padding
        if ver == 4:
            fsize = 0
            for b in payload[pos + 4 : pos + 8]:
                if b & 0x80:
                    raise ValueError("id3: non-syncsafe v2.4 frame size")
                fsize = (fsize << 7) | b
        else:
            (fsize,) = _struct.unpack_from(">I", payload, pos + 4)
        body_at = pos + 10
        if body_at + fsize > end:
            raise ValueError(f"id3: frame {fid!r} overruns the tag")
        if fid[:1] == b"T" and fsize >= 1:
            enc = payload[body_at]
            raw = payload[body_at + 1 : body_at + fsize]
            if enc == 0x00:
                text = raw.decode("latin-1")
            elif enc == 0x01:
                text = raw.decode("utf-16")
            elif enc == 0x02 and ver == 4:
                # UTF-16BE without BOM: legal in v2.4 only
                # (id3v2.4.0-structure §4)
                text = raw.decode("utf-16-be")
            elif enc == 0x03:
                text = raw.decode("utf-8")
            else:
                raise ValueError(f"id3: unknown text encoding {enc}")
            frames.append((fid.decode("ascii"), text.rstrip("\x00")))
        pos = body_at + fsize
    return {"version": ver, "frames": frames}


def parse_mp3_frames(payload: bytes) -> dict:
    """REAL mp3 frame-sync walk (demux half, mirroring
    `parse_mp4_boxes`): skip a leading ID3v2 tag by its syncsafe size,
    then iterate frame headers — validate the 11-bit sync, MPEG
    version and layer bits, bitrate/samplerate indices, compute each
    frame's byte length from the ISO 11172-3 formula
    (144*bitrate/samplerate + padding), and step EXACTLY to the next
    header; stop at a trailing ID3v1 'TAG' block. Raises on lost sync,
    free-format/forbidden bitrate, truncated frames, or reserved
    samplerate — the validation a 100 TB audio-ingest filter needs to
    quarantine corrupt uploads without decoding a single granule.

    Returns frame count, summed frame bytes, samplerate, integer
    duration (1152 samples/frame), bitrate + padding sums, and the
    first payload byte of every frame (offset header+4 — proof the
    walk lands on real frame boundaries)."""
    pos, end = 0, len(payload)
    has_id3v2 = 0
    if payload[:3] == b"ID3":
        if end < 10:
            raise ValueError("mp3: truncated ID3v2 header")
        size = 0
        for b in payload[6:10]:
            if b & 0x80:
                raise ValueError("mp3: non-syncsafe ID3v2 size")
            size = (size << 7) | b
        pos = 10 + size
        has_id3v2 = 1
    if payload[end - 128 : end - 125] == b"TAG":
        end -= 128
    n = frame_bytes = br_sum = pad_sum = first_byte_sum = 0
    sample_rate = None
    while pos < end:
        if pos + 4 > end:
            raise ValueError("mp3: truncated frame header")
        b0, b1, b2, _b3 = payload[pos : pos + 4]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            raise ValueError(f"mp3: lost frame sync at offset {pos}")
        if (b1 >> 3) & 0x3 != 0x3 or (b1 >> 1) & 0x3 != 0x1:
            raise ValueError("mp3: only MPEG-1 Layer III streams supported")
        br_idx, sr_idx, padding = b2 >> 4, (b2 >> 2) & 0x3, (b2 >> 1) & 0x1
        if br_idx == 0:
            raise ValueError("mp3: free-format bitrate not supported")
        if br_idx == 15:
            raise ValueError("mp3: forbidden bitrate index")
        if sr_idx == 3:
            raise ValueError("mp3: reserved samplerate index")
        sr = _MP3_RATES[sr_idx]
        if sample_rate is None:
            sample_rate = sr
        elif sr != sample_rate:
            raise ValueError("mp3: samplerate changes mid-stream")
        flen = 144000 * _MP3_BITRATES[br_idx - 1] // sr + padding
        if pos + flen > end:
            raise ValueError("mp3: frame extends past end of stream")
        n += 1
        frame_bytes += flen
        br_sum += _MP3_BITRATES[br_idx - 1]
        pad_sum += padding
        first_byte_sum += payload[pos + 4]
        pos += flen
    if n == 0:
        raise ValueError("mp3: no frames")
    return {
        "n_frames": n,
        "sample_rate": sample_rate,
        "frame_bytes": frame_bytes,
        "duration_ms": n * _MP3_SAMPLES_PER_FRAME * 1000 // sample_rate,
        "bitrate_kbps_sum": br_sum,
        "padded_frames": pad_sum,
        "first_byte_sum": first_byte_sum,
        "has_id3v2": has_id3v2,
    }


MP3_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("sample_rate", T.LongType()),
        T.StructField("frame_bytes", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("bitrate_kbps_sum", T.LongType()),
        T.StructField("padded_frames", T.LongType()),
        T.StructField("first_byte_sum", T.LongType()),
        T.StructField("has_id3v2", T.LongType()),
    ]
)


def mp3_stream_stats(docs: DataFrame) -> DataFrame:
    """Synthesize a REAL variable-bitrate MPEG-1 Layer III stream per
    document (bitrate index cycling by formula, per-frame padding bit,
    ID3v2 tag on every 4th doc, ID3v1 trailer on every 5th), walk it
    back with `parse_mp3_frames`, and emit one row per document.
    Every output — frame count, the VBR byte total through the
    144000*kbps//sr + padding formula, duration, tag detection, the
    first payload byte of every frame — is re-derived by the SQL
    oracle from the same formulas with no parser. Arrow `map_rows`,
    map-only."""

    def row(did):
        nf = 5 + did % 9
        sr_idx = did % 3
        frames = [
            (
                1 + (did + 3 * i) % 14,
                (did + i) % 2,
                bytes([(did * 7 + i * 23) % 256]),
            )
            for i in range(nf)
        ]
        payload = encode_mp3_stream(
            frames,
            sr_idx,
            id3v2=(b"\x00" * (10 + did % 50)) if did % 4 == 0 else None,
            id3v1=did % 5 == 0,
        )
        d = parse_mp3_frames(payload)
        yield did, *(d[f.name] for f in MP3_STATS_SCHEMA.fields[1:])

    return map_rows(docs.select("doc_id"), row, MP3_STATS_SCHEMA, spread=True)


@query(
    "multimodal_mp3_stats",
    oracle="""
    WITH t AS (
      SELECT doc_id, 5 + doc_id % 9 AS nf, doc_id % 3 AS sr_idx
      FROM documents
    ), f AS (
      SELECT doc_id, nf, u.i,
             list_extract([32,40,48,56,64,80,96,112,128,160,192,224,256,320],
                          CAST(1 + (doc_id + 3 * u.i) % 14 AS INTEGER))
               AS kbps,
             (doc_id + u.i) % 2 AS pad,
             list_extract([44100,48000,32000], CAST(sr_idx + 1 AS INTEGER))
               AS sr
      FROM t, LATERAL (SELECT unnest(range(0, nf)) AS i) u
    )
    SELECT doc_id,
           CAST(MAX(nf) AS BIGINT) AS n_frames,
           CAST(MAX(sr) AS BIGINT) AS sample_rate,
           CAST(SUM(144000 * kbps // sr + pad) AS BIGINT) AS frame_bytes,
           CAST(MAX(nf) * 1152 * 1000 // MAX(sr) AS BIGINT) AS duration_ms,
           CAST(SUM(kbps) AS BIGINT) AS bitrate_kbps_sum,
           CAST(SUM(pad) AS BIGINT) AS padded_frames,
           CAST(SUM((doc_id * 7 + i * 23) % 256) AS BIGINT) AS first_byte_sum,
           CAST(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS has_id3v2
    FROM f
    GROUP BY doc_id
    """,
)
def q_multimodal_mp3_stats(spark, sf_dir):
    """REAL mp3 demux over the documents table: build a valid VBR
    MPEG-1 Layer III stream per document (ID3v2/ID3v1 tags on a doc
    cycle; granule payloads opaque — mp3 DECODE is honestly out of
    scope here), frame-sync-walk it back, one row per document. The
    DuckDB oracle recomputes every column from the ISO 11172-3 frame-
    length formula with no parser, so a hash match pins the encoder,
    the sync walk, the tag skipping, AND the per-frame offsets (via
    the first-payload-byte checksum)."""
    docs = load_table(spark, sf_dir, "documents")
    return mp3_stream_stats(docs)


MP3_TAGS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("id3_version", T.LongType()),
        T.StructField("n_text_frames", T.LongType()),
        T.StructField("title", T.StringType()),
        T.StructField("language", T.StringType()),
        T.StructField("artist", T.StringType()),
        T.StructField("n_frames", T.LongType()),
    ]
)


def mp3_tags_stats(docs: DataFrame) -> DataFrame:
    """Synthesize an mp3 per document with a REAL ID3v2.3 tag (TIT2 /
    TLAN carrying actual table columns, TPE1 on every third doc),
    demux the audio framing with `parse_mp3_frames` AND parse the tag
    with `parse_id3v2` — the metadata an audio-ingest pipeline routes
    on without touching a granule. Arrow `map_rows`, map-only."""

    def row(did, lang):
        frames = [("TIT2", f"doc-{did}"), ("TLAN", str(lang))]
        if did % 3 == 0:
            frames.append(("TPE1", f"artist-{did % 7}"))
        tag_body = encode_id3v2_frames(frames, version=3)
        nf = 2 + did % 4
        payload = encode_mp3_stream(
            [
                (1 + (did + i) % 14, (did + i) % 2, bytes([(did + i) % 256]))
                for i in range(nf)
            ],
            sr_idx=did % 3,
            id3v2=tag_body,
        )
        d = parse_mp3_frames(payload)  # validates the framing walk
        t = parse_id3v2(payload)
        tagmap = dict(t["frames"])
        yield (
            did,
            t["version"],
            len(t["frames"]),
            tagmap.get("TIT2"),
            tagmap.get("TLAN"),
            tagmap.get("TPE1"),
            d["n_frames"],
        )

    return map_rows(docs.select("doc_id", "lang"), row, MP3_TAGS_SCHEMA, spread=True)


@query(
    "multimodal_mp3_tags",
    oracle="""
    SELECT doc_id,
           CAST(3 AS BIGINT) AS id3_version,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 2 END AS BIGINT)
             AS n_text_frames,
           'doc-' || CAST(doc_id AS VARCHAR) AS title,
           lang AS language,
           CASE WHEN doc_id % 3 = 0
                THEN 'artist-' || CAST(doc_id % 7 AS VARCHAR) END AS artist,
           CAST(2 + doc_id % 4 AS BIGINT) AS n_frames
    FROM documents
    """,
)
def q_multimodal_mp3_tags(spark, sf_dir):
    """ID3v2 metadata extraction over the documents table: a real
    v2.3 tag (TIT2/TLAN/TPE1 text frames, TLAN carrying the actual
    lang column) ahead of a valid Layer III frame walk; both parsers
    run per document. The DuckDB oracle reads the expected tags
    straight off `documents` — a hash match pins the syncsafe header
    math, the frame-size dialect, AND the text-encoding decode."""
    docs = load_table(spark, sf_dir, "documents")
    return mp3_tags_stats(docs)


MP3_SIDEINFO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("main_data_begin", T.LongType()),
        T.StructField("scfsi_sum", T.LongType()),
        T.StructField("sum_part23", T.LongType()),
        T.StructField("sum_big_values", T.LongType()),
        T.StructField("max_gain", T.LongType()),
        T.StructField("preflag", T.LongType()),
    ]
)


def mp3_sideinfo_stats(docs: DataFrame) -> DataFrame:
    """Per document: a Layer III frame whose first 32 payload bytes are
    a REAL bit-packed side-info block (formula-driven granule fields),
    demuxed by `parse_mp3_frames` and bit-unpacked by
    `parse_mp3_side_info`. Arrow `map_rows`, map-only."""

    def row(did):
        si = {
            "main_data_begin": did % 512,
            "private_bits": did % 8,
            "scfsi": [(did + c) % 16 for c in range(2)],
            "granules": [
                [
                    {
                        "part2_3_length": (did * 7 + 13 * g + 29 * c)
                        % 4096,
                        "big_values": (did + 3 * g + 5 * c) % 289,
                        "global_gain": (did * 11 + g + 2 * c) % 256,
                        "scalefac_compress": (did + g + c) % 16,
                        "table_select": [
                            (did + g + c + k) % 32 for k in range(3)
                        ],
                        "region0_count": (did + g) % 16,
                        "region1_count": (did + c) % 8,
                        "preflag": did % 2,
                        "scalefac_scale": g,
                        "count1table_select": c,
                    }
                    for c in range(2)
                ]
                for g in range(2)
            ],
        }
        head = encode_mp3_side_info(si, channels=2)
        payload = encode_mp3_stream(
            [(1 + did % 14, did % 2, head)], sr_idx=did % 3
        )
        parse_mp3_frames(payload)  # framing walk still validates
        d = mp3_first_side_info(payload, channels=2)
        if d != si:
            raise ValueError("mp3 side info: roundtrip mismatch")
        flat = [d["granules"][g][c] for g in range(2) for c in range(2)]
        yield (
            did,
            d["main_data_begin"],
            sum(d["scfsi"]),
            sum(x["part2_3_length"] for x in flat),
            sum(x["big_values"] for x in flat),
            max(x["global_gain"] for x in flat),
            flat[0]["preflag"],
        )

    return map_rows(docs.select("doc_id"), row, MP3_SIDEINFO_SCHEMA, spread=True)


@query(
    "multimodal_mp3_sideinfo",
    oracle="""
    SELECT doc_id,
           CAST(doc_id % 512 AS BIGINT) AS main_data_begin,
           CAST(doc_id % 16 + (doc_id + 1) % 16 AS BIGINT) AS scfsi_sum,
           CAST((doc_id * 7) % 4096 + (doc_id * 7 + 29) % 4096
              + (doc_id * 7 + 13) % 4096 + (doc_id * 7 + 42) % 4096
              AS BIGINT) AS sum_part23,
           CAST(doc_id % 289 + (doc_id + 5) % 289
              + (doc_id + 3) % 289 + (doc_id + 8) % 289
              AS BIGINT) AS sum_big_values,
           CAST(greatest((doc_id * 11) % 256, (doc_id * 11 + 2) % 256,
                         (doc_id * 11 + 1) % 256, (doc_id * 11 + 3) % 256)
              AS BIGINT) AS max_gain,
           CAST(doc_id % 2 AS BIGINT) AS preflag
    FROM documents
    """,
)
def q_multimodal_mp3_sideinfo(spark, sf_dir):
    """Layer III side-info extraction (ISO 11172-3 §2.4.1.7): the
    granule METADATA — main_data_begin bit reservoir pointer, scfsi,
    part2_3 lengths, big_values, global gains — bit-packed into a real
    frame and bit-unpacked back out; the stream-inspector fields
    feasible without a full polyphase/IMDCT decoder. The oracle
    replays every field formula off `documents`, so a hash match pins
    the 59-bit granule layout and the MSB-first packing."""
    docs = load_table(spark, sf_dir, "documents")
    return mp3_sideinfo_stats(docs)


# ---------------------------------------------------------------------------
# Ogg container walk (RFC 3533) — demux-only, with REAL page CRCs
# ---------------------------------------------------------------------------

def ogg_crc(data: bytes) -> int:
    """Ogg page CRC (RFC 3533 §6): unreflected CRC-32, init 0."""
    return crc32_msb(data, 0)


def encode_ogg_stream(
    pages: "list[list[bytes]]", serial: int, granules: "list[int]"
) -> bytes:
    """REAL Ogg framing (RFC 3533): one page per packet list — 27-byte
    header (capture pattern, version 0, BOS on the first page / EOS on
    the last, 64-bit granule position, serial, page sequence, CRC),
    lacing-value segment table (packets >= 255 bytes span multiple
    lacing values; an exact multiple of 255 gets a terminating 0
    lacing), then the segment payload. The page CRC is the genuine Ogg
    CRC-32 (poly 0x04C11DB7, unreflected, init 0) computed with the
    CRC field zeroed. Packet PAYLOADS are opaque (Vorbis/Opus decode
    honestly needs third-party DSP); the container framing every Ogg
    demuxer syncs on is the real thing."""
    import struct as _struct

    out = bytearray()
    for pno, packets in enumerate(pages):
        lacing = bytearray()
        body = bytearray()
        for pkt in packets:
            q, r = divmod(len(pkt), 255)
            lacing += b"\xff" * q + bytes([r])
            body += pkt
        if len(lacing) > 255:
            raise ValueError("ogg: >255 lacing values needs page continuation")
        htype = (0x02 if pno == 0 else 0) | (0x04 if pno == len(pages) - 1 else 0)
        hdr = bytearray(
            b"OggS"
            + bytes((0, htype))
            + _struct.pack("<q", granules[pno])
            + _struct.pack("<II", serial, pno)
            + b"\x00\x00\x00\x00"
            + bytes([len(lacing)])
            + lacing
        )
        page = hdr + body
        _struct.pack_into("<I", page, 22, ogg_crc(bytes(page)))
        out += page
    return bytes(out)


def parse_ogg_pages(payload: bytes) -> dict:
    """REAL Ogg demux (the container half, mirroring `parse_mp4_boxes`
    and `parse_mp3_frames`): walk pages by capture pattern, RECOMPUTE
    every page's CRC over the CRC-zeroed page and reject mismatches,
    require version 0, one serial, and gap-free page sequencing, then
    reassemble packet boundaries from lacing values (255 continues a
    packet — including across pages via the continuation flag; < 255
    terminates it). Raises on bad capture, CRC mismatch, sequence
    gaps, serial changes, or truncation — corrupt-upload quarantine
    with zero codec work.

    Returns page/packet counts, payload byte total, the final granule
    position, serial, BOS/EOS presence, the first byte of every
    PACKET (not page) — proof lacing reassembly lands on real packet
    boundaries — and the reassembled bytes of the FIRST TWO packets
    (on a spec-conformant stream: the codec identification header,
    alone on page 0 per RFC 3533 §4 + RFC 7845 §3 / Vorbis I §4.2.1,
    and the comment/tags header that both specs put next)."""
    import struct as _struct

    pos, end = 0, len(payload)
    n_pages = n_packets = payload_bytes = first_byte_sum = 0
    last_granule = 0
    serial = None
    bos = eos = 0
    expect_seq = 0
    in_packet = False
    head_packets: "list[bytearray]" = [bytearray()]
    while pos < end:
        if payload[pos : pos + 4] != b"OggS":
            raise ValueError(f"ogg: lost capture pattern at offset {pos}")
        if pos + 27 > end:
            raise ValueError("ogg: truncated page header")
        version, htype = payload[pos + 4], payload[pos + 5]
        if version != 0:
            raise ValueError(f"ogg: unknown stream structure version {version}")
        (granule,) = _struct.unpack_from("<q", payload, pos + 6)
        ser, seq, crc = _struct.unpack_from("<III", payload, pos + 14)
        nseg = payload[pos + 26]
        lacing = payload[pos + 27 : pos + 27 + nseg]
        if len(lacing) < nseg:
            raise ValueError("ogg: truncated segment table")
        body_start = pos + 27 + nseg
        body_len = sum(lacing)
        if body_start + body_len > end:
            raise ValueError("ogg: page body extends past end of stream")
        page = bytearray(payload[pos : body_start + body_len])
        page[22:26] = b"\x00\x00\x00\x00"
        if ogg_crc(bytes(page)) != crc:
            raise ValueError(f"ogg: CRC mismatch on page {seq}")
        if serial is None:
            serial = ser
        elif ser != serial:
            raise ValueError("ogg: serial changes mid-stream (unmuxed chain?)")
        if seq != expect_seq:
            raise ValueError(f"ogg: page sequence gap (got {seq}, want {expect_seq})")
        if (htype & 0x01) != (0x01 if in_packet else 0):
            raise ValueError("ogg: continuation flag disagrees with lacing state")
        expect_seq += 1
        n_pages += 1
        bos |= (htype >> 1) & 1
        eos |= (htype >> 2) & 1
        last_granule = granule
        off = body_start
        for lv in lacing:
            if not in_packet and lv > 0:
                first_byte_sum += payload[off]
            if len(head_packets) <= 2:
                head_packets[-1] += payload[off : off + lv]
            in_packet = lv == 255
            if lv < 255:
                n_packets += 1
                if len(head_packets) <= 2:
                    head_packets.append(bytearray())
            off += lv
        payload_bytes += body_len
        pos = body_start + body_len
    if n_pages == 0:
        raise ValueError("ogg: no pages")
    if in_packet:
        raise ValueError("ogg: stream ends mid-packet")
    return {
        "n_pages": n_pages,
        "n_packets": n_packets,
        "payload_bytes": payload_bytes,
        "last_granule": last_granule,
        "serial": serial,
        "first_byte_sum": first_byte_sum,
        "bos_eos_ok": int(bos == 1 and eos == 1),
        "first_packet": bytes(head_packets[0]),
        "second_packet": bytes(head_packets[1]) if len(head_packets) > 1 else b"",
    }


OGG_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_pages", T.LongType()),
        T.StructField("n_packets", T.LongType()),
        T.StructField("payload_bytes", T.LongType()),
        T.StructField("last_granule", T.LongType()),
        T.StructField("serial", T.LongType()),
        T.StructField("first_byte_sum", T.LongType()),
        T.StructField("bos_eos_ok", T.LongType()),
    ]
)


def ogg_container_stats(docs: DataFrame) -> DataFrame:
    """Synthesize a REAL Ogg stream per document (page/packet counts,
    packet sizes spanning the 255-lacing boundary, granule positions
    and serial all integer formulas; genuine per-page CRCs), demux it
    with `parse_ogg_pages` — which RECOMPUTES every CRC — and emit one
    row per document. The SQL oracle re-derives every column from the
    same formulas with no parser. Arrow `map_rows`, map-only."""

    def row(did):
        np_ = 3 + did % 5
        pages = []
        for p in range(np_):
            k = 1 + (did + p) % 3
            pages.append(
                [
                    bytes([(did * 13 + p * 5 + j * 3) % 256])
                    + bytes([(did + p + j) % 256])
                    * (19 + (did * 3 + p * 7 + j * 11) % 300)
                    for j in range(k)
                ]
            )
        granules = [(p + 1) * (did % 7 + 1) * 100 for p in range(np_)]
        payload = encode_ogg_stream(pages, did % 100000, granules)
        d = parse_ogg_pages(payload)
        yield did, *(d[f.name] for f in OGG_STATS_SCHEMA.fields[1:])

    return map_rows(docs.select("doc_id"), row, OGG_STATS_SCHEMA, spread=True)


@query(
    "multimodal_ogg_stats",
    oracle="""
    WITH t AS (
      SELECT doc_id, 3 + doc_id % 5 AS np FROM documents
    ), pp AS (
      SELECT doc_id, np, u.p, 1 + (doc_id + u.p) % 3 AS k
      FROM t, LATERAL (SELECT unnest(range(0, np)) AS p) u
    ), pkt AS (
      SELECT doc_id, np, p, k, v.j,
             20 + (doc_id * 3 + p * 7 + v.j * 11) % 300 AS sz,
             (doc_id * 13 + p * 5 + v.j * 3) % 256 AS fb
      FROM pp, LATERAL (SELECT unnest(range(0, k)) AS j) v
    )
    SELECT doc_id,
           CAST(MAX(np) AS BIGINT) AS n_pages,
           CAST(COUNT(*) AS BIGINT) AS n_packets,
           CAST(SUM(sz) AS BIGINT) AS payload_bytes,
           CAST(MAX(np) * (doc_id % 7 + 1) * 100 AS BIGINT) AS last_granule,
           CAST(doc_id % 100000 AS BIGINT) AS serial,
           CAST(SUM(fb) AS BIGINT) AS first_byte_sum,
           CAST(1 AS BIGINT) AS bos_eos_ok
    FROM pkt
    GROUP BY doc_id
    """,
)
def q_multimodal_ogg_stats(spark, sf_dir):
    """REAL Ogg demux over the documents table: build a valid
    multi-page stream per document (packet sizes crossing the
    255-lacing boundary, real per-page CRC-32s; packet payloads opaque
    — Vorbis/Opus decode honestly needs third-party DSP), walk the
    pages back with full CRC verification and lacing reassembly, one
    row per document. The DuckDB oracle recomputes every column from
    the size/granule formulas with no parser; the CRC leg is proven by
    the parser REJECTING any byte flip (tested) while accepting every
    encoder page here."""
    docs = load_table(spark, sf_dir, "documents")
    return ogg_container_stats(docs)


# ---------------------------------------------------------------------------
# Ogg codec identification headers (Vorbis I §4.2.2 / RFC 7845 §5.1) —
# the fixed-layout structs carrying sample rate / channels / pre-skip.
# These are the feasible sliver of the Vorbis/Opus stubs: header PARSE
# is tiny fixed-struct work; audio sample decode honestly stays
# third-party (entropy coders + DSP).
# ---------------------------------------------------------------------------


def encode_vorbis_id_header(
    sample_rate: int,
    channels: int,
    bitrate_nominal: int = 0,
    blocksizes: "tuple[int, int]" = (256, 2048),
) -> bytes:
    """Vorbis identification header (Vorbis I spec §4.2.2): packet type
    0x01 + 'vorbis' + version 0 + channels + rate + the three bitrate
    fields + the two blocksize exponents packed LSB-first in one byte +
    the framing bit. 30 bytes, the exact layout libvorbis emits."""
    import struct as _struct

    e0, e1 = blocksizes[0].bit_length() - 1, blocksizes[1].bit_length() - 1
    if (1 << e0, 1 << e1) != blocksizes:
        raise ValueError("vorbis: blocksizes must be powers of two")
    return (
        b"\x01vorbis"
        + _struct.pack(
            "<IBIiii", 0, channels, sample_rate, 0, bitrate_nominal, 0
        )
        + bytes([(e1 << 4) | e0, 0x01])
    )


def parse_vorbis_id_header(pkt: bytes) -> dict:
    """Parse + validate a Vorbis identification header: magic, version
    0, channels/rate > 0, legal ordered blocksizes (64..8192, bs0 <=
    bs1), framing bit set — every check §4.2.2 says MUST hold, each
    raising (corrupt-upload quarantine)."""
    import struct as _struct

    if len(pkt) < 30 or pkt[:7] != b"\x01vorbis":
        raise ValueError("vorbis: not an identification header")
    version, channels, rate, br_max, br_nom, br_min = _struct.unpack_from(
        "<IBIiii", pkt, 7
    )
    if version != 0:
        raise ValueError(f"vorbis: unknown version {version}")
    if channels == 0 or rate == 0:
        raise ValueError("vorbis: zero channels or sample rate")
    e0, e1 = pkt[28] & 0x0F, pkt[28] >> 4
    if not (6 <= e0 <= 13 and 6 <= e1 <= 13 and e0 <= e1):
        raise ValueError(f"vorbis: illegal blocksizes 2^{e0}/2^{e1}")
    if not pkt[29] & 0x01:
        raise ValueError("vorbis: framing bit unset")
    return {
        "codec": "vorbis",
        "sample_rate": rate,
        "channels": channels,
        "pre_skip": None,
        "bitrate_nominal": br_nom,
        "blocksize_0": 1 << e0,
        "blocksize_1": 1 << e1,
    }


def encode_opus_id_header(
    channels: int, pre_skip: int, input_sample_rate: int = 48000, gain: int = 0
) -> bytes:
    """Opus identification header (RFC 7845 §5.1): 'OpusHead' + version
    1 + channel count + pre-skip + input sample rate + output gain +
    channel mapping family 0. 19 bytes, the exact layout opusenc emits
    for mono/stereo."""
    import struct as _struct

    if not 1 <= channels <= 2:
        raise NotImplementedError(
            "opus: mapping family 0 covers 1-2 channels; surround needs "
            "the family-1 mapping table"
        )
    return b"OpusHead" + _struct.pack(
        "<BBHIhB", 1, channels, pre_skip, input_sample_rate, gain, 0
    )


def parse_opus_id_header(pkt: bytes) -> dict:
    """Parse + validate an Opus identification header per RFC 7845
    §5.1: magic, major version 0 (version byte < 16), mapping family 0
    channel constraints. Raises on violations."""
    import struct as _struct

    if len(pkt) < 19 or pkt[:8] != b"OpusHead":
        raise ValueError("opus: not an identification header")
    version, channels, pre_skip, rate, gain, family = _struct.unpack_from(
        "<BBHIhB", pkt, 8
    )
    if version >> 4:  # RFC 7845: major version = high nibble, must be 0
        raise ValueError(f"opus: incompatible version {version}")
    if family != 0:
        raise NotImplementedError(
            f"opus: channel mapping family {family} (surround mapping "
            "table) not implemented — family 0 only"
        )
    if not 1 <= channels <= 2:
        raise ValueError(f"opus: family 0 allows 1-2 channels, got {channels}")
    return {
        "codec": "opus",
        "sample_rate": rate,
        "channels": channels,
        "pre_skip": pre_skip,
        "bitrate_nominal": None,
        "output_gain": gain,
    }


def identify_ogg_codec(first_packet: bytes) -> dict:
    """Dispatch on the first packet's magic — the standard Ogg codec
    sniff (oggz/vorbisfile do exactly this on the BOS page)."""
    if first_packet[:8] == b"OpusHead":
        return parse_opus_id_header(first_packet)
    if first_packet[:7] == b"\x01vorbis":
        return parse_vorbis_id_header(first_packet)
    raise ValueError("ogg: first packet is not a known identification header")


def _encode_comment_body(vendor: str, comments: "list[tuple[str, str]]") -> bytes:
    import struct as _struct

    vb = vendor.encode()
    out = _struct.pack("<I", len(vb)) + vb + _struct.pack("<I", len(comments))
    for k, v in comments:
        field = f"{k}={v}".encode()
        out += _struct.pack("<I", len(field)) + field
    return out


def encode_opus_tags(vendor: str, comments: "list[tuple[str, str]]") -> bytes:
    """OpusTags packet (RFC 7845 §5.2): 'OpusTags' + the Vorbis-comment
    structure (LE-length-prefixed vendor string + count + K=V fields),
    no framing bit."""
    return b"OpusTags" + _encode_comment_body(vendor, comments)


def encode_vorbis_comment_header(
    vendor: str, comments: "list[tuple[str, str]]"
) -> bytes:
    """Vorbis comment header (Vorbis I §5): packet type 0x03 + 'vorbis'
    + the comment structure + the framing bit."""
    return b"\x03vorbis" + _encode_comment_body(vendor, comments) + b"\x01"


def parse_ogg_comments(pkt: bytes) -> dict:
    """Parse an OpusTags or Vorbis comment header — the metadata block
    (TITLE/ARTIST/LANGUAGE…) an ingest pipeline reads for routing and
    provenance without touching audio. Validates magic, every length
    against the packet bounds, UTF-8 decode, the mandatory '=' in each
    field, and (Vorbis) the framing bit; each violation raises
    (corrupt-upload quarantine). Returns vendor + a key-ordered-as-
    written list of (KEY, value) with keys uppercased per the spec's
    case-insensitive field-name rule."""
    import struct as _struct

    if pkt[:8] == b"OpusTags":
        o, framed = 8, False
    elif pkt[:7] == b"\x03vorbis":
        o, framed = 7, True
    else:
        raise ValueError("ogg: not a comment/tags header")
    return _parse_comment_body(pkt, o, framed)


def _parse_comment_body(pkt: bytes, o: int, framed: bool) -> dict:
    """The bare Vorbis-comment structure parse shared by OpusTags,
    Vorbis comment headers, and FLAC VORBIS_COMMENT blocks (which
    carry the identical structure with no packet magic and no framing
    bit — RFC 9639 §8.6)."""
    import struct as _struct

    if o + 4 > len(pkt):
        raise ValueError("ogg: comment header truncated before vendor length")
    (vlen,) = _struct.unpack_from("<I", pkt, o)
    o += 4
    if o + vlen > len(pkt):
        raise ValueError("ogg: vendor string overruns the packet")
    vendor = pkt[o : o + vlen].decode("utf-8")
    o += vlen
    if o + 4 > len(pkt):
        raise ValueError("ogg: comment header truncated before list length")
    (n,) = _struct.unpack_from("<I", pkt, o)
    o += 4
    comments: "list[tuple[str, str]]" = []
    for _ in range(n):
        if o + 4 > len(pkt):
            raise ValueError("ogg: comment list truncated")
        (flen,) = _struct.unpack_from("<I", pkt, o)
        o += 4
        if o + flen > len(pkt):
            raise ValueError("ogg: comment field overruns the packet")
        field = pkt[o : o + flen].decode("utf-8")
        o += flen
        if "=" not in field:
            raise ValueError(f"ogg: comment field without '=': {field[:40]!r}")
        k, v = field.split("=", 1)
        comments.append((k.upper(), v))
    if framed and not (o < len(pkt) and pkt[o] & 0x01):
        raise ValueError("ogg: vorbis comment framing bit unset")
    return {"vendor": vendor, "n_comments": n, "comments": comments}


_OGG_RATES = (8000, 12000, 16000, 24000, 48000)

OGG_CODEC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("codec", T.StringType()),
        T.StructField("sample_rate", T.LongType()),
        T.StructField("channels", T.LongType()),
        T.StructField("pre_skip", T.LongType()),
        T.StructField("bitrate_nominal", T.LongType()),
        T.StructField("n_pages", T.LongType()),
        T.StructField("n_packets", T.LongType()),
        T.StructField("payload_bytes", T.LongType()),
    ]
)


def ogg_codec_stats(docs: DataFrame) -> DataFrame:
    """Synthesize a spec-conformant Ogg AUDIO stream per document — a
    REAL Vorbis or Opus identification header alone on the BOS page
    (as both specs require), opaque audio packets after — demux with
    `parse_ogg_pages` (every CRC recomputed), then parse the ID header
    back out of the reassembled first packet. One row per document;
    the oracle replays every field from the integer formulas. Arrow
    `map_rows`, map-only."""

    def row(did):
        channels = 1 + (did % 5) % 2
        rate = _OGG_RATES[did % 5]
        if did % 2 == 0:
            hdr = encode_vorbis_id_header(
                rate, channels, 64000 + (did % 10) * 16000
            )
        else:
            hdr = encode_opus_id_header(channels, 312 + did % 100, rate)
        np_ = 4 + did % 5  # header page + 3..7 audio pages
        pages = [[hdr]]
        for p in range(1, np_):
            k = 1 + (did + p) % 3
            pages.append(
                [
                    bytes([(did * 13 + p * 5 + j * 3) % 256])
                    + bytes([(did + p + j) % 256])
                    * (19 + (did * 3 + p * 7 + j * 11) % 300)
                    for j in range(k)
                ]
            )
        granules = [0] + [
            p * (did % 7 + 1) * 100 for p in range(1, np_)
        ]
        payload = encode_ogg_stream(pages, did % 100000, granules)
        d = parse_ogg_pages(payload)
        ident = identify_ogg_codec(d["first_packet"])
        yield (
            did,
            ident["codec"],
            ident["sample_rate"],
            ident["channels"],
            ident["pre_skip"],
            ident["bitrate_nominal"],
            d["n_pages"],
            d["n_packets"],
            d["payload_bytes"],
        )

    return map_rows(docs.select("doc_id"), row, OGG_CODEC_SCHEMA, spread=True)


@query(
    "multimodal_ogg_codec_stats",
    oracle="""
    WITH t AS (
      SELECT doc_id, 4 + doc_id % 5 AS np FROM documents
    ), pp AS (
      SELECT doc_id, np, u.p, 1 + (doc_id + u.p) % 3 AS k
      FROM t, LATERAL (SELECT unnest(range(1, np)) AS p) u
    ), pkt AS (
      SELECT doc_id, np, p, k, v.j,
             20 + (doc_id * 3 + p * 7 + v.j * 11) % 300 AS sz
      FROM pp, LATERAL (SELECT unnest(range(0, k)) AS j) v
    )
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'vorbis' ELSE 'opus' END AS codec,
           CAST(([8000,12000,16000,24000,48000])[(doc_id % 5) + 1]
                AS BIGINT) AS sample_rate,
           CAST(1 + (doc_id % 5) % 2 AS BIGINT) AS channels,
           CAST(CASE WHEN doc_id % 2 = 1 THEN 312 + doc_id % 100 END
                AS BIGINT) AS pre_skip,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 64000 + (doc_id % 10) * 16000
                END AS BIGINT) AS bitrate_nominal,
           CAST(MAX(np) AS BIGINT) AS n_pages,
           CAST(COUNT(*) + 1 AS BIGINT) AS n_packets,
           CAST(SUM(sz) + CASE WHEN doc_id % 2 = 0 THEN 30 ELSE 19 END
                AS BIGINT) AS payload_bytes
    FROM pkt
    GROUP BY doc_id
    """,
)
def q_multimodal_ogg_codec_stats(spark, sf_dir):
    """Ogg AUDIO identification over the documents table: a real
    Vorbis or Opus ID header (fixed-layout structs from Vorbis I
    §4.2.2 / RFC 7845 §5.1) alone on the BOS page as both specs
    require, demuxed with full CRC verification, then parsed back —
    codec, sample rate, channels, pre-skip — from the reassembled
    first packet. Audio SAMPLE decode stays honestly stubbed
    (third-party DSP); identification is what a 100 TB ingest needs to
    route/validate uploads. DuckDB oracle replays every field from the
    integer formulas with no parser."""
    docs = load_table(spark, sf_dir, "documents")
    return ogg_codec_stats(docs)


OGG_TAGS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("vendor", T.StringType()),
        T.StructField("n_comments", T.LongType()),
        T.StructField("title", T.StringType()),
        T.StructField("language", T.StringType()),
        T.StructField("source_tag", T.StringType()),
        T.StructField("artist", T.StringType()),
    ]
)


def ogg_tags_stats(docs: DataFrame) -> DataFrame:
    """Synthesize a FULLY spec-conformant Opus-in-Ogg stream per
    document (RFC 7845 §3: OpusHead alone on the BOS page, OpusTags on
    the next page, audio after), demux with `parse_ogg_pages` (CRCs
    recomputed), and read the metadata back out of the reassembled
    second packet — title/language/source/artist, the provenance block
    an ingest pipeline routes on. The LANGUAGE/SOURCE tags carry REAL
    table columns, so the oracle reads them straight off `documents`.
    Arrow `map_rows`, map-only."""

    def row(did, lang, source):
        comments = [
            ("TITLE", f"doc-{did}"),
            ("LANGUAGE", str(lang)),
            ("SOURCE", str(source)),
        ]
        if did % 3 == 0:
            comments.append(("ARTIST", f"a{did % 7}"))
        hdr = encode_opus_id_header(
            1 + (did % 5) % 2, 312 + did % 100, _OGG_RATES[did % 5]
        )
        tags = encode_opus_tags(f"engine-{did % 10}", comments)
        pages = [[hdr], [tags]]
        for p in range(2, 4 + did % 3):
            pages.append(
                [bytes([(did + p) % 256]) * (25 + (did * 3 + p) % 60)]
            )
        granules = [0, 0] + [
            p * 960 for p in range(2, len(pages))
        ]
        d = parse_ogg_pages(
            encode_ogg_stream(pages, did % 100000, granules)
        )
        identify_ogg_codec(d["first_packet"])  # validates OpusHead
        meta = parse_ogg_comments(d["second_packet"])
        tagmap = dict(meta["comments"])
        yield (
            did,
            meta["vendor"],
            meta["n_comments"],
            tagmap.get("TITLE"),
            tagmap.get("LANGUAGE"),
            tagmap.get("SOURCE"),
            tagmap.get("ARTIST"),
        )

    return map_rows(
        docs.select("doc_id", "lang", "source"), row, OGG_TAGS_SCHEMA, spread=True
    )


@query(
    "multimodal_ogg_tags",
    oracle="""
    SELECT doc_id,
           'engine-' || CAST(doc_id % 10 AS VARCHAR) AS vendor,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 4 ELSE 3 END AS BIGINT)
             AS n_comments,
           'doc-' || CAST(doc_id AS VARCHAR) AS title,
           lang AS language,
           source AS source_tag,
           CASE WHEN doc_id % 3 = 0
                THEN 'a' || CAST(doc_id % 7 AS VARCHAR) END AS artist
    FROM documents
    """,
)
def q_multimodal_ogg_tags(spark, sf_dir):
    """Opus metadata extraction over the documents table: a
    spec-conformant OpusHead + OpusTags + audio stream per document,
    demuxed with full CRC verification, the comment header parsed from
    the reassembled second packet. LANGUAGE/SOURCE carry real table
    columns, so the DuckDB oracle reads the expected tags straight off
    `documents` with no parser — a full hash match pins the Ogg
    framing, the packet reassembly, AND the comment-structure walk."""
    docs = load_table(spark, sf_dir, "documents")
    return ogg_tags_stats(docs)


def encode_mp4_fragmented(
    tracks: "list[dict]", movie_timescale: int = 1000
) -> bytes:
    """REAL fragmented-MP4 (fMP4/CMAF — the DASH/HLS upload shape)
    encode: ftyp + moov with EMPTY sample tables + mvex/trex defaults,
    then one moof+mdat pair per fragment. Each track dict is as in
    `encode_mp4_container` but carries 'fragments': a list of
    fragments, each a list of (sample_bytes, duration) or
    (sample_bytes, duration, cts_offset) tuples — a 3-tuple anywhere
    in a track turns on trun sample-composition-time-offsets (flag
    0x800, version 1 when any offset is negative — the CMAF B-frame
    idiom); all tracks must have the same fragment count. Every traf
    uses default-base-is-moof addressing with an explicit trun
    data-offset and per-sample duration+size entries; tfdt carries the
    cumulative decode time. Sample payloads stay opaque (no H.264/AAC
    encoder here); the fragment framing is the real thing."""
    import struct

    nfrag = {len(t["fragments"]) for t in tracks}
    if len(nfrag) != 1:
        raise ValueError("fmp4: all tracks need the same fragment count")
    (nfrag,) = nfrag

    def empty_trak(t: "dict", track_id: int) -> bytes:
        is_video = t["handler"] == "vide"
        w, h = (t.get("width", 0), t.get("height", 0)) if is_video else (0, 0)
        tkhd = _mp4_full(
            b"tkhd", 0, 3,
            struct.pack(">IIII", 0, 0, track_id, 0)
            + struct.pack(">II", 0, 0)
            + struct.pack(">IHHHH", 0, 0, 0, 0 if is_video else 0x0100, 0)
            + _MP4_MATRIX
            + struct.pack(">II", w << 16, h << 16),
        )
        mdhd = _mp4_full(
            b"mdhd", 0, 0,
            struct.pack(">IIIIHH", 0, 0, t["timescale"], 0, 0x55C4, 0),
        )
        hdlr = _mp4_full(
            b"hdlr", 0, 0,
            struct.pack(">I4s", 0, t["handler"].encode())
            + b"\x00" * 12 + b"demux\x00",
        )
        codec = t["codec"].encode()
        if is_video:
            entry = _mp4_box(
                codec,
                b"\x00" * 6 + struct.pack(">H", 1)
                + b"\x00" * 16
                + struct.pack(">HH", w, h)
                + struct.pack(">II", 0x00480000, 0x00480000)
                + struct.pack(">IH", 0, 1)
                + b"\x00" * 32
                + struct.pack(">Hh", 24, -1),
            )
            mhd = _mp4_full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
        else:
            entry = _mp4_box(
                codec,
                b"\x00" * 6 + struct.pack(">H", 1)
                + b"\x00" * 8
                + struct.pack(
                    ">HHHHI", 2, 16, 0, 0, (t["timescale"] & 0xFFFF) << 16
                ),
            )
            mhd = _mp4_full(b"smhd", 0, 0, struct.pack(">HH", 0, 0))
        stsd = _mp4_full(b"stsd", 0, 0, struct.pack(">I", 1) + entry)
        stbl = _mp4_box(
            b"stbl",
            stsd
            + _mp4_full(b"stts", 0, 0, struct.pack(">I", 0))
            + _mp4_full(b"stsc", 0, 0, struct.pack(">I", 0))
            + _mp4_full(b"stsz", 0, 0, struct.pack(">II", 0, 0))
            + _mp4_full(b"stco", 0, 0, struct.pack(">I", 0)),
        )
        dref = _mp4_full(
            b"dref", 0, 0, struct.pack(">I", 1) + _mp4_full(b"url ", 0, 1, b"")
        )
        minf = _mp4_box(b"minf", mhd + _mp4_box(b"dinf", dref) + stbl)
        return _mp4_box(b"trak", tkhd + _mp4_box(b"mdia", mdhd + hdlr + minf))

    ftyp = _mp4_box(b"ftyp", b"iso5" + struct.pack(">I", 0x200) + b"iso5iso6mp41")
    mvhd = _mp4_full(
        b"mvhd", 0, 0,
        struct.pack(">IIII", 0, 0, movie_timescale, 0)
        + struct.pack(">IH", 0x00010000, 0x0100) + b"\x00" * 10
        + _MP4_MATRIX + b"\x00" * 24 + struct.pack(">I", len(tracks) + 1),
    )
    trexes = b"".join(
        _mp4_full(
            b"trex", 0, 0,
            struct.pack(">IIIII", i + 1, 1, t.get("sample_delta", 0), 0, 0),
        )
        for i, t in enumerate(tracks)
    )
    moov = _mp4_box(
        b"moov",
        mvhd
        + b"".join(empty_trak(t, i + 1) for i, t in enumerate(tracks))
        + _mp4_box(b"mvex", trexes),
    )

    # a 3-tuple anywhere in a track means every trun of that track
    # carries composition offsets; version 1 iff any offset is negative
    has_cts = [
        any(len(s) == 3 for fr in t["fragments"] for s in fr) for t in tracks
    ]
    trun_ver = [
        1
        if any(len(s) == 3 and s[2] < 0 for fr in t["fragments"] for s in fr)
        else 0
        for t in tracks
    ]

    out = bytearray(ftyp + moov)
    decode_time = [0] * len(tracks)
    for fi in range(nfrag):
        frag = [t["fragments"][fi] for t in tracks]

        def moof_with(offsets: "list[int]") -> bytes:
            mfhd = _mp4_full(b"mfhd", 0, 0, struct.pack(">I", fi + 1))
            trafs = b""
            for ti, samples in enumerate(frag):
                tfhd = _mp4_full(
                    b"tfhd", 0, 0x020000, struct.pack(">I", ti + 1)
                )
                tfdt = _mp4_full(
                    b"tfdt", 0, 0, struct.pack(">I", decode_time[ti])
                )
                flags = 0x301 | (0x800 if has_cts[ti] else 0)
                cfmt = ">i" if trun_ver[ti] else ">I"
                body = struct.pack(">Ii", len(samples), offsets[ti])
                for s in samples:
                    body += struct.pack(">II", s[1], len(s[0]))
                    if has_cts[ti]:
                        body += struct.pack(cfmt, s[2] if len(s) == 3 else 0)
                trun = _mp4_full(b"trun", trun_ver[ti], flags, body)
                trafs += _mp4_box(b"traf", tfhd + tfdt + trun)
            return _mp4_box(b"moof", mfhd + trafs)

        probe = moof_with([0] * len(tracks))
        offs, off = [], len(probe) + 8  # relative to moof start; + mdat hdr
        for samples in frag:
            offs.append(off)
            off += sum(len(s[0]) for s in samples)
        moof = moof_with(offs)
        assert len(moof) == len(probe)
        for ti, samples in enumerate(frag):
            decode_time[ti] += sum(s[1] for s in samples)
        out += moof + _mp4_box(
            b"mdat", b"".join(s[0] for samples in frag for s in samples)
        )
    return bytes(out)


def mp4_fragmented_stats(docs: DataFrame) -> DataFrame:
    """Synthesize a REAL two-track fragmented mp4 (CMAF shape) per
    document — per-fragment trun runs with VARYING per-sample
    durations and sizes from integer formulas — demux it with
    `parse_mp4_boxes` (which resolves trun entries against
    default-base-is-moof addressing and validates mfhd sequencing),
    and emit one row per track, same schema as `multimodal_mp4_stats`.
    Arrow `map_rows`, map-only."""

    def row(did):
        nfrag = 2 + did % 3
        w, h = 16 * (1 + did % 4), 16 * (1 + did % 3)

        def vsamples(f):
            nv = 1 + (did + f) % 3
            return [
                (
                    bytes([(did * 3 + f * 17 + i * 19) % 256])
                    + bytes([(did + f + i) % 256])
                    * (39 + (did * 7 + f * 11 + i * 13) % 80),
                    30 + (did * 3 + f * 5 + i * 7) % 20,
                )
                for i in range(nv)
            ]

        def asamples(f):
            na = 2 + (did + f) % 2
            return [
                (
                    bytes([(did * 11 + f * 13 + i * 23) % 256])
                    + bytes([(did + f + i) % 256])
                    * (14 + (did * 5 + f * 7 + i * 11) % 40),
                    1024,
                )
                for i in range(na)
            ]

        payload = encode_mp4_fragmented(
            [
                {
                    "handler": "vide",
                    "codec": "avc1" if did % 2 == 0 else "hvc1",
                    "timescale": 1000,
                    "sample_delta": 40,
                    "width": w,
                    "height": h,
                    "fragments": [vsamples(f) for f in range(nfrag)],
                },
                {
                    "handler": "soun",
                    "codec": "mp4a",
                    "timescale": 48000,
                    "sample_delta": 1024,
                    "fragments": [asamples(f) for f in range(nfrag)],
                },
            ]
        )
        d = parse_mp4_boxes(payload)
        for t in d["tracks"]:
            yield (
                did,
                t["track_id"],
                t["handler"],
                t["codec"],
                t["n_samples"],
                t["sample_bytes"],
                t["duration"] * 1000 // t["timescale"],
                t["width"],
                t["height"],
                t["first_byte_sum"],
            )

    return map_rows(docs.select("doc_id"), row, MP4_STATS_SCHEMA, spread=True)


@query(
    "multimodal_fmp4_stats",
    oracle="""
    WITH t AS (
      SELECT doc_id, 2 + doc_id % 3 AS nfrag,
             16 * (1 + doc_id % 4) AS w, 16 * (1 + doc_id % 3) AS h
      FROM documents
    ), vf AS (
      SELECT doc_id, nfrag, w, h, u.f, 1 + (doc_id + u.f) % 3 AS nv
      FROM t, LATERAL (SELECT unnest(range(0, nfrag)) AS f) u
    ), vs AS (
      SELECT doc_id, w, h, f, v.i,
             40 + (doc_id * 7 + f * 11 + v.i * 13) % 80 AS sz,
             30 + (doc_id * 3 + f * 5 + v.i * 7) % 20 AS dur,
             (doc_id * 3 + f * 17 + v.i * 19) % 256 AS fb
      FROM vf, LATERAL (SELECT unnest(range(0, nv)) AS i) v
    ), v AS (
      SELECT doc_id,
             CAST(1 AS BIGINT) AS track_id,
             'vide' AS handler,
             CASE WHEN doc_id % 2 = 0 THEN 'avc1' ELSE 'hvc1' END AS codec,
             CAST(COUNT(*) AS BIGINT) AS n_samples,
             CAST(SUM(sz) AS BIGINT) AS sample_bytes,
             CAST(SUM(dur) AS BIGINT) AS duration_ms,
             CAST(MAX(w) AS BIGINT) AS width,
             CAST(MAX(h) AS BIGINT) AS height,
             CAST(SUM(fb) AS BIGINT) AS first_byte_sum
      FROM vs GROUP BY doc_id
    ), af AS (
      SELECT doc_id, u.f, 2 + (doc_id + u.f) % 2 AS na
      FROM t, LATERAL (SELECT unnest(range(0, nfrag)) AS f) u
    ), asmp AS (
      SELECT doc_id, f, v.i,
             15 + (doc_id * 5 + f * 7 + v.i * 11) % 40 AS sz,
             (doc_id * 11 + f * 13 + v.i * 23) % 256 AS fb
      FROM af, LATERAL (SELECT unnest(range(0, na)) AS i) v
    ), a AS (
      SELECT doc_id,
             CAST(2 AS BIGINT) AS track_id,
             'soun' AS handler,
             'mp4a' AS codec,
             CAST(COUNT(*) AS BIGINT) AS n_samples,
             CAST(SUM(sz) AS BIGINT) AS sample_bytes,
             CAST(COUNT(*) * 1024 * 1000 // 48000 AS BIGINT) AS duration_ms,
             CAST(0 AS BIGINT) AS width,
             CAST(0 AS BIGINT) AS height,
             CAST(SUM(fb) AS BIGINT) AS first_byte_sum
      FROM asmp GROUP BY doc_id
    )
    SELECT * FROM v UNION ALL SELECT * FROM a
    """,
)
def q_multimodal_fmp4_stats(spark, sf_dir):
    """REAL fragmented-MP4 demux over the documents table: build a
    valid CMAF-shaped two-track stream per document (2-4 moof+mdat
    pairs, per-sample trun durations/sizes, default-base-is-moof
    addressing; H.264/HEVC/AAC payloads opaque), walk it back through
    the SAME `parse_mp4_boxes` that handles progressive files —
    trex/tfhd/trun default resolution, mfhd sequence validation — and
    emit one row per track. The DuckDB oracle recomputes every column
    from the fragment formulas with no parser."""
    docs = load_table(spark, sf_dir, "documents")
    return mp4_fragmented_stats(docs)


# ---------------------------------------------------------------------------
# AAC ADTS stream framing — the audio twin of the mp3 frame-sync walk
# (ISO/IEC 13818-7 §6.2): 7-byte fixed+variable headers (9 with CRC),
# syncword stepping by the 13-bit aac_frame_length field. Raw-data-
# block DECODE (the AAC filterbank) is honestly out of scope — the
# framing every ADTS demuxer/ingest filter syncs on is the real thing.
# ---------------------------------------------------------------------------

#: ISO/IEC 14496-3 sampling_frequency_index table (0-12; 13/14
#: reserved, 15 = explicit-frequency escape, both rejected)
_AAC_RATES = (
    96000, 88200, 64000, 48000, 44100, 32000,
    24000, 22050, 16000, 12000, 11025, 8000, 7350,
)
_AAC_SAMPLES_PER_FRAME = 1024  # one raw_data_block


def encode_aac_adts(
    payloads: "list[bytes]",
    profile: int,
    sf_idx: int,
    channels: int,
    crc: bool = False,
) -> bytes:
    """REAL ADTS framing: per raw-data-block payload a genuine header —
    12-bit syncword, MPEG-4 ID, layer 00, protection_absent,
    2-bit profile (Main/LC/SSR), sampling_frequency_index, 3-bit
    channel_configuration, the 13-bit aac_frame_length covering
    header+crc+payload, 11-bit buffer fullness (0x7FF = VBR), and
    single-raw-data-block frames. With crc=True the 16-bit
    adts_error_check is a real CRC-16/0x8005 over the 7 header bytes
    (the spec's scattered multi-rdb coverage doesn't arise in
    single-rdb frames). The payload bytes are opaque filler — AAC
    DECODE needs the full MDCT filterbank, honestly out of scope."""
    if not 0 <= profile <= 2:
        raise ValueError("aac: profile must be 0 (Main), 1 (LC) or 2 (SSR)")
    if not 0 <= sf_idx < len(_AAC_RATES):
        raise ValueError(f"aac: sampling_frequency_index {sf_idx} out of range")
    if not 1 <= channels <= 7:
        raise ValueError("aac: channel_configuration must be 1-7")
    out = bytearray()
    hdr_len = 9 if crc else 7
    for payload in payloads:
        flen = hdr_len + len(payload)
        if flen >= 1 << 13:
            raise ValueError("aac: frame length overflows the 13-bit field")
        hdr = bytearray(7)
        hdr[0] = 0xFF
        hdr[1] = 0xF0 | (0 << 3) | (0 << 1) | (0 if crc else 1)
        hdr[2] = (profile << 6) | (sf_idx << 2) | ((channels >> 2) & 1)
        hdr[3] = ((channels & 0x3) << 6) | ((flen >> 11) & 0x3)
        hdr[4] = (flen >> 3) & 0xFF
        hdr[5] = ((flen & 0x7) << 5) | 0x1F  # buffer fullness hi (0x7FF VBR)
        hdr[6] = 0xFC | 0  # fullness lo + number_of_rdbs-1 = 0
        out += hdr
        if crc:
            out += crc16(bytes(hdr), 0xFFFF).to_bytes(2, "big")
        out += payload
    return bytes(out)


def parse_aac_adts(payload: bytes) -> dict:
    """REAL ADTS frame-sync walk (demux half, mirroring
    `parse_mp3_frames`): validate the 12-bit syncword and layer bits,
    decode profile / sampling_frequency_index / channel_configuration,
    step EXACTLY by aac_frame_length, recompute and verify the CRC of
    protected frames, and quarantine corrupt uploads — lost sync,
    reserved/escape frequency index, zero channel config, frames
    shorter than their own header, truncation, mid-stream parameter
    changes, CRC mismatch, multi-rdb frames — by raising ValueError.

    Returns frame count, stream/payload byte totals, the decoded
    routing fields, integer duration (1024 samples/frame), CRC frame
    count, and the first payload byte of every frame (proof the walk
    lands on real frame boundaries)."""
    pos, end = 0, len(payload)
    n = stream_bytes = payload_bytes = crc_frames = first_byte_sum = 0
    profile = sf_idx = channels = None
    while pos < end:
        if pos + 7 > end:
            raise ValueError("aac: truncated ADTS header")
        if payload[pos] != 0xFF or (payload[pos + 1] & 0xF0) != 0xF0:
            raise ValueError(f"aac: lost frame sync at offset {pos}")
        if (payload[pos + 1] >> 1) & 0x3 != 0:
            raise ValueError("aac: layer bits must be 00 in ADTS")
        protected = not (payload[pos + 1] & 0x1)
        prof = payload[pos + 2] >> 6
        sfi = (payload[pos + 2] >> 2) & 0xF
        if sfi >= len(_AAC_RATES):
            raise ValueError(f"aac: reserved/escape frequency index {sfi}")
        ch = ((payload[pos + 2] & 1) << 2) | (payload[pos + 3] >> 6)
        if ch == 0:
            raise ValueError("aac: channel_configuration 0 (PCE) unsupported")
        flen = (
            ((payload[pos + 3] & 0x3) << 11)
            | (payload[pos + 4] << 3)
            | (payload[pos + 5] >> 5)
        )
        hdr_len = 9 if protected else 7
        if flen < hdr_len:
            raise ValueError("aac: frame length shorter than its header")
        if pos + flen > end:
            raise ValueError("aac: frame extends past end of stream")
        if payload[pos + 6] & 0x3 != 0:
            raise ValueError("aac: multi-raw-data-block frames unsupported")
        if profile is None:
            profile, sf_idx, channels = prof, sfi, ch
        elif (prof, sfi, ch) != (profile, sf_idx, channels):
            raise ValueError("aac: stream parameters change mid-stream")
        if protected:
            want = int.from_bytes(payload[pos + 7 : pos + 9], "big")
            if crc16(payload[pos : pos + 7], 0xFFFF) != want:
                raise ValueError(f"aac: CRC mismatch at offset {pos}")
            crc_frames += 1
        n += 1
        stream_bytes += flen
        payload_bytes += flen - hdr_len
        if flen > hdr_len:
            first_byte_sum += payload[pos + hdr_len]
        pos += flen
    if n == 0:
        raise ValueError("aac: no frames")
    sr = _AAC_RATES[sf_idx]
    return {
        "n_frames": n,
        "profile": profile,
        "sample_rate": sr,
        "channels": channels,
        "stream_bytes": stream_bytes,
        "payload_bytes": payload_bytes,
        "duration_ms": n * _AAC_SAMPLES_PER_FRAME * 1000 // sr,
        "crc_frames": crc_frames,
        "first_byte_sum": first_byte_sum,
    }


AAC_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("profile", T.LongType()),
        T.StructField("sample_rate", T.LongType()),
        T.StructField("channels", T.LongType()),
        T.StructField("stream_bytes", T.LongType()),
        T.StructField("payload_bytes", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("crc_frames", T.LongType()),
        T.StructField("first_byte_sum", T.LongType()),
    ]
)


def aac_stream_stats(docs: DataFrame) -> DataFrame:
    """Synthesize a REAL ADTS stream per document (frame count,
    payload sizes, profile/rate/channels and the CRC-vs-not header
    variant all by doc_id formula), walk it back with
    `parse_aac_adts`, one row per document. Arrow `map_rows`,
    map-only."""

    def row(did):
        nf = 4 + did % 8
        payloads = [
            bytes(
                (did * 13 + i * 31 + j) % 256
                for j in range(20 + (did * 5 + i * 11) % 200)
            )
            for i in range(nf)
        ]
        stream = encode_aac_adts(
            payloads,
            profile=did % 3,
            sf_idx=3 + did % 6,
            channels=1 + did % 2,
            crc=did % 3 == 0,
        )
        d = parse_aac_adts(stream)
        yield did, *(d[f.name] for f in AAC_STATS_SCHEMA.fields[1:])

    return map_rows(docs.select("doc_id"), row, AAC_STATS_SCHEMA, spread=True)


@query(
    "multimodal_aac_stats",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             4 + doc_id % 8 AS nf,
             doc_id % 3 AS profile,
             list_extract([48000,44100,32000,24000,22050,16000],
                          CAST(doc_id % 6 + 1 AS INTEGER)) AS sr,
             1 + doc_id % 2 AS channels,
             CASE WHEN doc_id % 3 = 0 THEN 9 ELSE 7 END AS hdr_len
      FROM documents
    ), f AS (
      SELECT doc_id, nf, profile, sr, channels, hdr_len, u.i,
             20 + (doc_id * 5 + u.i * 11) % 200 AS plen
      FROM t, LATERAL (SELECT unnest(range(0, nf)) AS i) u
    )
    SELECT doc_id,
           CAST(MAX(nf) AS BIGINT) AS n_frames,
           CAST(MAX(profile) AS BIGINT) AS profile,
           CAST(MAX(sr) AS BIGINT) AS sample_rate,
           CAST(MAX(channels) AS BIGINT) AS channels,
           CAST(SUM(hdr_len + plen) AS BIGINT) AS stream_bytes,
           CAST(SUM(plen) AS BIGINT) AS payload_bytes,
           CAST(MAX(nf) * 1024 * 1000 // MAX(sr) AS BIGINT) AS duration_ms,
           CAST(CASE WHEN doc_id % 3 = 0 THEN MAX(nf) ELSE 0 END AS BIGINT)
             AS crc_frames,
           CAST(SUM((doc_id * 13 + i * 31) % 256) AS BIGINT)
             AS first_byte_sum
    FROM f
    GROUP BY doc_id
    """,
)
def q_multimodal_aac_stats(spark, sf_dir):
    """REAL AAC ADTS demux over the documents table (the audio twin of
    `multimodal_mp3_stats`): build a valid ADTS stream per document —
    profile/rate/channel fields, 13-bit frame-length stepping, CRC
    headers on every 3rd doc recomputed and verified — then walk it
    back, one row per document. The DuckDB oracle re-derives every
    column from the header-length formulas with no parser, so a hash
    match pins the encoder, the sync walk, the CRC verification, AND
    the per-frame offsets (via the first-payload-byte checksum)."""
    docs = load_table(spark, sf_dir, "documents")
    return aac_stream_stats(docs)


# ---------------------------------------------------------------------------
# Subtitle / caption parsing (WebVTT + SRT) — the text–video alignment
# column a multimodal training pipeline joins against the per-sample
# PTS from `multimodal_mp4_pts_stats`: cue timing + payload text.
# Pure text munging, map-only; full formula oracle.
# ---------------------------------------------------------------------------

def _fmt_ts(ms: int, sep: str) -> str:
    """HH:MM:SS.mmm (WebVTT) / HH:MM:SS,mmm (SRT) timestamp."""
    h, rem = divmod(ms, 3_600_000)
    m, rem = divmod(rem, 60_000)
    s, frac = divmod(rem, 1_000)
    return f"{h:02d}:{m:02d}:{s:02d}{sep}{frac:03d}"


def _parse_ts(token: str) -> int:
    """Parse a WebVTT/SRT timestamp to integer milliseconds. WebVTT's
    short MM:SS.mmm form is accepted; raises on anything else."""
    import re as _re

    mo = _re.fullmatch(
        r"(?:(\d{2,}):)?(\d{2}):(\d{2})[.,](\d{3})", token
    )
    if mo is None:
        raise ValueError(f"subtitles: malformed timestamp {token!r}")
    h = int(mo.group(1) or 0)
    m, s, frac = int(mo.group(2)), int(mo.group(3)), int(mo.group(4))
    if m >= 60 or s >= 60:
        raise ValueError(f"subtitles: out-of-range timestamp {token!r}")
    return ((h * 60 + m) * 60 + s) * 1000 + frac


def encode_subtitles(
    cues: "list[tuple[int, int, list[str]]]",
    fmt: str,
    note: "str | None" = None,
    idents: bool = False,
    settings: "str | None" = None,
) -> str:
    """Serialize cues ((start_ms, end_ms, text_lines)) as a WebVTT or
    SRT file: WEBVTT header + optional NOTE comment block + optional
    cue identifiers + optional cue settings (VTT), or 1-based counter
    lines and comma-decimal timestamps (SRT) — the two wire formats'
    actual differences."""
    if fmt == "vtt":
        out = ["WEBVTT", ""]
        if note is not None:
            out += ["NOTE " + note, ""]
        for i, (start, end, lines) in enumerate(cues):
            if idents and i % 2 == 1:
                out.append(f"cue-{i}")
            timing = f"{_fmt_ts(start, '.')} --> {_fmt_ts(end, '.')}"
            if settings is not None and i % 3 == 0:
                timing += " " + settings
            out.append(timing)
            out += list(lines)
            out.append("")
        return "\n".join(out)
    if fmt == "srt":
        out = []
        for i, (start, end, lines) in enumerate(cues):
            out.append(str(i + 1))
            out.append(f"{_fmt_ts(start, ',')} --> {_fmt_ts(end, ',')}")
            out += list(lines)
            out.append("")
        return "\n".join(out)
    raise ValueError(f"subtitles: unknown format {fmt!r}")


def parse_subtitles(payload: str) -> dict:
    """REAL WebVTT/SRT cue walk: detect the format (WEBVTT magic vs
    1-based SRT counters), skip VTT NOTE/STYLE/REGION blocks and cue
    identifiers, parse both timestamp dialects (dot vs comma
    milliseconds; VTT's short MM:SS.mmm form), collect multi-line cue
    text, and quarantine malformed uploads — bad/missing timing
    arrows, out-of-range or reversed timestamps, SRT counter gaps,
    cues without text — by raising ValueError.

    Returns format, cue count, first start / last end, summed cue
    duration, summed inter-cue gaps, and total text chars (newlines
    excluded) — the alignment stats a caption-quality filter needs."""
    lines = payload.split("\n")
    is_vtt = lines and lines[0].split(" ")[0].rstrip("\r") == "WEBVTT"
    at = 0
    if is_vtt:
        at = 1
        while at < len(lines) and lines[at].strip():
            at += 1  # header metadata lines
    cues: "list[tuple[int, int, int]]" = []  # (start, end, text_chars)
    counter = 0
    while at < len(lines):
        if not lines[at].strip():
            at += 1
            continue
        block: "list[str]" = []
        while at < len(lines) and lines[at].strip():
            block.append(lines[at].rstrip("\r"))
            at += 1
        if is_vtt and block[0].split(" ")[0] in ("NOTE", "STYLE", "REGION"):
            continue
        if is_vtt and "-->" not in block[0]:
            block = block[1:]  # cue identifier line
            if not block:
                raise ValueError("subtitles: identifier without a cue")
        if not is_vtt:
            head = block[0].strip()
            if not head.isdigit():
                raise ValueError(f"subtitles: SRT counter expected, got {head!r}")
            counter += 1
            if int(head) != counter:
                raise ValueError(
                    f"subtitles: SRT counter {head} out of order "
                    f"(expected {counter})"
                )
            block = block[1:]
        if not block or "-->" not in block[0]:
            raise ValueError("subtitles: cue without a timing line")
        parts = block[0].split("-->")
        if len(parts) != 2:
            raise ValueError(f"subtitles: malformed timing {block[0]!r}")
        start = _parse_ts(parts[0].strip())
        end_tok = parts[1].strip().split(" ")[0]  # settings may follow
        end = _parse_ts(end_tok)
        if end <= start:
            raise ValueError(f"subtitles: cue ends at {end} before start {start}")
        text_lines = block[1:]
        if not text_lines:
            raise ValueError("subtitles: cue without text")
        cues.append((start, end, sum(len(ln) for ln in text_lines)))
    if not cues:
        raise ValueError("subtitles: no cues")
    total_dur = sum(e - s for s, e, _ in cues)
    gaps = sum(
        max(0, cues[i + 1][0] - cues[i][1]) for i in range(len(cues) - 1)
    )
    return {
        "format": "vtt" if is_vtt else "srt",
        "n_cues": len(cues),
        "first_start_ms": cues[0][0],
        "last_end_ms": cues[-1][1],
        "total_dur_ms": total_dur,
        "gap_ms": gaps,
        "text_chars": sum(c for _, _, c in cues),
    }


VTT_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("n_cues", T.LongType()),
        T.StructField("first_start_ms", T.LongType()),
        T.StructField("last_end_ms", T.LongType()),
        T.StructField("total_dur_ms", T.LongType()),
        T.StructField("gap_ms", T.LongType()),
        T.StructField("text_chars", T.LongType()),
    ]
)


def subtitle_cue_stats(docs: DataFrame) -> DataFrame:
    """Synthesize a caption file per document (WebVTT on even doc ids
    with NOTE blocks / identifiers / cue settings, SRT on odd ids;
    cue timing and text by doc_id formula), parse it back with
    `parse_subtitles`, one row per document. Arrow `map_rows`,
    map-only."""

    def row(did):
        fmt = "vtt" if did % 2 == 0 else "srt"
        nc = 3 + did % 6
        step = 1500 + did % 500
        off = did % 100
        cues = []
        for i in range(nc):
            start = off + i * step
            dur = 900 + (did * 7 + i * 13) % 600
            lines = [f"cue {i} of doc {did}"]
            if i % 2 == 0:
                lines.append("line two")
            cues.append((start, start + dur, lines))
        payload = encode_subtitles(
            cues,
            fmt,
            note=f"doc {did}" if did % 4 == 0 and fmt == "vtt" else None,
            idents=fmt == "vtt",
            settings="align:start position:10%" if fmt == "vtt" else None,
        )
        d = parse_subtitles(payload)
        yield did, *(d[f.name] for f in VTT_STATS_SCHEMA.fields[1:])

    return map_rows(docs.select("doc_id"), row, VTT_STATS_SCHEMA, spread=True)


@query(
    "multimodal_vtt_cues",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'vtt' ELSE 'srt' END AS fmt,
             3 + doc_id % 6 AS nc,
             1500 + doc_id % 500 AS step,
             doc_id % 100 AS off
      FROM documents
    ), c AS (
      SELECT doc_id, nc, step, off, u.i,
             900 + (doc_id * 7 + u.i * 13) % 600 AS dur,
             length('cue ' || u.i || ' of doc ' || doc_id)
               + CASE WHEN u.i % 2 = 0 THEN 8 ELSE 0 END AS chars
      FROM t, LATERAL (SELECT unnest(range(0, nc)) AS i) u
    )
    SELECT t.doc_id,
           MAX(t.fmt) AS format,
           CAST(MAX(c.nc) AS BIGINT) AS n_cues,
           CAST(MAX(c.off) AS BIGINT) AS first_start_ms,
           CAST(MAX(CASE WHEN c.i = c.nc - 1
                         THEN c.off + c.i * c.step + c.dur END) AS BIGINT)
             AS last_end_ms,
           CAST(SUM(c.dur) AS BIGINT) AS total_dur_ms,
           CAST((MAX(c.nc) - 1) * MAX(c.step) - SUM(c.dur)
                + MAX(CASE WHEN c.i = c.nc - 1 THEN c.dur END) AS BIGINT)
             AS gap_ms,
           CAST(SUM(c.chars) AS BIGINT) AS text_chars
    FROM t JOIN c ON t.doc_id = c.doc_id
    GROUP BY t.doc_id
    """,
)
def q_multimodal_vtt_cues(spark, sf_dir):
    """REAL WebVTT/SRT caption demux over the documents table: build a
    cue file per document — WebVTT with NOTE blocks, identifiers and
    cue settings on even ids, SRT with counter lines and comma
    timestamps on odd ids — parse it back, one row per document. The
    DuckDB oracle re-derives every column (timing sums, inter-cue
    gaps, text chars) from the cue formulas with no parser, pinning
    the timestamp serializer, both dialect walks, and the gap math."""
    docs = load_table(spark, sf_dir, "documents")
    return subtitle_cue_stats(docs)


EXIF_GPS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("had_gps", T.LongType()),
        T.StructField("lat_mas", T.LongType()),
        T.StructField("lon_mas", T.LongType()),
        T.StructField("lat_ref", T.StringType()),
        T.StructField("lon_ref", T.StringType()),
        T.StructField("n_ifd0_before", T.LongType()),
        T.StructField("n_ifd0_after", T.LongType()),
        T.StructField("intact", T.LongType()),
    ]
)


def exif_gps_scrub_stats(docs: DataFrame) -> DataFrame:
    """Per document: a real baseline JPEG with a full Exif APP1 —
    GPS sub-IFD (exact DMS rationals, N/S/E/W refs) on two of every
    three docs — read the coordinates, SCRUB them with
    `strip_exif_gps`, and verify the scrubbed file re-parses with no
    GPS, identical remaining tags, and an untouched compressed image
    stream. Arrow `map_rows`, map-only."""
    import struct as _struct

    import numpy as np

    def row(did):
        big = did % 2 == 1
        e = ">" if big else "<"
        ifd0 = [
            (0x010E, *_exif_ascii(f"doc-{did}")),
            (0x0112, 3, 1, _struct.pack(e + "H", 1 + did % 8)),
        ]
        exif_ifd = [
            (0x829A, 5, 1, _struct.pack(e + "II", 1, 50 + did % 200)),
        ]
        gps_ifd = None
        if did % 3 != 2:
            lat_ref = b"N\x00" if did % 2 == 0 else b"S\x00"
            lon_ref = b"E\x00" if did % 4 < 2 else b"W\x00"
            deg, minu, sec = did % 90, did % 60, did % 600
            dms = _struct.pack(e + "6I", deg, 1, minu, 1, sec, 10)
            gps_ifd = [
                (0x0001, 2, 2, lat_ref),
                (0x0002, 5, 3, dms),
                (0x0003, 2, 2, lon_ref),
                (0x0004, 5, 3, dms),
            ]
        app1 = encode_exif_app1(
            ifd0, exif_ifd, big_endian=big, gps_ifd=gps_ifd
        )
        px = np.full((8, 8, 3), (did * 13) % 211 + 20, dtype=np.uint8)
        jpg = encode_jpeg(px, 8, 8, quality=95)
        payload = jpg[:2] + app1 + jpg[2:]
        before = parse_jpeg_exif(payload)
        scrubbed, had = strip_exif_gps(payload)
        after = parse_jpeg_exif(scrubbed)
        # surgery invariants: GPS gone, everything else equal,
        # compressed image stream untouched
        assert after["gps"] is None
        assert scrubbed.endswith(jpg[2:])
        intact = int(
            all(
                before[k] == after[k]
                for k in (
                    "byte_order", "description", "orientation",
                    "exposure_num", "exposure_den",
                )
            )
        )
        g = before["gps"]
        yield (
            did,
            int(had),
            g["lat_mas"] if g else None,
            g["lon_mas"] if g else None,
            g.get("lat_ref") if g else None,
            g.get("lon_ref") if g else None,
            before["n_ifd0"],
            after["n_ifd0"],
            intact,
        )

    return map_rows(docs.select("doc_id"), row, EXIF_GPS_SCHEMA, spread=True)


@query(
    "multimodal_exif_gps_scrub",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 <> 2 THEN 1 ELSE 0 END AS has_gps,
             (doc_id % 90) * 3600000 + (doc_id % 60) * 60000
               + (doc_id % 600) * 100 AS mas,
             CASE WHEN doc_id % 2 = 0 THEN 'N' ELSE 'S' END AS latr,
             CASE WHEN doc_id % 4 < 2 THEN 'E' ELSE 'W' END AS lonr
      FROM documents
    )
    SELECT doc_id,
           CAST(has_gps AS BIGINT) AS had_gps,
           CAST(CASE WHEN has_gps = 0 THEN NULL
                     WHEN latr = 'S' THEN -mas ELSE mas END AS BIGINT)
             AS lat_mas,
           CAST(CASE WHEN has_gps = 0 THEN NULL
                     WHEN lonr = 'W' THEN -mas ELSE mas END AS BIGINT)
             AS lon_mas,
           CASE WHEN has_gps = 1 THEN latr END AS lat_ref,
           CASE WHEN has_gps = 1 THEN lonr END AS lon_ref,
           CAST(2 + 1 + has_gps AS BIGINT) AS n_ifd0_before,
           CAST(3 AS BIGINT) AS n_ifd0_after,
           CAST(1 AS BIGINT) AS intact
    FROM t
    """,
)
def q_multimodal_exif_gps_scrub(spark, sf_dir):
    """Image-PII scrub end to end: real JPEGs carry a GPS sub-IFD
    (exact DMS rationals in milliarcseconds, all four hemisphere
    refs); coordinates are extracted, then `strip_exif_gps` rebuilds
    the APP1 without them — the parser proves GPS is gone, every
    other tag survives bit-for-bit, and the compressed image stream
    is untouched. The oracle re-derives coordinates and IFD counts
    from the fixture formulas with no parser (n_ifd0 counts written
    tags + sub-IFD pointers)."""
    docs = load_table(spark, sf_dir, "documents")
    return exif_gps_scrub_stats(docs)


def wav_pcm_quality(payload: bytes) -> dict:
    """Audio-quality features off the REAL PCM decode (stdlib `wave`):
    exact integer peak, clipped-sample count (|s| at the 16-bit
    rails), sum of squares (the RMS numerator), DC sum (the offset
    numerator), and strict sign-change zero crossings — the gating
    signals an audio-corpus curation pass filters on (clipped or
    DC-biased uploads are mic/transcode defects; near-zero crossing
    rates flag silence or DC)."""
    import io
    import struct
    import wave

    with wave.open(io.BytesIO(payload), "rb") as w:
        if w.getsampwidth() != 2:
            raise NotImplementedError("only 16-bit PCM decode implemented")
        samples = struct.unpack(
            f"<{w.getnframes() * w.getnchannels()}h",
            w.readframes(w.getnframes()),
        )
    if not samples:
        raise ValueError("wav: no samples")
    n_clipped = sum(1 for s in samples if s >= 32767 or s <= -32768)
    zc = sum(
        1 for a, b in zip(samples, samples[1:]) if (a < 0 < b) or (b < 0 < a)
    )
    return {
        "n_samples": len(samples),
        "peak": max(abs(s) for s in samples),
        "n_clipped": n_clipped,
        "sum_sq": sum(s * s for s in samples),
        "dc_sum": sum(samples),
        "zero_crossings": zc,
    }


AUDIO_QUALITY_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("peak", T.LongType()),
        T.StructField("n_clipped", T.LongType()),
        T.StructField("sum_sq", T.LongType()),
        T.StructField("dc_sum", T.LongType()),
        T.StructField("zero_crossings", T.LongType()),
    ]
)


def audio_quality_stats(docs: DataFrame) -> DataFrame:
    """Synthesize formula PCM per document (noise with planted clipped
    rails), round-trip it through the REAL WAV codec, and emit the
    quality features. Arrow `map_rows`, map-only."""

    def row(did):
        n = 200 + did % 300
        samples = [
            32767 if i % 50 == 7
            else -32768 if i % 97 == 13
            else ((did * 31 + i * 97) % 65536) - 32768
            for i in range(n)
        ]
        d = wav_pcm_quality(encode_wav(samples))
        yield did, *(d[f.name] for f in AUDIO_QUALITY_SCHEMA.fields[1:])

    return map_rows(docs.select("doc_id"), row, AUDIO_QUALITY_SCHEMA, spread=True)


@query(
    "multimodal_audio_quality",
    oracle="""
    WITH t AS (
      SELECT doc_id, 200 + doc_id % 300 AS n FROM documents
    ), s AS (
      SELECT doc_id, u.i,
             CASE WHEN u.i % 50 = 7 THEN 32767
                  WHEN u.i % 97 = 13 THEN -32768
                  ELSE ((doc_id * 31 + u.i * 97) % 65536) - 32768
             END AS v
      FROM t, LATERAL (SELECT unnest(range(0, n)) AS i) u
    ), z AS (
      SELECT doc_id, v,
             lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
      FROM s
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(MAX(abs(v)) AS BIGINT) AS peak,
           CAST(SUM(CASE WHEN v >= 32767 OR v <= -32768 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped,
           CAST(SUM(v * v) AS BIGINT) AS sum_sq,
           CAST(SUM(v) AS BIGINT) AS dc_sum,
           CAST(SUM(CASE WHEN (pv < 0 AND v > 0) OR (pv > 0 AND v < 0)
                         THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
    FROM z GROUP BY doc_id
    """,
)
def q_multimodal_audio_quality(spark, sf_dir):
    """Audio-quality gating over the documents table: formula PCM with
    planted clipped rails round-trips the real WAV codec; peak /
    clipping / RMS-numerator / DC / zero-crossing features come off
    the decoded samples. The DuckDB oracle replays the sample formula
    and a lag-window zero-crossing count with no codec — a hash match
    pins the PCM round trip exactly (every feature is integer-exact)."""
    docs = load_table(spark, sf_dir, "documents")
    return audio_quality_stats(docs)


# ---------------------------------------------------------------------------
# WebDataset tar-shard demux — the layout multimodal training sets
# actually ship in (tar shards whose members group by key prefix:
# 000017.jpg + 000017.txt + 000017.json form one sample). Hand-rolled
# ustar header walk with checksum verification — the 512-byte-block
# framing every tar reader syncs on.
# ---------------------------------------------------------------------------


def encode_tar(members: "list[tuple[str, bytes]]") -> bytes:
    """Serialize a POSIX ustar archive: per member a 512-byte header
    (name, octal size/mtime/mode, typeflag '0', 'ustar' magic, a REAL
    checksum — sum of header bytes with the checksum field as spaces)
    + 512-padded data, then two zero blocks."""
    out = bytearray()
    for name, data in members:
        if len(name) > 100:
            raise ValueError("tar: name exceeds the 100-byte ustar field")
        hdr = bytearray(512)
        hdr[0 : len(name)] = name.encode("utf-8")
        hdr[100:108] = b"0000644\x00"
        hdr[108:116] = b"0000000\x00"
        hdr[116:124] = b"0000000\x00"
        hdr[124:136] = f"{len(data):011o}\x00".encode("ascii")
        hdr[136:148] = b"00000000000\x00"
        hdr[148:156] = b" " * 8  # checksum computed over spaces
        hdr[156] = ord("0")  # regular file
        hdr[257:263] = b"ustar\x00"
        hdr[263:265] = b"00"
        chk = sum(hdr)
        hdr[148:156] = f"{chk:06o}\x00 ".encode("ascii")
        out += hdr + data
        if len(data) % 512:
            out += bytes(512 - len(data) % 512)
    return bytes(out) + bytes(1024)


def parse_tar(payload: bytes) -> "list[tuple[str, bytes]]":
    """REAL ustar walk: 512-byte header blocks, checksum RECOMPUTED
    and verified, octal size parse, exact data stepping with padding,
    end at the two-zero-block terminator. Raises on a bad magic,
    checksum mismatch, malformed size, truncation, or a missing
    terminator — corrupt-shard quarantine."""
    members: "list[tuple[str, bytes]]" = []
    at = 0
    n = len(payload)
    while True:
        if at + 512 > n:
            raise ValueError("tar: truncated header block")
        hdr = payload[at : at + 512]
        if hdr == bytes(512):
            if payload[at + 512 : at + 1024] != bytes(512):
                raise ValueError("tar: missing second terminator block")
            return members
        if hdr[257:262] != b"ustar":
            raise ValueError(f"tar: bad magic at offset {at}")
        want = int(hdr[148:155].rstrip(b"\x00 "), 8)
        got = sum(hdr[:148]) + 8 * 32 + sum(hdr[156:])
        if want != got:
            raise ValueError(f"tar: checksum mismatch at offset {at}")
        try:
            size = int(hdr[124:135].rstrip(b"\x00 "), 8)
        except ValueError:
            raise ValueError(f"tar: malformed size field at offset {at}")
        name = hdr[:100].rstrip(b"\x00").decode("utf-8")
        data_at = at + 512
        if data_at + size > n:
            raise ValueError("tar: member data extends past end")
        if hdr[156] in (0, ord("0")):
            members.append((name, payload[data_at : data_at + size]))
        at = data_at + size
        if size % 512:
            at += 512 - size % 512


def group_webdataset(members: "list[tuple[str, bytes]]") -> dict:
    """WebDataset sample grouping: members sharing the name up to the
    FIRST dot form one sample; the remainder is the field extension.
    Returns {key: {ext: bytes}}; a repeated (key, ext) raises (a
    corrupt shard would silently drop data otherwise)."""
    out: dict[str, dict[str, bytes]] = {}
    for name, data in members:
        key, dot, ext = name.partition(".")
        if not dot:
            raise ValueError(f"tar: member {name!r} has no extension")
        fields = out.setdefault(key, {})
        if ext in fields:
            raise ValueError(f"tar: duplicate field {ext!r} for key {key!r}")
        fields[ext] = data
    return out


WEBDATASET_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_members", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("complete_samples", T.LongType()),
        T.StructField("txt_bytes", T.LongType()),
        T.StructField("bin_bytes", T.LongType()),
        T.StructField("tar_bytes", T.LongType()),
        T.StructField("text_md5", T.StringType()),
    ]
)


def webdataset_stats(docs: DataFrame) -> DataFrame:
    """Per document: a WebDataset shard of 2 + doc_id%5 samples —
    each sample a .txt field carrying an equal-split slice of the
    REAL text plus a .bin payload of formula bytes; every 3rd shard
    drops one sample's .bin (an incomplete sample the grouper must
    surface, not hide). Round-trips the ustar walk + grouping.
    Arrow `map_rows`, map-only."""
    import hashlib

    def row(did, text):
        ns = 2 + did % 5
        base, rem = divmod(len(text), ns)
        members: "list[tuple[str, bytes]]" = []
        at = 0
        for s in range(ns):
            size = base + (1 if s < rem else 0)
            key = f"{did:06d}-{s:03d}"
            members.append(
                (key + ".txt", text[at : at + size].encode("utf-8"))
            )
            at += size
            if not (did % 3 == 0 and s == 0):
                members.append(
                    (
                        key + ".bin",
                        bytes(
                            (did * 7 + s * 13 + j) % 256
                            for j in range(10 + (did + s) % 40)
                        ),
                    )
                )
        tar = encode_tar(members)
        groups = group_webdataset(parse_tar(tar))
        txt = b"".join(
            groups[k]["txt"] for k in sorted(groups)
        ).decode("utf-8")
        assert txt == text  # fixture invariant
        complete = sum(
            1 for f in groups.values() if {"txt", "bin"} <= set(f)
        )
        yield (
            did,
            len(members),
            len(groups),
            complete,
            sum(len(f["txt"]) for f in groups.values()),
            sum(len(f.get("bin", b"")) for f in groups.values()),
            len(tar),
            hashlib.md5(txt.encode("utf-8")).hexdigest(),
        )

    return map_rows(docs.select("doc_id", "text"), row, WEBDATASET_SCHEMA, spread=True)


@query(
    "multimodal_webdataset_stats",
    oracle="""
    WITH t AS (
      SELECT doc_id, length(text) AS L, 2 + doc_id % 5 AS ns,
             CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS dropped,
             text
      FROM documents
    ), s AS (
      SELECT doc_id, ns, dropped, L, u.i,
             (L // ns) + CASE WHEN u.i < (L % ns) THEN 1 ELSE 0 END AS tlen,
             CASE WHEN dropped = 1 AND u.i = 0 THEN NULL
                  ELSE 10 + (doc_id + u.i) % 40 END AS blen
      FROM t, LATERAL (SELECT unnest(range(0, ns)) AS i) u
    ), agg AS (
      SELECT doc_id,
             SUM(tlen) AS txt_bytes,
             SUM(COALESCE(blen, 0)) AS bin_bytes,
             SUM(CASE WHEN blen IS NULL THEN 0 ELSE 1 END) AS complete,
             -- per member: 512-byte header + data padded to 512
             SUM(512 + 512 * ((tlen + 511) // 512)
                 + COALESCE(512 + 512 * ((blen + 511) // 512), 0))
               AS member_blocks
      FROM s GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(2 * t.ns - t.dropped AS BIGINT) AS n_members,
           CAST(t.ns AS BIGINT) AS n_samples,
           CAST(agg.complete AS BIGINT) AS complete_samples,
           CAST(agg.txt_bytes AS BIGINT) AS txt_bytes,
           CAST(agg.bin_bytes AS BIGINT) AS bin_bytes,
           CAST(agg.member_blocks + 1024 AS BIGINT) AS tar_bytes,
           md5(t.text) AS text_md5
    FROM t JOIN agg ON t.doc_id = agg.doc_id
    """,
)
def q_multimodal_webdataset_stats(spark, sf_dir):
    """WebDataset shard demux over the documents table: real ustar
    framing (verified checksums, octal sizes, 512-block stepping,
    zero-block terminator) + key-prefix sample grouping, with an
    incomplete sample planted on every 3rd shard. The oracle
    re-derives member/sample/byte counts — INCLUDING the exact tar
    byte size from the 512-block arithmetic — and pins the reassembled
    text via md5(text), so a hash match proves the writer, the header
    walk, and the grouping end to end."""
    docs = load_table(spark, sf_dir, "documents")
    return webdataset_stats(docs)


# ---------------------------------------------------------------------------
# Scene-cut detection — the shot-boundary pass a video curation
# pipeline runs before sampling frames: consecutive-frame difference
# energy, cut where it jumps. Integer-exact over the REAL AVI/MJPEG
# decode (flat frames at q95 decode bit-identically), so the oracle
# replays every diff.
# ---------------------------------------------------------------------------

SCENECUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("n_cuts", T.LongType()),
        T.StructField("first_cut", T.LongType()),
        T.StructField("sum_diff", T.LongType()),
        T.StructField("max_diff", T.LongType()),
    ]
)


def detect_scene_cuts(frames: "list", threshold: int = 30) -> dict:
    """Shot boundaries from decoded frames: per consecutive pair, the
    mean absolute pixel difference summed over channels (integer —
    the per-pixel sum is always divisible by the pixel count on flat
    frames, and near-exact otherwise via floor); a cut fires where
    the diff exceeds `threshold`. Returns cut indices + diff stats."""
    import numpy as np

    diffs: "list[int]" = []
    for a, b in zip(frames, frames[1:]):
        d = np.abs(a.astype(np.int64) - b.astype(np.int64)).sum()
        diffs.append(int(d) // (a.shape[0] * a.shape[1]))
    cuts = [i + 1 for i, d in enumerate(diffs) if d > threshold]
    return {
        "cuts": cuts,
        "sum_diff": sum(diffs),
        "max_diff": max(diffs, default=0),
    }


def video_scenecut_stats(docs: DataFrame, threshold: int = 30) -> DataFrame:
    """Per doc: a (12 + id%5)-frame MJPEG video built from flat scenes
    of length 3 + id%3 (±1 luma jitter inside a scene, ≥58-point color
    jumps at scene boundaries), decoded for real and scanned for
    cuts."""
    import numpy as np

    def row(did):
        nf, scene_len = 12 + did % 5, 3 + did % 3
        frames = []
        for f in range(nf):
            s, k = divmod(f, scene_len)
            col = np.array(
                [
                    (did * 31 + s * 59) % 180 + 20 + k % 2,
                    (did * 37 + s * 61) % 180 + 20 + k % 2,
                    (did * 29 + s * 67) % 180 + 20 + k % 2,
                ],
                dtype=np.uint8,
            )
            frames.append(np.broadcast_to(col, (8, 8, 3)).copy())
        payload = encode_avi_mjpeg(frames, 8, 8, quality=95)
        d = decode_avi_frames(payload, every=1)
        sc = detect_scene_cuts(d["frames"], threshold=threshold)
        yield (
            did,
            d["n_frames"],
            len(sc["cuts"]),
            sc["cuts"][0] if sc["cuts"] else None,
            sc["sum_diff"],
            sc["max_diff"],
        )

    return map_rows(docs.select("doc_id"), row, SCENECUT_SCHEMA, spread=True)


@query(
    "multimodal_video_scenecut",
    oracle="""
    WITH t AS (
      SELECT doc_id, 12 + doc_id % 5 AS nf, 3 + doc_id % 3 AS L
      FROM documents
    ), fr AS (
      SELECT doc_id, u.f,
             (doc_id*31 + (u.f // L)*59) % 180 + 20 + (u.f % L) % 2 AS r,
             (doc_id*37 + (u.f // L)*61) % 180 + 20 + (u.f % L) % 2 AS g,
             (doc_id*29 + (u.f // L)*67) % 180 + 20 + (u.f % L) % 2 AS b
      FROM t, LATERAL (SELECT unnest(range(0, nf)) AS f) u
    ), d AS (
      SELECT doc_id, f,
             abs(r - lag(r) OVER w) + abs(g - lag(g) OVER w)
             + abs(b - lag(b) OVER w) AS diff
      FROM fr WINDOW w AS (PARTITION BY doc_id ORDER BY f)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(COUNT(*) FILTER (diff > 30) AS BIGINT) AS n_cuts,
           CAST(MIN(f) FILTER (diff > 30) AS BIGINT) AS first_cut,
           CAST(COALESCE(SUM(diff), 0) AS BIGINT) AS sum_diff,
           CAST(COALESCE(MAX(diff), 0) AS BIGINT) AS max_diff
    FROM d GROUP BY doc_id
    """,
)
def q_multimodal_video_scenecut(spark, sf_dir):
    """Shot-boundary detection over the documents table: every doc
    becomes a 12-16 frame MJPEG video of flat scenes (length 3 + id%3)
    with ±1 in-scene jitter and ≥58-point jumps at boundaries —
    decoded frame-by-frame with the zero-dep T.81 codec, diffed, and
    thresholded at 30. The margin (3 vs 58) makes every boundary
    decision unambiguous, and q95 flat frames decode bit-exactly, so
    the oracle replays every diff, the cut census, the first cut
    position, and the exact diff sums from the color formula alone."""
    docs = load_table(spark, sf_dir, "documents")
    return video_scenecut_stats(docs)
