"""Bit I/O, varints and CRCs shared by the zero-dependency codecs in
`llm/` — one fast form of each primitive, each pinned against a slow
per-bit or per-byte reference in tests/test_bitio.py:

- `MsbReader` / `MsbWriter`: MSB-first bit order (FLAC, H.264 RBSP,
  MP3 side info). A read takes all n bits in one `int.from_bytes` +
  shift; the writer accumulates in an int and flushes whole bytes, so
  `out` always holds every completed byte.
- `LsbReader` / `LsbWriter`: LSB-first bit order (WebP VP8L).
- `read_uvarint` / `uvarint`, `zigzag` / `unzigzag`: LEB128 varints
  (protobuf, Avro, Kafka, thrift compact, ORC RLEv2, parquet
  DELTA_BINARY_PACKED).
- `crc8` / `crc16`: table CRCs over polynomials 0x07 and 0x8005, MSB
  first, no final xor (FLAC frame header and frame, ADTS header).
- `crc32_msb`: unreflected CRC-32, polynomial 0x04C11DB7, no final
  xor (Ogg pages start at 0, MPEG-2 PSI sections at 0xFFFFFFFF),
  computed by C-speed zlib.
- `crc32c` / `crc32c_batch`: CRC-32C (Castagnoli) — TFRecord, Kafka.

Every decoding error is a ValueError whose message starts with the
caller's `what` label, so a codec's errors still name the codec.
zstd's zero-fill and reverse bit streams, the JPEG windowed entropy
decoder, the VP8 boolean decoder, EBML VINTs, snappy and LZ4 are
different formats, not copies of these, and keep their own readers.
"""

from __future__ import annotations

import zlib


class _BitCursor:
    """Shared state of both bit readers: `pos` is the byte holding the
    next unread bit, `bit` the bits of it already consumed."""

    what = "bitstream"

    def __init__(self, data: bytes, pos: int = 0, what: "str | None" = None):
        self.data = data
        self.pos = pos
        self.bit = 0
        if what is not None:
            self.what = what

    def _truncated(self) -> ValueError:
        return ValueError(f"{self.what}: truncated bitstream (bit read past end)")

    def align(self) -> None:
        """Skip to the next byte boundary."""
        if self.bit:
            self.bit = 0
            self.pos += 1


class MsbReader(_BitCursor):
    """MSB-first bit reader."""

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        need = self.bit + n
        nby = (need + 7) >> 3
        chunk = self.data[self.pos : self.pos + nby]
        if len(chunk) < nby:
            raise self._truncated()
        v = (int.from_bytes(chunk, "big") >> (nby * 8 - need)) & ((1 << n) - 1)
        self.pos += need >> 3
        self.bit = need & 7
        return v

    def signed(self, n: int) -> int:
        """n-bit two's complement."""
        v = self.read(n)
        return v - (1 << n) if v >> (n - 1) else v

    def unary(self, limit: int = 1 << 24) -> int:
        """Count 0-bits up to the next 1-bit and consume both. Scans
        whole bytes for the 1-bit; a run longer than `limit` raises."""
        d, pos, bit, q = self.data, self.pos, self.bit, 0
        nd = len(d)
        while True:
            if pos >= nd:
                raise self._truncated()
            cur = d[pos] & (0xFF >> bit)
            if cur:
                hb = cur.bit_length()  # 1..8; the 1-bit is at 8-hb
                q += (8 - hb) - bit
                bit = 9 - hb
                if bit == 8:
                    bit = 0
                    pos += 1
                break
            q += 8 - bit
            bit = 0
            pos += 1
            if q > limit:
                break
        if q > limit:
            raise ValueError(f"{self.what}: unary run longer than {limit} bits")
        self.pos, self.bit = pos, bit
        return q


class LsbReader(_BitCursor):
    """LSB-first bit reader."""

    def read(self, n: int) -> int:
        need = self.bit + n
        nby = (need + 7) >> 3
        chunk = self.data[self.pos : self.pos + nby]
        if len(chunk) < nby:
            raise self._truncated()
        v = (int.from_bytes(chunk, "little") >> self.bit) & ((1 << n) - 1)
        self.pos += need >> 3
        self.bit = need & 7
        return v


class _BitSink:
    """Shared state of both bit writers: completed bytes in `out`,
    `bit` (< 8) pending bits in `acc`. A value wider than its field
    raises rather than being truncated into the neighbouring fields."""

    what = "bitstream"

    def __init__(self, what: "str | None" = None):
        self.out = bytearray()
        self.acc = 0
        self.bit = 0
        if what is not None:
            self.what = what

    def _overflow(self, v: int, n: int) -> ValueError:
        return ValueError(f"{self.what}: value {v} overflows {n} bits")

    def align(self) -> None:
        """Zero-fill to the next byte boundary."""
        if self.bit:
            self.write(0, 8 - self.bit)


class MsbWriter(_BitSink):
    """MSB-first bit writer."""

    def write(self, v: int, n: int) -> None:
        if v < 0 or v >> n:
            raise self._overflow(v, n)
        acc = (self.acc << n) | v
        nb = self.bit + n
        if nb >= 8:
            flush = nb & ~7
            nb -= flush
            self.out += (acc >> nb).to_bytes(flush >> 3, "big")
            acc &= (1 << nb) - 1
        self.acc = acc
        self.bit = nb

    def signed(self, v: int, n: int) -> None:
        """n-bit two's complement."""
        self.write(v & ((1 << n) - 1), n)

    def unary(self, q: int) -> None:
        """q 0-bits then a 1-bit."""
        self.write(1, q + 1)


class LsbWriter(_BitSink):
    """LSB-first bit writer."""

    def write(self, v: int, n: int) -> None:
        if v < 0 or v >> n:
            raise self._overflow(v, n)
        acc = self.acc | (v << self.bit)
        nb = self.bit + n
        if nb >= 8:
            flush = nb & ~7
            self.out += (acc & ((1 << flush) - 1)).to_bytes(flush >> 3, "little")
            acc >>= flush
            nb -= flush
        self.acc = acc
        self.bit = nb


# ---------------------------------------------------------------------------
# LEB128 varints

#: every 1-byte varint (0..127 — tags, small lengths, small ints)
_VARINT1 = [bytes((v,)) for v in range(0x80)]


def read_uvarint(buf: bytes, pos: int, what: str) -> "tuple[int, int]":
    """(value, position after it) of the unsigned LEB128 varint at
    `buf[pos]`. At most 10 bytes, the 64-bit maximum (a continuation
    bit on the 10th raises "varint too long"); a buffer ending inside
    it raises "truncated varint"."""
    n = len(buf)
    if pos >= n:
        raise ValueError(f"{what}: truncated varint")
    b = buf[pos]
    pos += 1
    if b < 0x80:
        return b, pos
    v, shift = b ^ 0x80, 7
    while True:
        if pos >= n:
            raise ValueError(f"{what}: truncated varint")
        b = buf[pos]
        pos += 1
        if b < 0x80:
            return v | (b << shift), pos
        v |= (b ^ 0x80) << shift
        shift += 7
        if shift == 70:
            raise ValueError(f"{what}: varint too long")


def uvarint(v: int) -> bytes:
    """Unsigned LEB128 encoding of `v` >= 0."""
    if 0 <= v < 0x80:
        return _VARINT1[v]
    if v < 0:
        raise ValueError(f"uvarint: negative value {v}")
    out = bytearray()
    while v >= 0x80:
        out.append(0x80 | (v & 0x7F))
        v >>= 7
    out.append(v)
    return bytes(out)


def zigzag(v: int) -> int:
    """Signed -> unsigned: 0, -1, 1, -2, ... -> 0, 1, 2, 3, ..."""
    return v << 1 if v >= 0 else (~v << 1) | 1


def unzigzag(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


# ---------------------------------------------------------------------------
# CRCs


def _msb_table(poly: int, width: int) -> "list[int]":
    """Per-byte table of an unreflected CRC: entry b is the 8-step
    shift-register loop run on b."""
    top, mask = 1 << (width - 1), (1 << width) - 1
    tbl = []
    for b in range(256):
        crc = b << (width - 8)
        for _ in range(8):
            crc = ((crc << 1) ^ poly) & mask if crc & top else (crc << 1) & mask
        tbl.append(crc)
    return tbl


_CRC8 = _msb_table(0x07, 8)
_CRC16 = _msb_table(0x8005, 16)
_CRC32_MSB = _msb_table(0x04C11DB7, 32)


def crc8(data: bytes, init: int = 0) -> int:
    """CRC-8, polynomial x^8 + x^2 + x + 1 (0x07)."""
    crc, tbl = init, _CRC8
    for b in data:
        crc = tbl[crc ^ b]
    return crc


def crc16(data: bytes, init: int = 0) -> int:
    """CRC-16, polynomial x^16 + x^15 + x^2 + 1 (0x8005)."""
    crc, tbl = init, _CRC16
    for b in data:
        crc = ((crc << 8) & 0xFFFF) ^ tbl[(crc >> 8) ^ b]
    return crc


#: per-byte bit reversal
_BITREV8 = bytes(int(f"{i:08b}"[::-1], 2) for i in range(256))


def _bitrev32(x: int) -> int:
    br = _BITREV8
    return (
        br[x >> 24]
        | (br[(x >> 16) & 0xFF] << 8)
        | (br[(x >> 8) & 0xFF] << 16)
        | (br[x & 0xFF] << 24)
    )


def crc32_msb(data: bytes, init: int = 0) -> int:
    """Unreflected CRC-32 (polynomial 0x04C11DB7, no final xor) via
    zlib: the CRC with an unreflected polynomial P over message M
    equals the bit-reversed reflected-P CRC of the byte-bit-reversed
    message from the bit-reversed register (the reflection identity),
    and zlib's polynomial 0xEDB88320 IS bitrev32(0x04C11DB7). zlib's
    init/final-xor conditioning is undone algebraically: the register
    after M from R is ~crc32(M, ~R)."""
    r = _bitrev32(init)
    raw = ~zlib.crc32(data.translate(_BITREV8), ~r & 0xFFFFFFFF) & 0xFFFFFFFF
    return _bitrev32(raw)


def crc32_msb_ref(data: bytes, init: int = 0) -> int:
    """Table-driven form of `crc32_msb` (RFC 3533 §6 literal) — the
    reference the tests compare the zlib mapping against."""
    crc, tbl = init, _CRC32_MSB
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ tbl[(crc >> 24) ^ b]
    return crc


def _lsb_table(poly: int) -> "list[int]":
    """Per-byte table of a reflected CRC (`poly` bit-reversed)."""
    tbl = []
    for b in range(256):
        for _ in range(8):
            b = (b >> 1) ^ poly if b & 1 else b >> 1
        tbl.append(b)
    return tbl


_CRC32C = _lsb_table(0x82F63B78)


def crc32c(data: bytes) -> int:
    """CRC-32C (Castagnoli, poly 0x1EDC6F41 reflected) — the checksum
    TFRecord, Kafka v2 batches, and iSCSI use."""
    crc, tbl = 0xFFFFFFFF, _CRC32C
    for b in data:
        crc = (crc >> 8) ^ tbl[(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFF


def crc32c_batch(blobs: "list[bytes]") -> "list[int]":
    """Vectorized CRC-32C over many blobs: group by length, then one
    numpy table-lookup pass per BYTE POSITION (the per-blob chain is
    sequential, but across blobs each step vectorizes) — ~50x the
    per-byte Python loop on TFRecord-sized shards. Bit-identical to
    `crc32c`."""
    import numpy as np

    out = [0] * len(blobs)
    by_len: "dict[int, list[int]]" = {}
    for i, b in enumerate(blobs):
        by_len.setdefault(len(b), []).append(i)
    tab = np.array(_CRC32C, dtype=np.uint32)
    for ln, idxs in by_len.items():
        if ln == 0:
            continue  # crc32c(b"") == 0 already
        if len(idxs) < 8:  # numpy setup loses on tiny groups
            for i in idxs:
                out[i] = crc32c(blobs[i])
            continue
        mat = np.frombuffer(
            b"".join(blobs[i] for i in idxs), dtype=np.uint8
        ).reshape(len(idxs), ln)
        crc = np.full(len(idxs), 0xFFFFFFFF, dtype=np.uint32)
        for j in range(ln):
            crc = (crc >> np.uint32(8)) ^ tab[(crc ^ mat[:, j]) & 0xFF]
        crc ^= 0xFFFFFFFF
        for k, i in enumerate(idxs):
            out[i] = int(crc[k])
    return out
