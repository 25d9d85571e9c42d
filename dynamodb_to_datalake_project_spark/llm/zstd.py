"""Pure-Python Zstandard decoder (RFC 8878) — no zstd library anywhere.

ZSTD is the dominant codec of the modern lakehouse: parquet-cpp,
ORC, Kafka, Avro and WARC archives all ship it, and the round-8
parquet value reader (`llm.parquetmeta.read_parquet_column_full`)
could read SNAPPY/GZIP/LZ4 pages but had to raise on ZSTD. This
module completes the codec family the same way snappy and LZ4 were
done: a from-spec implementation, cross-checked bit-for-bit against
an independent implementation (pyarrow's bundled libzstd) in the
unit tests.

Scope — the full *decoder* side of RFC 8878:
- frames: magic, frame-header descriptor, window descriptor,
  frame-content size, XXH64 content checksum (verified), skippable
  frames, multi-frame streams;
- blocks: Raw, RLE and Compressed (reserved type raises);
- literals: Raw, RLE, Huffman-compressed (1- and 4-stream) and
  Treeless (table reuse across blocks);
- Huffman: direct 4-bit weights and FSE-compressed weights
  (two interleaved states, RFC 8878 §4.2.1);
- sequences: Predefined / RLE / FSE_Compressed / Repeat modes for
  all three of LL/OF/ML, repeat-offset history (1,4,8), overlapping
  match copies.
Dictionaries are the one honest boundary: a frame that demands an
external dictionary (Dictionary_ID != 0) raises NotImplementedError
— decoding it without the dictionary bytes is impossible by
construction, not unimplemented.

Reference behavior generalized: the reference pipeline stores its
lake as compressed columnar files and hands decompression to the
engine (vendor/aws_dynamodb_export_to_s3.py gzip lines; Glue's
parquet codecs) — this module is what lets the zero-dep value reader
audit such a lake when the codec at rest is zstd.

Malformed input raises ValueError (quarantine row), never crashes.
"""

from __future__ import annotations

from dynamodb_to_datalake_project_spark.rowmap import map_rows

_MAGIC = 0xFD2FB528
_SKIP_LO, _SKIP_HI = 0x184D2A50, 0x184D2A5F
_MASK64 = (1 << 64) - 1

# --- XXH64 (public domain algorithm; used for the frame checksum) ---

_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK64


def xxh64(data: bytes, seed: int = 0) -> int:
    """XXH64 of `data` — the hash RFC 8878 frames carry (low 32 bits)
    as Content_Checksum. Public test vectors pinned in the tests."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _MASK64
        v2 = (seed + _P2) & _MASK64
        v3 = seed & _MASK64
        v4 = (seed - _P1) & _MASK64
        while i + 32 <= n:
            v1 = (_rotl((v1 + int.from_bytes(data[i : i + 8], "little") * _P2) & _MASK64, 31) * _P1) & _MASK64
            v2 = (_rotl((v2 + int.from_bytes(data[i + 8 : i + 16], "little") * _P2) & _MASK64, 31) * _P1) & _MASK64
            v3 = (_rotl((v3 + int.from_bytes(data[i + 16 : i + 24], "little") * _P2) & _MASK64, 31) * _P1) & _MASK64
            v4 = (_rotl((v4 + int.from_bytes(data[i + 24 : i + 32], "little") * _P2) & _MASK64, 31) * _P1) & _MASK64
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _MASK64
        for v in (v1, v2, v3, v4):
            h = ((h ^ ((_rotl((v * _P2) & _MASK64, 31) * _P1) & _MASK64)) * _P1 + _P4) & _MASK64
    else:
        h = (seed + _P5) & _MASK64
    h = (h + n) & _MASK64
    while i + 8 <= n:
        k = (_rotl((int.from_bytes(data[i : i + 8], "little") * _P2) & _MASK64, 31) * _P1) & _MASK64
        h = ((_rotl(h ^ k, 27) * _P1) + _P4) & _MASK64
        i += 8
    if i + 4 <= n:
        h = ((_rotl(h ^ ((int.from_bytes(data[i : i + 4], "little") * _P1) & _MASK64), 23) * _P2) + _P3) & _MASK64
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _MASK64), 11) * _P1) & _MASK64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _MASK64
    h ^= h >> 29
    h = (h * _P3) & _MASK64
    h ^= h >> 32
    return h


# --- bit readers -----------------------------------------------------------


class _FwdBits:
    """Forward little-endian bit reader (FSE table descriptions,
    RFC 8878 §4.1.1): bit 0 of byte 0 first. Reads past the end
    return zero bits; `bytes_used` rounds the consumed bit count up
    so the caller can resume byte-aligned."""

    __slots__ = ("buf", "bitpos")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.bitpos = 0

    def read(self, n: int) -> int:
        v = self.peek(n)
        self.bitpos += n
        return v

    def peek(self, n: int) -> int:
        out = 0
        for k in range(n):
            p = self.bitpos + k
            byte = self.buf[p >> 3] if (p >> 3) < len(self.buf) else 0
            out |= ((byte >> (p & 7)) & 1) << k
        return out

    def skip(self, n: int) -> None:
        self.bitpos += n

    def bytes_used(self) -> int:
        return (self.bitpos + 7) >> 3


class _BackBits:
    """Backward bit reader (Huffman / FSE payload bitstreams, RFC
    8878 §3.1.1.3.1): the stream is read from the LAST byte toward
    the first; the last byte carries a 1-bit sentinel above the
    payload. Reads beyond the first byte return zero bits and are
    counted in `overrun` — FSE weight interleaving uses that as its
    termination signal; everywhere else overrun means corruption."""

    __slots__ = ("buf", "pos", "acc", "nbits", "overrun")

    def __init__(self, buf: bytes):
        if not buf or buf[-1] == 0:
            raise ValueError("zstd: empty bitstream or missing sentinel")
        self.buf = buf
        self.pos = len(buf) - 1
        self.nbits = buf[-1].bit_length() - 1  # drop the sentinel bit
        self.acc = buf[-1] & ((1 << self.nbits) - 1)
        self.overrun = 0

    def _fill(self, need: int) -> None:
        while self.nbits < need:
            self.pos -= 1
            if self.pos >= 0:
                self.acc = (self.acc << 8) | self.buf[self.pos]
            else:
                self.acc <<= 8
                self.overrun += 8
            self.nbits += 8

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        self._fill(n)
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v

    def peek(self, n: int) -> int:
        if n == 0:
            return 0
        # peek may look past the start (zero-padded) without counting
        # it as overrun — Huffman's last symbols legitimately do this.
        acc, nbits, pos = self.acc, self.nbits, self.pos
        while nbits < n:
            pos -= 1
            acc = (acc << 8) | (self.buf[pos] if pos >= 0 else 0)
            nbits += 8
        return (acc >> (nbits - n)) & ((1 << n) - 1)

    def exhausted(self) -> bool:
        """True when every payload bit has been consumed exactly."""
        return self.overrun == 0 and self.pos == 0 and self.nbits == 0


# --- FSE -------------------------------------------------------------------


def _fse_read_ncount(fwd: _FwdBits, max_symbol: int, max_al: int):
    """RFC 8878 §4.1.1 FSE table description: accuracy log (4 bits,
    +5), then variable-bit normalized counts with zero-run repeat
    flags. Returns (counts with -1 for less-than-one, accuracy_log)."""
    al = fwd.read(4) + 5
    if al > max_al:
        raise ValueError(f"zstd: FSE accuracy log {al} > max {max_al}")
    remaining = (1 << al) + 1
    threshold = 1 << al
    nbits = al + 1
    counts: list[int] = []
    prev0 = False
    while remaining > 1:
        if len(counts) > max_symbol:
            raise ValueError("zstd: FSE description has too many symbols")
        if prev0:
            rep = fwd.read(2)
            while rep == 3:
                counts.extend((0, 0, 0))
                rep = fwd.read(2)
            counts.extend([0] * rep)
            if len(counts) > max_symbol + 1:
                raise ValueError("zstd: FSE zero-run overruns symbols")
            prev0 = False
            continue
        maxv = (2 * threshold - 1) - remaining
        val = fwd.peek(nbits)
        if (val & (threshold - 1)) < maxv:
            count = val & (threshold - 1)
            fwd.skip(nbits - 1)
        else:
            count = val & (2 * threshold - 1)
            if count >= threshold:
                count -= maxv
            fwd.skip(nbits)
        count -= 1  # -1 encodes "less than 1" probability
        remaining -= -count if count < 0 else count
        counts.append(count)
        prev0 = count == 0
        while remaining < threshold:
            threshold >>= 1
            nbits -= 1
    if remaining != 1:
        raise ValueError("zstd: FSE counts do not sum to table size")
    counts.extend([0] * (max_symbol + 1 - len(counts)))
    return counts, al


def _fse_table(counts: "list[int]", al: int):
    """Build the FSE decode table: cell -> (symbol, nb_bits, baseline).
    Less-than-one symbols take one cell at the top; positive-prob
    symbols spread with the (tableSize/2 + tableSize/8 + 3) step."""
    size = 1 << al
    syms = [0] * size
    high = size - 1
    for s, p in enumerate(counts):
        if p == -1:
            syms[high] = s
            high -= 1
    pos = 0
    step = (size >> 1) + (size >> 3) + 3
    mask = size - 1
    for s, p in enumerate(counts):
        for _ in range(max(p, 0)):
            syms[pos] = s
            pos = (pos + step) & mask
            while pos > high:
                pos = (pos + step) & mask
    if pos != 0:
        raise ValueError("zstd: FSE spread did not close")
    # per-symbol sub-state counters: cells in table order get x = p, p+1, ...
    nxt = [max(p, 0) for p in counts]
    table = [None] * size  # type: ignore[list-item]
    for cell in range(high + 1):
        s = syms[cell]
        x = nxt[s]
        nxt[s] += 1
        nb = al - (x.bit_length() - 1)
        table[cell] = (s, nb, (x << nb) - size)
    for cell in range(high + 1, size):
        table[cell] = (syms[cell], al, 0)
    return table


def _fse_decode_interleaved(data: bytes, table, al: int, max_out: int):
    """Two-state interleaved FSE decode (Huffman weights): alternate
    states; when a state update runs past the stream start, flush the
    OTHER state's symbol and stop (zstd's FSE_decompress loop)."""
    bits = _BackBits(data)
    s1 = bits.read(al)
    s2 = bits.read(al)
    if bits.overrun:
        raise ValueError("zstd: FSE weight stream too short for states")
    out: list[int] = []
    while True:
        if len(out) >= max_out:
            raise ValueError("zstd: FSE weight stream emits too many symbols")
        sym, nb, base = table[s1]
        out.append(sym)
        s1 = base + bits.read(nb)
        if bits.overrun:
            out.append(table[s2][0])
            break
        if len(out) >= max_out:
            raise ValueError("zstd: FSE weight stream emits too many symbols")
        sym, nb, base = table[s2]
        out.append(sym)
        s2 = base + bits.read(nb)
        if bits.overrun:
            out.append(table[s1][0])
            break
    return out


# --- Huffman ---------------------------------------------------------------


def _huf_table_from_weights(weights: "list[int]"):
    """Canonical Huffman table (RFC 8878 §4.2.1): the LAST weight is
    implied (completes the weight sum to a power of two); weight-1
    symbols (longest codes) fill the low table indices, classes in
    ascending weight, natural symbol order within a class."""
    total = sum((1 << (w - 1)) for w in weights if w > 0)
    if total == 0:
        raise ValueError("zstd: huffman weights are all zero")
    max_bits = total.bit_length()  # log2 of the next power of two > total
    rest = (1 << max_bits) - total
    if rest & (rest - 1):
        raise ValueError("zstd: huffman weights do not complete a power of 2")
    weights = weights + [rest.bit_length()]  # implied last weight
    if max_bits > 11:
        raise ValueError(f"zstd: huffman max bits {max_bits} > 11")
    table = [None] * (1 << max_bits)  # type: ignore[list-item]
    pos = 0
    for w in range(1, max_bits + 1):
        span = 1 << (w - 1)
        nb = max_bits + 1 - w
        for s, ws in enumerate(weights):
            if ws == w:
                for k in range(pos, pos + span):
                    table[k] = (s, nb)
                pos += span
    if pos != 1 << max_bits:
        raise ValueError("zstd: huffman table did not fill")
    return table, max_bits


def _huf_read_weights(data: bytes):
    """Huffman tree description: header byte >= 128 -> direct 4-bit
    weights (header-127 of them); < 128 -> `header` bytes of
    FSE-compressed weights (accuracy log <= 6, two interleaved
    states). Returns (weights, bytes consumed)."""
    if not data:
        raise ValueError("zstd: missing huffman tree description")
    h = data[0]
    if h >= 128:
        n = h - 127
        nbytes = (n + 1) >> 1
        if len(data) < 1 + nbytes:
            raise ValueError("zstd: truncated direct huffman weights")
        weights = []
        for i in range(n):
            b = data[1 + (i >> 1)]
            weights.append((b >> 4) if i % 2 == 0 else (b & 0xF))
        return weights, 1 + nbytes
    if len(data) < 1 + h:
        raise ValueError("zstd: truncated FSE huffman weights")
    blob = data[1 : 1 + h]
    fwd = _FwdBits(blob)
    counts, al = _fse_read_ncount(fwd, max_symbol=255, max_al=6)
    used = fwd.bytes_used()
    if used > len(blob):
        raise ValueError("zstd: FSE weight description overruns its size")
    table = _fse_table(counts, al)
    weights = _fse_decode_interleaved(blob[used:], table, al, max_out=255)
    return weights, 1 + h


def _huf_decode_stream(data: bytes, table, max_bits: int, n_out: int) -> bytearray:
    """Decode one Huffman stream: peek max_bits as the table index,
    consume the entry's code length; the stream must land exactly on
    its sentinel."""
    bits = _BackBits(data)
    out = bytearray(n_out)
    for i in range(n_out):
        sym, nb = table[bits.peek(max_bits)]
        bits.read(nb)
        if bits.overrun:
            raise ValueError("zstd: huffman stream overrun")
        out[i] = sym
    if not bits.exhausted():
        raise ValueError("zstd: huffman stream not fully consumed")
    return out


# --- sequences: predefined tables and code semantics ------------------------

_LL_DEFAULT = (
    [4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1, 2, 2, 2, 2, 2, 2, 2,
     2, 2, 3, 2, 1, 1, 1, 1, 1, -1, -1, -1, -1],
    6,
)
_ML_DEFAULT = (
    [1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
     1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
     -1, -1, -1, -1, -1, -1, -1],
    6,
)
_OF_DEFAULT = (
    [1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
     1, -1, -1, -1, -1, -1],
    5,
)

#: literal-length code -> (baseline, extra bits), codes 16..35
_LL_EXTRA = [
    (16, 1), (18, 1), (20, 1), (22, 1), (24, 2), (28, 2), (32, 3), (40, 3),
    (48, 4), (64, 6), (128, 7), (256, 8), (512, 9), (1024, 10), (2048, 11),
    (4096, 12), (8192, 13), (16384, 14), (32768, 15), (65536, 16),
]
#: match-length code -> (baseline, extra bits), codes 32..52
_ML_EXTRA = [
    (35, 1), (37, 1), (39, 1), (41, 1), (43, 2), (47, 2), (51, 3), (59, 3),
    (67, 4), (83, 4), (99, 5), (131, 7), (259, 8), (515, 9), (1027, 10),
    (2051, 11), (4099, 12), (8195, 13), (16387, 14), (32771, 15),
    (65539, 16),
]


def _ll_value(code: int, bits: _BackBits) -> int:
    if code < 16:
        return code
    if code > 35:
        raise ValueError(f"zstd: literal-length code {code}")
    base, nb = _LL_EXTRA[code - 16]
    return base + bits.read(nb)


def _ml_value(code: int, bits: _BackBits) -> int:
    if code < 32:
        return code + 3
    if code > 52:
        raise ValueError(f"zstd: match-length code {code}")
    base, nb = _ML_EXTRA[code - 32]
    return base + bits.read(nb)


_MODE_PREDEFINED, _MODE_RLE, _MODE_FSE, _MODE_REPEAT = 0, 1, 2, 3

#: per-field (max symbol, max accuracy log, predefined distribution)
_SEQ_SPEC = {
    "ll": (35, 9, _LL_DEFAULT),
    "of": (31, 8, _OF_DEFAULT),
    "ml": (52, 9, _ML_DEFAULT),
}


class _FrameState:
    """Decoder state that persists across blocks within one frame:
    the last Huffman table (Treeless literals), the last FSE tables
    (Repeat mode) and the three repeat offsets."""

    def __init__(self):
        self.huf = None  # (table, max_bits)
        self.fse = {"ll": None, "of": None, "ml": None}
        self.reps = [1, 4, 8]


def _read_literals(block: bytes, state: _FrameState):
    """Decode the literals section. Returns (literals, bytes used)."""
    if not block:
        raise ValueError("zstd: empty compressed block")
    b0 = block[0]
    ltype = b0 & 3
    sf = (b0 >> 2) & 3
    if ltype in (0, 1):  # Raw / RLE
        if sf in (0, 2):
            rs, hdr = b0 >> 3, 1
        elif sf == 1:
            if len(block) < 2:
                raise ValueError("zstd: truncated literals header")
            rs, hdr = (b0 >> 4) | (block[1] << 4), 2
        else:
            if len(block) < 3:
                raise ValueError("zstd: truncated literals header")
            rs, hdr = (b0 >> 4) | (block[1] << 4) | (block[2] << 12), 3
        if ltype == 0:
            if len(block) < hdr + rs:
                raise ValueError("zstd: truncated raw literals")
            return bytes(block[hdr : hdr + rs]), hdr + rs
        if len(block) < hdr + 1:
            raise ValueError("zstd: truncated RLE literal byte")
        return bytes([block[hdr]]) * rs, hdr + 1
    # Compressed (2) / Treeless (3)
    if sf == 0:
        hdr, szbits, four = 3, 10, False
    elif sf == 1:
        hdr, szbits, four = 3, 10, True
    elif sf == 2:
        hdr, szbits, four = 4, 14, True
    else:
        hdr, szbits, four = 5, 18, True
    if len(block) < hdr:
        raise ValueError("zstd: truncated literals header")
    packed = int.from_bytes(block[:hdr], "little")
    rs = (packed >> 4) & ((1 << szbits) - 1)
    cs = (packed >> (4 + szbits)) & ((1 << szbits) - 1)
    if len(block) < hdr + cs:
        raise ValueError("zstd: truncated compressed literals")
    body = block[hdr : hdr + cs]
    if ltype == 2:
        weights, used = _huf_read_weights(body)
        table, max_bits = _huf_table_from_weights(weights)
        state.huf = (table, max_bits)
        body = body[used:]
    else:
        if state.huf is None:
            raise ValueError("zstd: treeless literals with no prior table")
        table, max_bits = state.huf
    if not four:
        return bytes(_huf_decode_stream(body, table, max_bits, rs)), hdr + cs
    if len(body) < 6:
        raise ValueError("zstd: missing 4-stream jump table")
    s1 = int.from_bytes(body[0:2], "little")
    s2 = int.from_bytes(body[2:4], "little")
    s3 = int.from_bytes(body[4:6], "little")
    rest = body[6:]
    if s1 + s2 + s3 > len(rest):
        raise ValueError("zstd: jump table overruns literals")
    r13 = (rs + 3) >> 2
    r4 = rs - 3 * r13
    if r4 < 0:
        raise ValueError("zstd: 4-stream regenerated size too small")
    out = bytearray()
    streams = (rest[:s1], rest[s1 : s1 + s2], rest[s1 + s2 : s1 + s2 + s3],
               rest[s1 + s2 + s3 :])
    for chunk, n in zip(streams, (r13, r13, r13, r4)):
        out += _huf_decode_stream(chunk, table, max_bits, n)
    return bytes(out), hdr + cs


def _read_seq_table(kind: str, mode: int, fwd_buf: bytes, at: int,
                    state: _FrameState):
    """Resolve one of the LL/OF/ML decode tables per its 2-bit mode.
    Returns (table, accuracy_log, bytes consumed)."""
    max_sym, max_al, default = _SEQ_SPEC[kind]
    if mode == _MODE_PREDEFINED:
        counts, al = default
        tbl = _fse_table(list(counts) + [0] * (max_sym + 1 - len(counts)), al)
        state.fse[kind] = (tbl, al)
        return tbl, al, 0
    if mode == _MODE_RLE:
        if at >= len(fwd_buf):
            raise ValueError("zstd: truncated RLE sequence symbol")
        sym = fwd_buf[at]
        if sym > max_sym:
            raise ValueError(f"zstd: RLE {kind} symbol {sym} > {max_sym}")
        tbl = [(sym, 0, 0)]
        state.fse[kind] = (tbl, 0)
        return tbl, 0, 1
    if mode == _MODE_FSE:
        fwd = _FwdBits(fwd_buf[at:])
        counts, al = _fse_read_ncount(fwd, max_sym, max_al)
        used = fwd.bytes_used()
        if at + used > len(fwd_buf):
            raise ValueError("zstd: FSE sequence description overrun")
        tbl = _fse_table(counts, al)
        state.fse[kind] = (tbl, al)
        return tbl, al, used
    if state.fse[kind] is None:
        raise ValueError(f"zstd: repeat {kind} table with no prior block")
    tbl, al = state.fse[kind]
    return tbl, al, 0


def _decode_block(block: bytes, state: _FrameState, out: bytearray) -> None:
    """Decode one Compressed block into `out` (the frame window)."""
    literals, at = _read_literals(block, state)
    if at >= len(block):
        raise ValueError("zstd: missing sequences section")
    nseq = block[at]
    at += 1
    if nseq == 0:
        out += literals
        return
    if nseq >= 128:
        if nseq == 255:
            if at + 2 > len(block):
                raise ValueError("zstd: truncated sequence count")
            nseq = int.from_bytes(block[at : at + 2], "little") + 0x7F00
            at += 2
        else:
            if at >= len(block):
                raise ValueError("zstd: truncated sequence count")
            nseq = ((nseq - 128) << 8) + block[at]
            at += 1
    if at >= len(block):
        raise ValueError("zstd: missing compression modes")
    modes = block[at]
    at += 1
    if modes & 3:
        raise ValueError("zstd: reserved sequence mode bits set")
    ll_t, ll_al, used = _read_seq_table("ll", (modes >> 6) & 3, block, at, state)
    at += used
    of_t, of_al, used = _read_seq_table("of", (modes >> 4) & 3, block, at, state)
    at += used
    ml_t, ml_al, used = _read_seq_table("ml", (modes >> 2) & 3, block, at, state)
    at += used

    bits = _BackBits(block[at:])
    ll_s = bits.read(ll_al)
    of_s = bits.read(of_al)
    ml_s = bits.read(ml_al)
    if bits.overrun:
        raise ValueError("zstd: sequence bitstream too short for states")
    lpos = 0
    reps = state.reps
    for i in range(nseq):
        of_code = of_t[of_s][0]
        ml_code = ml_t[ml_s][0]
        ll_code = ll_t[ll_s][0]
        if of_code > 31:
            raise ValueError(f"zstd: offset code {of_code}")
        offset_value = (1 << of_code) + bits.read(of_code)
        ml = _ml_value(ml_code, bits)
        ll = _ll_value(ll_code, bits)
        if offset_value > 3:
            offset = offset_value - 3
            reps[0], reps[1], reps[2] = offset, reps[0], reps[1]
        else:
            idx = offset_value - 1 + (1 if ll == 0 else 0)
            if idx == 0:
                offset = reps[0]
            elif idx == 1:
                offset = reps[1]
                reps[0], reps[1] = offset, reps[0]
            elif idx == 2:
                offset = reps[2]
                reps[0], reps[1], reps[2] = offset, reps[0], reps[1]
            else:
                offset = reps[0] - 1
                if offset == 0:
                    raise ValueError("zstd: repeat offset underflow")
                reps[0], reps[1], reps[2] = offset, reps[0], reps[1]
        if i + 1 < nseq:
            s, nb, base = ll_t[ll_s]
            ll_s = base + bits.read(nb)
            s, nb, base = ml_t[ml_s]
            ml_s = base + bits.read(nb)
            s, nb, base = of_t[of_s]
            of_s = base + bits.read(nb)
        if bits.overrun:
            raise ValueError("zstd: sequence bitstream overrun")
        if lpos + ll > len(literals):
            raise ValueError("zstd: literal run past literals buffer")
        out += literals[lpos : lpos + ll]
        lpos += ll
        if offset > len(out):
            raise ValueError("zstd: match offset past window start")
        if offset >= ml:
            start = len(out) - offset
            out += out[start : start + ml]
        else:
            start = len(out) - offset
            seg = bytes(out[start:])
            reps_needed = -(-ml // offset)
            out += (seg * reps_needed)[:ml]
    if not bits.exhausted():
        raise ValueError("zstd: sequence bitstream not fully consumed")
    out += literals[lpos:]


# --- encoder ---------------------------------------------------------------
#
# The write side: real RFC 8878 frames any zstd decoder opens. One
# strategy (greedy hash-chain LZ77 + predefined FSE sequence tables +
# raw literals), because the goal is a correct, portable stream, not
# libzstd's ratio. Blocks that don't compress fall back to Raw.
# Cross-checked in the tests by decompressing with libzstd (pyarrow).


def _ll_code_of(ll: int) -> "tuple[int, int, int]":
    """literal length -> (code, extra-bit value, extra-bit count)."""
    if ll < 16:
        return ll, 0, 0
    for code in range(35, 15, -1):
        base, nb = _LL_EXTRA[code - 16]
        if ll >= base:
            return code, ll - base, nb
    raise ValueError(f"zstd: literal length {ll} unencodable")


def _ml_code_of(ml: int) -> "tuple[int, int, int]":
    if ml < 3:
        raise ValueError(f"zstd: match length {ml} < 3")
    if ml < 35:
        return ml - 3, 0, 0
    for code in range(52, 31, -1):
        base, nb = _ML_EXTRA[code - 32]
        if ml >= base:
            return code, ml - base, nb
    raise ValueError(f"zstd: match length {ml} unencodable")


def _fse_encode_cells(counts: "list[int]", al: int):
    """Per-symbol cell list for FSE *encoding* against the same
    table the decoder builds: symbol -> [(cell index, nb, baseline)]."""
    table = _fse_table(counts, al)
    cells: "dict[int, list]" = {}
    for idx, (sym, nb, base) in enumerate(table):
        cells.setdefault(sym, []).append((idx, nb, base))
    return cells


def _fse_pick(cells, sym: int, target: int):
    """The one cell of `sym` whose (baseline, nb) window contains
    `target` (the next decoder state): returns (cell, bits, nb)."""
    for idx, nb, base in cells[sym]:
        if base <= target < base + (1 << nb):
            return idx, target - base, nb
    raise ValueError(f"zstd: no FSE cell reaches state {target}")


_ENC_LL_CELLS = _fse_encode_cells(
    _LL_DEFAULT[0] + [0] * (36 - len(_LL_DEFAULT[0])), _LL_DEFAULT[1]
)
_ENC_ML_CELLS = _fse_encode_cells(
    _ML_DEFAULT[0] + [0] * (53 - len(_ML_DEFAULT[0])), _ML_DEFAULT[1]
)
_ENC_OF_CELLS = _fse_encode_cells(
    _OF_DEFAULT[0] + [0] * (32 - len(_OF_DEFAULT[0])), _OF_DEFAULT[1]
)

_MIN_MATCH = 4
_MAX_MATCH = 65_000  # < ML code 52's reach; keeps splits trivial
_BLOCK = 1 << 17  # 128 KiB


def _find_sequences(data: bytes, lo: int, hi: int):
    """Greedy hash-chain matcher over data[lo:hi]; matches may reach
    back into [0, lo) (the frame window). Yields (lit_start, lit_len,
    offset, match_len) triples plus the trailing literal run."""
    seqs = []
    head: "dict[int, int]" = {}
    i = lo
    anchor = lo
    limit = hi - _MIN_MATCH
    while i <= limit:
        key = data[i : i + _MIN_MATCH]
        cand = head.get(key)  # type: ignore[arg-type]
        head[key] = i  # type: ignore[index]
        if cand is not None and data[cand : cand + _MIN_MATCH] == key:
            ml = _MIN_MATCH
            maxl = min(hi - i, _MAX_MATCH)
            while ml < maxl and data[cand + ml] == data[i + ml]:
                ml += 1
            offset = i - cand
            ll = i - anchor
            if ll > 131_071:
                return None  # literal run exceeds LL code 35's reach
            seqs.append((anchor, ll, offset, ml))
            i += ml
            anchor = i
        else:
            i += 1
    if hi - anchor > 131_071:
        return None
    return seqs, anchor


def _encode_block(data: bytes, lo: int, hi: int) -> "bytes | None":
    """One Compressed block for data[lo:hi], or None when raw is
    better (no matches / expansion / literal run too long)."""
    found = _find_sequences(data, lo, hi)
    if not found or not found[0]:
        return None
    seqs, tail_anchor = found
    literals = bytearray()
    rows = []
    for anchor, ll, offset, ml in seqs:
        literals += data[anchor : anchor + ll]
        ofv = offset + 3  # never a repeat offset
        of_code = ofv.bit_length() - 1
        if of_code > 28:
            return None  # beyond the predefined OF table's reach
        ll_c, ll_b, ll_n = _ll_code_of(ll)
        ml_c, ml_b, ml_n = _ml_code_of(ml)
        rows.append(
            (ll_c, ll_b, ll_n, of_code, ofv - (1 << of_code), of_code,
             ml_c, ml_b, ml_n)
        )
    literals += data[tail_anchor:hi]

    # literals section: raw, sized header
    rs = len(literals)
    if rs < 32:
        lit_hdr = bytes([(rs << 3) | 0])
    elif rs < 4096:
        lit_hdr = bytes([((rs & 0xF) << 4) | 0b0100, rs >> 4])
    else:
        lit_hdr = bytes(
            [((rs & 0xF) << 4) | 0b1100, (rs >> 4) & 0xFF, rs >> 12]
        )

    nseq = len(rows)
    if nseq < 128:
        seq_hdr = bytes([nseq])
    elif nseq < 0x7F00:
        seq_hdr = bytes([128 + (nseq >> 8), nseq & 0xFF])
    else:
        # RFC 8878 §3.1.1.3.2.1: byte0==255 ⇒ the next two LE bytes hold
        # Number_of_Sequences - 0x7F00 (not the raw count).
        seq_hdr = bytes([255]) + (nseq - 0x7F00).to_bytes(2, "little")
    seq_hdr += bytes([0])  # all three tables Predefined

    # backward pass: choose FSE cells; the i-th update targets the
    # cell index of sequence i+1's state
    # any cell of the symbol is valid for the last sequence
    ll_cell = _ENC_LL_CELLS[rows[-1][0]][0][0]
    ml_cell = _ENC_ML_CELLS[rows[-1][6]][0][0]
    of_cell = _ENC_OF_CELLS[rows[-1][3]][0][0]
    updates = [None] * (nseq - 1)
    for i in range(nseq - 2, -1, -1):
        nll, bll, wll = _fse_pick(_ENC_LL_CELLS, rows[i][0], ll_cell)
        nml, bml, wml = _fse_pick(_ENC_ML_CELLS, rows[i][6], ml_cell)
        nof, bof, wof = _fse_pick(_ENC_OF_CELLS, rows[i][3], of_cell)
        updates[i] = (bll, wll, bml, wml, bof, wof)
        ll_cell, ml_cell, of_cell = nll, nml, nof

    # forward pass: append bits in decoder read order onto a sentinel
    acc, nbits = 1, 0

    def put(v: int, n: int):
        nonlocal acc, nbits
        if n:
            acc = (acc << n) | v
            nbits += n

    put(ll_cell, _LL_DEFAULT[1])
    put(of_cell, _OF_DEFAULT[1])
    put(ml_cell, _ML_DEFAULT[1])
    for i, r in enumerate(rows):
        put(r[4], r[5])  # OF extra
        put(r[7], r[8])  # ML extra
        put(r[1], r[2])  # LL extra
        if i + 1 < nseq:
            bll, wll, bml, wml, bof, wof = updates[i]
            put(bll, wll)
            put(bml, wml)
            put(bof, wof)
    stream = acc.to_bytes((acc.bit_length() + 7) // 8, "little")

    body = lit_hdr + bytes(literals) + seq_hdr + stream
    return body if len(body) < hi - lo else None


def zstd_compress(data: bytes, checksum: bool = True) -> bytes:
    """Encode `data` as one RFC 8878 frame: single-segment, frame
    content size, optional XXH64 checksum; per 128 KiB block a
    greedy-LZ Compressed block with predefined FSE tables and raw
    literals, falling back to Raw when that doesn't pay. The output
    is a *portable* zstd stream — the tests hand it to libzstd."""
    n = len(data)
    out = bytearray(_MAGIC.to_bytes(4, "little"))
    if n < 256:
        out.append((0 << 6) | (1 << 5) | (int(checksum) << 2))
        fcs = bytes([n])
    elif n - 256 < 65536:
        out.append((1 << 6) | (1 << 5) | (int(checksum) << 2))
        fcs = (n - 256).to_bytes(2, "little")
    elif n < 1 << 32:
        out.append((2 << 6) | (1 << 5) | (int(checksum) << 2))
        fcs = n.to_bytes(4, "little")
    else:
        out.append((3 << 6) | (1 << 5) | (int(checksum) << 2))
        fcs = n.to_bytes(8, "little")
    out += fcs
    if n == 0:
        out += (1).to_bytes(3, "little")  # last, Raw, size 0
    pos = 0
    while pos < n:
        hi = min(pos + _BLOCK, n)
        last = 1 if hi == n else 0
        body = _encode_block(data, pos, hi)
        if body is None:
            out += ((hi - pos) << 3 | last).to_bytes(3, "little")
            out += data[pos:hi]
        else:
            out += (len(body) << 3 | (2 << 1) | last).to_bytes(3, "little")
            out += body
        pos = hi
    if checksum:
        out += (xxh64(data) & 0xFFFFFFFF).to_bytes(4, "little")
    return bytes(out)


def zstd_decompress(data: bytes, max_output: int = 1 << 31) -> bytes:
    """Decode a Zstandard stream: one or more frames (skippable
    frames skipped), concatenated. Verifies Frame_Content_Size and
    the XXH64 Content_Checksum when present. Raises ValueError on
    malformed input, NotImplementedError for dictionary frames."""
    out_all = bytearray()
    pos = 0
    n = len(data)
    if n == 0:
        raise ValueError("zstd: empty input")
    while pos < n:
        if pos + 4 > n:
            raise ValueError("zstd: truncated frame magic")
        magic = int.from_bytes(data[pos : pos + 4], "little")
        pos += 4
        if _SKIP_LO <= magic <= _SKIP_HI:
            if pos + 4 > n:
                raise ValueError("zstd: truncated skippable frame size")
            size = int.from_bytes(data[pos : pos + 4], "little")
            pos += 4 + size
            if pos > n:
                raise ValueError("zstd: skippable frame overruns input")
            continue
        if magic != _MAGIC:
            raise ValueError(f"zstd: bad magic 0x{magic:08x}")
        if pos >= n:
            raise ValueError("zstd: truncated frame header")
        fhd = data[pos]
        pos += 1
        fcs_flag = fhd >> 6
        single = (fhd >> 5) & 1
        if (fhd >> 3) & 1:
            raise ValueError("zstd: reserved frame-header bit set")
        has_checksum = (fhd >> 2) & 1
        did_flag = fhd & 3
        if not single:
            if pos >= n:
                raise ValueError("zstd: truncated window descriptor")
            pos += 1  # window descriptor — whole frame is in memory
        did_size = (0, 1, 2, 4)[did_flag]
        if did_size:
            if pos + did_size > n:
                raise ValueError("zstd: truncated dictionary id")
            did = int.from_bytes(data[pos : pos + did_size], "little")
            pos += did_size
            if did != 0:
                raise NotImplementedError(
                    f"zstd: frame requires external dictionary {did}"
                )
        fcs_size = (1 if single else 0, 2, 4, 8)[fcs_flag]
        fcs = None
        if fcs_size:
            if pos + fcs_size > n:
                raise ValueError("zstd: truncated frame content size")
            fcs = int.from_bytes(data[pos : pos + fcs_size], "little")
            if fcs_size == 2:
                fcs += 256
            pos += fcs_size
        if fcs is not None and fcs > max_output:
            raise ValueError(f"zstd: frame content size {fcs} > cap")

        state = _FrameState()
        frame_out = bytearray()
        while True:
            if pos + 3 > n:
                raise ValueError("zstd: truncated block header")
            bh = int.from_bytes(data[pos : pos + 3], "little")
            pos += 3
            last, btype, bsize = bh & 1, (bh >> 1) & 3, bh >> 3
            if btype == 3:
                raise ValueError("zstd: reserved block type")
            if btype == 1:  # RLE
                if pos >= n:
                    raise ValueError("zstd: truncated RLE block")
                frame_out += bytes([data[pos]]) * bsize
                pos += 1
            else:
                if pos + bsize > n:
                    raise ValueError("zstd: truncated block body")
                body = data[pos : pos + bsize]
                pos += bsize
                if btype == 0:
                    frame_out += body
                else:
                    _decode_block(body, state, frame_out)
            if len(frame_out) + len(out_all) > max_output:
                raise ValueError("zstd: output exceeds cap")
            if last:
                break
        if fcs is not None and len(frame_out) != fcs:
            raise ValueError(
                f"zstd: decoded {len(frame_out)} bytes, frame header "
                f"promised {fcs}"
            )
        if has_checksum:
            if pos + 4 > n:
                raise ValueError("zstd: truncated content checksum")
            want = int.from_bytes(data[pos : pos + 4], "little")
            pos += 4
            got = xxh64(bytes(frame_out)) & 0xFFFFFFFF
            if got != want:
                raise ValueError(
                    f"zstd: checksum mismatch {got:08x} != {want:08x}"
                )
        out_all += frame_out
    return bytes(out_all)


def zstd_roundtrip_stats(docs):
    """Per doc: text -> `zstd_compress` -> `zstd_decompress`, with an
    in-op cross-check that an INDEPENDENT implementation (pyarrow's
    bundled libzstd) also decodes our frame to the same bytes. The
    emitted surface is derived only from the decoded text, so the
    oracle recomputes it straight from `documents.text` — equality
    proves the codec is transparent end to end."""
    import hashlib

    from pyspark.sql import types as T

    schema_t = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("orig_bytes", T.LongType()),
            T.StructField("roundtrip_md5", T.StringType()),
        ]
    )

    import pyarrow as pa

    def row(did, text):
        raw = text.encode("utf-8")
        enc = zstd_compress(raw)
        dec = zstd_decompress(enc)
        assert dec == raw
        assert pa.decompress(enc, len(raw), codec="zstd", asbytes=True) == raw
        yield (did, len(dec), hashlib.md5(dec).hexdigest())

    return map_rows(docs.select("doc_id", "text"), row, schema_t, spread=True)


def _register() -> None:
    from dynamodb_to_datalake_project_spark.catalog import query
    from dynamodb_to_datalake_project_spark.lake import load_table

    @query(
        "zstd_codec_roundtrip",
        oracle="""
        SELECT doc_id,
               CAST(strlen(text) AS BIGINT) AS orig_bytes,
               md5(text) AS roundtrip_md5
        FROM documents
        """,
    )
    def q_zstd_codec_roundtrip(spark, sf_dir):
        """Both directions of the zero-dep RFC 8878 codec over the
        documents table: encode (greedy LZ + predefined FSE) then
        decode, with libzstd cross-decoding every frame in-op. The
        oracle recomputes byte length and md5 from the source text —
        transparency is the claim being hashed."""
        docs = load_table(spark, sf_dir, "documents")
        return zstd_roundtrip_stats(docs)


_register()
