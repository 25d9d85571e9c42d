"""WebP lossless (VP8L) codec — REAL, zero third-party deps.

Decoder implements the public VP8L bitstream specification
("WebP Lossless Bitstream Specification", RFC 9649 / the
developers.google.com/speed/webp/docs/webp_lossless_bitstream_specification
text): RIFF/WEBP container walk, LSB-first bit reader (`llm.bitio`),
canonical prefix codes (simple 1/2-symbol form and the normal form with the
code-length code, repeat codes 16/17/18, default previous length 8,
and the optional max_symbol truncation), color cache, LZ77 backward
references with the 120-entry 2D distance map, meta prefix-code
(entropy image) block selection, and all four inverse transforms —
PREDICTOR (14 modes with the spec's border rules and the flat-index
top-right wrap), COLOR (int8 fixed-point cross-channel deltas),
SUBTRACT_GREEN, and COLOR_INDEXING (palette, including sub-byte pixel
bundling for palettes of ≤16 colors).

Encoder emits a valid minimal VP8L stream: no transforms, no color
cache, literal-only coding with per-channel canonical prefix codes
(simple codes for ≤2 distinct values — e.g. the constant alpha and
the unused distance tree cost 0 bits — and complete balanced-depth
normal codes otherwise, emitted through the code-length code). The
format is lossless, so round-trips are exact by construction and an
independent SQL oracle can recompute every decoded pixel
(`multimodal_webp_stats` in multimodal.py).

Nothing here is a port: the reference repo has no media codecs at
all; this exists because a 100 TB multimodal training-data pipeline
treats images as opaque binary columns and needs a real
decode/inspect leg (see llm/multimodal.py's module docstring).
"""

from __future__ import annotations

import struct

from dynamodb_to_datalake_project_spark.llm.bitio import LsbReader, LsbWriter

_MAX_ALPHABETS = (280, 256, 256, 256, 40)  # green+len+cache, R, B, A, dist

#: kCodeLengthCodeOrder from the spec — the order in which the 3-bit
#: code-length-code lengths are transmitted.
_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

#: The spec's 120-entry 2D distance map: distance codes 1..120 address
#: a nearby pixel at (xoffset, yoffset); dist = xoffset + yoffset * width
#: (clamped to >= 1). Codes > 120 are plain linear distances - 120.
_DIST_MAP = (
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
)


def _subsample(size: int, bits: int) -> int:
    return (size + (1 << bits) - 1) >> bits


class _Prefix:
    """Canonical prefix code: symbol lookup via bit-by-bit descent,
    RFC1951-style canonical assignment (codes ordered by length then
    symbol). A code with a single used symbol costs 0 bits."""

    def __init__(self, lengths: "dict[int, int]"):
        used = sorted((ln, sym) for sym, ln in lengths.items() if ln > 0)
        if not used:
            raise ValueError("empty prefix code")
        if len(used) == 1:
            self.single = used[0][1]
            self.lut: "dict[tuple[int, int], int]" = {}
            return
        self.single = None
        self.lut = {}
        code, prev_len = 0, used[0][0]
        for ln, sym in used:
            code <<= ln - prev_len
            prev_len = ln
            self.lut[(ln, code)] = sym
            code += 1
        if code != (1 << prev_len):
            raise ValueError("prefix code lengths are not complete")

    def read(self, bits: LsbReader) -> int:
        if self.single is not None:
            return self.single
        code, ln = 0, 0
        while True:
            code = (code << 1) | bits.read(1)
            ln += 1
            if ln > 15:
                raise ValueError("corrupt prefix code")
            sym = self.lut.get((ln, code))
            if sym is not None:
                return sym


def _read_prefix_code(bits: LsbReader, alphabet_size: int) -> _Prefix:
    """One prefix code, simple or normal form (spec §6.2)."""
    if bits.read(1):  # simple code: 1 or 2 symbols, stated inline
        num = bits.read(1) + 1
        sym0 = bits.read(8) if bits.read(1) else bits.read(1)
        if num == 1:
            return _Prefix({sym0: 1})  # single symbol → 0-bit reads
        sym1 = bits.read(8)
        return _Prefix({sym0: 1, sym1: 1})
    # normal form: code-length code, then per-symbol lengths
    n_cl = 4 + bits.read(4)
    cl_lengths = {}
    for i in range(n_cl):
        ln = bits.read(3)
        if ln:
            cl_lengths[_CL_ORDER[i]] = ln
    cl_code = _Prefix(cl_lengths)
    if bits.read(1):  # use max_symbol truncation
        length_nbits = 2 + 2 * bits.read(3)
        max_symbol = 2 + bits.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths: "dict[int, int]" = {}
    symbol, prev_len = 0, 8  # spec: previous length defaults to 8
    while symbol < alphabet_size:
        if max_symbol <= 0:
            break
        max_symbol -= 1
        s = cl_code.read(bits)
        if s < 16:
            if s:
                lengths[symbol] = s
                prev_len = s
            symbol += 1
        elif s == 16:
            rep = 3 + bits.read(2)
            for _ in range(rep):
                if symbol < alphabet_size:
                    lengths[symbol] = prev_len
                symbol += 1
        elif s == 17:
            symbol += 3 + bits.read(3)
        else:  # 18
            symbol += 11 + bits.read(7)
    if symbol > alphabet_size:
        raise ValueError("prefix code lengths overflow the alphabet")
    return _Prefix(lengths)


def _prefix_value(bits: LsbReader, code: int) -> int:
    """LZ77 length/distance prefix decoding (spec §5.2.2)."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + bits.read(extra) + 1


def _decode_entropy_image(
    bits: LsbReader, w: int, h: int, is_level0: bool
) -> "list[int]":
    """Decode one entropy-coded ARGB image (spec §5.2.2) into a flat
    list of uint32 pixels. `is_level0` gates the meta-prefix-code bit
    (only the top-level ARGB image may recurse)."""
    cache_bits = 0
    if bits.read(1):
        cache_bits = bits.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("invalid color cache size")
    meta: "list[int] | None" = None
    meta_bits = 0
    n_groups = 1
    if is_level0 and bits.read(1):
        meta_bits = 2 + bits.read(3)
        mw, mh = _subsample(w, meta_bits), _subsample(h, meta_bits)
        meta = _decode_entropy_image(bits, mw, mh, False)
        n_groups = max((p >> 8) & 0xFFFF for p in meta) + 1
    alphabets = list(_MAX_ALPHABETS)
    alphabets[0] = 256 + 24 + (1 << cache_bits if cache_bits else 0)
    groups = [
        [_read_prefix_code(bits, a) for a in alphabets] for _ in range(n_groups)
    ]
    cache = [0] * (1 << cache_bits) if cache_bits else None
    cache_limit = 256 + 24 + (len(cache) if cache else 0)
    px: "list[int]" = []
    n = w * h
    mw = _subsample(w, meta_bits) if meta is not None else 0

    def group_at(pos: int):
        if meta is None:
            return groups[0]
        y, x = divmod(pos, w)
        idx = (meta[(y >> meta_bits) * mw + (x >> meta_bits)] >> 8) & 0xFFFF
        return groups[idx]

    def insert(pix: int) -> None:
        if cache is not None:
            cache[((0x1E35A7BD * pix) & 0xFFFFFFFF) >> (32 - cache_bits)] = pix

    while len(px) < n:
        g, r, b, a, d = group_at(len(px))
        s = g.read(bits)
        if s < 256:
            red, blue, alpha = r.read(bits), b.read(bits), a.read(bits)
            pix = (alpha << 24) | (red << 16) | (s << 8) | blue
            px.append(pix)
            insert(pix)
        elif s < 280:
            length = _prefix_value(bits, s - 256)
            dcode = _prefix_value(bits, d.read(bits))
            if dcode > 120:
                dist = dcode - 120
            else:
                xo, yo = _DIST_MAP[dcode - 1]
                dist = max(1, xo + yo * w)
            if dist > len(px):
                raise ValueError("LZ77 distance reaches before the image")
            if len(px) + length > n:
                raise ValueError("LZ77 run overflows the image")
            for _ in range(length):
                pix = px[-dist]
                px.append(pix)
                insert(pix)
        elif s < cache_limit:
            px.append(cache[s - 280])  # type: ignore[index]
        else:
            raise ValueError("symbol outside the green alphabet")
    return px


# ---------------------------------------------------------------------------
# inverse transforms


def _avg2(a: int, b: int) -> int:
    return (a + b) >> 1


def _avg_px(a: int, b: int) -> int:
    return (
        (_avg2((a >> 24) & 0xFF, (b >> 24) & 0xFF) << 24)
        | (_avg2((a >> 16) & 0xFF, (b >> 16) & 0xFF) << 16)
        | (_avg2((a >> 8) & 0xFF, (b >> 8) & 0xFF) << 8)
        | _avg2(a & 0xFF, b & 0xFF)
    )


def _select(l: int, t: int, tl: int) -> int:
    p_l = p_t = 0
    for sh in (24, 16, 8, 0):
        cl, ct, ctl = (l >> sh) & 0xFF, (t >> sh) & 0xFF, (tl >> sh) & 0xFF
        p = cl + ct - ctl
        p_l += abs(p - cl)
        p_t += abs(p - ct)
    return l if p_l < p_t else t


def _clamp(v: int) -> int:
    return 0 if v < 0 else (255 if v > 255 else v)


def _clamp_add_full(l: int, t: int, tl: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        c = _clamp(((l >> sh) & 0xFF) + ((t >> sh) & 0xFF) - ((tl >> sh) & 0xFF))
        out |= c << sh
    return out


def _clamp_add_half(avg: int, tl: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        a, b = (avg >> sh) & 0xFF, (tl >> sh) & 0xFF
        d = a - b
        # C truncation toward zero, per the spec's (a - b) / 2
        half = d // 2 if d >= 0 else -((-d) // 2)
        out |= _clamp(a + half) << sh
    return out


def _add_px(a: int, b: int) -> int:
    """Per-channel modular addition (residual + prediction)."""
    return (
        ((((a >> 24) & 0xFF) + ((b >> 24) & 0xFF)) & 0xFF) << 24
        | ((((a >> 16) & 0xFF) + ((b >> 16) & 0xFF)) & 0xFF) << 16
        | ((((a >> 8) & 0xFF) + ((b >> 8) & 0xFF)) & 0xFF) << 8
        | ((a & 0xFF) + (b & 0xFF)) & 0xFF
    )


def _apply_predictor_inverse(
    px: "list[int]", w: int, h: int, bits: int, modes: "list[int]"
) -> None:
    """In-place inverse PREDICTOR transform (spec §4.1). The top-right
    neighbor is flat-index pos - w + 1, which for the last column wraps
    to the current row's first pixel — the spec's own arithmetic."""
    mw = _subsample(w, bits)
    for pos in range(w * h):
        y, x = divmod(pos, w)
        if pos == 0:
            pred = 0xFF000000
        elif y == 0:
            pred = px[pos - 1]  # L
        elif x == 0:
            pred = px[pos - w]  # T
        else:
            mode = (modes[(y >> bits) * mw + (x >> bits)] >> 8) & 0xFF
            l, t, tl, tr = (
                px[pos - 1],
                px[pos - w],
                px[pos - w - 1],
                px[pos - w + 1],
            )
            if mode == 0:
                pred = 0xFF000000
            elif mode == 1:
                pred = l
            elif mode == 2:
                pred = t
            elif mode == 3:
                pred = tr
            elif mode == 4:
                pred = tl
            elif mode == 5:
                pred = _avg_px(_avg_px(l, tr), t)
            elif mode == 6:
                pred = _avg_px(l, tl)
            elif mode == 7:
                pred = _avg_px(l, t)
            elif mode == 8:
                pred = _avg_px(tl, t)
            elif mode == 9:
                pred = _avg_px(t, tr)
            elif mode == 10:
                pred = _avg_px(_avg_px(l, tl), _avg_px(t, tr))
            elif mode == 11:
                pred = _select(l, t, tl)
            elif mode == 12:
                pred = _clamp_add_full(l, t, tl)
            elif mode == 13:
                pred = _clamp_add_half(_avg_px(l, t), tl)
            else:
                raise ValueError(f"invalid predictor mode {mode}")
        px[pos] = _add_px(px[pos], pred)


def _int8(v: int) -> int:
    return v - 256 if v >= 128 else v


def _ct_delta(t: int, c: int) -> int:
    """ColorTransformDelta: both operands sign-extended int8, product
    arithmetic-shifted right 5 (spec §4.2)."""
    return (_int8(t) * _int8(c)) >> 5


def _apply_color_inverse(
    px: "list[int]", w: int, h: int, bits: int, elems: "list[int]"
) -> None:
    mw = _subsample(w, bits)
    for pos in range(w * h):
        y, x = divmod(pos, w)
        e = elems[(y >> bits) * mw + (x >> bits)]
        g2r, g2b, r2b = (e >> 16) & 0xFF, (e >> 8) & 0xFF, e & 0xFF
        p = px[pos]
        g = (p >> 8) & 0xFF
        r = ((p >> 16) & 0xFF) + _ct_delta(g2r, g)
        r &= 0xFF
        b = (p & 0xFF) + _ct_delta(g2b, g) + _ct_delta(r2b, r)
        px[pos] = (p & 0xFF00FF00) | (r << 16) | (b & 0xFF)


def _apply_subtract_green_inverse(px: "list[int]") -> None:
    for pos, p in enumerate(px):
        g = (p >> 8) & 0xFF
        r = (((p >> 16) & 0xFF) + g) & 0xFF
        b = ((p & 0xFF) + g) & 0xFF
        px[pos] = (p & 0xFF00FF00) | (r << 16) | b


def _apply_palette_inverse(
    px: "list[int]", w: int, packed_w: int, h: int, palette: "list[int]"
) -> "list[int]":
    """Inverse COLOR_INDEXING: un-bundle sub-byte indices from the
    green channel (LSB-first within the byte) and map through the
    palette; out-of-range indices decode to transparent black."""
    n = len(palette)
    if n <= 2:
        width_bits = 3
    elif n <= 4:
        width_bits = 2
    elif n <= 16:
        width_bits = 1
    else:
        width_bits = 0
    per = 1 << width_bits
    ibits = 8 >> width_bits
    mask = (1 << ibits) - 1
    out = [0] * (w * h)
    for y in range(h):
        for xp in range(packed_w):
            g = (px[y * packed_w + xp] >> 8) & 0xFF
            for k in range(per):
                x = xp * per + k
                if x >= w:
                    break
                idx = (g >> (k * ibits)) & mask
                out[y * w + x] = palette[idx] if idx < n else 0
    return out


# ---------------------------------------------------------------------------
# container + top-level decode

_TR_PREDICTOR, _TR_COLOR, _TR_SUBTRACT_GREEN, _TR_PALETTE = 0, 1, 2, 3


def decode_webp_array(payload: bytes) -> dict:
    """REAL zero-dep WebP lossless decode: RIFF walk to the VP8L
    chunk, full VP8L entropy decode, inverse transforms, back to a
    row-major (h, w, 3) uint8 RGB array. Lossy VP8 and the VP8X
    extended container raise NotImplementedError (those genuinely
    need a third-party codec); corrupt payloads raise ValueError."""
    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a WebP payload")
    pos, vp8l = 12, None
    while pos + 8 <= len(payload):
        tag = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        data = payload[pos + 8 : pos + 8 + size]
        if len(data) != size:
            raise ValueError("truncated WebP chunk")
        if tag == b"VP8L":
            vp8l = data
            break
        if tag in (b"VP8 ", b"VP8X"):
            raise NotImplementedError(
                "only lossless VP8L decode available in this environment "
                "(lossy VP8 needs a third-party codec)"
            )
        pos += 8 + size + (size & 1)
    if vp8l is None:
        raise ValueError("WebP payload has no VP8L chunk")
    if not vp8l or vp8l[0] != 0x2F:
        raise ValueError("bad VP8L signature")
    bits = LsbReader(vp8l, 1, "VP8L")
    w = bits.read(14) + 1
    h = bits.read(14) + 1
    bits.read(1)  # alpha-is-used hint
    if bits.read(3) != 0:
        raise ValueError("unknown VP8L version")
    # transforms (stream order); inverses apply in reverse order
    transforms: "list[tuple[int, object]]" = []
    seen = set()
    cur_w = w  # COLOR_INDEXING shrinks the coded width for what follows
    while bits.read(1):
        ttype = bits.read(2)
        if ttype in seen:
            raise ValueError("duplicate VP8L transform")
        seen.add(ttype)
        if ttype in (_TR_PREDICTOR, _TR_COLOR):
            sbits = 2 + bits.read(3)
            sub = _decode_entropy_image(
                bits, _subsample(cur_w, sbits), _subsample(h, sbits), False
            )
            transforms.append((ttype, (sbits, sub)))
        elif ttype == _TR_SUBTRACT_GREEN:
            transforms.append((ttype, None))
        else:  # COLOR_INDEXING
            n_colors = bits.read(8) + 1
            deltas = _decode_entropy_image(bits, n_colors, 1, False)
            palette, acc = [], 0
            for d in deltas:
                acc = _add_px(acc, d)
                palette.append(acc)
            if n_colors <= 2:
                cur_w = _subsample(w, 3)
            elif n_colors <= 4:
                cur_w = _subsample(w, 2)
            elif n_colors <= 16:
                cur_w = _subsample(w, 1)
            transforms.append((ttype, palette))
    px = _decode_entropy_image(bits, cur_w, h, True)
    for ttype, data in reversed(transforms):
        if ttype == _TR_PALETTE:
            px = _apply_palette_inverse(px, w, cur_w, h, data)  # type: ignore[arg-type]
            cur_w = w
        elif ttype == _TR_SUBTRACT_GREEN:
            _apply_subtract_green_inverse(px)
        elif ttype == _TR_PREDICTOR:
            sbits, sub = data  # type: ignore[misc]
            _apply_predictor_inverse(px, cur_w, h, sbits, sub)
        else:
            sbits, sub = data  # type: ignore[misc]
            _apply_color_inverse(px, cur_w, h, sbits, sub)
    arr = np.array(px, dtype=np.uint32).reshape(h, w)
    rgb = np.stack(
        [(arr >> 16) & 0xFF, (arr >> 8) & 0xFF, arr & 0xFF], axis=2
    ).astype(np.uint8)
    return {"width": w, "height": h, "px": rgb}


def decode_webp(payload: bytes) -> dict:
    """Pixel-tuple API over `decode_webp_array` (mirrors decode_bmp)."""
    d = decode_webp_array(payload)
    pixels = [tuple(int(c) for c in p) for row in d["px"] for p in row]
    return {"width": d["width"], "height": d["height"], "pixels": pixels}


# ---------------------------------------------------------------------------
# encoder


class _BitWriter(LsbWriter):
    """LSB-first bit writer plus MSB-first Huffman codes."""

    what = "VP8L"

    def write_code(self, code: int, length: int) -> None:
        """Huffman codes transmit MSB-first (canonical convention)."""
        if length:
            self.write(int(f"{code:0{length}b}"[::-1], 2), length)


def _balanced_lengths(freqs: "dict[int, int]") -> "dict[int, int]":
    """Complete canonical code lengths for >= 3 symbols: depth
    L = ceil(log2 n) for most symbols, with the 2^L - n most frequent
    promoted to L-1 so the Kraft sum is exactly 1. Suboptimal vs true
    Huffman but always complete, depth <= 9 for VP8L alphabets, and
    deterministic."""
    syms = sorted(freqs, key=lambda s: (-freqs[s], s))
    n = len(syms)
    level = 1
    while (1 << level) < n:
        level += 1
    extra = (1 << level) - n
    return {
        s: (level - 1 if i < extra else level) for i, s in enumerate(syms)
    }


def _canonical_codes(lengths: "dict[int, int]") -> "dict[int, tuple[int, int]]":
    used = sorted((ln, sym) for sym, ln in lengths.items())
    codes, code, prev = {}, 0, used[0][0]
    for ln, sym in used:
        code <<= ln - prev
        prev = ln
        codes[sym] = (code, ln)
        code += 1
    return codes


def _write_prefix_code(
    wtr: _BitWriter, freqs: "dict[int, int]", alphabet_size: int
) -> "dict[int, tuple[int, int]]":
    """Emit one prefix code (simple form for <=2 symbols, else the
    normal form through the code-length code — lengths for the FULL
    alphabet, since without max_symbol the decoder reads exactly
    alphabet_size entries) and return the symbol -> (code, length)
    encoding table."""
    syms = sorted(freqs)
    if len(syms) <= 2 and max(syms) <= 255:
        wtr.write(1, 1)  # simple
        wtr.write(len(syms) - 1, 1)
        if syms[0] <= 1:
            wtr.write(0, 1)
            wtr.write(syms[0], 1)
        else:
            wtr.write(1, 1)
            wtr.write(syms[0], 8)
        if len(syms) == 1:
            return {syms[0]: (0, 0)}
        wtr.write(syms[1], 8)
        return {syms[0]: (0, 1), syms[1]: (1, 1)}
    wtr.write(0, 1)  # normal
    lengths = _balanced_lengths(freqs)
    seq = [lengths.get(s, 0) for s in range(alphabet_size)]
    cl_freqs: "dict[int, int]" = {}
    for v in seq:
        cl_freqs[v] = cl_freqs.get(v, 0) + 1
    if len(cl_freqs) == 1:
        # a 1-symbol code-length code is incomplete; pad with symbol 15
        # (never used by our lengths <= 9) to keep the code complete
        cl_lengths = {next(iter(cl_freqs)): 1, 15: 1}
        cl_codes = _canonical_codes(cl_lengths)
    elif len(cl_freqs) == 2:
        cl_lengths = {s: 1 for s in cl_freqs}
        cl_codes = _canonical_codes(cl_lengths)
    else:
        cl_lengths = _balanced_lengths(cl_freqs)
        cl_codes = _canonical_codes(cl_lengths)
    wtr.write(15, 4)  # num_code_lengths = 19: emit the full CL table
    for s in _CL_ORDER:
        wtr.write(cl_lengths.get(s, 0), 3)
    wtr.write(0, 1)  # no max_symbol truncation
    for v in seq:
        code, ln = cl_codes[v]
        wtr.write_code(code, ln)
    return _canonical_codes(lengths)


def encode_webp(px: "object", width: int, height: int) -> bytes:
    """REAL WebP lossless encode: (h, w, 3) uint8 RGB -> VP8L literal
    stream (no transforms, no LZ77, no cache — valid per spec, just
    uncompressed-ish) in a RIFF/WEBP container. `decode_webp` and any
    spec-conforming decoder recover the pixels exactly."""
    import numpy as np

    arr = np.asarray(px, dtype=np.uint8).reshape(height, width, 3)
    if width < 1 or height < 1 or width > 16384 or height > 16384:
        raise ValueError("VP8L dimensions must be in 1..16384")
    wtr = _BitWriter()
    wtr.write(0x2F, 8)
    wtr.write(width - 1, 14)
    wtr.write(height - 1, 14)
    wtr.write(0, 1)  # no alpha
    wtr.write(0, 3)  # version
    wtr.write(0, 1)  # no transforms
    wtr.write(0, 1)  # no color cache
    wtr.write(0, 1)  # no meta prefix codes
    chans = [arr[:, :, 1].ravel(), arr[:, :, 0].ravel(), arr[:, :, 2].ravel()]

    def freq(vals) -> "dict[int, int]":
        out: "dict[int, int]" = {}
        for v in vals.tolist():
            out[v] = out.get(v, 0) + 1
        return out

    g_codes = _write_prefix_code(wtr, freq(chans[0]), 280)
    r_codes = _write_prefix_code(wtr, freq(chans[1]), 256)
    b_codes = _write_prefix_code(wtr, freq(chans[2]), 256)
    _write_prefix_code(wtr, {255: 1}, 256)  # constant alpha, 0-bit
    _write_prefix_code(wtr, {0: 1}, 40)  # unused distance tree, 0-bit
    for g, r, b in zip(*chans):
        wtr.write_code(*g_codes[g])
        wtr.write_code(*r_codes[r])
        wtr.write_code(*b_codes[b])
    wtr.align()
    payload = bytes(wtr.out)
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    riff = b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk
    return riff
