"""`llm.bitio` — the shared bit I/O, varint and CRC primitives of the
zero-dependency codecs. Each fast form is checked against a slow
per-bit or per-byte reference over seeded random inputs, truncation
must raise ValueError, and the CRCs are pinned to their "123456789"
check values. Spark-free."""

from __future__ import annotations

import random

import pytest

from dynamodb_to_datalake_project_spark.llm import bitio

CHECK = b"123456789"


def _random_fields(rng, max_width):
    return [
        (rng.randrange(1 << n), n)
        for n in (rng.randrange(0, max_width) for _ in range(rng.randrange(1, 60)))
    ]


def _pack_bits(bits, msb_first):
    """Reference packer: one bit at a time, zero-padded to a byte."""
    bits = bits + [0] * (-len(bits) % 8)
    out = bytearray()
    for i in range(0, len(bits), 8):
        chunk = bits[i : i + 8]
        order = range(8) if msb_first else range(7, -1, -1)
        out.append(sum(bit << (7 - j) for j, bit in zip(order, chunk)))
    return bytes(out)


@pytest.mark.parametrize("msb_first", [True, False])
def test_bit_writer_and_reader_match_per_bit_reference(msb_first):
    rng = random.Random(7 if msb_first else 8)
    writer_t = bitio.MsbWriter if msb_first else bitio.LsbWriter
    reader_t = bitio.MsbReader if msb_first else bitio.LsbReader
    for _ in range(40):
        fields = _random_fields(rng, 40)
        w = writer_t()
        ref = []
        for v, n in fields:
            w.write(v, n)
            order = range(n - 1, -1, -1) if msb_first else range(n)
            ref.extend((v >> i) & 1 for i in order)
        w.align()
        assert bytes(w.out) == _pack_bits(ref, msb_first)
        r = reader_t(bytes(w.out))
        assert [r.read(n) for _, n in fields] == [v for v, _ in fields]
        r.align()
        assert (r.pos, r.bit) == (len(w.out), 0)


def test_msb_signed_and_unary_match_reference():
    rng = random.Random(9)
    vals = [(rng.randrange(-(1 << (n - 1)), 1 << (n - 1)), n)
            for n in (rng.randrange(1, 33) for _ in range(200))]
    runs = [rng.choice((0, 1, 7, 8, 9, rng.randrange(0, 100))) for _ in range(200)]
    w = bitio.MsbWriter()
    ref = []
    for (v, n), q in zip(vals, runs):
        w.signed(v, n)
        w.unary(q)
        ref.extend(((v & ((1 << n) - 1)) >> i) & 1 for i in range(n - 1, -1, -1))
        ref.extend([0] * q + [1])
    w.align()
    assert bytes(w.out) == _pack_bits(ref, True)
    r = bitio.MsbReader(bytes(w.out))
    assert [(r.signed(n), r.unary()) for (_, n) in vals] == [
        (v, q) for (v, _), q in zip(vals, runs)
    ]


def test_bit_io_rejects_truncation_overflow_and_long_runs():
    for reader_t in (bitio.MsbReader, bitio.LsbReader):
        r = reader_t(b"\x01", what="codec")
        r.read(3)
        with pytest.raises(ValueError, match="codec: truncated"):
            r.read(6)
    with pytest.raises(ValueError, match="truncated"):
        bitio.MsbReader(b"\x00").unary()
    with pytest.raises(ValueError, match="unary run"):
        bitio.MsbReader(b"\x00" * 8 + b"\x80").unary(31)
    assert bitio.MsbReader(b"\x00" * 3 + b"\x01").unary(31) == 31
    for writer_t in (bitio.MsbWriter, bitio.LsbWriter):
        w = writer_t("codec")
        with pytest.raises(ValueError, match="codec: value 8 overflows 3 bits"):
            w.write(8, 3)
        with pytest.raises(ValueError, match="overflows"):
            w.write(-1, 4)


def _uvarint_ref(v):
    out = bytearray()
    while True:
        low, v = v % 128, v // 128
        out.append(low + (128 if v else 0))
        if not v:
            return bytes(out)


def test_varints_match_per_byte_reference():
    rng = random.Random(10)
    vals = [0, 1, 127, 128, 300, (1 << 64) - 1] + [
        rng.randrange(1 << rng.randrange(1, 65)) for _ in range(500)
    ]
    buf = b"".join(_uvarint_ref(v) for v in vals)
    assert b"".join(bitio.uvarint(v) for v in vals) == buf
    pos, got = 0, []
    while pos < len(buf):
        v, pos = bitio.read_uvarint(buf, pos, "codec")
        got.append(v)
    assert got == vals
    for v in [0, -1, 1, -(1 << 63), (1 << 63) - 1] + [
        rng.randrange(-(1 << 63), 1 << 63) for _ in range(500)
    ]:
        z = bitio.zigzag(v)
        assert z == (2 * v if v >= 0 else -2 * v - 1)
        assert bitio.unzigzag(z) == v


def test_varints_reject_truncation_overlength_and_negatives():
    with pytest.raises(ValueError, match="codec: truncated varint"):
        bitio.read_uvarint(b"", 0, "codec")
    with pytest.raises(ValueError, match="codec: truncated varint"):
        bitio.read_uvarint(b"\x80\x80", 0, "codec")
    # ten bytes is the 64-bit maximum; a continuation bit on the
    # tenth is corrupt
    assert bitio.read_uvarint(b"\xff" * 9 + b"\x01", 0, "c") == ((1 << 64) - 1, 10)
    with pytest.raises(ValueError, match="codec: varint too long"):
        bitio.read_uvarint(b"\xff" * 10 + b"\x01", 0, "codec")
    with pytest.raises(ValueError, match="negative"):
        bitio.uvarint(-1)


def test_codec_varint_decoders_bound_the_length():
    """ORC RLEv2 and parquet DELTA_BINARY_PACKED reject an overlong
    varint like the protobuf, Avro, Kafka and thrift readers do,
    rather than decoding it to an 86-bit integer."""
    from dynamodb_to_datalake_project_spark.llm.orcmeta import rlev2_decode
    from dynamodb_to_datalake_project_spark.llm.parquetmeta import (
        _delta_binary_packed,
    )

    overlong = b"\xff" * 12 + b"\x01"
    with pytest.raises(ValueError, match="varint too long"):
        rlev2_decode(overlong, signed=True)
    with pytest.raises(ValueError, match="varint too long"):
        _delta_binary_packed(overlong, 0, 1)


def _crc_msb_ref(data, poly, width, init):
    top, mask = 1 << (width - 1), (1 << width) - 1
    crc = init
    for b in data:
        crc ^= b << (width - 8)
        for _ in range(8):
            crc = ((crc << 1) ^ poly) & mask if crc & top else (crc << 1) & mask
    return crc


def _crc32c_ref(data):
    crc = 0xFFFFFFFF
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = (crc >> 1) ^ 0x82F63B78 if crc & 1 else crc >> 1
    return crc ^ 0xFFFFFFFF


def test_crcs_match_per_bit_reference():
    rng = random.Random(11)
    blobs = [b"", CHECK] + [
        bytes(rng.randrange(256) for _ in range(rng.randrange(0, 300)))
        for _ in range(60)
    ]
    for d in blobs:
        for init in (0, 0xFF, rng.randrange(256)):
            assert bitio.crc8(d, init) == _crc_msb_ref(d, 0x07, 8, init)
        for init in (0, 0xFFFF, rng.randrange(1 << 16)):
            assert bitio.crc16(d, init) == _crc_msb_ref(d, 0x8005, 16, init)
        for init in (0, 0xFFFFFFFF, rng.randrange(1 << 32)):
            want = _crc_msb_ref(d, 0x04C11DB7, 32, init)
            assert bitio.crc32_msb(d, init) == want
            assert bitio.crc32_msb_ref(d, init) == want
        assert bitio.crc32c(d) == _crc32c_ref(d)
    # the batch form groups by length; equal lengths take the numpy path
    same_len = [bytes(rng.randrange(256) for _ in range(24)) for _ in range(20)]
    batch = blobs + same_len
    assert bitio.crc32c_batch(batch) == [_crc32c_ref(d) for d in batch]


def test_crc_check_values():
    assert bitio.crc8(CHECK) == 0xF4
    assert bitio.crc16(CHECK) == 0xFEE8
    assert bitio.crc16(CHECK, 0xFFFF) == 0xAEE7
    assert bitio.crc32_msb(CHECK, 0xFFFFFFFF) == 0x0376E6E7
    assert bitio.crc32_msb(CHECK) == 0x89A1897F
    assert bitio.crc32c(CHECK) == 0xE3069283
