"""safetensors + NumPy .npy audits — the tensor shipping formats an
LLM data platform meets next to its corpora: checkpoints distribute
as safetensors, embedding dumps as .npy/.npz. Both formats are
deliberately simple and fully public; both parsers here validate
hard before trusting a byte:

- safetensors: u64-LE header length, JSON header mapping tensor name
  → {dtype, shape, data_offsets}, then the data section. The spec's
  core invariant — offsets are contiguous, non-overlapping, and cover
  the data section exactly, with dtype·shape agreeing with each span
  — is enforced, because a checkpoint that lies about offsets is how
  loaders get memory-unsafe.
- .npy: \\x93NUMPY magic, version, the dict-literal header (parsed
  with ast.literal_eval — never eval), 64-byte alignment check,
  C-order little-endian numeric subset.

Value reads (F32/F64/I32/I64) are numpy-backed; other dtypes audit
by metadata only (dtype census + byte spans) and raise on value
access. Arrow map-only over opaque cells.
"""

from __future__ import annotations

import ast
import json
import struct

from dynamodb_to_datalake_project_spark.rowmap import map_rows

#: dtype → byte width for the safetensors names this audit knows
_ST_DTYPES = {
    "F64": 8, "F32": 4, "F16": 2, "BF16": 2,
    "I64": 8, "I32": 4, "I16": 2, "I8": 1, "U8": 1, "BOOL": 1,
}
_ST_NUMPY = {"F64": "<f8", "F32": "<f4", "I64": "<i8", "I32": "<i4"}


def encode_safetensors(
    tensors: "dict[str, tuple[str, list[int], bytes]]",
    metadata: "dict[str, str] | None" = None,
) -> bytes:
    """Serialize {name: (dtype, shape, raw_bytes)} with contiguous
    offsets in name order; validates dtype/shape/byte agreement."""
    header: "dict[str, object]" = {}
    if metadata:
        header["__metadata__"] = metadata
    blobs = []
    at = 0
    for name in sorted(tensors):
        dtype, shape, raw = tensors[name]
        if dtype not in _ST_DTYPES:
            raise NotImplementedError(f"safetensors: dtype {dtype!r}")
        n = 1
        for d in shape:
            n *= d
        if n * _ST_DTYPES[dtype] != len(raw):
            raise ValueError(
                f"safetensors: {name} bytes disagree with dtype*shape"
            )
        header[name] = {
            "dtype": dtype, "shape": shape,
            "data_offsets": [at, at + len(raw)],
        }
        blobs.append(raw)
        at += len(raw)
    hj = json.dumps(header, separators=(",", ":")).encode("utf-8")
    return struct.pack("<Q", len(hj)) + hj + b"".join(blobs)


def parse_safetensors(payload: bytes) -> dict:
    """Validating parse: header JSON, per-tensor dtype/shape/offset
    agreement, contiguity and exact coverage of the data section.
    Returns {"tensors": {name: {dtype, shape, n_params, offsets}},
    "metadata", "total_params", "data_bytes"}."""
    if len(payload) < 8:
        raise ValueError("safetensors: truncated header length")
    (hlen,) = struct.unpack_from("<Q", payload, 0)
    if 8 + hlen > len(payload):
        raise ValueError("safetensors: header overruns the payload")
    try:
        header = json.loads(payload[8 : 8 + hlen])
    except json.JSONDecodeError as exc:
        raise ValueError(f"safetensors: malformed header JSON: {exc}")
    metadata = header.pop("__metadata__", {})
    data_len = len(payload) - 8 - hlen
    spans = []
    tensors: "dict[str, dict]" = {}
    total = 0
    for name, info in header.items():
        dtype = info.get("dtype")
        shape = info.get("shape")
        offs = info.get("data_offsets")
        if dtype not in _ST_DTYPES:
            raise NotImplementedError(f"safetensors: dtype {dtype!r}")
        if (
            not isinstance(shape, list)
            or not isinstance(offs, list) or len(offs) != 2
        ):
            raise ValueError(f"safetensors: malformed entry {name!r}")
        n = 1
        for d in shape:
            n *= d
        lo, hi = offs
        if hi - lo != n * _ST_DTYPES[dtype]:
            raise ValueError(
                f"safetensors: {name} span {hi - lo} != dtype*shape"
            )
        if lo < 0 or hi > data_len:
            raise ValueError(f"safetensors: {name} offsets out of range")
        spans.append((lo, hi))
        total += n
        tensors[name] = {
            "dtype": dtype, "shape": shape, "n_params": n,
            "offsets": (lo, hi),
        }
    spans.sort()
    at = 0
    for lo, hi in spans:
        if lo != at:
            raise ValueError(
                "safetensors: data section has gaps or overlaps"
            )
        at = hi
    if at != data_len:
        raise ValueError("safetensors: data section not fully covered")
    return {
        "tensors": tensors, "metadata": metadata,
        "total_params": total, "data_bytes": data_len,
    }


def read_safetensor(payload: bytes, name: str):
    """Values of one tensor as a numpy array (F64/F32/I64/I32 only —
    half precisions audit by metadata and raise here)."""
    import numpy as np

    d = parse_safetensors(payload)
    if name not in d["tensors"]:
        raise ValueError(f"safetensors: no tensor {name!r}")
    t = d["tensors"][name]
    if t["dtype"] not in _ST_NUMPY:
        raise NotImplementedError(
            f"safetensors: value read for dtype {t['dtype']}"
        )
    (hlen,) = struct.unpack_from("<Q", payload, 0)
    base = 8 + hlen
    lo, hi = t["offsets"]
    return np.frombuffer(
        payload[base + lo : base + hi], dtype=_ST_NUMPY[t["dtype"]]
    ).reshape(t["shape"])


_NPY_MAGIC = b"\x93NUMPY"


def encode_npy(arr) -> bytes:
    """Serialize a numpy array as v1.0 .npy (C-order, little-endian)."""
    import numpy as np

    a = np.ascontiguousarray(arr)
    descr = a.dtype.newbyteorder("<").str
    header = (
        "{'descr': '%s', 'fortran_order': False, 'shape': %s, }"
        % (descr, repr(a.shape))
    )
    pad = 64 - (len(_NPY_MAGIC) + 4 + len(header) + 1) % 64
    header = header + " " * pad + "\n"
    return (
        _NPY_MAGIC + b"\x01\x00" + struct.pack("<H", len(header))
        + header.encode("latin-1") + a.astype(descr).tobytes()
    )


def parse_npy(payload: bytes) -> dict:
    """Validating .npy parse: magic, version 1/2 header length width,
    literal-eval'd header dict (descr/fortran_order/shape), byte-count
    agreement. Returns {"descr", "shape", "n_elements", "values"}
    (values a numpy array for the C-order little-endian numeric
    subset; fortran order raises NotImplementedError)."""
    import numpy as np

    if payload[:6] != _NPY_MAGIC:
        raise ValueError("npy: bad magic")
    major = payload[6]
    if major == 1:
        (hlen,) = struct.unpack_from("<H", payload, 8)
        hstart = 10
    elif major == 2:
        (hlen,) = struct.unpack_from("<I", payload, 8)
        hstart = 12
    else:
        raise NotImplementedError(f"npy: version {major}")
    raw = payload[hstart : hstart + hlen]
    if len(raw) != hlen:
        raise ValueError("npy: truncated header")
    try:
        header = ast.literal_eval(raw.decode("latin-1"))
    except (ValueError, SyntaxError) as exc:
        raise ValueError(f"npy: malformed header dict: {exc}")
    if header.get("fortran_order"):
        raise NotImplementedError("npy: fortran order not implemented")
    descr = header["descr"]
    shape = header["shape"]
    try:
        dt = np.dtype(descr)
    except TypeError as exc:
        raise ValueError(f"npy: bad descr: {exc}")
    n = 1
    for d in shape:
        n *= d
    data = payload[hstart + hlen :]
    if len(data) != n * dt.itemsize:
        raise ValueError(
            f"npy: data is {len(data)} bytes, header implies "
            f"{n * dt.itemsize}"
        )
    return {
        "descr": descr, "shape": shape, "n_elements": n,
        "values": np.frombuffer(data, dtype=dt).reshape(shape),
    }


def tensor_file_stats(docs):
    """Per doc: a 3-tensor safetensors checkpoint (F32 weight matrix +
    I64 bias from word-length formulas + a BF16 metadata-only blob)
    and a .npy dump of the same ints — audited, value-read, and
    checksummed."""

    import numpy as np
    from pyspark.sql import types as T

    schema_t = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_tensors", T.LongType()),
            T.StructField("total_params", T.LongType()),
            T.StructField("data_bytes", T.LongType()),
            T.StructField("weight_sum", T.LongType()),
            T.StructField("npy_elements", T.LongType()),
            T.StructField("npy_sum", T.LongType()),
        ]
    )

    def row(did, text):
        words = [w for w in text.split(" ") if w]
        k = len(words)
        lens = np.array([len(w) for w in words], dtype=np.int64)
        weight = (lens[:, None] * 7 + np.arange(4)[None, :]
                  + did % 13).astype(np.float32)
        bias = lens * 3 + 1
        half = np.zeros(2 * k, dtype=np.uint8)  # BF16 stand-in
        st = encode_safetensors(
            {
                "model.weight": ("F32", [k, 4], weight.tobytes()),
                "model.bias": ("I64", [k], bias.tobytes()),
                "model.half": ("BF16", [k], half.tobytes()),
            },
            metadata={"doc": str(did)},
        )
        d = parse_safetensors(st)
        w = read_safetensor(st, "model.weight")
        b = read_safetensor(st, "model.bias")
        assert (b == bias).all()
        npy = encode_npy(lens)
        nd = parse_npy(npy)
        assert (nd["values"] == lens).all()
        yield (
            did,
            len(d["tensors"]),
            d["total_params"],
            d["data_bytes"],
            int(w.astype(np.int64).sum()),
            nd["n_elements"],
            int(nd["values"].sum()),
        )

    return map_rows(docs.select("doc_id", "text"), row, schema_t, spread=True)


def _register() -> None:
    from dynamodb_to_datalake_project_spark.catalog import query
    from dynamodb_to_datalake_project_spark.lake import load_table

    @query(
        "tensor_file_audit",
        oracle="""
        WITH t AS (
          SELECT doc_id,
                 list_transform(
                   list_filter(string_split(text, ' '), w -> w <> ''),
                   w -> length(w)) AS lens
          FROM documents
        )
        SELECT doc_id,
               CAST(3 AS BIGINT) AS n_tensors,
               CAST(len(lens) * 4 + len(lens) + len(lens) AS BIGINT)
                 AS total_params,
               CAST(len(lens) * 16 + len(lens) * 8 + len(lens) * 2
                 AS BIGINT) AS data_bytes,
               CAST(4 * 7 * list_sum(lens) + len(lens) * (0+1+2+3)
                    + 4 * len(lens) * (doc_id % 13) AS BIGINT)
                 AS weight_sum,
               CAST(len(lens) AS BIGINT) AS npy_elements,
               CAST(list_sum(lens) AS BIGINT) AS npy_sum
        FROM t
        """,
    )
    def q_tensor_file_audit(spark, sf_dir):
        """Checkpoint + embedding-dump audit over the documents table:
        a 3-tensor safetensors file (F32 weights, I64 bias, BF16
        metadata-only blob) and a .npy dump built from word-length
        formulas, validated (offset contiguity, dtype*shape spans,
        header agreement) and value-read back. The oracle recomputes
        parameter/byte censuses and the exact integer weight sums
        (small ints are exact in f32) from the same formulas."""
        docs = load_table(spark, sf_dir, "documents")
        return tensor_file_stats(docs)


_register()
