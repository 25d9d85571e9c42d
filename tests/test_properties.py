"""Property-based tests (hypothesis): the decoder round-trip and the
merge algebra hold for arbitrary inputs, not just the curated cases.

Spark jobs are expensive per example, so each hypothesis example is a
whole batch of rows and example counts are small — the properties still
cover far more of the input space than fixed fixtures.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dynamodb_to_datalake_project_spark import ddbjson, dedup, merge

SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# printable-ish strings without the JSON-hostile control plane
text_st = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF),
    min_size=0,
    max_size=40,
)

row_st = st.tuples(
    st.integers(min_value=-(2**62), max_value=2**62),
    st.one_of(st.none(), text_st),
    st.booleans(),
    st.lists(text_st, max_size=4),
    st.one_of(st.none(), st.integers(min_value=-(10**12), max_value=10**12)),
)

ROUNDTRIP_SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("s", T.StringType()),
        T.StructField("flag", T.BooleanType()),
        T.StructField("tags", T.ArrayType(T.StringType())),
        T.StructField("n", T.LongType()),
    ]
)


@given(rows=st.lists(row_st, min_size=1, max_size=20))
@settings(**SETTINGS)
def test_ddbjson_roundtrip_property(spark, rows):
    """decode(encode(x)) == x for arbitrary rows across the scalar,
    null, boolean, array and long surfaces of the typed-JSON codec."""
    from collections import Counter

    src = spark.createDataFrame(rows, ROUNDTRIP_SCHEMA)
    back = ddbjson.decode_export_json(
        ddbjson.encode_export_json(src), ROUNDTRIP_SCHEMA
    )
    # Counter, not sorted(): rows may mix None and str in one column,
    # which tuple ordering can't compare
    def norm(df):
        return Counter(
            (r.k, r.s, r.flag, tuple(r.tags) if r.tags is not None else None, r.n)
            for r in df.collect()
        )

    assert norm(back) == norm(src)


merge_rows_st = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),    # key (small: force collisions)
        st.integers(min_value=0, max_value=100),  # precombine version
        st.integers(min_value=0, max_value=10**6),
    ),
    min_size=0,
    max_size=25,
)


def _mk(spark, rows):
    return spark.createDataFrame(
        [(f"k{k}", v, p) for k, v, p in rows], "id string, ver long, payload long"
    )


@given(target=merge_rows_st, source=merge_rows_st)
@settings(**SETTINGS)
def test_merge_properties(spark, target, source):
    """For arbitrary target/source batches with colliding keys:
    1. result has exactly one row per key;
    2. every surviving row carries the max precombine version seen for
       its key (latest-wins);
    3. re-applying the same source is a no-op (idempotency, T9)."""
    t = dedup.latest_wins(_mk(spark, target), ["id"], ["ver", "payload"])
    s = _mk(spark, source)
    merged = merge.upsert_dataframes(t, s, ["id"], ["ver"])
    out = merged.collect()

    keys = {r.id for r in out}
    assert len(out) == len(keys)

    max_ver: dict[str, int] = {}
    for k, v, _ in list(target) + list(source):
        kk = f"k{k}"
        max_ver[kk] = max(max_ver.get(kk, -1), v)
    assert {r.id: r.ver for r in out} == {k: v for k, v in max_ver.items()}

    again = merge.upsert_dataframes(merged, s, ["id"], ["ver"])
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, out))


@given(rows=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=1, max_size=30))
@settings(**SETTINGS)
def test_latest_wins_is_subset_and_covers_keys(spark, rows):
    df = spark.createDataFrame(
        [(f"k{k}", v) for k, v in rows], "id string, ver long"
    )
    out = dedup.latest_wins(df, ["id"], ["ver"]).collect()
    src = set(map(tuple, df.collect()))
    assert all((r.id, r.ver) in src for r in out)          # subset of input
    assert {r.id for r in out} == {f"k{k}" for k, _ in rows}  # all keys kept


events_st = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10**6),          # event_id
        st.integers(min_value=0, max_value=72),             # hour offset
        st.sampled_from(["click", "view", "purchase"]),     # event_type
        st.integers(min_value=-(10**6), max_value=10**6),   # value microunits
    ),
    min_size=1,
    max_size=60,
)


@given(rows=events_st, cut=st.integers(min_value=0, max_value=72))
@settings(**SETTINGS)
def test_rollup_partial_merge_equals_full_recompute(spark, rows, cut):
    """combine(partials(A), partials(B)) == partials(A ∪ B) for ANY
    split of the stream — the algebra `rollup.py`'s exactly-once
    maintenance and `rollup_incremental` rely on. Exact decimal sums
    make the equality bit-level, not approximate."""
    from dynamodb_to_datalake_project_spark.rollup import hourly_event_partials
    from dynamodb_to_datalake_project_spark.timeseries import combine_rollup_partials

    def mk(batch):
        return spark.createDataFrame(
            [
                (i, f"2024-01-{1 + h // 24:02d} {h % 24:02d}:00:00", t, v / 1e6)
                for (i, h, t, v) in batch
            ],
            ["event_id", "ts_s", "event_type", "value"],
        ).select(F.col("ts_s").cast("timestamp").alias("ts"), "event_type", "value")

    a = [r for r in rows if r[1] < cut]
    b = [r for r in rows if r[1] >= cut]

    def canon(df):
        return {
            (r["hour"], r["event_type"]): (r["n_events"], r["sum_value"])
            for r in df.collect()
        }

    full = canon(hourly_event_partials(mk(rows)))
    if not a or not b:
        split = canon(hourly_event_partials(mk(a or b)))
    else:
        split = canon(
            combine_rollup_partials(
                hourly_event_partials(mk(a)),
                hourly_event_partials(mk(b)),
                ["hour", "event_type"],
            )
        )
    assert split == full


md5_text_st = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x10FF),
    min_size=0,
    max_size=60,
)


@given(toks=st.lists(md5_text_st, min_size=1, max_size=30, unique=True))
@settings(**SETTINGS)
def test_md5_hash60_bridge_property(spark, toks):
    """The Spark/DuckDB md5 hash bridge (the contract behind
    dedup_minhash_md5 / dedup_simhash_md5's exact oracles) holds for
    arbitrary unicode token strings, not just the fixture vocabulary."""
    import duckdb

    from dynamodb_to_datalake_project_spark.llm.dedup import (
        MD5_HASH60_DUCK,
        md5_hash60,
    )

    con = duckdb.connect()
    duck = [
        con.execute("SELECT " + MD5_HASH60_DUCK.format(t="?"), [t]).fetchone()[0]
        for t in toks
    ]
    con.close()
    df = spark.createDataFrame([(t,) for t in toks], "t string")
    spk = dict(
        df.select("t", md5_hash60(F.col("t")).alias("h")).collect()
    )
    assert [spk[t] for t in toks] == duck


@given(
    ids=st.lists(
        st.integers(min_value=0, max_value=10**9), min_size=1, max_size=200,
        unique=True,
    ),
    seed=st.text(alphabet="abcdef0123456789", min_size=1, max_size=8),
    n_shards=st.integers(min_value=1, max_value=32),
)
@settings(**SETTINGS)
def test_epoch_shuffle_bijection_property(spark, ids, seed, n_shards):
    """epoch_shuffle is a bijection onto (shard, 1..len(shard)) for
    arbitrary id sets, seeds, and shard counts."""
    from dynamodb_to_datalake_project_spark.sampling import epoch_shuffle

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = epoch_shuffle(df, "doc_id", seed, n_shards=n_shards).collect()
    assert sorted(r.doc_id for r in out) == sorted(ids)
    by_shard = {}
    for r in out:
        assert 0 <= r.shard_id < n_shards
        by_shard.setdefault(r.shard_id, []).append(r.shard_pos)
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))


@given(
    w=st.integers(min_value=1, max_value=9),
    h=st.integers(min_value=1, max_value=9),
    data=st.data(),
)
@settings(max_examples=40, deadline=None)
def test_bmp_roundtrip_property(w, h, data):
    """Pure-Python property: every (width, height, pixels) combination
    survives the BMP container exactly — including widths whose rows
    need 1-3 padding bytes — and nearest-neighbor resize picks exactly
    the src = dst*src_dim//dst_dim pixel."""
    from dynamodb_to_datalake_project_spark.llm import multimodal

    px = data.draw(
        st.lists(
            st.tuples(*[st.integers(0, 255)] * 3),
            min_size=w * h,
            max_size=w * h,
        )
    )
    payload = multimodal.encode_bmp(px, w, h)
    row_size = (w * 3 + 3) // 4 * 4
    assert len(payload) == 54 + row_size * h
    img = multimodal.decode_bmp(payload)
    assert (img["width"], img["height"]) == (w, h)
    assert img["pixels"] == px
    rw = data.draw(st.integers(1, 4))
    rh = data.draw(st.integers(1, 4))
    rimg = multimodal.decode_bmp(multimodal.resize_image(payload, rw, rh))
    assert rimg["pixels"] == [
        px[(y * h // rh) * w + (x * w // rw)] for y in range(rh) for x in range(rw)
    ]


@given(
    w=st.integers(min_value=1, max_value=9),
    h=st.integers(min_value=1, max_value=9),
    data=st.data(),
)
@settings(max_examples=25, deadline=None)
def test_lossless_codecs_roundtrip_property(w, h, data):
    """Pure-Python property: every (width, height, pixels) combination
    survives ALL lossless containers exactly — PNG (filter search
    included), GIF (palette-capped input), and WebP-VP8L (prefix-code
    paths flip between simple and normal form as the distinct-value
    count crosses 2) — through encode → decode."""
    import numpy as np

    from dynamodb_to_datalake_project_spark.llm import multimodal, webp

    # cap distinct colors (GIF is indexed): draw from a small palette
    palette = data.draw(
        st.lists(
            st.tuples(*[st.integers(0, 255)] * 3),
            min_size=1,
            max_size=8,
            unique=True,
        )
    )
    idx = data.draw(
        st.lists(st.integers(0, len(palette) - 1), min_size=w * h, max_size=w * h)
    )
    px = [palette[i] for i in idx]
    arr = np.array(px, np.uint8).reshape(h, w, 3)
    for enc, dec in (
        (multimodal.encode_png, multimodal.decode_png),
        (multimodal.encode_gif, multimodal.decode_gif),
        (webp.encode_webp, webp.decode_webp),
    ):
        img = dec(enc(arr, w, h))
        assert (img["width"], img["height"]) == (w, h)
        assert img["pixels"] == px


@given(
    n_channels=st.integers(1, 2),
    block_size=st.sampled_from([4, 16, 192]),
    data=st.data(),
)
@settings(max_examples=25, deadline=None)
def test_flac_roundtrip_property(n_channels, block_size, data):
    """Pure-Python property: any 16-bit PCM sequence survives the FLAC
    stream exactly, across channel counts, block sizes (including
    non-dividing final frames), and the CONSTANT/FIXED subframe
    choices the encoder makes per block."""
    from dynamodb_to_datalake_project_spark.llm import flac

    n_frames = data.draw(st.integers(0, 40))
    samples = data.draw(
        st.lists(
            st.integers(-32768, 32767),
            min_size=n_frames * n_channels,
            max_size=n_frames * n_channels,
        )
    )
    payload = flac.encode_flac(
        samples, n_channels=n_channels, block_size=block_size
    )
    d = flac.decode_flac_samples(payload)
    assert d["samples"] == samples
    assert d["n_channels"] == n_channels


@given(
    texts=st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=24), min_size=1, max_size=8
    ),
    n_merges=st.integers(1, 5),
)
@settings(
    max_examples=5, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
def test_bpe_driver_and_distributed_paths_agree(spark, texts, n_merges):
    """Random tiny corpora: the size-gated driver loop and the
    distributed per-merge loop must emit the identical full merge
    table (rank, left, right, pair_count) — including early stops and
    tie-breaks on a 3-letter alphabet chosen to force count ties."""
    from dynamodb_to_datalake_project_spark import local
    from dynamodb_to_datalake_project_spark.llm import bpe

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    rows = lambda: [  # noqa: E731
        tuple(r)
        for r in bpe.train_bpe_merges(docs, n_merges=n_merges, min_count=2).collect()
    ]
    driver = rows()
    with pytest.MonkeyPatch.context() as m:  # every bounded collect refused
        m.setattr(local, "collect_bounded", lambda df, max_rows: None)
        distributed = rows()
    assert driver == distributed


# ---------------------------------------------------------------------------
# PageRank / k-means: distributed path == pure-Python replay
# ---------------------------------------------------------------------------

edge_st = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=25,
)


@given(und=edge_st)
@settings(**SETTINGS)
def test_pagerank_matches_replay_on_random_graphs(spark, und):
    """Distributed PageRank equals the sequential replay on arbitrary
    small graphs (symmetrized so the no-dangling contract holds)."""
    from dynamodb_to_datalake_project_spark.graph import pagerank

    edges = sorted({(a, b) for a, b in und} | {(b, a) for a, b in und})
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["pr"] for r in pagerank(df, n_iter=3).collect()}

    nodes = sorted({s for s, _ in edges})
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    n = len(nodes)
    pr = {v: 1.0 / n for v in nodes}
    for _ in range(3):
        sums = {v: 0.0 for v in nodes}
        for s, d in edges:
            sums[d] += pr[s] / deg[s]
        pr = {v: 0.15 / n + 0.85 * sums[v] for v in nodes}
    assert set(got) == set(pr)
    for v in pr:
        assert abs(got[v] - pr[v]) < 1e-12


vec_st = st.lists(
    st.tuples(
        st.floats(-4, 4, allow_nan=False, width=32),
        st.floats(-4, 4, allow_nan=False, width=32),
        st.floats(-4, 4, allow_nan=False, width=32),
    ),
    min_size=3,
    max_size=24,
)


@given(vecs=vec_st)
@settings(**SETTINGS)
def test_kmeans_matches_python_lloyd_on_random_vectors(spark, vecs):
    """Distributed k-means (md5 seeds, exact-decimal means) equals a
    sequential Lloyd replay using the same seeding and tie policy, to
    fp-exactness of the per-cluster means."""
    import hashlib
    from decimal import ROUND_HALF_UP, Decimal

    from dynamodb_to_datalake_project_spark.llm.cluster import kmeans_train

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    k = 2
    got_cents, got_sizes = kmeans_train(df, k=k, n_iters=2)

    def md5(i):
        return hashlib.md5(str(i).encode()).hexdigest()

    seeds = [v for _, v in sorted(rows, key=lambda r: (md5(r[0]), r[0]))[:k]]
    cents = list(enumerate(seeds))
    sizes = {}
    q = Decimal("0.000000001")
    for _ in range(2):
        groups: dict = {}
        for _, v in rows:
            best = min(
                ((sum((x - c[j]) * (x - c[j]) for j, x in enumerate(v)), cid)
                 for cid, c in cents),
            )
            groups.setdefault(best[1], []).append(v)
        cents = []
        sizes = {}
        for cid in sorted(groups):
            vs = groups[cid]
            sizes[cid] = len(vs)
            mean = []
            for j in range(len(vs[0])):
                # Decimal(float) is the exact binary value; HALF_UP
                # quantize at 9 dp mirrors Spark's double->decimal cast
                s = sum(
                    Decimal(x).quantize(q, rounding=ROUND_HALF_UP)
                    for x in (v[j] for v in vs)
                )
                mean.append(float(s) / len(vs))
            cents.append((cid, mean))
    assert got_sizes == sizes
    for (gc, gv), (pc, pv) in zip(got_cents, cents):
        assert gc == pc
        for a, b in zip(gv, pv):
            assert abs(a - b) < 1e-12, (gc, a, b)


@given(
    tracks=st.lists(
        st.tuples(
            st.booleans(),  # video?
            st.integers(min_value=1, max_value=6),  # n samples
            st.integers(min_value=1, max_value=90000),  # timescale
            st.integers(min_value=1, max_value=3000),  # sample delta
            st.lists(
                st.binary(min_size=1, max_size=64), min_size=1, max_size=6
            ),
        ),
        min_size=1,
        max_size=3,
    )
)
@settings(max_examples=25, deadline=None)
def test_mp4_container_roundtrip_property(tracks):
    """parse(encode(x)) recovers every track's handler, codec, sample
    count/bytes, duration units, and first-byte checksum for arbitrary
    track layouts — no Spark, pure container algebra."""
    from dynamodb_to_datalake_project_spark.llm import multimodal

    specs = []
    for i, (is_video, _n, ts, delta, samples) in enumerate(tracks):
        spec = {
            "handler": "vide" if is_video else "soun",
            "codec": ["avc1", "mp4v", "mp4a", "samr"][i % 4],
            "timescale": ts,
            "sample_delta": delta,
            "samples": samples,
        }
        if is_video:
            spec["width"], spec["height"] = 16 * (i + 1), 8 * (i + 1)
        specs.append(spec)
    payload = multimodal.encode_mp4_container(specs)
    d = multimodal.parse_mp4_boxes(payload)
    assert len(d["tracks"]) == len(specs)
    for tid, (spec, got) in enumerate(zip(specs, d["tracks"]), start=1):
        assert got["track_id"] == tid
        assert got["handler"] == spec["handler"]
        assert got["codec"] == spec["codec"]
        assert got["n_samples"] == len(spec["samples"])
        assert got["sample_bytes"] == sum(len(s) for s in spec["samples"])
        assert got["timescale"] == spec["timescale"]
        assert got["duration"] == len(spec["samples"]) * spec["sample_delta"]
        assert got["first_byte_sum"] == sum(s[0] for s in spec["samples"])


@given(values=st.lists(st.integers(min_value=0, max_value=(1 << 56) - 2), min_size=1, max_size=50))
@settings(max_examples=50, deadline=None)
def test_ebml_vint_roundtrip_property(values):
    """EBML size-VINT algebra: encode→decode is the identity for any
    representable value, the encoding is minimal-width, and the
    all-ones reservation is never emitted (it means 'unknown size')."""
    from dynamodb_to_datalake_project_spark.llm import ebml

    buf = b"".join(ebml._vint_size(v) for v in values)
    pos = 0
    for v in values:
        got, pos2 = ebml._read_vint(buf, pos, keep_marker=False)
        assert got == v
        n = pos2 - pos
        # minimal width: v must NOT fit in n-1 bytes
        assert n == 1 or v >= (1 << (7 * (n - 1))) - 1
        # never all-ones
        assert got != -1
        pos = pos2
    assert pos == len(buf)


@given(
    tracks=st.lists(
        st.tuples(
            st.booleans(),
            st.integers(min_value=1, max_value=500),  # track number
            st.lists(st.binary(min_size=1, max_size=40), min_size=0, max_size=5),
        ),
        min_size=1,
        max_size=3,
        unique_by=lambda t: t[1],
    ),
    n_clusters=st.integers(min_value=1, max_value=4),
)
@settings(max_examples=25, deadline=None)
def test_webm_container_roundtrip_property(tracks, n_clusters):
    """parse(encode(x)) recovers every track's registry row and block
    accounting for arbitrary track numbers (wide VINTs included) and
    cluster layouts — pure container algebra, no Spark."""
    from dynamodb_to_datalake_project_spark.llm import ebml

    specs = []
    for i, (is_video, num, _frames) in enumerate(tracks):
        s = {"number": num, "type": 1 if is_video else 2,
             "codec": "V_VP9" if is_video else "A_OPUS"}
        if is_video:
            s["width"], s["height"] = 16 * (i + 1), 8 * (i + 1)
        else:
            s["rate"] = 48000
        specs.append(s)
    clusters = []
    for c in range(n_clusters):
        blocks = []
        for is_video, num, frames in tracks:
            for j, f in enumerate(frames):
                blocks.append((num, j, f))
        clusters.append({"timestamp": c * 50, "blocks": blocks})
    d = ebml.parse_webm(ebml.encode_webm(specs, clusters))
    assert d["n_clusters"] == n_clusters
    got = {t["number"]: t for t in d["tracks"]}
    assert set(got) == {num for _, num, _ in tracks}
    for is_video, num, frames in tracks:
        t = got[num]
        assert t["n_blocks"] == n_clusters * len(frames)
        assert t["frame_bytes"] == n_clusters * sum(len(f) for f in frames)
        assert t["first_byte_sum"] == n_clusters * sum(f[0] for f in frames)


@given(
    frames=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=14),  # bitrate index
            st.integers(min_value=0, max_value=1),  # padding
        ),
        min_size=1,
        max_size=30,
    ),
    sr_idx=st.integers(min_value=0, max_value=2),
    id3=st.one_of(st.none(), st.binary(min_size=0, max_size=80)),
)
@settings(max_examples=50, deadline=None)
def test_mp3_frame_walk_property(frames, sr_idx, id3):
    """The sync walk recovers frame count, the exact VBR byte total,
    and padding sums for arbitrary bitrate/padding sequences, with or
    without an ID3v2 tag — pure framing algebra."""
    from dynamodb_to_datalake_project_spark.llm import multimodal as m

    spec = [(bi, pad, bytes([(bi * 17 + pad) % 256])) for bi, pad in frames]
    d = m.parse_mp3_frames(m.encode_mp3_stream(spec, sr_idx, id3v2=id3))
    sr = m._MP3_RATES[sr_idx]
    assert d["n_frames"] == len(frames)
    assert d["frame_bytes"] == sum(
        144000 * m._MP3_BITRATES[bi - 1] // sr + pad for bi, pad in frames
    )
    assert d["padded_frames"] == sum(pad for _, pad in frames)
    assert d["has_id3v2"] == (0 if id3 is None else 1)
    assert d["first_byte_sum"] == sum(h[0] for _, _, h in spec)


@given(
    pages=st.lists(
        st.lists(st.binary(min_size=1, max_size=600), min_size=1, max_size=4),
        min_size=1,
        max_size=5,
    ),
    serial=st.integers(min_value=0, max_value=(1 << 32) - 1),
)
@settings(max_examples=25, deadline=None)
def test_ogg_page_walk_property(pages, serial):
    """CRC'd page framing + lacing reassembly recover page/packet
    counts, byte totals, and per-packet first bytes for arbitrary
    packet sizes (incl. multi-lacing >=255 and exact-255 cases)."""
    from dynamodb_to_datalake_project_spark.llm import multimodal as m

    granules = [(i + 1) * 10 for i in range(len(pages))]
    d = m.parse_ogg_pages(m.encode_ogg_stream(pages, serial, granules))
    assert d["n_pages"] == len(pages)
    assert d["n_packets"] == sum(len(p) for p in pages)
    assert d["payload_bytes"] == sum(len(pkt) for p in pages for pkt in p)
    assert d["first_byte_sum"] == sum(pkt[0] for p in pages for pkt in p)
    assert d["serial"] == serial and d["last_granule"] == granules[-1]
    assert d["bos_eos_ok"] == 1


@given(
    streams=st.lists(
        st.tuples(
            st.integers(min_value=0x20, max_value=0x1FFE),  # pid
            st.lists(st.binary(min_size=1, max_size=700), min_size=0, max_size=4),
        ),
        min_size=1,
        max_size=3,
        unique_by=lambda s: s[0],
    )
)
@settings(max_examples=25, deadline=None)
def test_mpegts_walk_property(streams):
    """TS mux→demux recovers PES counts, header-net byte totals, the
    ceil-divide packet math, and first bytes for arbitrary PID/PES
    layouts — pure packet algebra."""
    from dynamodb_to_datalake_project_spark.llm import mpegts

    specs = [
        {"pid": pid, "stream_type": 0x1B, "stream_id": 0xE0, "pes": pes}
        for pid, pes in streams
        if pid != 0x1000  # reserved for the PMT here
    ]
    if not specs:
        return
    d = mpegts.parse_mpegts(mpegts.encode_mpegts(specs))
    got = {s["pid"]: s for s in d["streams"]}
    for s in specs:
        g = got[s["pid"]]
        assert g["n_pes"] == len(s["pes"])
        assert g["es_bytes"] == sum(len(p) for p in s["pes"])
        assert g["ts_packets"] == sum((9 + len(p) + 183) // 184 for p in s["pes"])
        assert g["first_byte_sum"] == sum(p[0] for p in s["pes"])


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=8),  # user
            st.integers(min_value=0, max_value=500),  # minute offset
            st.sampled_from(["signup", "view", "click", "purchase"]),
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_funnel_matches_sequential_replay(spark, events):
    """The distributed earliest-completion funnel equals a sequential
    per-user replay on random event streams (duplicate timestamps and
    out-of-order steps included)."""
    from pyspark.sql import functions as F

    from dynamodb_to_datalake_project_spark.timeseries import funnel_conversion

    steps = ["signup", "view", "purchase"]
    rows = [
        (u, f"2024-01-01 00:00:00", m, t) for u, m, t in events
    ]
    ev = spark.createDataFrame(
        rows, ["user_id", "base", "m", "event_type"]
    ).select(
        "user_id",
        (F.col("base").cast("timestamp") + F.make_interval(mins=F.col("m"))).alias("ts"),
        "event_type",
    )
    got = {
        r.step: r.n_users for r in funnel_conversion(ev, steps).collect()
    }
    # sequential replay: earliest completion, strictly increasing ts
    want = {s: 0 for s in steps}
    for u in {e[0] for e in events}:
        mine = sorted((m, t) for uu, m, t in events if uu == u)
        cur = -1.0
        for si, s in enumerate(steps):
            nxt = min((m for m, t in mine if t == s and m > cur), default=None)
            if nxt is None:
                break
            cur = nxt
            want[s] += 1
    assert got == want


@given(
    members=st.lists(
        st.tuples(
            st.from_regex(r"[a-z]{1,8}\.(txt|bin|json)", fullmatch=True),
            st.binary(max_size=1200),
        ),
        max_size=8,
    )
)
@settings(max_examples=40, deadline=None)
def test_tar_roundtrip_property(members):
    """ustar encode→parse is the identity on (name, bytes) pairs for
    any member sizes (incl. 0 and >512 spills)."""
    from dynamodb_to_datalake_project_spark.llm import multimodal as m

    assert m.parse_tar(m.encode_tar(members)) == members


@given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=255), max_size=60))
@settings(max_examples=60, deadline=None)
def test_pdf_string_escape_roundtrip_property(s):
    """PDF literal-string escape → parse is the identity over all of
    Latin-1 printable space, incl. parens and backslashes."""
    from dynamodb_to_datalake_project_spark.llm import pdf as P

    esc = P._pdf_escape(s).encode("latin-1")
    got, at = P._parse_pdf_string(b"(" + esc + b")", 0)
    assert got == s and at == len(esc) + 2


@given(
    pages=st.lists(
        st.tuples(
            st.text(alphabet="abc ()\\", max_size=30),
            st.text(alphabet="xyz", max_size=10),
            st.text(alphabet="pq ", max_size=10),
        ),
        min_size=1,
        max_size=4,
    )
)
@settings(max_examples=25, deadline=None)
def test_pdf_roundtrip_property(pages):
    """Full PDF encode→parse recovers the concatenated page text for
    arbitrary content (escape-heavy included)."""
    from dynamodb_to_datalake_project_spark.llm import pdf as P

    d = P.parse_pdf(P.encode_pdf(pages))
    assert d["text"] == "".join(a + b + c for a, b, c in pages)
    assert d["n_pages"] == len(pages)


@given(st.binary(max_size=400))
@settings(max_examples=60, deadline=None)
def test_chunked_transfer_roundtrip_property(body):
    """Chunked encode (via encode_http_response) → dechunk recovers
    any byte body at any chunk size."""
    from dynamodb_to_datalake_project_spark.llm import warc as W

    for cs in (1, 7, 64):
        resp = W.encode_http_response(200, "x/y", body, chunked=True, chunk_size=cs)
        assert W.parse_http_response(resp)["body"] == body


@given(st.binary(max_size=300))
@settings(max_examples=40, deadline=None)
def test_h264_epb_roundtrip_property(rbsp):
    """Emulation-prevention insert→strip is the identity on arbitrary
    RBSP bytes (zero-run-heavy inputs included by shrinking)."""
    from dynamodb_to_datalake_project_spark.llm import h264 as h

    ebsp = h.rbsp_to_ebsp(rbsp)
    assert h.ebsp_to_rbsp(ebsp) == rbsp
    # the EBSP never contains a start code or a bare 00 00 00
    assert b"\x00\x00\x01" not in ebsp and b"\x00\x00\x00" not in ebsp


@given(st.lists(st.integers(min_value=0, max_value=2**30), min_size=1, max_size=30))
@settings(max_examples=40, deadline=None)
def test_exp_golomb_roundtrip_property(values):
    """ue(v) write→read round-trips arbitrary 30-bit values."""
    from dynamodb_to_datalake_project_spark.llm import h264 as h

    w = h._BitWriter()
    for v in values:
        w.ue(v)
    w.write(1, 1)
    r = h._BitReader(w.trailing())
    assert [r.ue() for _ in values] == values


@given(st.integers(min_value=0, max_value=359_999_999))
@settings(max_examples=60, deadline=None)
def test_subtitle_timestamp_roundtrip_property(ms):
    """HH:MM:SS.mmm format→parse is the identity for both dialects."""
    from dynamodb_to_datalake_project_spark.llm import multimodal as m

    assert m._parse_ts(m._fmt_ts(ms, ".")) == ms
    assert m._parse_ts(m._fmt_ts(ms, ",")) == ms


@given(
    st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF),
        max_size=80,
    )
)
@settings(max_examples=60, deadline=None)
def test_unicode_repair_idempotent_property(s):
    """repair(repair(x)) == repair(x): the cleanup is a projection —
    running the hygiene pass twice never changes the result again."""
    from dynamodb_to_datalake_project_spark.llm.text import repair_unicode

    once = repair_unicode(s)["text"]
    again = repair_unicode(once)
    assert again["text"] == once
    assert (again["nbsp_fixed"], again["removed_chars"]) == (0, 0)


@given(
    st.lists(
        st.tuples(st.booleans(), st.from_regex(r"/[a-z*$]{0,8}", fullmatch=True)),
        max_size=6,
    ),
    st.from_regex(r"/[a-z]{0,10}", fullmatch=True),
)
@settings(max_examples=60, deadline=None)
def test_robots_longest_match_property(rules, path):
    """robots_allowed always returns the verdict of a maximal-length
    matching rule (allow on ties), independent of rule order."""
    from dynamodb_to_datalake_project_spark.llm.web import (
        robots_allowed,
        robots_match_len,
    )

    allowed, mlen = robots_allowed(rules, path)
    matches = [
        (robots_match_len(p, path), a)
        for a, p in rules
        if robots_match_len(p, path) is not None
    ]
    if not matches:
        assert (allowed, mlen) == (True, 0)
    else:
        best = max(m for m, _ in matches)
        assert mlen == max(best, 0)
        verdicts = {a for m, a in matches if m == best}
        assert allowed == (True in verdicts)
    # order-independence
    assert robots_allowed(list(reversed(rules)), path) == (allowed, mlen)


@given(
    st.lists(
        st.tuples(
            st.from_regex(r"[a-z][a-z0-9_./-]{0,20}", fullmatch=True),
            st.binary(max_size=200),
        ),
        max_size=6,
        unique_by=lambda kv: kv[0],
    ),
    st.sets(st.integers(0, 5), max_size=6),
)
@settings(max_examples=80, deadline=None)
def test_zip_roundtrip_property(members, deflate_idx):
    """encode_zip → parse_zip is the identity for any member list,
    any mix of stored/deflated members, including empty archives and
    empty members."""
    from dynamodb_to_datalake_project_spark.llm.ziparc import (
        encode_zip,
        parse_zip,
    )

    deflate = {m[0] for i, m in enumerate(members) if i in deflate_idx}
    d = parse_zip(encode_zip(members, deflate=deflate))
    assert d["members"] == members
    assert d["n_deflated"] == len([m for m in members if m[0] in deflate])


@given(
    st.lists(
        st.fixed_dictionaries(
            {
                "i": st.integers(-(2 ** 62), 2 ** 62),
                "s": st.text(max_size=40),
                "o": st.one_of(st.none(), st.integers(-100, 100)),
            }
        ),
        max_size=25,
    ),
    st.sampled_from(["null", "deflate"]),
    st.integers(1, 7),
)
@settings(max_examples=60, deadline=None)
def test_avro_roundtrip_property(records, codec, per_block):
    """encode_avro → parse_avro is the identity for any record list
    under either codec and any block size, incl. nullable unions."""
    from dynamodb_to_datalake_project_spark.llm.avrofile import (
        encode_avro,
        parse_avro,
    )

    schema = {
        "type": "record", "name": "r",
        "fields": [
            {"name": "i", "type": "long"},
            {"name": "s", "type": "string"},
            {"name": "o", "type": ["null", "long"]},
        ],
    }
    z = encode_avro(records, schema, codec=codec,
                    records_per_block=per_block)
    d = parse_avro(z)
    assert d["records"] == records
    assert d["n_blocks"] == -(-len(records) // per_block)


@given(st.lists(st.binary(max_size=300), max_size=10))
@settings(max_examples=60, deadline=None)
def test_tfrecord_roundtrip_property(payloads):
    """TFRecord framing is the identity for any payload list, and any
    single-bit corruption of a payload byte is caught by the masked
    CRC32C."""
    from dynamodb_to_datalake_project_spark.llm.tfrecord import (
        encode_tfrecord,
        parse_tfrecord,
    )

    shard = encode_tfrecord(payloads)
    assert parse_tfrecord(shard) == payloads
    if payloads and payloads[0]:
        bad = bytearray(shard)
        bad[12] ^= 0x01  # first byte of the first payload
        import pytest as _pt

        with _pt.raises(ValueError):
            parse_tfrecord(bytes(bad))


@given(
    st.dictionaries(
        st.from_regex(r"[a-z][a-z0-9_.]{0,15}", fullmatch=True),
        st.one_of(
            st.binary(max_size=50),
            st.lists(st.integers(-(2 ** 62), 2 ** 62), max_size=8),
        ),
        max_size=5,
    )
)
@settings(max_examples=60, deadline=None)
def test_tf_example_roundtrip_property(features):
    """tf.Example encode → decode is the identity over bytes and
    int64-list features (floats roundtrip via f32 and are tested
    separately with exact halves)."""
    from dynamodb_to_datalake_project_spark.llm.tfrecord import (
        encode_tf_example,
        parse_tf_example,
    )

    got = parse_tf_example(encode_tf_example(features))
    assert got == features


@given(st.binary(max_size=2000))
@settings(max_examples=100, deadline=None)
def test_snappy_never_misdecodes(buf):
    """Arbitrary bytes either decode to SOMETHING consistent with the
    declared length or raise ValueError — never crash, never return a
    wrong-length buffer (the quarantine contract)."""
    from dynamodb_to_datalake_project_spark.llm.parquetmeta import (
        snappy_decompress,
    )

    try:
        out = snappy_decompress(buf)
    except ValueError:
        return
    # if it decoded, the length invariant held by construction; check
    # determinism too
    assert snappy_decompress(buf) == out


@settings(
    max_examples=40, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        st.tuples(st.sampled_from(["split", "merge"]), st.integers(0, 10**9)),
        max_size=12,
    ),
    n_shards=st.integers(1, 5),
    keys=st.lists(st.text(min_size=1, max_size=8), min_size=1, max_size=20),
)
def test_kinesis_reshard_registry_invariants(tmp_path_factory, ops, n_shards, keys):
    """Under ANY sequence of splits and merges the registry must keep
    the Kinesis contract: OPEN shards' hash ranges exactly partition
    [0, 2^128) (every key routes to exactly one open shard), closed
    shards carry a recorded final end, children's ranges reconstruct
    their parents', and routing never lands on a closed shard."""
    from dynamodb_to_datalake_project_spark import kinesismock as km

    root = str(tmp_path_factory.mktemp("reshard") / "stream")
    s = km.MockKinesisStream(root, n_shards=n_shards)

    for kind, pick in ops:
        reg = s.registry["shards"]
        open_ids = sorted(
            sid for sid, info in reg.items() if info["status"] == "OPEN"
        )
        if kind == "split":
            sid = open_ids[pick % len(open_ids)]
            lo, hi = reg[sid]["range"]
            if hi - lo < 2:
                continue  # unsplittable sliver
            s.split_shard(sid)
        else:
            # merge needs two ADJACENT open shards
            by_lo = sorted(open_ids, key=lambda x: reg[x]["range"][0])
            adj = [
                (a, b)
                for a, b in zip(by_lo, by_lo[1:])
                if reg[a]["range"][1] == reg[b]["range"][0]
            ]
            if not adj:
                continue
            a, b = adj[pick % len(adj)]
            s.merge_shards(a, b)

    reg = s.registry["shards"]
    open_ranges = sorted(
        info["range"] for info in reg.values() if info["status"] == "OPEN"
    )
    # exact partition of the hash space: contiguous, gapless, total
    assert open_ranges[0][0] == 0
    assert open_ranges[-1][1] == km._HASH_SPACE
    for (l0, h0), (l1, _h1) in zip(open_ranges, open_ranges[1:]):
        assert h0 == l1, "gap or overlap between open shards"
    # closed shards recorded their final end; children name real parents
    for sid, info in reg.items():
        if info["status"] == "CLOSED":
            assert info["final_seq_end"] is not None
        for p in info["parents"]:
            assert p in reg and reg[p]["status"] == "CLOSED"
    # routing totality: every key lands on exactly one OPEN shard
    for k in keys:
        sid = s.route(k)
        info = reg[sid]
        assert info["status"] == "OPEN"
        h = km.key_hash(k)
        assert info["range"][0] <= h < info["range"][1]
    # registry reload from disk agrees (persistence round-trip)
    reloaded = km._load_registry(root, n_shards)["shards"]
    assert reloaded == reg


@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["append", "overwrite"]),
            st.integers(0, 4),   # partition lo
            st.integers(1, 3),   # partition span
            st.integers(1, 40),  # rows per partition
        ),
        min_size=1,
        max_size=4,
    )
)
def test_iceberg_random_commit_sequences_resolve_exactly(
    spark, tmp_path_factory, ops
):
    """Under ANY append/overwrite sequence the metadata chain must
    resolve (with every redundant count cross-checked) to exactly
    the Python-computed table state: overwrites replace partitions
    wholesale, appends accumulate, per-partition census matches, and
    the live Spark read agrees row-for-row."""
    from pyspark.sql import functions as F

    from dynamodb_to_datalake_project_spark import icebergtable as it
    from dynamodb_to_datalake_project_spark.llm.tablemeta import (
        resolve_iceberg_snapshot,
    )

    t = str(tmp_path_factory.mktemp("iceprop") / "tbl")
    expected: "dict[str, int]" = {}  # partition -> rows
    uid = 0
    for kind, lo, span, per in ops:
        parts = [str(p) for p in range(lo, lo + span)]
        rows = []
        for p in parts:
            for _ in range(per):
                rows.append((uid, p))
                uid += 1
        df = spark.createDataFrame(rows, "id long, day string")
        import os as _os

        if kind == "append" or not _os.path.isdir(t):
            it.append(df, t, "day")
            for p in parts:
                expected[p] = expected.get(p, 0) + per
        else:
            it.overwrite_partitions(df, t, "day")
            for p in parts:
                expected[p] = per

    res = resolve_iceberg_snapshot(it.metadata_text(t), it.storage_files(t))
    assert res["live_records"] == sum(expected.values())
    assert res["n_partitions"] == len(expected)
    assert it.partition_census(t, "day") == expected
    actual = {
        r["day"]: r["cnt"]
        for r in it.read_table_df(spark, t)
        .groupBy("day")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert actual == expected


@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
@given(
    batches=st.lists(
        st.lists(
            st.tuples(
                st.integers(0, 15),  # key
                st.integers(0, 9),   # precombine tick
                st.integers(0, 2),   # partition
            ),
            min_size=1,
            max_size=10,
        ),
        min_size=1,
        max_size=4,
    )
)
def test_hudi_random_upserts_equal_latest_wins(
    spark, tmp_path_factory, batches
):
    """Under ANY upsert batch sequence the Hudi table must equal the
    Python-computed latest-wins state (later batches beat earlier on
    precombine ties — the upsert-overwrites-on-equal rule), and the
    timeline's live-record census must match."""
    from dynamodb_to_datalake_project_spark import huditable as ht

    t = str(tmp_path_factory.mktemp("hudiprop") / "tbl")
    expected: "dict[str, tuple]" = {}  # key -> (pc, note, day)
    for bi, batch in enumerate(batches):
        # in-batch: keep the max-precombine row per key (ties by note
        # desc — mirror the engine's content-hash determinism by
        # making in-batch ties content-identical)
        rows = {}
        for k, pc, pt in batch:
            key = f"k{k}"
            note = f"b{bi}p{pc}"
            cur = rows.get(key)
            if cur is None or (pc, note) >= (cur[1], cur[2]):
                rows[key] = (key, pc, note, f"d{pt}")
        df = spark.createDataFrame(
            [
                (k, f"2023-01-01T00:0{pc}:00", note, day)
                for (k, pc, note, day) in rows.values()
            ],
            "id string, update_at string, note string, day string",
        )
        ht.upsert(df, t, "id", "update_at", "day", n_file_groups=2)
        for k, pc, note, day in rows.values():
            cur = expected.get(k)
            # NOTE: Hudi partitions by day; the engine treats the
            # partition column as immutable per key only if batches
            # agree — latest-wins applies per (key) GLOBALLY only
            # when the partition matches; a moved key lives in both
            # partitions' groups but merge is per-group, so keep the
            # expectation per (key, day) like the engine does.
            kd = (k, day)
            cur = expected.get(kd)
            if cur is None or pc >= cur[0]:
                expected[kd] = (pc, note)

    got = {
        (r.id, r.day): (r.note,)
        for r in ht.read_table_df(spark, t).collect()
    }
    assert set(got) == set(expected)
    for kd, (pc, note) in expected.items():
        assert got[kd] == (note,), (kd, got[kd], note)
    assert ht.table_state(t)["live_records"] == len(expected)
