"""Null- and edge-input robustness for the curation operators.

The fixtures contain no NULLs, so latent null bugs don't surface in the
oracle gate (cf. the null-transition SCD2 fix in merge.py and the
null-item Misra-Gries fix in llm/sketch.py — both found by review, not
by tests). These tests run the core operators over corpora WITH null /
empty / whitespace-only content and pin the intended contract:

- no operator silently LOSES a non-null row because a null appeared
  elsewhere in the corpus;
- null text behaves like empty text in hash/shingle space (Spark's
  split(NULL) → NULL → empty token set) or is explicitly dropped by a
  documented filter — never propagated into a crash or a NULL key that
  collides across distinct docs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dynamodb_to_datalake_project_spark.llm import dedup as ldedup
from dynamodb_to_datalake_project_spark.llm import text as ltext
from dynamodb_to_datalake_project_spark.sampling import epoch_shuffle


def _corpus_with_nulls(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, None),
        (4, ""),
        (5, "   "),
        (6, "solo"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_nulls_dont_collide_with_empties(spark):
    """NULL text and empty text must not merge distinct docs into one
    survivor group by accident: md5(NULL) is NULL (its own group),
    md5('') is a real hash. Whitespace-only text is its own content."""
    out = {
        r.text_hash: (r.keep_id, r.n_copies)
        for r in ldedup.exact_dedup(
            _corpus_with_nulls(spark), "doc_id", "text"
        ).collect()
    }
    # every doc accounted for exactly once
    assert sum(n for _, n in out.values()) == 6
    # the null-text doc groups alone under the NULL hash
    assert out[None] == (3, 1)


def test_shingle_pipeline_survives_null_and_empty(spark):
    """Shingle → minhash → verify must neither crash nor emit pairs
    involving null/empty docs against real content; the planted
    near-dup pair must still be found."""
    shingled = ldedup._shingle_sets(_corpus_with_nulls(spark))
    assert shingled.count() == 6  # nothing silently dropped
    pairs = ldedup.minhash_lsh_pairs(shingled, 64, 4, threshold=0.5).collect()
    got = {(r.a_id, r.b_id) for r in pairs}
    assert (1, 2) in got
    # degenerate docs (null/empty/whitespace all shingle to [""])
    # may match EACH OTHER but never real content
    for a, b in got:
        assert not ({a, b} & {3, 4, 5} and {a, b} & {1, 2, 6}), (a, b)


def test_simhash_pairs_null_and_empty(spark):
    shingled = ldedup._shingle_sets(_corpus_with_nulls(spark))
    pairs = ldedup.simhash_pairs(
        shingled, bits=32, max_hamming=3, token_hash=ldedup.md5_hash60,
        max_bucket=1 << 30,
    ).collect()
    got = {(r.a_id, r.b_id) for r in pairs}
    # 3/4/5 all hash the single empty shingle -> identical signatures
    assert (3, 4) in got and (3, 5) in got and (4, 5) in got
    for a, b in got:
        assert not ({a, b} & {3, 4, 5} and {a, b} & {1, 2, 6}), (a, b)


def test_text_stats_null_rows_not_dropped(spark):
    out = ltext.add_text_stats(_corpus_with_nulls(spark))
    assert out.count() == 6


def test_segment_dedup_null_text_contract(spark):
    """segment_dedup documents a `size(toks) >= 1` filter: null/empty
    docs are EXPLICITLY excluded (not silently mangled); all real docs
    survive with correct segment counts."""
    out = {r.doc_id: r for r in ldedup.segment_dedup(
        _corpus_with_nulls(spark), seg_tokens=3
    ).collect()}
    assert set(out) == {1, 2, 6}
    assert out[1].n_segs == 3  # 9 tokens / 3
    assert out[6].n_segs == 1


def test_epoch_shuffle_null_id_isolated(spark):
    """A null id gets a deterministic shard (md5 key is NULL -> shard
    NULL) rather than corrupting other rows' positions."""
    df = spark.createDataFrame(
        [(1,), (2,), (None,)], "doc_id long"
    )
    out = epoch_shuffle(df, "doc_id", "s", n_shards=4).collect()
    assert len(out) == 3
    non_null = [r for r in out if r.doc_id is not None]
    assert all(r.shard_id is not None and r.shard_pos >= 1 for r in non_null)


def test_bmp_roundtrip_stats_null_n_chars(spark):
    """A NULL n_chars document still produces an image row (the
    smallest 7x1 grid — same contract as the WAV path's empty
    payload), never a crash or a dropped row."""
    from dynamodb_to_datalake_project_spark.llm.multimodal import bmp_roundtrip_stats

    docs = spark.createDataFrame(
        [(1, None), (2, 0), (3, 200), (4, -8)], "doc_id long, n_chars long"
    )
    rows = {r.doc_id: r for r in bmp_roundtrip_stats(docs).collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert rows[1].height == 1 and rows[1].n_pixels == 7
    assert rows[2].height == 1
    assert rows[3].height == 126 // 7 + 1  # capped at max_chars=126
    assert rows[4].height == 1  # negative (corrupt) clamps, not crashes
    for r in rows.values():
        assert r.n_payload_bytes == 54 + 24 * r.height
        assert r.n_resized_bytes == 78


def test_source_overlap_matrix_single_source_empty(spark):
    """One source means no pairs: the matrix must be EMPTY, not a
    degenerate self-pair or a crash in the uncapped bucket walk."""
    from dynamodb_to_datalake_project_spark.llm.decontam import source_overlap_matrix

    docs = spark.createDataFrame(
        [(1, "a b c d e f g", "only"), (2, "a b c d e f h", "only")],
        "doc_id long, text string, source string",
    )
    assert source_overlap_matrix(docs).count() == 0
    # two sources sharing grams -> exactly one (a, b) row
    docs2 = spark.createDataFrame(
        [(1, "a b c d e f g", "s1"), (2, "a b c d e f g", "s2")],
        "doc_id long, text string, source string",
    )
    out = source_overlap_matrix(docs2).collect()
    assert len(out) == 1 and (out[0].src_a, out[0].src_b) == ("s1", "s2")
    assert out[0].containment == 1.0


def test_bpe_train_empty_and_tiny_corpus(spark, monkeypatch):
    """An empty corpus trains zero merges (empty result frame with the
    right schema); a corpus whose best pair is below min_count stops
    early — on BOTH trainer paths."""
    from dynamodb_to_datalake_project_spark import local
    from dynamodb_to_datalake_project_spark.llm import bpe

    empty = spark.createDataFrame([], "doc_id long, text string")
    tiny = spark.createDataFrame([(1, "ab")], "doc_id long, text string")
    for driver_path in (True, False):
        if not driver_path:  # every bounded collect refused
            monkeypatch.setattr(local, "collect_bounded", lambda df, max_rows: None)
        out = bpe.train_bpe_merges(empty, n_merges=4)
        assert out.columns == ["rank", "left", "right", "pair_count"]
        assert out.count() == 0
        got = bpe.train_bpe_merges(tiny, n_merges=4, min_count=2).collect()
        assert got == []  # best pair count 1 < min_count
