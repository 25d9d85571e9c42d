"""Invariant tests for the LM-scoring module (llm/lm.py), the BPE
encode path (llm/bpe.py), and the salted two-phase top-k — properties
the DuckDB oracle gate can't express (cross-path equality, separable
recovery)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_lm_perplexity_invariants(spark):
    from dynamodb_to_datalake_project_spark.lake import load_table
    from dynamodb_to_datalake_project_spark.llm.lm import lm_score_docs
    from dynamodb_to_datalake_project_spark.llm.text import tokens

    docs = load_table(spark, SF_DIR, "documents")
    out = lm_score_docs(docs)
    expected = docs.select(
        "doc_id", (F.size(tokens(F.col("text"))) - 1).cast("long").alias("want")
    ).filter(F.col("want") >= 1)
    # every >=2-token doc is scored, n_bigrams = n_tokens - 1 (bigram
    # multiplicities sum back to the adjacent-pair count), nll > 0
    # (every smoothed probability is < 1)
    joined = out.join(expected, "doc_id", "full").select(
        "doc_id", "n_bigrams", "want", "avg_nll"
    )
    bad = joined.filter(
        F.col("n_bigrams").isNull()
        | F.col("want").isNull()
        | (F.col("n_bigrams") != F.col("want"))
        | (F.col("avg_nll") <= 0)
    )
    assert bad.count() == 0


def test_lm_rare_text_scores_higher(spark):
    """A doc of corpus-frequent bigrams must be less surprising than a
    doc of bigrams that occur nowhere else."""
    from dynamodb_to_datalake_project_spark.llm.lm import lm_score_docs

    rows = [(i, "the cat sat on the mat") for i in range(20)]
    rows.append((100, "zyx qwv jkl pqr zyx"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.avg_nll for r in lm_score_docs(docs).collect()}
    assert got[100] > got[0]


def test_nb_recovers_separable_labels(spark):
    """On a corpus whose classes share no vocabulary, the NB classifier
    must recover its own weak labels exactly."""
    from dynamodb_to_datalake_project_spark.llm.lm import nb_train_score

    rows = [(i, "alpha beta gamma alpha", "en") for i in range(10)]
    rows += [(100 + i, "uno dos tres uno", "es") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = nb_train_score(docs, F.col("lang") == "en").collect()
    for r in out:
        assert r.pred_pos == (r.doc_id < 100), r
        assert (r.nb_logodds > 0) == r.pred_pos


def test_salted_topk_equals_plain_topk(spark):
    from dynamodb_to_datalake_project_spark.dedup import (
        salted_top_k_per_key,
        top_k_per_key,
    )
    from dynamodb_to_datalake_project_spark.lake import load_table

    ev = load_table(spark, SF_DIR, "events")
    keys, order = ["event_type"], [F.col("value").desc(), F.col("event_id").asc()]
    plain = top_k_per_key(ev, keys, order, k=7)
    salted = salted_top_k_per_key(ev, keys, order, k=7, n_salts=5)
    cols = ["event_type", "event_id", "rnk"]
    assert sorted(map(tuple, plain.select(*cols).collect())) == sorted(
        map(tuple, salted.select(*cols).collect())
    )


def test_bpe_encode_word_merges_in_rank_order(spark):
    """'master' with merges (a,s)->(as,t) must produce m|as|t|e|r via
    rank-order application; skipping rank order would miss 'ast'."""
    from dynamodb_to_datalake_project_spark.llm.bpe import encode_word_syms

    df = spark.createDataFrame([("master",)], ["w"])
    out = df.select(
        encode_word_syms(F.col("w"), [("a", "s"), ("as", "t")]).alias("syms")
    ).collect()[0].syms
    assert out == ["m", "ast", "e", "r"]


def test_cluster_balanced_sample_quota(spark):
    from dynamodb_to_datalake_project_spark.catalog import QUERIES, load_all

    load_all()
    out = QUERIES["cluster_balanced_sample"](spark, SF_DIR).collect()
    per = {}
    for r in out:
        per.setdefault(r.centroid_id, []).append(r.rnk)
    for cid, rnks in per.items():
        assert len(rnks) <= 20
        assert sorted(rnks) == list(range(1, len(rnks) + 1)), cid
