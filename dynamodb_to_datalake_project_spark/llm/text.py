"""Text analysis over document corpora: token stats, quality signals,
language-ID heuristic, fingerprinting.

All pure column expressions (split/filter/transform/regexp/md5) —
JVM-side, whole-stage codegen, linear scans with no shuffle except the
final aggregations. On 100 TB of documents these run at parquet-scan
speed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dynamodb_to_datalake_project_spark.catalog import query
from dynamodb_to_datalake_project_spark.lake import load_table
from dynamodb_to_datalake_project_spark.rowmap import map_rows

#: tiny deterministic stopword list used by quality + lang-id signals
STOPWORDS = ("the", "a", "of", "and", "to", "in")


def tokens(text: Column) -> Column:
    """Whitespace tokens with empties dropped (trailing-space safe)."""
    return F.filter(F.split(text, " "), lambda x: x != "")


def word_tokens(text: Column) -> Column:
    """\\w+ regex tokens — the BPE-ish word/punct split."""
    return F.regexp_extract_all(text, F.lit(r"\w+"), 0)


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct n-word shingles from a token-array column.

    PERF: pass a *materialized column attribute*, not the split()
    expression — projection collapse inlines an expression argument into
    every element_at() call here (3n per shingle), turning one
    tokenization per row into hundreds. See `llm.dedup._shingle_sets`
    for the exchange-barrier pattern that materializes it."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
    )
    return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(
        F.array(F.concat_ws(" ", toks))
    )


def shingle_set(text: Column, n: int = 3) -> Column:
    """Distinct n-word shingles of a text column. The unit for near-dup
    Jaccard/MinHash: unigram sets saturate on small vocabularies,
    shingles don't. (For hot paths prefer materializing `tokens()`
    first — see `shingles_from_tokens`.)"""
    return shingles_from_tokens(tokens(text), n)


def stopword_count(toks: Column, stopwords=STOPWORDS) -> Column:
    return F.size(F.filter(toks, lambda x: x.isin(*stopwords))).cast("long")


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 over whitespace-collapsed, lowercased,
    trimmed text — stable under formatting-only edits."""
    return F.md5(F.trim(F.regexp_replace(F.lower(text), r"\s+", " ")))


def add_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the standard per-document quality/statistics columns."""
    t = tokens(F.col(text_col))
    n_tok = F.size(t).cast("long")
    return (
        df.withColumn("n_tokens", n_tok)
        .withColumn("n_uniq_tokens", F.size(F.array_distinct(t)).cast("long"))
        .withColumn(
            "ttr", F.size(F.array_distinct(t)) / F.greatest(F.size(t), F.lit(1))
        )
        .withColumn("n_stopwords", stopword_count(t))
        .withColumn(
            "stopword_ratio", stopword_count(t) / F.greatest(n_tok, F.lit(1))
        )
        .withColumn("fingerprint", fingerprint(F.col(text_col)))
    )


@query(
    "text_stats",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang, n_chars,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    )
    SELECT doc_id, lang, n_chars,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq_tokens,
           len(list_distinct(toks)) * 1.0 / greatest(len(toks), 1) AS ttr,
           CAST(len(list_filter(toks,
                x -> x IN ('the','a','of','and','to','in'))) AS BIGINT) AS n_stopwords,
           len(list_filter(toks,
                x -> x IN ('the','a','of','and','to','in'))) * 1.0
                 / greatest(len(toks), 1) AS stopword_ratio
    FROM d
    """,
)
def q_text_stats(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars", "text")
    return add_text_stats(docs).drop("text", "fingerprint")


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
           CAST(len(regexp_extract_all(text, '\\w+')) AS BIGINT) AS n_word_tokens
    FROM documents
    """,
)
def q_text_fingerprint(spark, sf_dir):
    """Fingerprint (rolling-hash stand-in: md5 over canonical form) +
    regex word-token count (the BPE-ish tokenizer count)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        fingerprint(F.col("text")).alias("fingerprint"),
        F.size(word_tokens(F.col("text"))).cast("long").alias("n_word_tokens"),
    )


#: per-language marker-word profiles for the lang-id scorer. Real
#: systems use char-n-gram profiles; the scoring machinery (per-profile
#: hit counts → deterministic argmax) is identical.
LANG_PROFILES = {
    "en": ("the", "and", "of", "to", "in", "is"),
    "de": ("der", "die", "und", "das", "ist", "nicht"),
    "es": ("el", "los", "que", "y", "una", "por"),
    "fr": ("le", "les", "est", "dans", "pour", "avec"),
}


def lang_scores(toks: Column) -> dict[str, Column]:
    return {lang: stopword_count(toks, words) for lang, words in LANG_PROFILES.items()}


def predict_lang(toks: Column) -> Column:
    """Deterministic argmax over language profile scores (tie order =
    profile declaration order; all-zero → 'unk')."""
    s = lang_scores(toks)
    best = F.greatest(*s.values())
    out = F.lit("unk")
    for lang in reversed(list(LANG_PROFILES)):
        out = F.when((best > 0) & (s[lang] == best), F.lit(lang)).otherwise(out)
    return out


def _duck_score(words: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return (
        "len(list_filter(list_filter(string_split(text, ' '), x -> x <> ''),"
        f" x -> x IN ({lst})))"
    )


@query(
    "lang_id_heuristic",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang,
             {_duck_score(LANG_PROFILES["en"])} AS s_en,
             {_duck_score(LANG_PROFILES["de"])} AS s_de,
             {_duck_score(LANG_PROFILES["es"])} AS s_es,
             {_duck_score(LANG_PROFILES["fr"])} AS s_fr
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'unk'
                WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
                WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
                WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
                ELSE 'fr' END AS predicted_lang
    FROM d
    """,
)
def q_lang_id(spark, sf_dir):
    """Profile-based language ID: per-language marker-word hit counts,
    deterministic argmax. (The synthetic corpus is English-ish whatever
    its `lang` label says, so the graded property is the deterministic
    scoring machinery, not accuracy.)"""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "lang", predict_lang(tokens(F.col("text"))).alias("predicted_lang")
    )


@query(
    "text_quality_filter",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             len(list_distinct(toks)) * 1.0 / greatest(len(toks), 1) AS ttr,
             len(list_filter(toks, x -> x IN ('the','a','of','and','to','in')))
                 * 1.0 / greatest(len(toks), 1) AS stopword_ratio,
             CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
                 / greatest(len(toks), 1) AS avg_token_len
      FROM d
    )
    SELECT doc_id, n_tokens, ttr, stopword_ratio, avg_token_len,
           CASE WHEN n_tokens < 10 THEN 'too_short'
                WHEN ttr < 0.2 THEN 'repetitive'
                WHEN stopword_ratio > 0.6 THEN 'stopword_heavy'
                WHEN avg_token_len < 2.0 OR avg_token_len > 12.0 THEN 'token_shape'
                END AS drop_reason,
           CASE WHEN n_tokens >= 10 AND ttr >= 0.2 AND stopword_ratio <= 0.6
                     AND avg_token_len >= 2.0 AND avg_token_len <= 12.0
                THEN 1 ELSE 0 END AS keep
    FROM s
    """,
)
def q_text_quality_filter(spark, sf_dir):
    """Quality scoring + filter decision — the LLM-corpus gatekeeper:
    length / diversity (type-token ratio) / stopword density / token
    shape rules, each row tagged keep=1/0 with the first failing rule as
    drop_reason. All integer-exact or single-division arithmetic (see
    queries.py float policy)."""
    docs = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    n_tok = F.size(t).cast("long")
    denom = F.greatest(F.size(t), F.lit(1))
    ttr = F.size(F.array_distinct(t)) / denom
    stop_ratio = stopword_count(t) / denom
    avg_len = (
        F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x)).cast("double") / denom
    )
    s = docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        ttr.alias("ttr"),
        stop_ratio.alias("stopword_ratio"),
        avg_len.alias("avg_token_len"),
    )
    keep = (
        (F.col("n_tokens") >= 10)
        & (F.col("ttr") >= 0.2)
        & (F.col("stopword_ratio") <= 0.6)
        & (F.col("avg_token_len") >= 2.0)
        & (F.col("avg_token_len") <= 12.0)
    )
    drop_reason = (
        F.when(F.col("n_tokens") < 10, "too_short")
        .when(F.col("ttr") < 0.2, "repetitive")
        .when(F.col("stopword_ratio") > 0.6, "stopword_heavy")
        .when(
            (F.col("avg_token_len") < 2.0) | (F.col("avg_token_len") > 12.0),
            "token_shape",
        )
    )
    return s.select(
        "doc_id",
        "n_tokens",
        "ttr",
        "stopword_ratio",
        "avg_token_len",
        drop_reason.alias("drop_reason"),
        keep.cast("int").alias("keep"),
    )


@query(
    "text_tfidf_top_terms",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(list_distinct(
               list_filter(string_split(text, ' '), x -> x <> ''))) AS term,
             len(list_filter(string_split(text, ' '), x -> x <> '')) AS doc_len
      FROM documents
    ), tf AS (
      SELECT t.doc_id, t.term, t.doc_len,
             len(list_filter(list_filter(string_split(d.text, ' '), x -> x <> ''),
                 x -> x = t.term)) AS tf
      FROM tok t JOIN documents d ON t.doc_id = d.doc_id
    ), df AS (
      SELECT term, count(*) AS df FROM tok GROUP BY term
    ), n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             round((tf.tf * 1.0 / tf.doc_len)
                   * ln(n.n_docs * 1.0 / df.df), 6) AS tfidf
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    )
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, df, tfidf,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term ASC) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
)
def q_tfidf_top_terms(spark, sf_dir):
    """TF-IDF top-3 terms per document: explode distinct terms, count
    per-doc tf and corpus df (two bounded-key shuffles), score
    tf/doc_len * ln(N/df), rank per doc. All counts are exact integers;
    the single ln+multiply is rounded to 6 dp before ranking so both
    engines rank identically."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    toks = docs.select("doc_id", tokens(F.col("text")).alias("tk")).select(
        "doc_id",
        F.size("tk").alias("doc_len"),
        F.explode("tk").alias("term"),
    )
    tf = toks.groupBy("doc_id", "term", "doc_len").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(df, "term").select(
        "doc_id",
        "term",
        "tf",
        "df",
        F.round(
            (F.col("tf") / F.col("doc_len")) * F.log(F.lit(float(n_docs)) / F.col("df")),
            6,
        ).alias("tfidf"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf", "rnk")
    )


#: PII patterns: identical semantics in Java regex (Spark) and RE2
#: (DuckDB) — fixed classes and counted repetitions only.
PII_PATTERNS = {
    "phone": r"[0-9]{3}-[0-9]{3}-[0-9]{4}",
    "email": r"[A-Za-z0-9._]+@[A-Za-z0-9.]+\.[A-Za-z]{2,}",
}


def scrub_pii(text: Column) -> Column:
    """Replace phone/email matches with typed placeholders."""
    out = text
    for kind, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"<{kind.upper()}>")
    return out


@query(
    "pii_scrub",
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 10 = 0
                          THEN ' call 555-123-4567 or mail a.b@example.com'
                          ELSE '' END AS text
      FROM documents
    )
    SELECT doc_id,
           md5(regexp_replace(regexp_replace(text,
                 '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
                 '[A-Za-z0-9._]+@[A-Za-z0-9.]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'))
             AS scrubbed_md5,
           CAST(len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT)
             AS n_phones,
           CAST(len(regexp_extract_all(text,
                 '[A-Za-z0-9._]+@[A-Za-z0-9.]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails
    FROM aug
    """,
)
def q_pii_scrub(spark, sf_dir):
    """PII scrubbing — the redaction stage of a training-data pipeline:
    phone/email patterns replaced with typed placeholders, plus match
    counts. The fixture corpus carries no PII, so every 10th doc is
    deterministically augmented with synthetic contact info; the oracle
    applies the same augmentation and patterns."""
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 10 == 0,
                F.lit(" call 555-123-4567 or mail a.b@example.com"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return aug.select(
        "doc_id",
        F.md5(scrub_pii(F.col("text"))).alias("scrubbed_md5"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(PII_PATTERNS["phone"]), 0))
        .cast("long")
        .alias("n_phones"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(PII_PATTERNS["email"]), 0))
        .cast("long")
        .alias("n_emails"),
    )


@query(
    "corpus_vocab_stats",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
      FROM documents
    )
    SELECT count(*) AS total_tokens,
           CAST(count(DISTINCT term) AS BIGINT) AS vocab_size,
           count(DISTINCT doc_id) AS n_docs,
           CAST(count(*) AS DOUBLE) / count(DISTINCT doc_id) AS avg_doc_tokens
    FROM tok
    """,
)
def q_corpus_vocab_stats(spark, sf_dir):
    """Corpus-level vocabulary statistics (the Heaps'-law numbers a
    tokenizer-training run needs): total tokens, vocabulary size,
    average document length — one explode + one aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    return tok.agg(
        F.count("*").alias("total_tokens"),
        F.countDistinct("term").alias("vocab_size"),
        F.countDistinct("doc_id").alias("n_docs"),
        (F.count("*").cast("double") / F.countDistinct("doc_id")).alias("avg_doc_tokens"),
    )


@query(
    "doc_length_histogram",
    oracle="""
    SELECT bucket, bucket * 50 AS bucket_lo,
           count(*) AS n_docs,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars
    FROM (
      SELECT n_chars, CAST(floor(n_chars / 50) AS BIGINT) AS bucket
      FROM documents
    ) GROUP BY bucket
    """,
)
def q_doc_length_histogram(spark, sf_dir):
    """Document-length histogram (fixed 50-char buckets) — the
    length-distribution profile used to pick truncation/packing
    thresholds; integer arithmetic only."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.floor(F.col("n_chars") / 50).cast("long")
    return (
        docs.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .withColumn("bucket_lo", (F.col("bucket") * 50).cast("long"))
        .select("bucket", "bucket_lo", "n_docs", "min_chars", "max_chars")
    )


@query(
    "doc_packing",
    oracle="""
    WITH t AS (
      SELECT doc_id, doc_id % 16 AS shard,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
               AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, shard, n_tokens,
             sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_tokens
      FROM t
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(floor((cum_tokens - 1) / 512) AS BIGINT) AS pack_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM c GROUP BY shard, pack_id
    """,
)
def q_doc_packing(spark, sf_dir):
    """Sequence packing, shard-local: documents are deterministically
    sharded (doc_id % 16) and packed into fixed 512-token training
    packs by running token count WITHIN each shard — documents may
    straddle pack boundaries, as training packing allows. Pack ids are
    (shard, pack_id) pairs, which is what training-data layouts use
    anyway (packs never cross file shards).

    SCALE: the window is partitioned by shard, so packing is
    embarrassingly parallel — 16 shards here, thousands at 100 TB
    (shard count is a constant; any deterministic hash of doc_id
    works). No global order, no single sequential task."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        (F.col("doc_id") % 16).cast("long").alias("shard"),
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return (
        c.withColumn("pack_id", F.floor((F.col("cum_tokens") - 1) / 512).cast("long"))
        .groupBy("shard", "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@query(
    "dataset_split",
    oracle="""
    SELECT lang,
           CASE WHEN doc_id % 10 < 8 THEN 'train'
                WHEN doc_id % 10 = 8 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang, split
    """,
)
def q_dataset_split(spark, sf_dir):
    """Deterministic train/val/test split (80/10/10 by id residue) with
    per-language counts — the reproducible dataset-split assignment of
    a training pipeline (id-hash splits beat random sampling: stable
    under corpus growth, no RNG state)."""
    docs = load_table(spark, sf_dir, "documents")
    split = (
        F.when(F.col("doc_id") % 10 < 8, "train")
        .when(F.col("doc_id") % 10 == 8, "val")
        .otherwise("test")
    )
    return (
        docs.groupBy("lang", split.alias("split"))
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


@query(
    "dataset_split_no_leakage",
    oracle="""
    WITH g AS (
      SELECT doc_id, lang,
             min(doc_id) OVER (PARTITION BY md5(text)) AS group_rep
      FROM documents
    ), s AS (
      SELECT doc_id, lang, group_rep,
             CASE WHEN CAST('0x' || substr(md5(CAST(group_rep AS VARCHAR)), 1, 4)
                       AS INTEGER) % 10 < 8 THEN 'train'
                  WHEN CAST('0x' || substr(md5(CAST(group_rep AS VARCHAR)), 1, 4)
                       AS INTEGER) % 10 = 8 THEN 'val'
                  ELSE 'test' END AS split
      FROM g
    )
    SELECT lang, split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT group_rep) AS BIGINT) AS n_groups
    FROM s GROUP BY lang, split ORDER BY lang, split
    """,
)
def q_dataset_split_no_leakage(spark, sf_dir):
    """Leakage-safe train/val/test split: a naive per-document split
    (`dataset_split`) lets byte-identical duplicates straddle train
    and test — the held-out set then scores memorization. Here the
    split is decided per DUPLICATE GROUP (md5(text) equivalence, rep
    = min doc_id) by hashing the representative, so every copy of a
    text lands in the same split by construction. Reported per
    (lang, split): docs and distinct groups.

    Plan: one window over the md5(text) key (the same exchange
    exact-dedup uses) + one bounded-key agg; the split decision is a
    pure function of the group representative — deterministic,
    retry-stable, engine-portable. The near-dup upgrade routes pairs
    through `graph.connected_components` and hashes the component id
    instead — same shape, CC cost on top."""
    from pyspark.sql import Window

    from dynamodb_to_datalake_project_spark.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    g = docs.select(
        "doc_id",
        "lang",
        F.min("doc_id").over(Window.partitionBy(F.md5("text"))).alias("group_rep"),
    )
    bucket = hash_bucket("group_rep", 10)
    split = (
        F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test")
    )
    return (
        g.withColumn("split", split)
        .groupBy("lang", "split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("group_rep").cast("long").alias("n_groups"),
        )
        .orderBy("lang", "split")
    )


@query(
    "bigram_top20",
    oracle="""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
      FROM documents
    ), g AS (
      SELECT unnest(list_transform(range(1, len(tk)),
               i -> tk[i] || ' ' || tk[i+1])) AS bigram
      FROM t WHERE len(tk) >= 2
    )
    SELECT bigram, count(*) AS n
    FROM g GROUP BY bigram
    ORDER BY n DESC, bigram ASC LIMIT 20
    """,
)
def q_bigram_top20(spark, sf_dir):
    """Corpus-level top bigrams (language-model co-occurrence stats):
    adjacent token pairs (NON-distinct, unlike dedup shingles) counted
    across the corpus, global top-20 with deterministic tiebreak."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(tokens(F.col("text")).alias("tk")).filter(F.size("tk") >= 2)
    grams = t.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("tk") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("tk", i), F.element_at("tk", i + 1)
                ),
            )
        ).alias("bigram")
    )
    return (
        grams.groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(20)
    )


@query(
    "pmi_top_bigrams",
    oracle="""
    WITH tk AS (
      SELECT list_filter(string_split(text, ' '), x -> x <> '') AS tk
      FROM documents
    ), uni AS (
      SELECT unnest(tk) AS w FROM tk
    ), ucnt AS (
      SELECT w, count(*) AS c FROM uni GROUP BY w
    ), bi AS (
      SELECT unnest(list_transform(range(1, len(tk)),
               i -> tk[i] || ' ' || tk[i+1])) AS bigram
      FROM tk WHERE len(tk) >= 2
    ), bcnt AS (
      SELECT bigram, count(*) AS c_xy FROM bi GROUP BY bigram
    )
    SELECT b.bigram, b.c_xy, x.c AS c_x, y.c AS c_y
    FROM bcnt b
    JOIN ucnt x ON x.w = string_split(b.bigram, ' ')[1]
    JOIN ucnt y ON y.w = string_split(b.bigram, ' ')[2]
    WHERE b.c_xy >= 5
    ORDER BY CAST(b.c_xy AS DOUBLE) / (CAST(x.c AS DOUBLE) * CAST(y.c AS DOUBLE))
             DESC, b.bigram ASC
    LIMIT 20
    """,
)
def q_pmi_top_bigrams(spark, sf_dir):
    """Top bigrams by pointwise mutual information (min count 5) — the
    collocation detector behind tokenizer-merge and phrase-mining
    passes. PMI = log P(xy)/(P(x)P(y)); the corpus-size factors are
    constant across bigrams, so ranking uses the overflow-safe exact
    ratio c_xy/(c_x*c_y) in pure IEEE doubles (bit-identical in Spark
    and DuckDB — no libm log whose last bit could flip the cutoff
    ordering). Two bounded-key aggregations (unigrams, bigrams) + two
    small joins; emitted columns are exact counts only.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(tokens(F.col("text")).alias("tk"))
    uni = (
        t.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    bi = (
        t.filter(F.size("tk") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("tk") - 1),
                    lambda i: F.concat_ws(
                        " ", F.element_at("tk", i), F.element_at("tk", i + 1)
                    ),
                )
            ).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count("*").alias("c_xy"))
        .filter(F.col("c_xy") >= 5)
    )
    parts = F.split(F.col("bigram"), " ")
    scored = (
        bi.withColumn("__x", parts.getItem(0))
        .withColumn("__y", parts.getItem(1))
        .join(uni.select(F.col("w").alias("__x"), F.col("c").alias("c_x")), "__x")
        .join(uni.select(F.col("w").alias("__y"), F.col("c").alias("c_y")), "__y")
    )
    score = F.col("c_xy").cast("double") / (
        F.col("c_x").cast("double") * F.col("c_y").cast("double")
    )
    return (
        scored.select("bigram", "c_xy", "c_x", "c_y")
        .orderBy(score.desc(), F.col("bigram").asc())
        .limit(20)
    )


@query(
    "doc_repetition_stats",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS tk
      FROM documents
    ), g AS (
      SELECT doc_id, tk,
             CASE WHEN len(tk) >= 2
                  THEN list_transform(range(1, len(tk)),
                       i -> tk[i] || ' ' || tk[i+1])
                  ELSE [] END AS bg
      FROM t
    )
    SELECT doc_id,
           len(tk) AS n_tokens,
           len(list_distinct(tk)) AS n_distinct,
           list_max(list_transform(list_distinct(tk),
             d -> len(list_filter(tk, x -> x = d)))) AS top_token_n,
           len(bg) AS n_bigrams,
           len(list_distinct(bg)) AS n_distinct_bigrams,
           (CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) < 0.3
            OR CAST(list_max(list_transform(list_distinct(tk),
                 d -> len(list_filter(tk, x -> x = d)))) AS DOUBLE) / len(tk) > 0.2
           ) AS flagged
    FROM g WHERE len(tk) > 0
    """,
)
def q_doc_repetition_stats(spark, sf_dir):
    """Gopher-style repetition quality signals, computed entirely
    per-row (map-only, zero shuffle — each document's arrays never
    leave the row): distinct-token ratio, most-frequent-token count,
    duplicate-bigram count, and the boolean repetition flag
    (distinct ratio < 0.3 or top-token fraction > 0.2). The per-row
    top-token scan is O(distinct x tokens) on bounded-length docs —
    cheaper at 100 TB than any shuffle-based alternative. Emitted
    measures are exact integers; ratios appear only inside the
    boolean (single IEEE division, engine-identical)."""
    docs = load_table(spark, sf_dir, "documents")
    tk = tokens(F.col("text"))
    t = docs.select("doc_id", tk.alias("tk")).filter(F.size("tk") > 0)
    bg = F.when(
        F.size("tk") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("tk") - 1),
            lambda i: F.concat_ws(
                " ", F.element_at("tk", i), F.element_at("tk", i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    top_n = F.array_max(
        F.transform(
            F.array_distinct("tk"),
            lambda d: F.size(F.filter("tk", lambda x: x == d)),
        )
    )
    g = t.withColumn("bg", bg).withColumn("top_token_n", top_n)
    n_tok = F.size("tk").cast("long")
    n_dist = F.size(F.array_distinct("tk")).cast("long")
    flagged = (n_dist.cast("double") / n_tok < 0.3) | (
        F.col("top_token_n").cast("double") / n_tok > 0.2
    )
    return g.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_dist.alias("n_distinct"),
        F.col("top_token_n").cast("long").alias("top_token_n"),
        F.size("bg").cast("long").alias("n_bigrams"),
        F.size(F.array_distinct("bg")).cast("long").alias("n_distinct_bigrams"),
        flagged.alias("flagged"),
    )


@query(
    "doc_chunking",
    oracle="""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 1
    )
    SELECT doc_id,
           CAST(u.start // 48 AS BIGINT) AS chunk_idx,
           CAST(least(64, n - u.start) AS BIGINT) AS n_chunk_tokens,
           array_to_string(list_slice(toks, u.start + 1, least(u.start + 64, n)), ' ')
             AS chunk_text
    FROM s, LATERAL (SELECT unnest(range(0, n, 48)) AS start) u
    """,
)
def q_doc_chunking(spark, sf_dir):
    """RAG-style chunking: fixed 64-token windows with stride 48
    (16-token overlap so no boundary sentence is lost). Map-only —
    tokenize once, `posexplode` a stride sequence, `slice` each
    window out of the carried token array; zero shuffles at any
    corpus size, and output rows ∝ input tokens / stride so the
    explode can't amplify beyond ~n/48 rows per doc. The overlap is
    the retrieval-quality knob: wider overlap = more duplicate index
    entries downstream (dedup_* handles those)."""
    width, stride = 64, 48
    docs = load_table(spark, sf_dir, "documents")
    base = (
        docs.select("doc_id", tokens(F.col("text")).alias("toks"))
        .withColumn("n", F.size("toks"))
        .filter(F.col("n") >= 1)
    )
    exploded = base.select(
        "doc_id",
        "toks",
        "n",
        F.posexplode(F.sequence(F.lit(0), F.col("n") - 1, F.lit(stride))).alias(
            "chunk_idx", "start"
        ),
    )
    return exploded.select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.least(F.lit(width), F.col("n") - F.col("start"))
        .cast("bigint")
        .alias("n_chunk_tokens"),
        F.array_join(F.slice(F.col("toks"), F.col("start") + 1, F.lit(width)), " ").alias(
            "chunk_text"
        ),
    )


@query(
    "token_count_bpe",
    oracle="""
    WITH d AS (
      SELECT doc_id, regexp_extract_all(text, '\\w+') AS wt FROM documents
    )
    SELECT doc_id,
           CAST(len(wt) AS BIGINT) AS n_words,
           CAST(list_sum(list_transform(wt, x -> (length(x) + 3) // 4))
                AS BIGINT) AS n_bpe_est
    FROM d ORDER BY doc_id
    """,
)
def q_token_count_bpe(spark, sf_dir):
    """BPE-ish token-count estimator: \\w+ regex words, each word
    contributing ceil(len/4) subword units — the standard 'about 4
    chars per token' budget estimate used to size training corpora.
    Pure per-row integer expressions (regexp_extract_all + aggregate),
    map-only, zero shuffles; at 100 TB this runs at scan speed."""
    docs = load_table(spark, sf_dir, "documents")
    wt = word_tokens(F.col("text"))
    return (
        docs.select(
            "doc_id",
            F.size(wt).cast("long").alias("n_words"),
            F.aggregate(
                F.transform(wt, lambda x: F.floor((F.length(x) + 3) / 4)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("n_bpe_est"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_novelty_score",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
      FROM documents
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(tk) >= 3
                  THEN list_distinct(list_transform(range(1, len(tk) - 1),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
                  ELSE [array_to_string(tk, ' ')] END AS w
      FROM toks
    ), x AS (
      SELECT doc_id, unnest(w) AS s FROM sh
    ), df AS (
      SELECT s, count(*) AS df FROM x GROUP BY s
    )
    SELECT x.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(count(*) FILTER (WHERE df.df = 1) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS novelty
    FROM x JOIN df ON x.s = df.s
    GROUP BY x.doc_id ORDER BY x.doc_id
    """,
)
def q_text_novelty_score(spark, sf_dir):
    """Per-document n-gram novelty: the fraction of a doc's distinct
    3-word shingles that appear in NO other document (df = 1 — each
    doc contributes a shingle at most once, so corpus df counts come
    straight off the exploded frame). High-novelty docs are unique
    content; low-novelty docs are recombinations — a memorization-risk
    / templating signal for corpus curation. Plan: one explode, then
    df as a COUNT OVER (PARTITION BY shingle) window — one shuffle on
    the shingle key and NO join-back (a join would re-run the
    expensive shingle explode as its second input) — then one doc-key
    aggregate. Novelty = one division of two exact counts
    (bit-stable)."""
    from pyspark.sql import Window

    from dynamodb_to_datalake_project_spark.llm.dedup import _shingle_sets

    docs = load_table(spark, sf_dir, "documents")
    sh = _shingle_sets(docs.select("doc_id", "text"))
    x = sh.select("doc_id", F.explode("w").alias("s"))
    with_df = x.withColumn("df", F.count("*").over(Window.partitionBy("s")))
    return (
        with_df.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            (
                F.count(F.when(F.col("df") == 1, F.lit(1))).cast("double")
                / F.count("*").cast("double")
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


@query(
    "doc_rare_bigram_filter",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
      FROM documents
    ), b AS (
      SELECT doc_id, unnest(list_transform(range(1, len(tk)),
               i -> tk[i] || ' ' || tk[i+1])) AS bg
      FROM toks WHERE len(tk) >= 2
    ), c AS (
      SELECT doc_id, bg, count(*) OVER (PARTITION BY bg) AS cnt FROM b
    ), d AS (
      SELECT doc_id,
             count(*) AS n_bigrams,
             count(*) FILTER (WHERE cnt <= 2) AS n_rare,
             min(cnt) AS min_cnt
      FROM c GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(n_bigrams AS BIGINT) AS n_bigrams,
           CAST(n_rare AS BIGINT) AS n_rare,
           CAST(min_cnt AS BIGINT) AS min_cnt,
           CAST(n_rare * 1000 // n_bigrams AS BIGINT) AS rare_pm,
           n_rare * 1000 // n_bigrams < 300 AS keep
    FROM d ORDER BY doc_id
    """,
)
def q_doc_rare_bigram_filter(spark, sf_dir):
    """LM-plausibility quality gate (the perplexity-filter shape of
    CCNet-style pipelines, transcendental-free): score each document
    by how many of its token bigrams are RARE in the corpus-trained
    bigram table (count <= 2 across all occurrences). Gibberish, OCR
    noise, and shuffled text score high rare ratios; natural text
    reuses the corpus's frequent transitions. Keeping the score as an
    integer per-mille of exact counts (instead of avg log-prob) makes
    it bit-stable across engines — same decision boundary, no float
    accumulation.

    Plan (the text_novelty shape): one bigram explode, corpus counts
    as COUNT OVER (PARTITION BY bigram) — one shuffle on the bigram
    key, no join-back — then one doc-key aggregate. At 100 TB the
    occurrence shuffle is the cost; a two-pass variant (vocab-bounded
    count agg + broadcast of the frequent tail) trades a second scan
    for shuffle volume when the bigram vocabulary is small enough to
    broadcast."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens(F.col("text")).alias("tk")).filter(
        F.size("tk") >= 2
    )
    b = t.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("tk") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("tk", i), F.element_at("tk", i + 1)
                ),
            )
        ).alias("bg"),
    )
    c = b.withColumn("cnt", F.count("*").over(Window.partitionBy("bg")))
    d = c.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.count(F.when(F.col("cnt") <= 2, F.lit(1))).cast("long").alias("n_rare"),
        F.min("cnt").cast("long").alias("min_cnt"),
    )
    rare_pm = F.expr("n_rare * 1000 div n_bigrams")
    return d.select(
        "doc_id",
        "n_bigrams",
        "n_rare",
        "min_cnt",
        rare_pm.cast("long").alias("rare_pm"),
        (rare_pm < 300).alias("keep"),
    ).orderBy("doc_id")


@query(
    "text_bm25_topk",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             CAST(len(tk) AS DOUBLE) AS dl,
             CAST(len(list_filter(tk, x -> x = 'hash')) AS DOUBLE) AS tf1,
             CAST(len(list_filter(tk, x -> x = 'merge')) AS DOUBLE) AS tf2,
             CAST(len(list_filter(tk, x -> x = 'table')) AS DOUBLE) AS tf3
      FROM (SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS tk
            FROM documents)
    ), s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(dl AS BIGINT)) AS DOUBLE) AS sumdl,
             CAST(count(*) FILTER (WHERE tf1 > 0) AS DOUBLE) AS df1,
             CAST(count(*) FILTER (WHERE tf2 > 0) AS DOUBLE) AS df2,
             CAST(count(*) FILTER (WHERE tf3 > 0) AS DOUBLE) AS df3
      FROM t
    )
    SELECT doc_id,
           (n - df1 + 0.5) / (df1 + 0.5)
             * (tf1 * 2.2) / (tf1 + 1.2 * (0.25 + 0.75 * dl / (sumdl / n)))
           + (n - df2 + 0.5) / (df2 + 0.5)
             * (tf2 * 2.2) / (tf2 + 1.2 * (0.25 + 0.75 * dl / (sumdl / n)))
           + (n - df3 + 0.5) / (df3 + 0.5)
             * (tf3 * 2.2) / (tf3 + 1.2 * (0.25 + 0.75 * dl / (sumdl / n)))
             AS score
    FROM t, s
    ORDER BY score DESC, doc_id LIMIT 20
    """,
)
def q_text_bm25_topk(spark, sf_dir):
    """BM25 top-20 keyword retrieval (query: 'hash merge table'),
    k1=1.2, b=0.75 — the lexical-search side of a RAG data pipeline.

    Rational-idf variant: idf_t = (N - df_t + 0.5)/(df_t + 0.5)
    WITHOUT the usual log. Both engines then evaluate the identical
    IEEE +,-,*,/ sequence — bit-stable for the oracle hash — whereas
    ln() may differ in the last ulp between libm implementations.
    Per-term idf monotonicity (rarer => larger) is preserved.

    Plan: pass 1 aggregates corpus stats (N, total length, per-term
    document frequencies) into ONE row, broadcast; pass 2 scores each
    doc with per-row arithmetic and takes top-20 via
    TakeOrderedAndProject (no global sort). Two corpus scans total —
    the minimum for any corpus-normalized ranking at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    tk = tokens(F.col("text"))
    terms = ["hash", "merge", "table"]
    def tf(w: str) -> F.Column:
        # single-arg lambda: a two-arg lambda would be read by PySpark
        # as the (element, index) filter form
        return F.size(F.filter(tk, lambda x: x == w)).cast("double")

    t = docs.select(
        "doc_id",
        F.size(tk).cast("double").alias("dl"),
        *[tf(w).alias(f"tf{i+1}") for i, w in enumerate(terms)],
    )
    s = t.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(F.col("dl").cast("long")).cast("double").alias("sumdl"),
        *[
            F.count(F.when(F.col(f"tf{i+1}") > 0, F.lit(1)))
            .cast("double")
            .alias(f"df{i+1}")
            for i in range(len(terms))
        ],
    )
    norm = F.lit(1.2) * (
        F.lit(0.25) + F.lit(0.75) * F.col("dl") / (F.col("sumdl") / F.col("n"))
    )

    def term_score(i: int) -> F.Column:
        tf, dfc = F.col(f"tf{i}"), F.col(f"df{i}")
        idf = (F.col("n") - dfc + 0.5) / (dfc + 0.5)
        return idf * (tf * 2.2) / (tf + norm)

    score = term_score(1) + term_score(2) + term_score(3)
    return (
        t.join(F.broadcast(s))
        .select("doc_id", score.alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(20)
    )


@query(
    "doc_curriculum_buckets",
    oracle="""
    WITH b AS (
      SELECT lang, n_chars,
             ntile(10) OVER (PARTITION BY lang
                             ORDER BY n_chars, doc_id) AS bucket
      FROM documents
    )
    SELECT lang, CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM b GROUP BY lang, bucket ORDER BY lang, bucket
    """,
)
def q_doc_curriculum_buckets(spark, sf_dir):
    """Curriculum bucketing: decile buckets of document length within
    each language (short-to-long training schedules / length-balanced
    batch sampling). ntile ties break on doc_id so both engines assign
    identical buckets. One window exchange on lang, then a 10×langs-key
    aggregate."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    return (
        docs.withColumn("bucket", F.ntile(10).over(w).cast("long"))
        .groupBy("lang", "bucket")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
        .orderBy("lang", "bucket")
    )


def collapse_repeats(toks: Column, toks_attr: Column) -> Column:
    """Drop consecutive repeated tokens (keep the first of each run).

    `toks` and `toks_attr` must reference the SAME materialized array
    attribute: the filter lambda reads the previous element via
    element_at on `toks_attr`, so passing a raw split() expression
    would re-tokenize per element (see `shingles_from_tokens` PERF
    note)."""
    return F.filter(
        toks,
        lambda x, i: (i == F.lit(0)) | (x != F.element_at(toks_attr, i)),
    )


@query(
    "text_collapse_repeats",
    oracle="""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
      FROM documents
    ), c AS (
      SELECT doc_id, tk,
             list_filter(tk, (x, i) -> i = 1 OR x <> tk[i - 1]) AS kept
      FROM t
    )
    SELECT doc_id,
           CAST(len(tk) AS BIGINT) AS n_tokens,
           CAST(len(tk) - len(kept) AS BIGINT) AS n_collapsed,
           md5(array_to_string(kept, ' ')) AS collapsed_hash
    FROM c
    """,
)
def q_text_collapse_repeats(spark, sf_dir):
    """Intra-document repetition cleaning: collapse runs of consecutive
    identical tokens to a single occurrence (the 'remove duplicated
    lines/words' rule of Gopher/FineWeb-style quality pipelines; this
    corpus repeats at token granularity). Map-only — one tokenization
    behind an exchange barrier, one index-aware filter HOF, zero
    shuffles beyond the spread exchange; runs at scan speed on any
    corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    base = docs.select("doc_id", tokens(F.col("text")).alias("tk")).repartition(
        par, "doc_id"
    )
    kept = collapse_repeats(F.col("tk"), F.col("tk"))
    return base.select(
        "doc_id",
        F.size("tk").cast("long").alias("n_tokens"),
        (F.size("tk") - F.size(kept)).cast("long").alias("n_collapsed"),
        F.md5(F.array_join(kept, " ")).alias("collapsed_hash"),
    )


# ---------------------------------------------------------------------------
# Unicode repair (ftfy-style) — the encoding-hygiene stage every
# web-scraped corpus needs before tokenization: mojibake reversal
# (UTF-8 bytes mis-decoded as cp1252/latin-1, iterated to a fixpoint
# for double-encodes), NFC normalization, NBSP→space, and zero-width/
# BOM/control stripping. Pure per-row Python (codec tables), map-only
# Arrow work — scan speed at any corpus size.
# ---------------------------------------------------------------------------

#: characters removed outright by repair (zero-widths + BOM)
_ZERO_WIDTH = "​‌‍﻿"


def _fix_mojibake_once(text: str) -> "str | None":
    """One reversal step: if re-encoding the text via cp1252 (then
    latin-1) yields bytes that are VALID UTF-8, the text was UTF-8
    mis-decoded — return the correct decode. The UTF-8 validity check
    is the safety: genuinely-correct text ('é' = byte E9 under either
    codec) is never valid UTF-8, so it can't be 'fixed' into garbage.
    Returns None when no confident fix exists (including pure ASCII)."""
    if all(ord(c) < 128 for c in text):
        return None
    for enc in ("cp1252", "latin-1"):
        try:
            raw = text.encode(enc)
        except UnicodeEncodeError:
            continue
        try:
            dec = raw.decode("utf-8")
        except UnicodeDecodeError:
            continue
        if dec != text:
            return dec
    return None


def repair_unicode(text: str) -> dict:
    """Full repair to a WHOLE-PASS fixpoint: each pass runs mojibake
    reversal (double-encoded text needs two rounds), NFC
    normalization, NBSP → space, and removal of zero-width characters,
    the BOM, and C0/C1 controls other than \\n and \\t — and the pass
    REPEATS until nothing changes (≤8 passes; a property test found
    that a single ordered pass is not idempotent: a zero-width char
    spliced INSIDE a mojibake byte pair blocks the re-encode until the
    strip removes it, and a mojibake fix can itself decode to a C1
    control that the next strip must take). Returns the clean text
    plus per-fix counters summed across passes."""
    import unicodedata

    mojibake_rounds = nfc_fixed = nbsp_fixed = removed_chars = 0
    for _ in range(8):
        before = text
        for _ in range(3):
            fixed = _fix_mojibake_once(text)
            if fixed is None:
                break
            text = fixed
            mojibake_rounds += 1
        nfc = unicodedata.normalize("NFC", text)
        nfc_fixed += int(nfc != text)
        text = nfc
        nbsp_fixed += text.count("\xa0")
        text = text.replace("\xa0", " ")
        kept: "list[str]" = []
        for ch in text:
            if ch in _ZERO_WIDTH or (
                unicodedata.category(ch) == "Cc" and ch not in "\n\t"
            ):
                removed_chars += 1
            else:
                kept.append(ch)
        text = "".join(kept)
        if text == before:
            break
    return {
        "text": text,
        "mojibake_rounds": mojibake_rounds,
        "nfc_fixed": nfc_fixed,
        "nbsp_fixed": nbsp_fixed,
        "removed_chars": removed_chars,
    }


#: fixture accent words (NFC forms); index = doc_id % 6
_ACCENT_WORDS = ("café", "naïve", "señor", "über", "fiancée", "jalapeño")


def unicode_repair_stats(docs: DataFrame) -> DataFrame:
    """Synthesize a corrupted variant of each document's text — an
    accent word appended, then per doc_id%4: NFD decomposition, single
    mojibake, double mojibake, or zero-width/BOM/NBSP/control
    injection — run `repair_unicode`, and prove the repair recovers
    the clean NFC text exactly (md5). Arrow `map_rows`, map-only."""
    import hashlib
    import unicodedata

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("mojibake_rounds", T.LongType()),
            T.StructField("nfc_fixed", T.LongType()),
            T.StructField("nbsp_fixed", T.LongType()),
            T.StructField("removed_chars", T.LongType()),
            T.StructField("clean_chars", T.LongType()),
            T.StructField("clean_md5", T.StringType()),
        ]
    )

    def row(did, text):
        clean = text + " " + _ACCENT_WORDS[did % 6]
        case = did % 4
        if case == 0:
            corrupted = unicodedata.normalize("NFD", clean)
        elif case == 1:
            corrupted = clean.encode("utf-8").decode("latin-1")
        elif case == 2:
            corrupted = (
                clean.encode("utf-8")
                .decode("latin-1")
                .encode("utf-8")
                .decode("latin-1")
            )
        else:
            corrupted = (
                "﻿"
                + clean[0]
                + "​"
                + clean[1:].replace(" ", "\xa0", 1)
                + "\x07"
            )
        d = repair_unicode(corrupted)
        assert d["text"] == clean  # fixture invariant
        yield (
            did,
            d["mojibake_rounds"],
            d["nfc_fixed"],
            d["nbsp_fixed"],
            d["removed_chars"],
            len(d["text"]),
            hashlib.md5(d["text"].encode("utf-8")).hexdigest(),
        )

    return map_rows(docs.select("doc_id", "text"), row, schema, spread=True)


@query(
    "text_unicode_repair",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             text || ' ' ||
             (['café','naïve','señor','über','fiancée','jalapeño'])
               [(doc_id % 6) + 1] AS clean,
             doc_id % 4 AS c
      FROM documents
    )
    SELECT doc_id,
           CAST(CASE c WHEN 1 THEN 1 WHEN 2 THEN 2 ELSE 0 END AS BIGINT)
             AS mojibake_rounds,
           CAST(CASE WHEN c = 0 THEN 1 ELSE 0 END AS BIGINT) AS nfc_fixed,
           CAST(CASE WHEN c = 3 THEN 1 ELSE 0 END AS BIGINT) AS nbsp_fixed,
           CAST(CASE WHEN c = 3 THEN 3 ELSE 0 END AS BIGINT) AS removed_chars,
           CAST(length(clean) AS BIGINT) AS clean_chars,
           md5(clean) AS clean_md5
    FROM t
    """,
)
def q_text_unicode_repair(spark, sf_dir):
    """Encoding-hygiene repair over the documents table: each text is
    corrupted by formula (NFD decomposition / single mojibake / DOUBLE
    mojibake / zero-width+BOM+NBSP+control injection) and repaired;
    the DuckDB oracle pins the fix counters AND the repaired text via
    md5 against the clean NFC form it computes directly — so a hash
    match proves the mojibake fixpoint iteration, the UTF-8-validity
    safety check, NFC normalization, and the strip rules byte-for-
    byte. No false positives by construction: genuinely-correct
    non-ASCII text never re-encodes to valid UTF-8."""
    docs = load_table(spark, sf_dir, "documents")
    return unicode_repair_stats(docs)


# ---------------------------------------------------------------------------
# SFT dialogue validation — the schema gate for chat-format training
# data (OpenAI-style messages JSON): role vocabulary, system-first,
# strict user/assistant alternation, non-empty contents, per-role
# char budgets. Map-only Arrow work over a real JSON parse.
# ---------------------------------------------------------------------------


def parse_dialogue(raw: str) -> dict:
    """Parse + validate a chat-format training example: a JSON array
    of {role, content} messages — an optional leading system message,
    then STRICT user/assistant alternation starting with user, ending
    on assistant, every content a non-empty string. Violations raise
    ValueError (malformed SFT rows must quarantine, not train).
    Returns message/turn counts and per-role char totals."""
    import json

    try:
        msgs = json.loads(raw)
    except json.JSONDecodeError as exc:
        raise ValueError(f"dialogue: invalid JSON: {exc}")
    if not isinstance(msgs, list) or not msgs:
        raise ValueError("dialogue: expected a non-empty message array")
    chars = {"system": 0, "user": 0, "assistant": 0}
    roles: "list[str]" = []
    for m in msgs:
        if not isinstance(m, dict) or set(m) != {"role", "content"}:
            raise ValueError(f"dialogue: malformed message {m!r}")
        role, content = m["role"], m["content"]
        if role not in chars:
            raise ValueError(f"dialogue: unknown role {role!r}")
        if not isinstance(content, str) or not content:
            raise ValueError(f"dialogue: empty/non-string {role} content")
        roles.append(role)
        chars[role] += len(content)
    has_system = roles[0] == "system"
    turns = roles[1:] if has_system else roles
    if "system" in turns:
        raise ValueError("dialogue: system message not at the start")
    if not turns:
        raise ValueError("dialogue: no conversation turns")
    for i, r in enumerate(turns):
        want = "user" if i % 2 == 0 else "assistant"
        if r != want:
            raise ValueError(
                f"dialogue: turn {i} is {r!r}, expected {want!r} "
                "(strict alternation starting with user)"
            )
    if turns[-1] != "assistant":
        raise ValueError("dialogue: must end on an assistant turn")
    return {
        "n_messages": len(roles),
        "n_turns": len(turns) // 2,
        "has_system": int(has_system),
        "system_chars": chars["system"],
        "user_chars": chars["user"],
        "assistant_chars": chars["assistant"],
    }


_SYSTEM_PROMPT = "You are a helpful assistant."


def dialogue_stats(docs: DataFrame) -> DataFrame:
    """Synthesize a chat example per document — the REAL text
    equal-split across 2·(1 + doc_id%4) alternating user/assistant
    contents (concatenation reconstructs the text exactly), a
    constant system prompt on every 3rd doc — serialize through real
    JSON, validate + extract. Arrow `map_rows`, map-only."""
    import hashlib
    import json

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_messages", T.LongType()),
            T.StructField("n_turns", T.LongType()),
            T.StructField("has_system", T.LongType()),
            T.StructField("user_chars", T.LongType()),
            T.StructField("assistant_chars", T.LongType()),
            T.StructField("convo_md5", T.StringType()),
        ]
    )

    def row(did, text):
        n = 2 * (1 + did % 4)
        base, rem = divmod(len(text), n)
        msgs = []
        if did % 3 == 0:
            msgs.append({"role": "system", "content": _SYSTEM_PROMPT})
        at = 0
        for j in range(n):
            size = base + (1 if j < rem else 0)
            msgs.append(
                {
                    "role": "user" if j % 2 == 0 else "assistant",
                    "content": text[at : at + size],
                }
            )
            at += size
        d = parse_dialogue(json.dumps(msgs))
        convo = "".join(
            m["content"] for m in msgs if m["role"] != "system"
        )
        yield (
            did,
            d["n_messages"],
            d["n_turns"],
            d["has_system"],
            d["user_chars"],
            d["assistant_chars"],
            hashlib.md5(convo.encode("utf-8")).hexdigest(),
        )

    return map_rows(docs.select("doc_id", "text"), row, schema, spread=True)


@query(
    "sft_dialogue_stats",
    oracle="""
    WITH t AS (
      SELECT doc_id, text, length(text) AS L,
             2 * (1 + doc_id % 4) AS n,
             CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS sys
      FROM documents
    ), c AS (
      SELECT doc_id, n, u.j,
             (L // n) + CASE WHEN u.j < (L % n) THEN 1 ELSE 0 END AS clen
      FROM t, LATERAL (SELECT unnest(range(0, n)) AS j) u
    )
    SELECT t.doc_id,
           CAST(t.n + t.sys AS BIGINT) AS n_messages,
           CAST(t.n // 2 AS BIGINT) AS n_turns,
           CAST(t.sys AS BIGINT) AS has_system,
           CAST(SUM(CASE WHEN c.j % 2 = 0 THEN c.clen ELSE 0 END) AS BIGINT)
             AS user_chars,
           CAST(SUM(CASE WHEN c.j % 2 = 1 THEN c.clen ELSE 0 END) AS BIGINT)
             AS assistant_chars,
           md5(t.text) AS convo_md5
    FROM t JOIN c ON t.doc_id = c.doc_id
    GROUP BY t.doc_id, t.n, t.sys, t.text
    """,
)
def q_sft_dialogue_stats(spark, sf_dir):
    """Chat-format SFT validation over the documents table: each text
    becomes an alternating user/assistant conversation (plus a system
    prompt on every 3rd doc), serialized through real JSON and
    re-validated by the strict schema gate. The oracle re-derives
    message/turn counts and per-role char budgets from the equal-split
    formula and pins the full conversation content via md5(text)
    (chunks concatenate back to the document)."""
    docs = load_table(spark, sf_dir, "documents")
    return dialogue_stats(docs)


# ---------------------------------------------------------------------------
# Fill-in-the-middle (FIM) transform — the code-corpus augmentation
# (Bavarian et al. 2022): split each document at two cut points and
# re-serialize with sentinel tokens in PSM or SPM order. Pure
# Catalyst column expressions (substring/concat) — whole-stage
# codegen, zero Python, scan speed at any corpus size.
# ---------------------------------------------------------------------------

FIM_PRE, FIM_SUF, FIM_MID = "<PRE>", "<SUF>", "<MID>"


def fim_transform(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic FIM split: cut points at L·(1+id%2)/5 and
    L·(3+id%2)/5 (always ordered), sentinel order PSM on even ids /
    SPM on odd (the 50/50 mix the FIM paper trains with). Returns the
    transformed string plus the span lengths. Pure column exprs."""
    d = F.col(id_col)
    text = F.col(text_col)
    L = F.length(text)
    # integer FLOOR division on both engines (Spark `div`, DuckDB `//`)
    # — a double divide + cast would truncate here but ROUND in DuckDB
    p1 = F.expr(f"length({text_col}) * (1 + {id_col} % 2) div 5")
    p2 = F.expr(f"length({text_col}) * (3 + {id_col} % 2) div 5")
    pre = text.substr(F.lit(1), p1)
    mid = text.substr(p1 + 1, p2 - p1)
    suf = text.substr(p2 + 1, L)
    psm = F.concat(
        F.lit(FIM_PRE), pre, F.lit(FIM_SUF), suf, F.lit(FIM_MID), mid
    )
    spm = F.concat(
        F.lit(FIM_SUF), suf, F.lit(FIM_PRE), pre, F.lit(FIM_MID), mid
    )
    return docs.select(
        d.alias("doc_id"),
        F.when(d % 2 == 0, F.lit("psm")).otherwise(F.lit("spm")).alias("mode"),
        p1.alias("prefix_chars"),
        (p2 - p1).alias("middle_chars"),
        (L - p2).alias("suffix_chars"),
        F.when(d % 2 == 0, psm).otherwise(spm).alias("fim_text"),
    )


@query(
    "dataset_fim_transform",
    oracle="""
    WITH t AS (
      SELECT doc_id, text, length(text) AS L,
             length(text) * (1 + doc_id % 2) // 5 AS p1,
             length(text) * (3 + doc_id % 2) // 5 AS p2
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'psm' ELSE 'spm' END AS mode,
           CAST(p1 AS BIGINT) AS prefix_chars,
           CAST(p2 - p1 AS BIGINT) AS middle_chars,
           CAST(L - p2 AS BIGINT) AS suffix_chars,
           CASE WHEN doc_id % 2 = 0
                THEN '<PRE>' || substr(text, 1, p1)
                  || '<SUF>' || substr(text, p2 + 1)
                  || '<MID>' || substr(text, p1 + 1, p2 - p1)
                ELSE '<SUF>' || substr(text, p2 + 1)
                  || '<PRE>' || substr(text, 1, p1)
                  || '<MID>' || substr(text, p1 + 1, p2 - p1)
           END AS fim_text
    FROM t
    """,
)
def q_dataset_fim_transform(spark, sf_dir):
    """FIM augmentation over the documents table: sentinel-delimited
    prefix/suffix/middle re-serialization in both PSM and SPM orders,
    pure Catalyst substring/concat (zero Python, zero shuffles). The
    oracle replays the cut-point arithmetic and the full transformed
    string — a hash match pins every span boundary character."""
    docs = load_table(spark, sf_dir, "documents")
    return fim_transform(docs)


# ---------------------------------------------------------------------------
# Code-corpus quality gate — the StarCoder/The-Stack line heuristics
# (max/mean line length, autogenerated-file markers, minimum line
# count) as PURE Catalyst column expressions: zero Python, whole-stage
# codegen, scan speed on 100 TB of source files.
# ---------------------------------------------------------------------------

AUTOGEN_MARKER = "// auto-generated do not edit"


def code_line_features(
    df: DataFrame, text_col: str = "code", id_col: str = "doc_id"
) -> DataFrame:
    """Line-based quality features + keep decision, all JVM-side:
    per-line char lengths via transform/slice grouping, max/sum
    aggregates via array HOFs, the autogenerated-marker flag, and the
    StarCoder-style gate (max line ≤ 120, ≥ 2 lines, no marker)."""
    lines = F.split(F.col(text_col), "\n")
    lens = F.transform(lines, lambda ln: F.length(ln))
    max_line = F.array_max(lens)
    sum_chars = F.aggregate(
        lens, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    n_lines = F.size(lines)
    autogen = F.col(text_col).contains(AUTOGEN_MARKER)
    keep = (max_line <= 120) & (n_lines >= 2) & ~autogen
    return df.select(
        F.col(id_col).alias("doc_id"),
        n_lines.cast("long").alias("n_lines"),
        max_line.cast("long").alias("max_line_chars"),
        sum_chars.alias("sum_line_chars"),
        autogen.cast("long").alias("autogen"),
        keep.cast("long").alias("keep"),
    )


@query(
    "code_quality_filter",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS tk,
             3 + doc_id % 5 AS k
      FROM documents
    ), lined AS (
      SELECT doc_id,
             (CASE WHEN doc_id % 7 = 0
                   THEN '// auto-generated do not edit' || chr(10)
                   ELSE '' END)
             || array_to_string(
                  list_transform(
                    range(0, (len(tk) + k - 1) // k),
                    g -> array_to_string(tk[g*k + 1 : g*k + k], ' ')),
                  chr(10)) AS code
      FROM t
    ), feat AS (
      SELECT doc_id, string_split(code, chr(10)) AS lines FROM lined
    )
    SELECT doc_id,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(list_max(list_transform(lines, x -> length(x))) AS BIGINT)
             AS max_line_chars,
           CAST(list_sum(list_transform(lines, x -> length(x))) AS BIGINT)
             AS sum_line_chars,
           CAST(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS autogen,
           CAST(CASE WHEN
                  list_max(list_transform(lines, x -> length(x))) <= 120
                  AND len(lines) >= 2
                  AND doc_id % 7 <> 0
                THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM feat
    """,
)
def q_code_quality_filter(spark, sf_dir):
    """Code-corpus quality gate over the documents table: texts are
    re-lined by formula (3 + doc_id%5 words per line; an
    autogenerated-marker header on every 7th doc) entirely in Catalyst
    — split/slice/transform/aggregate HOFs — then gated on the
    StarCoder-style rules. Zero Python anywhere in the plan; the
    oracle replays the lining and the per-line length aggregates in
    DuckDB list functions."""
    docs = load_table(spark, sf_dir, "documents")
    tk = tokens(F.col("text"))
    k = (F.col("doc_id") % 5 + 3).cast("int")
    ng = F.ceil(F.size(tk) / k).cast("int")
    lined = F.array_join(
        F.transform(
            F.sequence(F.lit(0), ng - 1),
            lambda g: F.array_join(F.slice(tk, g * k + 1, k), " "),
        ),
        "\n",
    )
    code = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(F.lit(AUTOGEN_MARKER + "\n"), lined),
    ).otherwise(lined)
    return code_line_features(
        docs.select("doc_id", code.alias("code")), text_col="code"
    )


# ---------------------------------------------------------------------------
# Markdown → plain text — the strip pass for README/docs/forum corpora
# (GitHub + StackExchange dumps are markdown): fences, headers, list
# and quote markers, links/images, emphasis and code spans, with
# feature counts for quality gating. Map-only Arrow work.
# ---------------------------------------------------------------------------


def strip_markdown(md: str) -> dict:
    """Generic markdown-to-text: fenced code blocks keep their content
    (fences dropped), ATX header markers / list bullets / blockquote
    markers stripped at line level, images become their alt text,
    links their anchor text (URLs dropped), bold/italic/strikethrough
    markers removed, inline code spans unwrapped. Returns the text
    plus the per-feature counts a docs-corpus quality gate uses."""
    import re

    counts = {"fences": 0, "headers": 0, "links": 0, "images": 0,
              "code_spans": 0, "emphasis": 0, "list_items": 0, "quotes": 0}

    def fence(mo):
        counts["fences"] += 1
        return mo.group(1)

    md = re.sub(r"```[^\n]*\n(.*?)```", fence, md, flags=re.S)
    lines = []
    for ln in md.split("\n"):
        h = re.match(r"(#{1,6})\s+(.*)$", ln)
        if h:
            counts["headers"] += 1
            ln = h.group(2)
        else:
            li = re.match(r"\s*[-*+]\s+(.*)$", ln)
            if li:
                counts["list_items"] += 1
                ln = li.group(1)
            else:
                q = re.match(r">\s?(.*)$", ln)
                if q:
                    counts["quotes"] += 1
                    ln = q.group(1)
        lines.append(ln)
    text = "\n".join(lines)

    def image(mo):
        counts["images"] += 1
        return mo.group(1)

    def link(mo):
        counts["links"] += 1
        return mo.group(1)

    text = re.sub(r"!\[([^\]]*)\]\([^)]*\)", image, text)
    text = re.sub(r"\[([^\]]+)\]\([^)]*\)", link, text)

    def emph(mo):
        counts["emphasis"] += 1
        return mo.group(2)

    text = re.sub(r"(\*\*|__)([^*_]+)\1", emph, text)
    text = re.sub(r"(\*|_)([^*_]+)\1", emph, text)
    text = re.sub(r"~~([^~]+)~~", lambda m: (counts.__setitem__(
        "emphasis", counts["emphasis"] + 1) or m.group(1)), text)

    def code(mo):
        counts["code_spans"] += 1
        return mo.group(1)

    text = re.sub(r"`([^`]+)`", code, text)
    return {"text": text, **counts}


def markdown_strip_stats(docs: DataFrame) -> DataFrame:
    """Synthesize a markdown document per row — an ATX header, the
    REAL text with every 7th-cycle word decorated (italic / bold /
    code span / link by position formula), and a trailing code fence —
    strip it back to plain text, and prove the recovery byte-exact.
    Arrow `map_rows`, map-only."""
    import hashlib

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_headers", T.LongType()),
            T.StructField("n_links", T.LongType()),
            T.StructField("n_code_spans", T.LongType()),
            T.StructField("n_emphasis", T.LongType()),
            T.StructField("n_fences", T.LongType()),
            T.StructField("extracted_chars", T.LongType()),
            T.StructField("extracted_md5", T.StringType()),
        ]
    )

    def row(did, text):
        words = text.split(" ")
        deco = []
        for i, w in enumerate(words):
            m = i % 7
            if w and m == 1:
                deco.append(f"*{w}*")
            elif w and m == 2:
                deco.append(f"**{w}**")
            elif w and m == 3:
                deco.append(f"`{w}`")
            elif w and m == 4:
                deco.append(f"[{w}](https://x.example/p{did})")
            else:
                deco.append(w)
        md = (
            f"# doc {did}\n"
            + " ".join(deco)
            + f"\n```py\ncode sample {did % 10}\n```"
        )
        d = strip_markdown(md)
        expect = f"doc {did}\n{text}\ncode sample {did % 10}\n"
        assert d["text"] == expect  # fixture invariant
        yield (
            did,
            d["headers"],
            d["links"],
            d["code_spans"],
            d["emphasis"],
            d["fences"],
            len(d["text"]),
            hashlib.md5(d["text"].encode("utf-8")).hexdigest(),
        )

    return map_rows(docs.select("doc_id", "text"), row, schema, spread=True)


@query(
    "doc_markdown_strip",
    oracle="""
    WITH t AS (
      SELECT doc_id, text,
             string_split(text, ' ') AS w
      FROM documents
    ), c AS (
      SELECT doc_id,
             len(list_filter(list_transform(range(0, len(w)),
                 i -> CASE WHEN i % 7 = 1 AND w[i+1] <> '' THEN 1 END),
                 x -> x IS NOT NULL)) AS n_ital,
             len(list_filter(list_transform(range(0, len(w)),
                 i -> CASE WHEN i % 7 = 2 AND w[i+1] <> '' THEN 1 END),
                 x -> x IS NOT NULL)) AS n_bold,
             len(list_filter(list_transform(range(0, len(w)),
                 i -> CASE WHEN i % 7 = 3 AND w[i+1] <> '' THEN 1 END),
                 x -> x IS NOT NULL)) AS n_code,
             len(list_filter(list_transform(range(0, len(w)),
                 i -> CASE WHEN i % 7 = 4 AND w[i+1] <> '' THEN 1 END),
                 x -> x IS NOT NULL)) AS n_link
      FROM t
    )
    SELECT t.doc_id,
           CAST(1 AS BIGINT) AS n_headers,
           CAST(c.n_link AS BIGINT) AS n_links,
           CAST(c.n_code AS BIGINT) AS n_code_spans,
           CAST(c.n_ital + c.n_bold AS BIGINT) AS n_emphasis,
           CAST(1 AS BIGINT) AS n_fences,
           CAST(length('doc ' || t.doc_id) + 1 + length(t.text) + 1
                + length('code sample ' || (t.doc_id % 10)) + 1
                AS BIGINT) AS extracted_chars,
           md5('doc ' || t.doc_id || chr(10) || t.text || chr(10)
               || 'code sample ' || (t.doc_id % 10) || chr(10))
             AS extracted_md5
    FROM t JOIN c ON t.doc_id = c.doc_id
    """,
)
def q_doc_markdown_strip(spark, sf_dir):
    """Markdown → text over the documents table: the real text is
    decorated by position formula (italic/bold/code/link on a 7-word
    cycle) under an ATX header with a trailing code fence, then
    stripped back — recovery must be byte-exact (md5 oracle). The
    oracle re-derives the per-feature counts from the same word-cycle
    formula in DuckDB list functions with no markdown engine."""
    docs = load_table(spark, sf_dir, "documents")
    return markdown_strip_stats(docs)


# ---------------------------------------------------------------------------
# Preference-pair (DPO/RLHF) validation — the schema gate for
# prompt/chosen/rejected training rows, the reward-model twin of the
# SFT dialogue gate above. Map-only Arrow work over a real JSON parse;
# invalid rows are CLASSIFIED (error-code census), not dropped, so a
# curation run can report exactly why each row was quarantined.
# ---------------------------------------------------------------------------

#: the quarantine classes parse_preference_pair distinguishes
PREF_ERROR_CLASSES = (
    "invalid_json",
    "not_object",
    "bad_keys",
    "empty_prompt",
    "empty_chosen",
    "empty_rejected",
    "identical_pair",
)


def parse_preference_pair(raw: str) -> dict:
    """Parse + validate one DPO-format training row: a JSON object
    with EXACTLY the keys {prompt, chosen, rejected}, each a non-empty
    string, and chosen != rejected (an identical pair carries zero
    preference signal — it must quarantine, not train). Returns
    per-field char counts on success; raises ValueError whose message
    starts with one of PREF_ERROR_CLASSES on violation."""
    import json

    try:
        obj = json.loads(raw)
    except json.JSONDecodeError as exc:
        raise ValueError(f"invalid_json: {exc}")
    if not isinstance(obj, dict):
        raise ValueError("not_object: preference row must be a JSON object")
    if set(obj) != {"prompt", "chosen", "rejected"}:
        raise ValueError(f"bad_keys: got {sorted(obj)}")
    for key in ("prompt", "chosen", "rejected"):
        v = obj[key]
        if not isinstance(v, str) or not v:
            raise ValueError(f"empty_{key}: non-empty string required")
    if obj["chosen"] == obj["rejected"]:
        raise ValueError("identical_pair: chosen == rejected")
    return {
        "prompt_chars": len(obj["prompt"]),
        "chosen_chars": len(obj["chosen"]),
        "rejected_chars": len(obj["rejected"]),
    }


def preference_pair_stats(docs: DataFrame) -> DataFrame:
    """Synthesize a DPO row per document — prompt = first third of the
    REAL text, chosen = the rest, rejected = chosen + ' [worse]'
    (longer by construction, so never identical) — then plant one
    violation class per doc_id%10 residue: 7 → identical pair,
    8 → empty rejected, 9 → missing key. Serialize through real JSON,
    parse + classify with the gate. Arrow `map_rows`, map-only."""
    import hashlib
    import json

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("status", T.StringType()),
            T.StructField("prompt_chars", T.LongType()),
            T.StructField("chosen_chars", T.LongType()),
            T.StructField("rejected_chars", T.LongType()),
            T.StructField("pair_md5", T.StringType()),
        ]
    )

    def row(did, text):
        cut = len(text) // 3
        prompt, chosen = text[:cut], text[cut:]
        m = did % 10
        if m == 7:
            row = {"prompt": prompt, "chosen": chosen,
                   "rejected": chosen}
        elif m == 8:
            row = {"prompt": prompt, "chosen": chosen,
                   "rejected": ""}
        elif m == 9:
            row = {"prompt": prompt, "chosen": chosen}
        else:
            row = {"prompt": prompt, "chosen": chosen,
                   "rejected": chosen + " [worse]"}
        raw = json.dumps(row)
        try:
            d = parse_preference_pair(raw)
            status = "ok"
        except ValueError as exc:
            d = None
            status = str(exc).split(":", 1)[0]
        yield (
            did,
            status,
            d and d["prompt_chars"],
            d and d["chosen_chars"],
            d and d["rejected_chars"],
            hashlib.md5(
                (row["prompt"] + row["chosen"] + row["rejected"])
                .encode("utf-8")
            ).hexdigest()
            if d
            else None,
        )

    return map_rows(docs.select("doc_id", "text"), row, schema, spread=True)


@query(
    "sft_preference_pairs",
    oracle="""
    WITH t AS (
      SELECT doc_id, text, length(text) AS L, length(text) // 3 AS cut,
             doc_id % 10 AS m
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN m = 7 THEN 'identical_pair'
                WHEN m = 8 THEN 'empty_rejected'
                WHEN m = 9 THEN 'bad_keys'
                ELSE 'ok' END AS status,
           CASE WHEN m IN (7, 8, 9) THEN NULL
                ELSE CAST(cut AS BIGINT) END AS prompt_chars,
           CASE WHEN m IN (7, 8, 9) THEN NULL
                ELSE CAST(L - cut AS BIGINT) END AS chosen_chars,
           CASE WHEN m IN (7, 8, 9) THEN NULL
                ELSE CAST(L - cut + 8 AS BIGINT) END AS rejected_chars,
           CASE WHEN m IN (7, 8, 9) THEN NULL
                ELSE md5(substr(text, 1, cut) || substr(text, cut + 1)
                         || substr(text, cut + 1) || ' [worse]') END
             AS pair_md5
    FROM t
    """,
)
def q_sft_preference_pairs(spark, sf_dir):
    """DPO/RLHF preference-pair validation over the documents table:
    each text becomes a prompt/chosen/rejected row through real JSON,
    with three violation classes planted by doc_id residue (identical
    pair, empty rejected, missing key). The oracle re-derives the
    status census and per-field char budgets from the split formula
    and pins valid rows' content via md5(prompt||chosen||rejected)."""
    docs = load_table(spark, sf_dir, "documents")
    return preference_pair_stats(docs)


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, Appendix A) — the named rule
# bundle most open pretraining pipelines start from. Pure Catalyst:
# every ratio test is cross-multiplied to an INTEGER comparison, so
# the gate is bit-deterministic on any engine.
# ---------------------------------------------------------------------------

#: the Gopher required-stopword list (rule: a real document contains
#: at least 2 of these)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document Gopher rule flags (1 = pass) + the overall keep:

      r_wordcount : 50 ≤ n_words ≤ 100 000
      r_wordlen   : 3 ≤ mean word length ≤ 10   (3n ≤ Σlen ≤ 10n)
      r_symbol    : words carrying '#'/'...' ≤ 10%  (10s ≤ n)
      r_bullet    : bullet-started lines ≤ 90%      (10b ≤ 9L)
      r_ellipsis  : '...'-ended lines ≤ 30%         (10e ≤ 3L)
      r_alpha     : words with a letter ≥ 80%       (5a ≥ 4n)
      r_stopword  : ≥ 2 distinct GOPHER_STOPWORDS present

    Words are whitespace tokens (space or newline) with empties
    dropped; lines split on newline. Map-only column expressions —
    scan speed at any corpus size."""
    text = F.col(text_col)
    words = F.filter(
        F.split(text, r"[ \n]"), lambda w: w != ""
    )
    lines = F.split(text, r"\n")
    n = F.size(words)
    sum_len = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    n_sym = F.size(
        F.filter(
            words,
            lambda w: w.contains("#") | w.contains("..."),
        )
    )
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(lines, lambda ln: ln.startswith("- ")))
    n_ellip = F.size(F.filter(lines, lambda ln: ln.endswith("...")))
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(words),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    flag = lambda c: F.when(c, 1).otherwise(0).cast("long")  # noqa: E731
    out = df.select(
        "doc_id",
        n.cast("long").alias("n_words"),
        flag((n >= 50) & (n <= 100_000)).alias("r_wordcount"),
        flag((sum_len >= 3 * n) & (sum_len <= 10 * n)).alias("r_wordlen"),
        flag(10 * n_sym <= n).alias("r_symbol"),
        flag(10 * n_bullet <= 9 * n_lines).alias("r_bullet"),
        flag(10 * n_ellip <= 3 * n_lines).alias("r_ellipsis"),
        flag(5 * n_alpha >= 4 * n).alias("r_alpha"),
        flag(n_stop >= 2).alias("r_stopword"),
    )
    rules = [c for c in out.columns if c.startswith("r_")]
    keep = rules[0]
    expr = F.col(rules[0])
    for r in rules[1:]:
        expr = expr * F.col(r)
    return out.withColumn("keep", expr.cast("long"))


@query(
    "gopher_quality_gate",
    oracle="""
    WITH deco AS (
      SELECT doc_id, doc_id % 8 AS m,
        list_transform(
          CASE WHEN doc_id % 8 = 5
               THEN string_split(text, ' ')[1:10]
               ELSE string_split(text, ' ') END,
          (w, i) -> CASE
            WHEN doc_id % 8 = 1 AND (i-1) % 5 = 0 AND w <> ''
              THEN '#' || w
            WHEN doc_id % 8 = 4 AND (i-1) % 3 = 0 AND w <> ''
              THEN CAST(doc_id * 7919 + i - 1 AS VARCHAR)
            ELSE w END) AS ws0
      FROM documents
    ), built AS (
      SELECT doc_id, m,
        CASE WHEN m = 6 THEN ws0
             ELSE list_concat(['the', 'of', 'and'], ws0) END AS ws
      FROM deco
    ), lined AS (
      SELECT doc_id, m,
        list_transform(range(0, (len(ws) + 7) // 8), j ->
          CASE WHEN m = 2 THEN '- ' ELSE '' END
          || array_to_string(ws[j*8+1 : j*8+8], ' ')
          || CASE WHEN m = 3 THEN '...' ELSE '' END) AS lns
      FROM built
    ), doc AS (
      SELECT doc_id, array_to_string(lns, chr(10)) AS text FROM lined
    ), met AS (
      SELECT doc_id,
        list_filter(string_split_regex(text, '[ \n]'), w -> w <> '') AS w,
        string_split(text, chr(10)) AS l
      FROM doc
    ), st AS (
      SELECT doc_id,
        len(w) AS n,
        list_sum(list_transform(w, x -> length(x))) AS sum_len,
        len(list_filter(w, x -> contains(x, '#')
                              OR contains(x, '...'))) AS n_sym,
        len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
        len(l) AS n_lines,
        len(list_filter(l, x -> x LIKE '- %')) AS n_bullet,
        len(list_filter(l, x -> x LIKE '%...')) AS n_ellip,
        len(list_intersect(w,
            ['the','be','to','of','and','that','have','with'])) AS n_stop
      FROM met
    )
    SELECT doc_id,
      CAST(n AS BIGINT) AS n_words,
      CAST(CASE WHEN n >= 50 AND n <= 100000 THEN 1 ELSE 0 END AS BIGINT)
        AS r_wordcount,
      CAST(CASE WHEN sum_len >= 3*n AND sum_len <= 10*n THEN 1 ELSE 0 END
        AS BIGINT) AS r_wordlen,
      CAST(CASE WHEN 10*n_sym <= n THEN 1 ELSE 0 END AS BIGINT) AS r_symbol,
      CAST(CASE WHEN 10*n_bullet <= 9*n_lines THEN 1 ELSE 0 END AS BIGINT)
        AS r_bullet,
      CAST(CASE WHEN 10*n_ellip <= 3*n_lines THEN 1 ELSE 0 END AS BIGINT)
        AS r_ellipsis,
      CAST(CASE WHEN 5*n_alpha >= 4*n THEN 1 ELSE 0 END AS BIGINT)
        AS r_alpha,
      CAST(CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS r_stopword,
      CAST(CASE WHEN n >= 50 AND n <= 100000
                 AND sum_len >= 3*n AND sum_len <= 10*n
                 AND 10*n_sym <= n
                 AND 10*n_bullet <= 9*n_lines
                 AND 10*n_ellip <= 3*n_lines
                 AND 5*n_alpha >= 4*n
                 AND n_stop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM st
    """,
)
def q_gopher_quality_gate(spark, sf_dir):
    """Gopher rules over synthesized documents: the real text is
    decorated per doc_id%8 — symbol-prefixed words (1), bullet lines
    (2), ellipsis lines (3), digit words (4), a 10-word truncation
    (5), stopword-header withheld (6) — lined at 8 words, stopword
    header 'the of and' otherwise. Every rule fires on its planted
    class; both engines evaluate the SAME integer cross-multiplied
    comparisons, so the flag table hash-matches bit-for-bit. Pure
    Catalyst on both the synthesis and the gate."""
    docs = load_table(spark, sf_dir, "documents")
    m = F.col("doc_id") % 8
    ws0 = F.when(
        m == 5, F.slice(F.split(F.col("text"), " "), 1, 10)
    ).otherwise(F.split(F.col("text"), " "))
    deco = F.transform(
        ws0,
        lambda w, i: F.when(
            (m == 1) & (i % 5 == 0) & (w != ""), F.concat(F.lit("#"), w)
        )
        .when(
            (m == 4) & (i % 3 == 0) & (w != ""),
            (F.col("doc_id") * 7919 + i).cast("string"),
        )
        .otherwise(w),
    )
    ws = F.when(m == 6, deco).otherwise(
        F.concat(F.array(F.lit("the"), F.lit("of"), F.lit("and")), deco)
    )
    built = docs.select("doc_id", ws.alias("ws"))
    lns = F.transform(
        F.sequence(F.lit(0), F.expr("(size(ws) + 7) div 8 - 1")),
        lambda j: F.concat(
            F.when(m == 2, F.lit("- ")).otherwise(F.lit("")),
            F.array_join(F.slice("ws", j * 8 + 1, 8), " "),
            F.when(m == 3, F.lit("...")).otherwise(F.lit("")),
        ),
    )
    doc = built.select(
        "doc_id", F.array_join(lns, "\n").alias("text")
    )
    return gopher_rules(doc)


# ---------------------------------------------------------------------------
# Annotation analytics — the measurement side of preference/label
# collection: inter-rater agreement (Fleiss' kappa) and pairwise
# preference aggregation (Bradley-Terry). Both pure Catalyst with
# integer-exact cores; one double division each at the end.
# ---------------------------------------------------------------------------


def fleiss_kappa(
    ratings: DataFrame,
    item_col: str = "item_id",
    category_col: str = "category",
) -> DataFrame:
    """Fleiss' kappa over (item, category) rating rows (one row per
    rater vote; every item must carry the same number of votes n).
    Returns a one-row frame: n_items, n_raters, p_bar (observed
    agreement), p_e (chance agreement), kappa.

    Integer discipline: per-item agreement Σ n_ij(n_ij - 1) and the
    category totals are exact integer aggregations; P̄ and P_e become
    single double divisions of integer sums, and kappa one more —
    both engines compute identical doubles, rounded at 6."""
    n_ij = ratings.groupBy(item_col, category_col).agg(
        F.count("*").alias("c")
    )
    per_item = n_ij.groupBy(item_col).agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c") * (F.col("c") - 1)).alias("agree_pairs"),
    )
    cat = n_ij.groupBy(category_col).agg(F.sum("c").alias("cat_total"))
    totals = per_item.agg(
        F.count("*").alias("n_items"),
        F.max("n").alias("n_raters"),
        F.min("n").alias("min_n"),
        F.sum("agree_pairs").alias("sum_agree"),
    )
    cat_sq = cat.agg(
        F.sum(F.col("cat_total") * F.col("cat_total")).alias("sum_sq"),
        F.sum("cat_total").alias("grand"),
    )
    out = totals.crossJoin(F.broadcast(cat_sq)).select(
        "n_items",
        F.col("n_raters").cast("long").alias("n_raters"),
        F.when(
            F.col("min_n") != F.col("n_raters"), None
        ).otherwise(
            F.round(
                F.col("sum_agree")
                / (
                    F.col("n_items")
                    * F.col("n_raters")
                    * (F.col("n_raters") - 1)
                ),
                6,
            )
        ).alias("p_bar"),
        F.round(
            F.col("sum_sq") / (F.col("grand") * F.col("grand")), 6
        ).alias("p_e"),
    )
    return out.select(
        "n_items",
        "n_raters",
        "p_bar",
        "p_e",
        F.round(
            (F.col("p_bar") - F.col("p_e")) / (1 - F.col("p_e")), 6
        ).alias("kappa"),
    )


@query(
    "annotation_fleiss_kappa",
    oracle="""
    WITH votes AS (
      SELECT doc_id AS item_id, u.r,
             CASE WHEN (doc_id * 31 + u.r * 17) % 10 < 6
                  THEN 'good'
                  WHEN (doc_id * 31 + u.r * 17) % 10 < 9
                  THEN 'neutral' ELSE 'bad' END AS category
      FROM documents, LATERAL (SELECT unnest(range(0, 5)) AS r) u
    ), n_ij AS (
      SELECT item_id, category, count(*) AS c
      FROM votes GROUP BY item_id, category
    ), per_item AS (
      SELECT item_id, sum(c) AS n, sum(c * (c - 1)) AS agree_pairs
      FROM n_ij GROUP BY item_id
    ), cat AS (
      SELECT category, sum(c) AS cat_total FROM n_ij GROUP BY category
    ), tot AS (
      SELECT count(*) AS n_items, max(n) AS n_raters,
             sum(agree_pairs) AS sum_agree
      FROM per_item
    ), cs AS (
      SELECT sum(cat_total * cat_total) AS sum_sq,
             sum(cat_total) AS grand
      FROM cat
    )
    SELECT CAST(n_items AS BIGINT) AS n_items,
           CAST(n_raters AS BIGINT) AS n_raters,
           round(sum_agree / (n_items * n_raters * (n_raters - 1)), 6)
             AS p_bar,
           round(sum_sq / (grand * grand), 6) AS p_e,
           round((sum_agree / (n_items * n_raters * (n_raters - 1))
                  - sum_sq / (grand * grand))
                 / (1 - sum_sq / (grand * grand)), 6) AS kappa
    FROM tot, cs
    """,
)
def q_annotation_fleiss_kappa(spark, sf_dir):
    """Inter-rater agreement over synthesized annotations: 5 raters
    vote good/neutral/bad per document by a deterministic formula
    (roughly 60/30/10 with rater-dependent noise), and Fleiss' kappa
    is computed with integer-exact agreement/category sums. The
    oracle replays the votes AND the kappa arithmetic; both engines
    divide identical integers."""
    docs = load_table(spark, sf_dir, "documents")
    votes = docs.select(
        F.col("doc_id").alias("item_id"),
        F.explode(F.sequence(F.lit(0), F.lit(4))).alias("r"),
    ).select(
        "item_id",
        F.when(
            (F.col("item_id") * 31 + F.col("r") * 17) % 10 < 6, "good"
        )
        .when(
            (F.col("item_id") * 31 + F.col("r") * 17) % 10 < 9, "neutral"
        )
        .otherwise("bad")
        .alias("category"),
    )
    return fleiss_kappa(votes)


def bradley_terry(
    matches: DataFrame,
    iters: int = 5,
    a_col: str = "a",
    b_col: str = "b",
    winner_col: str = "winner",
) -> DataFrame:
    """Bradley-Terry strength estimation from pairwise outcomes via
    the classic MM update (Hunter 2004):

        w_i ← W_i / Σ_j n_ij / (w_i + w_j)

    run a FIXED `iters` rounds from w = 1 (fixed-iteration form, like
    `graph.pagerank` — deterministic, no convergence test), then
    normalized to sum 1. Every item must have ≥ 1 win (the standard
    MM condition; zero-win items drive w → 0 and a zero-win PAIR
    divides by zero — validate upstream).

    Shape: the pair table (i, j, n_ij) and win counts are one-pass
    integer aggregations; each round is one join against the current
    strength table + one per-item agg — items are model-sized
    relative to the comparison stream, the same scale split as
    k-means centroids vs points."""
    pair_counts = matches.groupBy(a_col, b_col).agg(
        F.count("*").alias("n")
    )
    # The symmetric pair table is MODEL-sized (≤ items², vs the
    # comparison stream it folds) and is consumed by every MM round
    # plus the games report — materialize it ONCE. Previously it was
    # rebuilt from the raw matches scan by each round's eager
    # checkpoint job (cross-job plans share no exchanges), so the
    # dominant aggregation ran iters+1 times.
    pairs = (
        pair_counts.select(
            F.col(a_col).alias("i"), F.col(b_col).alias("j"), "n"
        )
        .unionByName(
            pair_counts.select(
                F.col(b_col).alias("i"), F.col(a_col).alias("j"), "n"
            )
        )
        .groupBy("i", "j")
        .agg(F.sum("n").alias("n"))
        .localCheckpoint(eager=True)
    )
    wins = matches.groupBy(winner_col).agg(F.count("*").alias("w")).select(
        F.col(winner_col).alias("i"), "w"
    )
    games = pairs.groupBy("i").agg(F.sum("n").alias("games"))
    w_df = (
        pairs.select("i").distinct()
        .join(wins, "i", "left")
        .select("i", F.coalesce("w", F.lit(0)).alias("w"),
                F.lit(1.0).alias("wgt"))
        .localCheckpoint(eager=True)
    )
    for _ in range(iters):
        denom = (
            pairs.join(
                w_df.select(F.col("i"), F.col("wgt").alias("wi")), "i"
            )
            .join(
                w_df.select(
                    F.col("i").alias("j"), F.col("wgt").alias("wj")
                ),
                "j",
            )
            .groupBy("i")
            .agg(F.sum(F.col("n") / (F.col("wi") + F.col("wj"))).alias("d"))
        )
        # lazy checkpoint: Catalyst lineage is truncated immediately
        # (w_df is referenced twice per round — eager per-round jobs
        # are NOT needed for that), but all `iters` rounds execute as
        # one pipelined DAG at the final action instead of one job
        # per round (the pagerank lesson, measured 2.6× there)
        w_df = (
            w_df.drop("wgt")
            .join(denom, "i")
            .select("i", "w", (F.col("w") / F.col("d")).alias("wgt"))
            .localCheckpoint(eager=False)
        )
    total = w_df.agg(F.sum("wgt").alias("t"))
    return (
        w_df.crossJoin(F.broadcast(total))
        .join(games, "i")
        .select(
            F.col("i").alias("item_id"),
            F.col("games").cast("long").alias("n_games"),
            F.col("w").cast("long").alias("n_wins"),
            F.round(F.col("wgt") / F.col("t"), 6).alias("strength"),
        )
        .orderBy("item_id")
    )


def _bt_oracle() -> str:
    it = """, it{k} AS (
      SELECT p.i, w0.w,
             w0.w / SUM(p.n / (wi.wgt + wj.wgt)) AS wgt
      FROM pairs p
      JOIN it{p} wi ON wi.i = p.i
      JOIN it{p} wj ON wj.i = p.j
      JOIN it0 w0 ON w0.i = p.i
      GROUP BY p.i, w0.w
    )"""
    iters = "".join(it.format(k=k, p=k - 1) for k in range(1, 6))
    return ("""
    WITH m0 AS (
      SELECT doc_id % 50 AS a, (doc_id * 7 + 13) % 50 AS b, doc_id
      FROM documents
      WHERE doc_id % 50 <> (doc_id * 7 + 13) % 50
    ), matches AS (
      SELECT a, b,
             CASE WHEN (doc_id * 31 + a * 7 + b * 11) % (a + b + 2)
                       < a + 1
                  THEN a ELSE b END AS winner
      FROM m0
      UNION ALL
      SELECT u.k AS a, (u.k + 1) % 50 AS b, u.k AS winner
      FROM (SELECT unnest(range(0, 50)) AS k) u
    ), pc AS (
      SELECT a, b, count(*) AS n FROM matches GROUP BY a, b
    ), pairs AS (
      SELECT i, j, sum(n) AS n FROM (
        SELECT a AS i, b AS j, n FROM pc
        UNION ALL SELECT b, a, n FROM pc
      ) GROUP BY i, j
    ), wins AS (
      SELECT winner AS i, count(*) AS w FROM matches GROUP BY winner
    ), games AS (
      SELECT i, sum(n) AS games FROM pairs GROUP BY i
    ), it0 AS (
      SELECT d.i, COALESCE(wins.w, 0) AS w, 1.0 AS wgt
      FROM (SELECT DISTINCT i FROM pairs) d
      LEFT JOIN wins ON wins.i = d.i
    )""" + iters + """
    SELECT it5.i AS item_id,
           CAST(games.games AS BIGINT) AS n_games,
           CAST(it5.w AS BIGINT) AS n_wins,
           round(it5.wgt / (SELECT SUM(wgt) FROM it5), 6) AS strength
    FROM it5 JOIN games ON games.i = it5.i
    ORDER BY item_id
    """)


@query("annotation_bradley_terry", oracle=_bt_oracle())
def q_annotation_bradley_terry(spark, sf_dir):
    """Pairwise-preference aggregation over synthesized matches: 50
    'models' play formula-decided games (stronger index wins
    proportionally more), plus one guaranteed win per item (the MM
    positivity condition), and 5 fixed Bradley-Terry MM rounds
    estimate strengths. The oracle unrolls all 5 rounds in chained
    CTEs — the PageRank precedent — and both engines divide identical
    doubles, rounded at 6."""
    docs = load_table(spark, sf_dir, "documents")
    m0 = docs.select(
        (F.col("doc_id") % 50).alias("a"),
        ((F.col("doc_id") * 7 + 13) % 50).alias("b"),
        "doc_id",
    ).filter(F.col("a") != F.col("b"))
    real = m0.select(
        "a", "b",
        F.when(
            (F.col("doc_id") * 31 + F.col("a") * 7 + F.col("b") * 11)
            % (F.col("a") + F.col("b") + 2)
            < F.col("a") + 1,
            F.col("a"),
        ).otherwise(F.col("b")).alias("winner"),
    )
    byes = (
        docs.sparkSession.range(50)
        .select(
            F.col("id").alias("a"),
            ((F.col("id") + 1) % 50).alias("b"),
            F.col("id").alias("winner"),
        )
    )
    return bradley_terry(real.unionByName(byes))
