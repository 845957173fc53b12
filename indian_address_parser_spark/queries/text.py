"""Text-analysis family: token stats, quality, fingerprint, language mix,
token frequencies and TF-IDF top terms."""

from __future__ import annotations

from pyspark.sql import functions as F

from indian_address_parser_spark.queries._common import _docs, _oracle_shingles, _shingles

STOPWORDS = ("a", "the", "and", "of", "to", "in", "is", "on", "for", "with")


# BPE-ish pre-tokenizer: letter runs, single digits, single punctuation
# marks — the GPT-2-family pre-split shape, here as a regex both Spark
# (Java regex) and DuckDB (RE2) interpret identically. Subtoken counts
# are the unit LLM data budgets are denominated in; whitespace tokens
# under-count code/punctuation-heavy text badly.
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"


def q_text_token_stats(spark, sf_dir):
    d = _docs(spark, sf_dir)
    words = F.split(F.col("text"), " ")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))
    return d.select(
        "doc_id",
        F.size(words).alias("n_tokens"),
        F.regexp_count(F.col("text"), F.lit(BPE_TOKEN_RE)).alias("n_subtokens"),
        F.length("text").alias("n_chars_measured"),
        F.round(n_stop / F.size(words), 6).alias("stopword_ratio"),
    )


def q_text_quality(spark, sf_dir):
    d = _docs(spark, sf_dir)
    words = F.split(F.col("text"), " ")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    ratio = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w))) / F.size(words)
    score = F.least(F.size(words) / 100.0, F.lit(1.0)) * 0.5 + (1.0 - ratio) * 0.5
    return d.select("doc_id", F.round(score, 6).alias("quality"))


def q_text_fingerprint(spark, sf_dir):
    sh = _shingles(spark, sf_dir)
    return sh.groupBy("doc_id").agg(F.min(F.md5("shingle")).alias("fingerprint"))


def q_text_lang_distribution(spark, sf_dir):
    return _docs(spark, sf_dir).groupBy("lang").agg(F.count("*").alias("n"))


def q_text_token_freq(spark, sf_dir):
    """A1-style hash aggregation: corpus token frequencies (top by count)."""
    d = _docs(spark, sf_dir).select(F.explode(F.split("text", " ")).alias("w"))
    return d.groupBy("w").agg(F.count("*").alias("n")).where(F.col("n") >= 10)


TFIDF_TOPK = 3


def q_text_tfidf_top_terms(spark, sf_dir):
    """TF-IDF top-{k} terms per document — the classic keyword-extraction
    pass of a text pipeline. Corpus size enters as a broadcast 1-row
    aggregate (no driver round-trip), document frequency as one hash agg
    over the token table; scoring rounds BEFORE ranking so both engines
    rank identical values and ties break on the term. The per-doc top-k
    window partitions by doc_id — bounded by document vocabulary, never
    by corpus size."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    tf = tok.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    dfq = tok.groupBy("w").agg(F.count_distinct("doc_id").alias("df"))
    ndocs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfq, "w")
        .crossJoin(F.broadcast(ndocs))
        .select(
            "doc_id",
            "w",
            F.round(
                F.col("tf")
                * (
                    F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
                    + 1.0
                ),
                6,
            ).alias("tfidf"),
        )
    )
    rk = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("w"))
    )
    return scored.withColumn("rk", rk).where(F.col("rk") <= TFIDF_TOPK)


def oracles() -> dict[str, str]:
    """DuckDB oracle SQL per registered ``text_*`` query."""
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    return {
        "text_token_stats": f"""
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_tokens,
                   len(regexp_extract_all(text, '{BPE_TOKEN_RE}')) AS n_subtokens,
                   length(text) AS n_chars_measured,
                   round(len(list_filter(string_split(text, ' '), w -> w IN ({stop_list})))
                         / cast(len(string_split(text, ' ')) AS double), 6) AS stopword_ratio
            FROM documents
        """,
        "text_quality": f"""
            SELECT doc_id,
                   round(least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.5
                       + (1.0 - len(list_filter(string_split(text, ' '), w -> w IN ({stop_list})))
                               / cast(len(string_split(text, ' ')) AS double)) * 0.5, 6) AS quality
            FROM documents
        """,
        "text_fingerprint": f"SELECT doc_id, min(md5(shingle)) AS fingerprint FROM ({_oracle_shingles()}) GROUP BY doc_id",
        "text_lang_distribution": "SELECT lang, count(*) AS n FROM documents GROUP BY lang",
        "text_token_freq": """
            SELECT w, count(*) AS n
            FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
            GROUP BY w HAVING count(*) >= 10
        """,
        "text_tfidf_top_terms": f"""
            WITH tok AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
            ),
            tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
            dfq AS (SELECT w, count(DISTINCT doc_id) AS df FROM tok GROUP BY w),
            n AS (SELECT count(*) AS n_docs FROM documents),
            scored AS (
              SELECT tf.doc_id, tf.w,
                     round(tf.tf * (ln((n.n_docs + 1.0) / (dfq.df + 1.0)) + 1.0), 6) AS tfidf
              FROM tf JOIN dfq USING (w) CROSS JOIN n
            )
            SELECT doc_id, w, tfidf, rk FROM (
              SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, w ASC
              ) AS rk FROM scored
            ) WHERE rk <= {TFIDF_TOPK}
        """,
    }
