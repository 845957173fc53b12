"""Training-data family: split, entity and sample weights, weighted and
stratified sampling, corpus selection and benchmark decontamination."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from indian_address_parser_spark.queries._common import (
    _CKPT_LEVEL,
    _docs,
    _norm_fields,
    _oracle_norm_fields,
    _oracle_shingles,
    _shingles,
)
from indian_address_parser_spark.queries.dedup import (
    _oracle_dedup_canonical_keep,
    q_dedup_canonical_keep,
)
from indian_address_parser_spark.queries.text import STOPWORDS, q_text_quality
from indian_address_parser_spark.sources.pages import SUBAREAS


def q_split_train_val_test(spark, sf_dir):
    """A6-style deterministic split: hash-stable 80/10/10 assignment
    (md5-based so DuckDB reproduces it; randomSplit is session-dependent)."""
    d = _docs(spark, sf_dir).select("doc_id")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2), 16, 10).cast("int")
    split = (
        F.when(bucket < 204, F.lit("train"))
        .when(bucket < 230, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return d.select("doc_id", split.alias("split"))


# --- training-side weighting (A2/A3, reference training/train.py:39-99) ----

# reference train.py:39 — minority entities that get boosted sampling weight;
# of these, GALI and SUBAREA are derivable from the shared synthetic address
MINORITY_ENTITIES = ("GALI", "SUBAREA")
BOOST_FACTOR = 3.0  # train.py:42 default


def _entity_flags(spark, sf_dir) -> DataFrame:
    """Per-doc entity-presence flags over the derived address (the 'sample
    contains entity E' predicate of compute_sample_weights)."""
    f = _norm_fields(spark, sf_dir)
    subarea_re = "|".join(SUBAREAS)
    return f.select(
        "doc_id",
        (F.col("house_no") != "").alias("has_HOUSE_NUMBER"),
        (F.col("street") != "").alias("has_GALI"),
        (F.col("pincode") != "").alias("has_PINCODE"),
        (F.col("city") != "").alias("has_CITY"),
        F.col("normalized").rlike(subarea_re).alias("has_SUBAREA"),
    )


_A2_ENTITIES = ("HOUSE_NUMBER", "GALI", "PINCODE", "CITY", "SUBAREA")


def q_train_entity_weights(spark, sf_dir):
    """A2 — inverse-document-frequency entity weights: max(1, N/count)
    (reference train.py:66-72). One agg pass, N entities → N columns."""
    flags = _entity_flags(spark, sf_dir)
    aggs = [F.count("*").alias("n")] + [
        F.sum(F.col(f"has_{e}").cast("int")).alias(f"n_{e}") for e in _A2_ENTITIES
    ]
    row = flags.agg(*aggs)
    pairs = []
    for e in _A2_ENTITIES:
        pairs.append(
            F.struct(
                F.lit(e).alias("entity"),
                F.col(f"n_{e}").alias("n_docs"),
                F.when(
                    F.col(f"n_{e}") > 0,
                    F.greatest(F.lit(1.0), F.col("n") / F.col(f"n_{e}")),
                ).otherwise(F.lit(None)).alias("weight"),
            )
        )
    return row.select(F.explode(F.array(*pairs)).alias("s")).select(
        F.col("s.entity").alias("entity"),
        F.col("s.n_docs").alias("n_docs"),
        F.round("s.weight", 6).alias("weight"),
    )


def _sample_weight_col(flags: DataFrame) -> Column:
    """compute_sample_weights semantics (train.py:74-92): base 1.0; any
    minority entity present → max(w, boost); rarity>5 → max(w, boost·1.5).
    Entity IDF weights arrive as literal columns n/n_E via a broadcast of
    the single aggregate row."""
    w = F.lit(1.0)
    for e in MINORITY_ENTITIES:
        ew = F.when(
            F.col(f"n_{e}") > 0, F.greatest(F.lit(1.0), F.col("n") / F.col(f"n_{e}"))
        ).otherwise(F.lit(1.0))
        w = F.when(
            F.col(f"has_{e}"),
            F.greatest(
                w,
                F.when(ew > 5, F.lit(BOOST_FACTOR * 1.5)).otherwise(F.lit(BOOST_FACTOR)),
            ),
        ).otherwise(w)
    return w


def _oracle_entity_flags() -> str:
    subarea_re = "|".join(SUBAREAS)
    return f"""
    SELECT doc_id,
           house_no <> '' AS has_HOUSE_NUMBER,
           street <> '' AS has_GALI,
           pincode <> '' AS has_PINCODE,
           city <> '' AS has_CITY,
           regexp_matches(normalized, '{subarea_re}') AS has_SUBAREA
    FROM ({{norm}})
    """


def _oracle_weight_sql() -> tuple[str, str]:
    """(flags+totals CTE prelude, per-row weight expression)."""
    flags = _oracle_entity_flags().format(norm=_oracle_norm_fields())
    tot_cols = ", ".join(
        f"sum(CASE WHEN has_{e} THEN 1 ELSE 0 END) AS n_{e}" for e in MINORITY_ENTITIES
    )
    prelude = f"""
    WITH flags AS ({flags}),
    totals AS (SELECT count(*) AS n, {tot_cols} FROM flags)
    """
    w = "1.0"
    for e in MINORITY_ENTITIES:
        ew = f"(CASE WHEN n_{e} > 0 THEN greatest(1.0, n / cast(n_{e} AS double)) ELSE 1.0 END)"
        boost = f"(CASE WHEN {ew} > 5 THEN {BOOST_FACTOR * 1.5} ELSE {BOOST_FACTOR} END)"
        w = f"(CASE WHEN has_{e} THEN greatest({w}, {boost}) ELSE {w} END)"
    return prelude, w


def q_train_sample_weights(spark, sf_dir):
    """A3 input — per-sample sampling weight (reference train.py:74-99)."""
    flags = _entity_flags(spark, sf_dir)
    aggs = [F.count("*").alias("n")] + [
        F.sum(F.col(f"has_{e}").cast("int")).alias(f"n_{e}") for e in MINORITY_ENTITIES
    ]
    totals = flags.agg(*aggs)  # single row → AQE broadcasts the cross join
    joined = flags.crossJoin(totals)
    return joined.select("doc_id", F.round(_sample_weight_col(joined), 6).alias("weight"))


def q_train_weighted_sample(spark, sf_dir):
    """A3 — weighted sampling, Spark-shaped: the reference's
    WeightedRandomSampler (train.py:394-398) draws with replacement on one
    node; the distributed equivalent is deterministic ACCEPTANCE sampling —
    keep doc iff hash-uniform(doc_id) < weight/max_weight. Expected rate is
    proportional to weight, fully partition-independent and reproducible
    (same reason the A6 split uses md5, not randomSplit)."""
    max_w = BOOST_FACTOR * 1.5
    weights = q_train_sample_weights(spark, sf_dir)
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("samp|"), F.col("doc_id").cast("string"))), 1, 6),
            16, 10,
        ).cast("double")
        / F.lit(float(16**6))
    )
    return weights.where(u < F.col("weight") / F.lit(max_w)).select("doc_id", "weight")


CORPUS_LANG_ALLOWLIST = ("en", "es")
CORPUS_QUALITY_MIN = 0.5


def q_corpus_select(spark, sf_dir):
    """The FINAL gate a training-data pipeline ships: one decision row per
    document — keep iff (canonical near-dup representative) AND (quality
    score clears the bar) AND (language in the allowlist) — with every
    input signal carried alongside so rejects are auditable. Composes
    three oracled operators; the joins are all on doc_id (co-partitioned
    after the first shuffle, AQE-planned)."""
    quality = q_text_quality(spark, sf_dir)
    keep = q_dedup_canonical_keep(spark, sf_dir).select("doc_id", "is_kept")
    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    lang_ok = F.col("lang").isin(*CORPUS_LANG_ALLOWLIST)
    return (
        docs.join(keep, "doc_id")
        .join(quality, "doc_id")
        .select(
            "doc_id",
            "lang",
            "quality",
            "is_kept",
            (
                F.col("is_kept")
                & (F.col("quality") >= CORPUS_QUALITY_MIN)
                & lang_ok
            ).alias("selected"),
        )
    )


def q_train_stratified_sample(spark, sf_dir, k: int = 50):
    """Exact-k deterministic stratified sample per language stratum.

    Ordering key is a salted md5 of doc_id (uniform, reproducible,
    partition-independent). Scale shape: a single
    ``row_number().over(partitionBy(lang))`` would funnel an entire
    language's documents — billions of rows at crawl scale — into one
    window partition, so stage 1 pre-selects the k smallest keys within
    every (lang, input-partition) group (tiny partitions, embarrassingly
    parallel; the global k smallest per stratum are necessarily among
    them), and stage 2 ranks only the ≤ k·P survivors per stratum. Final
    output is identical for ANY partition layout."""
    from pyspark.sql import Window

    d = (
        _docs(spark, sf_dir)
        .select("doc_id", "lang")
        .withColumn(
            "skey", F.md5(F.concat(F.lit("strat|"), F.col("doc_id").cast("string")))
        )
        .withColumn("pid", F.spark_partition_id())
    )
    w1 = Window.partitionBy("lang", "pid").orderBy("skey", "doc_id")
    pre = d.withColumn("prk", F.row_number().over(w1)).where(F.col("prk") <= k)
    w2 = Window.partitionBy("lang").orderBy("skey", "doc_id")
    return (
        pre.withColumn("rk", F.row_number().over(w2))
        .where(F.col("rk") <= k)
        .select("doc_id", "lang", "rk")
    )


# Force-broadcast ceiling for the eval shingle vocabulary: ~5·10⁷ short
# string rows ≈ low-GB serialized — near the sane executor/driver
# broadcast bound. Real eval SUITES with long n-grams can exceed it
# (10⁷-10⁸ shingles), which is why the gate exists.
DECONTAM_BROADCAST_MAX = 50_000_000


def q_corpus_decontaminate(
    spark, sf_dir, broadcast_max_shingles: int = DECONTAM_BROADCAST_MAX
):
    """Benchmark DECONTAMINATION — the gate every serious training-data
    pipeline runs before the corpus ships: flag any training document that
    shares an n-gram shingle with the held-out eval set (here the
    deterministic 1-in-20 doc_id slice stands in for the benchmark suite;
    production uses longer n-grams, same plan shape).

    Scale shape: the eval-set shingle vocabulary is DISTINCT-ed then
    BROADCAST (map-side semi-join — the corpus-side shingles never
    shuffle), but only after a COUNT GATE on the small side: eval suites
    are small by construction, yet a force-broadcast with no bound is a
    driver-OOM cliff when someone points the query at a 10⁸-shingle
    suite. Past ``broadcast_max_shingles`` it degrades automatically to
    the shuffled semi-join (same rows, one corpus-side exchange) — the
    same gate-don't-assume pattern as CC's giant-degree guard. The count
    itself is one agg over the SMALL side only; the per-doc verdict is
    then one distinct + one left join on doc_id."""
    sh = _shingles(spark, sf_dir)
    is_eval = F.col("doc_id") % 20 == 0
    # eager localCheckpoint (r6, ADVICE r5): the count gate and the
    # semi-join probe share ONE evaluation of the eval-side distinct
    # instead of re-running the scan→explode→distinct chain per consumer
    eval_sh = (
        sh.where(is_eval).select("shingle").distinct().localCheckpoint(eager=True, storageLevel=_CKPT_LEVEL)
    )
    n_eval = eval_sh.count()
    probe = (
        F.broadcast(eval_sh) if n_eval <= broadcast_max_shingles else eval_sh
    )
    contam = (
        sh.where(~is_eval)
        .join(probe, "shingle", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(True))
    )
    return (
        _docs(spark, sf_dir)
        .where(~is_eval)
        .join(contam, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("hit", F.lit(False)).alias("contaminated")
        )
    )


def _oracle_train_entity_weights() -> str:
    flags = _oracle_entity_flags().format(norm=_oracle_norm_fields())
    tot_cols = ", ".join(
        f"sum(CASE WHEN has_{e} THEN 1 ELSE 0 END) AS n_{e}" for e in _A2_ENTITIES
    )
    selects = " UNION ALL ".join(
        f"SELECT '{e}' AS entity, cast(n_{e} AS BIGINT) AS n_docs, "
        f"round(CASE WHEN n_{e} > 0 THEN greatest(1.0, n / cast(n_{e} AS double)) END, 6) AS weight "
        "FROM totals"
        for e in _A2_ENTITIES
    )
    return f"WITH flags AS ({flags}), totals AS (SELECT count(*) AS n, {tot_cols} FROM flags) {selects}"


def _oracle_train_weighted_sample() -> str:
    prelude, w = _oracle_weight_sql()
    max_w = BOOST_FACTOR * 1.5
    u = (
        "(cast(('0x' || substr(md5('samp|' || cast(doc_id AS varchar)), 1, 6)) AS UBIGINT)"
        f" / cast({float(16**6)} AS double))"
    )
    return (
        f"{prelude} SELECT doc_id, weight FROM ("
        f"SELECT doc_id, round({w}, 6) AS weight FROM flags CROSS JOIN totals"
        f") WHERE {u} < weight / {max_w}"
    )


def oracles() -> dict[str, str]:
    """DuckDB oracle SQL per registered ``train_*``, ``split_*`` and ``corpus_*`` query."""
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    return {
        "train_entity_weights": _oracle_train_entity_weights(),
        "train_weighted_sample": _oracle_train_weighted_sample(),
        "split_train_val_test": """
            SELECT doc_id,
                   CASE WHEN b < 204 THEN 'train'
                        WHEN b < 230 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id,
                         cast(('0x' || substr(md5(cast(doc_id AS varchar)), 1, 2))::UBIGINT AS int) AS b
                  FROM documents)
        """,
        "corpus_decontaminate": f"""
            WITH sh AS ({_oracle_shingles()}),
            ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0),
            contam AS (
              SELECT DISTINCT s.doc_id FROM sh s JOIN ev USING (shingle)
              WHERE s.doc_id % 20 <> 0
            )
            SELECT d.doc_id,
                   d.doc_id IN (SELECT doc_id FROM contam) AS contaminated
            FROM documents d WHERE d.doc_id % 20 <> 0
        """,
        "corpus_select": f"""
            WITH keepx AS ({_oracle_dedup_canonical_keep()}),
            q AS (
              SELECT doc_id,
                     round(least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.5
                         + (1.0 - len(list_filter(string_split(text, ' '), w -> w IN ({stop_list})))
                                 / cast(len(string_split(text, ' ')) AS double)) * 0.5, 6) AS quality
              FROM documents
            )
            SELECT d.doc_id, d.lang, q.quality, k.is_kept,
                   (k.is_kept AND q.quality >= {CORPUS_QUALITY_MIN}
                    AND d.lang IN ({", ".join(f"'{lang}'" for lang in CORPUS_LANG_ALLOWLIST)})) AS selected
            FROM documents d
            JOIN keepx k ON d.doc_id = k.doc_id
            JOIN q ON d.doc_id = q.doc_id
        """,
        "train_stratified_sample": """
            SELECT doc_id, lang, rk FROM (
              SELECT doc_id, lang,
                     row_number() OVER (
                       PARTITION BY lang
                       ORDER BY md5('strat|' || cast(doc_id AS varchar)), doc_id
                     ) AS rk
              FROM documents
            ) WHERE rk <= 50
        """,
    }
