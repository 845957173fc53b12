"""ER family: the address chain as oracled queries, plus pipeline projections.

``er_normalize`` through ``er_cluster_sizes`` run over the derived address
column (``_common.addr_spark``), so DuckDB replays each step: the
normalize UDF, the field regexes, blocking on ``pincode|city``, the
candidate self-join, the pair score and transitive clustering.

``_scored_pairs`` is a second ER scoring definition, beside the batch
engine's operators (``operators/blocking.py``, ``pairs.py`` and
``scoring.py``). It blocks on ``pincode|city`` only: no soundex of the
locality, no mega-block split. It scores four fields with fixed weights
(0.4 Jaro-Winkler house, 0.3 Jaro-Winkler street, 0.2 Levenshtein city,
0.1 pincode equality) and keeps pairs at ``SCORE_THRESHOLD`` 0.84. The
operators score nine fields from ``scoring.FIELD_WEIGHTS`` with digit
guards and null-aware renormalization, at ``DEFAULT_THRESHOLD`` 0.80.
The two are not unified: the oracle SQL below encodes this definition
term by term, so routing these queries through ``operators/`` would move
every ``er_*`` oracle hash. The projections from
``er_pipeline_cluster_sizes`` on run the real operators instead, and
their oracles are the generator's ground truth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from indian_address_parser_spark.queries._common import (
    _CKPT_LEVEL,
    _docs,
    _norm_fields,
    _oracle_norm_fields,
    _with_addr,
    addr_sql,
    normalize_sql,
)

SCORE_THRESHOLD = 0.84


def q_er_synth_addr(spark, sf_dir):
    return _with_addr(spark, sf_dir)


def q_er_normalize(spark, sf_dir):
    from indian_address_parser_spark.functions.udfs import normalize_udf

    return _with_addr(spark, sf_dir).select(
        "doc_id", normalize_udf(F.col("addr")).alias("normalized")
    )


def q_er_extract_fields(spark, sf_dir):
    return _norm_fields(spark, sf_dir)


def q_er_block_key(spark, sf_dir):
    f = _norm_fields(spark, sf_dir)
    return f.select(
        "doc_id",
        F.concat_ws("|", "pincode", "city").alias("block_key"),
    )


def _blocked(spark, sf_dir) -> DataFrame:
    f = _norm_fields(spark, sf_dir)
    return f.withColumn("block_key", F.concat_ws("|", "pincode", "city"))


def q_er_candidate_pairs(spark, sf_dir):
    # r6: same §2.4 fix as _scored_pairs — the self-join otherwise runs the
    # normalize-UDF + field-extraction subtree once per side; checkpoint the
    # 2-column blocked frame once and let both branches read the cache.
    b = _blocked(spark, sf_dir).select("doc_id", "block_key").localCheckpoint(
        eager=True, storageLevel=_CKPT_LEVEL
    )
    a = b.select(F.col("doc_id").alias("id_a"), "block_key")
    c = b.select(F.col("doc_id").alias("id_b"), F.col("block_key").alias("bk"))
    return a.join(
        c, (F.col("block_key") == F.col("bk")) & (F.col("id_a") < F.col("id_b"))
    ).select("id_a", "id_b", "block_key")


def _scored_pairs(spark, sf_dir) -> DataFrame:
    from indian_address_parser_spark.functions.udfs import jaro_winkler_udf

    # r6: the self-join otherwise re-executes the normalize-UDF +
    # field-extraction subtree once per side (guide §2.4); one eager
    # checkpoint of the 5-column blocked frame shares it.
    b = _blocked(spark, sf_dir).select(
        "doc_id", "block_key", "house_no", "street", "city", "pincode"
    ).localCheckpoint(eager=True, storageLevel=_CKPT_LEVEL)
    cols = ["house_no", "street", "city", "pincode"]
    a = b.select(F.col("doc_id").alias("id_a"), "block_key", *[F.col(c).alias(c + "_a") for c in cols])
    c = b.select(F.col("doc_id").alias("id_b"), F.col("block_key").alias("bk"), *[F.col(c).alias(c + "_b") for c in cols])
    p = a.join(c, (F.col("block_key") == F.col("bk")) & (F.col("id_a") < F.col("id_b")))
    # r6: narrow projection + round-robin fan-out BEFORE the Arrow JW
    # kernel — the block join's AQE-coalesced output otherwise runs the
    # Python UDF on 1-2 tasks (measured ~7 s serial for the 880k-pair
    # JW pass at sf0.1; fanned out it is sub-second). Same lesson, same
    # shape as operators/scoring.py's documented narrow exchange.
    p = p.select(
        "id_a", "id_b", "block_key", *[F.col(f"{c}_{s}") for c in cols for s in ("a", "b")]
    ).repartition(p.sparkSession.sparkContext.defaultParallelism)

    def lev_sim(x, y):
        ml = F.greatest(F.length(x), F.length(y))
        return F.when(ml == 0, F.lit(1.0)).otherwise(1.0 - F.levenshtein(x, y) / ml.cast("double"))

    score = (
        0.4 * jaro_winkler_udf(F.col("house_no_a"), F.col("house_no_b"))
        + 0.3 * jaro_winkler_udf(F.col("street_a"), F.col("street_b"))
        + 0.2 * lev_sim(F.col("city_a"), F.col("city_b"))
        + 0.1 * F.when(F.col("pincode_a") == F.col("pincode_b"), 1.0).otherwise(0.0)
    )
    return p.select("id_a", "id_b", F.round(score, 6).alias("score"), "block_key")


def q_er_pair_scores(spark, sf_dir):
    return _scored_pairs(spark, sf_dir).select("id_a", "id_b", "score")


def q_er_edges(spark, sf_dir):
    return q_er_pair_scores(spark, sf_dir).where(F.col("score") >= SCORE_THRESHOLD)


def q_er_clusters(spark, sf_dir):
    """Both ends of every edge share its ``block_key`` (the pairs join on
    it), so CC is the block-local union-find (operators/cc.py)."""
    from indian_address_parser_spark.operators.cc import block_local_components

    # zero-pad ids: CC compares lexicographically, the oracle numerically
    pad = lambda c: F.lpad(c.cast("string"), 12, "0")  # noqa: E731
    edges = _scored_pairs(spark, sf_dir).where(F.col("score") >= SCORE_THRESHOLD).select(
        pad(F.col("id_a")).alias("src"),
        pad(F.col("id_b")).alias("dst"),
        "block_key",
    )
    nodes = _docs(spark, sf_dir).select(pad(F.col("doc_id")).alias("mention_id"))
    asn = block_local_components(edges)
    out = nodes.join(asn, "mention_id", "left")
    return out.select(
        F.col("mention_id").cast("bigint").alias("doc_id"),
        F.coalesce(F.col("cluster_id"), F.col("mention_id")).cast("bigint").alias("cluster_id"),
    )


def q_er_cluster_sizes(spark, sf_dir):
    return (
        q_er_clusters(spark, sf_dir)
        .groupBy("cluster_id")
        .agg(F.count("*").alias("n"))
        .groupBy("n")
        .agg(F.count("*").alias("n_clusters"))
    )


# --- full-pipeline ground-truth projections --------------------------------
#
# The mapInPandas extraction path (reference-parity rules extractor) is not
# SQL-expressible, so the full synthetic-pages pipeline cannot be replayed
# operator-by-operator in DuckDB. But the pages GENERATOR is pure modular
# arithmetic (sources/pages.py), so its ground truth is: the oracle computes
# what a correct pipeline MUST output directly from the generative model
# (households → variants → pages), while Spark runs the real pipeline
# (mapInPandas extraction → soundex blocking → JW/Lev scoring → block-local
# CC).
# This is an end-to-end correctness gate stronger than same-algorithm
# replay: ANY stage regression (missed mention, dropped edge, merged
# households) shifts these projections and fails the hash.

_PIPE_HH = 200  # households in the driver-facing pipeline fixture
# page count formula mirrored from sources/pages.py generate()
_PIPE_PAGES = max(1, (_PIPE_HH * 5 // 2) // 2)


def _pipeline_mentions(spark):
    """Real mapInPandas extraction over the synthetic pages fixture."""
    from indian_address_parser_spark.operators.extract import extract_mentions
    from indian_address_parser_spark.sources.pages import generate

    pages = generate(spark, n_households=_PIPE_HH)["pages"]
    return extract_mentions(pages)


def _pipeline_clusters(spark):
    """Full chain: extraction → blocking → scoring → CC → attach.

    Shared by the oracled cluster-size projection below AND the rows-only
    ``er_pipeline_full`` driver entry (__spark_entry__.py) — one wiring,
    one fixture size. The edges carry their ``block_key``, so CC is the
    block-local union-find the batch pipeline uses (operators/cc.py)."""
    from indian_address_parser_spark.operators.blocking import with_block_key
    from indian_address_parser_spark.operators.cc import (
        attach_clusters,
        block_local_components,
    )
    from indian_address_parser_spark.operators.pairs import candidate_pairs
    from indian_address_parser_spark.operators.scoring import score_pairs

    mentions = _pipeline_mentions(spark)
    edges = score_pairs(candidate_pairs(with_block_key(mentions)))
    return attach_clusters(
        mentions.select("mention_id"), block_local_components(edges)
    )


def q_er_pipeline_cluster_sizes(spark, sf_dir):
    """Cluster-size histogram of the REAL pipeline on the synthetic fixture.

    Correct clustering ⇔ one cluster per household ⇔ the histogram equals
    the distribution of variants-per-household from the generative model
    (1 if h%7==0 else h%3+2)."""
    clusters = _pipeline_clusters(spark)
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count("*").alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
    )


def q_er_incremental_cluster_sizes(spark, sf_dir):
    """Cluster-size histogram of the INCREMENTAL (foreachBatch) resolver
    (streaming/incremental_er.py) over the same synthetic fixture,
    resolved as two url-split micro-batches against a fresh state store.

    Correct incremental resolution ⇔ the final partition equals the batch
    pipeline's ⇔ the histogram equals the generator's closed-form
    variants-per-household distribution — the SAME oracle as
    er_pipeline_cluster_sizes, so any drift between the streaming and
    batch semantics lands as a hash mismatch. (Cluster IDs may differ
    from the batch run — first-rep-wins labels a cluster by the earliest
    batch's min mention — but the partition, and hence the sizes,
    cannot.) The tiny histogram is collected before the temp state store
    is deleted; everything upstream is the distributed operator chain."""
    import shutil
    import tempfile

    from indian_address_parser_spark.sources.pages import generate
    from indian_address_parser_spark.streaming.incremental_er import process_batch

    pages = generate(spark, n_households=_PIPE_HH)["pages"]
    half = F.crc32(F.col("url")) % 2
    base = tempfile.mkdtemp(prefix="spark_graft_incr_er_")
    try:
        state, asg = f"{base}/state", f"{base}/assign"
        for i in (0, 1):
            process_batch(pages.where(half == i), i, state, asg)
        assigns = (
            spark.read.parquet(asg).select("mention_id", "cluster_id").distinct()
        )
        rows = (
            assigns.groupBy("cluster_id")
            .agg(F.count("*").alias("cluster_size"))
            .groupBy("cluster_size")
            .agg(F.count("*").alias("n_clusters"))
            .collect()
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, "cluster_size bigint, n_clusters bigint")


def q_er_reconciled_cluster_sizes(spark, sf_dir):
    """Cluster-size histogram AFTER the periodic batch reconcile
    (streaming/incremental_er.reconcile) over a two-micro-batch
    incremental run (same url split as er_incremental_cluster_sizes,
    fresh state + mention stores). Reconcile must restore the batch
    pipeline's partition, so the oracle is the SAME closed-form generator
    histogram as er_pipeline_cluster_sizes. The stronger property — a
    provably DIVERGENT incremental partition (household split across
    batches with no cross-batch attach) that reconcile equalizes to the
    batch partition mention-by-mention — is asserted in
    tests/test_incremental_er.py."""
    import shutil
    import tempfile

    from indian_address_parser_spark.sources.pages import generate
    from indian_address_parser_spark.streaming.incremental_er import (
        process_batch,
        reconcile,
    )

    pages = generate(spark, n_households=_PIPE_HH)["pages"]
    half = F.crc32(F.col("url")) % 2
    base = tempfile.mkdtemp(prefix="spark_graft_reconcile_er_")
    try:
        state, asg, men = f"{base}/state", f"{base}/assign", f"{base}/mentions"
        for i in (0, 1):
            process_batch(pages.where(half == i), i, state, asg, mentions_dir=men)
        rows = (
            reconcile(spark, men, asg)
            .groupBy("cluster_id")
            .agg(F.count("*").alias("cluster_size"))
            .groupBy("cluster_size")
            .agg(F.count("*").alias("n_clusters"))
            .collect()
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, "cluster_size bigint, n_clusters bigint")


def q_er_extract_mention_counts(spark, sf_dir):
    """Per-url mention counts from the REAL mapInPandas extractor.

    Correct extraction ⇔ every generated mention line is recovered exactly
    once ⇔ per-url counts equal the generator's page-assignment arithmetic
    (mention_idx = h*4+v, page = mention_idx % n_pages). Builds only the
    extraction stage — not the (eagerly-executing) clustering chain."""
    return _pipeline_mentions(spark).groupBy("url").agg(
        F.count("*").alias("n_mentions")
    )


def _oracle_pipeline_hh() -> str:
    return (
        f"SELECT range AS h, CASE WHEN range % 7 = 0 THEN 1 "
        f"ELSE (range % 3) + 2 END AS nv FROM range({_PIPE_HH})"
    )


def _oracle_er_pipeline_cluster_sizes() -> str:
    return f"""
    WITH hh AS ({_oracle_pipeline_hh()})
    SELECT CAST(nv AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters
    FROM hh GROUP BY nv
    """


def _oracle_er_extract_mention_counts() -> str:
    return f"""
    WITH hh AS ({_oracle_pipeline_hh()}),
    m AS (
      SELECT h, u.v FROM hh JOIN (SELECT range AS v FROM range(4)) u
        ON u.v < hh.nv
    ),
    pg AS (SELECT (h * 4 + v) % {_PIPE_PAGES} AS page FROM m)
    SELECT 'https://example.org/p/' || lpad(CAST(page AS varchar), 10, '0') AS url,
           CAST(count(*) AS BIGINT) AS n_mentions
    FROM pg GROUP BY page
    """


def _oracle_blocked() -> str:
    return f"""
    SELECT *, pincode || '|' || city AS block_key FROM ({_oracle_norm_fields()})
    """


def _oracle_scored() -> str:
    return f"""
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(0.4 * jaro_winkler_similarity(a.house_no, b.house_no)
               + 0.3 * jaro_winkler_similarity(a.street, b.street)
               + 0.2 * (CASE WHEN greatest(length(a.city), length(b.city)) = 0 THEN 1.0
                        ELSE 1.0 - levenshtein(a.city, b.city)
                             / cast(greatest(length(a.city), length(b.city)) AS double) END)
               + 0.1 * (CASE WHEN a.pincode = b.pincode THEN 1.0 ELSE 0.0 END), 6) AS score
    FROM ({_oracle_blocked()}) a JOIN ({_oracle_blocked()}) b
      ON a.block_key = b.block_key AND a.doc_id < b.doc_id
    """


def oracles() -> dict[str, str]:
    """DuckDB oracle SQL per registered ``er_*`` query."""
    norm = normalize_sql(addr_sql())
    return {
        "er_normalize": f"SELECT doc_id, {norm} AS normalized FROM documents",
        "er_extract_fields": _oracle_norm_fields(),
        "er_block_key": f"SELECT doc_id, pincode || '|' || city AS block_key FROM ({_oracle_norm_fields()})",
        "er_candidate_pairs": f"""
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.block_key
            FROM ({_oracle_blocked()}) a JOIN ({_oracle_blocked()}) b
              ON a.block_key = b.block_key AND a.doc_id < b.doc_id
        """,
        "er_pair_scores": _oracle_scored(),
        "er_edges": f"SELECT * FROM ({_oracle_scored()}) WHERE score >= {SCORE_THRESHOLD}",
        "er_clusters": f"""
            WITH RECURSIVE edges AS (
              SELECT id_a, id_b FROM ({_oracle_scored()}) WHERE score >= {SCORE_THRESHOLD}
            ),
            undirected AS (
              SELECT id_a AS u, id_b AS v FROM edges
              UNION SELECT id_b, id_a FROM edges
            ),
            reach(u, v) AS (
              SELECT u, v FROM undirected
              UNION
              SELECT r.u, e.v FROM reach r JOIN undirected e ON r.v = e.u
            )
            SELECT d.doc_id,
                   least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS cluster_id
            FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
            GROUP BY d.doc_id
        """,
        "er_cluster_sizes": f"""
            WITH RECURSIVE edges AS (
              SELECT id_a, id_b FROM ({_oracle_scored()}) WHERE score >= {SCORE_THRESHOLD}
            ),
            undirected AS (
              SELECT id_a AS u, id_b AS v FROM edges
              UNION SELECT id_b, id_a FROM edges
            ),
            reach(u, v) AS (
              SELECT u, v FROM undirected
              UNION
              SELECT r.u, e.v FROM reach r JOIN undirected e ON r.v = e.u
            ),
            clusters AS (
              SELECT d.doc_id,
                     least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS cluster_id
              FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
              GROUP BY d.doc_id
            )
            SELECT n, count(*) AS n_clusters FROM (
              SELECT cluster_id, count(*) AS n FROM clusters GROUP BY cluster_id
            ) GROUP BY n
        """,
        "er_pipeline_cluster_sizes": _oracle_er_pipeline_cluster_sizes(),
        # incremental (foreachBatch) resolver must reproduce the SAME
        # partition — identical closed-form oracle as the batch pipeline
        "er_incremental_cluster_sizes": _oracle_er_pipeline_cluster_sizes(),
        # ... and so must reconcile(incremental): it provably restores the
        # batch partition from a DIVERGED incremental run (see
        # streaming/incremental_er.py reconcile docstring)
        "er_reconciled_cluster_sizes": _oracle_er_pipeline_cluster_sizes(),
        "er_extract_mention_counts": _oracle_er_extract_mention_counts(),
    }
