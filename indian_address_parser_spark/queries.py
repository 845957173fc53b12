"""Driver-facing query registry: Spark implementations + DuckDB oracles.

Each entry exercises one operator family from SURVEY.md §2 over the
driver-provided tables at ``sf_dir``. The ER-stage queries run over a
DERIVED ADDRESS column built with identical deterministic arithmetic in
both engines (documents.doc_id → address string), so DuckDB can
oracle-check normalization, extraction regexes, blocking, candidate
pairs, similarity scoring and transitive clustering end-to-end.

Column names are aliased identically on both sides (driver hash-compares
by sorted column name).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from indian_address_parser_spark.core.normalizer import ABBREVIATION_RULES
from indian_address_parser_spark.sources.pages import COLONIES, PINCODES, SUBAREAS

# ---------------------------------------------------------------------------
# derived address (shared arithmetic)
# ---------------------------------------------------------------------------

HOUSE_STYLES = ("H.NO ", "HOUSE NO ", "HNO ", "H NO ")
GALI_STYLES = ("GALI NO ", "GALI ", "LANE ")


def _pick_spark(values, idx):
    return F.element_at(F.array(*[F.lit(v) for v in values]), (idx % len(values) + 1).cast("int"))


def _pick_sql(values, idx_expr):
    cases = " ".join(
        f"WHEN {i} THEN '{v}'" for i, v in enumerate(values)
    )
    return f"(CASE ({idx_expr}) % {len(values)} {cases} END)"


def addr_spark(doc_id):
    """Derived address column (Spark)."""
    hn = (doc_id % 997 + 1).cast("string")
    gn = (doc_id % 23 + 1).cast("string")
    parts = [
        _pick_spark(HOUSE_STYLES, doc_id), hn,
        F.lit(", "), _pick_spark(GALI_STYLES, doc_id), gn,
        F.lit(", "), _pick_spark(COLONIES, doc_id % 11),
    ]
    subarea = F.when(
        doc_id % 3 != 0, F.concat(F.lit(", "), _pick_spark(SUBAREAS, doc_id % 7))
    ).otherwise(F.lit(""))
    city = F.when(doc_id % 10 < 8, F.lit("NEW DELHI")).otherwise(F.lit("DELHI"))
    pin = F.when(doc_id % 5 == 0, F.lit("110041")).otherwise(_pick_spark(PINCODES, doc_id % 13))
    return F.concat(*parts, subarea, F.lit(", "), city, F.lit(" "), pin)


def addr_sql(doc_id: str = "doc_id") -> str:
    """Same derived address in DuckDB SQL."""
    hn = f"cast({doc_id} % 997 + 1 as varchar)"
    gn = f"cast({doc_id} % 23 + 1 as varchar)"
    subarea = (
        f"(CASE WHEN {doc_id} % 3 <> 0 THEN ', ' || {_pick_sql(SUBAREAS, f'{doc_id} % 7')} "
        f"ELSE '' END)"
    )
    city = f"(CASE WHEN {doc_id} % 10 < 8 THEN 'NEW DELHI' ELSE 'DELHI' END)"
    pin = f"(CASE WHEN {doc_id} % 5 = 0 THEN '110041' ELSE {_pick_sql(PINCODES, f'{doc_id} % 13')} END)"
    return (
        f"({_pick_sql(HOUSE_STYLES, doc_id)} || {hn} || ', ' || "
        f"{_pick_sql(GALI_STYLES, doc_id)} || {gn} || ', ' || "
        f"{_pick_sql(COLONIES, f'{doc_id} % 11')} || {subarea} || ', ' || {city} || ' ' || {pin})"
    )


# ---------------------------------------------------------------------------
# normalization as SQL (oracle for the pandas-UDF normalizer)
# ---------------------------------------------------------------------------

_WS_STEPS = [
    (r"\s+", " "),
    (r"\s*,\s*", ", "),
    (r"\s*-\s*", "-"),
]
_PUNCT_STEPS = [
    (r"[–—]", "-"),
    (r",+", ","),
    (r"-+", "-"),
    (r"-,", ","),
]


def normalize_sql(expr: str) -> str:
    """The P1 chain as nested DuckDB regexp_replace calls.

    upper() is hoisted to the front (the abbreviation rules are
    case-insensitive with uppercase replacements, so expand∘upper ==
    upper∘expand — see core/normalizer.py).
    """
    out = f"upper({expr})"
    for pat, rep in _WS_STEPS:
        out = f"regexp_replace({out}, '{pat}', '{rep}', 'g')"
    out = f"trim({out})"
    for pat, rep in _PUNCT_STEPS:
        out = f"regexp_replace({out}, '{pat}', '{rep}', 'g')"
    for pat, rep in ABBREVIATION_RULES:
        p = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{p}', '{rep}', 'g')"
    for pat, rep in _WS_STEPS:
        out = f"regexp_replace({out}, '{pat}', '{rep}', 'g')"
    return f"trim({out})"


# regexes shared verbatim by Spark (Java regex) and DuckDB (RE2)
HOUSE_RE = r"\b(?:H\.?\s*NO\.?|HOUSE\s*NO\.?|HNO)\s*[A-Z]?\d+[A-Z]?(?:[-/]\d+)*\b"
GALI_RE = r"\b(?:GALI|GALLI|LANE)\s*(?:NO\.?)?\s*\d+[A-Z]?\b"
PIN_RE = r"\b[1-9]\d{5}\b"
LAST_DELHI_RE = r".*\b(DELHI)\b"

STOPWORDS = ("a", "the", "and", "of", "to", "in", "is", "on", "for", "with")

SCORE_THRESHOLD = 0.84


# ---------------------------------------------------------------------------
# Spark query implementations
# ---------------------------------------------------------------------------


from pyspark import StorageLevel as _SL

_CKPT_LEVEL = getattr(_SL, "MEMORY_AND_DISK_SER", _SL.MEMORY_AND_DISK)


# Shared-subtree checkpoints below are EAGER (under AQE a lazy checkpoint
# materializes every upstream stage at construction anyway and then
# re-executes the final stage — see operators/cc._truncate) and
# SERIALIZED (a bench session runs ~25 queries back-to-back, each parking
# checkpointed frames until driver GC + ContextCleaner release them;
# deserialized caching of those frames is pure JVM object/GC pressure —
# the same measured lesson as bench.py's MEMORY_AND_DISK_SER persists).

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _with_addr(spark, sf_dir) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select("doc_id", addr_spark(F.col("doc_id")).alias("addr"))


def q_er_synth_addr(spark, sf_dir):
    return _with_addr(spark, sf_dir)


def q_er_normalize(spark, sf_dir):
    from indian_address_parser_spark.functions.udfs import normalize_udf

    return _with_addr(spark, sf_dir).select(
        "doc_id", normalize_udf(F.col("addr")).alias("normalized")
    )


def _norm_fields(spark, sf_dir) -> DataFrame:
    """doc_id, normalized + extracted fields — shared by several queries."""
    from indian_address_parser_spark.functions.udfs import normalize_udf

    n = _with_addr(spark, sf_dir).select(
        "doc_id", normalize_udf(F.col("addr")).alias("normalized")
    )
    return n.select(
        "doc_id",
        "normalized",
        F.regexp_extract("normalized", HOUSE_RE, 0).alias("house_no"),
        F.regexp_extract("normalized", GALI_RE, 0).alias("street"),
        F.regexp_extract("normalized", PIN_RE, 0).alias("pincode"),
        F.when(
            F.col("normalized").rlike(r"\bNEW DELHI\b"), F.lit("NEW DELHI")
        )
        .otherwise(F.regexp_extract("normalized", LAST_DELHI_RE, 1))
        .alias("city"),
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


# --- dedup -----------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return (
        d.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(F.count("*").alias("n"), F.min("doc_id").alias("keeper"))
        .where(F.col("n") > 1)
    )


def _shingles(
    spark, sf_dir, k: int = 3, split_scan: bool = True, by_doc: bool = False
) -> DataFrame:
    """(doc_id, shingle) exploded k-shingles.

    ``split_scan`` (r6): the documents table is one small parquet file →
    one scan task, so everything downstream (shingle explode, the
    128-permutation signature partial aggregations) ran single-threaded —
    the measured bottleneck of the whole dedup family (md5 signature agg:
    78 s serial vs 11 s at 32 tasks). One round-robin exchange of the
    5000 (doc_id, words) rows (~1 MB) fans the explode and every partial
    aggregation across the cores (guide §2.5 "input skew: repartition
    immediately after the read"). ``by_doc`` hash-partitions the
    pre-explode rows by doc_id instead — same parallelism, but every
    doc's shingles land wholly in one task (what the md5 signature
    kernel needs) while shuffling the compact pre-explode word arrays
    (~0.5 MB) rather than the exploded shingle stream (~12 MB).
    """
    d = _docs(spark, sf_dir).select("doc_id", F.split(F.col("text"), " ").alias("w"))
    if by_doc:
        d = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    elif split_scan:
        d = d.repartition(spark.sparkContext.defaultParallelism)
    d = d.withColumn(
        "sh",
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size("w") - k, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice(F.col("w"), i + 1, k)),
            )
        ),
    )
    return d.select("doc_id", F.explode("sh").alias("shingle"))


def q_dedup_ngram_jaccard(spark, sf_dir):
    sh = _shingles(spark, sf_dir)
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("shingle").alias("sh2"))
    inter = (
        a.join(b, (F.col("shingle") == F.col("sh2")) & (F.col("id_a") < F.col("id_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    ca = counts.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("na"))
    cb = counts.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("nb"))
    j = (
        inter.join(ca, "id_a")
        .join(cb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6
            ),
        )
    )
    return j.where(F.col("jaccard") >= 0.5).select("id_a", "id_b", "jaccard")


N_PERMS = 128  # crawl-grade MinHash: 128 permutations, 32 bands × 4 rows
N_BANDS = 32
DF_CAP = 50  # shingle document-frequency cap (see q_dedup_ngram_jaccard)


def _minhash_sig(spark, sf_dir, n_perms: int) -> DataFrame:
    """Parameterized MinHash signatures: one hash-agg pass, ``n_perms``
    partial-aggregated mins — scale shape is a single groupBy regardless of
    permutation count. md5 (not xxhash64) so DuckDB reproduces it exactly."""
    sh = _shingles(spark, sf_dir)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{seed}|"), F.col("shingle")))).alias(f"mh{seed}")
        for seed in range(n_perms)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _minhash_sig_md5_arrow(spark, sf_dir, n_perms: int = N_PERMS) -> DataFrame:
    """md5 MinHash signatures via a per-doc Arrow kernel (r6).

    Byte-identical to :func:`_minhash_sig` (min over the lowercase-hex
    md5 of ``"{seed}|" + shingle`` per permutation — the DuckDB-parity
    requirement), computed the way the optimization guide §4.2
    recommends: ONE hash exchange of the thin (doc_id, shingle) rows, then
    a mapInPandas kernel holds each doc's 128 running minima as 16-byte
    digests (digest order == hex order) and emits one final signature row
    per doc. The JVM formulation paid for 128 ``min(string)`` aggregation
    buffers — var-length buffers force sort-based aggregation, measured
    78 s single-task / 11 s at 32 tasks for what this kernel does in ~1 s.
    The md5 chain exists for the oracle gate; the production path is the
    xxhash64 twin (JVM codegen, partial-aggregated, no Python)."""
    import pandas as pd
    from pyspark.sql import types as T

    sh = _shingles(spark, sf_dir, by_doc=True)
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType())]
        + [T.StructField(f"mh{s}", T.StringType()) for s in range(n_perms)]
    )

    def kernel(batches):
        import hashlib

        md5 = hashlib.md5
        prefixes = [f"{s}|".encode() for s in range(n_perms)]
        mins: dict = {}
        for pdf in batches:
            for doc, shingle in zip(pdf["doc_id"].to_numpy(), pdf["shingle"]):
                b = shingle.encode()
                row = mins.get(doc)
                if row is None:
                    mins[doc] = [md5(p + b).digest() for p in prefixes]
                else:
                    for i, p in enumerate(prefixes):
                        d = md5(p + b).digest()
                        if d < row[i]:
                            row[i] = d
        if mins:
            docs = sorted(mins)
            data = {"doc_id": docs}
            for i in range(n_perms):
                data[f"mh{i}"] = [mins[doc][i].hex() for doc in docs]
            yield pd.DataFrame(data)

    return sh.mapInPandas(kernel, schema)


def _band_pairs(sig: DataFrame, r: int) -> DataFrame:
    """(doc_id, mh0..mhN) signatures → unordered candidate pairs sharing at
    least one band of ``r`` consecutive signature values. Bucketed band
    join, never all-pairs: scales as sum of bucket sizes².

    The stacked band frame is eagerly localCheckpoint-ed (r6): a self-join
    on a derived frame otherwise executes the full signature subtree
    TWICE — the round-5 plans show two complete scan→shingle→128-min
    aggregation pipelines feeding the join (guide §2.4: share one
    computation across both join branches; same device as the CC loop's
    edge-input checkpoint)."""
    band_cols = [
        F.concat_ws(
            "|", F.lit(str(b)), *[F.col(f"mh{b * r + i}").cast("string") for i in range(r)]
        )
        for b in range(N_BANDS)
    ]
    stacked = sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("band")
    ).localCheckpoint(eager=True, storageLevel=_CKPT_LEVEL)
    a = stacked.select(F.col("doc_id").alias("id_a"), "band")
    b = stacked.select(F.col("doc_id").alias("id_b"), F.col("band").alias("bd"))
    return (
        a.join(b, (F.col("band") == F.col("bd")) & (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b")
        .distinct()
    )


def q_dedup_minhash128_band_pairs(spark, sf_dir):
    """Crawl-grade LSH near-dup candidates: 128-perm MinHash in 32 bands of
    r=4 (P[pair surfaces] = 1-(1-j^4)^32 — ~0.5 crossover at j≈0.59).
    md5 signatures so DuckDB replays them exactly (the oracle gate); the
    production path is :func:`q_dedup_minhash128_xxhash_band_pairs`.
    r6: signatures come from the Arrow min-digest kernel
    (:func:`_minhash_sig_md5_arrow` — bit-identical output, ~7× faster
    than the sort-based 128×min(string) aggregation it replaces)."""
    return _band_pairs(_minhash_sig_md5_arrow(spark, sf_dir), N_PERMS // N_BANDS)


def q_dedup_minhash128_xxhash_band_pairs(spark, sf_dir):
    """Production twin of :func:`q_dedup_minhash128_band_pairs`: xxhash64
    signatures instead of md5 — same single-groupBy shape and identical
    32×4 band semantics, ~4× cheaper hashing (xxhash64 is a JVM codegen
    long op; md5 allocates a hex string per shingle per permutation). No
    DuckDB oracle (xxhash64 is Spark-internal); equivalence with the
    oracled md5 variant is property-tested: identical shingle sets ⇒
    identical signatures ⇒ all 32 bands collide in both, and on the
    fixture both variants surface every true near-dup pair
    (tests/test_dedup_sim.py). The 128 long min-aggregates stay on the
    JVM hash-agg fast path; _shingles' scan-split exchange (r6) fans the
    partial aggregation across the cores instead of the single scan task
    the one-file documents table used to produce."""
    sh = _shingles(spark, sf_dir)
    aggs = [
        F.min(F.xxhash64(F.lit(seed), F.col("shingle"))).alias(f"mh{seed}")
        for seed in range(N_PERMS)
    ]
    return _band_pairs(sh.groupBy("doc_id").agg(*aggs), N_PERMS // N_BANDS)


def q_dedup_ngram_jaccard_dfcap(spark, sf_dir):
    """N-gram Jaccard with a shingle document-frequency cap: shingles seen in
    more than DF_CAP docs are excluded from the INTERSECTION join (they are
    stopword-grade and produce quadratic pair blow-up at crawl scale — a hot
    boilerplate 3-gram shared by 10^6 pages alone generates 5·10^11 pairs).
    Denominators keep the full shingle counts, so the capped jaccard is a
    documented lower bound of the true one.

    r6: the shingle frame feeds FOUR consumers (per-doc counts, the DF
    histogram, and both sides of the rare-shingle self-join) — without a
    checkpoint each consumer re-ran the scan→split→explode subtree (six
    evaluations counting the join's two branches). One eager
    localCheckpoint of the exploded rows (and one of ``rare``, consumed
    by both join sides) executes it once (guide §2.4)."""
    sh = _shingles(spark, sf_dir).localCheckpoint(eager=True, storageLevel=_CKPT_LEVEL)
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    df_counts = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    rare = sh.join(
        df_counts.where(F.col("df") <= DF_CAP).select("shingle"), "shingle"
    ).localCheckpoint(eager=True, storageLevel=_CKPT_LEVEL)
    a = rare.select(F.col("doc_id").alias("id_a"), "shingle")
    b = rare.select(F.col("doc_id").alias("id_b"), F.col("shingle").alias("sh2"))
    inter = (
        a.join(b, (F.col("shingle") == F.col("sh2")) & (F.col("id_a") < F.col("id_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    ca = counts.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("na"))
    cb = counts.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("nb"))
    j = (
        inter.join(ca, "id_a")
        .join(cb, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6),
        )
    )
    return j.where(F.col("jaccard") >= 0.5).select("id_a", "id_b", "jaccard")


# hex-nibble membership sets for bit tests (bit 3 = MSB of the nibble) —
# identical string predicates on both engines, no numeric conversion
_NIBBLE_BIT_SETS = {3: "89abcdef", 2: "4567cdef", 1: "2367abef", 0: "13579bdf"}


def _simhash64_bands(spark, sf_dir) -> DataFrame:
    """64-bit SimHash as four 16-bit band integers b0..b3 (single hash-agg
    pass: 64 ±1 vote sums per doc). r6: the one-file documents scan is
    round-robin split before the word explode so the 64-column partial
    aggregation runs on every core instead of the single scan task."""
    d = (
        _docs(spark, sf_dir)
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("w"))
    )
    d = d.withColumn("h", F.md5("w"))
    vote_cols = []
    for j in range(64):
        nibble = F.substring("h", j // 4 + 1, 1)
        members = _NIBBLE_BIT_SETS[3 - j % 4]
        vote_cols.append(
            F.sum(
                F.when(nibble.isin(*list(members)), 1).otherwise(-1)
            ).alias(f"s{j}")
        )
    agg = d.groupBy("doc_id").agg(*vote_cols)
    band_exprs = []
    for k in range(4):
        terms = [
            F.when(F.col(f"s{16 * k + i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
            for i in range(16)
        ]
        band_exprs.append(sum(terms[1:], terms[0]).cast("int").alias(f"b{k}"))
    return agg.select("doc_id", *band_exprs)


def q_dedup_simhash64(spark, sf_dir):
    return _simhash64_bands(spark, sf_dir)


def q_dedup_simhash_pairs(spark, sf_dir, max_hamming: int = 3):
    """Banded-Hamming near-dup pairs: by pigeonhole, any two signatures with
    Hamming distance ≤ 3 agree on at least one of the 4 16-bit bands, so a
    band-bucket join finds ALL such pairs without an all-pairs scan; the
    exact 64-bit Hamming distance then filters bucket collisions.
    r6: the stacked band frame is eagerly localCheckpoint-ed so the
    self-join's two branches share ONE signature aggregation instead of
    re-running the scan→explode→64-sum subtree per side (guide §2.4)."""
    sig = _simhash64_bands(spark, sf_dir)
    bands = sig.select(
        "doc_id", "b0", "b1", "b2", "b3",
        F.explode(
            F.array(*[
                F.concat_ws(":", F.lit(str(k)), F.col(f"b{k}").cast("string"))
                for k in range(4)
            ])
        ).alias("band"),
    ).localCheckpoint(eager=True, storageLevel=_CKPT_LEVEL)
    a = bands.select(
        F.col("doc_id").alias("id_a"), "band",
        *[F.col(f"b{k}").alias(f"b{k}_a") for k in range(4)],
    )
    b = bands.select(
        F.col("doc_id").alias("id_b"), F.col("band").alias("bd"),
        *[F.col(f"b{k}").alias(f"b{k}_b") for k in range(4)],
    )
    cand = (
        a.join(b, (F.col("band") == F.col("bd")) & (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b", *[c for k in range(4) for c in (f"b{k}_a", f"b{k}_b")])
        .distinct()
    )
    hamming = sum(
        [
            F.bit_count(
                F.col(f"b{k}_a").cast("long").bitwiseXOR(F.col(f"b{k}_b").cast("long"))
            )
            for k in range(1, 4)
        ],
        F.bit_count(F.col("b0_a").cast("long").bitwiseXOR(F.col("b0_b").cast("long"))),
    )
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# --- text analysis ---------------------------------------------------------


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


# --- similarity search -----------------------------------------------------


def _emb_double(spark, sf_dir) -> DataFrame:
    return _emb(spark, sf_dir).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )


def _cosine(a, b):
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x))
    return dot / (na * nb)


def q_sim_cosine_topk(spark, sf_dir, k: int = 5):
    """Brute-force cosine top-k — still the deliberately-quadratic oracle
    baseline for the ANN paths (every vector is scored against every
    other). r6: the n²-row HOF join (interpreted 64-element fold per
    pair, array payloads flowing through a nested-loop join) became one
    narrow Arrow kernel over a broadcast (ids, matrix) — guide §4.2. The
    kernel emits every row that can reach the rounded top-k (candidate
    bound proof in veckernels.brute_topk_candidates); the round + window
    that perform the exact final selection are byte-identical to r5's."""
    from pyspark.sql import Window

    from indian_address_parser_spark.functions.veckernels import (
        brute_topk_candidates,
    )

    queries_df = (
        _emb(spark, sf_dir)
        .select("vec_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    scored = brute_topk_candidates(spark, sf_dir, queries_df, k).select(
        "id_a", "id_b", F.round("cos_raw", 6).alias("cos")
    )
    w = Window.partitionBy("id_a").orderBy(F.desc("cos"), F.asc("id_b"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("id_a", "id_b", "cos", "rk")
    )


def q_sim_topk_ivf_label(spark, sf_dir, k: int = 3):
    """IVF-style: restrict search to the coarse partition (label)."""
    from pyspark.sql import Window

    e = _emb_double(spark, sf_dir)
    a = e.select(F.col("vec_id").alias("id_a"), F.col("label").alias("lb"), F.col("v").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("label").alias("lb2"), F.col("v").alias("vb"))
    pairs = a.join(b, (F.col("lb") == F.col("lb2")) & (F.col("id_a") != F.col("id_b")))
    scored = pairs.select(
        "id_a", "id_b", F.round(_cosine(F.col("va"), F.col("vb")), 6).alias("cos")
    )
    w = Window.partitionBy("id_a").orderBy(F.desc("cos"), F.asc("id_b"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("id_a", "id_b", "cos", "rk")
    )


IVF_MIN_CELLS = 8  # learned coarse quantizer size bounds (k-means cells)
IVF_MAX_CELLS = 64
IVF_ITERS = 10  # Lloyd iterations (fixed count: deterministic)


def _ivf_table_rows(sf_dir: str) -> int:
    import os

    import pyarrow.parquet as pq

    # read_table (not ParquetFile) so directory-style datasets — the shape
    # Spark writes — work the same as single files; one thin column only
    return pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id"]
    ).num_rows


def ivf_cells_for(n_rows: int) -> int:
    """FAISS-style sizing: cells ≈ √n, clamped — per-cell population and
    cell count both grow as √n, so candidate volume per query stays
    O(nprobe·√n) instead of O(n/constant). The 64-cell cap fits the
    sandbox fixtures (≤5k vectors) AND the literal-embedding oracle; at
    crawl scale raise IVF_MAX_CELLS (√10⁹ ≈ 31k cells) — assignment
    already broadcasts the centroid matrix into one Arrow kernel
    (:func:`ivf_assign_cells`), so cell count never touches the plan
    size or shuffle volume."""
    return min(IVF_MAX_CELLS, max(IVF_MIN_CELLS, int(n_rows**0.5 // 2)))


def ivf_nprobe_for(n_cells: int) -> int:
    return max(2, n_cells // 8)


def train_ivf_centroids(
    sf_dir: str,
    n_cells: int | None = None,
    train_n: int | None = None,
    iters: int = IVF_ITERS,
) -> list[list[float]]:
    """Deterministic spherical k-means over a bounded sample: the LEARNED
    coarse quantizer for IVF search (vs :func:`q_sim_topk_ivf_label`'s
    given-label cells).

    Training is a driver/single-node step by design — the FAISS shape: at
    100 TB you sample ~10⁵ vectors (``df.sample().limit(n).collect()``),
    run Lloyd's locally, and broadcast the k·dim centroid matrix; only
    assignment and search distribute. Here the sample is the ``train_n``
    lowest vec_ids read driver-side via pyarrow, init is the first
    ``n_cells`` sample vectors, iteration count is fixed, and ties break
    on lowest cell index — bit-deterministic, so the Spark plan and the
    DuckDB oracle embed IDENTICAL centroid literals (rounded to 6dp)."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"]
    )
    if n_cells is None:
        n_cells = ivf_cells_for(t.num_rows)  # one read: size from the table itself
    if train_n is None:
        train_n = max(256, 16 * n_cells)
    pdf = t.to_pandas().sort_values("vec_id").head(train_n)
    X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    C = X[:n_cells].copy()
    for _ in range(iters):
        # assign by max dot (unit vectors: equivalent to min angle);
        # argmax breaks ties on lowest cell index
        a = (X @ C.T).argmax(axis=1)
        for c in range(n_cells):
            members = X[a == c]
            if len(members):
                m = members.mean(axis=0)
                C[c] = m / np.linalg.norm(m)
    return [[round(float(x), 6) for x in row] for row in C]


def ivf_assign_cells(spark, e: DataFrame, cents: list[list[float]], nprobe: int) -> DataFrame:
    """(vec_id, v) → (vec_id, cells: array<int>) — the ``nprobe`` best
    centroids per vector ordered by (dot DESC, cell ASC); ``cells[0]`` is
    the assignment cell.

    One NARROW Arrow pass over a broadcast centroid matrix: batch×dim @
    dim×cells matmul + stable argsort per batch. No explode, no shuffle —
    the previous posexplode(cells)+row_number-window form pushed
    O(n·cells) rows through one exchange, which at √n-sized cell counts
    is O(n^1.5) shuffled rows (3×10¹³ at 10⁹ vectors). Tie-break matches
    the SQL oracle: ``argsort(-D, kind='stable')`` keeps ascending cell
    order among equal dots."""
    import numpy as np

    from indian_address_parser_spark.functions.udfs import make_topcells_udf

    bc = spark.sparkContext.broadcast(np.asarray(cents, dtype=np.float64))
    topcells = make_topcells_udf(bc, nprobe)
    return e.select("vec_id", topcells("v").alias("cells"))


def q_sim_topk_ivf_kmeans(spark, sf_dir, k: int = 3, nprobe: int | None = None):
    """IVF top-k with a LEARNED coarse quantizer: assign every vector to
    its argmax-dot k-means cell, probe the ``nprobe`` best cells per
    query, exact cosine + window top-k inside the probed cells.

    Scale shape: assignment is one narrow Arrow kernel over broadcast
    centroids (see :func:`ivf_assign_cells` — no exchange between scan
    and assignment); search joins on cell (bucketed, never all-pairs;
    candidate volume ≈ n·nprobe/n_cells per query side). argmax dot over
    centroids is scale-invariant in |v|, so raw vectors need no
    normalization at assignment time."""
    from pyspark.sql import Window

    cents = train_ivf_centroids(sf_dir)
    if nprobe is None:
        nprobe = ivf_nprobe_for(len(cents))
    from indian_address_parser_spark.functions.veckernels import attach_pair_cos

    e = _emb_double(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )

    # r6: the assignment kernel feeds BOTH the probe and the assign side
    # of the candidate join — the eager localCheckpoint shares one Arrow
    # pass (r5 ran the centroid matmul twice); the exact re-rank cosine is
    # the broadcast-matrix Arrow kernel (bit-identical doubles — see
    # veckernels), so the two array-attach joins are gone and the pair
    # frame carries only 8-byte ids.
    assigned = ivf_assign_cells(spark, e, cents, nprobe).localCheckpoint(
        eager=True, storageLevel=_CKPT_LEVEL
    )
    assign = assigned.select(
        F.col("vec_id").alias("id_b"), F.element_at("cells", 1).alias("cell")
    )
    probes = assigned.select(
        F.col("vec_id").alias("id_a"), F.explode("cells").alias("pcell")
    )
    cand = probes.join(
        assign, (F.col("pcell") == F.col("cell")) & (F.col("id_a") != F.col("id_b"))
    ).select("id_a", "id_b")
    scored = attach_pair_cos(spark, sf_dir, cand).select(
        "id_a", "id_b", F.round("cos_raw", 6).alias("cos")
    )
    wk = Window.partitionBy("id_a").orderBy(F.desc("cos"), F.asc("id_b"))
    return (
        scored.withColumn("rk", F.row_number().over(wk))
        .where(F.col("rk") <= k)
        .select("id_a", "id_b", "cos", "rk")
    )


def _oracle_sim_topk_ivf_kmeans(sf_dir: str, k: int = 3, nprobe: int | None = None) -> str:
    cents = train_ivf_centroids(sf_dir)
    if nprobe is None:
        nprobe = ivf_nprobe_for(len(cents))
    rows = ", ".join(
        "(" + str(i) + ", [" + ", ".join(f"{x:.6f}" for x in c) + "]::DOUBLE[])"
        for i, c in enumerate(cents)
    )
    return f"""
    WITH cents(cell, c) AS (VALUES {rows}),
    dots AS (
      SELECT e.vec_id, ct.cell,
             list_dot_product(e.embedding::DOUBLE[], ct.c) AS dot
      FROM embeddings e CROSS JOIN cents ct
    ),
    ranked AS (
      SELECT vec_id, cell,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dot DESC, cell ASC) AS crk
      FROM dots
    ),
    assign AS (SELECT vec_id AS id_b, cell FROM ranked WHERE crk = 1),
    probes AS (SELECT vec_id AS id_a, cell FROM ranked WHERE crk <= {nprobe}),
    cand AS (
      SELECT q.id_a, d.id_b
      FROM probes q JOIN assign d ON d.cell = q.cell AND d.id_b <> q.id_a
    )
    SELECT id_a, id_b, cos, rk FROM (
      SELECT id_a, id_b,
             round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6) AS cos,
             row_number() OVER (
               PARTITION BY id_a
               ORDER BY list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) DESC,
                        id_b ASC
             ) AS rk
      FROM cand JOIN embeddings ea ON ea.vec_id = id_a
                JOIN embeddings eb ON eb.vec_id = id_b
    ) WHERE rk <= {k}
    """


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


N_PLANES = 16  # random-hyperplane LSH: 16 sign bits in 2 bands of 8
EMB_DIM = 64


def lsh_planes(n_planes: int = N_PLANES, dim: int = EMB_DIM) -> list[list[float]]:
    """Deterministic ±1 hyperplanes from md5 parity — both engines consume
    the SAME literal matrix, so the signatures agree by construction."""
    import hashlib

    return [
        [
            1.0 if int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[0], 16) >= 8 else -1.0
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def _lsh_band_stacked(spark, sf_dir) -> DataFrame:
    """(vec_id, band) stacked band keys from the Arrow plane-signature
    kernel, eagerly localCheckpoint-ed: the candidate self-join's two
    branches share ONE signature pass (r6 — the r5 plan evaluated the 16
    interpreted plane-dot folds twice per vector, once per join side)."""
    from indian_address_parser_spark.functions.veckernels import (
        plane_band_signature,
    )

    ids_df = (
        _emb(spark, sf_dir)
        .select("vec_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    sig = plane_band_signature(spark, sf_dir, ids_df)
    return sig.select(
        "vec_id",
        F.explode(
            F.array(
                F.concat_ws(":", F.lit("0"), F.col("band0").cast("string")),
                F.concat_ws(":", F.lit("1"), F.col("band1").cast("string")),
            )
        ).alias("band"),
    ).localCheckpoint(eager=True, storageLevel=_CKPT_LEVEL)


def q_sim_lsh_topk(spark, sf_dir, k: int = 5):
    """ANN top-k via random-hyperplane LSH over the embeddings table —
    see :func:`lsh_topk` for semantics and the recall/pruning trade
    (lsh_topk remains the embedding-frame-generic library operator).
    r6: band signatures and the exact re-rank cosine both run as Arrow
    kernels over the broadcast matrix (bit-identical doubles — see
    veckernels); the pair frame carries only 8-byte ids, so the two
    array-attach joins of the r5 plan are gone."""
    from pyspark.sql import Window

    from indian_address_parser_spark.functions.veckernels import attach_pair_cos

    stacked = _lsh_band_stacked(spark, sf_dir)
    a = stacked.select(F.col("vec_id").alias("id_a"), "band")
    b = stacked.select(F.col("vec_id").alias("id_b"), F.col("band").alias("bd"))
    cand = (
        a.join(b, (F.col("band") == F.col("bd")) & (F.col("id_a") != F.col("id_b")))
        .select("id_a", "id_b")
        .distinct()
    )
    scored = attach_pair_cos(spark, sf_dir, cand).select(
        "id_a", "id_b", F.round("cos_raw", 6).alias("cos")
    )
    w = Window.partitionBy("id_a").orderBy(F.desc("cos"), F.asc("id_b"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("id_a", "id_b", "cos", "rk")
    )


def lsh_topk(e: DataFrame, k: int = 5):
    """ANN top-k via random-hyperplane LSH: 16 sign bits → 2 bands of 8 →
    candidates share a band → EXACT cosine re-rank within candidates.
    Input: DataFrame(vec_id, v: array<double>).

    This is the scale path the brute-force q_sim_cosine_topk baselines:
    the pair space shrinks from n² to the sum of band-bucket sizes²
    (random pairs collide at ~0.8%), and every stage is a bucketed join —
    no all-pairs anywhere. The recall contract is NEAR-DUP radius: a pair
    at cosine c collides w.p. 1-(1-p^8)² for p = 1-arccos(c)/π, i.e. ≈0.9
    at c=0.95, ≈0.5 at c=0.8, and intentionally ~0 for unrelated vectors —
    widen bands (more, shorter) to trade pruning for radius. The DuckDB
    oracle implements identical semantics, so the approximation itself is
    hash-checked."""
    from pyspark.sql import Window

    planes = lsh_planes()

    def bit(p: int):
        arr = F.array(*[F.lit(s) for s in planes[p]])
        dot = F.aggregate(
            F.zip_with("v", arr, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )
        return F.when(dot >= 0, 1).otherwise(0)

    band0 = sum([bit(i) * F.lit(1 << i) for i in range(1, 8)], bit(0))
    band1 = sum([bit(8 + i) * F.lit(1 << i) for i in range(1, 8)], bit(8))
    sig = e.select(
        "vec_id", "v",
        band0.cast("int").alias("band0"),
        band1.cast("int").alias("band1"),
    )
    stacked = sig.select(
        "vec_id",
        F.explode(
            F.array(
                F.concat_ws(":", F.lit("0"), F.col("band0").cast("string")),
                F.concat_ws(":", F.lit("1"), F.col("band1").cast("string")),
            )
        ).alias("band"),
    )
    a = stacked.select(F.col("vec_id").alias("id_a"), "band")
    b = stacked.select(F.col("vec_id").alias("id_b"), F.col("band").alias("bd"))
    cand = (
        a.join(b, (F.col("band") == F.col("bd")) & (F.col("id_a") != F.col("id_b")))
        .select("id_a", "id_b")
        .distinct()
    )
    va = e.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    vb = e.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    scored = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a", "id_b",
            F.round(_cosine(F.col("va"), F.col("vb")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("id_a").orderBy(F.desc("cos"), F.asc("id_b"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("id_a", "id_b", "cos", "rk")
    )


COSINE_DEDUP_TAU = 0.3


def q_dedup_embedding_cosine(spark, sf_dir, tau: float = COSINE_DEDUP_TAU):
    """Embedding-cosine near-duplicate pairs: LSH band buckets (the same
    random-hyperplane signatures as :func:`lsh_topk`) generate candidates,
    exact cosine inside buckets keeps pairs ≥ tau — unordered (id_a<id_b),
    never all-pairs. This is the dedup-flavoured sibling of sim_lsh_topk:
    the bucketed join is the only scalable pair generator at crawl scale.
    Production embedding dedup runs tau ≈ 0.9 (LSH collision ≈ 0.77 per
    band pair at that radius); the synthetic embeddings table carries no
    true near-dups (max candidate cosine ≈ 0.47), so the bench threshold
    sits at the top of the data's similarity range to keep the operator's
    output non-empty and hash-checkable.
    r6: band signatures + exact pair cosine run as Arrow kernels over the
    broadcast matrix (same shared band-stack checkpoint as sim_lsh_topk;
    bit-identical doubles — see veckernels)."""
    from indian_address_parser_spark.functions.veckernels import attach_pair_cos

    stacked = _lsh_band_stacked(spark, sf_dir)
    a = stacked.select(F.col("vec_id").alias("id_a"), "band")
    b = stacked.select(F.col("vec_id").alias("id_b"), F.col("band").alias("bd"))
    cand = (
        a.join(b, (F.col("band") == F.col("bd")) & (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b")
        .distinct()
    )
    return (
        attach_pair_cos(spark, sf_dir, cand)
        .select("id_a", "id_b", F.round("cos_raw", 6).alias("cos"))
        .where(F.col("cos") >= tau)
    )


def _oracle_embedding_cosine(tau: float = COSINE_DEDUP_TAU) -> str:
    planes = lsh_planes()

    def arr(p):
        return "[" + ", ".join(f"{v:.1f}" for v in planes[p]) + "]"

    def bit(p):
        return (
            f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {arr(p)}) >= 0 "
            f"THEN 1 ELSE 0 END)"
        )

    band0 = " + ".join(f"{bit(i)} * {1 << i}" for i in range(8))
    band1 = " + ".join(f"{bit(8 + i)} * {1 << i}" for i in range(8))
    return f"""
    WITH sig AS (
      SELECT vec_id, embedding,
             CAST({band0} AS int) AS band0, CAST({band1} AS int) AS band1
      FROM embeddings
    ),
    bands AS (
      SELECT vec_id, '0' || ':' || CAST(band0 AS varchar) AS band FROM sig
      UNION ALL
      SELECT vec_id, '1' || ':' || CAST(band1 AS varchar) FROM sig
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cos FROM (
      SELECT id_a, id_b,
             round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6) AS cos
      FROM cand JOIN embeddings ea ON ea.vec_id = id_a
                JOIN embeddings eb ON eb.vec_id = id_b
    ) WHERE cos >= {tau}
    """


# --- relational coverage over TPC-H-ish tables -----------------------------


def q_agg_pricing_summary(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
            F.count("*").alias("count_order"),
        )
    )


def q_join_mktsegment_orders(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 4).alias("total"))
    )


def q_window_top_order_per_cust(spark, sf_dir):
    from pyspark.sql import Window

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 4).alias("top_price"))
    )


def q_dedup_canonical_keep(spark, sf_dir):
    """Near-dup CANONICALIZATION — the op a training-data pipeline actually
    ships: LSH candidate pairs (128-perm MinHash bands) → large/small-star
    connected components → keep ONE representative (lexicographic-min doc
    id) per duplicate cluster, emitting a full (doc_id, keep_id, is_kept)
    decision table over the corpus. Composes the oracled band-pair
    generator with the oracled CC operator, so the whole decision chain is
    hash-gated; at crawl scale every piece is the bucketed/skew-safe shape
    (no all-pairs, join-star rounds past the giant-degree guard)."""
    from indian_address_parser_spark.operators.cc import connected_components

    pairs = q_dedup_minhash128_band_pairs(spark, sf_dir)
    assign = connected_components(pairs, src="id_a", dst="id_b")
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.col("doc_id").cast("string").alias("mention_id")
    )
    return (
        docs.join(assign, "mention_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("mention_id")).alias("keep_id"),
        )
        .withColumn("is_kept", F.col("keep_id") == F.col("doc_id").cast("string"))
    )


def _oracle_dedup_canonical_keep() -> str:
    """Transitive closure over the (tiny) near-dup pair set via a recursive
    CTE, component label = lexicographic min — the same semantics as the
    star-CC operator, computed a completely different way."""
    return f"""
    WITH RECURSIVE pairs AS ({_oracle_minhash128_band_pairs()}),
    edges AS (
      SELECT cast(id_a AS varchar) AS a, cast(id_b AS varchar) AS b FROM pairs
      UNION SELECT cast(id_b AS varchar), cast(id_a AS varchar) FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a
    ),
    comp AS (SELECT a AS node, least(a, min(b)) AS keep FROM reach GROUP BY a)
    SELECT d.doc_id,
           coalesce(c.keep, cast(d.doc_id AS varchar)) AS keep_id,
           coalesce(c.keep, cast(d.doc_id AS varchar)) = cast(d.doc_id AS varchar) AS is_kept
    FROM documents d LEFT JOIN comp c ON cast(d.doc_id AS varchar) = c.node
    """


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


def q_join_regional_revenue(spark, sf_dir, region: str = "ASIA"):
    """TPC-H Q5 shape: revenue per nation inside one region — the 6-table
    join-reordering/broadcast benchmark. Scale shape: ``region`` and
    ``nation`` are O(10²) rows at ANY data scale → explicit broadcast
    (their filters then prune customer/supplier before the fact joins);
    the fact-side joins (orders⋈lineitem⋈supplier) stay shuffle joins
    that AQE can re-plan. Declared-only join order — Catalyst/CBO picks
    the physical order, which is the point of the exercise."""
    reg = spark.read.parquet(f"{sf_dir}/region.parquet").where(F.col("r_name") == region)
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
    )


def q_agg_pricing_rollup(spark, sf_dir):
    """ROLLUP (grouping-sets) coverage: pricing summary with subtotal and
    grand-total rows — one Expand + partial-agg pass in Catalyst, no extra
    shuffles vs the flat groupBy."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
    )


def q_agg_events_windowed(spark, sf_dir):
    """Tumbling event-time windows in BATCH over the events table — the
    batch analog of the streaming windowed counts (streaming/stream.py):
    1-hour epoch-aligned buckets per event_type, one partial-aggregated
    hash agg (window start is a row-local expression, no Python)."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


ASOF_LEFT_TYPE = "click"
ASOF_RIGHT_TYPE = "purchase"


def q_join_asof_events(spark, sf_dir, hot_key_bucket_s: int | None = None):
    """AS-OF join — each left-type event matched to the LATEST right-type
    event by the same user at-or-before it (the time-series join Spark has
    no native operator for; reference-domain analog: attach the most
    recent crawl snapshot to every extraction run).

    Scale shape — union-and-carry: tag both sides, ONE shuffle by user_id,
    sort by (ts, side, id), and carry the last-seen right row forward with
    ``last(struct, ignorenulls)`` over a running frame. O(n log n) per
    key, single pass, no range self-join (a join on ``l.ts >= r.ts`` is
    O(n·m) per key and is the shape that melts at crawl scale), no Python.
    Right rows are pre-deduped to one per (user_id, ts) — max event_id
    wins — so the as-of match is well-defined under timestamp ties; the
    matched (id, value) travel in ONE struct so they can never come from
    different rows. The DuckDB oracle uses its native ASOF LEFT JOIN — a
    genuinely independent implementation of the semantics.

    ``hot_key_bucket_s``: per-key cardinality is human-bounded by default,
    but an adversarial hot key (a bot user with 10⁵+ events) serializes
    the per-user window into one task — window partitions are NOT
    skew-splittable (the measured CC lesson). Passing a bucket width
    composes the SAME carry shape in two bounded phases instead:
      1. window over (user_id, time_bucket) — running last-right WITHIN
         each bucket; hot keys now split across buckets/tasks;
      2. a per-user window over the tiny per-BUCKET spine (one row per
         distinct bucket) carries each bucket's final right into the next
         buckets (strictly-preceding frame), joined back on the same
         (user_id, bucket) partitioning; per-row match =
         coalesce(within-bucket, carried-in).
    Output is row-identical to the single-window plan (pytest-asserted on
    a planted 10⁵-event bot and against the driver oracle's fixture)."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return asof_union_carry(e, hot_key_bucket_s=hot_key_bucket_s)


def asof_union_carry(
    e, hot_key_bucket_s: int | None = None
) -> DataFrame:
    """The as-of operator proper over an events frame (see
    q_join_asof_events for semantics and the hot-key pre-pass shape)."""
    from pyspark.sql import Window

    rights = (
        e.where(F.col("event_type") == ASOF_RIGHT_TYPE)
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("r_event_id"),
            F.max_by("value", "event_id").alias("r_value"),
        )
        .select(
            "user_id",
            "ts",
            F.lit(0).alias("side"),
            F.struct("r_event_id", "r_value").alias("r"),
            F.lit(None).cast("long").alias("l_event_id"),
            F.col("r_event_id").alias("ord_id"),
        )
    )
    lefts = e.where(F.col("event_type") == ASOF_LEFT_TYPE).select(
        "user_id",
        "ts",
        F.lit(1).alias("side"),
        F.lit(None)
        .cast("struct<r_event_id:bigint,r_value:double>")
        .alias("r"),
        F.col("event_id").alias("l_event_id"),
        F.col("event_id").alias("ord_id"),
    )
    unified = rights.unionByName(lefts)
    out_cols = (
        "l_event_id",
        "user_id",
        F.col("ts").alias("l_ts"),
        F.col("m.r_event_id").alias("r_event_id"),
        F.round(F.col("m.r_value"), 4).alias("r_value"),
    )

    if hot_key_bucket_s is None:
        w = (
            Window.partitionBy("user_id")
            .orderBy("ts", "side", "ord_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return (
            unified.withColumn("m", F.last("r", ignorenulls=True).over(w))
            .where(F.col("side") == 1)
            .select(*out_cols)
        )

    # hot-key pre-pass: bounded windows over (user_id, bucket), then a
    # per-user carry over the tiny bucket spine
    bucket_us = int(hot_key_bucket_s) * 1_000_000
    unified = unified.withColumn(
        "bucket",
        (F.unix_micros(F.col("ts").cast("timestamp")) / bucket_us).cast("long"),
    )
    w_in = (
        Window.partitionBy("user_id", "bucket")
        .orderBy("ts", "side", "ord_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rows = unified.withColumn("m_in", F.last("r", ignorenulls=True).over(w_in))
    # one row per (user, bucket): that bucket's FINAL right (null when the
    # bucket holds only lefts) — partial-aggregated map-side
    spine = unified.groupBy("user_id", "bucket").agg(
        F.max_by(
            "r", F.when(F.col("side") == 0, F.struct("ts", "ord_id"))
        ).alias("bf")
    )
    w_carry = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = spine.withColumn(
        "carry", F.last("bf", ignorenulls=True).over(w_carry)
    ).select("user_id", "bucket", "carry")
    return (
        rows.join(carry, ["user_id", "bucket"])
        .withColumn("m", F.coalesce("m_in", "carry"))
        .where(F.col("side") == 1)
        .select(*out_cols)
    )


SESSION_GAP_US = 1_800 * 1_000_000  # 30-minute inactivity gap


def q_events_sessionize(spark, sf_dir):
    """Gap-based SESSIONIZATION in batch — the batch twin of
    streaming/stream.py's stateful url-session operator: per user, a new
    session starts after >30 min of inactivity; one row per session with
    start, event count, exact duration, summed value.

    All gap arithmetic is EXACT integer microseconds (``unix_micros`` here,
    ``epoch_us`` in the oracle) — casting timestamps to double seconds
    loses sub-second bits at 2024 epoch magnitudes (ULP ≈ 0.5 µs) and the
    two engines would round differently at gap boundaries. Scale shape:
    one shuffle by user_id, two window passes over the same sort (lag +
    running sum — Spark plans ONE sort), then a partial-aggregated
    groupBy; per-user row counts are human-bounded, so the window
    partitions cannot skew the way crawl-graph components do."""
    from pyspark.sql import Window

    e = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        # parquet ts arrives TIMESTAMP_NTZ; the session tz is pinned UTC, so
        # the cast is instant-preserving and unix_micros is exact int64
        "mu",
        F.unix_micros(F.col("ts").cast("timestamp")),
    )
    w = Window.partitionBy("user_id").orderBy("mu", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    numbered = (
        e.withColumn("prev_mu", F.lag("mu").over(w))
        .withColumn(
            "is_new",
            F.when(
                F.col("prev_mu").isNull()
                | (F.col("mu") - F.col("prev_mu") > SESSION_GAP_US),
                1,
            ).otherwise(0),
        )
        .withColumn("sess_no", F.sum("is_new").over(run))
    )
    return numbered.groupBy("user_id", "sess_no").agg(
        F.min("ts").alias("session_start"),
        F.count("*").alias("n_events"),
        (F.max("mu") - F.min("mu")).alias("duration_us"),
        F.round(F.sum("value"), 4).alias("sum_value"),
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


def q_agg_distinct_users(spark, sf_dir):
    """Exact DISTINCT-COUNT per group (Catalyst's Expand + two-phase agg
    path). Exact distinct shuffles the full (group, key) domain once; at
    100 TB cardinalities the drop-in is ``approx_count_distinct`` (HLL++,
    constant memory, mergeable map-side) — pytest bounds its relative
    error against this exact plan."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


SLIDE_WIN = "1 hour"
SLIDE_STEP = "30 minutes"


def q_agg_events_sliding(spark, sf_dir):
    """SLIDING event-time windows in batch (1 h window, 30 min slide) —
    every event lands in exactly window/slide = 2 overlapping buckets.
    Spark's ``F.window`` expands rows JVM-side before one partial-agg
    shuffle; the DuckDB oracle reconstructs the same assignment by
    unnesting each event into its two epoch-aligned starts. The batch
    twin of a sliding streaming aggregation — same bucketing, no state."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        e.groupBy(F.window("ts", SLIDE_WIN, SLIDE_STEP).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "n_events",
        )
    )


def q_set_ops_custkeys(spark, sf_dir):
    """Relational SET OPERATIONS as first-class plan nodes: customers who
    placed an order, INTERSECT those in the BUILDING segment, EXCEPT those
    who ever placed an urgent order (standard-SQL precedence: INTERSECT
    binds tighter, so the Spark chain mirrors `(A ∩ B) − C`). Catalyst
    compiles intersect→left-semi + aggregate and subtract→left-anti +
    aggregate — shuffled on the key, AQE-coalesced; no driver-side set
    arithmetic."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    with_orders = orders.select(F.col("o_custkey").alias("c_custkey"))
    building = cust.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return with_orders.intersect(building).subtract(urgent)


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


QUANTILE_PROBS = (0.5, 0.9, 0.99)


def q_agg_quantiles(spark, sf_dir):
    """EXACT grouped percentiles (interpolated, type-7/``quantile_cont``
    semantics — Spark's ``percentile`` and DuckDB's ``quantile_cont`` both
    interpolate at rank p·(n−1), so the values hash-match). Exact
    percentile buffers each group's values, which is the correct tool for
    bounded group sizes; at 100 TB-scale value sets the drop-in is
    ``approx_percentile`` (t-digest sketch, mergeable map-side) — the
    pytest bounds its error against this exact plan."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    probs = {f"p{int(p * 100)}": p for p in QUANTILE_PROBS}
    return o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        *[
            F.round(F.expr(f"percentile(o_totalprice, {p})"), 4).alias(name)
            for name, p in probs.items()
        ],
    )


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB)
# ---------------------------------------------------------------------------


def _oracle_norm_fields() -> str:
    norm = normalize_sql(addr_sql())
    return f"""
    SELECT doc_id,
           normalized,
           coalesce(regexp_extract(normalized, '{HOUSE_RE}'), '') AS house_no,
           coalesce(regexp_extract(normalized, '{GALI_RE}'), '') AS street,
           coalesce(regexp_extract(normalized, '{PIN_RE}'), '') AS pincode,
           CASE WHEN regexp_matches(normalized, '\\bNEW DELHI\\b') THEN 'NEW DELHI'
                ELSE coalesce(regexp_extract(normalized, '{LAST_DELHI_RE}', 1), '') END AS city
    FROM (SELECT doc_id, {norm} AS normalized FROM documents)
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


def _oracle_shingles() -> str:
    return """
    SELECT doc_id, shingle FROM (
      SELECT doc_id,
             unnest(list_distinct([array_to_string(w[i: i+2], ' ')
                     for i in range(1, greatest(len(w) - 2, 1) + 1)])) AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    )
    """


def _oracle_minhash_sig_n(n_perms: int) -> str:
    aggs = ", ".join(
        f"min(md5('{seed}|' || shingle)) AS mh{seed}" for seed in range(n_perms)
    )
    return f"SELECT doc_id, {aggs} FROM ({_oracle_shingles()}) GROUP BY doc_id"


def _oracle_minhash128_band_pairs() -> str:
    r = N_PERMS // N_BANDS
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, '{b}' || '|' || "
        + " || '|' || ".join(f"mh{b * r + i}" for i in range(r))
        + " AS band FROM sig"
        for b in range(N_BANDS)
    )
    return f"""
    WITH sig AS ({_oracle_minhash_sig_n(N_PERMS)}),
    bands AS ({band_selects})
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
    """


def _oracle_simhash64_bands() -> str:
    sums = ", ".join(
        "sum(CASE WHEN substr(h, {p}, 1) IN ({members}) THEN 1 ELSE -1 END) AS s{j}".format(
            p=j // 4 + 1,
            members=", ".join(f"'{c}'" for c in _NIBBLE_BIT_SETS[3 - j % 4]),
            j=j,
        )
        for j in range(64)
    )
    bands = ", ".join(
        "CAST("
        + " + ".join(
            f"(CASE WHEN s{16 * k + i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(16)
        )
        + f" AS int) AS b{k}"
        for k in range(4)
    )
    return f"""
    SELECT doc_id, {bands} FROM (
      SELECT doc_id, {sums} FROM (
        SELECT doc_id, md5(unnest(string_split(text, ' '))) AS h FROM documents
      ) GROUP BY doc_id
    )
    """


def _oracle_simhash_pairs(max_hamming: int = 3) -> str:
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, b0, b1, b2, b3, '{k}' || ':' || CAST(b{k} AS varchar) AS band FROM sig"
        for k in range(4)
    )
    hamming = " + ".join(f"bit_count(xor(a.b{k}::BIGINT, b.b{k}::BIGINT))" for k in range(4))
    return f"""
    WITH sig AS ({_oracle_simhash64_bands()}),
    bands AS ({band_selects}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST({hamming} AS int) AS hamming
      FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, hamming FROM cand WHERE hamming <= {max_hamming}
    """


def _oracle_lsh_topk(k: int = 5) -> str:
    planes = lsh_planes()

    def arr(p):
        return "[" + ", ".join(f"{v:.1f}" for v in planes[p]) + "]"

    def bit(p):
        return (
            f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {arr(p)}) >= 0 "
            f"THEN 1 ELSE 0 END)"
        )

    band0 = " + ".join(f"{bit(i)} * {1 << i}" for i in range(8))
    band1 = " + ".join(f"{bit(8 + i)} * {1 << i}" for i in range(8))
    return f"""
    WITH sig AS (
      SELECT vec_id, embedding,
             CAST({band0} AS int) AS band0, CAST({band1} AS int) AS band1
      FROM embeddings
    ),
    bands AS (
      SELECT vec_id, '0' || ':' || CAST(band0 AS varchar) AS band FROM sig
      UNION ALL
      SELECT vec_id, '1' || ':' || CAST(band1 AS varchar) FROM sig
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.vec_id <> b.vec_id
    )
    SELECT id_a, id_b, cos, rk FROM (
      SELECT id_a, id_b,
             round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6) AS cos,
             row_number() OVER (
               PARTITION BY id_a
               ORDER BY list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) DESC,
                        id_b ASC
             ) AS rk
      FROM cand JOIN embeddings ea ON ea.vec_id = id_a
                JOIN embeddings eb ON eb.vec_id = id_b
    ) WHERE rk <= {k}
    """


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


def oracle_sqls(sf_dir: str = "/root/testdata/sf0.01") -> dict[str, str]:
    """DuckDB oracle per query. ``sf_dir`` matters only for oracles that
    embed data-trained literals (the learned-IVF centroids): it must point
    at the SAME tables the Spark side will read — the default is the sf
    the driver gate runs at."""
    norm = normalize_sql(addr_sql())
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    # NOTE: oracles exist only for keys registered in SPARK_QUERIES (the
    # driver's 50-entry gate — see the prune note above SPARK_QUERIES).
    sqls = {
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
        "dedup_exact": """
            SELECT md5(text) AS text_hash, count(*) AS n, min(doc_id) AS keeper
            FROM documents GROUP BY md5(text) HAVING count(*) > 1
        """,
        "dedup_minhash128_band_pairs": _oracle_minhash128_band_pairs(),
        "dedup_ngram_jaccard_dfcap": f"""
            WITH sh AS ({_oracle_shingles()}),
            counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
            rare AS (
              SELECT sh.doc_id, sh.shingle FROM sh
              JOIN (SELECT shingle FROM sh GROUP BY shingle
                    HAVING count(*) <= {DF_CAP}) r ON r.shingle = sh.shingle
            ),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
              FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
            )
            SELECT id_a, id_b,
                   round(inter / cast(ca.n_sh + cb.n_sh - inter AS double), 6) AS jaccard
            FROM inter
            JOIN counts ca ON ca.doc_id = id_a
            JOIN counts cb ON cb.doc_id = id_b
            WHERE round(inter / cast(ca.n_sh + cb.n_sh - inter AS double), 6) >= 0.5
        """,
        "dedup_simhash_pairs": _oracle_simhash_pairs(),
        "sim_lsh_topk": _oracle_lsh_topk(),
        "dedup_embedding_cosine": _oracle_embedding_cosine(),
        "train_entity_weights": _oracle_train_entity_weights(),
        "train_weighted_sample": _oracle_train_weighted_sample(),
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
        "split_train_val_test": """
            SELECT doc_id,
                   CASE WHEN b < 204 THEN 'train'
                        WHEN b < 230 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id,
                         cast(('0x' || substr(md5(cast(doc_id AS varchar)), 1, 2))::UBIGINT AS int) AS b
                  FROM documents)
        """,
        "sim_cosine_topk": """
            SELECT id_a, id_b, cos, rk FROM (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos,
                     row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) DESC,
                                b.vec_id ASC
                     ) AS rk
              FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
            ) WHERE rk <= 5
        """,
        "sim_topk_ivf_label": """
            SELECT id_a, id_b, cos, rk FROM (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos,
                     row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) DESC,
                                b.vec_id ASC
                     ) AS rk
              FROM embeddings a JOIN embeddings b
                ON a.label = b.label AND a.vec_id <> b.vec_id
            ) WHERE rk <= 3
        """,
        "agg_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
                   count(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "join_mktsegment_orders": """
            SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 4) AS total
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "window_top_order_per_cust": """
            SELECT o_custkey, o_orderkey, round(o_totalprice, 4) AS top_price FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
              FROM orders
            ) WHERE rk = 1
        """,
        "join_regional_revenue": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM region
            JOIN nation   ON n_regionkey = r_regionkey
            JOIN customer ON c_nationkey = n_nationkey
            JOIN orders   ON o_custkey = c_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
            WHERE r_name = 'ASIA'
            GROUP BY n_name
        """,
        "agg_pricing_rollup": """
            SELECT l_returnflag, l_linestatus,
                   count(*) AS n_rows,
                   round(sum(l_quantity), 4) AS sum_qty
            FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        """,
        "agg_events_windowed": """
            SELECT time_bucket(INTERVAL 1 HOUR, ts) AS win_start,
                   event_type,
                   count(*) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "join_asof_events": f"""
            WITH rights AS (
              SELECT user_id, ts, max(event_id) AS r_event_id,
                     max_by(value, event_id) AS r_value
              FROM events WHERE event_type = '{ASOF_RIGHT_TYPE}'
              GROUP BY user_id, ts
            ),
            lefts AS (
              SELECT event_id, user_id, ts FROM events
              WHERE event_type = '{ASOF_LEFT_TYPE}'
            )
            SELECT l.event_id AS l_event_id, l.user_id, l.ts AS l_ts,
                   r.r_event_id, round(r.r_value, 4) AS r_value
            FROM lefts l ASOF LEFT JOIN rights r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "events_sessionize": f"""
            WITH seq AS (
              SELECT user_id, event_id, ts, value, epoch_us(ts) AS mu,
                     lag(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                     ) AS prev_mu
              FROM events
            ),
            numbered AS (
              SELECT *,
                     sum(CASE WHEN prev_mu IS NULL
                              OR mu - prev_mu > {SESSION_GAP_US}
                         THEN 1 ELSE 0 END) OVER (
                       PARTITION BY user_id ORDER BY mu, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS sess_no
              FROM seq
            )
            SELECT user_id, cast(sess_no AS bigint) AS sess_no,
                   min(ts) AS session_start,
                   count(*) AS n_events,
                   max(mu) - min(mu) AS duration_us,
                   round(sum(value), 4) AS sum_value
            FROM numbered GROUP BY user_id, sess_no
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
        "agg_quantiles": f"""
            SELECT o_orderpriority,
                   count(*) AS n_orders,
                   {", ".join(
                       f"round(quantile_cont(o_totalprice, {p}), 4) AS p{int(p * 100)}"
                       for p in QUANTILE_PROBS
                   )}
            FROM orders GROUP BY o_orderpriority
        """,
        "agg_distinct_users": """
            SELECT event_type,
                   count(DISTINCT user_id) AS n_users,
                   count(*) AS n_events
            FROM events GROUP BY event_type
        """,
        "agg_events_sliding": """
            WITH assigned AS (
              SELECT event_type,
                     unnest([time_bucket(INTERVAL 30 MINUTE, ts),
                             time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE]
                     ) AS win_start
              FROM events
            )
            SELECT win_start, event_type, count(*) AS n_events
            FROM assigned GROUP BY win_start, event_type
        """,
        "set_ops_custkeys": """
            SELECT o_custkey AS c_custkey FROM orders
            INTERSECT
            SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
            EXCEPT
            SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
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
        "dedup_canonical_keep": _oracle_dedup_canonical_keep(),
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
    try:
        # the only data-trained oracle: reads the embeddings parquet at
        # sf_dir to embed the k-means centroid literals. If the table is
        # unreadable, omit the entry (the driver then records a rows-only
        # check for sim_topk_ivf_kmeans) instead of failing every oracle.
        sqls["sim_topk_ivf_kmeans"] = _oracle_sim_topk_ivf_kmeans(sf_dir)
    except Exception:
        # not just OSError: pyarrow raises ArrowInvalid (not an OSError)
        # for a present-but-corrupt table — either way degrade THIS entry
        # to rows-only instead of taking down every other oracle
        pass
    return sqls


# The driver's correctness gate records at most 50 ``queries()`` entries
# (r4 lesson: entries past the cap silently get NO evidence row). The
# registry therefore carries exactly the non-subsumed set. The ``q_*``
# functions left out of it, each with its caller (a tripwire in
# tests/test_entry_contract.py keeps this list exact):
#   q_er_synth_addr         -> __spark_entry__.entry (fixture echo)
#   q_dedup_ngram_jaccard   -> tests/test_dedup_sim.py (no DF cap; _dfcap is
#                              the production shape)
#   q_dedup_simhash64       -> tests/test_dedup_sim.py (signature projection
#                              of dedup_simhash_pairs)
#   q_train_sample_weights  -> q_train_weighted_sample (its intermediate)
SPARK_QUERIES = {
    "er_normalize": q_er_normalize,
    "er_extract_fields": q_er_extract_fields,
    "er_block_key": q_er_block_key,
    "er_candidate_pairs": q_er_candidate_pairs,
    "er_pair_scores": q_er_pair_scores,
    "er_edges": q_er_edges,
    "er_clusters": q_er_clusters,
    "er_cluster_sizes": q_er_cluster_sizes,
    "er_pipeline_cluster_sizes": q_er_pipeline_cluster_sizes,
    "er_incremental_cluster_sizes": q_er_incremental_cluster_sizes,
    "er_reconciled_cluster_sizes": q_er_reconciled_cluster_sizes,
    "er_extract_mention_counts": q_er_extract_mention_counts,
    "dedup_exact": q_dedup_exact,
    "dedup_minhash128_band_pairs": q_dedup_minhash128_band_pairs,
    "dedup_minhash128_xxhash_band_pairs": q_dedup_minhash128_xxhash_band_pairs,
    "dedup_ngram_jaccard_dfcap": q_dedup_ngram_jaccard_dfcap,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
    "sim_lsh_topk": q_sim_lsh_topk,
    "dedup_embedding_cosine": q_dedup_embedding_cosine,
    "train_entity_weights": q_train_entity_weights,
    "train_weighted_sample": q_train_weighted_sample,
    "text_token_stats": q_text_token_stats,
    "text_quality": q_text_quality,
    "text_fingerprint": q_text_fingerprint,
    "text_lang_distribution": q_text_lang_distribution,
    "text_token_freq": q_text_token_freq,
    "split_train_val_test": q_split_train_val_test,
    "sim_cosine_topk": q_sim_cosine_topk,
    "sim_topk_ivf_label": q_sim_topk_ivf_label,
    "sim_topk_ivf_kmeans": q_sim_topk_ivf_kmeans,
    "agg_pricing_summary": q_agg_pricing_summary,
    "join_mktsegment_orders": q_join_mktsegment_orders,
    "window_top_order_per_cust": q_window_top_order_per_cust,
    "join_regional_revenue": q_join_regional_revenue,
    "agg_pricing_rollup": q_agg_pricing_rollup,
    "agg_events_windowed": q_agg_events_windowed,
    "dedup_canonical_keep": q_dedup_canonical_keep,
    "train_stratified_sample": q_train_stratified_sample,
    "corpus_select": q_corpus_select,
    "join_asof_events": q_join_asof_events,
    "events_sessionize": q_events_sessionize,
    "corpus_decontaminate": q_corpus_decontaminate,
    "agg_quantiles": q_agg_quantiles,
    "set_ops_custkeys": q_set_ops_custkeys,
    "text_tfidf_top_terms": q_text_tfidf_top_terms,
    "agg_distinct_users": q_agg_distinct_users,
    "agg_events_sliding": q_agg_events_sliding,
}
