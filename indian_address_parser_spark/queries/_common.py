"""Helpers more than one query family reads.

The derived address (``documents.doc_id`` → address string) is built with
identical deterministic arithmetic in Spark and in DuckDB SQL, so the
oracles can check normalization, extraction regexes and everything
downstream of them. Shingles, embeddings and the LSH band stack are
shared the same way: one definition per engine, consumed by several
families.
"""

from __future__ import annotations

from pyspark import StorageLevel as _SL
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from indian_address_parser_spark.core.normalizer import ABBREVIATION_RULES
from indian_address_parser_spark.functions.veckernels import lsh_planes, plane_band_signature
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


# Shared-subtree checkpoints in every family are EAGER (under AQE a lazy
# checkpoint materializes every upstream stage at construction anyway and
# then re-executes the final stage — see operators/cc._truncate) and
# SERIALIZED (a bench session runs ~25 queries back-to-back, each parking
# checkpointed frames until driver GC + ContextCleaner release them;
# deserialized caching of those frames is pure JVM object/GC pressure —
# the same measured lesson as bench.py's MEMORY_AND_DISK_SER persists).
_CKPT_LEVEL = getattr(_SL, "MEMORY_AND_DISK_SER", _SL.MEMORY_AND_DISK)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _with_addr(spark, sf_dir) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select("doc_id", addr_spark(F.col("doc_id")).alias("addr"))


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


def _emb_double(spark, sf_dir) -> DataFrame:
    return _emb(spark, sf_dir).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )


def _lsh_cand(spark, sf_dir, pair_op: str) -> DataFrame:
    """(id_a, id_b): the distinct vector pairs that share a band, kept by
    ``id_a {pair_op} id_b``. Band keys come from the Arrow plane-signature
    kernel, eagerly localCheckpoint-ed: the self-join's two branches share
    ONE signature pass (r6 — the r5 plan evaluated the 16 interpreted
    plane-dot folds twice per vector, once per join side)."""
    ids_df = (
        _emb(spark, sf_dir)
        .select("vec_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    sig = plane_band_signature(spark, sf_dir, ids_df)
    stacked = sig.select(
        "vec_id",
        F.explode(
            F.array(
                F.concat_ws(":", F.lit("0"), F.col("band0").cast("string")),
                F.concat_ws(":", F.lit("1"), F.col("band1").cast("string")),
            )
        ).alias("band"),
    ).localCheckpoint(eager=True, storageLevel=_CKPT_LEVEL)
    a = stacked.select(F.col("vec_id").alias("id_a"), "band")
    b = stacked.select(F.col("vec_id").alias("id_b"), F.col("band").alias("bd"))
    return (
        a.join(b, (F.col("band") == F.col("bd")) & F.expr(f"id_a {pair_op} id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def _oracle_lsh_cand(pair_op: str) -> str:
    """DuckDB CTEs ``sig``, ``bands`` and ``cand``: the random-hyperplane
    band signatures of every embedding and the distinct vector pairs that
    share a band, kept by ``a.vec_id {pair_op} b.vec_id`` — the oracle
    side of :func:`_lsh_cand`."""
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
      FROM bands a JOIN bands b ON a.band = b.band AND a.vec_id {pair_op} b.vec_id
    )"""


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


def _oracle_shingles() -> str:
    return """
    SELECT doc_id, shingle FROM (
      SELECT doc_id,
             unnest(list_distinct([array_to_string(w[i: i+2], ' ')
                     for i in range(1, greatest(len(w) - 2, 1) + 1)])) AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    )
    """
