"""Dedup family: exact, MinHash-LSH, SimHash, n-gram Jaccard, embedding
cosine and near-dup canonicalization, each with its DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from indian_address_parser_spark.functions.veckernels import attach_pair_cos
from indian_address_parser_spark.queries._common import (
    _CKPT_LEVEL,
    _docs,
    _lsh_cand,
    _oracle_lsh_cand,
    _oracle_shingles,
    _shingles,
)


def q_dedup_exact(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return (
        d.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(F.count("*").alias("n"), F.min("doc_id").alias("keeper"))
        .where(F.col("n") > 1)
    )


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


def _minhash_sig_md5_arrow(spark, sf_dir, n_perms: int = N_PERMS) -> DataFrame:
    """md5 MinHash signatures via a per-doc Arrow kernel (r6).

    Byte-identical to the oracle's :func:`_oracle_minhash_sig_n` (min over
    the lowercase-hex md5 of ``"{seed}|" + shingle`` per permutation — the
    DuckDB-parity requirement), computed the way the optimization guide
    §4.2 recommends: ONE hash exchange of the thin (doc_id, shingle) rows, then
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


COSINE_DEDUP_TAU = 0.3


def q_dedup_embedding_cosine(spark, sf_dir, tau: float = COSINE_DEDUP_TAU):
    """Embedding-cosine near-duplicate pairs: LSH band buckets (the same
    random-hyperplane signatures as :func:`sim.lsh_topk`) generate candidates,
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
    cand = _lsh_cand(spark, sf_dir, "<")
    return (
        attach_pair_cos(spark, sf_dir, cand)
        .select("id_a", "id_b", F.round("cos_raw", 6).alias("cos"))
        .where(F.col("cos") >= tau)
    )


def _oracle_embedding_cosine(tau: float = COSINE_DEDUP_TAU) -> str:
    return _oracle_lsh_cand("<") + f"""
    SELECT id_a, id_b, cos FROM (
      SELECT id_a, id_b,
             round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6) AS cos
      FROM cand JOIN embeddings ea ON ea.vec_id = id_a
                JOIN embeddings eb ON eb.vec_id = id_b
    ) WHERE cos >= {tau}
    """


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


def oracles() -> dict[str, str]:
    """DuckDB oracle SQL per registered ``dedup_*`` query."""
    return {
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
        "dedup_embedding_cosine": _oracle_embedding_cosine(),
        "dedup_canonical_keep": _oracle_dedup_canonical_keep(),
    }
