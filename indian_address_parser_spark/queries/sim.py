"""Similarity-search family: brute-force, IVF by label, learned k-means
IVF and random-hyperplane LSH top-k over the embeddings table."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from indian_address_parser_spark.functions.veckernels import (
    attach_pair_cos,
    brute_topk_candidates,
    lsh_planes,
)
from indian_address_parser_spark.queries._common import (
    _CKPT_LEVEL,
    _emb,
    _emb_double,
    _lsh_cand,
    _oracle_lsh_cand,
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


def q_sim_lsh_topk(spark, sf_dir, k: int = 5):
    """ANN top-k via random-hyperplane LSH over the embeddings table —
    see :func:`lsh_topk` for semantics and the recall/pruning trade
    (lsh_topk remains the embedding-frame-generic library operator).
    r6: band signatures and the exact re-rank cosine both run as Arrow
    kernels over the broadcast matrix (bit-identical doubles — see
    veckernels); the pair frame carries only 8-byte ids, so the two
    array-attach joins of the r5 plan are gone."""
    from pyspark.sql import Window

    cand = _lsh_cand(spark, sf_dir, "<>")
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


def _oracle_lsh_topk(k: int = 5) -> str:
    return _oracle_lsh_cand("<>") + f"""
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


def oracles(sf_dir: str) -> dict[str, str]:
    """DuckDB oracle SQL per registered ``sim_*`` query; ``sf_dir`` feeds
    the learned-IVF centroids."""
    sqls = {
        "sim_lsh_topk": _oracle_lsh_topk(),
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
    }
    try:
        # the only data-trained oracle: reads the embeddings parquet at
        # sf_dir to embed the k-means centroid literals. If the table is
        # missing (OSError) or corrupt (pyarrow's ArrowInvalid), omit the
        # entry: the driver then records a rows-only check for
        # sim_topk_ivf_kmeans instead of failing every oracle.
        sqls["sim_topk_ivf_kmeans"] = _oracle_sim_topk_ivf_kmeans(sf_dir)
    except (OSError, pa.ArrowInvalid):
        pass
    return sqls
