"""Incremental entity resolution over a page stream (foreachBatch).

The production shape for streaming ER: Structured Streaming's built-in
stateful operators cannot hold an unbounded, *joinable* cluster store, so
the state lives in an external table the micro-batch function reads and
appends to — parquet here, a transactional table (Iceberg/Delta MERGE)
in a real deployment. Per micro-batch:

  1. extract mentions (the SAME mapInPandas operator as batch,
     ``operators/extract.py``) and block them (``operators/blocking.py``)
  2. join the batch's mentions against the persisted cluster
     REPRESENTATIVES on the primary ``block_key`` and score the pairs
     with the SAME two-stage scorer (``operators/scoring.py``); every
     mention whose best representative clears the threshold attaches to
     that cluster (ties: highest score, then lexicographic-min cluster)
  3. the remainder run plain batch ER among themselves (candidate pairs
     → scoring → block-local CC, ``operators/cc.py``) and mint NEW clusters
  4. one representative row per new cluster (the cluster-min mention —
     deterministic) is appended to the state table; the batch's full
     (mention_id, cluster_id) assignment is appended to the sink

Semantics — stated, not hidden:
  * FIRST-REP-WINS: attachment happens only against representatives that
    existed before the batch; cross-batch transitive merges are not
    performed. This is the standard incremental-ER tradeoff; within a
    batch, links among unmatched mentions DO merge via CC. The periodic
    batch re-run that closes the gap is ``reconcile`` below — it reads
    the mention store + assignments and provably restores the batch
    pipeline's partition (proof sketch in its docstring).
  * Replays: foreachBatch may re-deliver a batch after a failure. Both
    sinks are append-only parquet keyed by ``batch_id``, and the state
    read deduplicates on ``cluster_id`` — a replay cannot fork cluster
    identities (same deterministic ids), only leave harmless duplicate
    rows that the dedup-on-read collapses. With a transactional table
    the MERGE makes this exactly-once.

Scale shape: the attach join is a shuffled equi-join on block_key (reps
grow unbounded — never broadcast them); AQE handles residual skew and
the uninformative-key block ("||") is excluded from BOTH sides exactly
as the batch pair generator excludes it. Everything JVM-side except the
shared extraction and JW Arrow kernels.

Reference parity: the reference has no streaming surface (SURVEY.md §2
S-rows); this composes its extraction semantics with the ER layer the
north rule mandates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from indian_address_parser_spark.operators.blocking import with_block_key
from indian_address_parser_spark.operators.cc import attach_clusters, block_local_components
from indian_address_parser_spark.operators.extract import extract_mentions
from indian_address_parser_spark.operators.pairs import (
    BLOCK_INPUT_COLS,
    PAIR_FIELDS,
    candidate_pairs,
)
from indian_address_parser_spark.operators.scoring import (
    DEFAULT_THRESHOLD,
    score_pairs,
)

# One representative row per cluster, carrying everything the scorer
# needs for future attach joins (incl. precomputed digit signatures).
REP_COLS = ("cluster_id", "block_key", *PAIR_FIELDS)


def _read_reps(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """The representative table, or None before the first batch wrote it.

    Absence is tested with the Hadoop ``FileSystem`` of ``state_dir``
    (local and object-store URIs alike) rather than by catching a failed
    read, so a state table that exists but cannot be read raises."""
    jvm = spark.sparkContext._jvm
    path = jvm.org.apache.hadoop.fs.Path(state_dir)
    if not path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()).exists(path):
        return None
    # replay tolerance: duplicate appends collapse to one row per cluster
    return spark.read.parquet(state_dir).dropDuplicates(["cluster_id"])


def _attach_to_reps(
    blocked: DataFrame, reps: DataFrame, threshold: float
) -> DataFrame:
    """→ (mention_id, cluster_id) for mentions matching an existing rep."""
    from pyspark.sql import Window

    informative = F.col("block_key") != "||"
    left = blocked.where(informative).select(
        F.col("mention_id").alias("mention_id_a"),
        "block_key",
        *[F.col(f).alias(f"{f}_a") for f in PAIR_FIELDS],
    )
    right = reps.where(informative).select(
        F.col("cluster_id").alias("mention_id_b"),
        "block_key",
        *[F.col(f).alias(f"{f}_b") for f in PAIR_FIELDS],
    )
    pairs = left.join(right, "block_key")
    edges = score_pairs(pairs, threshold=threshold)
    # best rep per mention; candidates are bounded by block size, so the
    # per-mention window cannot skew
    w = Window.partitionBy("src").orderBy(F.desc("score"), F.asc("dst"))
    return (
        edges.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(F.col("src").alias("mention_id"), F.col("dst").alias("cluster_id"))
    )


def process_batch(
    batch_pages: DataFrame,
    batch_id: int,
    state_dir: str,
    assignments_dir: str,
    threshold: float = DEFAULT_THRESHOLD,
    mentions_dir: str | None = None,
) -> None:
    """The foreachBatch body — also callable directly for batch-by-batch
    tests and backfills.

    ``mentions_dir`` (optional): append the pruned blocking projection of
    this batch's mentions (``BLOCK_INPUT_COLS`` — id, normalized text,
    raw address fields; ~120 B/row, no page payload) so a later
    ``reconcile`` can re-block and re-score across batches. Append-only
    parquet; replays leave duplicate rows that reconcile's
    dedup-on-mention_id collapses."""
    spark = batch_pages.sparkSession
    mentions = extract_mentions(batch_pages)
    if mentions_dir is not None:
        mentions.select(*BLOCK_INPUT_COLS).write.mode("append").parquet(
            mentions_dir
        )
    blocked = with_block_key(mentions)

    reps = _read_reps(spark, state_dir)
    if reps is not None:
        attached = _attach_to_reps(blocked, reps, threshold)
    else:
        attached = None

    if attached is not None:
        remaining = blocked.join(
            attached.select("mention_id"), "mention_id", "left_anti"
        )
    else:
        remaining = blocked

    # intra-batch ER among the unmatched → new clusters (singletons incl.);
    # candidate_pairs edges are key-local, so block-local CC is exact here
    edges = score_pairs(candidate_pairs(remaining), threshold=threshold)
    # both writes below read the assignments: materialize them once so the
    # pair scoring under them runs once per batch, not once per write
    assign = block_local_components(edges).localCheckpoint(eager=True)
    new_clusters = attach_clusters(
        remaining.select("mention_id", "block_key", *PAIR_FIELDS), assign
    )

    new_reps = new_clusters.where(
        F.col("mention_id") == F.col("cluster_id")
    ).select(*REP_COLS)
    new_reps.write.mode("append").parquet(state_dir)

    out = new_clusters.select("mention_id", "cluster_id")
    if attached is not None:
        out = out.unionByName(attached)
    out.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
        assignments_dir
    )


def run_incremental_er(
    pages_stream: DataFrame,
    state_dir: str,
    assignments_dir: str,
    checkpoint_dir: str,
    threshold: float = DEFAULT_THRESHOLD,
):
    """Wire the incremental resolver onto a streaming pages frame.

    Returns the started StreamingQuery (caller awaits/stops)."""

    def _body(batch_df: DataFrame, batch_id: int) -> None:
        process_batch(batch_df, batch_id, state_dir, assignments_dir, threshold)

    return (
        pages_stream.writeStream.foreachBatch(_body)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def reconcile(
    spark: SparkSession,
    mentions_dir: str,
    assignments_dir: str,
    threshold: float = DEFAULT_THRESHOLD,
) -> DataFrame:
    """Periodic batch reconcile: merge the cross-batch clusters that
    first-rep-wins kept apart → (mention_id, cluster_id).

    Reads the mention store (written by ``process_batch(...,
    mentions_dir=)``) and the incremental assignments, re-blocks the FULL
    mention set with the batch operator, scores ONLY the candidate pairs
    whose endpoints sit in different incremental clusters, and runs CC
    over (bridge edges ∪ incremental assignment edges).

    Why this equals the batch pipeline's partition (when no block
    straddles the mega-block split threshold across the batch boundary):

      * every incremental edge (attach: mention↔rep scored ≥ t;
        intra-batch: scored ≥ t) is a true edge of the batch pair graph,
        so each incremental cluster is a connected SUBSET of a batch
        cluster — the incremental partition refines the batch partition;
      * assignment pairs (mention_id, cluster_id) are themselves edges of
        the mention graph (cluster ids ARE mention ids: the cluster-min),
        and they connect each incremental cluster internally;
      * re-blocking the union and scoring cross-cluster pairs recovers
        every batch edge that crosses the incremental partition (within-
        cluster edges are redundant for connectivity);
      * hence CC over the union graph = CC over the batch edge graph.

    When a block DOES tip over ``max_block_size`` only in the union, each
    run scopes its own recall (the documented secondary-split tradeoff);
    reconcile keeps every merge either run found — recall ≥ batch.

    Why block-local CC is exact here: ``block_key`` is a pure function of
    a mention's fields, so a mention has the same primary block in its
    micro-batch and in the union, and every edge either run scores stays
    inside one primary block (batch and bridge pairs join on ``join_key``,
    which refines ``block_key``; attach joins on ``block_key``). So every
    incremental cluster, and with it every assignment edge, lies in one
    primary block, even where a block's secondary split differs between a
    batch and the union. Bridge edges carry their pair's ``block_key``;
    an assignment edge takes its mention's ``block_key`` from the
    re-blocked union. An assigned mention missing from the mention store
    has no block to take: the job that reads the result fails rather than
    leave the mention a silent singleton.

    Scale shape: the cross-cluster filter is two shuffled equi-joins on
    mention_id that run BEFORE the Python Jaro-Winkler kernel, so after a
    healthy incremental run the Arrow UDF sees only the thin cross-batch
    boundary set, not the full pair stream. Everything else is the exact
    batch operator chain (blocking agg+join, pruned self-join, block-local
    union-find); the returned frame is lazy.
    """
    mentions = spark.read.parquet(mentions_dir).dropDuplicates(["mention_id"])
    assigns = (
        spark.read.parquet(assignments_dir)
        .select("mention_id", "cluster_id")
        .distinct()
    )
    blocked = with_block_key(mentions)
    pairs = candidate_pairs(blocked)
    cl_a = assigns.select(
        F.col("mention_id").alias("mention_id_a"), F.col("cluster_id").alias("_cl_a")
    )
    cl_b = assigns.select(
        F.col("mention_id").alias("mention_id_b"), F.col("cluster_id").alias("_cl_b")
    )
    cross = (
        pairs.join(cl_a, "mention_id_a")
        .join(cl_b, "mention_id_b")
        .where(F.col("_cl_a") != F.col("_cl_b"))
        .drop("_cl_a", "_cl_b")
    )
    bridge = score_pairs(cross, threshold=threshold).select("src", "dst", "block_key")
    assign_edges = (
        assigns.where(F.col("mention_id") != F.col("cluster_id"))
        .join(blocked.select("mention_id", "block_key"), "mention_id", "left")
        .selectExpr(
            "mention_id AS src",
            "cluster_id AS dst",
            "coalesce(block_key, raise_error(concat('assigned mention ', mention_id,"
            " ' is missing from the mention store'))) AS block_key",
        )
    )
    merged = block_local_components(bridge.unionByName(assign_edges))
    return attach_clusters(assigns.select("mention_id"), merged)
