"""Transitive clustering: connected components over the match graph.

Two implementations, one per graph shape. Both label each component with
its minimum ``mention_id`` (Spark's binary string order), so they are
interchangeable wherever both apply.

- :func:`block_local_components` — for the ER path, where every edge joins
  two mentions of the same primary ``block_key``. Candidate pairs join on
  ``join_key``, which refines ``block_key`` (``operators/pairs.py``), and
  the incremental attach joins on ``block_key`` itself; ``block_key`` is a
  pure function of a mention's fields (``operators/blocking.py``), so it is
  the same in a micro-batch and in the union of batches. No component can
  then span two primary blocks, so one exchange of the edges by
  ``block_key`` followed by a per-partition union-find is exact. Callers:
  the batch pipeline (``plans/er_pipeline.py``), the oracled pipeline
  projection (``queries.er._pipeline_clusters``), ``q_er_clusters``, and
  ``streaming/incremental_er``'s intra-batch step and ``reconcile``. A
  union-find task holds whole primary blocks: its size is bounded by the
  edge count of the largest primary block after the secondary split, not
  by the pair-join task that produced those edges (a split mega-block's
  sub-blocks are joined on separate tasks but labelled on one).
- :func:`connected_components` — the general alternating-star algorithm
  (Kiveris et al., "Connected Components in MapReduce and Beyond") for
  graphs whose edges can CROSS any key: MinHash band pairs in
  ``q_dedup_canonical_keep`` and through it ``q_corpus_select`` (a
  document sits in many bands, so its duplicates chain across them).
  ``bench.py``'s ER run and perfbench's ``cc`` layer also call it.
  Converges in O(log n) rounds; components here are small so 2-4 rounds
  in practice.

Star-CC scale notes:
- The loop runs on the string ids themselves. Spark orders strings by
  their bytes, so the converged star's root is the component's
  ``min(mention_id)`` and is its label as it stands — deterministic across
  runs, partition layouts and parallelism levels, and directly comparable
  to a SQL oracle.
- Every iteration ends in ``localCheckpoint`` to truncate lineage —
  Catalyst does not optimize across iterations and an unchecked loop
  re-executes the whole prefix each round (SURVEY.md §4.2.3). On a real
  cluster pass ``checkpoint_dir`` to use reliable HDFS checkpoints instead.
- Convergence detection is a single agg (count + xor of edge hashes), not
  a full except() pass.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Past this symmetrized node degree a round leaves the window formulation
# for groupBy+join stars; see connected_components.
_GIANT_DEGREE = 1_000_000
# Star rounds before the loop stops unconverged (O(log n) expected).
_MAX_ITER = 25


def _union_find_labels(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """``mapInPandas`` body: every edge of one partition → one
    (mention_id, cluster_id) row per node.

    A partition holds whole primary blocks, so its components are complete
    once all of its batches are read. Node ids are factorized in sorted
    order, so code order is string order; union always hangs the larger
    root under the smaller, so each root is its component's minimum code.
    Python ``str`` order is code-point order, which is the byte order of
    UTF-8 — the order of Spark's ``min`` on strings."""
    import numpy as np

    src, dst = [], []
    for pdf in batches:
        src.append(pdf["src"].to_numpy(dtype=object))
        dst.append(pdf["dst"].to_numpy(dtype=object))
    n = sum(len(a) for a in src)
    if n == 0:
        # typed empty batch: a frame of empty lists would default to
        # float64, which Arrow cannot cast to the string schema
        yield pd.DataFrame(
            {"mention_id": pd.Series([], dtype=object), "cluster_id": pd.Series([], dtype=object)}
        )
        return
    codes, ids = pd.factorize(np.concatenate(src + dst), sort=True)
    parent = list(range(len(ids)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(codes[:n].tolist(), codes[n:].tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    roots = np.fromiter((find(i) for i in range(len(ids))), dtype=np.int64, count=len(ids))
    yield pd.DataFrame({"mention_id": ids, "cluster_id": ids[roots]})


def block_local_components(edges: DataFrame) -> DataFrame:
    """Block-local edges(src, dst, block_key) → assignments(mention_id, cluster_id).

    Exact only when no component spans two ``block_key`` values (module
    docstring); the labels are then those :func:`connected_components`
    gives. One exchange of the edges by ``block_key``, then a union-find
    per partition: no loop, no convergence jobs, no checkpoints — the
    returned frame is lazy. One row per edge endpoint; mentions without
    edges are not returned (``attach_clusters`` makes them singletons)."""
    return (
        edges.select("src", "dst", "block_key")
        .repartition("block_key")
        .select("src", "dst")
        .mapInPandas(_union_find_labels, "mention_id string, cluster_id string")
    )


def _canonical(edges: DataFrame) -> DataFrame:
    """Undirected edge set as (hi > lo) pairs, deduped, no self-loops."""
    return (
        edges.select(
            F.greatest("u", "v").alias("u"),
            F.least("u", "v").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """(v, m) for every neighbor v > u, m = min(N(u) ∪ {u})."""
    nbrs = edges.select("u", "v").union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = nbrs.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("mn", F.col("u")).alias("m"))
    return (
        nbrs.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """For each u over smaller neighbors N(u): link them all (and u) to the min."""
    directed = _canonical(edges)  # u > v for every row
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    relinked = directed.join(mins, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
    self_links = mins.select("u", F.col("m").alias("v"))
    return relinked.union(self_links)


def _star_round_window(edges: DataFrame) -> DataFrame:
    """One large-star + small-star round as two window passes (no joins).

    Per round this costs 2 exchanges + 2 within-partition sorts vs the join
    formulation's 4 exchanges + 4 sorts (each star = groupBy-agg + sort-merge
    join; each half also re-deduped) — measured 1.9× faster end-to-end on a
    1.4M-edge graph, byte-identical output. Intermediate duplicate edges are
    NOT deduped inside the round; min() is duplicate-insensitive and the
    caller applies one canonical distinct per round.

    Trade-off: ``min().over(partitionBy(u))`` puts all of a node's neighbor
    rows on one partition and is not AQE-skew-splittable, while the groupBy
    formulation gets map-side partial aggregation and AQE skew-join splits.
    In star-contracted graphs a root's degree approaches its component size,
    so this path assumes bounded components (here: households — mentions of
    one postal address). Unbounded component sizes (spam clusters,
    boilerplate pages at crawl scale) push :func:`connected_components`
    onto the join formulation once a node's degree reaches
    ``_GIANT_DEGREE``.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("u")
    # large star: m = min(N(u) ∪ {u}); emit (v, m) for every neighbor v > u
    nbrs = edges.select("u", "v").union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    ls = (
        nbrs.withColumn("m", F.least(F.min("v").over(w), F.col("u")))
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    # small star over canonical orientation (u > v): link every smaller
    # neighbor AND u itself to the min — one explode, not a self-union
    # (a union would duplicate the window subtree and execute it twice)
    d = (
        ls.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .where(F.col("u") != F.col("v"))
        .withColumn("m", F.min("v").over(w))
    )
    return d.select(
        F.explode(
            F.array(
                F.struct(F.col("v").alias("a"), F.col("m").alias("b")),
                F.struct(F.col("u").alias("a"), F.col("m").alias("b")),
            )
        ).alias("e")
    ).select(F.col("e.a").alias("u"), F.col("e.b").alias("v"))


def _fingerprint(edges: DataFrame) -> tuple[int, int, int]:
    """(edge count, xor-hash, max node degree) in ONE job.

    The same agg doubles as the giant-component probe: each edge explodes
    to both endpoints, so ``max(per-node count)`` is the FULL symmetrized
    degree — the partition size the window-star formulation would build
    for that node (probing only the canonical v side would miss an input
    hub whose own id sorts below its neighbors'). The edge count and xor
    come from the side=0 copy only (counting both copies would make every
    edge's hash cancel its twin). Partial aggregation keeps the keying
    map-side; xor is associative so the two-level xor equals the flat one;
    bit_xor is overflow-free under ANSI mode (Spark 4 default) and, like
    all Spark aggs, skips the NULLs the CASE produces for side=1 rows.
    """
    doubled = edges.select(
        F.xxhash64("u", "v").alias("h"),
        F.posexplode(F.array("u", "v")).alias("side", "node"),
    )
    per_node = doubled.groupBy("node").agg(
        F.count("*").alias("deg"),
        F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).alias("ne"),
        F.expr("bit_xor(CASE WHEN side = 0 THEN h END)").alias("hx"),
    )
    row = per_node.agg(
        F.coalesce(F.sum("ne"), F.lit(0)).alias("n"),
        F.coalesce(F.expr("bit_xor(hx)"), F.lit(0)).alias("h"),
        F.coalesce(F.max("deg"), F.lit(0)).alias("d"),
    ).collect()[0]
    return int(row["n"]), int(row["h"]), int(row["d"])


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    checkpoint_dir: str | None = None,
    _strategy_log: list | None = None,
) -> DataFrame:
    """edges(src, dst) → assignments(mention_id, cluster_id).

    ``cluster_id`` is the minimum mention_id of the component in Spark's
    binary string order. Nodes present only as singletons are NOT returned
    (no edges → caller left-joins and coalesces to self, see
    ``attach_clusters``).

    The star loop runs on the ids cast to strings. Every round links each
    node to a smaller neighbour, so the loop converges to one star per
    component rooted at its minimum id: the converged edge list IS the
    labelling.

    Each round picks its physical strategy: the window formulation (2
    exchanges/round, assumes bounded component sizes) while the previous
    round's maximum symmetrized node degree — measured for free inside
    the convergence fingerprint — stays below ``_GIANT_DEGREE``, and
    groupBy+join stars (partial aggregation + AQE-skew-splittable) at or
    past it. Star contraction makes a giant component's root degree
    approach its component size within a round or two, so the per-round
    re-check catches mega-clusters (crawl spam/boilerplate) that a
    one-shot input-degree test would miss. Both strategies produce
    identical edge sets after each round — see :func:`_star_round_window`.
    The loop stops after ``_MAX_ITER`` rounds if it has not converged.

    ``_strategy_log`` (tests/debugging): a list that receives the strategy
    chosen each round.

    Thread-safety: the star loop relaxes the session-wide AQE coalesce
    floor (``spark.sql.adaptive.coalescePartitions.minPartitionNum``) for
    its duration and restores it after — queries run CONCURRENTLY on the
    same SparkSession inherit the relaxed floor while the loop runs. Spark
    offers no statement-scoped conf; run CC on its own session if that
    matters.
    """
    spark = edges.sparkSession
    if checkpoint_dir:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def _truncate(df: DataFrame) -> DataFrame:
        # EAGER checkpoint (r6). The r1-r5 design deferred materialization
        # to the fingerprint agg ("one job per iteration"), but under AQE
        # that laziness is an illusion that costs real time: building the
        # checkpoint's RDD (queryExecution.toRdd) already materializes
        # every upstream shuffle stage at CONSTRUCTION time, and the
        # final, most expensive stage (e.g. the Python JW scoring pass
        # feeding the loop) is then re-executed by consumers racing ahead
        # of the first cache fill — measured 16.6 s → 10.1 s warm for
        # er_clusters at sf0.1 by switching to eager. Eager pins each
        # round's result exactly once and every consumer reads the cache.
        # Local checkpoints store SERIALIZED: the loop parks one frame per
        # round until the cleaner runs, and deserialized caching of those
        # frames is pure JVM object/GC pressure (bench.py's measured
        # MEMORY_AND_DISK_SER lesson).
        if checkpoint_dir:
            return df.checkpoint(eager=True)
        from pyspark import StorageLevel

        level = getattr(StorageLevel, "MEMORY_AND_DISK_SER", StorageLevel.MEMORY_AND_DISK)
        return df.localCheckpoint(eager=True, storageLevel=level)

    # The star iterations shuffle a small, shrinking edge list. The session
    # pins AQE's coalesce floor at the core count, which makes every
    # micro-shuffle schedule cores×tasks of a few KB each — pure
    # task-launch overhead (the measured reason CC didn't scale 4→16 cores
    # in round 1). Relax the floor to cores/4 for the loop: AQE can then
    # coalesce by bytes but never serializes a round onto one thread
    # (floor=1 measured 1.7× slower than cores/4 — a mid-size edge list
    # collapsed to a single partition). On a real cluster a 10^10-edge graph
    # exceeds the advisory partition size and AQE keeps hundreds of
    # partitions regardless — the floor only matters at the small end.
    # Restored after the loop.
    floor_key = "spark.sql.adaptive.coalescePartitions.minPartitionNum"
    old_floor = spark.conf.get(floor_key, None)
    spark.conf.set(floor_key, str(max(2, spark.sparkContext.defaultParallelism // 4)))
    try:
        keyed = edges.select(
            F.col(src).cast("string").alias("u"), F.col(dst).cast("string").alias("v")
        )
        # the first checkpoint is the loop's only read of the input plan
        cur = _truncate(_canonical(keyed))
        # one job: materializes the checkpoint + aggs (count, xor, max degree)
        n, h, max_deg = _fingerprint(cur)
        prev_fp = (n, h)

        def _step_join(e: DataFrame) -> DataFrame:
            return _small_star(_large_star(e))

        for _ in range(_MAX_ITER):
            use_window = max_deg < _GIANT_DEGREE
            if _strategy_log is not None:
                _strategy_log.append("window" if use_window else "join")
            step = _star_round_window if use_window else _step_join
            stepped = _truncate(_canonical(step(cur)))
            n, h, max_deg = _fingerprint(stepped)  # single job per iteration
            fp = (n, h)
            cur = stepped
            if fp == prev_fp:
                break
            prev_fp = fp

        # Converged star graph: every edge is (member → root), the root
        # being the component's minimum id; the roots label themselves.
        # Lazy over the last checkpoint, so the caller's action reads it.
        members = cur.select(F.col("u").alias("mention_id"), F.col("v").alias("cluster_id"))
        roots = cur.select(F.col("v").alias("mention_id")).distinct()
        return members.union(roots.withColumn("cluster_id", F.col("mention_id")))
    finally:
        if old_floor is None:
            spark.conf.unset(floor_key)
        else:
            spark.conf.set(floor_key, old_floor)


def attach_clusters(mentions: DataFrame, assignments: DataFrame) -> DataFrame:
    """mentions ⟕ assignments; unmatched mentions become singleton clusters."""
    out = mentions.join(assignments, "mention_id", "left")
    return out.withColumn("cluster_id", F.coalesce("cluster_id", "mention_id"))
