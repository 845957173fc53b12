"""Transitive clustering: connected components over the match graph.

Two implementations, one per graph shape. Both label each component with
its minimum ``mention_id`` (Spark's binary string order), so they are
interchangeable wherever both apply.

- :func:`block_local_components` — for KEY-LOCAL graphs, where every edge
  joins two mentions of the same ``join_key`` and every mention has exactly
  one key (``operators/pairs.py`` joins on key equality,
  ``operators/blocking.py`` assigns one key per mention). No component can
  then span two key groups, so one exchange of the edges by key followed by
  a per-partition union-find is exact. Callers: the batch pipeline
  (``plans/er_pipeline.py``), the oracled pipeline projection
  (``queries._pipeline_clusters``) and the intra-batch step of
  ``streaming/incremental_er.process_batch``. The partitioning key is the
  pair self-join's own key, so a union-find task is never more skewed than
  the join task that produced its edges.
- :func:`connected_components` — the general alternating-star algorithm
  (Kiveris et al., "Connected Components in MapReduce and Beyond") for
  graphs whose edges can CROSS keys: MinHash band pairs in
  ``q_dedup_canonical_keep`` and ``q_corpus_select`` (a document sits in
  many bands, so its duplicates chain across them) and
  ``incremental_er.reconcile`` (its assignment edges join mentions whose
  blocks straddle the split threshold across batches). ``q_er_clusters``
  also stays on it: its block-keyed edges are key-local, but the query
  projects the key away and is the oracled test of this algorithm.
  Converges in O(log n) rounds; components here are small so 2-4 rounds
  in practice.

Star-CC scale notes:
- The star loop runs over ``xxhash64`` longs (8-byte shuffle keys instead
  of ~50-byte urls); final labels are re-derived as ``min(mention_id)``
  per component — deterministic across runs, partition layouts and
  parallelism levels, and directly comparable to a SQL oracle. A runtime
  collision audit (one agg over the node dimension, gated on graph size —
  see :func:`connected_components`) falls back to string keys when the
  hash space collides — at 10^12 mentions n²/2⁶⁵ ≈ 2.7·10⁴ expected
  collisions, so "won't happen" is not an argument at that scale.
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

# Past this symmetrized node degree a round (and the label step) leaves the
# window formulation for groupBy+join stars; see connected_components.
_GIANT_DEGREE = 1_000_000
# The hash-collision audit runs once the graph may hold this many nodes.
_AUDIT_MIN_NODES = 100_000_000
# Star rounds before the loop stops unconverged (O(log n) expected).
_MAX_ITER = 25


def _union_find_labels(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """``mapInPandas`` body: every edge of one partition → one
    (mention_id, cluster_id) row per node.

    A partition holds whole key groups, so its components are complete
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
    """Key-local edges(src, dst, join_key) → assignments(mention_id, cluster_id).

    Exact only when no component spans two ``join_key`` values (module
    docstring); the labels are then those :func:`connected_components`
    gives. One exchange of the edges by key, then a union-find per
    partition: no loop, no convergence jobs, no checkpoints — the returned
    frame is lazy. One row per edge endpoint; mentions without edges are
    not returned (``attach_clusters`` makes them singletons)."""
    return (
        edges.select("src", "dst", "join_key")
        .repartition("join_key")
        .select("src", "dst")
        .mapInPandas(_union_find_labels, "mention_id string, cluster_id string")
    )


def _hash_id(col):
    """Loop-key hash for node ids. A module-level seam so tests can force
    collisions (monkeypatch) and prove the runtime audit catches them."""
    return F.xxhash64(col)


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
    hub whose own hash sorts below its neighbors'). The edge count and xor
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
    _explain_log: list | None = None,
) -> DataFrame:
    """edges(src, dst) → assignments(mention_id, cluster_id).

    ``cluster_id`` is the lexicographic minimum mention_id of the component.
    Nodes present only as singletons are NOT returned (no edges → caller
    left-joins and coalesces to self, see ``attach_clusters``).

    The star loop runs on ``xxhash64`` longs, not the (long) string ids —
    the iterated shuffles move 8-byte keys instead of ~50-byte urls. The
    final labels are re-derived as min(string id) per component, so output
    is identical to a string-keyed run. A hash collision (≈ n²/2⁶⁵ pairs;
    ~2.7·10⁴ expected at 10¹² mentions) could only ever merge two clusters,
    never split one — still a wrong answer at the scale where it becomes
    likely, so past ``_AUDIT_MIN_NODES`` the hash space is AUDITED at
    runtime: one agg over the (then checkpointed) node dimension compares
    ``count(mention_id)`` to ``count(distinct hid)``. On mismatch the loop
    reruns on the raw string keys — correct at ~6× shuffle bytes.

    ``_AUDIT_MIN_NODES`` gates the audit on graph size (the node-count
    upper bound 2 × edge-count, known for free from the convergence
    fingerprint). Below the gate of 10⁸ nodes the collision probability
    is ≤ (10⁸)²/2⁶⁵ ≈ 2.7·10⁻⁴ — the audit would cost two
    extra jobs (a distinct + checkpoint over every node id and a
    count-distinct shuffle) to rule out a once-in-4000-runs event, a
    measured −8% scaling-efficiency tax on the 8-core link stage at 4.8M
    pages. Past the gate the same two jobs are noise next to the star
    loop itself and the probability is no longer ignorable (expected
    collisions reach 0.5 at n ≈ 4.3·10⁹ and ~2.7·10⁴ at 10¹²), so the
    audit always runs. The collision tests set it to 0 to force the audit.

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

    The FINAL label step follows the same posture: while the converged
    graph's maximum degree (≈ its maximum component size — star
    contraction pulls every member adjacent to the root) stays below
    ``_GIANT_DEGREE``, labels come from one min-over-root window (a single
    exchange); at or past it labeling switches to a groupBy partial-agg +
    join back, which combines map-side and stays AQE-skew-splittable where
    a window partition would funnel the whole giant component onto one
    task.

    ``_strategy_log`` (tests/debugging): a list that receives the strategy
    chosen each round. ``_explain_log``: a list that receives the label
    step's full query-execution text BEFORE checkpoint truncation, so
    tests can assert the physical shape (window vs agg+join).

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

    # Checkpoint the INPUT edge list first: `nodes`, the initial star graph
    # and the final label joins all branch off it. Without this every branch
    # re-executes the full upstream plan (which for the query path includes
    # the Python-UDF scoring join — measured 3× recompute, the dominant cost
    # of the clusters query at sf0.1).
    str_edges = _truncate(
        edges.select(
            F.col(src).cast("string").alias("su"), F.col(dst).cast("string").alias("sv")
        )
    )
    distinct_nodes = (
        str_edges.select(F.col("su").alias("mention_id"))
        .union(str_edges.select(F.col("sv").alias("mention_id")))
        .distinct()
    )
    # Node dimension for the final label join. Stays LAZY by default — the
    # label step consumes it exactly once, so materializing it separately
    # is pure overhead. The gated collision audit below swaps in a
    # checkpointed copy when it runs (it then has two consumers).
    nodes = distinct_nodes.withColumn("hid", _hash_id(F.col("mention_id")))

    # The star iterations shuffle a small, shrinking edge list (8-byte
    # pairs). The session pins AQE's coalesce floor at the core count, which
    # makes every micro-shuffle schedule cores×tasks of a few KB each — pure
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
        keyed = str_edges.select(
            _hash_id(F.col("su")).alias("u"), _hash_id(F.col("sv")).alias("v")
        )
        cur = _truncate(_canonical(keyed))
        # one job: materializes the checkpoint + aggs (count, xor, max degree)
        n, h, max_deg = _fingerprint(cur)
        prev_fp = (n, h)

        # Gated runtime hash-collision audit (docstring): node count is
        # bounded by 2 × the canonical edge count just measured, so the
        # gate itself costs nothing. When it fires, the node dimension is
        # checkpointed (audit + label join = two consumers) and one agg
        # compares id count to distinct-hash count.
        if 2 * n >= _AUDIT_MIN_NODES:
            nodes = _truncate(nodes)
            audit = nodes.agg(
                F.count("*").alias("n"), F.countDistinct("hid").alias("d")
            ).collect()[0]
            if int(audit["n"]) != int(audit["d"]):
                # String keys: lexicographic order is a total order too, and
                # the converged root IS min(mention_id), so the label step
                # below works unchanged (hid == mention_id == root
                # namespace). Rare by construction, so the restarted
                # fingerprint job is an acceptable tax.
                nodes = _truncate(distinct_nodes.withColumn("hid", F.col("mention_id")))
                keyed = str_edges.select(F.col("su").alias("u"), F.col("sv").alias("v"))
                cur = _truncate(_canonical(keyed))
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

        # Converged star graph: every edge is (node-key → root-key). Map
        # back to string ids and label each component by its minimum string
        # id. The physical shape follows the loop's skew posture
        # (docstring): bounded components → ONE min-over-root window
        # exchange; giant-component posture → groupBy partial-agg + join
        # back, which combines map-side (one row per component before its
        # exchange) and leaves the join AQE-skew-splittable where a window
        # would funnel the whole component onto a single task. max_deg of
        # the converged graph ≈ the largest component size: every member
        # ends adjacent to its root, so the root's symmetrized degree
        # (measured free in the last fingerprint) bounds it.
        members = cur.select(F.col("u").alias("hid"), F.col("v").alias("root"))
        roots = cur.select(F.col("v").alias("hid")).distinct().withColumn("root", F.col("hid"))
        assignments_h = members.union(roots).distinct()
        if max_deg < _GIANT_DEGREE:
            from pyspark.sql import Window

            named = assignments_h.join(nodes, "hid").select("mention_id", "root")
            out = named.select(
                "mention_id",
                F.min("mention_id").over(Window.partitionBy("root")).alias("cluster_id"),
            )
        else:
            # checkpointed: consumed twice (label agg + final join) —
            # without this the hid→mention_id join would execute twice
            named = _truncate(assignments_h.join(nodes, "hid").select("mention_id", "root"))
            labels = named.groupBy("root").agg(F.min("mention_id").alias("cluster_id"))
            out = named.join(labels, "root").select("mention_id", "cluster_id")
        if _explain_log is not None:
            _explain_log.append(out._jdf.queryExecution().toString())
        # Checkpoint the result: the caller's first action otherwise
        # re-plans the full label chain inside one job — measured ~10×
        # slower than consuming the truncated plan.
        return _truncate(out)
    finally:
        if old_floor is None:
            spark.conf.unset(floor_key)
        else:
            spark.conf.set(floor_key, old_floor)


def attach_clusters(mentions: DataFrame, assignments: DataFrame) -> DataFrame:
    """mentions ⟕ assignments; unmatched mentions become singleton clusters."""
    out = mentions.join(assignments, "mention_id", "left")
    return out.withColumn("cluster_id", F.coalesce("cluster_id", "mention_id"))
