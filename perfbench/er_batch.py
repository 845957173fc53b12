"""er_batch: back-to-back fresh ``run_pipeline`` calls, each followed by
``resume=True`` calls on the same work directory (closed loop, one caller).

Input: a seeded sample of the 50,000-household ``sources.pages`` corpus
(bench.py's sf0.1 ER input, 60,417 pages). A primary block key is pincode,
city and the soundex of the colony, and the generator gives each household
its colony from the household number alone, so keeping every household of
one colony keeps each of its blocks whole across all 20 pincodes: sixteen
ordinary blocks of 240-620 mentions and one block of the shared mega
pincode (980-1,480 mentions), about 5,430 mentions in all. A fresh call
then takes ~10 s on four cores. Pages are rebuilt from the sampled mentions
between seeded filler lines, and the generator's labeled pairs of the
sampled blocks are kept.

The traced run also measures the ``streaming.incremental_er`` layer
(``incremental_layer.py``).
"""

from __future__ import annotations

import os
import random
import shutil
import time

from common import WORK, RssSampler, Spans, dir_bytes, median, spark_conf, spin_mops, stop_spark

N_HOUSEHOLDS = 50_000
CORE_SAMPLE = 500
# untimed operations pay the JVM's code generation before timing starts: a
# cold call took ~17-25 s, the next ~9 s and the one after it ~8 s; after
# two, consecutive calls agree within ~5%
WARM_OPS = 2
# a resume call takes ~0.5 s, so each operation makes several and keeps the
# median
RESUMES = 3
# a run measures round(--seconds / OP_SECONDS) fresh + resume operations
# (at least one); one takes 9-14 s on a 4-core host
OP_SECONDS = 15
# pages of the sample the traced run sends through the incremental path
INCREMENTAL_PAGES = 400


def make_inputs(spark, seed: int):
    """→ (pages, labeled_pairs) Spark frames, cached, the raw address
    strings, the sampled colony and the page count. Only the sampled pages
    reach the program."""
    import pandas as pd
    from pyspark.sql import functions as F

    from indian_address_parser_spark.sources.pages import COLONIES, FILLERS, generate

    rng = random.Random(seed)
    # the block key ends in the soundex of the colony; two colonies share
    # one (their group holds the corpus's largest block, 2,464 mentions,
    # and twice the mentions of any other), so only the other 23 are drawn
    keys = spark.range(1).select(
        *[F.soundex(F.lit(c.replace(" ", ""))) for c in COLONIES]
    ).first()
    colony = rng.choice([i for i, k in enumerate(keys) if list(keys).count(k) == 1])
    corpus = generate(spark, n_households=N_HOUSEHOLDS)
    # both queries below read the truth table: build it once
    truth = corpus["truth"].persist()
    sample = (
        truth.where((F.col("entity_id") / 11).cast("long") % len(COLONIES) == colony)
        .select("url", "mention_seq", "raw")
        .toPandas()
        .sort_values(["url", "mention_seq"], ignore_index=True)
    )
    labeled_pd = (
        corpus["labeled_pairs"]
        .where(F.col("block_key").endswith("|" + keys[colony]))
        .select("mention_id_a", "mention_id_b", "is_match")
        .toPandas()
    )
    truth.unpersist()

    sample["seq"] = sample.groupby("url").cumcount()
    old_ids = sample["url"] + "#" + sample["mention_seq"].astype(str)
    new_ids = dict(zip(old_ids, sample["url"] + "#" + sample["seq"].astype(str)))
    labeled_pd["mention_id_a"] = labeled_pd["mention_id_a"].map(new_ids)
    labeled_pd["mention_id_b"] = labeled_pd["mention_id_b"].map(new_ids)
    if labeled_pd.isna().any(axis=None):
        raise RuntimeError("a labeled pair names a mention outside the sample")

    pages_pd = pd.DataFrame(
        [
            (url, "\n".join([rng.choice(FILLERS), *grp["raw"], rng.choice(FILLERS)]))
            for url, grp in sample.groupby("url", sort=True)
        ],
        columns=["url", "text"],
    )
    parts = spark.sparkContext.defaultParallelism * 2
    pages = spark.createDataFrame(pages_pd).repartition(parts).persist()
    labeled = spark.createDataFrame(labeled_pd).persist()
    pages.count()
    labeled.count()
    return pages, labeled, list(sample["raw"]), COLONIES[colony], len(pages_pd)


def check_outputs(work_dir: str) -> list[str]:
    """Every mention has exactly one cluster, and the clusters equal a
    pure-Python union-find over the ``edges`` stage."""
    import pyarrow.parquet as pq

    mentions = pq.read_table(os.path.join(work_dir, "mentions"), columns=["mention_id"])
    clusters = pq.read_table(
        os.path.join(work_dir, "clusters"), columns=["mention_id", "cluster_id"]
    ).to_pydict()
    edges = pq.read_table(os.path.join(work_dir, "edges"), columns=["src", "dst"]).to_pydict()
    problems = []

    mention_ids = mentions.column("mention_id").to_pylist()
    assigned = clusters["mention_id"]
    if len(assigned) != len(set(assigned)):
        problems.append("a mention has more than one cluster row")
    if set(assigned) != set(mention_ids):
        problems.append("cluster rows do not cover exactly the extracted mentions")

    parent = {m: m for m in mention_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(edges["src"], edges["dst"]):
        if a not in parent or b not in parent:
            problems.append("an edge names a mention that was not extracted")
            break
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    def partition(pairs):
        groups: dict = {}
        for m, c in pairs:
            groups.setdefault(c, set()).add(m)
        return {frozenset(g) for g in groups.values()}

    got = partition(zip(assigned, clusters["cluster_id"]))
    want = partition((m, find(m)) for m in mention_ids)
    if got != want:
        problems.append("clusters differ from a union-find over the edges stage")
    return problems


def _op(spark, pages, work_dir: str, tag=None) -> tuple[float, float, dict, list[dict]]:
    """One fresh call, then ``RESUMES`` resume calls on its work directory
    → (fresh s, median resume s, fresh report, resume reports)."""
    from indian_address_parser_spark.plans.er_pipeline import run_pipeline

    shutil.rmtree(work_dir, ignore_errors=True)
    if tag:
        tag("er_pipeline")
    t = time.perf_counter()
    report = run_pipeline(spark, pages, work_dir)
    fresh = time.perf_counter() - t
    if tag:
        tag("er_pipeline.resume")
    resume_s, resumed = [], []
    for _ in range(RESUMES):
        t = time.perf_counter()
        resumed.append(run_pipeline(spark, pages, work_dir, resume=True))
        resume_s.append(time.perf_counter() - t)
    return fresh, median(resume_s), report, resumed


def _verify(resumed: list[dict], work_dir: str) -> list[str]:
    from indian_address_parser_spark.plans.er_pipeline import STAGES

    problems = check_outputs(work_dir)
    for r in resumed:
        if sorted(r["resumed"]) != sorted(STAGES):
            problems.append(f"resume recomputed stages: resumed only {r['resumed']}")
    return problems


def _operators(spark, pages, spans: Spans, tag) -> dict[str, float]:
    """Materialize each pipeline operator on its own, under its own job
    group and span, so each layer's wall time and counters stand alone."""
    from pyspark.sql import functions as F

    from indian_address_parser_spark.operators.blocking import with_block_key
    from indian_address_parser_spark.operators.cc import attach_clusters, connected_components
    from indian_address_parser_spark.operators.extract import extract_mentions
    from indian_address_parser_spark.operators.pairs import PAIR_INPUT_COLS, candidate_pairs
    from indian_address_parser_spark.operators.scoring import score_pairs

    out = {}
    with spans.span("extract", tag) as s:
        mentions = extract_mentions(pages).persist()
        out["extract.mentions"] = mentions.count()
    out["extract.wall_s"] = s.seconds
    with spans.span("blocking", tag) as s:
        blocked = with_block_key(mentions).select(*PAIR_INPUT_COLS).persist()
        row = blocked.agg(
            F.count("*").alias("n"),
            F.max("block_size").alias("max_block"),
            F.sum((F.col("join_key") != F.col("block_key")).cast("int")).alias("split"),
        ).collect()[0]
    out["blocking.wall_s"] = s.seconds
    out["blocking.max_block"] = row["max_block"]
    out["blocking.split_share"] = row["split"] / row["n"]
    with spans.span("pairs", tag) as s:
        pairs = candidate_pairs(blocked).persist()
        out["pairs.candidates"] = pairs.count()
    out["pairs.wall_s"] = s.seconds
    with spans.span("scoring", tag) as s:
        edges = score_pairs(pairs).persist()
        out["scoring.edges"] = edges.count()
    out["scoring.wall_s"] = s.seconds
    out["scoring.edge_yield"] = out["scoring.edges"] / max(out["pairs.candidates"], 1)
    with spans.span("cc", tag) as s:
        clusters = attach_clusters(
            mentions.select("mention_id", "url", "normalized"), connected_components(edges)
        )
        out["cc.components"] = clusters.agg(F.countDistinct("cluster_id")).collect()[0][0]
    out["cc.wall_s"] = s.seconds
    for df in (edges, pairs, blocked, mentions):
        df.unpersist()
    return out


def run(seed: int, seconds: float, trace: bool, t0: float) -> dict:
    from indian_address_parser_spark.eval.pairwise import pairwise_scores
    from indian_address_parser_spark.plans.session import get_spark

    from core_layer import core_layer_ms
    from eventlog import merge, rollup, writer_cpu_s
    from incremental_layer import incremental_layer

    spans = Spans(t0)
    log_dir = os.path.join(WORK, "eventlog", f"er_batch-{seed}-{os.getpid()}")
    work_root = os.path.join(WORK, f"er_batch-{os.getpid()}")
    checks = {"attempted": 0, "failed": 0, "problems": []}
    layer: dict[str, float] = {}

    def count(problems: list[str]) -> None:
        checks["attempted"] += 1
        checks["failed"] += bool(problems)
        checks["problems"] += problems

    def op(name: str, tagged: bool = False):
        """One checked operation under its own job group, or, ``tagged``,
        with the fresh and resume calls in groups of their own; the check
        runs outside its timing."""
        wd = os.path.join(work_root, name)
        with spans.span(name, tag):
            fresh, resume, report, resumed = _op(spark, pages, wd, tag if tagged else None)
        with spans.span("verify", tag):
            count(_verify(resumed, wd))
        return fresh, resume, report, wd

    spark = None
    try:
        with spans.span("setup"):
            with spans.span("session") as s:
                spark = get_spark(
                    app_name="perfbench-er_batch",
                    extra_conf=spark_conf(log_dir if trace else None),
                )
                spark.sparkContext.setLogLevel("ERROR")
            layer["session.build_s"] = s.seconds

            def tag(name):
                spark.sparkContext.setJobGroup(name, name)

            with spans.span("session.input", lambda _: tag("session")):
                pages, labeled, raws, colony, n_pages = make_inputs(spark, seed)
                # a full collection (the session runs one every 2 minutes)
                # hands back the heap input generation grew, by 1-2.5 GB and
                # more in some runs than in others, before the warm calls
                # grow it again as the measured calls do
                spark.sparkContext._jvm.System.gc()
            for i in range(WARM_OPS):
                op(f"warm{i}")
        setup_s = time.perf_counter() - t0
        # the calibration spins sit between the timed windows
        cal = [spin_mops()]

        with RssSampler(os.getpid()) as rss:
            if trace:
                fresh, resume, report, wd = op("traced_call", tagged=True)
                fresh_s, resume_s = [fresh], [resume]
                layer["er_pipeline.wall_s"] = fresh
                layer["er_pipeline.bytes_written"] = dir_bytes(wd)
                for st, info in report["stages"].items():
                    layer[f"er_pipeline.stage_s.{st}"] = info["seconds"]
            else:
                fresh_s, resume_s = [], []
                for _ in range(max(1, round(seconds / OP_SECONDS))):
                    fresh, resume, _, wd = op(f"op{len(fresh_s)}")
                    fresh_s.append(fresh)
                    resume_s.append(resume)
        cal.append(spin_mops())
        # the clusters are deterministic for an input: score the last ones
        with spans.span("pairwise_f1", tag):
            f1 = pairwise_scores(spark.read.parquet(os.path.join(wd, "clusters")), labeled)["f1"]

        if trace:
            with spans.span("operators"):
                layer.update(_operators(spark, pages, spans, tag))
            layer["er_pipeline.overhead_s"] = sum(
                info["seconds"] for info in report["stages"].values()
            ) - sum(
                layer[f"{o}.wall_s"] for o in ("extract", "blocking", "pairs", "scoring", "cc")
            )
            with spans.span("incremental_er"):
                found_layer, found = incremental_layer(
                    spark,
                    pages.limit(INCREMENTAL_PAGES),
                    os.path.join(work_root, "incremental"),
                    spans,
                    tag,
                )
            layer.update(found_layer)
            count(found)
            with spans.span("core"):
                pick = random.Random(seed).sample(raws, min(CORE_SAMPLE, len(raws)))
                layer.update(core_layer_ms(pick))
            layer["trace.overhead_s"] = writer_cpu_s(spark)
    finally:
        if spark is not None:
            stop_spark(spark)
    shutil.rmtree(work_root, ignore_errors=True)

    groups = {}
    if trace:
        groups = rollup(log_dir)
        for g in ("session", "extract", "blocking", "pairs", "scoring", "cc", "er_pipeline"):
            for k, v in groups.get(g, {}).items():
                layer[f"{g}.{k}"] = v
        for k, v in merge(groups, "incremental_er").items():
            layer[f"incremental_er.{k}"] = v
        layer["trace.uncovered_s"] = spans.uncovered(time.perf_counter() - t0)
        shutil.rmtree(log_dir, ignore_errors=True)

    return {
        **checks,
        "metrics": {
            "setup_s": setup_s,
            "op_p50_ms": median(fresh_s) * 1000,
            "op_tail_ms": max(fresh_s) * 1000,
            "aux_op_p50_ms": median(resume_s) * 1000,
            "peak_rss_mb": rss.peak_mb,
            "quality": f1,
        },
        "layer": layer,
        "groups": groups,
        "spans": spans.records,
        "workload": {
            "colony": colony,
            "pages": n_pages,
            "fresh_s": fresh_s,
            "resume_s": resume_s,
            "pages_per_s": n_pages / median(fresh_s),
            "pairwise_f1": f1,
            "peak_rss_mb": rss.peak_mb,
            "failed_ratio": checks["failed"] / checks["attempted"],
            "cal_mops": cal,
        },
    }
