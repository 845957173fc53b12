"""End-to-end checkpointed ER pipeline with stage manifests and resume.

Stage graph (SURVEY.md §3.4):

  pages ─extract(mapInPandas)→ mentions  [ckpt 1, narrow]
        ─block keys (+skew split)→ blocked [ckpt 2, one agg]
        ─self-join→ pairs ─score→ edges   [ckpt 3, the big shuffle]
        ─by join_key→ union-find→ clusters [ckpt 4, one exchange]

Clustering is block-local: every edge joins two mentions of one
``join_key`` and every mention has one key, so no component crosses a key
group and ``cc.block_local_components`` labels them with one exchange and
a per-partition union-find — no iterated star rounds.

Each stage writes parquet plus a ``_manifest.json`` (stage name, format
version, input fingerprint, row count, per-partition counts, counters).
``run_pipeline`` skips a stage when its manifest matches the current input
fingerprint AND the stage's current format version — a rerun after a
crash resumes mid-run without recomputation (north rule), while a stage
written in an older format is recomputed rather than fed to a consumer
that cannot read it. The row and per-partition counts and the stage
counters come from two jobs over the re-read stage output
(``_finish_manifest``); they are also the per-partition lineage record.

On a real cluster the parquet roots live on HDFS/S3 and the same logic
holds; Iceberg would add snapshot ids to the manifest — parquet + manifest
is the sandbox-portable equivalent (TESTDATA.md has no Iceberg catalog).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from indian_address_parser_spark.eval.pairwise import pairwise_scores
from indian_address_parser_spark.operators.blocking import with_block_key
from indian_address_parser_spark.operators.cc import attach_clusters, block_local_components
from indian_address_parser_spark.operators.extract import extract_mentions
from indian_address_parser_spark.operators.pairs import candidate_pairs
from indian_address_parser_spark.operators.scoring import DEFAULT_THRESHOLD, score_pairs

STAGES = ("mentions", "blocked", "edges", "clusters")

# Bump a stage's version whenever the columns it writes change. A manifest
# with another version — or with none, written before versions were
# recorded, which counts as 1 — does not validate, so an old work dir
# recomputes that stage. edges 2: carries ``join_key``, which the
# block-local clusters stage partitions by.
STAGE_VERSIONS = {"mentions": 1, "blocked": 1, "edges": 2, "clusters": 1}


def _manifest_path(root: str, stage: str) -> str:
    return os.path.join(root, stage, "_manifest.json")


# semantic per-stage counters recorded in the manifest (observability /
# lineage record alongside the per-partition row counts)
_STAGE_COUNTERS = {
    "mentions": lambda: [
        F.count(F.col("pincode")).alias("with_pincode"),
        F.count(F.col("city")).alias("with_city"),
        F.count(F.col("locality")).alias("with_locality"),
    ],
    "blocked": lambda: [
        F.countDistinct("block_key").alias("distinct_blocks"),
        F.countDistinct("join_key").alias("distinct_join_keys"),
        F.max("block_size").alias("max_block_size"),
    ],
    "edges": lambda: [
        F.min("score").alias("min_score"),
        F.avg("score").alias("avg_score"),
    ],
    "clusters": lambda: [
        F.countDistinct("cluster_id").alias("n_clusters"),
    ],
}


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime jar is on the classpath (the
    north star checkpoints stages to Iceberg; this sandbox has no jar, so
    the parquet+manifest path below is the tested fallback)."""
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def _write_stage(
    df: DataFrame,
    root: str,
    stage: str,
    input_fp: str,
    iceberg_prefix: str | None = None,
) -> DataFrame:
    """Write stage output + manifest; return the re-read DataFrame (so the
    downstream plan reads from storage — cutting lineage like a checkpoint).

    With ``iceberg_prefix`` (e.g. ``catalog.db``) AND the Iceberg runtime on
    the classpath, stages land in Iceberg tables and the manifest records
    the snapshot id (ACID commit + time-travel for resume); otherwise plain
    parquet. The manifest is written either way — it carries the lineage
    counters Iceberg's own snapshot summary does not."""
    spark = df.sparkSession
    storage: dict = {"format": "parquet"}
    if iceberg_prefix and iceberg_available(spark):  # pragma: no cover - needs jar
        table = f"{iceberg_prefix}.{stage}"
        df.writeTo(table).using("iceberg").createOrReplace()
        out = spark.read.table(table)
        snap = (
            spark.sql(f"SELECT snapshot_id FROM {table}.snapshots "
                      "ORDER BY committed_at DESC LIMIT 1").collect()
        )
        storage = {"format": "iceberg", "table": table,
                   "snapshot_id": snap[0][0] if snap else None}
        return _finish_manifest(out, root, stage, input_fp, storage)
    path = os.path.join(root, stage)
    df.write.mode("overwrite").parquet(path)
    out = spark.read.parquet(path)
    return _finish_manifest(out, root, stage, input_fp, storage)


def _finish_manifest(
    out: DataFrame, root: str, stage: str, input_fp: str, storage: dict
) -> DataFrame:
    per_part = (
        out.groupBy(F.spark_partition_id().alias("pid")).count().collect()
    )
    counters = {}
    agg_exprs = _STAGE_COUNTERS.get(stage)
    if agg_exprs:
        row = out.agg(*agg_exprs()).collect()[0]
        counters = {k: (v if not hasattr(v, "item") else v.item()) for k, v in row.asDict().items()}
    manifest = {
        "stage": stage,
        "version": STAGE_VERSIONS[stage],
        "input_fingerprint": input_fp,
        "rows": sum(r["count"] for r in per_part),
        "partitions": {str(r["pid"]): r["count"] for r in per_part},
        "counters": counters,
        "storage": storage,
        "written_at": time.time(),
    }
    os.makedirs(os.path.join(root, stage), exist_ok=True)
    with open(_manifest_path(root, stage), "w") as f:
        json.dump(manifest, f)
    return out


def _stage_valid(root: str, stage: str, input_fp: str) -> bool:
    mp = _manifest_path(root, stage)
    if not os.path.exists(mp):
        return False
    try:
        with open(mp) as f:
            manifest = json.load(f)
    except (OSError, json.JSONDecodeError):
        return False
    return (
        manifest.get("stage") == stage
        and manifest.get("version", 1) == STAGE_VERSIONS[stage]
        and manifest.get("input_fingerprint") == input_fp
    )


def _input_fingerprint(pages: DataFrame) -> str:
    row = pages.agg(
        F.count("*").alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(url))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return f"{row['n']}:{row['h']}"


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    work_dir: str,
    threshold: float = DEFAULT_THRESHOLD,
    max_block_size: int = 200,
    labeled_pairs: DataFrame | None = None,
    resume: bool = True,
    iceberg_prefix: str | None = None,
) -> dict:
    """Run (or resume) the full pipeline. Returns stage row counts, timings
    and (if labeled_pairs given) pairwise P/R/F1. ``iceberg_prefix`` opts
    stage checkpoints into Iceberg tables when the runtime jar is present
    (see _write_stage); manifests drive resume either way."""
    os.makedirs(work_dir, exist_ok=True)
    fp = _input_fingerprint(pages)
    report: dict = {"input_fingerprint": fp, "stages": {}, "resumed": []}

    def stage(name: str, build):
        path = os.path.join(work_dir, name)
        if resume and _stage_valid(work_dir, name, fp):
            report["resumed"].append(name)
            with open(_manifest_path(work_dir, name)) as f:
                manifest = json.load(f)
            report["stages"][name] = manifest
            storage = manifest.get("storage", {})
            if storage.get("format") == "iceberg":  # pragma: no cover - needs jar
                return spark.read.table(storage["table"])
            return spark.read.parquet(path)
        t0 = time.perf_counter()
        out = _write_stage(build(), work_dir, name, fp, iceberg_prefix)
        with open(_manifest_path(work_dir, name)) as f:
            report["stages"][name] = json.load(f)
        report["stages"][name]["seconds"] = time.perf_counter() - t0
        return out

    mentions = stage("mentions", lambda: extract_mentions(pages))
    # checkpoint only the projection the pair join reads — the wide mention
    # payload (url, normalized text) is re-joined from the mentions stage
    # where needed and would otherwise dominate this stage's write volume
    from indian_address_parser_spark.operators.pairs import PAIR_INPUT_COLS

    blocked = stage(
        "blocked",
        lambda: with_block_key(mentions, max_block_size).select(*PAIR_INPUT_COLS),
    )
    edges = stage("edges", lambda: score_pairs(candidate_pairs(blocked), threshold))
    clusters = stage(
        "clusters",
        lambda: attach_clusters(
            mentions.select("mention_id", "url", "normalized"),
            block_local_components(edges),
        ),
    )

    if labeled_pairs is not None:
        report["pairwise"] = pairwise_scores(clusters, labeled_pairs)
    return report
