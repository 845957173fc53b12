"""End-to-end checkpointed ER pipeline with stage manifests and resume.

Stage graph (SURVEY.md §3.4):

  pages ─extract(mapInPandas)→ mentions  [ckpt 1, narrow]
        ─block keys (+skew split)→ blocked [ckpt 2, one agg]
        ─self-join on join_key→ pairs ─score→ edges(+block_key) [ckpt 3, the big shuffle]
        ─by block_key→ union-find→ clusters [ckpt 4, one exchange]

Clustering is block-local: pairs join on ``join_key``, which refines the
primary ``block_key``, so every edge joins two mentions of one primary
block and no component crosses a block. ``cc.block_local_components``
labels them with one exchange by ``block_key`` and a per-partition
union-find — no iterated star rounds.

Each stage writes parquet plus a ``_manifest.json`` (stage name, format
version, input fingerprint, schema, row count, counters). ``run_pipeline``
skips a stage when its manifest matches the current input fingerprint AND
the stage's current format version — a rerun after a crash resumes mid-run
without recomputation (north rule), while a stage written in an older
format, or whose manifest records no schema, is recomputed rather than fed
to a consumer that cannot read it. A stage runs no job beyond its write:
the row count and counters are observed (``df.observe``) in the write job
itself, and the output is re-read with its known schema, so no inference
job runs. A
resumed stage is read with the manifest's schema, so a full resume runs
only the input fingerprint's job.

On a real cluster the parquet roots live on HDFS/S3 and the same logic
holds; Iceberg would add snapshot ids to the manifest — parquet + manifest
is the sandbox-portable equivalent (TESTDATA.md has no Iceberg catalog).
"""

from __future__ import annotations

import json
import os
import time

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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
# recomputes that stage. edges 3: carries the pair's primary ``block_key``
# (version 2 carried ``join_key``), which the block-local clusters stage
# partitions by.
STAGE_VERSIONS = {"mentions": 1, "blocked": 1, "edges": 3, "clusters": 1}


def _manifest_path(root: str, stage: str) -> str:
    return os.path.join(root, stage, "_manifest.json")


# semantic per-stage counters recorded in the manifest, observed in the
# stage's write job. Observed metrics admit no DISTINCT aggregate, so the
# counters are exact non-distinct forms: a cluster is labelled by its min
# member id and a singleton by its own id, so each cluster has exactly one
# row with mention_id = cluster_id.
_STAGE_COUNTERS = {
    "mentions": (
        "count(pincode) AS with_pincode",
        "count(city) AS with_city",
        "count(locality) AS with_locality",
    ),
    "blocked": (
        "count_if(join_key != block_key) AS split_rows",
        "max(block_size) AS max_block_size",
    ),
    "edges": ("min(score) AS min_score", "avg(score) AS avg_score"),
    "clusters": ("count_if(mention_id = cluster_id) AS n_clusters",),
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
    except Py4JJavaError:  # java.lang.ClassNotFoundException
        return False


def _write_stage(
    df: DataFrame,
    root: str,
    stage: str,
    input_fp: str,
    iceberg_prefix: str | None = None,
) -> tuple[DataFrame, dict]:
    """Write stage output + manifest; return the re-read DataFrame (so the
    downstream plan reads from storage — cutting lineage like a
    checkpoint) and the manifest.

    The row count and counters are observed in the write job and the
    output is re-read with the schema already known, so no job runs after
    the write. With ``iceberg_prefix`` (e.g. ``catalog.db``) AND the
    Iceberg runtime on the classpath, stages land in Iceberg tables and the
    manifest records the snapshot id (ACID commit + time-travel for
    resume); otherwise plain parquet. The manifest is written either way —
    it carries the lineage counters Iceberg's own snapshot summary does
    not."""
    spark = df.sparkSession
    obs = Observation()
    observed = df.observe(
        obs, *[F.expr(e) for e in ("count(*) AS rows", *_STAGE_COUNTERS[stage])]
    )
    if iceberg_prefix and iceberg_available(spark):  # pragma: no cover - needs jar
        table = f"{iceberg_prefix}.{stage}"
        observed.writeTo(table).using("iceberg").createOrReplace()
        out = spark.read.table(table)
        snap = (
            spark.sql(f"SELECT snapshot_id FROM {table}.snapshots "
                      "ORDER BY committed_at DESC LIMIT 1").collect()
        )
        storage = {"format": "iceberg", "table": table,
                   "snapshot_id": snap[0][0] if snap else None}
    else:
        path = os.path.join(root, stage)
        observed.write.mode("overwrite").parquet(path)
        out = spark.read.schema(df.schema).parquet(path)
        storage = {"format": "parquet"}
    counters = dict(obs.get)
    manifest = {
        "stage": stage,
        "version": STAGE_VERSIONS[stage],
        "input_fingerprint": input_fp,
        "rows": counters.pop("rows"),
        "counters": counters,
        "schema": out.schema.jsonValue(),
        "storage": storage,
        "written_at": time.time(),
    }
    os.makedirs(os.path.join(root, stage), exist_ok=True)
    with open(_manifest_path(root, stage), "w") as f:
        json.dump(manifest, f)
    return out, manifest


def _valid_manifest(root: str, stage: str, input_fp: str) -> dict | None:
    """→ the stage's manifest when the stage can be resumed, else None."""
    mp = _manifest_path(root, stage)
    if not os.path.exists(mp):
        return None
    try:
        with open(mp) as f:
            manifest = json.load(f)
    except (OSError, json.JSONDecodeError):
        return None
    valid = (
        manifest.get("stage") == stage
        and manifest.get("version", 1) == STAGE_VERSIONS[stage]
        and manifest.get("input_fingerprint") == input_fp
        and "schema" in manifest
    )
    return manifest if valid else None


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
        manifest = _valid_manifest(work_dir, name, fp) if resume else None
        if manifest is not None:
            report["resumed"].append(name)
            report["stages"][name] = manifest
            storage = manifest.get("storage", {})
            if storage.get("format") == "iceberg":  # pragma: no cover - needs jar
                return spark.read.table(storage["table"])
            schema = StructType.fromJson(manifest["schema"])
            return spark.read.schema(schema).parquet(os.path.join(work_dir, name))
        t0 = time.perf_counter()
        out, manifest = _write_stage(build(), work_dir, name, fp, iceberg_prefix)
        report["stages"][name] = {**manifest, "seconds": time.perf_counter() - t0}
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
