"""The ``streaming.incremental_er`` layer, measured inside er_batch's traced
run: URL-split micro-batches of a slice of the er_batch sample through
``process_batch`` with the mention store, then one ``reconcile``.

Per-batch rows are few, so the fixed cost of each Spark job dominates
(a stateful batch runs ~86 jobs whatever its size); the state store is
appended beside the representative reads. Checked outside its timing: the
incremental partition refines the reconciled one, and every mention is
assigned exactly once.
"""

from __future__ import annotations

import os
import shutil

from common import Spans, dir_bytes

# a first batch, then one stateful batch
SPLITS = 2


def _check(root: str, merged) -> tuple[list[str], float]:
    """The incremental partition must refine the reconciled one. Also →
    the share of stateful-batch mentions attached to an earlier cluster."""
    import pyarrow.parquet as pq

    inc = pq.read_table(os.path.join(root, "assign")).to_pandas()
    later = inc[inc["batch_id"] > 0]
    own = set(later["mention_id"])
    attach_share = float((~later["cluster_id"].isin(own)).mean())
    problems = []
    if inc["mention_id"].duplicated().any():
        problems.append("a mention was assigned twice by the incremental batches")
    if set(inc["mention_id"]) != set(merged["mention_id"]):
        problems.append("reconcile and the incremental batches cover different mentions")
    joined = inc.merge(merged, on="mention_id", suffixes=("_inc", "_rec"))
    if (joined.groupby("cluster_id_inc")["cluster_id_rec"].nunique() > 1).any():
        problems.append("an incremental cluster is split by reconcile")
    return problems, attach_share


def incremental_layer(spark, pages, root: str, spans: Spans, tag) -> tuple[dict, list[str]]:
    """One sequence (first batch, stateful batch, reconcile), each call in
    a job group and span ``incremental_er.<call>`` → (layer metrics,
    output-check problems)."""
    from pyspark.sql import functions as F

    from indian_address_parser_spark.streaming.incremental_er import process_batch, reconcile

    shutil.rmtree(root, ignore_errors=True)
    tracker = spark.sparkContext.statusTracker()
    state, assign, store = (os.path.join(root, d) for d in ("state", "assign", "mentions"))
    n_pages = pages.count()
    batch_s, batch_jobs = [], []
    for b in range(SPLITS):
        part = pages.where(F.pmod(F.xxhash64("url"), F.lit(SPLITS)) == b)
        group = f"incremental_er.batch{b}"
        with spans.span(group, tag) as s:
            process_batch(part, b, state, assign, mentions_dir=store)
        batch_s.append(s.seconds)
        batch_jobs.append(len(tracker.getJobIdsForGroup(group)))
    with spans.span("incremental_er.reconcile", tag) as s:
        merged = reconcile(spark, store, assign).toPandas()
    problems, attach_share = _check(root, merged)
    layer = {
        "incremental_er.batch_s": batch_s[-1],
        "incremental_er.batch_jobs": batch_jobs[-1],
        "incremental_er.reconcile_s": s.seconds,
        "incremental_er.reconcile_jobs": len(
            tracker.getJobIdsForGroup("incremental_er.reconcile")
        ),
        "incremental_er.attach_share": attach_share,
        "incremental_er.store_bytes_per_page": dir_bytes(root) / n_pages,
    }
    shutil.rmtree(root, ignore_errors=True)
    return layer, problems
