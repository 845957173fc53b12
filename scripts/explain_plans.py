"""Dump formatted physical plans for the key operators → BENCH/PLANS.md.

Checks the properties the plans must have at scale and records them for
review: column pruning of the binary html column, whole-stage codegen
around scoring, AQE shuffle handling on the pair join, the absence of
Python evaluation nodes in the JVM-only stages, and the block-local
union-find under ER clustering. Expression ids are written as ``#N``,
the data and temp dirs as ``<sf_dir>`` and ``<reconcile_dir>``.

    python scripts/explain_plans.py   # from the repository root
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from indian_address_parser_spark.operators.blocking import with_block_key
    from indian_address_parser_spark.operators.extract import extract_mentions
    from indian_address_parser_spark.operators.pairs import candidate_pairs
    from indian_address_parser_spark.operators.scoring import score_pairs
    from indian_address_parser_spark.plans.session import get_spark
    from indian_address_parser_spark.sources.pages import generate

    spark = get_spark(app_name="explain", master="local[8]", shuffle_partitions=8)
    tmp = "/tmp/explain_pages"
    generate(spark, n_households=500)["pages"].write.mode("overwrite").parquet(tmp)
    pages = spark.read.parquet(tmp)

    mentions = extract_mentions(pages)
    blocked = with_block_key(mentions)
    edges = score_pairs(candidate_pairs(blocked))

    sections = []
    checks = []

    def capture(title, df, must_contain=(), must_not=()):
        df.count()  # execute so AQE finalizes the adaptive plan (with codegen ids)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        sections.append(f"## {title}\n\n```\n{plan}\n```\n")
        for needle in must_contain:
            checks.append((title, f"contains {needle!r}", needle in plan))
        for needle in must_not:
            checks.append((title, f"does NOT contain {needle!r}", needle not in plan))
        return plan

    capture(
        "extract_mentions (pages parquet → mentions)",
        mentions,
        must_contain=("ReadSchema: struct<url:string,text:string>",),
        must_not=("html",),
    )

    capture(
        "blocking + candidate self-join + scoring (edges)",
        edges,
        # AQE's finalized plan omits codegen annotations in explainString;
        # assert the join strategy + adaptivity instead (codegen spans are
        # visible in the non-adaptive extract section above).
        # Two-stage scoring contract: the Jaro-Winkler Arrow kernel runs
        # ABOVE a round-robin exchange of the pruned narrow projection —
        # the join stage itself stays all-JVM, and row-at-a-time Python
        # (BatchEvalPython) appears nowhere.
        must_contain=("Join Inner", "AdaptiveSparkPlan", "RoundRobinPartitioning",
                      "ArrowEvalPython"),
        must_not=("BatchEvalPython",),
    )

    # JVM-only contract when no JW field is configured: zero Python nodes
    from indian_address_parser_spark.operators import scoring as scoring_mod

    orig = scoring_mod.FIELD_WEIGHTS
    scoring_mod.FIELD_WEIGHTS = tuple((f, w, g, False) for f, w, g, _ in orig)
    try:
        capture(
            "scoring with Levenshtein-only field table (JVM-only contract)",
            score_pairs(candidate_pairs(blocked)),
            must_contain=("Join Inner", "AdaptiveSparkPlan"),
            must_not=("ArrowEvalPython", "BatchEvalPython", "RoundRobinPartitioning"),
        )
    finally:
        scoring_mod.FIELD_WEIGHTS = orig

    # r4 contracts -------------------------------------------------------
    sf = "/root/testdata/sf0.001"

    # ER connected components are block-local: the er_clusters query and
    # the incremental reconcile label through the union-find MapInPandas,
    # not the iterated star loop (which would leave only a checkpoint scan)
    from indian_address_parser_spark.queries.er import q_er_clusters

    capture(
        "er_clusters (block-local union-find)",
        q_er_clusters(spark, sf),
        must_contain=("MapInPandas",),
    )

    # learned-IVF assignment: one narrow Arrow pass, no exchange
    from indian_address_parser_spark.queries._common import _emb_double
    from indian_address_parser_spark.queries.sim import (
        ivf_assign_cells,
        ivf_nprobe_for,
        train_ivf_centroids,
    )

    cents = train_ivf_centroids(sf)
    assigned = ivf_assign_cells(spark, _emb_double(spark, sf), cents, ivf_nprobe_for(len(cents)))
    capture(
        "learned-IVF cell assignment (broadcast Arrow kernel)",
        assigned,
        must_contain=("ArrowEvalPython",),
        must_not=("Exchange", "BatchEvalPython"),
    )

    # TPC-H Q5 shape: broadcast dims, no cartesian fallback
    from indian_address_parser_spark.queries.relational import q_join_regional_revenue

    capture(
        "regional revenue 6-table join (broadcast dims)",
        q_join_regional_revenue(spark, sf),
        must_contain=("BroadcastHashJoin",),
        must_not=("CartesianProduct", "BroadcastNestedLoopJoin"),
    )

    # as-of join: union-and-carry — sort-based, zero join nodes, no Python
    from indian_address_parser_spark.queries.relational import q_join_asof_events

    capture(
        "as-of join (union-and-carry, no range join)",
        q_join_asof_events(spark, sf),
        must_contain=("Window",),
        must_not=("Join", "CartesianProduct", "Python"),
    )

    # as-of hot-key pre-pass: windows bounded by (user_id, bucket) — the
    # carry join is an equi-join, never a range/cartesian shape, no Python
    prepass_plan = capture(
        "as-of join, hot-key bucket pre-pass (bounded windows)",
        q_join_asof_events(spark, sf, hot_key_bucket_s=3600),
        must_contain=("Window",),
        must_not=("CartesianProduct", "BroadcastNestedLoopJoin", "Python"),
    )
    checks.append(
        (
            "as-of hot-key pre-pass",
            "window partitions include the time bucket",
            "bucket" in prepass_plan,
        )
    )

    # sessionization: lag + running sum + groupBy all on ONE user_id shuffle
    from indian_address_parser_spark.queries.relational import q_events_sessionize

    sess_plan = capture(
        "batch sessionization (single user_id shuffle)",
        q_events_sessionize(spark, sf),
        must_not=("Python",),
    )
    checks.append(
        (
            "batch sessionization (single user_id shuffle)",
            "exactly one Exchange node",
            # formatted explain lists each node twice (tree + details):
            # count distinct "(N) Exchange" node headers
            len(set(re.findall(r"\(\d+\) Exchange", sess_plan))) == 1,
        )
    )

    # decontamination: eval shingle vocab broadcast into a semi-join
    from indian_address_parser_spark.queries.train import q_corpus_decontaminate

    capture(
        "corpus decontamination (broadcast eval-shingle semi-join)",
        q_corpus_decontaminate(spark, sf),
        must_contain=("BroadcastHashJoin", "LeftSemi"),
        must_not=("CartesianProduct",),
    )
    # ... and its count-gated fallback posture: past the broadcast ceiling
    # the semi-join degrades to a shuffled shape instead of force-
    # broadcasting a 10⁸-shingle vocabulary (assert on the pre-AQE static
    # plan; AQE may still upgrade at runtime from MEASURED sizes, which is
    # exactly the safe adaptive behavior the force-hint bypassed)
    # isolate the hint from the planner's own size-stat broadcast choice
    # (which remains free to fire — that is the point of removing the hint)
    _abt = "spark.sql.autoBroadcastJoinThreshold"
    _saved = spark.conf.get(_abt)
    spark.conf.set(_abt, "-1")
    try:
        decon_fb = q_corpus_decontaminate(spark, sf, broadcast_max_shingles=0)
        fb_static = decon_fb._jdf.queryExecution().sparkPlan().toString()
    finally:
        spark.conf.set(_abt, _saved)
    sections.append(
        "## corpus decontamination, gated fallback (static plan)\n\n"
        f"```\n{fb_static}\n```\n"
    )
    fb_semi = [ln for ln in fb_static.splitlines() if "LeftSemi" in ln]
    checks.append(
        (
            "decontamination fallback",
            "semi-join is not force-broadcast in the static plan",
            bool(fb_semi) and all("Broadcast" not in ln for ln in fb_semi),
        )
    )

    # incremental-ER reconcile: the cross-cluster prune (plain equi-joins +
    # a JVM filter) must run BELOW the Arrow JW kernel so the Python stage
    # sees only the thin cross-batch boundary set
    import shutil
    import tempfile

    import pyspark.sql.functions as F

    from indian_address_parser_spark.streaming.incremental_er import (
        process_batch,
        reconcile,
    )

    base = tempfile.mkdtemp(prefix="explain_reconcile_")
    try:
        rpages = generate(spark, n_households=100)["pages"]
        half = F.crc32(F.col("url")) % 2
        for i in (0, 1):
            process_batch(
                rpages.where(half == i), i, f"{base}/state", f"{base}/assign",
                mentions_dir=f"{base}/mentions",
            )
        capture(
            "incremental-ER reconcile (block-local union-find)",
            reconcile(spark, f"{base}/mentions", f"{base}/assign"),
            must_contain=("MapInPandas",),
        )
        # the bridge-edge subplan is where the prune matters; re-derive it
        from indian_address_parser_spark.operators.blocking import (
            with_block_key as _wbk,
        )
        from indian_address_parser_spark.operators.pairs import (
            candidate_pairs as _cp,
        )
        from indian_address_parser_spark.operators.scoring import (
            score_pairs as _sp,
        )

        mentions = spark.read.parquet(f"{base}/mentions").dropDuplicates(
            ["mention_id"]
        )
        assigns = (
            spark.read.parquet(f"{base}/assign")
            .select("mention_id", "cluster_id")
            .distinct()
        )
        pairs = _cp(_wbk(mentions))
        cross = (
            pairs.join(
                assigns.select(
                    F.col("mention_id").alias("mention_id_a"),
                    F.col("cluster_id").alias("_cl_a"),
                ),
                "mention_id_a",
            )
            .join(
                assigns.select(
                    F.col("mention_id").alias("mention_id_b"),
                    F.col("cluster_id").alias("_cl_b"),
                ),
                "mention_id_b",
            )
            .where(F.col("_cl_a") != F.col("_cl_b"))
            .drop("_cl_a", "_cl_b")
        )
        bridge_plan = _sp(cross)._jdf.queryExecution().sparkPlan().toString()
        sections.append(
            f"## reconcile bridge edges (subplan)\n\n```\n{bridge_plan}\n```\n"
        )
        arrow_at = bridge_plan.find("ArrowEvalPython")
        checks.append(
            (
                "reconcile bridge",
                "Arrow JW kernel present and cross-cluster filter below it",
                arrow_at >= 0 and "_cl_a" in bridge_plan[arrow_at:],
            )
        )
        checks.append(
            (
                "reconcile bridge",
                "no row-at-a-time Python, no cartesian",
                "BatchEvalPython" not in bridge_plan
                and "CartesianProduct" not in bridge_plan,
            )
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)

    # expression ids (#123) and the temp dir change with every run, and the
    # data dir with the host; masked, the recorded plans diff only where
    # the plans do
    sections = [
        re.sub(r"#\d+", "#N", sec).replace(base, "<reconcile_dir>").replace(sf, "<sf_dir>")
        for sec in sections
    ]
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/PLANS.md", "w") as f:
        f.write("# Physical plans of the core operators\n\n")
        f.write("Checks:\n\n")
        for title, what, ok in checks:
            f.write(f"- [{'x' if ok else ' '}] {title}: {what}\n")
        f.write("\n")
        f.writelines(sections)

    bad = [c for c in checks if not c[2]]
    for title, what, ok in checks:
        print(("PASS" if ok else "FAIL"), title, "—", what)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
