"""Relational coverage: plan-shape checks for the TPC-H-ish queries.

Value correctness is gated by the DuckDB oracles (scripts/check_oracle.py /
the driver); these tests pin the PHYSICAL shapes that matter at 100 TB.
"""

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


class TestRegionalRevenue:
    def test_dims_broadcast_no_cartesian(self, spark):
        """nation/region must come in as broadcast joins (O(10²) rows at
        any scale); nothing in the 6-table join may fall back to a
        cartesian/nested-loop product."""
        from indian_address_parser_spark.queries.relational import q_join_regional_revenue

        df = q_join_regional_revenue(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("BroadcastHashJoin") >= 2, plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_region_filter_prunes(self, spark):
        """The r_name filter must reach the region scan (predicate
        pushdown), not run post-join."""
        from indian_address_parser_spark.queries.relational import q_join_regional_revenue

        df = q_join_regional_revenue(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters" in plan and "r_name" in plan


class TestStratifiedSample:
    def test_partition_layout_invariant(self, spark):
        """Exact-k-per-stratum output must be IDENTICAL under any input
        partition layout — the two-phase (per-partition pre-top-k, then
        per-stratum rank) construction only changes the intermediate."""
        from indian_address_parser_spark.queries.train import q_train_stratified_sample

        base = sorted(
            (r["doc_id"], r["lang"], r["rk"])
            for r in q_train_stratified_sample(spark, SF_DIR).collect()
        )
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        for n_parts in (1, 7):
            relaid = docs.repartition(n_parts)
            # rebuild the query over the re-laid frame via the same code path
            import indian_address_parser_spark.queries.train as Q

            orig = Q._docs
            try:
                Q._docs = lambda s, d: relaid
                got = sorted(
                    (r["doc_id"], r["lang"], r["rk"])
                    for r in q_train_stratified_sample(spark, SF_DIR).collect()
                )
            finally:
                Q._docs = orig
            assert got == base, f"layout {n_parts} diverged"

    def test_exact_k_per_stratum(self, spark):
        from collections import Counter

        from indian_address_parser_spark.queries.train import q_train_stratified_sample

        rows = q_train_stratified_sample(spark, SF_DIR, k=20).collect()
        per = Counter(r["lang"] for r in rows)
        assert all(v == 20 for v in per.values()), per


class TestCanonicalKeep:
    def test_decision_table_covers_corpus_and_pairs(self, spark):
        from indian_address_parser_spark.queries.dedup import (
            q_dedup_canonical_keep,
            q_dedup_minhash128_band_pairs,
        )

        keep = {r["doc_id"]: r for r in q_dedup_canonical_keep(spark, SF_DIR).collect()}
        n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
        assert len(keep) == n_docs  # one decision per document
        pairs = q_dedup_minhash128_band_pairs(spark, SF_DIR).collect()
        assert pairs
        for p in pairs:  # both sides of a near-dup pair share one keeper
            assert keep[p["id_a"]]["keep_id"] == keep[p["id_b"]]["keep_id"]
        # exactly one kept representative per cluster
        kept = {r["keep_id"] for r in keep.values() if r["is_kept"]}
        all_clusters = {r["keep_id"] for r in keep.values()}
        assert kept == all_clusters


class TestEventsWindowed:
    def test_hour_alignment_and_streaming_parity(self, spark):
        """Window starts are epoch-aligned hour boundaries — the same
        bucketing ``F.window`` gives a stream."""
        from indian_address_parser_spark.queries.relational import q_agg_events_windowed

        rows = q_agg_events_windowed(spark, SF_DIR).collect()
        assert rows
        total = sum(r["n_events"] for r in rows)
        n_input = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
        assert total == n_input  # tumbling windows partition, never drop
        for r in rows[:50]:
            t = r["win_start"]
            assert t.minute == 0 and t.second == 0 and t.microsecond == 0

    def test_single_shuffle_plan(self, spark):
        """One hash-agg pair around one exchange — window start is a
        row-local expression, so no extra shuffle or Python node."""
        from indian_address_parser_spark.queries.relational import q_agg_events_windowed

        df = q_agg_events_windowed(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, plan
        assert "Python" not in plan


def _write_events(spark, tmp_path, rows):
    """Materialize a crafted events.parquet with the driver-table schema."""
    schema = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    return str(tmp_path)


class TestAsofJoin:
    def test_matches_brute_force(self, spark):
        """Union-and-carry result equals a driver-side brute-force as-of
        (latest purchase at-or-before, max event_id on ts ties)."""
        from indian_address_parser_spark.queries.relational import q_join_asof_events

        events = spark.read.parquet(f"{SF_DIR}/events.parquet").collect()
        rights = {}
        for r in events:
            if r["event_type"] == "purchase":
                rights.setdefault(r["user_id"], []).append(r)
        got = {r["l_event_id"]: r for r in q_join_asof_events(spark, SF_DIR).collect()}
        lefts = [r for r in events if r["event_type"] == "click"]
        assert len(got) == len(lefts) and lefts
        n_matched = 0
        for lft in lefts:
            cand = [
                r for r in rights.get(lft["user_id"], []) if r["ts"] <= lft["ts"]
            ]
            g = got[lft["event_id"]]
            if not cand:
                assert g["r_event_id"] is None
                continue
            best = max(cand, key=lambda r: (r["ts"], r["event_id"]))
            assert g["r_event_id"] == best["event_id"]
            assert g["r_value"] == round(best["value"], 4)
            n_matched += 1
        assert n_matched  # fixture actually exercises the match path

    def test_tie_semantics(self, spark, tmp_path):
        """ts-equal right row matches (>= semantics); among equal-ts right
        rows the max event_id wins; earlier-only rows carry forward."""
        from datetime import datetime

        from indian_address_parser_spark.queries.relational import q_join_asof_events

        t0 = datetime(2024, 1, 1, 12, 0, 0)
        t1 = datetime(2024, 1, 1, 13, 0, 0)
        sf = _write_events(
            spark,
            tmp_path,
            [
                (1, t0, 7, "purchase", 10.0, ""),
                (2, t0, 7, "purchase", 20.0, ""),  # same ts: id 2 must win
                (3, t0, 7, "click", 0.0, ""),      # tie with purchases -> matched
                (4, t1, 7, "click", 0.0, ""),      # later -> carries id 2
                (5, t0, 8, "click", 0.0, ""),      # user with no purchase
            ],
        )
        got = {r["l_event_id"]: r for r in q_join_asof_events(spark, sf).collect()}
        assert got[3]["r_event_id"] == 2 and got[3]["r_value"] == 20.0
        assert got[4]["r_event_id"] == 2
        assert got[5]["r_event_id"] is None

    def test_no_range_join_plan(self, spark):
        """The whole point: NO O(n·m) range join. Sort-based single pass —
        no cartesian/nested-loop node, no Python, and the only joins are
        none at all (union + window)."""
        from indian_address_parser_spark.queries.relational import q_join_asof_events

        plan = (
            q_join_asof_events(spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "Join" not in plan, plan  # union-and-carry has zero join nodes
        assert "Python" not in plan

    def test_hot_key_prepass_identical_on_fixture(self, spark):
        """Bucketed two-phase carry must be row-identical to the oracle-
        green single-window plan on the driver fixture."""
        from indian_address_parser_spark.queries.relational import q_join_asof_events

        base = {tuple(r) for r in q_join_asof_events(spark, SF_DIR).collect()}
        pre = {
            tuple(r)
            for r in q_join_asof_events(
                spark, SF_DIR, hot_key_bucket_s=3600
            ).collect()
        }
        assert base and pre == base

    def test_hot_key_prepass_bounds_partitions_on_bot_user(self, spark, tmp_path):
        """A planted bot (one user, 10⁵ events) would serialize the
        per-user window into one task; the bucket pre-pass bounds every
        window partition while producing the identical result."""
        from datetime import datetime, timedelta

        import pyspark.sql.functions as F

        from indian_address_parser_spark.queries.relational import (
            ASOF_LEFT_TYPE,
            ASOF_RIGHT_TYPE,
            asof_union_carry,
        )

        bucket_s = 3600
        n_bot = 100_000
        t0 = datetime(2024, 1, 1)
        bot = (
            spark.range(n_bot)
            .select(
                F.col("id").alias("event_id"),
                (
                    F.lit(t0) + F.make_interval(secs=F.col("id").cast("double"))
                ).alias("ts"),
                F.lit(999).alias("user_id"),
                F.when(F.col("id") % 3 == 0, F.lit(ASOF_RIGHT_TYPE))
                .otherwise(F.lit(ASOF_LEFT_TYPE))
                .alias("event_type"),
                (F.col("id") % 97).cast("double").alias("value"),
                F.lit("").alias("url"),
            )
        )
        human = spark.createDataFrame(
            [
                (200001, t0 + timedelta(hours=5), 7, ASOF_RIGHT_TYPE, 1.5, ""),
                (200002, t0 + timedelta(hours=6), 7, ASOF_LEFT_TYPE, 0.0, ""),
                (200003, t0, 8, ASOF_LEFT_TYPE, 0.0, ""),
            ],
            "event_id long, ts timestamp, user_id long, event_type string, value double, url string",
        )
        events = bot.unionByName(human)

        pre = asof_union_carry(events, hot_key_bucket_s=bucket_s)
        base = asof_union_carry(events)
        # identical output under the adversarial key
        assert pre.exceptAll(base).count() == 0
        assert base.exceptAll(pre).count() == 0
        # the pre-pass windows partition by (user_id, bucket): every
        # partition is bounded by the bucket width, not the bot's 10⁵ rows
        per_bucket = (
            events.groupBy(
                "user_id",
                (F.unix_micros(F.col("ts").cast("timestamp")) / (bucket_s * 1_000_000))
                .cast("long")
                .alias("bucket"),
            )
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
        assert per_bucket <= bucket_s  # 1 event/sec bot → ≤3600 rows/bucket
        plan = pre._jdf.queryExecution().sparkPlan().toString()
        import re

        specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan.lower())
        assert specs and any("bucket" in s for s in specs), plan
        # spot-check semantics on the humans: user 7's click matches its
        # earlier purchase across buckets; user 8 has no purchase
        got = {r["l_event_id"]: r for r in pre.collect()}
        assert got[200002]["r_event_id"] == 200001
        assert got[200003]["r_event_id"] is None


class TestSessionize:
    def test_matches_brute_force(self, spark):
        from datetime import timezone

        from indian_address_parser_spark.queries.relational import (
            SESSION_GAP_US,
            q_events_sessionize,
        )

        events = spark.read.parquet(f"{SF_DIR}/events.parquet").collect()
        by_user = {}
        for r in events:
            by_user.setdefault(r["user_id"], []).append(r)
        expect = {}
        for uid, rows in by_user.items():
            rows.sort(key=lambda r: (r["ts"], r["event_id"]))
            sess_no, prev = 0, None
            for r in rows:
                # exact integer micros (float .timestamp()*1e6 can be ±1 µs)
                mu = (
                    int(r["ts"].replace(tzinfo=timezone.utc).timestamp())
                    * 1_000_000
                    + r["ts"].microsecond
                )
                if prev is None or mu - prev > SESSION_GAP_US:
                    sess_no += 1
                prev = mu
                key = (uid, sess_no)
                s = expect.setdefault(key, {"n": 0, "lo": mu, "hi": mu, "v": 0.0})
                s["n"] += 1
                s["hi"] = max(s["hi"], mu)
                s["v"] += r["value"]
        got = q_events_sessionize(spark, SF_DIR).collect()
        assert len(got) == len(expect)
        for r in got:
            s = expect[(r["user_id"], r["sess_no"])]
            assert r["n_events"] == s["n"]
            assert r["duration_us"] == s["hi"] - s["lo"]
            assert abs(r["sum_value"] - s["v"]) < 1e-6

    def test_exact_gap_boundary(self, spark, tmp_path):
        """A gap of EXACTLY 30 min does not break the session; 30 min +
        1 µs does — integer-microsecond arithmetic, no double rounding."""
        from datetime import datetime, timedelta

        from indian_address_parser_spark.queries.relational import q_events_sessionize

        t0 = datetime(2024, 1, 1, 12, 0, 0)
        sf = _write_events(
            spark,
            tmp_path,
            [
                (1, t0, 7, "view", 1.0, ""),
                (2, t0 + timedelta(minutes=30), 7, "view", 1.0, ""),
                (3, t0 + timedelta(minutes=60, microseconds=1), 7, "view", 1.0, ""),
            ],
        )
        rows = sorted(
            q_events_sessionize(spark, sf).collect(), key=lambda r: r["sess_no"]
        )
        assert [r["n_events"] for r in rows] == [2, 1]

    def test_one_exchange_plan(self, spark):
        """lag + running-sum share one (user_id) sort, and the final
        groupBy(user_id, sess_no) reuses the user_id partitioning — the
        whole operator is ONE shuffle."""
        from indian_address_parser_spark.queries.relational import q_events_sessionize

        plan = (
            q_events_sessionize(spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Exchange") == 1, plan
        assert "Python" not in plan


class TestDecontaminate:
    def test_matches_brute_force(self, spark):
        from indian_address_parser_spark.queries.train import q_corpus_decontaminate

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()

        def shingles(text):
            w = text.split(" ")
            return {
                " ".join(w[i : i + 3]) for i in range(max(len(w) - 3, 0) + 1)
            }

        eval_sh = set()
        for d in docs:
            if d["doc_id"] % 20 == 0:
                eval_sh |= shingles(d["text"])
        got = {
            r["doc_id"]: r["contaminated"]
            for r in q_corpus_decontaminate(spark, SF_DIR).collect()
        }
        train = [d for d in docs if d["doc_id"] % 20 != 0]
        assert set(got) == {d["doc_id"] for d in train}
        for d in train:
            assert got[d["doc_id"]] == bool(shingles(d["text"]) & eval_sh)

    def test_broadcast_semi_join_plan(self, spark):
        """The eval shingle vocabulary must arrive broadcast — the corpus
        side of the semi-join never shuffles."""
        from indian_address_parser_spark.queries.train import q_corpus_decontaminate

        plan = (
            q_corpus_decontaminate(spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan

    def test_broadcast_gate_falls_back_to_shuffled_semi_join(self, spark):
        """Past the count gate the plan must degrade to a shuffled semi-
        join (no force-broadcast driver-OOM cliff) with identical rows."""
        from indian_address_parser_spark.queries.train import q_corpus_decontaminate

        # isolate the FORCE hint from the planner's own (size-bounded, safe)
        # broadcast choice: with auto-broadcast off, only the hint can
        # produce a Broadcast semi-join — the gate must have removed it
        key = "spark.sql.autoBroadcastJoinThreshold"
        saved = spark.conf.get(key)
        try:
            spark.conf.set(key, "-1")

            def semi_lines(df):
                plan = df._jdf.queryExecution().sparkPlan().toString()
                return [ln for ln in plan.splitlines() if "LeftSemi" in ln]

            forced = semi_lines(q_corpus_decontaminate(spark, SF_DIR))
            assert any("Broadcast" in ln for ln in forced), forced
            gated = q_corpus_decontaminate(
                spark, SF_DIR, broadcast_max_shingles=0
            )
            fallback = semi_lines(gated)
            assert fallback and all("Broadcast" not in ln for ln in fallback), fallback
            got = {(r["doc_id"], r["contaminated"]) for r in gated.collect()}
        finally:
            spark.conf.set(key, saved)
        want = {
            (r["doc_id"], r["contaminated"])
            for r in q_corpus_decontaminate(spark, SF_DIR).collect()
        }
        assert got == want


class TestDistinctUsers:
    def test_hll_within_relative_error(self, spark):
        """approx_count_distinct (the 100 TB drop-in) stays within its
        configured rsd of the oracled exact distinct counts."""
        from pyspark.sql import functions as F  # noqa: F811

        from indian_address_parser_spark.queries.relational import q_agg_distinct_users

        exact = {
            r["event_type"]: r["n_users"]
            for r in q_agg_distinct_users(spark, SF_DIR).collect()
        }
        rsd = 0.02
        approx = (
            spark.read.parquet(f"{SF_DIR}/events.parquet")
            .groupBy("event_type")
            .agg(F.approx_count_distinct("user_id", rsd).alias("n"))
            .collect()
        )
        for r in approx:
            e = exact[r["event_type"]]
            assert abs(r["n"] - e) / e <= 4 * rsd, (r["event_type"], r["n"], e)


class TestSlidingWindows:
    def test_every_event_in_exactly_two_windows(self, spark):
        from indian_address_parser_spark.queries.relational import q_agg_events_sliding

        rows = q_agg_events_sliding(spark, SF_DIR).collect()
        n_input = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
        assert sum(r["n_events"] for r in rows) == 2 * n_input
        for r in rows[:100]:  # starts on the 30-min slide grid
            t = r["win_start"]
            assert t.minute in (0, 30) and t.second == 0 and t.microsecond == 0


class TestSetOps:
    def test_matches_python_set_arithmetic(self, spark):
        from indian_address_parser_spark.queries.relational import q_set_ops_custkeys

        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").collect()
        cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").collect()
        with_orders = {r["o_custkey"] for r in orders}
        building = {r["c_custkey"] for r in cust if r["c_mktsegment"] == "BUILDING"}
        urgent = {
            r["o_custkey"] for r in orders if r["o_orderpriority"] == "1-URGENT"
        }
        expect = (with_orders & building) - urgent
        got = {r["c_custkey"] for r in q_set_ops_custkeys(spark, SF_DIR).collect()}
        assert got == expect and got  # non-trivial at this sf


class TestTfidf:
    def test_matches_brute_force(self, spark):
        import math

        from indian_address_parser_spark.queries.text import (
            TFIDF_TOPK,
            q_text_tfidf_top_terms,
        )

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
        n = len(docs)
        df = {}
        for d in docs:
            for w in set(d["text"].split(" ")):
                df[w] = df.get(w, 0) + 1
        got = {}
        for r in q_text_tfidf_top_terms(spark, SF_DIR).collect():
            got.setdefault(r["doc_id"], []).append((r["rk"], r["w"], r["tfidf"]))
        assert set(got) == {d["doc_id"] for d in docs}
        for d in docs:
            counts = {}
            for w in d["text"].split(" "):
                counts[w] = counts.get(w, 0) + 1
            scored = sorted(
                (
                    (-round(tf * (math.log((n + 1) / (df[w] + 1)) + 1), 6), w)
                    for w, tf in counts.items()
                ),
            )[:TFIDF_TOPK]
            expect = [
                (i + 1, w, -neg) for i, (neg, w) in enumerate(scored)
            ]
            assert sorted(got[d["doc_id"]]) == expect, d["doc_id"]


class TestQuantiles:
    def test_matches_numpy_linear_interpolation(self, spark):
        import numpy as np

        from indian_address_parser_spark.queries.relational import QUANTILE_PROBS, q_agg_quantiles

        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").collect()
        by_pri = {}
        for r in orders:
            by_pri.setdefault(r["o_orderpriority"], []).append(r["o_totalprice"])
        for row in q_agg_quantiles(spark, SF_DIR).collect():
            vals = np.array(by_pri[row["o_orderpriority"]])
            assert row["n_orders"] == len(vals)
            for p in QUANTILE_PROBS:
                expect = round(float(np.quantile(vals, p)), 4)
                assert abs(row[f"p{int(p * 100)}"] - expect) <= 1e-4

    def test_approx_percentile_within_rank_bounds(self, spark):
        """The 100 TB drop-in (approx_percentile sketch) honors its RANK
        guarantee: the returned element's rank is within ε·n (+1 for
        discreteness) of the target rank, ε = 1/accuracy. Value-relative
        bounds are the wrong metric — adjacent order statistics can differ
        by percents in small groups."""
        import numpy as np
        from pyspark.sql import functions as F  # noqa: F811

        from indian_address_parser_spark.queries.relational import QUANTILE_PROBS, q_agg_quantiles

        accuracy = 1000
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        approx = {
            r["o_orderpriority"]: r
            for r in o.groupBy("o_orderpriority")
            .agg(
                *[
                    F.expr(
                        f"approx_percentile(o_totalprice, {p}, {accuracy})"
                    ).alias(f"p{int(p * 100)}")
                    for p in QUANTILE_PROBS
                ]
            )
            .collect()
        }
        by_pri = {}
        for r in o.collect():
            by_pri.setdefault(r["o_orderpriority"], []).append(r["o_totalprice"])
        for pri, vals in by_pri.items():
            vals = np.sort(np.array(vals))
            n = len(vals)
            for p in QUANTILE_PROBS:
                v = approx[pri][f"p{int(p * 100)}"]
                lo = np.searchsorted(vals, v, "left")
                hi = np.searchsorted(vals, v, "right") - 1
                target = p * (n - 1)
                slack = n / accuracy + 1
                assert lo - slack <= target <= hi + slack, (pri, p, v)
