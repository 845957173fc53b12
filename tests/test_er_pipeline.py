"""End-to-end ER pipeline tests on the deterministic synthetic fixture.

Covers SURVEY.md §5.2 items 4-6: pairwise F1 ≥ 0.99, determinism, resume
without recomputation, mega-block skew handling, plus plan-level checks
(html column pruned from the parquet scan; soundex Python/JVM parity).
"""

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from indian_address_parser_spark.eval.pairwise import pairwise_scores
from indian_address_parser_spark.operators.blocking import block_stats, with_block_key
from indian_address_parser_spark.operators.cc import (
    attach_clusters,
    block_local_components,
    connected_components,
)
from indian_address_parser_spark.operators.extract import extract_mentions
from indian_address_parser_spark.operators.pairs import candidate_pairs
from indian_address_parser_spark.operators.scoring import score_pairs
from indian_address_parser_spark.plans.er_pipeline import run_pipeline
from indian_address_parser_spark.sources.pages import generate


@pytest.fixture(scope="module")
def fixture(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("pages_fixture"))
    tables = generate(spark, n_households=400)
    for name, df in tables.items():
        df.write.mode("overwrite").parquet(f"{root}/{name}.parquet")
    return {
        name: spark.read.parquet(f"{root}/{name}.parquet")
        for name in ("pages", "truth", "labeled_pairs")
    } | {"root": root}


class TestPagesFixture:
    def test_schema_matches_input_hint(self, fixture):
        fields = dict(fixture["pages"].dtypes)
        assert fields == {
            "url": "string",
            "warc_ts": "timestamp",
            "html": "binary",
            "text": "string",
            "lang": "string",
        }

    def test_deterministic_generation(self, spark, fixture):
        again = generate(spark, n_households=400)["pages"]
        a = fixture["pages"].select("url", "text", "lang").exceptAll(
            again.select("url", "text", "lang")
        )
        assert a.isEmpty()

    def test_mega_pincode_skew_present(self, fixture, spark):
        mentions = extract_mentions(fixture["pages"])
        top = (
            mentions.groupBy("pincode").count().orderBy(F.desc("count")).first()
        )
        assert top["pincode"] == "110041"


class TestExtraction:
    def test_every_truth_mention_extracted(self, fixture):
        mentions = extract_mentions(fixture["pages"])
        missing = fixture["truth"].join(
            mentions.select("mention_id"), "mention_id", "left_anti"
        )
        assert missing.isEmpty()

    def test_html_column_pruned_from_scan(self, fixture):
        mentions = extract_mentions(fixture["pages"])
        plan = mentions._jdf.queryExecution().executedPlan().toString()
        assert "html" not in plan  # binary column never read

    def test_raw_text_roundtrip(self, fixture):
        mentions = extract_mentions(fixture["pages"])
        joined = fixture["truth"].join(
            mentions.select("mention_id", F.col("raw").alias("raw_extracted")),
            "mention_id",
        )
        mismatch = joined.where(F.col("raw") != F.col("raw_extracted"))
        assert mismatch.isEmpty()


class TestSoundexParity:
    def test_python_soundex_matches_spark(self, spark):
        from indian_address_parser_spark.core.fuzzy import soundex

        words = [
            "LAJPAT", "NAGAR", "DWARKA", "PALAM", "SADARBAZAAR", "VIHAR",
            "ROHINI", "PITAMPURA", "KUNJ", "CHANDNICHOWK", "X", "BVGH",
            "AEIOU", "HWHW", "NAGER",
        ]
        df = spark.createDataFrame([(w,) for w in words], ["w"])
        got = {r["w"]: r["s"] for r in df.select("w", F.soundex("w").alias("s")).collect()}
        for w in words:
            assert soundex(w) == got[w], w


class TestPipeline:
    def test_f1_target(self, spark, fixture, tmp_path):
        report = run_pipeline(
            spark,
            fixture["pages"],
            str(tmp_path / "run1"),
            labeled_pairs=fixture["labeled_pairs"],
        )
        assert report["pairwise"]["f1"] >= 0.99, report["pairwise"]
        assert report["pairwise"]["precision"] >= 0.99

    def test_determinism_two_runs(self, spark, fixture, tmp_path):
        r1 = run_pipeline(spark, fixture["pages"], str(tmp_path / "a"), resume=False)
        r2 = run_pipeline(spark, fixture["pages"], str(tmp_path / "b"), resume=False)
        c1 = spark.read.parquet(str(tmp_path / "a" / "clusters"))
        c2 = spark.read.parquet(str(tmp_path / "b" / "clusters"))
        diff = c1.select("mention_id", "cluster_id").exceptAll(
            c2.select("mention_id", "cluster_id")
        )
        assert diff.isEmpty()

    def test_resume_skips_completed_stages(self, spark, fixture, tmp_path):
        wd = str(tmp_path / "resume")
        first = run_pipeline(spark, fixture["pages"], wd)
        assert first["resumed"] == []
        # simulate crash after stage 2: drop later stages' manifests
        for stage in ("edges", "clusters"):
            os.remove(os.path.join(wd, stage, "_manifest.json"))
        second = run_pipeline(spark, fixture["pages"], wd)
        assert second["resumed"] == ["mentions", "blocked"]
        # and a fully-complete rerun resumes everything
        third = run_pipeline(spark, fixture["pages"], wd)
        assert third["resumed"] == list(("mentions", "blocked", "edges", "clusters"))

    def test_resume_recomputes_edges_written_without_block_key(self, spark, fixture, tmp_path):
        """A work dir whose ``edges`` stage was written at version 2, keyed
        by ``join_key`` and without the ``block_key`` column, must
        recompute that stage — not resume it and crash the block-local
        clusters stage that partitions by ``block_key``."""
        wd = str(tmp_path / "old_edges")
        run_pipeline(spark, fixture["pages"], wd)
        want = spark.read.parquet(os.path.join(wd, "clusters")).select(
            "mention_id", "cluster_id"
        ).collect()
        # rewrite edges as version 2 wrote them: (src, dst, score, join_key)
        # under a version-2 manifest; crash before clusters
        edges_dir = os.path.join(wd, "edges")
        blocked = spark.read.parquet(os.path.join(wd, "blocked")).select(
            F.col("mention_id").alias("src"), "join_key"
        )
        old = spark.read.parquet(edges_dir).join(blocked, "src").select(
            "src", "dst", "score", "join_key"
        )
        old.write.mode("overwrite").parquet(edges_dir + "_old")
        with open(os.path.join(edges_dir, "_manifest.json")) as f:
            manifest = json.load(f)
        manifest["version"] = 2
        old_read = spark.read.parquet(edges_dir + "_old")
        manifest["schema"] = old_read.schema.jsonValue()
        old_read.write.mode("overwrite").parquet(edges_dir)
        with open(os.path.join(edges_dir, "_manifest.json"), "w") as f:
            json.dump(manifest, f)
        os.remove(os.path.join(wd, "clusters", "_manifest.json"))

        report = run_pipeline(spark, fixture["pages"], wd)
        assert report["resumed"] == ["mentions", "blocked"]
        assert "block_key" in spark.read.parquet(edges_dir).columns
        got = spark.read.parquet(os.path.join(wd, "clusters")).select(
            "mention_id", "cluster_id"
        ).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))

    def test_edges_are_key_local(self, spark, fixture, tmp_path):
        """The structural fact block-local CC rests on: both endpoints of
        every edge carry that edge's ``block_key`` in the blocked stage,
        and share one ``join_key`` there (the key the pair joined on)."""
        wd = str(tmp_path / "key_local")
        run_pipeline(spark, fixture["pages"], wd, max_block_size=10)
        edges = spark.read.parquet(os.path.join(wd, "edges"))
        blocked = spark.read.parquet(os.path.join(wd, "blocked"))
        assert edges.count() > 0
        for side in ("src", "dst"):
            edges = edges.join(
                blocked.select(
                    F.col("mention_id").alias(side),
                    F.col("block_key").alias(f"{side}_block"),
                    F.col("join_key").alias(f"{side}_join"),
                ),
                side,
                "left",
            )
        stray = edges.where(
            F.col("src_block").isNull()
            | F.col("dst_block").isNull()
            | (F.col("src_block") != F.col("block_key"))
            | (F.col("dst_block") != F.col("block_key"))
            | (F.col("src_join") != F.col("dst_join"))
        )
        assert stray.isEmpty(), stray.limit(5).collect()
        # the small cap splits blocks, so join_key is finer than block_key
        assert edges.where(F.col("src_join") != F.col("block_key")).count() > 0

    def test_manifests_match_written_stages(self, spark, fixture, tmp_path):
        """The row count and counters observed in each stage's write job
        equal direct aggregates over the written parquet, and the recorded
        schema is the one Spark infers from it."""
        from pyspark.sql.types import StructType

        wd = str(tmp_path / "manifest")
        # a small cap so some blocks are split and split_rows is not 0
        run_pipeline(spark, fixture["pages"], wd, max_block_size=10)
        direct = {
            "mentions": [
                F.count("pincode").alias("with_pincode"),
                F.count("city").alias("with_city"),
                F.count("locality").alias("with_locality"),
            ],
            "blocked": [
                F.count_if(F.col("join_key") != F.col("block_key")).alias("split_rows"),
                F.max("block_size").alias("max_block_size"),
            ],
            "edges": [F.min("score").alias("min_score"), F.avg("score").alias("avg_score")],
            "clusters": [F.countDistinct("cluster_id").alias("n_clusters")],
        }
        for stage, aggs in direct.items():
            with open(os.path.join(wd, stage, "_manifest.json")) as f:
                m = json.load(f)
            written = spark.read.parquet(os.path.join(wd, stage))
            assert StructType.fromJson(m["schema"]) == written.schema, stage
            want = written.agg(F.count("*").alias("rows"), *aggs).first().asDict()
            assert m["rows"] == want.pop("rows") > 0, stage
            assert m["counters"] == pytest.approx(want, rel=1e-12), stage
            if stage == "blocked":
                assert m["counters"]["split_rows"] > 0

    def test_resume_recomputes_stage_without_schema(self, spark, fixture, tmp_path):
        """A manifest that records no schema (written before schemas were
        recorded) does not validate: that stage alone is recomputed, its new
        manifest records the schema, and the clusters are unchanged."""
        from indian_address_parser_spark.plans.er_pipeline import STAGES

        wd = str(tmp_path / "no_schema")
        run_pipeline(spark, fixture["pages"], wd)

        def clusters():
            rows = spark.read.parquet(os.path.join(wd, "clusters")).select(
                "mention_id", "cluster_id"
            )
            return sorted(map(tuple, rows.collect()))

        want = clusters()
        for stage in STAGES:
            mp = os.path.join(wd, stage, "_manifest.json")
            with open(mp) as f:
                manifest = json.load(f)
            del manifest["schema"]
            with open(mp, "w") as f:
                json.dump(manifest, f)
            report = run_pipeline(spark, fixture["pages"], wd)
            assert report["resumed"] == [s for s in STAGES if s != stage]
            with open(mp) as f:
                assert "schema" in json.load(f)
            assert clusters() == want, stage

    def test_job_counts(self, spark, fixture, tmp_path):
        """A fresh call runs each stage's write job and nothing else — no
        manifest aggregate, no schema inference; a full resume runs only
        the input fingerprint's jobs."""
        from indian_address_parser_spark.plans.er_pipeline import _input_fingerprint

        sc = spark.sparkContext
        wd = str(tmp_path / "jobs")

        def jobs(group, call):
            sc.setJobGroup(group, group)
            try:
                call()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            return len(sc.statusTracker().getJobIdsForGroup(group))

        pages = fixture["pages"]
        fingerprint = jobs("test_job_counts.fp", lambda: _input_fingerprint(pages))
        # 12 on this fixture: the fingerprint's 2, then one job per shuffle
        # stage of the four stage writes (AQE submits each on its own)
        fresh = jobs("test_job_counts.fresh", lambda: run_pipeline(spark, pages, wd))
        assert fresh <= 12, fresh
        resumed = jobs("test_job_counts.resume", lambda: run_pipeline(spark, pages, wd))
        assert resumed == fingerprint == 2


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


class TestScoringFormula:
    def test_scores_match_python_reference(self, spark, fixture, monkeypatch):
        """Every candidate pair's score, before the threshold and before
        rounding, equals a pure-Python evaluation of ``FIELD_WEIGHTS``:
        Jaro-Winkler or Levenshtein similarity per field, 0 when a digit
        guard fails, and the weights renormalized over the fields present
        on both sides."""
        from indian_address_parser_spark.core.fuzzy import jaro_winkler
        from indian_address_parser_spark.operators import scoring

        monkeypatch.setattr(
            scoring,
            "_edges",
            lambda scored, threshold: scored.selectExpr(
                "mention_id_a AS src", "mention_id_b AS dst", "score"
            ),
        )
        pairs = candidate_pairs(with_block_key(extract_mentions(fixture["pages"])))
        # threshold 0 also turns off the house-number prune: every pair scores
        scored = scoring.score_pairs(pairs, threshold=0.0)
        # a bare 1.0 in Spark SQL is a DECIMAL literal: none may reach the
        # plan, or the weights sum in decimal arithmetic
        analyzed = scored._jdf.queryExecution().analyzed().toJSON()
        assert '"dataType":"decimal' not in analyzed
        got = {(r["src"], r["dst"]): r["score"] for r in scored.collect()}

        def reference(row):
            num = den = 0.0
            for f, w, guarded, use_jw in scoring.FIELD_WEIGHTS:
                a, b = row[f"{f}_a"], row[f"{f}_b"]
                if a is None or b is None:
                    continue
                den += w
                if guarded and row[f"{f}_digits_a"] != row[f"{f}_digits_b"]:
                    continue
                if use_jw:
                    sim = jaro_winkler(a, b)
                else:
                    ml = max(len(a), len(b))
                    sim = 1.0 if ml == 0 else 1.0 - _levenshtein(a, b) / ml
                num += sim * w
            return num / den if den > 0 else 0.0

        want = {(r["mention_id_a"], r["mention_id_b"]): reference(r) for r in pairs.collect()}
        assert len(want) > 1000
        assert got.keys() == want.keys()
        for k, v in want.items():
            assert got[k] == pytest.approx(v, abs=1e-12, rel=0), k


class TestBlockKey:
    def test_keys_match_python_reference(self, spark):
        """The block key is pincode | city | soundex(locality letters), with
        the city read from the normalized text (whole words NEW DELHI, then
        DELHI) when the tagger found none; an oversized block joins on the
        key plus soundex(street letters) | house-number digits."""
        from indian_address_parser_spark.core.fuzzy import soundex

        cols = (
            "mention_id string, normalized string, pincode string, city string, "
            "locality string, street string, house_no string, block string, "
            "sector string, khasra string"
        )
        rows = [
            ("a", "H NO 4, LAJPAT NAGAR, NEW DELHI", "110024", None, "LAJPAT NAGAR",
             "GALI NO 4", "H.NO 45/2", None, None, None),
            ("b", "RAJ NAGAR, DELHI-110041", "110041", None, "RAJ NAGAR", None, None,
             "B-7", None, None),
            ("c", "NEWDELHI NAGAR", None, None, "123", "4", "12", None, None, None),
            ("d", "SECTOR 5, DELHI ROAD", None, "GURGAON", None, None, None, None,
             "5", "KH 9"),
        ]
        df = spark.createDataFrame(rows, cols)
        got = {
            r["mention_id"]: r
            for r in with_block_key(df, max_block_size=0).collect()
        }
        city = {"a": "NEW DELHI", "b": "DELHI", "c": "", "d": "GURGAON"}

        def sx(text):
            letters = "".join(ch for ch in text or "" if ch.isascii() and ch.isalpha())
            return soundex(letters) if letters else ""

        for m, _, pincode, _, locality, street, house_no, *_ in rows:
            key = f"{pincode or ''}|{city[m]}|{sx(locality)}"
            digits = "".join(ch for ch in house_no or "" if ch.isdigit() or ch == "/")
            assert got[m]["block_key"] == key, m
            assert got[m]["join_key"] == f"{key}||{sx(street)}|{digits}", m
        assert got["d"]["sector_digits"] == "5" and got["d"]["khasra_digits"] == "9"
        assert got["a"]["block_digits"] is None and got["b"]["block_digits"] == "7"


class TestSkewHandling:
    def test_mega_block_gets_secondary_key(self, spark, fixture):
        mentions = extract_mentions(fixture["pages"])
        blocked = with_block_key(mentions, max_block_size=50)
        mega = blocked.where(
            (F.col("block_size") > 50) & (F.col("join_key") == F.col("block_key"))
        )
        assert mega.isEmpty()  # every oversized block was sub-split

    def test_secondary_split_bounds_pairs(self, spark, fixture):
        mentions = extract_mentions(fixture["pages"]).cache()
        loose = candidate_pairs(with_block_key(mentions, max_block_size=10**9)).count()
        tight = candidate_pairs(with_block_key(mentions, max_block_size=50)).count()
        assert tight <= loose

    def test_secondary_split_preserves_recall(self, spark, fixture, tmp_path):
        report = run_pipeline(
            spark,
            fixture["pages"],
            str(tmp_path / "skew"),
            # the split engages on only 21 of the 1,084 mentions here (one
            # 21-mention block), so this guards little of the split's recall
            max_block_size=20,
            labeled_pairs=fixture["labeled_pairs"],
        )
        assert report["pairwise"]["f1"] >= 0.99, report["pairwise"]


class TestConnectedComponents:
    # _GIANT_DEGREE = 0 puts every round on join stars
    @pytest.mark.parametrize("giant_degree", [1_000_000, 0], ids=["window", "join"])
    def test_matches_bruteforce_on_random_graph(self, spark, monkeypatch, giant_degree):
        from indian_address_parser_spark.operators import cc as cc_mod

        monkeypatch.setattr(cc_mod, "_GIANT_DEGREE", giant_degree)
        # deterministic pseudo-random graph over 60 nodes
        edges = [
            (f"n{(i * 13) % 60}", f"n{(i * 29 + 7) % 60}") for i in range(45)
        ]
        df = spark.createDataFrame(edges, ["src", "dst"])
        log: list = []
        got = {
            r["mention_id"]: r["cluster_id"]
            for r in connected_components(df, _strategy_log=log).collect()
        }
        want_strategy = "window" if giant_degree else "join"
        assert log and all(st == want_strategy for st in log), log

        # union-find reference
        parent: dict[str, str] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        for a, b in edges:
            union(a, b)
        expected_groups: dict[str, list[str]] = {}
        for node in parent:
            expected_groups.setdefault(find(node), []).append(node)
        for root, members in expected_groups.items():
            want = min(members)
            for mbr in members:
                assert got[mbr] == want, (mbr, got[mbr], want)

    def test_auto_switches_to_join_on_mega_component(self, spark, monkeypatch):
        """A hub-and-spoke mega-component must push the strategy choice onto
        the join path (the window formulation would put the whole
        neighborhood in a single window partition), with output still
        matching brute force."""
        from indian_address_parser_spark.operators import cc as cc_mod

        monkeypatch.setattr(cc_mod, "_GIANT_DEGREE", 10)
        hub_edges = [("hub", f"m{i:03d}") for i in range(50)]
        # plus a separate bounded household to show mixed graphs still work
        hh_edges = [("a1", "a2"), ("a2", "a3")]
        df = spark.createDataFrame(hub_edges + hh_edges, ["src", "dst"])
        log: list = []
        got = {
            r["mention_id"]: r["cluster_id"]
            for r in connected_components(df, _strategy_log=log).collect()
        }
        assert log and all(s == "join" for s in log), log
        assert got["hub"] == "hub"
        assert all(got[f"m{i:03d}"] == "hub" for i in range(50))
        assert got["a1"] == got["a2"] == got["a3"] == "a1"

    def test_auto_stays_on_window_below_threshold(self, spark):
        edges = [(f"h{i}a", f"h{i}b") for i in range(20)]
        df = spark.createDataFrame(edges, ["src", "dst"])
        log: list = []
        got = connected_components(df, _strategy_log=log).collect()
        assert log and all(s == "window" for s in log), log
        assert len(got) == 40

    def test_auto_matches_fixed_strategies(self, spark, monkeypatch):
        """The default (window on this bounded graph) and forced join stars
        (``_GIANT_DEGREE = 0``) label identically."""
        from indian_address_parser_spark.operators import cc as cc_mod

        edges = [
            (f"n{(i * 13) % 60}", f"n{(i * 29 + 7) % 60}") for i in range(45)
        ]
        df = spark.createDataFrame(edges, ["src", "dst"])

        def run():
            return sorted(
                (r["mention_id"], r["cluster_id"])
                for r in connected_components(df).collect()
            )

        default = run()
        monkeypatch.setattr(cc_mod, "_GIANT_DEGREE", 0)
        assert run() == default

    def test_singletons_become_own_cluster(self, spark):
        edges = spark.createDataFrame([("a", "b")], ["src", "dst"])
        mentions = spark.createDataFrame([("a",), ("b",), ("c",)], ["mention_id"])
        out = attach_clusters(mentions, connected_components(edges))
        got = {r["mention_id"]: r["cluster_id"] for r in out.collect()}
        assert got == {"a": "a", "b": "a", "c": "c"}


def _bruteforce_clusters(edges):
    """Union-find reference labeling: {node: min(component)}."""
    parent: dict[str, str] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups: dict[str, list[str]] = {}
    for node in parent:
        groups.setdefault(find(node), []).append(node)
    return {m: min(members) for members in groups.values() for m in members}


def _keyed_edges(seed, n_keys, max_nodes, max_edges):
    """Seeded random key-local edge set: (src, dst, block_key) rows whose
    endpoints are two distinct nodes of their key's pool (pair edges have
    no self-loops)."""
    import random

    rng = random.Random(seed)
    rows = []
    for k in range(n_keys):
        pool = [f"k{k:03d}/n{i:02d}" for i in range(rng.randint(2, max_nodes))]
        for _ in range(rng.randint(0, max_edges)):
            rows.append((*rng.sample(pool, 2), f"key{k:03d}"))
    return rows


class TestBlockLocalComponents:
    """``block_local_components`` must equal a union-find over the same
    edges whenever the edges are key-local — the ER path's graph shape."""

    def _labels(self, spark, rows, partitions, cc=block_local_components):
        df = spark.createDataFrame(rows, "src string, dst string, block_key string")
        out = cc(df.repartition(partitions))
        got = {r["mention_id"]: r["cluster_id"] for r in out.collect()}
        assert len(got) == out.count()  # one row per node
        return got

    @pytest.mark.parametrize("seed", [1, 2, 3])
    def test_matches_bruteforce_on_random_keyed_graphs(self, spark, seed):
        # ~200 keys over 8 shuffle partitions: many keys share a partition
        rows = _keyed_edges(seed, n_keys=200, max_nodes=12, max_edges=15)
        got = self._labels(spark, rows, partitions=5)
        assert got == _bruteforce_clusters([(a, b) for a, b, _ in rows])

    def test_zero_edges_typed_empty(self, spark):
        import pyarrow as pa

        from indian_address_parser_spark.operators.cc import _union_find_labels

        # an edge-free partition yields a frame Arrow can cast to strings
        # (a frame of empty lists would be float64)
        (empty,) = _union_find_labels(iter([]))
        schema = pa.schema([("mention_id", pa.string()), ("cluster_id", pa.string())])
        assert pa.Table.from_pandas(empty, schema=schema, preserve_index=False).num_rows == 0

        df = spark.createDataFrame([], "src string, dst string, block_key string")
        out = block_local_components(df.repartition(4))
        assert out.dtypes == [("mention_id", "string"), ("cluster_id", "string")]
        assert out.count() == 0
        mentions = spark.createDataFrame([("a",), ("b",)], ["mention_id"])
        got = {r["mention_id"]: r["cluster_id"] for r in attach_clusters(mentions, out).collect()}
        assert got == {"a": "a", "b": "b"}

    def test_single_clique_key(self, spark):
        nodes = [f"m{i:03d}" for i in range(120)]
        rows = [(a, b, "one") for i, a in enumerate(nodes) for b in nodes[i + 1 :]]
        got = self._labels(spark, rows, partitions=4)
        assert got == {m: "m000" for m in nodes}

    def test_devanagari_ids_use_spark_string_order(self, spark):
        """Labels are chosen by Python ``str`` order inside the union-find
        and by the string-keyed star loop's own ``least``; both must agree
        with Spark's binary ``min`` on the same ids for non-ASCII url
        paths: all-Devanagari, Devanagari against Latin-1, and a BMP
        character against a supplementary one (where UTF-16 order would
        disagree with UTF-8 byte order). Both implementations run here,
        in one test."""
        components = [
            ["लाजपत-नगर", "नई-दिल्ली", "दिल्ली"],
            ["ज़िला", "é"],
            ["😀", "｡"],
            ["delhi", "Delhi"],
        ]
        rows = []
        for c, paths in enumerate(components):
            ids = [f"https://x.example.in/{p}#0" for p in paths]
            rows += [(a, b, f"k{c}") for a, b in zip(ids, ids[1:])]
        for cc in (block_local_components, connected_components):
            got = self._labels(spark, rows, partitions=2, cc=cc)
            assert got == _bruteforce_clusters([(a, b) for a, b, _ in rows]), cc
            spark_min = (
                spark.createDataFrame(list(got.items()), ["mention_id", "cluster_id"])
                .groupBy("cluster_id")
                .agg(F.min("mention_id").alias("m"))
                .collect()
            )
            assert len(spark_min) == len(components), cc
            assert all(r["m"] == r["cluster_id"] for r in spark_min), (cc, spark_min)


class TestMegaComponentEndToEnd:
    def test_full_pipeline_survives_giant_cluster(self, spark, tmp_path):
        """A mega-component runs through the COMPLETE pipeline — extract →
        block → score → block-local CC → attach: 120 identical pages are one
        primary block, one 7,140-edge clique, and must come out as ONE cluster
        of all 120 mentions labelled by the minimum mention id."""
        addr = "H.NO 12, GALI NO 4, LAJPAT NAGAR, NEW DELHI 110024"
        pages = spark.createDataFrame(
            [(f"https://mega.example.org/p/{i:04d}", addr) for i in range(120)],
            ["url", "text"],
        )
        run_pipeline(spark, pages, str(tmp_path / "mega"))
        edges = spark.read.parquet(str(tmp_path / "mega" / "edges"))
        assert edges.count() == 120 * 119 // 2
        assert edges.select("block_key").distinct().count() == 1
        clusters = spark.read.parquet(str(tmp_path / "mega" / "clusters"))
        sizes = clusters.groupBy("cluster_id").count().collect()
        assert len(sizes) == 1 and sizes[0]["count"] == 120, sizes
        assert sizes[0]["cluster_id"] == "https://mega.example.org/p/0000#0"


class TestEmptyBatches:
    def test_extract_zero_mention_partitions(self, spark):
        """A partition whose pages contain NO address mentions must yield a
        typed empty Arrow batch (regression: pd.DataFrame of empty lists
        defaults to float64 and Arrow cannot cast float64 → the entities
        list<struct> — crashed any address-free partition)."""
        from indian_address_parser_spark.operators.extract import extract_mentions

        pages = spark.createDataFrame(
            [("http://x", "nothing here"), ("http://y", "plain text")],
            ["url", "text"],
        ).repartition(4)
        out = extract_mentions(pages)
        assert out.count() == 0
        assert "entities" in [f.name for f in out.schema.fields]

    def test_streaming_extract_no_join_and_warc_ts_passthrough(self, spark, tmp_path):
        """warc_ts rides through the mapInPandas UDF: no Join node in the
        streaming plan, and the deduped sink carries the event time."""
        import pyspark.sql.functions as F

        from indian_address_parser_spark.streaming.stream import (
            stream_dedup_mentions,
            stream_extract_mentions,
        )

        src = str(tmp_path / "src")
        pages = spark.createDataFrame(
            [
                ("http://a", "2024-01-01 00:00:00", "H NO 45, LAJPAT NAGAR, NEW DELHI 110024"),
                ("http://b", "2024-01-01 00:01:00", "no address here"),
                ("http://a", "2024-01-01 00:02:00", "H NO 45, LAJPAT NAGAR, NEW DELHI 110024"),
            ],
            ["url", "ts", "text"],
        ).withColumn("warc_ts", F.col("ts").cast("timestamp")).drop("ts")
        pages.write.parquet(src)
        stream = spark.readStream.schema(pages.schema).parquet(src)
        mentions = stream_dedup_mentions(stream_extract_mentions(stream))
        assert "Join" not in mentions._jdf.queryExecution().analyzed().toString()
        out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
        q = (
            mentions.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        res = spark.read.parquet(out)
        rows = res.select("mention_id", "warc_ts").collect()
        assert len(rows) == 1 and rows[0]["mention_id"] == "http://a#0"
        assert rows[0]["warc_ts"] is not None


class TestIcebergGate:
    def test_iceberg_detection_and_fallback(self, spark, tmp_path):
        """Without the iceberg-spark-runtime jar the pipeline must fall back
        to parquet even when an iceberg prefix is requested, and record the
        storage format in the stage manifest."""
        import json

        from indian_address_parser_spark.plans.er_pipeline import (
            iceberg_available,
            run_pipeline,
        )
        from indian_address_parser_spark.sources.pages import generate

        has_iceberg = iceberg_available(spark)
        pages = generate(spark, n_households=50)["pages"]
        wd = str(tmp_path / "er")
        run_pipeline(spark, pages, wd, iceberg_prefix="local.db")
        with open(f"{wd}/mentions/_manifest.json") as f:
            manifest = json.load(f)
        expected = "iceberg" if has_iceberg else "parquet"
        assert manifest["storage"]["format"] == expected
        if not has_iceberg:
            import os

            assert any(p.endswith(".parquet") for p in os.listdir(f"{wd}/mentions"))
