"""The ``queries`` layer, measured in serve_parse's traced run: four
``queries.SPARK_QUERIES`` entries over a seeded corpus in the shape of the
sf0.1 ``documents``/``embeddings`` tables — ``dedup_canonical_keep`` (MinHash
bands + star CC across keys), ``dedup_ngram_jaccard_dfcap``,
``corpus_decontaminate`` and ``sim_cosine_topk``. Each query's rows are
checked against its DuckDB oracle, outside its timing.

The corpus is generated here (the benchmark reads nothing outside its
checkout): word-bag documents over the sf0.1 vocabulary, one in ten a
lightly edited copy of an earlier one, and 64-dim embeddings around ten
class centres.

It runs in serve_parse's traced run, in a session of its own after the
server work, because er_batch's traced run already takes ~2 minutes and a
run may take 3.
"""

from __future__ import annotations

import os
import shutil

from common import Spans, spark_conf, stop_spark

QUERIES = (
    "dedup_canonical_keep",
    "dedup_ngram_jaccard_dfcap",
    "corpus_decontaminate",
    "sim_cosine_topk",
)
N_DOCS = 300
N_VECS = 150
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")


def make_tables(seed: int, out_dir: str) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    texts = []
    for i in range(N_DOCS):
        if i and rng.random() < 0.1:
            words = texts[rng.integers(i)].split()
            for j in rng.integers(len(words), size=max(1, len(words) // 20)):
                words[j] = WORDS[rng.integers(len(WORDS))]
            words.append("dup")
        else:
            words = [WORDS[k] for k in rng.integers(len(WORDS), size=rng.integers(8, 90))]
        texts.append(" ".join(words))
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(N_DOCS), pa.int64()),
                "text": texts,
                "lang": [LANGS[k] for k in rng.choice(5, N_DOCS, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
                "source": [f"src{i % 5}" for i in range(N_DOCS)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )
    centres = rng.normal(0, 0.15, (10, 64))
    labels = rng.integers(10, size=N_VECS)
    vecs = (centres[labels] + rng.normal(0, 0.1, (N_VECS, 64))).astype("float32")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(N_VECS), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            }
        ),
        os.path.join(out_dir, "embeddings.parquet"),
    )


def oracle_digests(sf_dir: str) -> dict:
    import duckdb

    from indian_address_parser_spark.queries import oracle_sqls
    from scripts.check_oracle import frame_digest

    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        for t in ("documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        sqls = oracle_sqls(sf_dir)
        out = {}
        for name in QUERIES:
            cur = con.execute(sqls[name])
            out[name] = frame_digest([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


def queries_layer(spark, seed: int, sf_dir: str, spans: Spans, tag) -> tuple[dict, list[str]]:
    """One pass of the four queries, each in a job group and span
    ``queries.<name>`` → (layer metrics, output-check problems)."""
    from indian_address_parser_spark.queries import SPARK_QUERIES
    from scripts.check_oracle import frame_digest

    make_tables(seed, sf_dir)
    layer, digests = {}, {}
    for name in QUERIES:
        with spans.span(f"queries.{name}", tag) as s:
            df = SPARK_QUERIES[name](spark, sf_dir)
            rows = [tuple(r) for r in df.collect()]
        layer[f"queries.{name}.wall_s"] = s.seconds
        digests[name] = frame_digest(df.columns, rows)
    want = oracle_digests(sf_dir)
    shutil.rmtree(sf_dir, ignore_errors=True)
    problems = [f"{n}: spark {got} != oracle {want[n]}" for n, got in digests.items() if got != want[n]]
    return layer, problems


def traced_queries(seed: int, work_dir: str, spans: Spans) -> tuple[dict, list[str]]:
    """``queries_layer`` in a session of its own with Spark's event log on
    → (layer metrics with each query's jobs, the layer's engine counters
    and the event-log writer's CPU seconds, output-check problems)."""
    from indian_address_parser_spark.plans.session import get_spark

    from eventlog import merge, rollup, writer_cpu_s

    log_dir = os.path.join(work_dir, "eventlog")
    spark = None
    try:
        with spans.span("queries.session"):
            spark = get_spark(app_name="perfbench-queries", extra_conf=spark_conf(log_dir))
            spark.sparkContext.setLogLevel("ERROR")

        def tag(name):
            spark.sparkContext.setJobGroup(name, name)

        layer, problems = queries_layer(spark, seed, os.path.join(work_dir, "corpus"), spans, tag)
        layer["trace.overhead_s"] = writer_cpu_s(spark)
    finally:
        if spark is not None:
            stop_spark(spark)
    groups = rollup(log_dir)
    for name in QUERIES:
        layer[f"queries.{name}.jobs"] = groups.get(f"queries.{name}", {}).get("jobs", 0)
    for k, v in merge(groups, "queries").items():
        layer[f"queries.{k}"] = v
    shutil.rmtree(work_dir, ignore_errors=True)
    return layer, problems
