"""Arrow-batched pandas UDFs wrapping the pure-Python core.

All Python execution in the pipeline goes through these — never row-at-a-time
``F.udf``. The core modules compile their regex tables at import, which under
``spark.python.worker.reuse`` (default true) happens once per Python worker,
mirroring the reference API's load-once lifespan (``api/main.py:39-62``).

Worker reuse keeps module state (imported modules, compiled tables) from one
task to the next, but PySpark still calls ``importlib.invalidate_caches()``
at the start of every task. On CPython < 3.12 that re-parsed every zip
archive on the worker's path (pyspark.zip, the py4j zip, the spark-core jar:
0.17-0.27 s a task); importing this package installs a stat guard that
skips the re-read while an archive is unchanged (``_zipstamp``).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

ENTITY_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("label", T.StringType()),
            T.StructField("value", T.StringType()),
            T.StructField("start", T.IntegerType()),
            T.StructField("end", T.IntegerType()),
            T.StructField("confidence", T.DoubleType()),
        ]
    )
)

# Flattened accessor columns emitted per mention (reference ParsedAddress
# computed fields + ER field mapping).
FLAT_FIELDS = (
    "house_no", "floor", "block", "gali", "colony", "area", "subarea",
    "sector", "khasra", "pincode", "city", "state", "street", "locality",
)

MENTION_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("mention_seq", T.IntegerType()),
        T.StructField("raw", T.StringType()),
        T.StructField("normalized", T.StringType()),
        T.StructField("entities", ENTITY_TYPE),
    ]
    + [T.StructField(f, T.StringType()) for f in FLAT_FIELDS]
)


def mention_schema(passthrough: tuple = ()) -> T.StructType:
    """MENTION_SCHEMA extended with page-level passthrough columns
    (e.g. ``warc_ts``) copied verbatim onto every mention of the page."""
    return T.StructType(list(MENTION_SCHEMA.fields) + [
        T.StructField(name, dtype) for name, dtype in passthrough
    ])


def make_mention_extractor(candidate_fn=None, passthrough: tuple = ()):
    """Build a ``mapInPandas`` function: pages(url, text, *extra) → mentions.

    ``candidate_fn(text) -> list[str]`` splits a page into parse candidates;
    the default treats each line that looks address-bearing (contains a PIN
    or 'DELHI', length 5..500 per the reference's ParseRequest bounds,
    ``schemas.py:167``) as one mention candidate.

    ``passthrough``: (name, DataType) page columns replicated per mention —
    carrying e.g. the event-time ``warc_ts`` through the UDF costs zero
    shuffles, vs the stream-stream re-join on url it replaces.

    This is a NARROW operator: no shuffle, Arrow batches in and out, one
    Python worker per core. At 100 TB the scan + this map dominate wall
    clock and scale linearly with executors.
    """
    from indian_address_parser_spark.core.parse import flatten_fields, parse_address

    if candidate_fn is None:
        candidate_fn = default_candidates

    pass_names = [name for name, _ in passthrough]
    col_names = [f.name for f in MENTION_SCHEMA.fields] + pass_names

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # columnar accumulation: pd.DataFrame(dict-of-lists) is ~5×
            # cheaper than list-of-dicts row assembly in the hot path
            cols: dict[str, list] = {name: [] for name in col_names}
            extras = [pdf[name] for name in pass_names]
            for url, text, *extra_vals in zip(pdf["url"], pdf["text"], *extras):
                if text is None:
                    continue
                for seq, raw in enumerate(candidate_fn(text)):
                    normalized, spans = parse_address(raw)
                    cols["url"].append(url)
                    cols["mention_seq"].append(seq)
                    cols["raw"].append(raw)
                    cols["normalized"].append(normalized)
                    cols["entities"].append([sp.as_dict() for sp in spans])
                    fields = flatten_fields(spans)
                    for name in FLAT_FIELDS:
                        cols[name].append(fields[name])
                    for name, val in zip(pass_names, extra_vals):
                        cols[name].append(val)
            if not cols["url"]:
                # a batch with zero mentions must keep typed-convertible
                # columns: pd.DataFrame of empty lists defaults to float64
                # and Arrow cannot cast float64 → list<struct> (entities)
                yield pd.DataFrame(
                    {name: pd.Series([], dtype=object) for name in col_names}
                )
            else:
                yield pd.DataFrame(cols, columns=col_names)

    return extract


import re as _re

_CAND_PIN = _re.compile(r"\b[1-9]\d{5}\b")


def default_candidates(text: str) -> list[str]:
    """Line-level mention candidate detector."""
    out = []
    for line in text.split("\n"):
        line = line.strip()
        if not (5 <= len(line) <= 500):
            continue
        if _CAND_PIN.search(line) or "DELHI" in line.upper() or "दिल्ली" in line:
            out.append(line)
    return out


@F.pandas_udf(T.DoubleType())
def _jaro_winkler_impl(a: pd.Series, b: pd.Series) -> pd.Series:
    """Vectorized Jaro-Winkler (DuckDB-parity, see core.fuzzy).

    The kernel loops over character positions, not rows — whole-batch numpy
    ops per position (``fuzzy.jaro_winkler_batch``), so the Arrow batch is
    processed as a block. NaN (null) where either side is null.
    """
    from indian_address_parser_spark.core.fuzzy import jaro_winkler_batch

    av = [x if isinstance(x, str) else None for x in a]
    bv = [x if isinstance(x, str) else None for x in b]
    return pd.Series(jaro_winkler_batch(av, bv), dtype="float64")


# The function IS deterministic; the flag stops Catalyst from cloning the
# ArrowEvalPython node into both the filter and the projection of a
# score-then-threshold plan (observed 2× Python evaluation otherwise).
jaro_winkler_udf = _jaro_winkler_impl.asNondeterministic()


@F.pandas_udf(T.StringType())
def normalize_udf(text: pd.Series) -> pd.Series:
    """P1 normalization as a standalone column op (used by oracle queries)."""
    from indian_address_parser_spark.core.parse import preprocess

    return text.map(lambda s: preprocess(s) if s is not None else None)


def make_topcells_udf(bc_centroids, nprobe: int):
    """Factory: (v: array<double>) → the ``nprobe`` best IVF cells ordered
    by (dot DESC, cell ASC). ``bc_centroids`` is a Spark broadcast of the
    cells×dim float64 centroid matrix — the kernel is one batch×dim @
    dim×cells matmul + stable argsort, so cell count never enters the
    plan (vs a posexplode×cells form) and the matrix ships once per
    executor, not per task closure."""
    npb = int(nprobe)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _topcells(vs: pd.Series) -> pd.Series:
        import numpy as np

        if not len(vs):
            return pd.Series([], dtype=object)
        V = np.stack(vs.to_numpy()).astype(np.float64)
        D = V @ bc_centroids.value.T
        # stable sort on -dot: equal dots keep ascending cell order —
        # byte-identical tie-break to the SQL oracle's (dot DESC, cell ASC)
        idx = np.argsort(-D, axis=1, kind="stable")[:, :npb]
        return pd.Series(list(idx.tolist()))

    return _topcells
