"""Per-address timings of the ``core`` layer, by direct calls on a
workload's own addresses (outside every timed window)."""

from __future__ import annotations

import time

from common import median


def core_layer_ms(addresses: list[str], repeats: int = 3) -> dict[str, float]:
    from indian_address_parser_spark.core import refine
    from indian_address_parser_spark.core.extractor import extract_rules_only
    from indian_address_parser_spark.core.parse import parse_address, preprocess

    normalized = [preprocess(a) for a in addresses]
    spans = [extract_rules_only(n) for n in normalized]
    calls = {
        "core.parse_ms": lambda: [parse_address(a) for a in addresses],
        "core.preprocess_ms": lambda: [preprocess(a) for a in addresses],
        "core.extract_ms": lambda: [extract_rules_only(n) for n in normalized],
        "core.refine_ms": lambda: [
            refine.refine(n, s) for n, s in zip(normalized, spans)
        ],
    }
    out = {}
    for name, call in calls.items():
        per_rep = []
        for _ in range(repeats):
            t = time.perf_counter()
            call()
            per_rep.append((time.perf_counter() - t) * 1000 / len(addresses))
        out[name] = median(per_rep)
    return out
