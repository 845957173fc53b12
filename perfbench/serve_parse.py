"""serve_parse: an open loop of ``POST /parse`` requests against
``serving.api``, served by ``jobs/serve_api.py`` in its own process.

Requests come at three fixed rates, one after the other, each on a
constant-rate schedule (one ``/parse`` every ``1 / rate`` seconds, as wrk2
sends them). The reference rate gets 80% of the measured seconds and its
``/parse`` p50 and p99 are the workload's headline; the rates below and
above it get 10% each and, with it, give the highest rate whose p99 meets
``LIMIT_MS`` with no growing backlog. In each stretch of 100 request
slots one ``POST /parse/batch`` of 100 addresses is sent at a seeded time,
so each run sees the same number of them and the two endpoints carry the
same number of addresses. With Poisson arrivals instead, the number of
``/parse`` requests caught behind a run's ~12 batches ranged from 29 to
64 between runs, and the p99 with it (quartile spread 0.33-0.38). The
batch latency itself is timed from one caller sending ``BATCH_REQUESTS``
batches one after another, in four groups: before each rate and after the
last. Every request is timed from the moment it was due, so a stalled
server also delays the requests queued behind it, and the generator's own
lateness is reported. No Spark runs in the timed runs; the traced run
measures the ``queries`` layer afterwards, in a session of its own
(``queries_layer.py``).

The server runs each request on a thread of one interpreter, so a batch
holds it for its whole parse (~55 ms alone, ~70 ms beside the open loop)
and ``/parse`` requests that arrive meanwhile wait behind it: those waits
set the p99. The workload line reports the share of ``/parse`` requests
that overlapped a batch and their p50 beside the others'.

The reference rate sits below the knee a 4-core host shows: the server's
listen queue holds 5 connections (``socketserver``'s default), so bursts
beyond it drop SYNs and those clients wait out the kernel's 1 s
retransmit. With Poisson arrivals and this mix, one 100/s phase in eight
read a p99 of ~1 s.
"""

from __future__ import annotations

import asyncio
import json
import os
import random
import re
import subprocess
import sys
import time

from common import ROOT, WORK, Spans, median, percentile, spin_mops

RATES = (25, 50, 100)  # requests per second
REFERENCE_RATE = 50
# 1,000 /parse requests at 25 s, so the p99 has ten samples beyond it
REFERENCE_SHARE = 0.8
# batches and single requests then carry the same number of addresses
BATCH_EVERY = 100
BATCH_REQUESTS = 20
BATCH_SIZE = 100
POOL = 2000
LIMIT_MS = 100.0  # p99 latency limit behind max_rate_under_limit
SETUPS = 5
WARM_REQUESTS = 200
CORE_SAMPLE = 500


def make_addresses(seed: int, n: int = POOL) -> list[str]:
    """Seeded addresses in the surface forms the page generator mixes:
    abbreviations, lower case, reordered parts, Devanagari lane words."""
    from indian_address_parser_spark.sources.pages import (
        COLONIES,
        MEGA_PINCODE,
        PINCODES,
        SUBAREAS,
    )

    rng = random.Random(seed)
    out = []
    for _ in range(n):
        house = rng.randint(1, 999)
        gali = rng.randint(1, 23)
        colony = rng.choice(COLONIES)
        locality = f"{colony}, {rng.choice(SUBAREAS)}" if rng.random() < 0.67 else colony
        sector = f", SEC-{rng.randint(1, 40)}" if rng.random() < 0.25 else ""
        pin = MEGA_PINCODE if rng.random() < 0.2 else rng.choice(PINCODES)
        city = "NEW DELHI" if rng.random() < 0.8 else "DELHI"
        form = rng.randrange(5)
        if form == 0:
            addr = f"H.NO {house}, GALI NO {gali}, {locality}{sector}, {city} {pin}"
        elif form == 1:
            addr = f"H.NO {house}, गली {gali}, {locality}{sector}, {city} {pin}"
        elif form == 2:
            short = "N.DELHI" if city == "NEW DELHI" else city
            addr = f"HOUSE NO {house}, {locality}, GALI {gali}{sector}, {short} {pin}"
        elif form == 3:
            addr = f"hno {house} gali no {gali} {locality.replace(', ', ' ')} {city} {pin}".lower()
        else:
            addr = f"H NO {house}, FIRST FLOOR, GALI NO {gali}, {locality}{sector}, {city}, {pin}"
        out.append(addr)
    return out


class Server:
    """The API server process: started, probed on /health, stopped."""

    def __init__(self):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "jobs", "serve_api.py"),
             "--host", "127.0.0.1", "--port", "0"],
            cwd=ROOT,
            stdout=subprocess.PIPE,
            text=True,
        )
        line = self.proc.stdout.readline()
        match = re.search(r"'127\.0\.0\.1', (\d+)\)", line)
        if not match:
            self.stop()
            raise RuntimeError(f"server did not report its port: {line!r}")
        self.port = int(match.group(1))

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("VmHWM missing")

    def stop(self) -> None:
        self.proc.terminate()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()


async def _http(port: int, method: str, path: str, body: bytes = b""):
    """One request on its own connection → (status, server ms, body)."""
    reader, writer = await asyncio.open_connection("127.0.0.1", port)
    try:
        writer.write(
            f"{method} {path} HTTP/1.1\r\nHost: 127.0.0.1\r\n"
            f"Content-Type: application/json\r\nContent-Length: {len(body)}\r\n"
            "Connection: close\r\n\r\n".encode()
            + body
        )
        data = await reader.read()
    finally:
        writer.close()
    head, _, payload = data.partition(b"\r\n\r\n")
    lines = head.decode("latin-1").split("\r\n")
    status = int(lines[0].split()[1])
    server_ms = 0.0
    for h in lines[1:]:
        if h.lower().startswith("x-response-time-ms:"):
            server_ms = float(h.split(":", 1)[1])
    return status, server_ms, payload


def _setup(addresses: list[str]) -> tuple[Server, float]:
    """Start a server, wait for /health, warm it with untimed requests."""
    t = time.perf_counter()
    server = Server()

    async def health_and_warm():
        for _ in range(200):
            try:
                status, _, _ = await _http(server.port, "GET", "/health")
                if status == 200:
                    break
            except OSError:
                pass
            await asyncio.sleep(0.01)
        else:
            raise RuntimeError("server never answered /health")
        for a in addresses[:WARM_REQUESTS]:
            await _http(server.port, "POST", "/parse", json.dumps({"address": a}).encode())
        await _http(
            server.port, "POST", "/parse/batch",
            json.dumps({"addresses": addresses[:BATCH_SIZE]}).encode(),
        )

    try:
        asyncio.run(health_and_warm())
    except BaseException:
        server.stop()
        raise
    return server, time.perf_counter() - t


async def _phase(port: int, rate: float, seconds: float, rng, addresses) -> list[dict]:
    """``/parse`` requests due every ``1 / rate`` seconds for ``seconds``, and
    one batch at a seeded time in each stretch of ``BATCH_EVERY`` request
    slots → one record a request."""
    loop = asyncio.get_running_loop()

    async def one(due: float, kind: str, addrs: list[str]) -> dict:
        await asyncio.sleep(max(0.0, due - loop.time()))
        sent = loop.time()
        if kind == "batch":
            path, body = "/parse/batch", {"addresses": addrs}
        else:
            path, body = "/parse", {"address": addrs[0]}
        rec = {"kind": kind, "addrs": addrs, "rate": rate, "late_ms": (sent - due) * 1000}
        try:
            status, server_ms, payload = await _http(port, "POST", path, json.dumps(body).encode())
        except OSError as e:
            rec.update(status=None, error=str(e))
            return rec
        done = loop.time()
        rec.update(
            status=status,
            server_ms=server_ms,
            payload=payload,
            latency_ms=(done - due) * 1000,
            start=sent,
            end=done,
        )
        return rec

    start = loop.time() + 0.05
    n = round(seconds * rate)
    tasks = [
        asyncio.create_task(one(start + i / rate, "parse", [rng.choice(addresses)]))
        for i in range(n)
    ]
    for first in range(0, n, BATCH_EVERY):
        slots = min(BATCH_EVERY, n - first)
        due = start + (first + rng.random() * slots) / rate
        tasks.append(asyncio.create_task(one(due, "batch", rng.sample(addresses, BATCH_SIZE))))
    return list(await asyncio.gather(*tasks))


async def _batches(port: int, n: int, rng, addresses) -> list[dict]:
    """``n`` batch requests from one caller, back to back."""
    loop = asyncio.get_running_loop()
    out = []
    for _ in range(n):
        addrs = rng.sample(addresses, BATCH_SIZE)
        body = json.dumps({"addresses": addrs}).encode()
        t = loop.time()
        status, server_ms, payload = await _http(port, "POST", "/parse/batch", body)
        out.append(
            {"kind": "batch", "addrs": addrs, "status": status, "server_ms": server_ms,
             "payload": payload, "latency_ms": (loop.time() - t) * 1000}
        )
    return out


def _check(records: list[dict]) -> tuple[int, list[str]]:
    """Each response body must equal the in-process parse of its address."""
    from indian_address_parser_spark.core.parse import parse_address
    from indian_address_parser_spark.serving.api import parsed_address_dict

    expected: dict[str, dict] = {}

    def want(a: str) -> dict:
        if a not in expected:
            expected[a] = parsed_address_dict(a, *parse_address(a))
        return expected[a]

    failed, problems = 0, []
    for r in records:
        if r.get("status") != 200:
            failed += 1
            problems.append(f"{r['kind']} request failed: {r.get('status') or r.get('error')}")
            continue
        body = json.loads(r["payload"])
        if r["kind"] == "batch":
            ok = body.get("success") is True and body.get("results") == [want(a) for a in r["addrs"]]
        else:
            ok = (
                body.get("success") is True
                and body.get("error") is None
                and body.get("result") == want(r["addrs"][0])
            )
        if not ok:
            failed += 1
            problems.append(f"{r['kind']} response differs from parse_address for {r['addrs'][0]!r}")
    return failed, problems[:10]


def _rate_summary(records: list[dict], rate: float) -> dict:
    parse = [r for r in records if r["rate"] == rate and r["kind"] == "parse"]
    ok = [r for r in parse if r.get("status") == 200]
    lat = [r["latency_ms"] for r in ok]
    third = len(lat) // 3
    first, last = median(lat[:third] or lat), median(lat[-third:] or lat)
    return {
        "rate": rate,
        "requests": len(parse),
        "p50_ms": median(lat),
        "p90_ms": percentile(lat, 90),
        "p99_ms": percentile(lat, 99),
        "failed": len(parse) - len(ok),
        # a growing backlog shows as the last third of the phase waiting
        # clearly longer than the first third
        "backlog_growing": last > 2 * first + 5.0,
    }


def _behind_batches(records: list[dict]) -> dict:
    """Split the ``/parse`` requests of the open loop by whether they were
    in flight while a batch of the same loop was."""
    done = [r for r in records if r.get("status") == 200]
    windows = [(r["start"], r["end"]) for r in done if r["kind"] == "batch"]
    behind, clear = [], []
    for r in done:
        if r["kind"] == "parse":
            hit = any(s < r["end"] and r["start"] < e for s, e in windows)
            (behind if hit else clear).append(r["latency_ms"])
    return {
        "behind_batch_share": len(behind) / max(len(behind) + len(clear), 1),
        "behind_batch_p50_ms": median(behind) if behind else 0.0,
        "clear_p50_ms": median(clear),
    }


def run(seed: int, seconds: float, trace: bool, t0: float) -> dict:
    from core_layer import core_layer_ms
    from queries_layer import QUERIES, traced_queries

    spans = Spans(t0)
    with spans.span("setup"):
        with spans.span("input"):
            addresses = make_addresses(seed)
        input_s = time.perf_counter() - t0
        setups = []
        server = None
        for i in range(SETUPS):
            with spans.span("server_setup"):
                server, took = _setup(addresses)
            setups.append(took)
            if i < SETUPS - 1:
                server.stop()
    setup_s = input_s + median(setups)

    rng = random.Random(seed)
    records: list[dict] = []
    try:
        # the calibration spins sit between the timed windows
        cal = [spin_mops()]
        # the closed-loop batches are spread over the run in four groups
        # (before each rate and after the last), so their median sees the
        # host over the same seconds as the /parse latencies, not one second
        group = BATCH_REQUESTS // (len(RATES) + 1)
        batches: list[dict] = []
        for rate in RATES:
            with spans.span("batch_closed_loop"):
                batches += asyncio.run(_batches(server.port, group, rng, addresses))
            share = REFERENCE_SHARE if rate == REFERENCE_RATE else (1 - REFERENCE_SHARE) / (len(RATES) - 1)
            with spans.span(f"rate_{rate}"):
                records += asyncio.run(_phase(server.port, rate, seconds * share, rng, addresses))
        with spans.span("batch_closed_loop"):
            batches += asyncio.run(_batches(server.port, group, rng, addresses))
        peak_mb = server.peak_rss_mb()
    finally:
        server.stop()
    cal.append(spin_mops())

    failed, problems = _check(records + batches)
    summaries = [_rate_summary(records, rate) for rate in RATES]
    top = summaries[RATES.index(REFERENCE_RATE)]
    under = [
        s["rate"] for s in summaries
        if s["p99_ms"] <= LIMIT_MS and not s["backlog_growing"] and s["failed"] == 0
    ]
    batch_lat = [r["latency_ms"] for r in batches if r.get("status") == 200]
    mixed_batch = [r["latency_ms"] for r in records if r["kind"] == "batch" and r.get("status") == 200]
    top_records = [r for r in records if r["rate"] == REFERENCE_RATE]
    top_ok = [r for r in top_records if r["kind"] == "parse" and r.get("status") == 200]
    attempted = len(records) + len(batches)

    layer = {}
    if trace:
        layer["api.server_ms"] = median([r["server_ms"] for r in top_ok])
        layer["api.overhead_ms"] = median([r["latency_ms"] - r["server_ms"] for r in top_ok])
        layer["api.generator_late_ms"] = percentile([r["late_ms"] for r in top_ok], 99)
        # each request's own span, kept from the records after the phase
        # ended, so recording them added nothing to the measured requests
        for r in records:
            if "start" in r:
                spans.records.append(
                    {"name": f"request.{r['kind']}", "start": r["start"] - t0,
                     "end": r["end"] - t0, "parent": f"rate_{r['rate']}"}
                )
        with spans.span("core"):
            layer.update(core_layer_ms(random.Random(seed).sample(addresses, CORE_SAMPLE)))
        with spans.span("queries"):
            found_layer, found = traced_queries(
                seed, os.path.join(WORK, f"queries-{os.getpid()}"), spans
            )
        layer.update(found_layer)
        attempted += len(QUERIES)
        failed += len(found)
        problems += found
        layer["trace.uncovered_s"] = spans.uncovered(time.perf_counter() - t0)

    return {
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "metrics": {
            "setup_s": setup_s,
            "op_p50_ms": top["p50_ms"],
            "op_tail_ms": top["p99_ms"],
            "aux_op_p50_ms": median(batch_lat),
            "peak_rss_mb": peak_mb,
            "quality": (attempted - failed) / attempted,
        },
        "layer": layer,
        "spans": spans.records,
        "workload": {
            "reference_rate": REFERENCE_RATE,
            "request_p50_ms": top["p50_ms"],
            "request_p99_ms": top["p99_ms"],
            "request_samples": top["requests"],
            **_behind_batches(top_records),
            "batch_request_p50_ms": median(batch_lat),
            "batch_samples": len(batch_lat),
            "open_loop_batch_p50_ms": median(mixed_batch),
            "open_loop_batch_samples": len(mixed_batch),
            "latency_limit_ms": LIMIT_MS,
            "max_rate_under_limit": max(under) if under else 0,
            "rates": summaries,
            "setups_s": setups,
            "peak_rss_mb": peak_mb,
            "failed_ratio": failed / attempted,
            "cal_mops": cal,
        },
    }
