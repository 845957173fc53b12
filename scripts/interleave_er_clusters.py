"""Interleaved calibrated re-runs of er_clusters across code versions.

Settles bench-variance questions the way sim_cosine_topk was settled in r3
(BENCH/BASELINE.md §6): each sample is a FRESH subprocess (own JVM/session)
that warms the Python workers with an untimed er_normalize pass, then times
q_er_clusters at sf0.1; samples alternate across the given repo checkouts so
host-noise episodes hit every version equally; single-thread cal_mops before
and after each sample detects co-tenant steal. Every checkout must have
the ``queries/`` package (the ER queries live in ``queries/er.py``).

Usage:
  git worktree add /tmp/wt_r3 <r3-sha>
  python scripts/interleave_er_clusters.py --repos /tmp/wt_r3 /root/repo --rounds 3
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, sys, time
sys.path.insert(0, sys.argv[1])

def spin_mops(n=20_000_000):
    t0 = time.perf_counter(); x = 0
    for i in range(n): x += i & 7
    return round(n / (time.perf_counter() - t0) / 1e6, 1)

cal0 = spin_mops()
from indian_address_parser_spark.plans.session import get_spark
from indian_address_parser_spark.queries import er as Q
spark = get_spark(app_name="interleave-er-clusters")
sf = "/root/testdata/sf0.1"
Q.q_er_normalize(spark, sf).count()  # warm JVM + Python workers, untimed
t0 = time.perf_counter()
n = Q.q_er_clusters(spark, sf).count()
secs = round(time.perf_counter() - t0, 2)
print("RESULT " + json.dumps({"secs": secs, "rows": n, "cal_mops": [cal0, spin_mops()]}))
"""


def run_one(repo: str) -> dict:
    proc = subprocess.run(
        [sys.executable, "-c", CHILD, repo],
        capture_output=True,
        text=True,
        timeout=1800,
        cwd=repo,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(
        f"no RESULT from {repo}:\n{proc.stdout[-1500:]}\n{proc.stderr[-1500:]}"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repos", nargs="+", default=[REPO])
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--out", default=None, help="optional JSON output path")
    args = ap.parse_args()
    samples: dict[str, list[dict]] = {r: [] for r in args.repos}
    for i in range(args.rounds):
        for repo in args.repos:
            res = run_one(repo)
            samples[repo].append(res)
            print(json.dumps({"round": i, "repo": repo, **res}), flush=True)
    summary = {
        repo: {
            "secs": [s["secs"] for s in ss],
            "best": min(s["secs"] for s in ss),
            "median": sorted(s["secs"] for s in ss)[len(ss) // 2],
            "rows": ss[0]["rows"],
        }
        for repo, ss in samples.items()
    }
    print("SUMMARY " + json.dumps(summary))
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"samples": samples, "summary": summary}, f, indent=1)


if __name__ == "__main__":
    main()
