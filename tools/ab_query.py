#!/usr/bin/env python
"""Interleaved A/B of a SINGLE registered query between two checkouts.

tools/ab_bench.py answers "did the whole headline set move"; this answers
"did THIS query's steady-state cost move" without paying two full bench
runs per pair.  Protocol matches docs/BENCH_NOTES.md discipline: fresh
process per side per iteration, sides alternate back-to-back so machine
load hits both equally, and the side that runs first alternates from pair
to pair so an order effect cannot pose as a change; report per-side
min/median.

Usage: python tools/ab_query.py <query> <repoA> <repoB> [n_pairs=3] [sf_dir]
"""

from __future__ import annotations

import json
import statistics
import subprocess
import sys

RUNNER = r"""
import json, os, sys, time
sys.path.insert(0, os.getcwd())
from postpy_spark import registry
from postpy_spark.session import get_spark
name, sf_dir = sys.argv[1], sys.argv[2]
spark = get_spark("ab-query", shuffle_partitions=8)
spark.sparkContext.setLogLevel("ERROR")
# r14: no base-table pre-cache — match bench.py's fixed methodology
# (every timed pass computes from the parquet inputs).
reg = registry.load_all()
fn = reg[name].fn

def force(df):
    df.write.format("noop").mode("overwrite").save()

force(fn(spark, sf_dir))  # warm-up: codegen + python worker pool
times = []
for _ in range(3):
    t0 = time.perf_counter()
    force(fn(spark, sf_dir))
    times.append(round(time.perf_counter() - t0, 3))
print("ABQ " + json.dumps(times))
spark.stop()
"""


def run_side(repo: str, query: str, sf_dir: str) -> list[float]:
    out = subprocess.run(
        [sys.executable, "-c", RUNNER, query, sf_dir],
        cwd=repo,
        capture_output=True,
        text=True,
        timeout=900,
    )
    for ln in out.stdout.splitlines():
        if ln.startswith("ABQ "):
            return json.loads(ln[4:])
    raise RuntimeError(f"no ABQ line from {repo}: {out.stdout[-300:]}\n{out.stderr[-500:]}")


def main() -> None:
    query, a, b = sys.argv[1], sys.argv[2], sys.argv[3]
    n_pairs = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    sf_dir = sys.argv[5] if len(sys.argv) > 5 else "/root/testdata/sf0.1"
    times_a: list[float] = []
    times_b: list[float] = []
    for i in range(n_pairs):
        if i % 2 == 0:
            order = "A,B"
            ta = run_side(a, query, sf_dir)
            tb = run_side(b, query, sf_dir)
        else:
            order = "B,A"
            tb = run_side(b, query, sf_dir)
            ta = run_side(a, query, sf_dir)
        times_a += ta
        times_b += tb
        print(f"pair {i + 1} ({order}): A={ta} B={tb}", flush=True)
    print(
        f"\n{query} @ {sf_dir}\n"
        f"A ({a}): min={min(times_a):.3f} median={statistics.median(times_a):.3f}\n"
        f"B ({b}): min={min(times_b):.3f} median={statistics.median(times_b):.3f}\n"
        f"delta(min) = {min(times_b) - min(times_a):+.3f}s "
        f"({(min(times_b) / min(times_a) - 1) * 100:+.1f}%)"
    )


if __name__ == "__main__":
    main()
