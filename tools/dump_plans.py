#!/usr/bin/env python
"""Print the formatted physical plan of registered queries.

    python tools/dump_plans.py agg_groupby join_asof        # named queries
    python tools/dump_plans.py --all                        # everything (slow)
    python tools/dump_plans.py --bench                      # every benched query
    python tools/dump_plans.py --out plans/next --suffix before sim_ann_lsh

Plans go to stdout.  With ``--out DIR`` each plan is also written to
``DIR/<query>_<suffix>.txt`` — the before/after evidence for a plan claim.
The plan is what the performance contract pins (tests/test_plan_shapes.py);
this tool is the human-inspection path: check PushedFilters / ReadSchema /
broadcast choices / WholeStageCodegen spans after touching an operator.
The session is ``get_spark()`` with its defaults.  NOTE: building an
iterative query's frame executes its loop (localCheckpoint is eager), so
this takes real time for the CC/kmeans family.
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from postpy_spark import registry  # noqa: E402
from postpy_spark.io import DEFAULT_SF_DIR  # noqa: E402
from postpy_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--all", action="store_true", help="every registered query")
    ap.add_argument("--bench", action="store_true", help="every bench.py query")
    ap.add_argument("--sf", default=DEFAULT_SF_DIR, help="testdata directory")
    ap.add_argument("--out", help="also write DIR/<query>_<suffix>.txt")
    ap.add_argument("--suffix", default="plan", help="file-name suffix for --out")
    args = ap.parse_args()

    reg = registry.load_all()
    names = list(reg) if args.all else list(args.queries)
    if args.bench:
        import bench

        names = list(dict.fromkeys([*bench.HEADLINE, *bench.HEAVY_EXTRAS, *names]))
    if not names:
        ap.print_help()
        print("\nregistered:", ", ".join(reg))
        return
    if args.out:
        os.makedirs(args.out, exist_ok=True)
    spark = get_spark("postpy-plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        if name not in reg:
            print(f"== {name}: NOT REGISTERED ==")
            continue
        df = reg[name].fn(spark, args.sf)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        print(f"\n{'=' * 70}\n== {name}\n{'=' * 70}\n{buf.getvalue()}", end="")
        if args.out:
            path = os.path.join(args.out, f"{name}_{args.suffix}.txt")
            with open(path, "w") as fh:
                fh.write(buf.getvalue())
            print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
