#!/usr/bin/env python
"""Local replica of the driver's correctness gate (stricter).

Runs every registered query on Spark and its oracle on DuckDB over the same
parquet tables, then compares row count, sorted column names, and the full
multiset of canonicalized rows (exact values, not hashes — strictly stronger
than the driver's value-hash, so a PASS here implies a driver hash-match
under any reasonable canonicalization).

Usage: python tools/check.py [--sf /root/testdata/sf0.01] [names...]
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import traceback

sys.path.insert(0, ".")

import duckdb  # noqa: E402

from postpy_spark import registry  # noqa: E402
from postpy_spark.io import TABLES  # noqa: E402
from postpy_spark.session import get_spark  # noqa: E402
from postpy_spark.testing import (  # noqa: E402
    canon_rows,
    nonscalar_top_level_columns,
    type_parity_errors,
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    ap.add_argument("--group", default=None, help="only check queries in this group")
    ap.add_argument(
        "--self-consistency",
        action="store_true",
        help="run every query TWICE on Spark and diff against itself — "
        "catches nondeterminism (tie-broken ranks, unordered sampling, "
        "stateful temp artifacts) that a single oracle pass can miss",
    )
    args = ap.parse_args()

    spark = get_spark("postpy-check")
    con = duckdb.connect()
    for t in TABLES:
        # testdata ships single-file parquet; Spark-written tiers (the
        # scale soak's /tmp tier) are DIRECTORIES of part files — glob them
        # so the gate can run against any tier either engine produced
        path = f"{args.sf}/{t}.parquet"
        pat = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pat}')"
        )

    reg = registry.load_all()
    names = args.names or sorted(reg)
    if args.group:
        names = [n for n in names if reg[n].group.startswith(args.group)]

    n_pass = n_fail = n_rows_only = 0
    failures: list[str] = []
    for name in names:
        rq = reg[name]
        t0 = time.time()
        try:
            df = rq.fn(spark, args.sf)
            s_rows = df.collect()
            s_cols = df.columns
        except Exception:
            print(f"FAIL  {name}: spark raised")
            traceback.print_exc()
            n_fail += 1
            failures.append(name)
            continue
        bad_cols = nonscalar_top_level_columns(df.schema)
        if bad_cols:
            print(
                f"FAIL  {name}: non-scalar top-level columns {bad_cols} — "
                "the driver's canonicalizer cannot hash array/map/struct "
                "cells (r9 embed_pca class); explode to scalar rows"
            )
            n_fail += 1
            failures.append(name)
            continue
        if args.self_consistency:
            df2 = rq.fn(spark, args.sf)
            c1, r1 = canon_rows(s_cols, s_rows)
            c2, r2 = canon_rows(df2.columns, df2.collect())
            if (c1, r1) != (c2, r2):
                print(f"FAIL  {name}: NONDETERMINISTIC across two runs")
                n_fail += 1
                failures.append(name)
                continue
        if rq.oracle is None:
            print(f"rows  {name}: {len(s_rows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_rows_only += 1
            continue
        try:
            res = con.execute(rq.oracle)
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
            d_types = {
                r[0]: r[1]
                for r in con.execute("DESCRIBE " + rq.oracle).fetchall()
            }
        except Exception as exc:
            print(f"FAIL  {name}: duckdb raised: {exc}")
            n_fail += 1
            failures.append(name)
            continue

        sc, sr = canon_rows(s_cols, s_rows)
        dc, dr = canon_rows(d_cols, d_rows)
        ok = True
        t_errs = type_parity_errors(df.schema, d_types)
        if t_errs:
            print(f"FAIL  {name}: type parity: " + "; ".join(t_errs))
            ok = False
        elif sc != dc:
            print(f"FAIL  {name}: columns spark={sc} duckdb={dc}")
            ok = False
        elif len(sr) != len(dr):
            print(f"FAIL  {name}: rowcount spark={len(sr)} duckdb={len(dr)}")
            ok = False
        elif sr != dr:
            diffs = [(a, b) for a, b in zip(sr, dr) if a != b][:3]
            print(f"FAIL  {name}: values differ; first diffs (spark vs duckdb):")
            for a, b in diffs:
                print(f"      {a}\n   vs {b}")
            ok = False
        if ok:
            print(f"PASS  {name}: {len(sr)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
        else:
            n_fail += 1
            failures.append(name)

    print(
        f"\n{n_pass} pass / {n_fail} fail / {n_rows_only} rows-only"
        + (f"  FAILURES: {failures}" if failures else "")
    )
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
