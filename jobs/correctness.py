#!/usr/bin/env python
"""Repo-local replica of the driver's correctness gate, with NO entry
cap: run EVERY ``queries()`` entry against its ``oracle_sql()`` through
DuckDB at a given sf dir and write one CORRECTNESS-format JSON covering
the full suite. The external harness has written exactly 50 entries two
rounds running (rounds 2 and 3), so queries registered past the cap are
invisible to its artifact; this CLI is the complete in-repo record
(CORRECTNESS_FULL.json) refreshed each round.

Per query: row-count match, column-name match, and an order-insensitive
value match (columns sorted by name, rows sorted, float compare at
1e-9) — the same compare tests/test_entry_contract.py asserts.

Usage: python jobs/correctness.py [--sf-dir /root/testdata/sf0.01]
                                  [--out CORRECTNESS_FULL.json]
                                  [--cpus 8]
Prints one JSON summary line; exit code 1 if any query fails.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype(bool)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype(float)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    # Sort on floats rounded to 8 SIGNIFICANT digits (relative, not
    # absolute — allclose's tolerance is rtol-dominated at large
    # magnitudes, where a fixed decimal rounding is a no-op), non-float
    # columns first: raw float sort keys would let sub-tolerance
    # cross-engine jitter permute rows that tie on every other column,
    # turning a value-equal result into a spurious mismatch. 1e-7
    # relative sits between the observed cross-engine jitter (~1e-9
    # rel) and the comparison tolerance (rtol 1e-5).
    keys = df.copy()
    float_cols = [c for c in keys.columns
                  if pd.api.types.is_float_dtype(keys[c])]
    for c in float_cols:
        v = keys[c].to_numpy(dtype=float)
        mag = np.floor(np.log10(np.maximum(np.abs(v), 1e-300)))
        keys[c] = np.round(v / 10.0 ** mag, 7) * 10.0 ** mag
    order = ([c for c in keys.columns if c not in float_cols]
             + float_cols)
    return df.loc[keys.sort_values(order).index].reset_index(drop=True)


def first_mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """The first column (by name) whose canonicalized values differ, or
    None when every column matches. Both frames must carry the same
    columns and row count."""
    g, w = _canon(got), _canon(want)
    for c in g.columns:
        if pd.api.types.is_float_dtype(g[c]):
            same = np.allclose(g[c].fillna(math.nan), w[c].fillna(math.nan),
                               atol=1e-9, equal_nan=True)
        else:
            same = (g[c].fillna("∅").astype(str) == w[c].fillna("∅").astype(str)).all()
        if not same:
            return c
    return None


def run(sf_dir: str, out_path: str, cpus: int,
        only: list[str] | None = None) -> dict:
    from watermark_detector_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark(cpus=cpus)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    if only:
        missing = [n for n in only if n not in queries]
        if missing:
            raise SystemExit(f"--only names not registered: {missing}")
        queries = {n: queries[n] for n in only}
    results: dict[str, dict] = {}
    for name, fn in queries.items():
        entry = {"rows_match": False, "schema_match": False,
                 "hash_match": False, "spark_rows": None,
                 "oracle_rows": None, "err": None}
        try:
            got = fn(spark, sf_dir).toPandas()
            want = con.sql(oracles[name]).df()
            entry["spark_rows"] = int(len(got))
            entry["oracle_rows"] = int(len(want))
            entry["rows_match"] = len(got) == len(want)
            entry["schema_match"] = sorted(got.columns) == sorted(want.columns)
            entry["hash_match"] = (entry["rows_match"] and entry["schema_match"]
                                   and first_mismatch(got, want) is None)
        except Exception as e:  # record, keep sweeping
            entry["err"] = f"{type(e).__name__}: {e}"[:500]
        results[name] = entry
    spark.stop()

    with open(out_path, "w") as fh:
        json.dump(results, fh, indent=1)
    n_green = sum(1 for r in results.values()
                  if r["rows_match"] and r["schema_match"] and r["hash_match"])
    return {"queries": len(results), "green": n_green,
            "failed": sorted(n for n, r in results.items()
                             if not (r["rows_match"] and r["schema_match"]
                                     and r["hash_match"])),
            "sf_dir": sf_dir, "out": out_path}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=None,
                    help="defaults to CORRECTNESS_FULL.json for a full "
                         "sweep, CORRECTNESS_SUBSET.json with --only "
                         "(a subset must never clobber the full artifact)")
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--only", default=None,
                    help="comma-separated query names (subset sweep)")
    args = ap.parse_args()
    t0 = time.time()
    if args.out is None:
        args.out = os.path.join(
            REPO, "CORRECTNESS_SUBSET.json" if args.only
            else "CORRECTNESS_FULL.json")
    summary = run(args.sf_dir, args.out, args.cpus,
                  only=args.only.split(",") if args.only else None)
    summary["elapsed_sec"] = round(time.time() - t0, 1)
    print(json.dumps(summary))
    return 0 if summary["green"] == summary["queries"] else 1


if __name__ == "__main__":
    sys.exit(main())
