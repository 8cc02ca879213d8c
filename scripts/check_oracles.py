"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB over the same sf dir; compare row
count, sorted column names, and order-insensitive values.

Usage: python scripts/check_oracles.py [sf_dir] [query ...]

A FULL sweep (no query names given) prints a count-asserted summary and
exits non-zero unless every registered query is accounted for as ok or
rows-only — a sweep that silently under-covers (e.g. a hand-spliced log)
can never claim ALL MATCH again. With $SPARK_GRAFT_BENCH_TAG set, it also
writes that summary as a machine-readable artifact to
BENCH/<tag>_oracle_sweep.json: {n_queries, n_ok, n_rows_only, ok,
rows_only, failures}. Without the tag nothing is written, so a plain
check run never rewrites a checked-in artifact.
"""
from __future__ import annotations

import json
import math
import os
import sys
from decimal import Decimal

sys.path.insert(0, ".")

import duckdb

import __spark_entry__ as entry_mod
from pdf_extractor_spark.session import get_spark

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(v):
    """Exact-value canonicalization, as strict as the driver's hash: an int
    is NOT a float (DuckDB HUGEINT->float64 5.0 must NOT equal Spark long 5),
    floats use full shortest-repr precision (no .9g loosening — that
    canonicalization hid 3 driver hash failures in round 1)."""
    # numpy scalars/arrays from DuckDB's fetch_df -> native python first
    import numpy as np

    if isinstance(v, np.generic):
        v = v.item()
    elif isinstance(v, np.ndarray):
        v = v.tolist()
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "b:" + str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return "f:" + repr(v)
    if isinstance(v, int):
        return "i:" + str(v)
    if isinstance(v, Decimal):
        return "d:" + str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def row_key(row, cols):
    return "|".join(canon(row[c]) for c in cols)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="oracle-check", master="local[8]",
                      shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        # a typo'd or unregistered name must never pass as vacuous ALL MATCH
        print(f"FAIL  unknown query names: {sorted(unknown)}")
        sys.exit(1)
    failures, oks, rows_only = [], [], []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            spark_rows = sdf.collect()
            spark_cols = sorted(sdf.columns)
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            rows_only.append(name)
            print(f"rows  {name}: {len(spark_rows)} rows (no oracle)")
            continue
        try:
            ddf = con.execute(oracles[name]).fetch_df()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error {e}")
            continue
        duck_cols = sorted(ddf.columns)
        if spark_cols != duck_cols:
            failures.append(name)
            print(f"FAIL  {name}: columns {spark_cols} vs {duck_cols}")
            continue
        if len(spark_rows) != len(ddf):
            failures.append(name)
            print(f"FAIL  {name}: rows {len(spark_rows)} vs {len(ddf)}")
            continue
        s_keys = sorted(row_key(r.asDict(), spark_cols) for r in spark_rows)
        d_records = ddf.to_dict("records")
        d_keys = sorted(row_key(r, duck_cols) for r in d_records)
        if s_keys != d_keys:
            failures.append(name)
            diff = [(a, b) for a, b in zip(s_keys, d_keys) if a != b][:3]
            print(f"FAIL  {name}: value mismatch; first diffs: {diff}")
            continue
        oks.append(name)
        print(f"ok    {name}: {len(spark_rows)} rows match")
    print()
    if not only:
        # full sweep: the count-asserted summary. The assertion is
        # structural — every registered query must be accounted for — so a
        # truncated or spliced log can never masquerade as full coverage.
        art = {
            "sf_dir": sf_dir,
            "n_queries": len(qs),
            "n_ok": len(oks),
            "n_rows_only": len(rows_only),
            "n_failures": len(failures),
            "ok": sorted(oks),
            "rows_only": sorted(rows_only),
            "failures": sorted(failures),
        }
        summary = (f"{art['n_ok']} ok + {art['n_rows_only']} rows-only + "
                   f"{art['n_failures']} fail of {art['n_queries']}")
        tag = os.environ.get("SPARK_GRAFT_BENCH_TAG")
        if tag:
            bench_dir = os.path.join(os.path.dirname(os.path.dirname(
                os.path.abspath(__file__))), "BENCH")
            os.makedirs(bench_dir, exist_ok=True)
            path = os.path.join(bench_dir, f"{tag}_oracle_sweep.json")
            with open(path, "w") as fh:
                json.dump(art, fh, indent=1, sort_keys=True)
            print(f"wrote {path}: {summary}")
        else:
            print(f"sweep: {summary}")
        # real failures first: a value mismatch must be diagnosed as one,
        # not as the structural under-coverage message below (which is for
        # a sweep that silently skipped queries, e.g. a spliced log).
        if failures:
            print("FAILURES:", failures)
            sys.exit(1)
        if len(oks) + len(rows_only) != len(qs):
            print("FAIL  sweep does not account for every registered query")
            sys.exit(1)
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("ALL MATCH")


if __name__ == "__main__":
    main()
