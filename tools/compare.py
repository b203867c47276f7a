#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL in
DuckDB over the same parquet tables and diff against the Verify parquet dump.

Usage: python3 tools/compare.py <sfDir> <verifyOutDir>

DuckDB runs with an explicit memory limit and thread count derived from the
host the way the tier-1 command derives SPARK_DRIVER_MEM (half of MemTotal,
clamped to 2-8 GiB) and nproc, so an oracle query that blows up fails by
name instead of running the machine out of memory. An oracle query that
raises prints `[ERROR] <row>: <message>`, counts as not passing, and the
sweep goes on.
"""
import json
import math
import os
import sys

import duckdb
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    try:  # NaT/NaN of any flavor
        if a != a and b != b:
            return True
    except (TypeError, ValueError):
        pass
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    return a == b


def host_memory_gib() -> int:
    """Half of MemTotal in whole GiB, clamped to 2-8 (2 if unreadable)."""
    try:
        with open("/proc/meminfo") as f:
            kib = next(int(line.split()[1]) for line in f
                       if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return 2
    return min(max(kib // 2097152, 2), 8)


def host_threads() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect(config={"memory_limit": f"{host_memory_gib()}GiB",
                                 "threads": host_threads()})
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    n_pass = n_fail = n_error = 0
    for name in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, name)
        if not os.path.isdir(path):
            continue
        got = canon(pd.read_parquet(path))
        if name not in oracle:
            print(f"[rows-only] {name}: rows={len(got)}")
            continue
        try:
            want = canon(con.sql(oracle[name]).df())
        except Exception as e:  # noqa: BLE001 - any failure names its row
            n_error += 1
            msg = (str(e).splitlines() or [type(e).__name__])[0]
            print(f"[ERROR] {name}: {msg}")
            continue
        ok = list(got.columns) == list(want.columns) and len(got) == len(want)
        detail = ""
        if not ok:
            detail = f"cols {list(got.columns)} vs {list(want.columns)}; rows {len(got)} vs {len(want)}"
        else:
            for c in got.columns:
                gv, wv = got[c].tolist(), want[c].tolist()
                bad = [(i, x, y) for i, (x, y) in enumerate(zip(gv, wv))
                       if not values_equal(x, y)]
                if bad:
                    ok = False
                    detail = f"col {c}: first diffs {bad[:3]}"
                    break
        if ok:
            n_pass += 1
            print(f"[PASS] {name} ({len(got)} rows)")
        else:
            n_fail += 1
            print(f"[FAIL] {name}: {detail}")
    print(f"== {n_pass} pass, {n_fail} fail, {n_error} error")
    sys.exit(1 if n_fail or n_error else 0)


if __name__ == "__main__":
    main()
