"""Correctness checks on a run's outputs, independent of the engine's code.

* Query rows: each row's result (written by the JVM as JSON lines, see
  ``Canon.scala``) against DuckDB running the row's ``SparkEntry.oracleSql``
  on the same Parquet lake, canonicalised the way ``tools/compare.py`` does
  (columns sorted by name, rows sorted, floats compared with a relative
  tolerance of 1e-9).
* ``schema_build``: the generated ``.sql`` file set, soft-delete WHERE
  clauses and redaction literals, recomputed from the seeded catalog and
  project config.
"""
import datetime
import decimal
import json
import math
import os
import re

import duckdb
import yaml

import gen

EPOCH = datetime.datetime(1970, 1, 1)


def canon_value(v):
    """DuckDB value -> the canonical form ``Canon.scala`` writes."""
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds
    if isinstance(v, datetime.date):
        return (v - EPOCH.date()).days * 86400 * 1_000_000
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, list):
        return [canon_value(x) for x in v]
    if isinstance(v, dict):
        if set(v) == {"key", "value"} and isinstance(v["key"], list):
            pairs = [[canon_value(k), canon_value(x)] for k, x in zip(v["key"], v["value"])]
            return sorted(pairs, key=lambda p: json.dumps(p[0]))
        return {k: canon_value(x) for k, x in v.items()}
    return v


def values_equal(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(values_equal(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(values_equal(a[k], b[k]) for k in a)
    return a == b


def _sort_key(v):
    if v is None:
        return (0, "")
    if isinstance(v, bool):
        return (1, str(v))
    if isinstance(v, (int, float)):
        return (2, float(f"{v:.10g}"))
    return (3, json.dumps(v, sort_keys=True))


def canon_table(columns, rows):
    """Columns sorted by name, rows sorted by every column (compare.py)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    rows = [[r[i] for i in order] for r in rows]
    rows.sort(key=lambda r: [_sort_key(v) for v in r])
    return [columns[i] for i in order], rows


def compare(got_cols, got_rows, want_cols, want_rows):
    """None when equal, else a one-line description of the first difference."""
    gc, gr = canon_table(got_cols, got_rows)
    wc, wr = canon_table(want_cols, want_rows)
    if gc != wc:
        return f"columns {gc} vs {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows vs {len(wr)}"
    for n, (x, y) in enumerate(zip(gr, wr)):
        for c, a, b in zip(gc, x, y):
            if not values_equal(a, b):
                return f"row {n} column {c}: {a!r} vs {b!r}"
    return None


def check_rows(verify_dir, lake_dir):
    """Compare every ``<row>.jsonl`` with its oracle; returns failures."""
    oracle = json.load(open(os.path.join(verify_dir, "oracle.json")))
    con = duckdb.connect()
    for t in gen.LAKE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(lake_dir, t + '.parquet')}')")
    failures = []
    for row, sql in sorted(oracle.items()):
        path = os.path.join(verify_dir, f"{row}.jsonl")
        if not os.path.exists(path):
            failures.append(f"{row}: no result")
            continue
        with open(path) as f:
            got_cols = json.loads(f.readline())
            got_rows = [json.loads(line) for line in f]
        cur = con.execute(sql)
        want_cols = [d[0] for d in cur.description]
        want_rows = [[canon_value(v) for v in r] for r in cur.fetchall()]
        diff = compare(got_cols, got_rows, want_cols, want_rows)
        if diff:
            failures.append(f"{row}: {diff}")
    con.close()
    return failures


# ------------------------------------------------------------- schema_build

def expected_models(catalog, config):
    """``{path relative to the output root: expected SQL facts}`` for every
    model file the engine must write (reference semantics: include/exclude,
    banned columns, keyword and prefix aliasing, unmanaged regexes)."""
    unmanaged = config["unmanaged_tables.yml"]
    banned = set(config["banned_column_names.yml"])
    redactions = config["redactions.yml"]
    out = {}
    for dest, sources in config["schema_config.yml"].items():
        db, app = dest.split(".")
        for src, opts in sources.items():
            schema = src.split(".")[1]
            tables = catalog[schema]
            names = sorted(tables)
            if opts.get("INCLUDE"):
                names = [t for t in names if t in opts["INCLUDE"]]
            if opts.get("EXCLUDE"):
                names = [t for t in names if t not in opts["EXCLUDE"]]
            sd_col, sd_pred = next(iter(opts["SOFT_DELETE"].items())) \
                if opts.get("SOFT_DELETE") else (None, None)
            for t in names:
                alias = gen.alias_of(t, opts.get("PREFIX"))
                if any(re.search(u + "$", f"{app}.{alias}") for u in unmanaged):
                    continue
                cols = [c for c in tables[t] if c not in banned]
                soft = sd_col is not None and any(c.upper() == sd_col.upper() for c in cols)
                red = redactions.get(f"{app}.{alias}", {})
                facts = {"where": f"WHERE {sd_col} {sd_pred}" if soft else None,
                         "redacted": {c: str(v) for c, v in red.items() if c in cols}}
                out[os.path.join(db, app, app, f"{app}_{alias}.sql")] = facts
                out[os.path.join(db, app, f"{app}_PII", f"{app}_PII_{alias}.sql")] = dict(
                    facts, redacted={})
    return out


def check_wide(seed, wide_dir, out_root):
    """Check the model files under ``out_root`` against the seeded inputs."""
    catalog = gen.wide_catalog(seed)
    config = {}
    for name in os.listdir(os.path.join(wide_dir, "project")):
        with open(os.path.join(wide_dir, "project", name)) as f:
            config[name] = yaml.safe_load(f)
    want = expected_models(catalog, config)
    got = set()
    for root, _, files in os.walk(out_root):
        for f in files:
            if f.endswith(".sql"):
                got.add(os.path.relpath(os.path.join(root, f), out_root))
    failures = []
    if got != set(want):
        failures.append(f".sql file set: missing {sorted(set(want) - got)[:3]}, "
                        f"unexpected {sorted(got - set(want))[:3]}")
    for path in sorted(got & set(want)):
        text = open(os.path.join(out_root, path)).read()
        facts = want[path]
        has_where = "\nWHERE " in text
        if has_where != bool(facts["where"]) or (facts["where"] and facts["where"] not in text):
            failures.append(f"{path}: soft-delete WHERE expected {facts['where']!r}")
        for col, lit in facts["redacted"].items():
            if f"  {lit} as {col}" not in text:
                failures.append(f"{path}: {col} not redacted to {lit}")
        if path.split(os.sep)[2].endswith("_PII") and " as " in text:
            failures.append(f"{path}: PII model carries a redaction")
    return failures
