"""Seeded fixture generator for the benchmark.

Two input sets, both a pure function of the seed:

* ``gen_lake``: the two tables the curation rows read, ``documents`` and
  ``embeddings``, with the column names and value domains of the engine's
  own test lake at its sf0.01 sizes, so every oracle-backed row runs
  unchanged on them.
* ``gen_wide``: the ``schema_build`` input, a wide raw lake of small Parquet
  tables spread over four raw schemas plus the YAML project directory
  (``schema_config.yml`` and friends) that ``Configs.loadFromDir`` reads.

Every table draws from its own random stream (keyed by seed and name), so
adding a table never shifts the values of another.
"""
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import yaml

# the engine's sf0.01 test-lake sizes of the two tables the curation rows read
LAKE_ROWS = {"documents": 500, "embeddings": 500}
LAKE_TABLES = list(LAKE_ROWS)

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()


def rng_for(seed, name):
    return np.random.default_rng([seed, zlib.crc32(name.encode())])


def write_table(path, table):
    pq.write_table(table, path, compression="snappy")


def _days(rng, n, start, end):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = rng.integers(0, (hi - lo).astype(int) + 1, n)
    return (lo + d).astype("datetime64[us]")


def _lake_tables(seed):
    g = rng_for(seed, "embeddings")
    k = LAKE_ROWS["embeddings"]
    x = g.standard_normal((k, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return {
        "documents": _documents(rng_for(seed, "documents"), LAKE_ROWS["documents"]),
        "embeddings": pa.table({
            "vec_id": np.arange(k, dtype=np.int64),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(g.integers(0, 10, k).astype(np.int32))}),
    }


def _documents(g, k):
    """Random-word documents; one in twenty is a near-duplicate of an earlier
    document (its text plus a trailing ``dup`` token), which gives the dedup,
    winnow and line-dedup rows real pairs to find."""
    words = np.array(WORDS)
    near_dups = set(g.choice(np.arange(20, k), k // 20, replace=False).tolist())
    texts = []
    for i in range(k):
        if i in near_dups:
            texts.append(texts[int(g.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[g.integers(0, len(words), int(g.integers(10, 101)))]))
    langs = np.array(["de", "en", "es", "fr", "zh"])[
        g.choice(5, k, p=[0.15, 0.40, 0.15, 0.15, 0.15])]
    return pa.table({
        "doc_id": np.arange(k, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})


def gen_lake(seed, out):
    """Write the lake tables as ``<out>/<table>.parquet``."""
    os.makedirs(out, exist_ok=True)
    for name, table in _lake_tables(seed).items():
        write_table(os.path.join(out, f"{name}.parquet"), table)


# ----------------------------------------------------------------- wide lake

SCHEMA_WORDS = ["AUTH", "COURSEWARE", "ECOMMERCE", "GRADES", "FORUM", "VIDEO",
                "CERTS", "ENROLL", "PROCTOR", "BADGES"]
TABLE_WORDS = ["USER", "COURSE", "ENROLLMENT", "PROFILE", "ORDER_LINE", "PAYMENT",
               "GRADE", "THREAD", "POST", "VIDEO", "CERT", "BADGE", "SESSION", "TOKEN",
               "AUDIT", "ITEM", "SECTION", "UNIT", "BLOCK", "CHAPTER", "TEAM", "CART"]
TABLE_SUFFIXES = ["", "_HISTORY", "_META", "_LOG", "_MAP", "_STATE", "_V2", "_ARCHIVE",
                  "_DETAIL", "_SNAPSHOT", "_STAGING", "_EXT"]
# names that collide with reserved SQL words (aliased `_NAME` / quoted)
KEYWORD_TABLES = ["ORDER", "START", "TABLE", "GROUP", "SCHEMA", "VIEW"]
KEYWORD_COLUMNS = ["ORDER", "START", "TABLE", "GROUP", "SCHEMA", "COLUMN", "VALUES"]
COLUMN_WORDS = ["ID", "NAME", "EMAIL", "USERNAME", "YEAR_OF_BIRTH", "CREATED", "MODIFIED",
                "STATUS", "COUNT", "SCORE", "PRICE", "COURSE_ID", "USER_ID", "COUNTRY",
                "LEVEL", "GENDER", "TITLE", "BODY", "URL", "TYPE", "KIND", "VERSION"]
BANNED_COLUMNS = ["PASSWORD", "SSN"]
SOFT_DELETE_COLUMN = "DELETED_AT"
REDACTION_LITERALS = {"EMAIL": "'redacted@edx.invalid'", "USERNAME": "'<redacted>'",
                      "YEAR_OF_BIRTH": 1900, "NAME": "'<redacted>'"}
# Every raw schema holds one table of each width, a fixed number of them
# carrying a keyword-colliding, a banned or the soft-delete column; the seed
# decides names and which table gets which width and extra. The work a build
# does therefore stays nearly the same from seed to seed.
WIDTHS = [3, 5, 8, 12, 17, 24, 32, 42, 55, 70, 90, 120]
EXTRAS = {"keyword": 4, "banned": 2, "soft_delete": 5}
N_WIDE_TABLES = 4 * len(WIDTHS)


def wide_catalog(seed):
    """The wide lake's catalog: ``{schema: {table: [columns]}}``, insertion
    ordered, a pure function of ``seed``."""
    g = rng_for(seed, "wide-catalog")
    schemas = [str(s) for s in g.choice(SCHEMA_WORDS, 4, replace=False)]
    names = iter(str(n) for n in g.permutation(
        [f"{w}{x}" for w in TABLE_WORDS for x in TABLE_SUFFIXES]))
    pool = COLUMN_WORDS[1:] + [f"ATTR_{k}" for k in range(max(WIDTHS))]
    catalog = {}
    for i, s in enumerate(schemas):
        tables = [str(t) for t in g.choice(KEYWORD_TABLES, 2, replace=False)]
        if i == 0:  # matched by an unmanaged-table regex
            tables.append("TMP_SCRATCH")
        while len(tables) < len(WIDTHS):
            tables.append(next(names))
        extra = {k: set(g.choice(len(tables), n, replace=False)) for k, n in EXTRAS.items()}
        catalog[s] = {}
        for j, (t, width) in enumerate(zip(tables, g.permutation(WIDTHS))):
            cols = ["ID"] + [str(c) for c in g.choice(pool, int(width) - 1, replace=False)]
            if j in extra["keyword"]:
                cols[int(g.integers(1, len(cols)))] = str(g.choice(KEYWORD_COLUMNS))
            if j in extra["banned"]:
                cols.append(str(g.choice(BANNED_COLUMNS)))
            if j in extra["soft_delete"]:
                cols.append(SOFT_DELETE_COLUMN)
            catalog[s][t] = list(dict.fromkeys(cols))
    return catalog


def _wide_table(g, cols, rows):
    data = {}
    for c in cols:
        if c == SOFT_DELETE_COLUMN:
            v = _days(g, rows, "2020-01-01", "2024-01-01")
            mask = g.random(rows) < 0.5
            data[c] = pa.array(v, pa.timestamp("us"), mask=mask)
        elif c.endswith("ID") or c in ("COUNT", "LEVEL", "VERSION", "YEAR_OF_BIRTH"):
            data[c] = g.integers(0, 10_000, rows).astype(np.int64)
        elif c in ("SCORE", "PRICE") or (c.startswith("ATTR_") and zlib.crc32(c.encode()) % 3 == 0):
            data[c] = np.round(g.uniform(0, 100, rows), 3)
        elif c in ("CREATED", "MODIFIED"):
            data[c] = pa.array(_days(g, rows, "2015-01-01", "2024-01-01"), pa.timestamp("us"))
        else:
            data[c] = [f"{c.lower()}_{v}" for v in g.integers(0, 1000, rows)]
    return pa.table(data)


def wide_config(seed, catalog):
    """The YAML project dir's documents (A.1-A.7 rule mix), as Python data."""
    g = rng_for(seed, "wide-config")
    s = list(catalog)
    tables = {k: list(v) for k, v in catalog.items()}

    def pick(schema, n):
        """``n`` tables spread over the schema's widths: one from each of
        ``n`` width-sorted groups."""
        by_width = sorted(tables[schema], key=lambda t: len(catalog[schema][t]))
        return sorted(str(grp[int(g.integers(0, len(grp)))])
                      for grp in np.array_split(np.array(by_width, dtype=object), n))

    schema_config = {
        "PROD.LMS": {f"RAW.{s[0]}": {"EXCLUDE": pick(s[0], 3),
                                     "SOFT_DELETE": {SOFT_DELETE_COLUMN: "IS NULL"}}},
        "PROD.ECOM": {f"RAW.{s[1]}": {"INCLUDE": pick(s[1], 8)}},
        "PROD.STG": {f"RAW.{s[2]}": {"PREFIX": "STG",
                                     "SOFT_DELETE": {SOFT_DELETE_COLUMN: "IS NULL"}}},
        "PROD.ANALYTICS": {f"RAW.{s[3]}": {},
                           f"RAW.{s[1]}": {"EXCLUDE": pick(s[1], 3)}},
        "PROD.REPORTING": {f"RAW.{s[0]}": {"INCLUDE": pick(s[0], 6),
                                           "SOFT_DELETE": {SOFT_DELETE_COLUMN: "IS NULL"}}},
        "PROD.ARCHIVE": {f"RAW.{s[2]}": {"EXCLUDE": pick(s[2], 4)},
                         f"RAW.{s[3]}": {"INCLUDE": pick(s[3], 5), "PREFIX": "ARC"}},
    }
    redactions = {}
    for app, srcs in schema_config.items():
        app_name = app.split(".")[1]
        for src, opts in srcs.items():
            schema = src.split(".")[1]
            for t, cols in catalog[schema].items():
                red = {c: REDACTION_LITERALS[c] for c in cols if c in REDACTION_LITERALS}
                if red and g.random() < 0.6:
                    alias = alias_of(t, opts.get("PREFIX"))
                    redactions[f"{app_name}.{alias}"] = red
    allow = []
    for app, srcs in schema_config.items():
        app_name = app.split(".")[1]
        for src, opts in srcs.items():
            for t in catalog[src.split(".")[1]]:
                if g.random() < 0.7:
                    allow.append(f"{app_name}.{alias_of(t, opts.get('PREFIX'))}")
    return {
        "schema_config.yml": schema_config,
        "redactions.yml": redactions,
        "banned_column_names.yml": list(BANNED_COLUMNS),
        "unmanaged_tables.yml": ["LMS.TMP_.*", "REPORTING.TMP_.*",
                                 f"ANALYTICS.{median_width_table(catalog[s[3]])}"],
        "downstream_sources_allow_list.yml": sorted(set(allow)),
    }


def median_width_table(tables):
    return sorted(tables, key=lambda t: len(tables[t]))[len(tables) // 2]


def alias_of(table, prefix):
    """Relation alias rule (keyword -> ``_NAME``, prefix -> ``PREFIX_NAME``)."""
    if prefix:
        return f"{prefix}_{table}"
    return f"_{table}" if table in KEYWORD_TABLES else table


def gen_wide(seed, out):
    """Write ``<out>/raw/<SCHEMA>/<TABLE>.parquet`` and ``<out>/project/*.yml``."""
    catalog = wide_catalog(seed)
    g = rng_for(seed, "wide-rows")
    for schema, tables in catalog.items():
        d = os.path.join(out, "raw", schema)
        os.makedirs(d, exist_ok=True)
        for t, cols in tables.items():
            write_table(os.path.join(d, f"{t}.parquet"),
                        _wide_table(g, cols, int(g.integers(2, 6))))
    proj = os.path.join(out, "project")
    os.makedirs(proj, exist_ok=True)
    for name, text in project_files(seed, catalog).items():
        with open(os.path.join(proj, name), "w") as f:
            f.write(text)
    return catalog


def project_files(seed, catalog):
    """The project dir's YAML files as ``{file name: text}``."""
    return {name: yaml.safe_dump(doc, sort_keys=False, default_flow_style=False)
            for name, doc in wide_config(seed, catalog).items()}
