"""Independent references and output checks.

flagship_etl is checked against the generator's own ground truth (no
Spark involved). warehouse_queries and curation are checked against the
DuckDB twins of the queries (`SparkEntry.oracleSql`), with the rules of
tools/check_oracle.py: columns sorted by name, identical dtypes and row
counts, floats compared at 9 digits, and row order where it is defined.
"""
import csv
import glob
import json
import math
import os
from collections import Counter

import duckdb

DIACRITICS = {chr(c) for c in range(0x064B, 0x0653)}
TABLES = "region nation customer supplier part orders lineitem events documents".split()


# ----------------------------------------------------------- flagship_etl

def flagship_reference(truth_path):
    """Multiset of expected output rows, from the generator's truth.

    Row = (word[:255], word_len, word_truncated, file_path, words_count):
    one per distinct word of a file; word_len counts the word without
    tashkeel; file_path keeps the path's last four segments.
    """
    with open(truth_path, encoding="utf-8") as f:
        truth = json.load(f)
    rows = Counter()
    for rel, (n_tokens, words) in truth.items():
        path = "/".join(rel.split("/")[-4:])[:270]
        for w in words:
            rows[(w[:255], str(len([c for c in w if c not in DIACRITICS])),
                  str(int(len(w) > 255)), path, str(n_tokens))] += 1
    return rows, len(truth)


def read_flagship_csv(out_dir):
    rows = Counter()
    parts = sorted(glob.glob(os.path.join(out_dir, "part-*.csv")))
    for p in parts:
        with open(p, encoding="utf-8", newline="") as f:
            r = csv.reader(f, delimiter=";")
            header = next(r, None)
            if header != ["word", "word_len", "word_truncated", "file_path", "words_count"]:
                raise ValueError(f"{p}: unexpected header {header}")
            rows.update(tuple(row) for row in r)
    if not parts:
        raise ValueError(f"no CSV parts under {out_dir}")
    return rows


def check_flagship(got, want):
    """Returns a list of problems; empty when the output matches."""
    if got == want:
        return []
    missing = want - got
    extra = got - want
    return [f"flagship_etl: {sum(missing.values())} expected rows missing, "
            f"{sum(extra.values())} unexpected, e.g. missing {list(missing)[:1]} extra {list(extra)[:1]}"]


# ------------------------------------------------ DuckDB-checked workloads

def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    return repr(v)


def connect(input_dir):
    con = duckdb.connect()
    con.sql(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in TABLES:
        p = os.path.join(input_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def oracle_frames(input_dir, oracle_sql, names):
    """DuckDB reference result for each named query, as pandas frames."""
    con = connect(input_dir)
    return {n: con.sql(oracle_sql[n]).df() for n in names}


def compare_frames(name, got, want, ordered=True):
    """check_oracle.py's comparison; returns a list of problems."""
    got = got.reindex(sorted(got.columns), axis=1)
    want = want.reindex(sorted(want.columns), axis=1)
    if list(got.columns) != list(want.columns):
        return [f"{name}: columns {list(got.columns)} != {list(want.columns)}"]
    gd, wd = list(map(str, got.dtypes)), list(map(str, want.dtypes))
    if gd != wd:
        return [f"{name}: dtypes {gd} != {wd}"]
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, expected {len(want)}"]
    g = [tuple(_norm(v) for v in row) for row in got.itertuples(index=False)]
    w = [tuple(_norm(v) for v in row) for row in want.itertuples(index=False)]
    if sorted(g) != sorted(w):
        diff = [(a, b) for a, b in zip(sorted(g), sorted(w)) if a != b][:2]
        return [f"{name}: values differ, e.g. {diff}"]
    if ordered and g != w:
        return [f"{name}: row order differs (values match unordered)"]
    return []


def read_parquet_dir(path):
    if not glob.glob(os.path.join(path, "*.parquet")):
        raise ValueError(f"no parquet output under {path}")
    return duckdb.sql(f"SELECT * FROM '{path}/*.parquet'").df()
