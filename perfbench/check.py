"""Compares query outputs with their DuckDB oracle SQL.

Same normalisation as the repository's `tools/check.py`: columns sorted
by name, rows sorted, floats to 9 significant digits, and the fetched
type class of every column must agree (an integer against a decimal or
a microsecond against a nanosecond timestamp is a mismatch).
"""
import hashlib
import math
import os

import duckdb

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
INT_TYPES = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT",
             "USMALLINT", "UINTEGER", "UBIGINT"}


def _cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return "0" if v == 0 else f"{v:.9g}"
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def _table(rel):
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted("|".join(_cell(r[i]) for i in order) for r in rel.fetchall())
    return [cols[i] for i in order], rows


def _type_class(t):
    t = str(t).upper()
    if t in INT_TYPES:
        return "INT"
    if t in ("HUGEINT", "UHUGEINT"):
        return "HUGEINT"
    if t in ("FLOAT", "DOUBLE"):
        return "FLOAT"
    if t.startswith("DECIMAL"):
        return "DECIMAL"
    return t


def _types(rel):
    return {c: _type_class(t) for c, t in zip(rel.columns, rel.types)}


def compare(data_dir, results_dir, oracle):
    """Yields (name, ok, detail, digest, rows) for every query with an
    oracle. The digest is over Spark's normalised output."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    for name in sorted(oracle):
        got_dir = os.path.join(results_dir, name)
        if not os.path.isdir(got_dir):
            yield name, False, "no output", "", -1
            continue
        got = con.sql(f"SELECT * FROM '{got_dir}/*.parquet'")
        gcols, grows = _table(got)
        digest = hashlib.sha256("\n".join(gcols + grows).encode()).hexdigest()[:16]
        try:
            want = con.sql(oracle[name])
            wcols, wrows = _table(want)
        except Exception as e:  # the oracle itself failing is a failed check
            yield name, False, f"oracle SQL failed: {e}", digest, len(grows)
            continue
        gt, wt = _types(got), _types(want)
        type_diff = {c: (gt.get(c), wt.get(c)) for c in set(gt) | set(wt) if gt.get(c) != wt.get(c)}
        if gcols != wcols:
            yield name, False, f"columns {gcols} vs {wcols}", digest, len(grows)
        elif type_diff:
            yield name, False, f"types differ {type_diff}", digest, len(grows)
        elif grows != wrows:
            first = next((i for i, (a, b) in enumerate(zip(grows, wrows)) if a != b),
                         min(len(grows), len(wrows)))
            yield name, False, (f"{len(grows)} vs {len(wrows)} rows; first difference: "
                                f"{grows[first:first + 1]} vs {wrows[first:first + 1]}"), digest, len(grows)
        else:
            yield name, True, f"{len(grows)} rows", digest, len(grows)
