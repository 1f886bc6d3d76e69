"""Result normalisation and digests shared by the answer generator and the
output check.

A result is normalised the way `tools/parity.py` does it: columns sorted by
name, every cell rendered as text (floats at full precision via `repr`, NaN
as "NaN"), rows sorted. The digest is a SHA-256 over that normal form.
"""
import glob
import hashlib
import json
import math
import os

import duckdb


def norm_cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def digest(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)
    payload = json.dumps([sorted(cols), out], separators=(",", ":"))
    return {"columns": sorted(cols), "rows": len(out),
            "sha256": hashlib.sha256(payload.encode()).hexdigest()}


def connect(data_dir=None):
    """An in-memory DuckDB in UTC, with a view per table of `data_dir`."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    if data_dir:
        for f in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
            t = os.path.basename(f)[:-len(".parquet")]
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{f}'")
    return con


def digest_query(con, sql):
    rel = con.sql(sql)
    return digest(list(rel.columns), rel.fetchall())
