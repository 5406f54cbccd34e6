"""Output checks: engine-neutral result fingerprints and DuckDB oracles.

A result is fingerprinted as the MD5 of its rows in order, one line per
row, cells tab-separated in the canonical text `Harness.cell` (Scala)
produces: doubles by their IEEE-754 bits, timestamps as UTC epoch
microseconds, NULL as \\N. Two engines agree only if every value is
bit-identical.
"""
import datetime
import decimal
import glob
import hashlib
import os
import struct

import duckdb

_EPOCH = datetime.datetime(1970, 1, 1)


def cell(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return "d:%016x" % struct.unpack("<Q", struct.pack("<d", v))[0]
    if isinstance(v, str):
        return v.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - _EPOCH
        return "t:%d" % ((d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds)
    if isinstance(v, datetime.date):
        return "date:" + v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "(" + ",".join(cell(x) for x in v.values()) + ")"
    return str(v)


def fingerprint(rows):
    text = "\n".join("\t".join(cell(c) for c in row) for row in rows)
    return hashlib.md5(text.encode("utf-8")).hexdigest()


def connect(data_dir):
    """DuckDB connection with every table of `data_dir` as a view."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return con


def oracle_hash(con, sql, sort_rows=False):
    """Fingerprint of the oracle result; `sort_rows` orders it by every
    column (for results read back from unordered part files)."""
    if sort_rows:
        sql = f"SELECT * FROM ({sql}) ORDER BY ALL"
    return fingerprint(con.execute(sql).fetchall())


def parquet_hash(con, path):
    """Fingerprint of a written parquet directory, rows ordered by every
    column."""
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet output in {path}")
    lst = ", ".join(f"'{f}'" for f in files)
    return fingerprint(con.execute(
        f"SELECT * FROM read_parquet([{lst}]) ORDER BY ALL").fetchall())


def pairs_found(con, path, planted):
    """How many planted (source, duplicate) pairs appear in an LSH output."""
    if not planted:
        return 0
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return 0
    lst = ", ".join(f"'{f}'" for f in files)
    got = set(map(tuple, con.execute(
        f"SELECT doc_a, doc_b FROM read_parquet([{lst}])").fetchall()))
    return sum(1 for a, b in planted if (min(a, b), max(a, b)) in got)
