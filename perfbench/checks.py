"""Correctness checks, run outside the timed regions.

The result hash is order-insensitive and column-order-insensitive:
columns are sorted by name, cells rendered canonically (floats to 12
significant digits, NaN and booleans spelled one way), rows sorted, then
the whole is hashed with the row count and the column names."""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math


def cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.12g}"
    if isinstance(v, decimal.Decimal):
        return f"{float(v):.12g}"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    return str(v)


def result_hash(columns: list[str], rows) -> str:
    """Hash of a result set that ignores row order and column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(cell(row[i]) for i in order) for row in rows)
    h = hashlib.sha256()
    h.update(("\x1f".join(columns[i] for i in order) + f"\n{len(lines)}\n").encode())
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def spark_hash(df) -> str:
    return result_hash(df.columns, [tuple(r) for r in df.collect()])


def duck_hash(con, sql: str) -> str:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return result_hash(cols, cur.fetchall())


def keyed_rows_match(table, key: list[str], value: str, expect: dict, constant: dict) -> bool:
    """Whether the Arrow ``table`` holds exactly one row per key of
    ``expect`` (a tuple of the ``key`` columns), with that key's value in
    column ``value``, and only ``constant``'s value in each of its
    columns.  Values compare exactly."""
    cols = table.to_pydict()
    keys = list(zip(*(cols[c] for c in key)))
    got = dict(zip(keys, cols[value]))
    same_constants = all(set(cols[c]) <= {v} for c, v in constant.items())
    return len(got) == len(keys) and got == expect and same_constants


def pair_quality(found: set[tuple[int, int]], truth: set[tuple[int, int]]) -> tuple[float, float]:
    """(precision, recall) of found pairs against ground-truth pairs; each
    pair is (smaller id, larger id).  An empty ``found`` has precision 1."""
    hit = len(found & truth)
    precision = hit / len(found) if found else 1.0
    recall = hit / len(truth) if truth else 1.0
    return precision, recall
