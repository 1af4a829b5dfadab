"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its arguments: the same seed gives
byte-identical inputs, so two runs with one seed measure the same work.
Nothing here touches Spark; the engine only ever sees the files written.

- ``write_star_schema``: the TPC-H-ish star schema plus ``events``, with
  the column names, types and value domains of the engine's test lake.
- ``emissions_drops``: EEA-shaped raw CSV drops for the ingest workload.
- ``dedup_corpus``: a document corpus with known exact and near-duplicate
  groups for the dedup workload.
"""

from __future__ import annotations

import csv
import datetime as dt
import os
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "red", "large", "small", "hot", "cold", "shiny", "old"]
PART_NOUN = ["anvil", "bolt", "ring", "widget", "gear", "spring", "valve", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
ORDER_EPOCH = dt.datetime(1995, 1, 1)
EVENT_EPOCH = dt.datetime(2024, 1, 1)

# Rows per scale factor 1.0 (the test lake's ratios).
BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "events": 1_000_000,
}
STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")


def _rng(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, stream), so adding a column to
    one table never shifts the values of another."""
    salt = int.from_bytes(stream.encode(), "little") % (2**63)
    return np.random.default_rng([seed, salt])


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _ts(epoch: dt.datetime, micros: np.ndarray) -> pa.Array:
    base = np.datetime64(epoch, "us")
    return pa.array(base + micros.astype("timedelta64[us]"), pa.timestamp("us"))


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The star schema and ``events`` at scale factor ``sf``."""
    n = {t: max(1, int(rows * sf)) for t, rows in BASE_ROWS.items()}
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    r = _rng(seed, "nation")
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(r.integers(0, 5, 25), pa.int32()),
        }
    )
    r = _rng(seed, "customer")
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": _names("Customer", nc),
            "c_nationkey": pa.array(r.integers(0, 25, nc), pa.int32()),
            "c_acctbal": np.round(r.uniform(-999.99, 9999.99, nc), 2),
            "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, nc)],
        }
    )
    r = _rng(seed, "supplier")
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": _names("Supplier", ns),
            "s_nationkey": pa.array(r.integers(0, 25, ns), pa.int32()),
            "s_acctbal": np.round(r.uniform(-999.99, 9999.99, ns), 2),
        }
    )
    r = _rng(seed, "part")
    npart = n["part"]
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    retail = np.round(900 + r.integers(0, 1000, npart) / 10, 2)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": names[r.integers(0, len(names), npart)],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[r.integers(0, 25, npart)],
            "p_type": np.array(PART_TYPES)[r.integers(0, 6, npart)],
            "p_size": pa.array(r.integers(1, 51, npart), pa.int32()),
            "p_retailprice": retail,
        }
    )
    r = _rng(seed, "orders")
    no = n["orders"]
    order_day = r.integers(0, 2405, no)
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(r.integers(0, nc, no), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, no)],
            "o_totalprice": np.round(r.uniform(1000.0, 500000.0, no), 2),
            "o_orderdate": _ts(ORDER_EPOCH, order_day * 86_400_000_000),
            "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, no)],
        }
    )
    r = _rng(seed, "lineitem")
    lines = r.integers(1, 8, no)  # 1..7 lines per order, mean 4
    l_order = np.repeat(np.arange(no), lines)
    l_num = _within(lines) + 1
    nl = len(l_order)
    l_part = r.integers(0, npart, nl)
    qty = r.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(l_part, pa.int64()),
            "l_suppkey": pa.array(r.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(l_num, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * retail[l_part] + r.uniform(0, 1, nl), 2),
            "l_discount": r.integers(0, 11, nl) / 100.0,
            "l_tax": r.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, nl)],
            "l_shipdate": _ts(
                ORDER_EPOCH, (order_day[l_order] + r.integers(1, 122, nl)) * 86_400_000_000
            ),
        }
    )
    r = _rng(seed, "events")
    ne = n["events"]
    users = max(1, int(15_000 * sf))
    ts = np.sort(r.integers(0, 30 * 86_400_000_000, ne))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _ts(EVENT_EPOCH, ts),
            "user_id": pa.array(r.integers(0, users, ne), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, ne)],
            "value": np.round(np.minimum(r.exponential(60.0, ne), 560.0), 2),
            "props": np.array([f'{{"k": {i}}}' for i in range(100)])[r.integers(0, 100, ne)],
        }
    )
    return out


def _within(counts: np.ndarray) -> np.ndarray:
    """0..k-1 for each group of size k, concatenated (vectorised)."""
    starts = np.repeat(np.cumsum(counts) - counts, counts)
    return np.arange(counts.sum()) - starts


def write_star_schema(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write ``{out_dir}/{table}.parquet`` for every star table; returns
    row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in star_tables(seed, sf).items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


# --- EEA-shaped raw drops ----------------------------------------------------

COUNTRY_CODES = [
    "AT", "BE", "BG", "HR", "CY", "CZ", "DK", "EE", "FI", "FR", "DE", "EL",
    "HU", "IS", "IE", "IT", "LV", "LT", "LU", "MT", "NL", "NO", "PL", "PT",
    "RO", "SK", "SI", "ES", "SE", "CH",
]
UNMAPPED_CODES = ["XX", "GB", "US"]
SCENARIOS = ["WEM", "WOM", "WAM"]
SECTORS = [
    "Energy",
    "Agriculture",
    "Waste",
    "Industrial Processes",
    "Land Use, Land-Use Change and Forestry",
]
# sub-sector codes widen the logical key space beyond the 5 headline
# sectors, so a run's drops of reference size never run out of new keys
CATEGORIES = [f"{s} {i:02d}" for s in SECTORS for i in range(40)]
YEARS = list(range(2015, 2051))
TOTAL_GAS = "Total GHG emissions (ktCO2e)"
OTHER_GASES = ["CO2", "CH4", "N2O"]
RAW_HEADER = [
    "CountryCode", "Year", "Scenario", "Category", "Gas", "Reported Value",
    "InventorySubmissionYear", "Notation",
]
# logical key of a cleaned row: (Country, Year, Scenario, Category); Gas
# and Unit are constant once the chain has filtered
N_KEYS = len(COUNTRY_CODES) * len(YEARS) * len(SCENARIOS) * len(CATEGORIES)


def _key_rows(keys: np.ndarray) -> list[list[str]]:
    """Raw rows for logical keys ``keys``: the key fields, the total gas,
    a placeholder value and the two extra columns."""
    k, cat = np.divmod(keys, len(CATEGORIES))
    k, scen = np.divmod(k, len(SCENARIOS))
    country, year = np.divmod(k, len(YEARS))
    cols = (
        np.array(COUNTRY_CODES)[country].tolist(),
        np.array(YEARS).astype(str)[year].tolist(),
        np.array(SCENARIOS)[scen].tolist(),
        np.array(CATEGORIES)[cat].tolist(),
    )
    notation = np.where(keys % 3 != 0, "E", "").tolist()
    return [[c, y, s, g, TOTAL_GAS, "1.00", "2023", n] for c, y, s, g, n in zip(*cols, notation)]


def emissions_drops(
    seed: int, n_drops: int, rows: int, revise_share: float, edge_share: float, stream: str = "drops"
) -> Iterator[list[list[str]]]:
    """Yield ``n_drops`` raw drops of ``rows`` valid rows each plus edge rows.

    Valid rows are key-unique within a drop; ``revise_share`` of each
    drop's keys (after the first) revise keys an earlier drop wrote, the
    rest are new keys.  ``edge_share`` * rows extra edge rows per drop are
    ones the cleaning chain must drop: a null (an empty CSV field) in a
    selected column, an unmapped country code, or a non-total gas.  Values
    are written with two decimals so CSV round-trips them exactly.
    Sequences with another ``stream`` name are independent of this one."""
    r = _rng(seed, stream)
    order = r.permutation(N_KEYS)
    fresh_at = 0
    for d in range(n_drops):
        n_rev = int(rows * revise_share) if d else 0
        n_new = rows - n_rev
        if fresh_at + n_new > N_KEYS:
            raise ValueError("key space exhausted; lower rows or n_drops")
        new_keys = order[fresh_at : fresh_at + n_new]
        old_keys = r.choice(order[:fresh_at], n_rev, replace=False) if n_rev else order[:0]
        fresh_at += n_new
        keys = np.concatenate([new_keys, old_keys])
        values = np.round(r.uniform(-500.0, 90_000.0, len(keys)), 2)
        out = _key_rows(keys)
        for row, v in zip(out, values.tolist()):
            row[5] = f"{v:.2f}"
        n_edge = int(rows * edge_share)
        edge = _key_rows(r.integers(0, N_KEYS, n_edge))
        blank = r.integers(0, 6, n_edge).tolist()
        for i, row in enumerate(edge):
            kind = i % 3
            if kind == 0:
                row[blank[i]] = ""
            elif kind == 1:
                row[0] = UNMAPPED_CODES[i % len(UNMAPPED_CODES)]
            else:
                row[4] = OTHER_GASES[i % len(OTHER_GASES)]
        out += edge
        yield [out[i] for i in r.permutation(len(out)).tolist()]


def write_csv(rows: list[list[str]], path: str) -> int:
    """Write one raw drop as a headed CSV; returns its size in bytes.  Name
    the file with a leading dot to stage it: a watching file source lists
    no dot-file, and ``os.replace`` onto a plain name lands it whole."""
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(RAW_HEADER)
        w.writerows(rows)
    return os.path.getsize(path)


def read_csv(path: str) -> list[list[str]]:
    """The rows of a drop written by :func:`write_csv`, header left out."""
    with open(path, newline="") as fh:
        return list(csv.reader(fh))[1:]


def apply_drop(state: dict[tuple, float], drop: list[list[str | None]]) -> tuple[int, int]:
    """Apply one raw drop to the reference model ``state`` (key ->
    ReportedValue): clean each row the way the engine's ETL does, then
    last write wins on the logical key.  Returns (rows kept, rows that
    revised a key already in ``state``)."""
    kept = revised = 0
    for row in drop:
        key_val = clean_row(row)
        if key_val is None:
            continue
        kept += 1
        revised += key_val[0] in state
        state[key_val[0]] = key_val[1]
    return kept, revised


def clean_row(row: list[str | None]) -> tuple[tuple, float] | None:
    """(key, value) of a raw row that survives cleaning, else None."""
    code, year, scen, cat, gas, value = row[:6]
    if None in (code, year, scen, cat, gas, value) or "" in (code, year, scen, cat, gas, value):
        return None
    if gas != TOTAL_GAS or code not in COUNTRY_CODES:
        return None
    return (code, int(year), scen, cat), float(value)


# --- dedup corpus ------------------------------------------------------------

# The engine's sf0.1 test lake `documents` table, measured: 5,000 docs
# whose text is 10 to 100 words drawn uniformly from these 31 words (no
# punctuation, digits or PII), `lang` en 41 % and zh, es, fr, de about
# 15 % each, `source` src0..src19 by doc_id, `n_chars` the text's length.
# Words are added to a text shorter than DOC_MIN_CHARS until it is not:
# corpus_prep's quality score then passes every document on its length
# term alone, so the documents it keeps are known without modelling it.
DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DOC_WORDS = (10, 100)
DOC_MIN_CHARS = 60
DOC_LANGS = {"en": 0.41, "zh": 0.15, "es": 0.15, "fr": 0.15, "de": 0.14}
# a near copy swaps two adjacent words and replaces one: about 10 of its
# 5-word shingles change, so from 60 words on its Jaccard similarity to
# the base stays near 0.7, above the LSH threshold of 0.5
NEAR_MIN_WORDS = 60


def dedup_corpus(
    seed: int, n_base: int, exact_copies: int, near_copies: int
) -> tuple[list[tuple[int, str, str]], dict[int, int], dict[int, int]]:
    """``n_base`` documents shaped like the sf0.1 ``documents`` table, plus
    one verbatim copy each of ``exact_copies`` of them and one near copy
    each of ``near_copies`` others with at least NEAR_MIN_WORDS words.

    Returns ``(docs, exact_of, near_of)`` where ``docs`` is (doc_id, text,
    lang) in seeded order, ``exact_of`` maps each verbatim copy to its base
    doc and ``near_of`` maps each near copy to its base doc — the ground
    truth."""
    r = _rng(seed, "corpus")
    vocab = np.array(DOC_VOCAB)
    lengths = r.integers(DOC_WORDS[0], DOC_WORDS[1] + 1, n_base)
    base = [vocab[r.integers(0, len(vocab), n)].tolist() for n in lengths]
    for words in base:
        while len(" ".join(words)) < DOC_MIN_CHARS:
            words.append(str(vocab[r.integers(0, len(vocab))]))
    langs = np.array(list(DOC_LANGS))[r.choice(len(DOC_LANGS), n_base, p=list(DOC_LANGS.values()))]
    docs = [(i, " ".join(w), str(lang)) for i, (w, lang) in enumerate(zip(base, langs))]
    perm = r.permutation(n_base).tolist()
    exact_bases = perm[:exact_copies]
    near_bases = [b for b in perm[exact_copies:] if len(base[b]) >= NEAR_MIN_WORDS][:near_copies]
    if len(exact_bases) < exact_copies or len(near_bases) < near_copies:
        raise ValueError("too few base documents for the copies asked")
    exact_of: dict[int, int] = {}
    near_of: dict[int, int] = {}
    for b in exact_bases:
        exact_of[len(docs)] = b
        docs.append((len(docs), docs[b][1], docs[b][2]))
    for b in near_bases:
        w = list(base[b])
        i = int(r.integers(0, len(w) - 1))
        w[i], w[i + 1] = w[i + 1], w[i]
        w[int(r.integers(0, len(w)))] = "edited"
        near_of[len(docs)] = b
        docs.append((len(docs), " ".join(w), docs[b][2]))
    order = r.permutation(len(docs))
    return [docs[i] for i in order], exact_of, near_of


def write_corpus(docs: list[tuple[int, str, str]], out_dir: str) -> None:
    """Write the corpus as ``{out_dir}/documents.parquet`` with the test
    lake's documents schema."""
    os.makedirs(out_dir, exist_ok=True)
    ids = [d for d, _, _ in docs]
    texts = [t for _, t, _ in docs]
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": texts,
            "lang": [lang for _, _, lang in docs],
            "source": [f"src{d % 20}" for d in ids],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    _write(table, os.path.join(out_dir, "documents.parquet"))
