"""Seeded input generators for the benchmark.

Two input families, both written into a directory the benchmark owns:

- ``write_tables``: the star-schema + events + corpus parquet tables the
  declared queries read (same table names, column names and physical
  types as the package's test data), at a fixed size, from a numpy
  ``Generator`` seeded with ``seed``.
- ``write_lake_batches``: ``chase<dddd>.csv`` bank-export files for the
  ingest pipeline, from Python's ``random.Random(seed)``, plus the
  expected post-merge lake state (row count, key count, amount total)
  that the correctness check compares against.

The same seed always gives byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts (the package's sf0.01 test-data shape): large enough that
# every lane returns a non-trivial result, small enough that each
# DuckDB oracle stays well under a second.
TABLE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_EPOCH = dt.datetime(1970, 1, 1)
_DAY_US = 86_400_000_000


def _us(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal amounts in [lo, hi], as the bank/TPC-H data has."""
    cents = rng.integers(int(lo * 100), int(hi * 100) + 1, n)
    return np.round(cents / 100.0, 2)


def make_tables(seed: int) -> dict[str, pa.Table]:
    """Every table the benchmark lanes read, deterministically from ``seed``."""
    rng = np.random.default_rng(seed)
    n = TABLE_ROWS
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": [
                _SEGMENTS[i] for i in rng.integers(0, 5, n["customer"])
            ],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    partkeys = np.arange(n["part"])
    retail = np.round(900.0 + (partkeys % 1000) / 10.0, 2)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(partkeys, pa.int64()),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(
                    rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"])
                )
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
            "p_type": [_PART_TYPES[i] for i in rng.integers(0, 6, n["part"])],
            "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": retail,
        }
    )

    n_ord = n["orders"]
    first_day = _us(dt.datetime(1995, 1, 1)) // _DAY_US
    order_day = first_day + rng.integers(0, 2404, n_ord)  # to 2001-08-01
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n_ord), pa.int64()),
            "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts(order_day * _DAY_US),
            "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
        }
    )

    n_li = n["lineitem"]
    l_order = rng.integers(0, n_ord, n_li)
    l_part = rng.integers(0, n["part"], n_li)
    qty = rng.integers(1, 51, n_li).astype("float64")
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(l_part, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * retail[l_part], 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n_li)],
            "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n_li)],
            "l_shipdate": _ts(
                (order_day[l_order] + rng.integers(1, 122, n_li)) * _DAY_US
            ),
        }
    )

    n_ev = n["events"]
    ev_start = _us(dt.datetime(2024, 1, 1))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(ev_start + rng.integers(0, 30 * _DAY_US, n_ev)),
            "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
            "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
            "value": _money(rng, 0.01, 490.0, n_ev),
            "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
        }
    )

    texts: list[str] = []
    for _ in range(n["documents"]):
        words = [_WORDS[i] for i in rng.integers(0, len(_WORDS), rng.integers(10, 100))]
        # One document in ten repeats a 20-word passage of an earlier
        # one, so the substring-dedup and decontamination lanes find
        # real long matches, not only chance 4-gram overlaps.
        if texts and rng.random() < 0.1:
            donor = texts[int(rng.integers(0, len(texts)))].split()
            start = int(rng.integers(0, max(1, len(donor) - 20)))
            words[len(words) // 2 : len(words) // 2] = donor[start : start + 20]
        texts.append(" ".join(words))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n["documents"]), pa.int64()),
            "text": texts,
            "lang": [_LANGS[i] for i in rng.integers(0, 5, n["documents"])],
            "source": [f"src{i}" for i in rng.integers(0, 20, n["documents"])],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )

    n_vec = n["embeddings"]
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n_vec, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), pa.int64()),
            "embedding": pa.array(
                list(vecs.astype("float32")), pa.list_(pa.float32())
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_tables(out_dir: str, seed: int) -> None:
    """Write ``<out_dir>/<table>.parquet`` for every benchmark table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# -- lake ingest inputs ------------------------------------------------------

CSV_HEADER = (
    "Details,Posting Date,Description,Category,Amount,Type,Balance,"
    "Check or Slip #"
)
_DETAILS = ["DEBIT", "CREDIT", "CHECK", "DSLIP"]
_CATEGORIES = ["Shopping", "Groceries", "Travel", "Payment", "Bills", ""]
_TYPES = ["DEBIT_CARD", "ACH_DEBIT", "PAYMENT", "CHECK_PAID", "DEPOSIT"]

# Ingest batch shape: files per batch, rows per file, share of rows
# whose Amount does not parse (dropped by validation), share of rows
# that repeat an earlier row's key in the same file (merged to one).
LAKE_FILES = 2
LAKE_ROWS_PER_FILE = 2000
BAD_AMOUNT_FRAC = 0.01
DUP_KEY_FRAC = 0.005


@dataclass
class LakeExpectation:
    """What the lake must hold after batch 1 then batch 2 are merged:
    key -> amount in cents, for every key with a valid row."""

    amounts: dict[tuple, int] = field(default_factory=dict)
    rows_in: list[int] = field(default_factory=list)
    rows_valid: list[int] = field(default_factory=list)

    @property
    def keys(self) -> int:
        return len(self.amounts)

    @property
    def amount_cents(self) -> int:
        return sum(self.amounts.values())


def _row(rnd: random.Random, serial: int) -> list[str]:
    day = dt.date(2024, 1, 1) + dt.timedelta(days=rnd.randrange(366))
    return [
        rnd.choice(_DETAILS),
        day.strftime("%m/%d/%Y"),
        f"MERCHANT {rnd.randrange(1000):03d} REF {serial:08d}",
        rnd.choice(_CATEGORIES),
        f"{rnd.randrange(-500000, 500000) / 100:.2f}",
        rnd.choice(_TYPES),
        f"{rnd.randrange(0, 5000000) / 100:.2f}",
        "" if rnd.random() < 0.9 else str(rnd.randrange(1000, 9999)),
    ]


def _csv_line(fields: list[str]) -> str:
    return ",".join(f'"{f}"' if "," in f else f for f in fields)


def _batch_rows(
    rnd: random.Random, batch: int, prior: dict[str, list[list[str]]]
) -> dict[str, list[list[str]]]:
    """Rows per file for one batch. Batch 2 re-sends half of batch 1's
    rows per file with new amounts, then adds as many new keys."""
    files: dict[str, list[list[str]]] = {}
    for f in range(LAKE_FILES):
        name = f"chase{1001 + f:04d}.csv"
        rows: list[list[str]] = []
        if batch == 2:
            for old in prior[name][: LAKE_ROWS_PER_FILE // 2]:
                new = list(old)
                new[4] = f"{rnd.randrange(-500000, 500000) / 100:.2f}"
                rows.append(new)
        while len(rows) < LAKE_ROWS_PER_FILE:
            serial = batch * 10_000_000 + f * 100_000 + len(rows)
            row = _row(rnd, serial)
            if rows and rnd.random() < DUP_KEY_FRAC:
                # Same 5-key as an earlier row of this file, other amount.
                row[:3] = rnd.choice(rows)[:3]
            if rnd.random() < BAD_AMOUNT_FRAC:
                row[4] = rnd.choice(["N/A", "12.3.4", "abc"])
            rows.append(row)
        files[name] = rows
    return files


def _cents(amount: str) -> int | None:
    try:
        return round(float(amount) * 100)
    except ValueError:
        return None


def write_lake_batches(out_dir: str, seed: int) -> tuple[list[str], LakeExpectation]:
    """Write ``<out_dir>/batch1`` and ``<out_dir>/batch2`` CSV dirs.

    Returns the two dirs and the expected merged state. Within a batch
    a duplicated key keeps its largest amount (the merge orders
    same-key rows by their non-key fields, amount first, descending);
    batch 2 replaces batch 1 on every key it carries."""
    rnd = random.Random(seed)
    expect = LakeExpectation()
    dirs: list[str] = []
    prior: dict[str, list[list[str]]] = {}
    for batch in (1, 2):
        files = _batch_rows(rnd, batch, prior)
        bdir = os.path.join(out_dir, f"batch{batch}")
        os.makedirs(bdir, exist_ok=True)
        merged: dict[tuple, int] = {}
        valid = 0
        for name, rows in files.items():
            acct = name[5:9]
            with open(os.path.join(bdir, name), "w", newline="\n") as fh:
                fh.write(CSV_HEADER + "\n")
                for row in rows:
                    fh.write(_csv_line(row) + "\n")
            for row in rows:
                cents = _cents(row[4])
                if cents is None:
                    continue
                valid += 1
                key = (row[0], row[1], row[2], "chase", acct)
                merged[key] = max(cents, merged.get(key, cents))
        expect.amounts.update(merged)
        expect.rows_in.append(sum(len(r) for r in files.values()))
        expect.rows_valid.append(valid)
        dirs.append(bdir)
        prior = files
    return dirs, expect
