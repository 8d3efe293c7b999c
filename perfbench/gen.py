"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives
byte-identical inputs, and the program under test only ever sees what
these functions write. Nothing here imports the engine.

- ``laygo_records``: dict records for the fluent-pipeline workload plus
  the mask of rows whose per-row map raises on purpose.
- ``documents`` / ``shard_of``: the text corpus of the curation
  workload, with planted exact and near duplicates, and its split into
  stream shards.
- ``tpch_tables`` / ``tpch_order``: the star schema the TPC-H-shaped
  queries read, and the seed-permuted order a pass runs them in (the
  TPC-H throughput-test convention).
"""

from __future__ import annotations

import datetime as _dt
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CATEGORIES = ("books", "games", "music", "tools", "garden", "sports")
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.15, 0.14, 0.14, 0.13)
VOCAB = (
    "the a of and to data query small row slow fast big stream filter sort "
    "merge spark part batch order vector scan group table line column key "
    "agg join window value hash customer index shard token model corpus text"
).split()


FAIL_SHARE = 0.02  # laygo rows whose per-row map raises
NEAR_DUP_SHARE = 0.12
EXACT_DUP_SHARE = 0.03


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per input kind, so resizing one input never
    shifts the values of another."""
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


# -- laygo_rows ---------------------------------------------------------------


def laygo_records(seed: int, n: int) -> tuple[list[dict], list[bool]]:
    """``n`` order-like dict records and the per-row failure mask.

    A masked row carries ``qty_raw="n/a"``, which the workload's per-row
    map cannot parse, so it raises there and is counted by the error
    handler; every other row carries a decimal string."""
    r = _rng(seed, "laygo")
    amount = np.round(r.uniform(1.0, 500.0, n), 2)
    qty = r.integers(1, 20, n)
    cat = r.integers(0, len(CATEGORIES), n)
    user = r.integers(0, 5000, n)
    fail = r.random(n) < FAIL_SHARE
    records = [
        {
            "id": i,
            "user": f"u{int(user[i]):05d}",
            "category": CATEGORIES[int(cat[i])],
            "amount": float(amount[i]),
            "qty_raw": "n/a" if fail[i] else str(int(qty[i])),
        }
        for i in range(n)
    ]
    return records, [bool(x) for x in fail]


# -- curation -----------------------------------------------------------------


def documents(seed: int, n: int) -> pa.Table:
    """(doc_id, text, lang, source, n_chars). A share of the docs copies
    an earlier doc exactly, and another share copies one with one or
    two words replaced, so exact and near-duplicate detection both have
    work to do."""
    r = _rng(seed, "documents")
    texts: list[str] = []
    for i in range(n):
        u = r.random()
        if i > 10 and u < EXACT_DUP_SHARE:
            texts.append(texts[int(r.integers(0, i))])
        elif i > 10 and u < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            words = texts[int(r.integers(0, i))].split(" ")
            for _ in range(int(r.integers(1, 3))):
                words[int(r.integers(0, len(words)))] = VOCAB[int(r.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        else:
            k = int(r.integers(8, 90))
            texts.append(" ".join(VOCAB[j] for j in r.integers(0, len(VOCAB), k)))
    langs = r.choice(len(LANGS), size=n, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in langs],
            "source": [f"src{i}" for i in r.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def shard_of(seed: int, n: int, k: int) -> np.ndarray:
    """Shard index per doc: half the corpus lands in shard 0 (the stored
    index is built from it); the rest spreads evenly over 1..k-1."""
    r = _rng(seed, "shards")
    return np.where(r.random(n) < 0.5, 0, r.integers(1, k, n))


def write_shards(table: pa.Table, shards: np.ndarray, k: int, out_dir: str) -> list[str]:
    """One parquet file per shard, with strictly increasing mtimes so a
    one-file-per-trigger stream reads them in shard order."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    base = _dt.datetime(2024, 1, 1).timestamp()
    for i in range(k):
        path = f"{out_dir}/shard-{i:03d}.parquet"
        pq.write_table(table.filter(pa.array(shards == i)), path)
        os.utime(path, (base + i, base + i))
        paths.append(path)
    return paths


# -- tpch_stream --------------------------------------------------------------

TPCH_TABLES = ("region", "nation", "supplier", "part", "customer", "orders", "lineitem")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
COLORS = ("blue", "red", "green", "cold", "small", "large", "dark", "pale")
NOUNS = ("anvil", "bolt", "gizmo", "ring", "widget", "gear", "spring")
_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in microseconds


def _money(r: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(r.uniform(lo, hi, n), 2)


def tpch_tables(seed: int, n_orders: int, out_dir: str) -> None:
    """The seven tables the TPC-H-shaped queries read, as
    ``<out_dir>/<table>.parquet`` with the column names and types of the
    repository's fixtures.

    Every price a query sums is a whole multiple of 100 and every
    discount and tax a whole percent, so each rounded aggregate is a
    sum of exact values: Spark and the DuckDB oracle then round to the
    same digits whatever order they add in."""
    r = _rng(seed, "tpch")
    n_supp, n_part, n_cust = max(10, n_orders // 150), max(50, n_orders // 15), max(30, n_orders // 10)
    os.makedirs(out_dir, exist_ok=True)
    i32 = pa.int32()

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), f"{out_dir}/{name}.parquet")

    write("region", {"r_regionkey": pa.array(range(5), i32), "r_name": list(REGIONS)})
    write(
        "nation",
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        },
    )
    # Suppliers 0 and 1 sit in the two nations Q7 ships between.
    supp_nation = np.concatenate([[1, 2], r.integers(0, 25, n_supp - 2)])
    write(
        "supplier",
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(supp_nation, i32),
            "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
        },
    )
    write(
        "part",
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{COLORS[c]} {NOUNS[k]}" for c, k in zip(r.integers(0, len(COLORS), n_part),
                                                                 r.integers(0, len(NOUNS), n_part))],
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
            "p_type": [PART_TYPES[t] for t in r.integers(0, len(PART_TYPES), n_part)],
            "p_size": pa.array(r.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + r.integers(0, 1000, n_part) / 10.0, 1),
        },
    )
    write(
        "customer",
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
            "c_mktsegment": [SEGMENTS[s] for s in r.integers(0, len(SEGMENTS), n_cust)],
        },
    )
    # A third of the customers never order (TPC-H's custkey % 3 rule).
    ordering = np.arange(n_cust)[np.arange(n_cust) % 3 != 0]
    order_day = r.integers(0, 4 * 365, n_orders)
    write(
        "orders",
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(r.choice(ordering, n_orders), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[s] for s in r.integers(0, 3, n_orders)],
            "o_totalprice": _money(r, 1000.0, 450_000.0, n_orders),
            "o_orderdate": pa.array(_EPOCH_1995 + order_day * _DAY_US, pa.timestamp("us")),
            "o_orderpriority": [PRIORITIES[p] for p in r.integers(0, len(PRIORITIES), n_orders)],
        },
    )
    lines = r.integers(1, 8, n_orders)
    n = int(lines.sum())
    orderkey = np.repeat(np.arange(n_orders), lines)
    linenumber = np.arange(n) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    ship_day = order_day[orderkey] + r.integers(1, 122, n)
    write(
        "lineitem",
        {
            "l_orderkey": pa.array(orderkey, pa.int64()),
            "l_partkey": pa.array(r.integers(0, n_part, n), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n_supp, n), pa.int64()),
            "l_linenumber": pa.array(linenumber, i32),
            "l_quantity": r.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": 100.0 * r.integers(10, 1000, n),
            "l_discount": r.integers(0, 11, n) / 100.0,
            "l_tax": r.integers(0, 9, n) / 100.0,
            "l_returnflag": [("A", "N", "R")[f] for f in r.integers(0, 3, n)],
            "l_linestatus": [("F", "O")[f] for f in r.integers(0, 2, n)],
            "l_shipdate": pa.array(_EPOCH_1995 + ship_day * _DAY_US, pa.timestamp("us")),
        },
    )


def tpch_order(seed: int, names: list[str]) -> list[str]:
    """The seed's permutation of the query names."""
    return [names[i] for i in _rng(seed, "tpch_order").permutation(len(names))]
