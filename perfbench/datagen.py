"""Seeded generators for the benchmark's table inputs.

``write_catalog_tables`` writes the ten catalog tables the analytics queries
read (``region nation customer supplier part orders lineitem events documents
embeddings``) with the same column names, physical types and value domains
as the engine's TPC-H-style test fixtures: one parquet file per table, one
row group, naive microsecond timestamps.

Everything is a pure function of the seed, so the same ``--seed`` always
yields byte-identical inputs.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "hot", "large", "new", "red", "small", "steel", "green",
            "cold", "tiny", "bright", "old", "dark"]
PART_NOUN = ["anvil", "bolt", "plate", "ring", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = ("a the spark scan sort hash join group agg filter key value row column "
         "table query data stream window order part line customer batch merge "
         "vector fast slow big small").split()

_DAY_US = 86_400 * 1_000_000


def _epoch_us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def _days(rng: np.random.Generator, n: int, lo: str, hi: str) -> pa.Array:
    """Midnight timestamps drawn uniformly from [lo, hi]."""
    a, b = _epoch_us(lo) // _DAY_US, _epoch_us(hi) // _DAY_US
    us = rng.integers(a, b + 1, n, dtype=np.int64) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _pick(rng: np.random.Generator, choices: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(choices), n, p=p)
    return pa.array(choices).take(pa.array(idx))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table: pa.Table, path: Path) -> None:
    pq.write_table(table, path, compression="snappy", row_group_size=max(table.num_rows, 1))


LINEITEM_ORDER = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                  "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                  "l_returnflag", "l_linestatus", "l_shipdate"]
FLAG_CODES = {"l_returnflag": ["A", "N", "R"], "l_linestatus": ["F", "O"]}


def _lineitem_values(rng: np.random.Generator, n: int, n_part: int,
                     n_supp: int) -> dict[str, np.ndarray]:
    """The non-key lineitem columns as numpy arrays: flags as indexes into
    ``FLAG_CODES``, ship dates as epoch microseconds."""
    return {
        "l_partkey": rng.integers(0, n_part, n, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n, dtype=np.int64),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.integers(0, 3, n).astype(np.int8),
        "l_linestatus": rng.integers(0, 2, n).astype(np.int8),
        "l_shipdate": rng.integers(_epoch_us("1995-01-02") // _DAY_US,
                                   _epoch_us("2001-11-04") // _DAY_US + 1, n) * _DAY_US,
    }


def lineitem_arrow(cols: dict[str, np.ndarray]) -> pa.Table:
    """Arrow table of numpy lineitem columns."""
    arrays = {}
    for c in LINEITEM_ORDER:
        v = cols[c]
        if c in FLAG_CODES:
            arrays[c] = pa.array(FLAG_CODES[c]).take(pa.array(v.astype(np.int32)))
        elif c == "l_shipdate":
            arrays[c] = pa.array(v, pa.timestamp("us"))
        else:
            arrays[c] = pa.array(v)
    return pa.table(arrays)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(VOCAB)
    zipf = 1.0 / np.arange(1, len(VOCAB) + 1) ** 0.6
    zipf /= zipf.sum()
    texts = []
    for _ in range(n):
        k = int(rng.integers(8, 100))
        texts.append(" ".join(vocab[rng.choice(len(VOCAB), k, p=zipf)]))
    # a few exact duplicates, as crawled corpora have
    for i in rng.choice(n, max(n // 600, 1), replace=False):
        texts[int(i)] = texts[int(rng.integers(0, n))]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": _pick(rng, [f"src{i}" for i in range(20)], n),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def write_catalog_tables(out: Path, sf: float, seed: int) -> dict[str, int]:
    """Write the ten catalog tables at scale factor ``sf``; returns row counts."""
    rng = np.random.default_rng([seed, 7])
    out.mkdir(parents=True, exist_ok=True)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 100)
    n_ord = max(int(1_500_000 * sf), 500)
    n_line = max(int(6_000_000 * sf), 2000)
    n_ev = max(int(1_000_000 * sf), 1000)
    n_doc = max(int(50_000 * sf), 200)
    n_vec = 2000 if sf >= 0.01 else 200
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99)),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0),
    })
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500000.0)),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    cols = _lineitem_values(rng, n_line, n_part, n_supp)
    cols["l_orderkey"] = rng.integers(0, n_ord, n_line, dtype=np.int64)
    cols["l_linenumber"] = rng.integers(1, 8, n_line).astype(np.int32)
    tables["lineitem"] = lineitem_arrow(cols)
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev)) + _epoch_us("2024-01-01")
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(int(15_000 * sf), 20), n_ev, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": pa.array(np.round(rng.exponential(40.0, n_ev), 2)),
        "props": _pick(rng, [f'{{"k": {i}}}' for i in range(100)], n_ev),
    })
    tables["documents"] = _documents(rng, n_doc)
    emb = (rng.standard_normal((n_vec, 64)) * 0.12).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), 64).cast(
            pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec).astype(np.int32)),
    })
    for name, table in tables.items():
        _write(table, out / f"{name}.parquet")
    return {name: t.num_rows for name, t in tables.items()}
