"""Seeded generator for the suite's star-schema tables.

Writes ``region nation customer supplier part orders lineitem events
documents embeddings`` as one parquet file each, with the column names,
types and value distributions of the suite's test tables, so every
registry query runs on them unchanged. Row counts scale with ``sf``
(sf0.1: 600k lineitem rows). The same ``(sf, seed)`` always writes the
same rows. ``python3 perfbench/datagen.py --compare DIR`` prints, per
column, these tables at seed 42 beside the tables in ``DIR``.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]

# Base row counts at sf=1.
_ROWS = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 20_000, "users": 15_000,
}
_DAY_US = 86_400 * 10**6


def _us(d: dt.date | dt.datetime) -> int:
    if not isinstance(d, dt.datetime):
        d = dt.datetime(d.year, d.month, d.day)
    return int((d - dt.datetime(1970, 1, 1)).total_seconds()) * 10**6


def _days(rng, n: int, lo: dt.date, hi: dt.date) -> pa.Array:
    span = (hi - lo).days
    us = _us(lo) + rng.integers(0, span + 1, n).astype(np.int64) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _documents(rng, n: int) -> dict:
    vocab = np.asarray(WORDS, dtype=object)
    lens = rng.integers(10, 101, n)
    words = vocab[rng.integers(0, len(WORDS), int(lens.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]
    # About 5% of documents are an earlier one plus a ``dup`` token, so
    # the dedup queries find near-duplicate pairs.
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng, n: int, dim: int = 64) -> dict:
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    }


def tables(sf: float, seed: int) -> dict[str, dict]:
    """Column dicts for every table at scale ``sf`` from ``seed``."""
    rng = np.random.default_rng(seed)
    n = {k: max(int(round(v * sf)), 20) for k, v in _ROWS.items()}
    out: dict[str, dict] = {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        },
    }
    c = n["customer"]
    out["customer"] = {
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, c, -999.99, 9999.99)),
        "c_mktsegment": _pick(rng, SEGMENTS, c),
    }
    s = n["supplier"]
    out["supplier"] = {
        "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, s).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, s, -999.99, 9999.99)),
    }
    p = n["part"]
    keys = np.arange(p, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = {
        "p_partkey": pa.array(keys),
        "p_name": _pick(rng, names, p),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, p)]),
        "p_type": _pick(rng, PART_TYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) * 0.1, 1)),
    }
    o = n["orders"]
    out["orders"] = {
        "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, c, o).astype(np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
        "o_totalprice": pa.array(_money(rng, o, 1000.0, 500_000.0)),
        "o_orderdate": _days(rng, o, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": _pick(rng, PRIORITIES, o),
    }
    li = n["lineitem"]
    out["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, o, li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, p, li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, s, li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, li, 900.0, 105_000.0)),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], li),
        "l_linestatus": _pick(rng, ["F", "O"], li),
        "l_shipdate": _days(rng, li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    }
    e = n["events"]
    # A Poisson stream over 30 days with microsecond timestamps, in
    # event_id order.
    arrivals = np.cumsum(rng.exponential(1.0, e + 1))
    ts = _us(dt.date(2024, 1, 1)) + np.floor(
        arrivals[:e] / arrivals[-1] * 30 * _DAY_US).astype(np.int64)
    out["events"] = {
        "event_id": pa.array(np.arange(e, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], e).astype(np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": pa.array(np.round(rng.exponential(50.0, e), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
    }
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def write(root: str | Path, sf: float, seed: int) -> Path:
    """Write every table under ``root`` as ``<table>.parquet``."""
    root = Path(root)
    root.mkdir(parents=True, exist_ok=True)
    for name, cols in tables(sf, seed).items():
        pq.write_table(pa.table(cols), root / f"{name}.parquet",
                       compression="snappy")
    return root


def compare(other: str | Path) -> None:
    """Print row counts and per-column summaries of these tables at
    seed 42 beside the same-named tables under ``other``."""
    import pyarrow.compute as pc

    def summary(col: pa.ChunkedArray) -> str:
        t = col.type
        if pa.types.is_list(t):
            return f"nulls={col.null_count}"
        out = f"distinct={pc.count_distinct(col).as_py()} nulls={col.null_count}"
        if pa.types.is_string(t):
            return out + f" mean_len={pc.mean(pc.utf8_length(col)).as_py():.1f}"
        mm = pc.min_max(col).as_py()
        out += f" min={mm['min']} max={mm['max']}"
        if pa.types.is_timestamp(t):
            us = col.cast(pa.int64()).to_numpy()
            return out + f" subsecond={np.mean(us % 10**6 != 0):.3f}"
        return out + f" mean={pc.mean(col).as_py():.3f}"

    other = Path(other)
    sf = float(other.name.removeprefix("sf")) if other.name.startswith("sf") else 0.1
    for name, cols in tables(sf, 42).items():
        mine, theirs = pa.table(cols), pq.read_table(other / f"{name}.parquet")
        print(f"{name}: rows {mine.num_rows} | {theirs.num_rows}")
        for c in theirs.column_names:
            if c in mine.column_names:
                print(f"  {c}: {summary(mine[c])}\n  {'':{len(c)}}  "
                      f"{summary(theirs[c])}")


if __name__ == "__main__":
    import sys

    if len(sys.argv) != 3 or sys.argv[1] != "--compare":
        sys.exit("usage: python3 perfbench/datagen.py --compare DIR")
    compare(sys.argv[2])
