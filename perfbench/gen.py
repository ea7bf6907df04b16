"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its ``numpy.random.Generator``:
the same seed gives the same ticks and the same tables.

Tick regimes follow the reference's bundled data (BASELINE.md):

- ``dense`` is US30-like: quarter-point prices near 34,000, about one
  brick per 30 ticks, so the engine runs the scalar loop.
- ``sparse`` has the EURGBP emission density: eighth-point prices that
  mostly stand still, about one brick per 2,000 ticks, so the engine runs
  the skip-scan.

Both regimes share the dyadic brick ``BRICK`` (exact in binary floating
point), so one ``renko()`` call covers them.  Both carry rare
multi-brick jumps, so gap fill bricks are exercised.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BRICK = 4.0

EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000

TICK_TYPE = pa.timestamp("us", tz="UTC")  # a naive column reads as TIMESTAMP_NTZ


def walk(rng: np.random.Generator, n: int, regime: str) -> np.ndarray:
    """``n`` prices of one symbol in the given regime."""
    # prices are integer multiples of `unit`; sigma is in units per tick
    unit, sigma = (0.25, 4.2) if regime == "dense" else (0.125, 0.6)
    start = round(rng.uniform(32_000, 36_000) / unit)
    steps = np.rint(rng.normal(0.0, sigma, n))
    jumps = rng.random(n) < 2e-4
    steps[jumps] += rng.choice([-1, 1], jumps.sum()) * np.rint(rng.uniform(3, 5, jumps.sum()) * BRICK / unit)
    steps[0] = 0
    return (start + np.cumsum(steps)) * unit


def tick_times(rng: np.random.Generator, n: int, start_us: int, span_us: int) -> np.ndarray:
    """``n`` strictly increasing µs timestamps spread over ``span_us``."""
    gaps = rng.exponential(1.0, n)
    gaps *= (span_us - n) / gaps.sum()
    return start_us + np.cumsum(gaps.astype(np.int64) + 1)


def symbol_set(rng: np.random.Generator, counts: dict[str, int], regimes: dict[str, str],
               start_us: int, span_us: int) -> dict[str, tuple[np.ndarray, np.ndarray]]:
    """Per-symbol ``(times_us, prices)`` arrays."""
    return {
        sym: (tick_times(rng, n, start_us, span_us), walk(rng, n, regimes[sym]))
        for sym, n in counts.items()
    }


def tick_table(symbols: dict[str, tuple[np.ndarray, np.ndarray]]) -> pa.Table:
    """All symbols' ticks interleaved in event-time order."""
    times = np.concatenate([t for t, _ in symbols.values()])
    prices = np.concatenate([p for _, p in symbols.values()])
    names = np.concatenate([np.full(len(t), s, dtype=object) for s, (t, _) in symbols.items()])
    order = np.argsort(times, kind="stable")
    return pa.table({
        "symbol": pa.array(names[order], pa.string()),
        "event_time": pa.array(times[order], TICK_TYPE),
        "close": pa.array(prices[order], pa.float64()),
    })


def write_files(table: pa.Table, directory: str, n_files: int) -> list[str]:
    """Split ``table`` into ``n_files`` consecutive time slices."""
    os.makedirs(directory, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    paths = []
    for i in range(n_files):
        path = os.path.join(directory, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        paths.append(path)
    return paths


# ---------------------------------------------------------------- query tables

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark line "
    "sort window data column join small customer query order stream group filter "
    "big vector"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["small", "large", "red", "blue", "hot", "old", "green", "shiny"]
_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "nut", "pipe"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, n, lo="1992-01-01", hi="2001-12-31"):
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    d = lo_d + rng.integers(0, (hi_d - lo_d).astype(int), n)
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:  # near-duplicate of an earlier doc
            words = texts[rng.integers(0, i)].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = _WORDS[rng.integers(0, len(_WORDS))]
        else:
            words = list(rng.choice(_WORDS, rng.integers(20, 90)))
        texts.append(" ".join(words))
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng, n, dim=64, labels=10):
    centers = rng.normal(0.0, 1.0, (labels, dim))
    label = rng.integers(0, labels, n)
    vecs = centers[label] + rng.normal(0.0, 1.0, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }


def query_tables(rng: np.random.Generator, scale: float) -> dict[str, pa.Table]:
    """The TPC-H-like star schema plus events, documents and embeddings,
    with the schemas and value shapes of the repository's testdata.
    ``scale`` 1.0 gives 6,000 lineitems."""
    n_cust, n_supp, n_part = int(150 * scale), max(10, int(10 * scale)), int(200 * scale)
    n_ord, n_line, n_ev = int(1500 * scale), int(6000 * scale), int(1000 * scale)
    n_doc, n_emb = int(500 * scale), int(500 * scale)
    i32 = pa.int32()
    t = {
        "region": {
            "r_regionkey": pa.array(range(5), i32),
            "r_name": pa.array(_REGIONS, pa.string()),
        },
        "nation": {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, n_cust, -999, 9999),
            "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust), pa.string()),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, n_supp, -999, 9999),
        },
        "part": {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array([f"{rng.choice(_ADJ)} {rng.choice(_NOUN)}" for _ in range(n_part)], pa.string()),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
            "p_type": pa.array(rng.choice(_TYPES, n_part), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), pa.string()),
            "o_totalprice": _money(rng, n_ord, 1000, 500_000),
            "o_orderdate": _days(rng, n_ord),
            "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord), pa.string()),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900, 100_000),
            "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), pa.string()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), pa.string()),
            "l_shipdate": _days(rng, n_line),
        },
        "events": {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(
                (np.datetime64("2024-01-01", "us") + np.cumsum(rng.integers(1, 300_000_000, n_ev))),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, 50, n_ev), pa.int64()),
            "event_type": pa.array(rng.choice(_EVENTS, n_ev), pa.string()),
            "value": np.round(rng.uniform(0, 20, n_ev), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string()),
        },
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }
    return {name: pa.table(cols) for name, cols in t.items()}


def write_tables(tables: dict[str, pa.Table], directory: str) -> None:
    os.makedirs(directory, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
