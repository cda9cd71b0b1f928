"""Seeded input generation for the benchmark workloads.

Everything here is vectorised numpy/pyarrow and depends only on the
seed, so the same seed writes byte-identical parquet. Timestamps are
written as parquet ``timestamp[us]`` without a zone, the layout the
library's loaders expect (Spark reads them as TIMESTAMP_NTZ).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
HOUR_US = 3_600_000_000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["red", "small", "hot", "old", "large", "cold", "blue", "green"]
NOUN = ["widget", "plate", "ring", "rod", "bolt", "gear", "pipe", "valve"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = (
    "a the data row column table query spark join agg sort scan filter "
    "window group hash merge key value part line order customer batch "
    "stream vector fast slow big small"
).split()

# star-schema sizes (about the repository's sf0.001 test tables, with one
# supplier per nation so every nation-matching join has rows); every
# row count below is the same for every seed
N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS = 150, 25, 200, 1500
N_DOCS, N_VECS, DIM, N_CLUSTERS = 400, 400, 64, 10


def _shuffled(rng, values, n: int) -> np.ndarray:
    """``n`` values cycled from ``values``, in seeded random order: the
    multiset (and so every total) is the same for every seed."""
    return rng.permutation(np.resize(np.asarray(values), n))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


def _dates_us(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d = np.datetime64(lo, "D").astype(np.int64)
    hi_d = np.datetime64(hi, "D").astype(np.int64)
    return rng.integers(lo_d, hi_d, n) * DAY_US


def station_events(rng, n_stations: int) -> dict:
    """Daily station series with heavy-tailed lengths and every defect
    the detectors look for planted at random positions: out-of-range
    spans, flat runs, sudden jumps, NULL runs and missing days, plus
    wet spells that form storms. Columns follow the test data's
    ``events`` table (user_id is the station, event_id the tiebreak)."""
    q = (np.arange(n_stations) + 0.5) / n_stations  # Pareto(1.3) quantiles
    pareto = np.minimum(20 + 40 * ((1 - q) ** (-1 / 1.3) - 1), 1500)
    lengths = _shuffled(rng, pareto.astype(np.int64), n_stations)
    sid = np.repeat(np.arange(n_stations), lengths)
    pos = np.arange(len(sid)) - np.repeat(np.cumsum(lengths) - lengths, lengths)
    start_day = rng.integers(0, 365, n_stations)
    day = np.repeat(start_day, lengths) + pos
    n = len(sid)
    value = np.round(rng.uniform(5.0, 90.0, n), 2)

    def plant(per_rows: int, width: tuple[int, int], fill) -> None:
        k = max(n_stations, n // per_rows)
        at = rng.integers(0, n, k)
        for a, w in zip(at, _shuffled(rng, range(width[0], width[1] + 1), k)):
            b = min(a + w, n)
            b = a + int(np.searchsorted(sid[a:b], sid[a], side="right"))
            value[a:b] = fill(b - a)

    plant(60, (3, 8), lambda m: np.round(rng.uniform(120, 260, m), 2))  # storms
    plant(400, (2, 5), lambda m: np.round(rng.uniform(450, 700, m), 2))  # high
    plant(400, (2, 4), lambda m: np.round(rng.uniform(0.0, 0.9, m), 2))  # low
    plant(300, (3, 7), lambda m: np.full(m, np.round(rng.uniform(10, 80), 2)))
    plant(500, (1, 2), lambda m: np.round(rng.uniform(600, 900, m), 2))  # jump
    plant(500, (2, 4), lambda m: np.full(m, np.nan))  # NULL runs
    # missing days: a fixed share of rows, never a series' first row
    firsts = np.r_[0, np.flatnonzero(np.diff(sid)) + 1]
    keep = np.ones(n, dtype=bool)
    keep[rng.choice(np.setdiff1d(np.arange(n), firsts), n // 50, replace=False)] = False
    sid, day, value = sid[keep], day[keep], value[keep]
    n = len(sid)
    ts = np.datetime64("2020-01-01", "D").astype(np.int64) * DAY_US + day * DAY_US
    return {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(ts + rng.integers(0, 60, n) * 60_000_000),
        "user_id": pa.array(sid.astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.where(np.isnan(value), None, value), type=pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def documents(rng) -> dict:
    """Bag-of-words documents over a 30-word vocabulary; a tenth are
    exact copies and a tenth one-word edits of earlier documents, so
    the dedup and similarity keys have pairs to find."""
    n_words = _shuffled(rng, range(8, 80), N_DOCS)
    words = np.array(WORDS)[rng.integers(0, len(WORDS), int(n_words.sum()))]
    bounds = np.cumsum(n_words)[:-1]
    texts = [" ".join(w) for w in np.split(words, bounds)]
    for i in range(N_DOCS // 10, N_DOCS, 10):
        texts[i] = texts[int(rng.integers(0, i))]
    for i in range(N_DOCS // 10 + 5, N_DOCS, 10):
        toks = texts[int(rng.integers(0, i))].split()
        toks[int(rng.integers(0, len(toks)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        texts[i] = " ".join(toks)
    return {
        "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, 5, N_DOCS)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, N_DOCS)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def embeddings(rng) -> dict:
    centers = rng.normal(size=(N_CLUSTERS, DIM))
    label = rng.integers(0, N_CLUSTERS, N_VECS)
    vec = centers[label] + rng.normal(scale=0.8, size=(N_VECS, DIM))
    vec[N_VECS // 2 :: 25] = vec[: N_VECS // 2 : 25][: len(vec[N_VECS // 2 :: 25])]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    }


def star_schema(out_dir: str, seed: int, n_stations: int = 120) -> dict:
    """Write the ten tables the registry reads; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    rows = {}
    rows["region"] = _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    rows["nation"] = _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    c_nat = _shuffled(rng, range(25), N_CUSTOMER).astype(np.int32)
    s_nat = _shuffled(rng, range(25), N_SUPPLIER).astype(np.int32)
    rows["customer"] = _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(N_CUSTOMER, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMER)]),
        "c_nationkey": pa.array(c_nat),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, N_CUSTOMER)]),
    })
    rows["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(N_SUPPLIER, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIER)]),
        "s_nationkey": pa.array(s_nat),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, N_SUPPLIER), 2)),
    })
    price = np.round(900.0 + (np.arange(N_PART) % 1000) / 10.0, 2)
    rows["part"] = _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(N_PART, dtype=np.int64)),
        "p_name": pa.array([
            f"{ADJ[a]} {NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))
        ]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, N_PART)]),
        "p_type": pa.array(np.array(P_TYPES)[rng.integers(0, 6, N_PART)]),
        "p_size": pa.array(rng.integers(1, 51, N_PART).astype(np.int32)),
        "p_retailprice": pa.array(price),
    })
    odate = _dates_us(rng, "1995-01-01", "2001-08-01", N_ORDERS)
    o_cust = rng.integers(0, N_CUSTOMER, N_ORDERS)
    rows["orders"] = _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(N_ORDERS, dtype=np.int64)),
        "o_custkey": pa.array(o_cust),
        "o_orderstatus": pa.array(
            np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, N_ORDERS), 2)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, N_ORDERS)]),
    })
    n_lines = _shuffled(rng, range(1, 8), N_ORDERS)
    okey = np.repeat(np.arange(N_ORDERS), n_lines)
    lnum = np.arange(len(okey)) - np.repeat(np.cumsum(n_lines) - n_lines, n_lines) + 1
    nl = len(okey)
    pkey = rng.integers(0, N_PART, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    # a fifth of the lines ship from the customer's own nation
    skey = rng.integers(0, N_SUPPLIER, nl)
    local = _shuffled(rng, [True, False, False, False, False], nl)
    skey[local] = np.argsort(s_nat)[c_nat[o_cust[okey[local]]]]
    rows["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(okey.astype(np.int64)),
        "l_partkey": pa.array(pkey.astype(np.int64)),
        "l_suppkey": pa.array(skey.astype(np.int64)),
        "l_linenumber": pa.array(lnum.astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * price[pkey], 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
        "l_shipdate": _ts(odate[okey] + rng.integers(1, 122, nl) * DAY_US),
    })
    rows["events"] = _write(out_dir, "events", station_events(rng, n_stations))
    rows["documents"] = _write(out_dir, "documents", documents(rng))
    rows["embeddings"] = _write(out_dir, "embeddings", embeddings(rng))
    return rows


def rain_files(
    staging: str, seed: int, n_stations: int, n_files: int, hours_per_file: int
) -> int:
    """Hourly rainfall for ``n_stations`` stations, one parquet file per
    ``hours_per_file`` hours (every station in every file), written to
    ``staging`` as ``rain-00000.parquet``... Wet spells of 3-8 hours at
    120-260 per hour are separated by 30-80 dry hours, so every storm
    closes within a few files and per-station stream state stays
    bounded. Returns the total row count."""
    os.makedirs(staging, exist_ok=True)
    rng = np.random.default_rng(seed)
    hours = n_files * hours_per_file
    value = np.round(rng.uniform(0.0, 3.0, (n_stations, hours)), 2)
    for s in range(n_stations):
        h = int(rng.integers(0, 40))
        while h < hours:
            w = int(rng.integers(3, 9))
            value[s, h : h + w] = np.round(rng.uniform(120, 260, min(w, hours - h)), 2)
            h += w + int(rng.integers(30, 81))
    t0 = np.datetime64("2023-01-01", "D").astype(np.int64) * DAY_US
    sids = np.array([f"st{s:04d}" for s in range(n_stations)])
    for f in range(n_files):
        hs = np.arange(f * hours_per_file, (f + 1) * hours_per_file)
        table = pa.table({
            "sid": pa.array(np.repeat(sids, len(hs))),
            "ts": _ts(np.tile(t0 + hs * HOUR_US, n_stations)),
            "value": pa.array(value[:, hs].ravel()),
        })
        pq.write_table(table, os.path.join(staging, f"rain-{f:05d}.parquet"))
    return n_stations * hours
