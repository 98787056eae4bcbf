"""Seeded input generators for the benchmark.

Everything here is pure Python/NumPy/pyarrow: the program under test only
ever sees the files and rows these functions produce.  The same seed gives
byte-identical inputs.

* blob batches for ``ingest`` (size mix + cross-batch repeats), the
  expected chunk count they should leave in a store, and a Zipf sampler for
  skewed key choice;
* TPC-H-shaped query tables (the schemas of FIXTURES.md) for ``query``.
"""

from __future__ import annotations

import hashlib
import math
import os
from dataclasses import dataclass

import numpy as np

# Routing thresholds of the store (lake/store.py): ≤128 B inline, ≤1 MiB one
# encrypted chunk, larger blobs split into 256 KiB tree children.  Copied, not
# imported, so the generator and its unit checks do not depend on the code
# under test.
RAW_MAX = 128
CHUNK_MAX = 1 << 20
TREE_CHUNK = 256 << 10

# (tier, share of a batch, min size, max size) — sizes inclusive
SIZE_MIX = (
    ("raw", 0.20, 0, RAW_MAX),
    ("enc", 0.78, RAW_MAX + 1, 32 << 10),
    ("tree", 0.02, CHUNK_MAX + 1, 2 << 20),
)


def tier_of(size: int) -> str:
    if size <= RAW_MAX:
        return "raw"
    return "enc" if size <= CHUNK_MAX else "tree"


def tier_counts(n: int) -> dict[str, int]:
    """Fixed per-batch tier counts (largest-remainder rounding of SIZE_MIX)."""
    raw = {t: share * n for t, share, _, _ in SIZE_MIX}
    counts = {t: int(v) for t, v in raw.items()}
    for t in sorted(raw, key=lambda t: raw[t] - counts[t], reverse=True)[: n - sum(counts.values())]:
        counts[t] += 1
    return counts


@dataclass
class Blob:
    id: int
    data: bytes
    fresh: bool  # False: an exact copy of a blob from an earlier batch


def rng_for(seed: int, stream: int) -> np.random.Generator:
    """Independent generator per (seed, input stream)."""
    return np.random.default_rng([stream, seed % (1 << 64)])


def blob_batches(seed: int, n_batches: int, batch_size: int = 200,
                 repeat_share: float = 0.30, stream: int = 0) -> list[list[Blob]]:
    """``n_batches`` batches with the SIZE_MIX tier counts each.  From the
    second batch on, ``repeat_share`` of every tier's slots copy a uniformly
    chosen blob of the same tier from an earlier batch."""
    rng = rng_for(seed, stream)
    counts = tier_counts(batch_size)
    bounds = {t: (lo, hi) for t, _, lo, hi in SIZE_MIX}
    earlier: dict[str, list[bytes]] = {t: [] for t in counts}
    batches = []
    for b in range(n_batches):
        slots = []
        for tier, n in counts.items():
            n_rep = round(repeat_share * n) if b else 0
            for _ in range(n_rep):
                src = earlier[tier]
                slots.append((src[int(rng.integers(len(src)))], False))
            # stratified sizes: one uniform draw per equal slice of the range,
            # so a batch's byte total barely varies with the seed
            lo, hi = bounds[tier]
            n_new = n - n_rep
            sizes = lo + ((np.arange(n_new) + rng.random(n_new)) * (hi - lo + 1) / n_new).astype(int)
            slots += [(rng.bytes(int(size)), True) for size in sizes]
        order = rng.permutation(len(slots))
        base = (stream << 32) + b * 100_000  # ids unique across streams
        batch = [Blob(base + i, *slots[j]) for i, j in enumerate(order)]
        for blob in batch:
            if blob.fresh:
                earlier[tier_of(len(blob.data))].append(blob.data)
        batches.append(batch)
    return batches


def expected_chunks(blobs) -> int:
    """Chunks a fresh store holds after storing ``blobs``: one per distinct
    single-chunk payload, ceil(size / 256 KiB) per distinct tree payload, plus
    the sentinel written at create.  Inline payloads store nothing."""
    seen: set[bytes] = set()
    n = 1
    for blob in blobs:
        data = blob.data
        if len(data) <= RAW_MAX:
            continue
        digest = hashlib.sha256(data).digest()
        if digest in seen:
            continue
        seen.add(digest)
        n += 1 if len(data) <= CHUNK_MAX else math.ceil(len(data) / TREE_CHUNK)
    return n


def write_blobs(path: str, blobs) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {"id": pa.array([b.id for b in blobs], pa.int64()),
         "data": pa.array([b.data for b in blobs], pa.binary())}
    )
    pq.write_table(table, path)


# -- skewed key choice ---------------------------------------------------------


def zipf_probs(n: int, s: float) -> np.ndarray:
    """Finite Zipf: P(rank k) ∝ 1 / (k + 1)^s for k in [0, n)."""
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def zipf_sample(seed: int, n: int, s: float, size: int) -> np.ndarray:
    """``size`` ranks drawn from zipf_probs(n, s) by inverse CDF."""
    cdf = np.cumsum(zipf_probs(n, s))
    u = rng_for(seed, 3).random(size)
    return np.minimum(np.searchsorted(cdf, u, side="right"), n - 1)


# -- query workload -----------------------------------------------------------

# word list of the documents table (the fixture's vocabulary style)
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window of and to in is it"
).split()
_DAY_US = 86_400_000_000


def _days_us(rng, start: np.datetime64, end: np.datetime64, n: int) -> np.ndarray:
    days = (end - start).astype("timedelta64[D]").astype(np.int64)
    base = start.astype("datetime64[us]").astype(np.int64)
    return base + rng.integers(0, days + 1, n) * _DAY_US


def query_tables(seed: int, out_dir: str, sf: float) -> dict[str, int]:
    """Write the ten FIXTURES.md tables at scale ``sf`` (sf=1 ↔ 6M lineitem
    rows) as ``<out_dir>/<name>.parquet``.  Returns the row counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = rng_for(seed, 2)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_users = int(50_000 * sf), int(20_000 * sf), max(10, int(15_000 * sf))
    ts = pa.timestamp("us")

    def f64(x):
        return pa.array(np.round(x, 2), pa.float64())

    def pick(values, n):
        return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])

    tables = {
        "region": {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        "nation": {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())},
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": f64(rng.uniform(-999.99, 9999.99, n_cust)),
            "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                  "MACHINERY"], n_cust),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": f64(rng.uniform(-999.99, 9999.99, n_supp)),
        },
        "part": {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(
                pick(["large", "hot", "blue", "red", "small", "green"], n_part).to_pylist(),
                pick(["ring", "bolt", "nut", "gear", "pipe"], n_part).to_pylist())],
            "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": f64(900 + (np.arange(n_part) % 1000) / 10),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": f64(rng.uniform(1000, 500_000, n_ord)),
            "o_orderdate": pa.array(_days_us(rng, np.datetime64("1995-01-01"),
                                             np.datetime64("2001-08-01"), n_ord), ts),
            "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"], n_ord),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": f64(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": f64(rng.uniform(900, 105_000, n_li)),
            "l_discount": f64(rng.integers(0, 11, n_li) / 100),
            "l_tax": f64(rng.integers(0, 9, n_li) / 100),
            "l_returnflag": pick(["A", "N", "R"], n_li),
            "l_linestatus": pick(["F", "O"], n_li),
            "l_shipdate": pa.array(_days_us(rng, np.datetime64("1995-01-02"),
                                            np.datetime64("2001-11-04"), n_li), ts),
        },
    }
    # events: 30 days from 2024-01-01, microsecond timestamps, in event_id order
    ev_us = np.sort(rng.integers(0, 30 * _DAY_US, n_ev)) + np.datetime64(
        "2024-01-01", "us").astype(np.int64)
    tables["events"] = {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_us, ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": f64(rng.exponential(40.0, n_ev)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    # documents: word soup; a few exact copies so dedup has work to do
    texts = [" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 101))])
             for _ in range(n_doc)]
    for i in rng.choice(n_doc, size=max(1, n_doc // 500), replace=False):
        texts[i] = texts[int(rng.integers(n_doc))]
    tables["documents"] = {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": pick(["en", "en", "en", "de", "es", "fr", "zh"], n_doc),
        "source": pick([f"src{i}" for i in range(20)], n_doc),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }
    emb = rng.normal(0.0, 0.1, (n_emb, 64)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    }
    counts = {}
    for name, cols in tables.items():
        t = pa.table(cols)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts
