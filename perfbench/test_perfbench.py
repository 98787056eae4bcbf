"""Unit checks for the benchmark's own pieces (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import statistics
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import stats  # noqa: E402
from ingest import hkey_matches  # noqa: E402


def _digest(batches):
    h = hashlib.sha256()
    for batch in batches:
        for b in batch:
            h.update(b.id.to_bytes(8, "little") + b.data)
    return h.hexdigest()


def test_blob_batches_deterministic_per_seed():
    assert _digest(gen.blob_batches(7, 3)) == _digest(gen.blob_batches(7, 3))
    assert _digest(gen.blob_batches(7, 3)) != _digest(gen.blob_batches(8, 3))
    assert _digest(gen.blob_batches(7, 1)) != _digest(gen.blob_batches(7, 1, stream=1))


def test_blob_batches_size_mix_and_repeats():
    batches = gen.blob_batches(3, 3)
    for i, batch in enumerate(batches):
        tiers = [gen.tier_of(len(b.data)) for b in batch]
        assert {t: tiers.count(t) for t in set(tiers)} == {"raw": 40, "enc": 156, "tree": 4}
        # 30 % of every tier's slots repeat earlier content, none in batch 0
        assert sum(not b.fresh for b in batch) == (0 if i == 0 else 12 + 47 + 1)
    earlier = {b.data for b in batches[0]}
    assert all(b.data in earlier for b in batches[1] if not b.fresh)
    ids = [b.id for batch in batches + gen.blob_batches(3, 1, stream=1) for b in batch]
    assert len(set(ids)) == len(ids)


def test_query_tables_deterministic(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    assert gen.query_tables(5, str(a), 0.001) == gen.query_tables(5, str(b), 0.001)
    gen.query_tables(6, str(c), 0.001)
    for name in ("lineitem", "events", "documents", "embeddings"):
        ta, tb = pq.read_table(a / f"{name}.parquet"), pq.read_table(b / f"{name}.parquet")
        assert ta.equals(tb)
        assert not ta.equals(pq.read_table(c / f"{name}.parquet"))


def test_percentile_linear_rule():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 50) == 2.5
    assert stats.percentile(xs, 100) == 4.0
    assert stats.percentile(xs, 75) == pytest.approx(float(np.percentile(xs, 75)))
    assert stats.percentile([5.0], 90) == 5.0


@pytest.mark.parametrize("n,q", [(39, None), (40, 75), (99, 75), (100, 90),
                                 (200, 95), (999, 95), (1000, 99)])
def test_tail_percentile_keeps_ten_samples_beyond(n, q):
    assert stats.tail_percentile(n) == q


def test_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 10.0, 10.6]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    s = stats.spread(vals)
    assert (s["q1"], s["median"], s["q3"]) == (q1, q2, q3)
    assert s["spread"] == pytest.approx((q3 - q1) / q2)


def test_zipf_sampler():
    p = gen.zipf_probs(50, 1.1)
    assert p.sum() == pytest.approx(1.0) and np.all(np.diff(p) < 0)
    a = gen.zipf_sample(1, 50, 1.1, 20_000)
    assert np.array_equal(a, gen.zipf_sample(1, 50, 1.1, 20_000))
    assert not np.array_equal(a, gen.zipf_sample(2, 50, 1.1, 20_000))
    assert a.min() >= 0 and a.max() < 50
    freq = np.bincount(a, minlength=50) / len(a)
    assert freq[0] == pytest.approx(p[0], abs=0.01)
    assert freq[:5].sum() > freq[5:].sum() * 0.5


def test_expected_chunks_prediction():
    B = gen.Blob
    tree = b"t" * (gen.CHUNK_MAX + 3 * gen.TREE_CHUNK + 1)  # 1 MiB + 768 KiB + 1 → 8 children
    blobs = [B(0, b"x" * 10, True), B(1, b"y" * 200, True), B(2, b"y" * 200, False),
             B(3, tree, True), B(4, tree, False), B(5, b"z" * gen.CHUNK_MAX, True)]
    assert gen.expected_chunks(blobs) == 1 + 1 + math.ceil(len(tree) / gen.TREE_CHUNK) + 1
    assert gen.expected_chunks([B(0, b"", True)]) == 1  # sentinel only


def test_expected_chunks_counts_fresh_storable_blobs():
    batches = gen.blob_batches(9, 2)
    fresh = [b for batch in batches for b in batch if b.fresh and len(b.data) > gen.RAW_MAX]
    want = 1 + sum(1 if len(b.data) <= gen.CHUNK_MAX else math.ceil(len(b.data) / gen.TREE_CHUNK)
                   for b in fresh)
    assert gen.expected_chunks([b for batch in batches for b in batch]) == want


def test_hkey_matches():
    import base64

    small, mid = b"abc", bytes(range(256)) * 2
    assert hkey_matches("raw:" + base64.urlsafe_b64encode(small).decode(), small)
    assert not hkey_matches("raw:AAAA", small)
    d = hashlib.sha256(mid).hexdigest()
    assert hkey_matches(f"enc:{'0' * 64}:{d}:{len(mid)}", mid)
    assert not hkey_matches(f"enc:{'0' * 64}:{d}:{len(mid) + 1}", mid)
    big = b"q" * (gen.CHUNK_MAX + 1)
    assert hkey_matches(f"tree:{hashlib.sha256(big).hexdigest()}:{len(big)}", big)


def test_benchmark_json_matches_metric_table():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == metrics.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == ["ingest", "query"]
