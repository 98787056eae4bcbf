"""``ingest``: a write-heavy closed loop, one client.

Set-up writes an *archive* store (one small batch through
``Store.put_blobs``, one through the ``pslake`` sink — this is also the
warm-up of both write paths) and opens ``Lake([hot (fresh), archive
(read-only)])``.

The measured phase runs rounds.  A round is two ~9 MB batches of 200 blobs
read from seeded parquet files: the even batch through ``Lake.put_blobs``,
the odd one through ``df.write.format("pslake")`` with ``hkeys_out``.  After
each batch one of its new inline keys and one new enc (even batch) or tree
(odd batch) key are read back with ``Lake.get``; after the last round one
Zipf-chosen archive key is read, which misses in ``hot`` first.

After the measured phase the chunk count is checked against the
generator's prediction.  Traced runs then read every hkey of the run back
with one ``Store.get_blobs`` (lengths and sha256 checked on the executors)
and end with one ``Store.compact``, for the store-layer metrics.
"""

from __future__ import annotations

import base64
import hashlib
import os
import time


import gen
import stats

ROUND_S = 10.0  # nominal wall of one round at the seed code, 4 CPUs
ZIPF_S = 1.1


def rounds_for(seconds: float) -> int:
    """Fixed work per ``--seconds``: the same inputs and op count on every
    commit, sized to fill about ``seconds`` at the seed code."""
    return max(2, round(seconds / ROUND_S))


def hkey_matches(hkey: str, data: bytes) -> bool:
    """Does ``hkey`` address ``data``?  raw: the inline bytes; enc: the
    convergent key sha256(data) and size; tree: sha256(data) and size."""
    if len(data) <= gen.RAW_MAX:
        return hkey == "raw:" + base64.urlsafe_b64encode(data).decode("ascii")
    digest = hashlib.sha256(data).hexdigest()
    if len(data) <= gen.CHUNK_MAX:
        parts = hkey.split(":")
        return len(parts) == 4 and parts[0] == "enc" and parts[2] == digest and parts[3] == str(len(data))
    return hkey == f"tree:{digest}:{len(data)}"


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _parquet_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)


class _Writer:
    """The two write paths, each returning {id: hkey} to the caller."""

    def __init__(self, spark, lake, hot_dir: str):
        self.spark, self.lake, self.hot_dir = spark, lake, hot_dir

    def put_blobs(self, path: str) -> dict[int, str]:
        df = self.spark.read.parquet(path)
        return {row["id"]: row["hkey"] for row in self.lake.put_blobs(df).collect()}

    def sink(self, path: str, store_dir: str | None = None) -> dict[int, str]:
        import pyarrow.parquet as pq

        out = path + ".hkeys"
        (self.spark.read.parquet(path).write.format("pslake")
         .option("path", store_dir or self.hot_dir).option("hkeys_out", out)
         .mode("append").save())
        t = pq.read_table(out)
        return dict(zip(t.column("id").to_pylist(), t.column("hkey").to_pylist()))


def run(r) -> dict:
    from ps_datalake_spark.config import LakeConfig, StoreEntry
    from ps_datalake_spark.lake import Lake, Store
    from ps_datalake_spark.sources import register_pslake

    spark = r.spark
    n_rounds = rounds_for(r.seconds)
    batches = gen.blob_batches(r.seed, 2 * n_rounds)
    archive = gen.blob_batches(r.seed, 2, batch_size=50, stream=1)
    paths = [r.path("inputs", f"batch{i:03d}.parquet") for i in range(len(batches))]
    arch_paths = [r.path("inputs", f"archive{i}.parquet") for i in range(2)]
    for p, b in zip(paths + arch_paths, batches + archive):
        gen.write_blobs(p, b)
    user_bytes = [sum(len(b.data) for b in batch) for batch in batches]
    r.info["inputs"] = {"batches": len(batches), "blobs_per_batch": len(batches[0]),
                        "user_bytes": sum(user_bytes), "archive_bytes":
                        sum(len(b.data) for batch in archive for b in batch)}
    data_of = {b.id: b.data for batch in batches + archive for b in batch}
    rng = gen.rng_for(r.seed, 4)

    def check_put(hkeys, batch) -> bool:
        return len(hkeys) == len(batch) and all(
            hkey_matches(hkeys.get(b.id, ""), b.data) for b in batch)

    def read_back(lake, hkeys, blob_id, what) -> None:
        with r.attempt(what) as a:
            a.ok = lake.get(hkeys[blob_id]) == data_of[blob_id]

    # -- set-up: the archive store doubles as the warm-up of both write paths
    register_pslake(spark)
    arch_dir, hot_dir = r.path("stores", "archive"), r.path("stores", "hot")
    arch_store = Store.create(spark, arch_dir)
    arch_lake = Lake(spark, [arch_store], [arch_store])
    writer = _Writer(spark, arch_lake, hot_dir)
    arch_hkeys: dict[int, str] = {}
    for i, path in enumerate(arch_paths):
        with r.attempt(f"archive put {i}") as a:
            got = writer.put_blobs(path) if i == 0 else writer.sink(path, arch_dir)
            arch_hkeys.update(got)
            a.ok = check_put(got, archive[i])
    lake = Lake.open(spark, LakeConfig(stores=(StoreEntry(hot_dir), StoreEntry(arch_dir, readonly=True))))
    writer.lake = lake
    hot = lake.writable[0]
    # archive keys worth a point read, in Zipf rank order
    arch_keys = [b.id for batch in archive for b in batch if b.fresh and len(b.data) > gen.RAW_MAX]
    arch_keys = [arch_keys[i] for i in rng.permutation(len(arch_keys))]
    arch_draw = int(gen.zipf_sample(r.seed, len(arch_keys), ZIPF_S, 1)[0])

    # -- measured phase
    hkeys: dict[int, str] = {}
    round_put_s: list[float] = []
    for rnd in range(n_rounds):
        put_s = 0.0
        for half, (name, put) in enumerate((("lake.put_blobs", writer.put_blobs),
                                             ("sink.write", writer.sink))):
            b = 2 * rnd + half
            r.phase("measure", op=f"batch{b}")
            with r.attempt(f"put batch {b}") as a:
                with r.span(name):
                    t0 = time.perf_counter()
                    got = put(paths[b])
                    dt = time.perf_counter() - t0
                put_s += dt
                hkeys.update(got)
                a.ok = check_put(got, batches[b])
            fresh = [x for x in batches[b] if x.fresh]
            raw = [x.id for x in fresh if len(x.data) <= gen.RAW_MAX]
            big = [x.id for x in fresh if gen.tier_of(len(x.data)) == ("enc", "tree")[half]]
            for ids in (raw, big):
                blob_id = ids[int(rng.integers(len(ids)))]
                if blob_id in hkeys:
                    read_back(lake, hkeys, blob_id, f"read back {blob_id}")
        round_put_s.append(put_s)
    r.phase("measure", op="archive")
    read_back(lake, arch_hkeys, arch_keys[arch_draw], "archive get")

    # -- after the measured phase: the store's chunk count; the full read-back
    # and the compact feed only per-layer metrics, so only traced runs pay
    # for them (~13 s)
    r.phase("final")
    all_blobs = [b for batch in batches for b in batch]
    with r.attempt("chunk count") as a:
        n_chunks = hot.chunks().count()
        a.ok = n_chunks == gen.expected_chunks(all_blobs)

    e2e = {"op_p50_ms": stats.percentile(round_put_s, 50) * 1000,
           "mb_per_s": sum(user_bytes) / 1e6 / sum(round_put_s)}
    r.info["samples"] = {"rounds": n_rounds, "puts": 2 * n_rounds,
                         "tail_percentile": stats.tail_percentile(n_rounds)}
    if r.traced:
        with r.attempt("get_blobs over every hkey") as a:
            a.ok, got_bytes, get_blobs_s = _get_blobs_check(r, hot, hkeys, data_of)
        files, before = _parquet_files(hot_dir), _du(hot_dir)
        with r.attempt("compact"):
            hot.compact()
        after = _du(hot_dir)
        stored = [b for b in all_blobs if len(b.data) > gen.RAW_MAX]
        live = sum(len(b.data) for b in {hashlib.sha256(b.data).digest(): b for b in stored}.values())
        submitted = sum(-(-len(b.data) // gen.TREE_CHUNK) if len(b.data) > gen.CHUNK_MAX else 1
                        for b in stored)
        r.extra.update({
            "store.new_chunk_ratio": (n_chunks - 1) / submitted,
            "store.files_added_per_put": (files - 1) / (2 * n_rounds),
            "store.compact_bytes_rewritten": after - before,
            "store.disk_bytes_per_live_byte": after / live,
            "store.disk_bytes_per_user_byte": after / sum(user_bytes),
            "store.get_blobs_mb_s": got_bytes / 1e6 / get_blobs_s,
        })
        r.kernel_inputs = (batches[0], list(hkeys.values()))
    return e2e


def _get_blobs_check(r, store, hkeys, data_of):
    """One ``Store.get_blobs`` over ``hkeys``; lengths and sha256 are checked
    on the executors against the generator's digests (no bytes collected)."""
    from pyspark.sql import functions as F

    want = r.spark.createDataFrame(
        [(i, h, hashlib.sha256(data_of[i]).hexdigest()) for i, h in hkeys.items()],
        "id long, hkey string, sha string")
    with r.span("store.get_blobs"):
        t0 = time.perf_counter()
        got = store.get_blobs(want.select("id", "hkey")).join(want.select("id", "sha"), "id", "right")
        row = got.agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum(F.length("data")), F.lit(0)).alias("bytes"),
            F.sum((F.col("data").isNull() | (F.sha2("data", 256) != F.col("sha"))).cast("int")).alias("bad"),
        ).head()
        dt = time.perf_counter() - t0
    ok = (row["n"] == len(hkeys) and row["bad"] == 0
          and row["bytes"] == sum(len(data_of[i]) for i in hkeys))
    return ok, row["bytes"], dt


def kernels(r) -> dict:
    """Single-core crypto throughput on a batch's stored tiers, and the cost
    of one hkey decode (driver side, outside any Spark job).  Run by run.py
    after the tracer is removed, so the wrappers do not time themselves."""
    from ps_datalake_spark.lake import Hkey, crypto

    batch, hkey_strs = r.kernel_inputs
    cipher = crypto.cipher_name()
    plains = []
    for b in batch:
        if len(b.data) > gen.CHUNK_MAX:
            plains += [b.data[o:o + gen.TREE_CHUNK] for o in range(0, len(b.data), gen.TREE_CHUNK)]
        elif len(b.data) > gen.RAW_MAX:
            plains.append(b.data)
    keys = [crypto.convergent_key(p) for p in plains]
    mb = sum(map(len, plains)) / 1e6
    t0 = time.perf_counter()
    ciphers = [crypto.encrypt_as(cipher, p, k) for p, k in zip(plains, keys)]
    t1 = time.perf_counter()
    back = [crypto.decrypt_as(cipher, c, k) for c, k in zip(ciphers, keys)]
    t2 = time.perf_counter()
    if back != plains:
        raise RuntimeError("crypto round trip differs")
    t3 = time.perf_counter()
    for h in hkey_strs:
        Hkey.decode(h)
    t4 = time.perf_counter()
    return {"crypto.encrypt_mb_s": mb / (t1 - t0), "crypto.decrypt_mb_s": mb / (t2 - t1),
            "hkey.decode_us": (t4 - t3) * 1e6 / len(hkey_strs)}
