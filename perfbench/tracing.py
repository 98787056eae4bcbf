"""Spans recorded from the benchmark's own code, and the Spark event log that
attaches jobs, stages and task metrics to them.

A span is one call into a layer: name, start, end, parent span and op id.
Spans that can launch Spark jobs set the job group to their span id, so every
job the event log records names the innermost span that caused it.  Spans
stay in memory and are written once, at exit.

``install`` wraps the package's public functions in place (and ``uninstall``
restores them); nothing in the package itself is changed.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import sys
import time
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple] = []
        self._ids = itertools.count()
        self.op = None  # id of the workload operation now running
        self.phase = None  # setup | measure | final

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty(_GROUP, None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["id"], span["name"], False)

    @contextmanager
    def span(self, name: str, jobs: bool = True, **attrs):
        """Record one call.  ``jobs=False`` for layers that cannot launch a
        Spark job: they skip the job-group round trips to the JVM, which
        would cost more than the call they time."""
        parent = self._stack[-1] if self._stack else None
        rec = {"id": f"s{next(self._ids)}", "name": name,
               "parent": parent["id"] if parent else None, "op": self.op,
               "phase": self.phase, "jobs_group": jobs, **attrs}
        self._stack.append(rec)
        if jobs:
            self._set_group(rec)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        except BaseException as e:
            rec["error"] = type(e).__name__
            raise
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            self._stack.pop()
            if jobs:
                self._set_group(next((s for s in reversed(self._stack) if s["jobs_group"]), None))
            self.spans.append(rec)

    # -- wrapping the package's functions ----------------------------------

    def _wrap(self, owner, attr: str, name: str, jobs: bool = True, attrs=None):
        orig = vars(owner)[attr]
        is_desc = isinstance(orig, (staticmethod, classmethod))
        fn = orig.__func__ if is_desc else orig
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            extra = attrs(*args, **kwargs) if attrs else {}
            with tracer.span(name, jobs=jobs, **extra) as rec:
                try:
                    return fn(*args, **kwargs)
                except Exception as e:
                    rec["outcome"] = type(e).__name__
                    raise

        setattr(owner, attr, type(orig)(wrapper) if is_desc else wrapper)
        self._patched.append((owner, attr, orig))

    def install(self) -> None:
        """Wrap every public function the workloads reach, from outside."""
        from ps_datalake_spark import io
        from ps_datalake_spark.lake import Hkey, Lake, Store, crypto
        from ps_datalake_spark.registry import all_queries

        all_queries()  # imports every query module, so their aliases get wrapped too

        # same parameter names as the wrapped functions, so keyword calls bind
        def _kind(self, hkey_str):
            return {"kind": hkey_str.split(":", 1)[0]}

        self._wrap(Lake, "open", "lake.open")
        self._wrap(Lake, "get", "lake.get")
        self._wrap(Store, "create", "store.create")
        self._wrap(Store, "put_blobs", "store.put_blobs")
        self._wrap(Store, "get", "store.get", attrs=_kind)
        self._wrap(Store, "compact", "store.compact")
        self._wrap(Hkey, "decode", "hkey.decode", jobs=False)
        self._wrap(crypto, "decrypt_as", "crypto.decrypt", jobs=False)

        seen: set = set()

        def _load_attrs(spark, sf_dir, name):
            miss = (sf_dir, name) not in seen
            seen.add((sf_dir, name))
            return {"table": name, "cache": "miss" if miss else "hit"}

        orig = io.load_table
        self._wrap(io, "load_table", "io.load_table", attrs=_load_attrs)
        wrapped = io.load_table
        # query modules bind load_table by name (``T = load_table``)
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith("ps_datalake_spark.queries") and mod is not None:
                for attr, val in list(vars(mod).items()):
                    if val is orig:
                        setattr(mod, attr, wrapped)
                        self._patched.append((mod, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def span_cost_ms(tracer: Tracer, n: int = 200) -> float:
    """Measured cost of one job-group span (two py4j round trips plus the
    record), to bound the tracer's share of an operation."""
    t0 = time.perf_counter()
    for _ in range(n):
        with tracer.span("trace.probe"):
            pass
    cost = (time.perf_counter() - t0) * 1000 / n
    tracer.spans = [s for s in tracer.spans if s["name"] != "trace.probe"]
    return cost


# -- the event log -------------------------------------------------------------


def _event_lines(log_dir: str):
    """Lines of the run's finished event log (one uncompressed file: run.py
    turns rolling and compression off)."""
    files = glob.glob(os.path.join(log_dir, "*"))
    if len(files) != 1 or not os.path.isfile(files[0]) or files[0].endswith(".inprogress"):
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    with open(files[0]) as f:
        yield from f


def read_event_log(log_dir: str) -> dict:
    """Jobs from a finished Spark event log: group, [submit, end] in epoch
    seconds, and task metrics summed over the job's stages."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for line in _event_lines(log_dir):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = {"group": props.get(_GROUP), "submit": ev["Submission Time"] / 1000,
                         "end": None, "run_ms": 0, "cpu_ms": 0.0, "gc_ms": 0,
                         "shuffle_bytes": 0}
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if jid is None or not m:
                continue
            j = jobs[jid]
            j["run_ms"] += m.get("Executor Run Time", 0)
            j["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            j["gc_ms"] += m.get("JVM GC Time", 0)
            j["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
    return jobs


def attach_jobs(spans: list[dict], jobs: dict) -> None:
    """Give each span the jobs launched in its subtree and the engine totals
    (job wall, executor run/CPU/GC time, shuffle bytes written)."""
    by_id = {s["id"]: s for s in spans}
    children: dict[str, list] = {}
    for s in spans:
        s["own_jobs"] = []
        if s["parent"]:
            children.setdefault(s["parent"], []).append(s)
    for job in jobs.values():
        if job["group"] in by_id:
            by_id[job["group"]]["own_jobs"].append(job)

    def subtree_jobs(s):
        out = list(s["own_jobs"])
        for c in children.get(s["id"], []):
            out += subtree_jobs(c)
        return out

    for s in spans:
        js = subtree_jobs(s)
        ivals = sorted((j["submit"], j["end"] or j["submit"]) for j in js)
        busy, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivals:  # union of job intervals
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    busy += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            busy += cur_hi - cur_lo
        s["jobs"] = len(js)
        s["job_ms"] = sum(((j["end"] or j["submit"]) - j["submit"]) * 1000 for j in js)
        s["busy_s"] = min(busy, s["dur"])
        for k in ("run_ms", "cpu_ms", "gc_ms", "shuffle_bytes"):
            s[k] = sum(j[k] for j in js)


def per_layer(spans: list[dict], extra: dict) -> dict[str, float]:
    """The per-layer metrics of metrics.PER_LAYER from a run's spans (with
    jobs attached) plus the values the workload measured directly
    (``extra``).  Spans of the set-up phase count only for the layers that
    run there alone: store create, lake open and io cache misses."""
    from metrics import ENGINE_FIELDS, ENGINE_SPANS, PER_LAYER

    run_spans = [s for s in spans if s.get("phase") != "setup"]

    def pick(name, pool=run_spans, **eq):
        return [s for s in pool if s["name"] == name and all(s.get(k) == v for k, v in eq.items())]

    def mean(xs):
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    by_id = {s["id"]: s for s in spans}
    gets = pick("lake.get")
    get_ids = {s["id"] for s in gets}
    store_gets = [s for s in pick("store.get") if s["parent"] in get_ids]
    hits = [s for s in store_gets if "outcome" not in s]
    queries = pick("query")
    decrypt_ms = sum(s["dur"] for s in pick("crypto.decrypt")
                     if by_id.get(s["parent"], {}).get("parent") in get_ids) * 1000

    out = {
        "io.load_table_ms.hit": mean(s["dur"] * 1000 for s in pick("io.load_table", spans, cache="hit")),
        "io.load_table_ms.miss": mean(s["dur"] * 1000 for s in pick("io.load_table", spans, cache="miss")),
        "io.load_table_calls": len(pick("io.load_table")) / len(queries) if queries else 0.0,
        "queries.build_s": mean(s["dur"] for s in pick("query.build")),
        "queries.exec_s": mean(s["dur"] for s in pick("query.exec")),
        "queries.jobs": mean(s["jobs"] for s in queries),
        "queries.driver_gap_s": mean(s["dur"] - s["busy_s"] for s in queries),
        "lake.put_blobs_s": mean(s["dur"] for s in pick("lake.put_blobs")),
        "lake.get_ms": mean(s["dur"] * 1000 for s in gets),
        "lake.stores_probed_per_get": len(store_gets) / len(gets) if gets else 0.0,
        "store.create_ms": mean(s["dur"] * 1000 for s in pick("store.create", spans)),
        "store.put_blobs_s": mean(s["dur"] for s in pick("store.put_blobs")),
        "store.put_blobs_jobs": mean(s["jobs"] for s in pick("store.put_blobs")),
        "store.compact_s": mean(s["dur"] for s in pick("store.compact")),
        "sink.write_s": mean(s["dur"] for s in pick("sink.write")),
        "sink.write_jobs": mean(s["jobs"] for s in pick("sink.write")),
        "store.get_jobs": mean(s["jobs"] for s in hits),
        "store.get_miss_ms": mean(s["dur"] * 1000 for s in store_gets if s.get("outcome") == "NotFound"),
        "store.get_blobs_s": mean(s["dur"] for s in pick("store.get_blobs")),
        "store.get_blobs_jobs": mean(s["jobs"] for s in pick("store.get_blobs")),
        "crypto.decrypt_ms_per_get": decrypt_ms / len(gets) if gets else 0.0,
        "trace.spans": len(spans),
    }
    for kind in ("raw", "enc", "tree"):
        out[f"store.get_ms.{kind}"] = mean(s["dur"] * 1000 for s in hits if s.get("kind") == kind)
    fields = {"job_ms": "job_ms", "executor_run_ms": "run_ms", "executor_cpu_ms": "cpu_ms",
              "gc_ms": "gc_ms", "shuffle_bytes": "shuffle_bytes"}
    for short, name in ENGINE_SPANS.items():
        ss = pick(name)
        for field in ENGINE_FIELDS:
            out[f"spark.{short}.{field}"] = mean(s[fields[field]] for s in ss)
    out.update(extra)
    # a layer the workload never reaches reads 0: no calls, no time
    return {k: out.get(k, 0.0) for k in PER_LAYER}
