#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,query} --seed N \
        --seconds S --trace {0,1}

Run from the repository root.  Inputs come from ``--seed``; every input,
store, Spark local dir, temp file and event log of the run lives under one
scratch root inside the checkout, removed on exit.  The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``).  The line before it records the run's settings.
See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up is timed from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager, nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "query")


class Attempt:
    ok = True


class Run:
    """State of one benchmark run: settings, failure counts, the tracer."""

    def __init__(self, args, scratch: str):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.scratch = scratch
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.info: dict = {}
        self.extra: dict = {}  # per-layer values a workload measures itself
        self.kernel_inputs = None  # what workload.kernels() measures, traced runs only
        self.setup_s = None

    def path(self, *parts: str) -> str:
        p = os.path.join(self.scratch, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    @contextmanager
    def attempt(self, what: str):
        """One operation: counted as attempted; failed if it raises or the
        body sets ``ok = False``.  No retries."""
        a = Attempt()
        self.attempted += 1
        try:
            yield a
        except Exception:
            a.ok = False
            self.errors.append(f"{what}: {traceback.format_exc(limit=3)}")
        else:
            if not a.ok:
                self.errors.append(f"{what}: wrong output")
        if not a.ok:
            self.failed += 1

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else nullcontext({})

    def phase(self, name: str, op=None) -> None:
        if name == "measure" and self.setup_s is None:
            self.setup_s = time.perf_counter() - T_START
        if self.tracer:
            self.tracer.phase, self.tracer.op = name, op


def _env(scratch: str, traced: bool) -> None:
    """Point every temp/scratch location of Python, the JVM and Spark into
    the run's scratch root, and turn on the event log for traced runs."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # -XX:-UsePerfData: the JVM would otherwise mmap /tmp/hsperfdata_<user>
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    if traced:
        log_dir = os.path.join(scratch, "eventlog")
        os.makedirs(log_dir)
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false",
                 "--conf", f"spark.eventLog.dir=file://{log_dir}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _stop_spark(spark) -> None:
    """Stop the session, then the py4j gateway JVM, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    scratch = os.path.join(ROOT, ".perfbench_scratch", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(scratch)
    try:
        return _run(args, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass  # another run's scratch root is still there


def _run(args, scratch: str) -> int:
    _env(scratch, bool(args.trace))
    sys.path[:0] = [ROOT, HERE]
    # the package under test: a checkout without it fails here, before any result
    import ps_datalake_spark  # noqa: F401
    import pyarrow
    import pyspark

    import metrics
    from ps_datalake_spark.session import get_spark
    import tracing as tr

    workload = __import__(args.workload)
    r = Run(args, scratch)
    r.info = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "nproc": len(os.sched_getaffinity(0)),
              "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
              "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__}
    os.chdir(scratch)  # spark-warehouse, derby logs and the like land here
    t = time.perf_counter()
    r.spark = get_spark()
    get_spark_s = time.perf_counter() - t
    e2e: dict = {}
    try:
        if r.traced:
            r.tracer = tr.Tracer(r.spark)
            r.tracer.phase = "setup"
            r.tracer.install()
        try:
            e2e = workload.run(r)
        except Exception:
            r.failed += 1
            r.attempted += 1
            r.errors.append(f"workload: {traceback.format_exc()}")
        if r.tracer:
            r.tracer.uninstall()
            r.extra["trace.span_cost_ms"] = tr.span_cost_ms(r.tracer)
            if r.kernel_inputs is not None:
                r.extra.update(workload.kernels(r))
    finally:
        _stop_spark(r.spark)
        os.chdir(ROOT)

    if r.traced:
        spans = r.tracer.spans
        tr.attach_jobs(spans, tr.read_event_log(os.path.join(scratch, "eventlog")))
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        r.tracer.write(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
        r.extra.update({"session.get_spark_s": get_spark_s,
                        "trace.op_p50_ms": e2e.get("op_p50_ms", 0.0),
                        "trace.mb_per_s": e2e.get("mb_per_s", 0.0)})
        values = tr.per_layer(spans, r.extra)
        table = metrics.PER_LAYER
    else:
        values = {"setup_s": r.setup_s or 0.0, **e2e}
        table = metrics.END_TO_END
    for err in r.errors:
        print(err, file=sys.stderr)
    result = {
        "correct": r.failed == 0,
        "attempted": max(r.attempted, 1),
        "failed": r.failed,
        "metrics": {k: {"value": float(values.get(k, 0.0)), "unit": table[k][0]} for k in table},
    }
    print(json.dumps({"run": r.info}))
    print(json.dumps(result), flush=True)
    return 0 if r.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
