"""KG-construction benchmark: one command, three workloads.

    python3 perfbench/run.py --workload kg_extract --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The run generates its
inputs from ``--seed``, starts one local Spark session on every core this
process may use, sets up and warms the workload, measures it for
``--seconds`` seconds, checks its outputs and prints one JSON object as the
last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of the named workload.
``--trace 1`` traces one pass of every workload, so that one run covers
every layer, and reports the per-layer metrics; its spans are written to
``.perfbench/traces/``. Everything the run writes stays under ``.perfbench/``
in the checkout. See perfbench/README.md for the metrics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("kg_extract", "kg_batch", "kg_sink")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Point Spark, the JVM and Python temp files into the run's work
    directory, and let Spark's Python workers import the package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--driver-java-options "
        + shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        + " pyspark-shell"
    )
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    os.environ.pop("SPARK_TESTING", None)  # it would switch the status UI off


class Session:
    """The run's one Spark session and the processes behind it."""

    def __init__(self, cores: int):
        from pyspark import SparkContext

        from nlp_series_relation_extraction_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark(master=f"local[{cores}]")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t
        self.jvm = SparkContext._gateway.proc
        t = time.perf_counter()
        # python worker warm-up: one task per core through a Python UDF
        self.spark.range(0, cores, numPartitions=cores).mapInPandas(
            lambda it: it, "id long"
        ).collect()
        self.warm_s = time.perf_counter() - t

    def peak_rss_mb(self) -> dict:
        from sparkstats import peak_rss_mb

        return {
            "process.peak_rss_mb.jvm": peak_rss_mb(self.jvm.pid),
            "process.peak_rss_mb.python": peak_rss_mb(os.getpid()),
        }

    def stop(self) -> None:
        """Stop Spark and wait until the JVM and its Python workers end."""
        from pyspark import SparkContext

        from sparkstats import descendants

        kids = descendants(self.jvm.pid)
        try:
            self.spark.stop()
            SparkContext._gateway.shutdown()
        finally:
            self.jvm.stdin.close()  # the gateway exits on stdin EOF
            try:
                self.jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.jvm.kill()
                self.jvm.wait()
            deadline = time.monotonic() + 30
            for pid in kids:
                while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                    time.sleep(0.1)
                if os.path.exists(f"/proc/{pid}"):
                    try:
                        os.kill(pid, 9)
                    except ProcessLookupError:
                        pass


def untraced(ctx, session, workload_cls, seconds: float):
    w = workload_cls(ctx)
    t = time.perf_counter()
    w.setup()
    w.warm()
    setup_s = session.start_s + session.warm_s + time.perf_counter() - t
    res = w.run(seconds)
    w.check()
    detail = ", ".join(f"{k}={v:.6g}" for k, v in res["detail"].items())
    print(f"{w.name}: setup_s={setup_s:.3f} turns_per_s={res['turns_per_s']:.1f} "
          f"op_p50_s={res['op_p50_s']:.4f} {detail}")
    return {
        "setup_s": setup_s,
        "turns_per_s": res["turns_per_s"],
        "op_p50_s": res["op_p50_s"],
    }


def traced(ctx, session, first: str):
    from workloads import WORKLOADS

    m = {"session.start_s": session.start_s, "session.warm_s": session.warm_s}
    order = [first] + [n for n in WORKLOADS if n != first]
    for name in order:
        w = WORKLOADS[name](ctx)
        with ctx.tracer.span(f"setup.{name}"):
            w.setup()
            w.warm()
        w.traced(m)
        w.check()
    m["sources.gen_s"] = ctx.gen_s
    m.update(session.peak_rss_mb())
    m["trace.spans"] = len(ctx.tracer.spans)
    return m


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    os.chdir(ROOT)
    sys.path.insert(1, ROOT)
    try:
        import pyspark  # noqa: F401

        import nlp_series_relation_extraction_spark.session  # noqa: F401
    except ImportError as e:
        print(f"cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    from metrics import END_TO_END, PER_LAYER, UNITS
    from tracing import Tracer

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench", run_id)
    isolate(work)
    cores = len(os.sched_getaffinity(0))
    session = Session(cores)
    try:
        from workloads import WORKLOADS, Ctx

        tracer = Tracer(run_id, session.spark.sparkContext) if args.trace else None
        ctx = Ctx(session.spark, tracer, work, args.seed, cores)
        if args.trace:
            values = traced(ctx, session, args.workload)
            expected = [n for n, *_ in PER_LAYER]
            traces = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(traces, exist_ok=True)
            tracer.write(os.path.join(traces, run_id + ".json"))
        else:
            values = untraced(ctx, session, WORKLOADS[args.workload], args.seconds)
            expected = [n for n, *_ in END_TO_END]
        values["ops_ok_share"] = 1.0 - ctx.failed / max(ctx.attempted, 1)
    finally:
        session.stop()
        shutil.rmtree(work, ignore_errors=True)
    missing = [n for n in expected if not math.isfinite(values.get(n, math.nan))]
    if missing:
        print(f"metrics not measured: {missing}", file=sys.stderr)
    result = {
        "correct": ctx.failed == 0 and not missing,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {
            n: {"value": values[n], "unit": UNITS[n]} for n in expected if n not in missing
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
