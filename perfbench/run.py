#!/usr/bin/env python3
"""spark-bamboo benchmark: one command, three workloads.

    python3 perfbench/run.py --workload analyst_turns --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Each invocation is one process with one
local SparkSession, driven closed-loop by a single client. It generates
its inputs from ``--seed``, warms up untimed, times whole rounds of
operations until ``--seconds`` have passed, checks the outputs against
computations made outside the program, and prints one JSON object as the
last line of stdout::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics named in BENCHMARK.json;
``--trace 1`` wraps each layer's public functions in spans and reports
the per-layer metrics instead. The line before it carries the workload's
own figures (``detail``). See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up time is measured from here

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from contextlib import contextmanager  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS_DIR = ".perfbench_runs"  # per-run scratch under the checkout
WORKLOADS = ("analyst_turns", "batch_operators", "corpus_lifecycle")
CPUS = min(4, len(os.sched_getaffinity(0)))  # local[k], passed to get_session


class Context:
    """What a workload gets: the session, its inputs directory, the seed,
    the run length, and (traced runs only) the tracer."""

    def __init__(self, args):
        self.t_start = T_START
        self.seed = args.seed
        self.seconds = args.seconds
        self.run_root = None
        self.data_dir = None
        self.spark = None
        self.probe = None
        self.tracer = None
        self.layers: dict[str, float] = {}

    def log(self, msg: str) -> None:
        print(f"[perfbench {time.perf_counter() - T_START:7.2f}s] {msg}",
              file=sys.stderr, flush=True)


def _isolate(run_root: str) -> dict[str, str]:
    """Give the run its own temp, Spark-local, warehouse and working
    directories, all under ``run_root`` (the program writes relative to
    the working directory)."""
    dirs = {k: os.path.join(run_root, k)
            for k in ("tmp", "spark-local", "warehouse", "work")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    tempfile.tempdir = None
    os.chdir(dirs["work"])
    return dirs


def _start_session(dirs: dict[str, str]):
    from bambooai_spark.session import get_session  # noqa: PLC0415

    return get_session(
        "perfbench",
        cpus=CPUS,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": dirs["spark-local"],
            "spark.sql.warehouse.dir": dirs["warehouse"],
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']}",
        },
    )


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext  # noqa: PLC0415

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:
                pass
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def import_program() -> bool:
    """Import ``bambooai_spark`` from the checkout this file sits in, and
    from nowhere else."""
    if ROOT not in sys.path:
        sys.path.insert(1, ROOT)
    try:
        import bambooai_spark  # noqa: PLC0415
    except ImportError as exc:
        print(f"perfbench: cannot import bambooai_spark from {ROOT}: {exc}",
              file=sys.stderr)
        return False
    if not os.path.abspath(bambooai_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: bambooai_spark resolved outside the checkout "
              f"({bambooai_spark.__file__})", file=sys.stderr)
        return False
    return True


@contextmanager
def isolated_session(name: str, layers: dict | None = None):
    """A SparkSession in a run directory of its own under the checkout;
    Spark is stopped, its JVM awaited and the directory removed on every
    exit path. Yields ``(spark, run_root)``."""
    run_root = os.path.join(ROOT, RUNS_DIR, f"{name}-{os.getpid()}")
    cwd = os.getcwd()
    spark = None
    try:
        dirs = _isolate(run_root)
        t = time.perf_counter()
        spark = _start_session(dirs)
        if layers is not None:
            layers["session_start_s"] = time.perf_counter() - t
        yield spark, run_root
    finally:
        if spark is not None:
            _stop_session(spark)
        os.chdir(cwd)
        shutil.rmtree(run_root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_root))
        except OSError:
            pass


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not import_program():
        return 2
    spec = _spec()
    ctx = Context(args)
    with isolated_session(args.workload, ctx.layers) as (spark, root):
        ctx.spark, ctx.run_root = spark, root
        ctx.data_dir = os.path.join(root, "data")
        ctx.log(f"session up in {ctx.layers['session_start_s']:.2f}s "
                f"(local[{CPUS}])")
        from probes import SparkProbe, peak_rss_mb  # noqa: PLC0415

        ctx.probe = SparkProbe(spark)
        if args.trace:
            from spans import Tracer  # noqa: PLC0415

            ctx.tracer = Tracer(ctx.probe)
        workload = importlib.import_module(args.workload.split("_")[0])
        result = workload.run(ctx)
        ctx.layers["peak_rss_mb"] = result["e2e"]["peak_rss_mb"] = peak_rss_mb()
    if args.trace:  # tracing overhead = these minus the untraced medians
        ctx.layers["traced_round_s"] = result["e2e"]["round_s"]
        ctx.layers["traced_round_cpu_s"] = result["e2e"]["round_cpu_s"]
        spans = os.path.join(ROOT, RUNS_DIR,
                             f"spans-{args.workload}-{args.seed}.json")
        ctx.tracer.dump(spans)
        ctx.log(f"{len(ctx.tracer.spans)} spans written to {spans}")

    detail = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "cpus": CPUS, **result["e2e"]}
    if args.trace:
        detail["layers"] = ctx.layers
    print(json.dumps({"detail": detail}))
    if args.trace:
        wanted = spec["per_layer"]
        values = {m["name"]: ctx.layers.get(m["name"], 0.0) for m in wanted}
    else:
        wanted = spec["end_to_end"]
        values = {m["name"]: result["e2e"][m["name"]] for m in wanted}
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
