"""SparkSession bootstrap with scale-oriented defaults.

The reference (pgalko/BambooAI) holds one mutable pandas DataFrame in memory
(`bambooai/bambooai.py:117`, `code_executor.py:128-131`); the Spark rebuild
replaces that with a session + catalog. Local testing runs ``local[N]`` but
every default below is chosen for a multi-executor cluster:

- AQE on (runtime partition coalescing, skew-join splitting, dynamic
  broadcast) — the 100 TB safety net for estimation errors.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real cluster
  AQE's coalescing makes the initial number far less sensitive.
- Arrow enabled for the driver-edge conversions (bounded ``toPandas`` for
  previews/plots — the only place data ever reaches the driver).
- Session timezone pinned to UTC so timestamp math is reproducible and
  matches the DuckDB oracle (naive timestamps treated as UTC).
- Generated-code cache raised from Spark's 100 classes to 1000
  (``spark.sql.codegen.cache.maxEntries``, static, so builder-only). One
  corpus maintenance cycle (append, update, delete, merge, compact)
  compiles about 190 distinct classes and one batch-operator round 129,
  so at the default the cache evicts each cycle's classes before the
  next cycle needs them and every cycle recompiles them all.
- Core count defaults to the CPUs this process may run on
  (``SPARK_GRAFT_CPUS`` overrides), not a fixed cluster-sized number.

:func:`overlapped` is the one way operators run Spark work on a side
thread next to the caller's own (the main leg).
"""

from __future__ import annotations

import contextlib
import os
import uuid
from concurrent.futures import ThreadPoolExecutor, wait

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

# Runtime confs applied even to externally-provided sessions (the correctness
# driver constructs its own SparkSession; these are all runtime-settable).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # the testdata events table stores TIMESTAMP(NANOS) parquet, which Spark
    # only reads as raw long nanos (io.py converts them to timestamps)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


# generated classes kept compiled per JVM (Spark's default is 100): one
# corpus maintenance cycle compiles about 190 distinct classes and one
# batch-operator round 129, so at 100 every cycle recompiles them all
CODEGEN_CACHE_ENTRIES = 1000


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (idempotent).

    ``nanosAsLong`` is load-bearing: io.py's ns→us conversion silently
    corrupts timestamps without it, with the failure surfacing far from the
    cause — so verify it actually took effect and fail loudly if not."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            applied = None
            try:
                applied = spark.conf.get(k, None)
            except Exception:
                pass
            if applied != v:
                if k == "spark.sql.legacy.parquet.nanosAsLong":
                    raise RuntimeError(
                        f"required conf {k}={v} could not be applied to this "
                        f"session (got {applied!r}); TIMESTAMP(NANOS) parquet "
                        "columns would be misread — create the session via "
                        "bambooai_spark.get_session or set the conf at build"
                    )
                import warnings

                warnings.warn(f"conf {k}={v} not applied (got {applied!r})")
    return spark


def get_session(
    app_name: str = "bambooai-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession tuned for this engine.

    On a real cluster, drop the ``master`` call and submit with
    ``spark-submit``; everything else carries over unchanged.
    """
    cpus = cpus or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 2 * cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.files.maxPartitionBytes", "256m")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return apply_runtime_confs(spark)


class _Leg:
    """A side leg's future; ``result()`` marks its outcome consumed."""

    __slots__ = ("future", "consumed")

    def __init__(self, future):
        self.future = future
        self.consumed = False

    def result(self):
        self.consumed = True
        return self.future.result()


class Overlap:
    """The handle :func:`overlapped` yields: ``submit(fn, *args)`` starts
    one side leg and returns its :class:`_Leg`. ``tag`` is the job tag
    every side-leg job of this scope carries."""

    def __init__(self, spark: SparkSession, phase: str, pool) -> None:
        self.phase = phase
        self.tag = f"bbai-overlap-{uuid.uuid4().hex}"
        self.legs: list[_Leg] = []
        self._spark = spark
        self._pool = pool

    def submit(self, fn, *args) -> _Leg:
        # made per submit, here in the caller's thread: the wrapper clones
        # the caller's local properties once and installs that one
        # Properties object in whichever thread runs it, so a shared
        # wrapper would share it across legs. It wraps a no-op and runs
        # before fn, not around it, because PySpark names a job after the
        # outermost pyspark frame on the stack: around fn, every side-leg
        # job would be named after the wrapper instead of fn's own call.
        inherit = inheritable_thread_target(self._spark)(lambda: None)
        leg = _Leg(self._pool.submit(self._run, inherit, fn, args))
        self.legs.append(leg)
        return leg

    def _run(self, inherit, fn, args):
        inherit()
        sc = self._spark.sparkContext
        sc.setJobDescription(
            f"{self.phase}: {getattr(fn, '__name__', type(fn).__name__)}"
        )
        sc.addJobTag(self.tag)
        return fn(*args)


@contextlib.contextmanager
def overlapped(spark: SparkSession, phase: str, max_workers: int = 1):
    """Run side legs of Spark work on ``max_workers`` driver threads while
    the ``with`` body (the main leg) runs its own::

        with overlapped(spark, "merge_corpus") as ov:
            ffiles = ov.submit(_files_and_delta, matches, keys, aggs)
            ...  # main-leg jobs
            files, delta = ffiles.result()

    Contract:

    - **Inheritance.** Each leg runs with a copy of the local properties
      the caller had at ``submit``: its job group (so
      ``cancelJobGroup``, e.g. ``SparkCodeExecutor.cancel()``, reaches
      side-leg jobs too), interrupt-on-cancel flag, scheduler pool and
      session tags. A plain pool thread carries none of them in
      pinned-thread mode.
    - **Attribution.** Each leg's jobs carry the description
      ``"<phase>: <leg function name>"`` and the scope's job tag
      (``Overlap.tag``), so the status store names the phase of every
      overlapped job.
    - **Failing main leg.** If the body raises, queued legs are dropped,
      running legs' jobs are cancelled by tag (re-issued until every leg
      has returned, since a leg may start a job after a cancel), and
      only then does the body's exception propagate; a side leg's own
      error is discarded in its favour. Cancelling rather than waiting
      is safe for every writer caller: side legs only write staged
      outputs, which stay invisible until the freeze that the failed
      main leg never reaches, and waiting would run a whole job for a
      result nobody reads.
    - **Normal exit.** Every leg is waited for, and the first side-leg
      failure whose ``result()`` was never called is raised, so no
      error is lost in a worker thread.
    """
    pool = ThreadPoolExecutor(max_workers=max_workers)
    ov = Overlap(spark, phase, pool)
    try:
        yield ov
    except BaseException:
        for leg in ov.legs:
            leg.future.cancel()  # not yet started: never starts
        pending = {leg.future for leg in ov.legs}
        while pending:
            # the body's exception wins, even over a stopped context
            with contextlib.suppress(Exception):
                spark.sparkContext.cancelJobsWithTag(ov.tag)
            _done, pending = wait(pending, timeout=0.25)
        raise
    finally:
        pool.shutdown(wait=True)
    for leg in ov.legs:
        if not leg.consumed:
            leg.result()
