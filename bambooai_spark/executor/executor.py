"""SparkCodeExecutor — the sandboxed exec operator (reference A13,
bambooai/code_executor.py:101-215) re-pointed at Spark.

Contract parity with the reference's ``CodeExecutor._execute_local``:

- namespace pre-loaded with the primary table ``df`` (+ ``spark``, and
  ``F``/``Window`` so short generated scripts need no imports);
- stdout captured and returned as the result text;
- on success the (possibly reassigned) ``df`` is **committed** — registered
  as the current version and as temp view ``df`` so follow-up SQL sees it;
- on error the pre-execution ``df`` is returned untouched (**rollback**) with
  a filtered traceback. The reference needs ``df.copy()`` for this
  (code_executor.py:103); Spark DataFrames are immutable lineage, so rollback
  is keeping the old reference — zero cost at any scale;
- generated datasets: code may write files under ``generated_datasets_path``;
  they're harvested into the result. The directories ``execute`` had to
  create for that path are removed again when the run leaves them empty,
  so a run that writes nothing leaves nothing behind.

Versioned views: each successful commit also registers ``df_v{n}`` so earlier
states stay addressable (the reference's single-slot cache can't do this).
"""

from __future__ import annotations

import io
import os
import sys
import threading
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from bambooai_spark.executor.plots import begin_capture, harvest
from bambooai_spark.executor.sanitizer import sanitize
from bambooai_spark.executor.traceback_filter import filter_exec_traceback


class _ThreadRoutedStdout:
    """Per-thread stdout capture. ``contextlib.redirect_stdout`` swaps the
    PROCESS-global ``sys.stdout``, so two sandboxes executing concurrently
    (e.g. two /query threads in one service process) corrupt each other's
    captured output. This proxy routes each write to the buffer registered
    by the CURRENT thread; unregistered threads (Spark callbacks, the
    REPL) pass through to the real stdout."""

    def __init__(self, original):
        self._original = original
        self._buffers: dict[int, io.StringIO] = {}

    def register(self, buf) -> None:
        self._buffers[threading.get_ident()] = buf

    def unregister(self) -> None:
        self._buffers.pop(threading.get_ident(), None)

    def write(self, s):
        target = self._buffers.get(threading.get_ident())
        return (target if target is not None else self._original).write(s)

    def flush(self):
        target = self._buffers.get(threading.get_ident())
        (target if target is not None else self._original).flush()

    def __getattr__(self, name):
        return getattr(self._original, name)


_routed: _ThreadRoutedStdout | None = None
_routed_lock = threading.Lock()


@contextmanager
def _capture_stdout(buf: io.StringIO):
    """Install the routing proxy (once, while any capture is active) and
    register this thread's buffer; the proxy is removed when the last
    concurrent capture exits."""
    global _routed
    with _routed_lock:
        if _routed is None:
            _routed = _ThreadRoutedStdout(sys.stdout)
            sys.stdout = _routed
        _routed.register(buf)
    try:
        yield
    finally:
        with _routed_lock:
            _routed.unregister()
            if not _routed._buffers:
                if sys.stdout is _routed:
                    sys.stdout = _routed._original
                _routed = None


@dataclass
class ExecutionResult:
    df: DataFrame | None          # committed df (new on success, original on error)
    stdout: str | None
    error: str | None             # filtered traceback, None on success
    generated_datasets: list[str] = field(default_factory=list)
    # plots-as-data (reference code_executor.py:143-183): matplotlib →
    # {"data": base64 png, "format": "png"}, plotly → figure json
    plots: list[dict[str, str]] = field(default_factory=list)
    version: int = 0

    @property
    def ok(self) -> bool:
        return self.error is None


class SparkCodeExecutor:
    """Executes generated PySpark scripts against a pre-loaded ``df``."""

    def __init__(
        self,
        *,
        sanitize_code: bool = True,
        validate_plan: bool = True,
        guard_plans: bool = False,
    ):
        self.sanitize_code = sanitize_code
        # eagerly resolve the committed plan (cheap analysis, no execution) so
        # lazy errors surface inside execute() and trigger rollback rather
        # than exploding later in unrelated caller code.
        self.validate_plan = validate_plan
        # optional SURVEY §4 guardrail: reject committed plans containing
        # shapes generated code must never ship (cartesian products)
        self.guard_plans = guard_plans
        self.version = 0
        self._job_group: str | None = None
        self._last_spark: SparkSession | None = None

    def execute(
        self,
        code: str,
        *,
        df: DataFrame | None = None,
        spark: SparkSession | None = None,
        generated_datasets_path: str | None = None,
        extra_vars: dict | None = None,
    ) -> ExecutionResult:
        original_df = df  # rollback point — immutable, no copy needed
        if spark is None and df is not None:
            spark = df.sparkSession
        self._last_spark = spark
        if self.sanitize_code:
            code = sanitize(code)

        made: list[str] = []  # directories created here, deepest first
        if generated_datasets_path:
            d = os.path.abspath(generated_datasets_path)
            while not os.path.exists(d):
                made.append(d)
                d = os.path.dirname(d)
            os.makedirs(generated_datasets_path, exist_ok=True)

        local_vars: dict = {
            "df": df,
            "spark": spark,
            "F": F,
            "Window": Window,
            "_generated_datasets_path": generated_datasets_path,
        }
        if "ps." in code or "pandas_api" in code:
            # pandas-on-Spark compatibility net (SURVEY A13): stray pandas
            # idioms in generated code run distributed via pyspark.pandas.
            # Imported lazily — it's heavy and most generated code is pure
            # DataFrame API.
            import pyspark.pandas as ps  # noqa: PLC0415

            local_vars["ps"] = ps
        local_vars.update(extra_vars or {})

        buf = io.StringIO()
        plot_cap = begin_capture()
        try:
            # tag every Spark job this execution launches so a concurrent
            # cancel() can stop runaway generated code (the engine-side
            # analog of the reference web UI's stop control)
            if spark is not None:
                self._job_group = f"bambooai-exec-{id(self)}-{self.version + 1}"
                spark.sparkContext.setJobGroup(
                    self._job_group, "sandboxed generated code", True
                )
            with _capture_stdout(buf):
                exec(compile(code, "<string>", "exec"), local_vars)  # noqa: S102
            result_df = local_vars.get("df")
            if result_df is not None and type(result_df).__module__.startswith(
                "pyspark.pandas"
            ):
                # code left df as pandas-on-Spark — adopt the Spark frame
                result_df = result_df.to_spark()
            if isinstance(result_df, DataFrame):
                if self.validate_plan:
                    result_df.schema  # forces analysis; raises AnalysisException
                if self.guard_plans:
                    from bambooai_spark.plans import guard_plan

                    reason = guard_plan(result_df)
                    if reason is not None:
                        raise RuntimeError(f"plan guardrail: {reason}")
            elif result_df is not None and not isinstance(result_df, DataFrame):
                raise TypeError(
                    f"generated code rebound df to {type(result_df).__name__}; "
                    "df must remain a pyspark.sql.DataFrame"
                )
            return self._commit(result_df, spark, buf.getvalue(),
                                generated_datasets_path, harvest(plot_cap))
        except Exception:
            exc_type, exc_value, _tb = sys.exc_info()
            filtered = filter_exec_traceback(
                code, traceback.format_exc(), exc_type.__name__, str(exc_value)
            )
            return ExecutionResult(
                df=original_df,
                stdout=None,
                error=filtered,
                version=self.version,
            )
        finally:
            # untag the thread so later caller jobs (res.df.collect() etc.)
            # don't inherit the exec group and get killed by a late cancel()
            if spark is not None:
                spark.sparkContext.setJobGroup("", "")
            self._job_group = None
            plot_cap.close()
            buf.close()
            for d in made:
                try:
                    os.rmdir(d)
                except OSError:
                    break  # holds files, and so do its parents

    def cancel(self) -> bool:
        """Cancel the Spark jobs of the in-flight execution (callable from
        another thread — the reference web UI's stop control). Pure-Python
        loops that never touch Spark cannot be interrupted this way; the
        sanitizer's import blacklist bounds what such code can do."""
        if self._job_group and self._last_spark is not None:
            self._last_spark.sparkContext.cancelJobGroup(self._job_group)
            return True
        return False

    def _commit(
        self,
        result_df: DataFrame | None,
        spark: SparkSession | None,
        stdout: str,
        generated_datasets_path: str | None,
        plots: list[dict[str, str]] | None = None,
    ) -> ExecutionResult:
        if isinstance(result_df, DataFrame):
            self.version += 1
            result_df.createOrReplaceTempView(f"df_v{self.version}")
            result_df.createOrReplaceTempView("df")
        datasets: list[str] = []
        if generated_datasets_path and os.path.isdir(generated_datasets_path):
            for root, _dirs, files in os.walk(generated_datasets_path):
                datasets += [os.path.join(root, f) for f in sorted(files)]
        return ExecutionResult(
            df=result_df,
            stdout=stdout,
            error=None,
            generated_datasets=datasets,
            plots=plots or [],
            version=self.version,
        )
