"""Executor sandbox corpus (SURVEY §5 fixed-script strategy): pre-generated
PySpark scripts exercising execute/commit/rollback, the sanitizer rules, and
the traceback filter — the reference's A13-A15 contract on Spark."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from bambooai_spark.executor import (
    SparkCodeExecutor,
    extract_code,
    filter_exec_traceback,
)
from bambooai_spark.executor.sanitizer import sanitize
from bambooai_spark.io import load_table
from tests.conftest import SF_DIR


@pytest.fixture()
def orders(spark):
    return load_table(spark, SF_DIR, "orders")


# ---------------------------------------------------------------- execute


def test_execute_mutates_df(spark, orders):
    ex = SparkCodeExecutor()
    code = (
        "df = df.groupBy('o_orderpriority')"
        ".agg(F.count(F.lit(1)).alias('n'))"
    )
    res = ex.execute(code, df=orders, spark=spark)
    assert res.ok, res.error
    assert set(res.df.columns) == {"o_orderpriority", "n"}
    assert res.df.count() == 5
    # committed as temp view "df" and versioned view
    assert spark.sql("SELECT * FROM df").count() == 5
    assert spark.sql(f"SELECT * FROM df_v{res.version}").count() == 5


def test_execute_captures_stdout(spark, orders):
    ex = SparkCodeExecutor()
    res = ex.execute("print('rows:', df.limit(5).count())", df=orders)
    assert res.ok
    assert res.stdout.startswith("rows:")


def test_execute_rolls_back_on_error(spark, orders):
    ex = SparkCodeExecutor()
    code = "df = df.select('no_such_column')\nprint('unreachable')"
    res = ex.execute(code, df=orders, spark=spark)
    assert not res.ok
    assert res.df is orders  # rollback: the original reference, untouched
    assert res.stdout is None
    assert "no_such_column" in res.error or "UNRESOLVED" in res.error


def test_execute_rolls_back_on_lazy_analysis_error(spark, orders):
    # an invalid plan built but never executed inside the script must still
    # fail inside execute() (validate_plan resolves it) and roll back
    ex = SparkCodeExecutor()
    res = ex.execute("df = df.filter(F.col('ghost') > 0)", df=orders)
    assert not res.ok
    assert res.df is orders


def test_execute_rejects_non_dataframe_rebind(spark, orders):
    ex = SparkCodeExecutor()
    res = ex.execute("df = 42", df=orders)
    assert not res.ok
    assert "must remain" in res.error


def test_execute_python_error_has_excerpt(spark, orders):
    ex = SparkCodeExecutor()
    code = "x = 1\ny = 0\nz = x / y\n"
    res = ex.execute(code, df=orders)
    assert not res.ok
    assert "ZeroDivisionError" in res.error
    assert "--> z = x / y" in res.error


def test_versioning_increments(spark, orders):
    ex = SparkCodeExecutor()
    r1 = ex.execute("df = df.limit(10)", df=orders)
    r2 = ex.execute("df = df.limit(5)", df=r1.df)
    assert (r1.version, r2.version) == (1, 2)
    assert spark.sql("SELECT * FROM df").count() == 5
    assert spark.sql(f"SELECT * FROM df_v{r1.version}").count() == 10


def test_generated_datasets_harvest(spark, orders, tmp_path):
    ex = SparkCodeExecutor()
    out = str(tmp_path / "gen")
    code = (
        "df.limit(3).write.mode('overwrite')"
        ".parquet(_generated_datasets_path + '/top3')"
    )
    res = ex.execute(code, df=orders, generated_datasets_path=out)
    assert res.ok, res.error
    assert any(p.endswith(".parquet") for p in res.generated_datasets)


def test_generated_datasets_dirs_removed_when_empty(
    spark, orders, tmp_path, monkeypatch
):
    """The facade's relative ``datasets/generated/<thread>`` path: a run
    that writes nothing leaves no ``datasets/`` in the working directory,
    a run that writes a file keeps it, and a directory that existed before
    the run is never removed."""
    monkeypatch.chdir(tmp_path)
    gen = os.path.join("datasets", "generated", "t1")
    ex = SparkCodeExecutor()
    assert ex.execute("x = 1", df=orders, generated_datasets_path=gen).ok
    assert not os.path.exists("datasets")
    bad = ex.execute("raise ValueError('no')", df=orders,
                     generated_datasets_path=gen)
    assert not bad.ok and not os.path.exists("datasets")

    code = (
        "open(_generated_datasets_path + '/out.csv', 'w').write('a\\n')"
    )
    res = ex.execute(code, df=orders, generated_datasets_path=gen)
    assert res.ok, res.error
    assert res.generated_datasets == [os.path.join(gen, "out.csv")]
    assert os.path.isfile(os.path.join(gen, "out.csv"))

    os.makedirs("kept")
    ex.execute("x = 1", df=orders, generated_datasets_path="kept/new")
    assert os.path.isdir("kept") and not os.path.exists("kept/new")


# ---------------------------------------------------------------- sanitizer


def test_sanitizer_blocks_blacklisted_imports():
    out = sanitize("import subprocess\nimport os\nx = 1")
    assert "# not allowed (blacklisted name): import subprocess" in out
    assert "import os" in out.splitlines()[1]


def test_sanitizer_blocks_inline_dangerous_calls():
    # reference reg_ex matches blacklisted names on every line, not only
    # imports; Spark-side tokens catch process/filesystem escapes
    out = sanitize("x = pickle.loads(b)\ny = os.system('ls')\nz = eval('1')")
    lines = out.splitlines()
    assert lines[0].startswith("# not allowed (blacklisted name)")
    assert lines[1].startswith("# not allowed (session control)") or "os.system" in lines[1] and lines[1].startswith("#")
    assert lines[2].startswith("#")


def test_sanitizer_idempotent_on_neutralized_lines():
    once = sanitize("spark.stop()\ndf = pd.DataFrame({'a': [1]})")
    assert sanitize(once) == once


def test_sanitizer_blocks_unbounded_collect():
    out = sanitize("rows = df.collect()\npdf = df.toPandas()")
    assert all(l.startswith("# not allowed (unbounded collect") for l in out.splitlines())


def test_sanitizer_allows_bounded_collect():
    code = "rows = df.limit(10).collect()\npdf = df.limit(100).toPandas()"
    assert sanitize(code) == code


def test_sanitizer_blocks_session_stop():
    out = sanitize("spark.stop()")
    assert out.startswith("# not allowed (session control)")


def test_sanitizer_blocks_df_clobber():
    out = sanitize("df = pd.DataFrame({'a': [1]})")
    assert out.startswith("# not allowed (df is pre-loaded")


def test_sanitizer_strips_main_block():
    code = (
        "def run(df):\n    return df.limit(1)\n\n"
        "if __name__ == '__main__':\n    df = run(df)\n    print('ok')"
    )
    out = sanitize(code)
    assert "__main__" not in out
    assert "df = run(df)" in out
    assert "print('ok')" in out


def test_sanitized_collect_guard_executes(spark, orders):
    # end-to-end: sanitizer comments the bad line, script still runs
    ex = SparkCodeExecutor()
    code = "all_rows = df.collect()\ndf = df.limit(7)"
    res = ex.execute(code, df=orders, spark=spark)
    assert res.ok, res.error
    assert res.df.count() == 7


# ---------------------------------------------------------------- extraction


def test_extract_code_python_fence():
    resp = "Here you go:\n```python\ndf = df.limit(1)\n```\nDone."
    assert extract_code(resp) == "df = df.limit(1)"


def test_extract_code_python_fences_take_precedence():
    # reference reg_ex.py:68-72 — python fences first, bare only as fallback
    resp = "```\nx = 1\n```\ntext\n```python\ny = 2\n```"
    assert extract_code(resp) == "y = 2"
    assert extract_code("```\nx = 1\n```") == "x = 1"


def test_extract_code_multiple_python_blocks():
    resp = "```python\nx = 1\n```\ntext\n```python\ny = 2\n```"
    assert extract_code(resp) == "x = 1\n\ny = 2"


def test_extract_code_no_fence_passthrough():
    assert extract_code("df = df.limit(3)") == "df = df.limit(3)"


# ---------------------------------------------------------------- traceback


def test_traceback_filter_truncates_jvm_wall():
    noise = "org.apache.spark.SparkException: boom\n" + "\n".join(
        f"\tat org.apache.spark.Foo.bar(Foo.scala:{i})" for i in range(200)
    )
    out = filter_exec_traceback("df = df", "no <string> frames", "Py4JJavaError", noise)
    assert len(out) <= 1100
    assert "boom" in out
    assert "Foo.scala" not in out


def test_pandas_on_spark_compatibility_net(spark, orders):
    """SURVEY A13: stray pandas idioms run distributed via pyspark.pandas;
    a ps.DataFrame left in df is adopted back as a Spark DataFrame."""
    ex = SparkCodeExecutor()
    code = (
        "pdf = df.pandas_api()\n"
        "counts = pdf.groupby('o_orderpriority').size()\n"
        "df = counts.to_frame('n').reset_index()\n"
    )
    res = ex.execute(code, df=orders, spark=spark)
    assert res.ok, res.error
    assert res.df.count() == 5
    assert set(res.df.columns) == {"o_orderpriority", "n"}


# ---------------------------------------------------------------- plot harvest
# (reference code_executor.py:30-76,143-183 — plots-as-data; neither plotting
# lib ships in this container, so the real import-resolution path is driven
# with minimal fakes installed in sys.modules)


class _FakeFigure:
    def __init__(self, num, with_axes=True):
        self.number = num
        self.axes = [object()] if with_axes else []

    def savefig(self, buf, format):  # noqa: A002 — matplotlib's kw name
        assert format == "png"
        buf.write(b"PNGBYTES-%d" % self.number)


class _FakePlotlyFig:
    def to_json(self):
        return '{"data": [], "layout": {"title": "fake"}}'


@pytest.fixture()
def fake_plot_libs(monkeypatch):
    import sys
    import types

    figs: dict[int, _FakeFigure] = {}
    mpl = types.ModuleType("matplotlib")
    plt = types.ModuleType("matplotlib.pyplot")
    mpl.use = lambda *a, **k: None
    mpl.pyplot = plt

    def _figure(num=None, with_axes=True):
        if num is None:
            num = max(figs, default=0) + 1
        if num not in figs:
            figs[num] = _FakeFigure(num, with_axes)
        return figs[num]

    plt.ioff = lambda: None
    plt.get_fignums = lambda: sorted(figs)
    plt.figure = _figure
    plt.close = lambda fig: figs.pop(fig.number, None)

    plotly = types.ModuleType("plotly")
    pio = types.ModuleType("plotly.io")

    def _browser_show(fig, *a, **k):
        raise RuntimeError("would open a browser")

    pio.show = _browser_show
    plotly.io = pio

    monkeypatch.setitem(sys.modules, "matplotlib", mpl)
    monkeypatch.setitem(sys.modules, "matplotlib.pyplot", plt)
    monkeypatch.setitem(sys.modules, "plotly", plotly)
    monkeypatch.setitem(sys.modules, "plotly.io", pio)
    return types.SimpleNamespace(plt=plt, pio=pio, figs=figs,
                                 browser_show=_browser_show)


def test_matplotlib_figures_harvested_as_base64_png(spark, orders, fake_plot_libs):
    """Generated code that draws a matplotlib figure gets it back as
    {"data": base64 png, "format": "png"} (reference code_executor.py:143-156),
    and the figure is closed so state never leaks across executions."""
    import base64

    ex = SparkCodeExecutor()
    code = (
        "import matplotlib.pyplot as plt\n"
        "fig = plt.figure()\n"
        "print(df.count())\n"
    )
    res = ex.execute(code, df=orders, spark=spark)
    assert res.ok, res.error
    assert len(res.plots) == 1
    assert res.plots[0]["format"] == "png"
    assert base64.b64decode(res.plots[0]["data"]).startswith(b"PNGBYTES-")
    assert fake_plot_libs.figs == {}  # closed after harvest


def test_axisless_and_preexisting_figures_skipped(spark, orders, fake_plot_libs):
    """Blank figures (no axes) and figures that existed before execute()
    are not harvested — only what the generated code actually drew."""
    fake_plot_libs.plt.figure(99)  # pre-existing, must survive untouched
    ex = SparkCodeExecutor()
    code = (
        "import matplotlib.pyplot as plt\n"
        "plt.figure(1)\n"
        "plt.figure(2, with_axes=False)\n"
    )
    res = ex.execute(code, df=orders, spark=spark)
    assert res.ok, res.error
    assert len(res.plots) == 1
    assert 99 in fake_plot_libs.figs


def test_plotly_show_harvested_as_json_and_restored(spark, orders, fake_plot_libs):
    """pio.show is patched during exec (figure json harvested instead of a
    browser opening — reference code_executor.py:49-69) and restored after."""
    import json

    ex = SparkCodeExecutor()
    code = (
        "import plotly.io as pio\n"
        "pio.show(FIG)\n"
    )
    res = ex.execute(code, df=orders, spark=spark,
                     extra_vars={"FIG": _FakePlotlyFig()})
    assert res.ok, res.error
    assert [p["format"] for p in res.plots] == ["json"]
    assert json.loads(res.plots[0]["data"])["layout"]["title"] == "fake"
    assert fake_plot_libs.pio.show is fake_plot_libs.browser_show


def test_plot_patch_restored_after_error(spark, orders, fake_plot_libs):
    """Rollback path still restores pio.show and drops no state."""
    ex = SparkCodeExecutor()
    res = ex.execute("raise ValueError('boom')", df=orders, spark=spark)
    assert not res.ok
    assert res.plots == []
    assert fake_plot_libs.pio.show is fake_plot_libs.browser_show


def test_plots_empty_when_libs_absent(spark, orders):
    """Without matplotlib/plotly installed the harvest degrades to []."""
    ex = SparkCodeExecutor()
    res = ex.execute("df = df.limit(5)", df=orders, spark=spark)
    assert res.ok
    assert res.plots == []


def test_sanitizer_rejects_huge_or_variable_bounds():
    """A literal bound over the cap, or a runtime-variable bound, does not
    unlock collect-to-driver; small literals and no-arg first()/head() do."""
    assert "not allowed" in sanitize("df.limit(10000000).collect()")
    assert "not allowed" in sanitize("df.take(n).collect()")
    assert "not allowed" in sanitize("rows = df.head(999_999).collect()")
    assert sanitize("df.limit(100).collect()") == "df.limit(100).collect()"
    assert sanitize("df.first()") == "df.first()"
    assert sanitize("pdf = df.limit(1_000).toPandas()") == (
        "pdf = df.limit(1_000).toPandas()"
    )


def test_sanitizer_bound_must_share_chain_with_collect():
    """A bound elsewhere on the line does not legitimize an unrelated
    unbounded collect — the bound has to sit in the same method chain,
    with only simple chained calls between it and the collect token."""
    # unrelated statement's first() must not unlock the collect
    assert "not allowed" in sanitize("x = df.first(); rows = df.collect()")
    # bound AFTER the collect is not a bound on it
    assert "not allowed" in sanitize("rows = df.collect(); y = df.limit(10)")
    # chained intermediates between bound and collect are fine
    assert sanitize("rows = df.limit(50).cache().collect()") == (
        "rows = df.limit(50).cache().collect()"
    )
    # two collects: each needs its own in-chain bound
    assert "not allowed" in sanitize(
        "a = df.limit(5).collect(); b = df.collect()"
    )
    assert sanitize("a = df.limit(5).collect(); b = df.take(3)") == (
        "a = df.limit(5).collect(); b = df.take(3)"
    )


def test_sanitizer_rejects_row_multiplying_calls_after_bound():
    """A row-multiplying call between the bound and the collect voids the
    bound: .limit(100).crossJoin(other) collects 100 x |other| rows."""
    assert "not allowed" in sanitize(
        "rows = df.limit(100).crossJoin(other).toPandas()"
    )
    assert "not allowed" in sanitize(
        "rows = df.limit(100).join(other).collect()"
    )
    assert "not allowed" in sanitize(
        "rows = df.limit(100).union(other).collect()"
    )
    # generator expressions multiply rows even inside whitelisted select
    assert "not allowed" in sanitize(
        "rows = df.limit(100).select(explode(arr)).collect()"
    )
    # row-preserving projections/filters between bound and collect stay fine
    assert sanitize("rows = df.limit(100).select('a').toPandas()") == (
        "rows = df.limit(100).select('a').toPandas()"
    )
    assert sanitize("rows = df.limit(100).filter(c > 0).collect()") == (
        "rows = df.limit(100).filter(c > 0).collect()"
    )
    # explode BEFORE the bound is fine — the limit re-bounds the rows
    assert sanitize(
        "rows = df.select(explode(arr)).limit(100).collect()"
    ) == "rows = df.select(explode(arr)).limit(100).collect()"
