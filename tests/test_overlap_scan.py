"""Source scan: overlapped Spark work goes through one helper.

``bambooai_spark.session.overlapped`` is the only place allowed to build a
thread pool. A pool built anywhere else would run its Spark jobs outside
the caller's job group (so ``SparkCodeExecutor.cancel()`` could not stop
them), without a phase description, and with its own drain rules. No
Spark session is started here."""

from __future__ import annotations

import pathlib

import bambooai_spark

HELPER = "session.py"


def test_only_the_overlap_helper_builds_a_thread_pool():
    root = pathlib.Path(bambooai_spark.__file__).parent
    offenders = sorted(
        str(p.relative_to(root))
        for p in root.rglob("*.py")
        if "ThreadPoolExecutor" in p.read_text(encoding="utf-8")
        and p.relative_to(root) != pathlib.Path(HELPER)
    )
    assert not offenders, (
        f"{offenders} name ThreadPoolExecutor; run side legs through "
        "bambooai_spark.session.overlapped instead"
    )
    assert "ThreadPoolExecutor" in (root / HELPER).read_text(encoding="utf-8")
