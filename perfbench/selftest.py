#!/usr/bin/env python3
"""Self-test of the benchmark's output checks: they must accept the
program's real output and reject it once one row is corrupted.

    python3 perfbench/selftest.py

Three cases, each on real program output in an isolated run directory:

- an analyst answer: a bank snippet run by the sandbox executor, checked
  against its DuckDB query, then again with one answer value changed;
- a PQ top-k answer (``knn_pq_embeddings``, which has no oracle SQL):
  checked against numpy cosines, then again with one score changed;
- a corpus: two txn appends checked against the pandas replay, then again
  after one stored row's text is rewritten inside its parquet file.

Exits 0 when every clean check passes and every corrupted one fails.
"""

from __future__ import annotations

import os
import sys

import run


def _verdict(fn) -> str:
    import checks  # noqa: PLC0415

    try:
        fn()
    except checks.CheckFailed as exc:
        return f"rejected ({str(exc).splitlines()[0]})"
    return "accepted"


def _answer_case(spark, data: str) -> list[tuple[str, str, str]]:
    import analyst  # noqa: PLC0415
    import checks  # noqa: PLC0415
    import gen  # noqa: PLC0415

    from bambooai_spark.executor import SparkCodeExecutor  # noqa: PLC0415
    from bambooai_spark.io import load_table  # noqa: PLC0415

    gen.generate(data, 1, sf=analyst.SF, with_lineitem=False)
    question, (code, sql) = next(iter(analyst.BANK.items()))
    res = SparkCodeExecutor().execute(
        code, df=load_table(spark, data, analyst.FRAME), spark=spark)
    got = res.df.toPandas()
    want = checks.duck(data).execute(sql).df()
    bad = got.copy()
    col = bad.columns[-1]
    bad.loc[0, col] = bad.loc[0, col] + 1
    return [
        ("answer, as computed", "accepted",
         _verdict(lambda: checks.same_rows(got, want, question))),
        ("answer, one value changed", "rejected",
         _verdict(lambda: checks.same_rows(bad, want, question))),
    ]


def _knn_case(spark, data: str) -> list[tuple[str, str, str]]:
    import checks  # noqa: PLC0415
    import gen  # noqa: PLC0415

    from bambooai_spark.suite import SPECS  # noqa: PLC0415

    gen.generate(data, 1, n_vecs=1_000)
    spec = next(s for s in SPECS if s.name == "knn_pq_embeddings")
    got = spec.build(spark, data).toPandas()
    bad = got.copy()
    bad.loc[3, "cosine"] = bad.loc[3, "cosine"] - 0.01
    return [
        ("PQ top-k, as computed", "accepted", _verdict(
            lambda: checks.knn_scores(got, data, 0, 10, spec.name))),
        ("PQ top-k, one score changed", "rejected", _verdict(
            lambda: checks.knn_scores(bad, data, 0, 10, spec.name))),
    ]


def _corpus_case(spark, data: str, root: str) -> list[tuple[str, str, str]]:
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.parquet as pq  # noqa: PLC0415

    import checks  # noqa: PLC0415
    import corpus  # noqa: PLC0415

    from bambooai_spark.io import load_table  # noqa: PLC0415
    from bambooai_spark.operators.writer import (  # noqa: PLC0415
        append_corpus_txn,
        read_corpus,
    )
    from pyspark.sql import functions as F  # noqa: PLC0415

    pool = corpus.make_pool(1, data)
    docs = load_table(spark, data, "documents")
    path = os.path.join(root, "corpus")
    replay = checks.CorpusReplay()
    for b, (lo, hi) in enumerate(corpus.plan(1)["batches"]):
        append_corpus_txn(
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            path, b)
        replay.append(pool[(pool["doc_id"] >= lo) & (pool["doc_id"] < hi)])

    def live():
        got = read_corpus(spark, path).toPandas()
        return checks.same_rows(got[replay.COLS], replay.expect(), "corpus")

    clean = _verdict(live)
    victim = sorted(corpus.data_files(corpus.snapshot(path), path))[0]
    table = pq.ParquetFile(victim).read()  # the file alone, no partition columns
    text = table.column("text").to_pylist()
    text[0] = text[0] + " corrupted"
    field = table.schema.get_field_index("text")
    pq.write_table(table.set_column(field, table.schema.field(field),
                                    pa.array(text, type=pa.string())), victim)
    # drop the local filesystem's checksum sidecar, or the read fails on
    # the checksum before any output check sees the row
    crc = os.path.join(os.path.dirname(victim), f".{os.path.basename(victim)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    return [
        ("corpus, as written", "accepted", clean),
        ("corpus, one stored row changed", "rejected", _verdict(live)),
    ]


def main() -> int:
    if not run.import_program():
        return 2
    with run.isolated_session("selftest") as (spark, root):
        results = _answer_case(spark, os.path.join(root, "answer"))
        results += _knn_case(spark, os.path.join(root, "vectors"))
        results += _corpus_case(spark, os.path.join(root, "docs"), root)
    ok = True
    for case, want, got in results:
        good = got.startswith(want)
        ok &= good
        print(f"{'ok ' if good else 'BAD'} {case}: {got}")
    print("selftest passed" if ok else "selftest FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
