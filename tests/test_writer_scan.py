"""The corpus writer's bookkeeping scans: ``build_manifest`` against an
independent file-level oracle, the txn append's one-scan delta + stats
against the separate ``build_manifest`` + ``collect_file_stats`` calls,
the staged rewrites' one-aggregate file list + delta against a
recomputation from the corpus rows, and upper bounds on the Spark jobs
each verb runs (a regression that re-adds a scan shows up as a count)."""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from bambooai_spark.operators import writer
from bambooai_spark.operators.filestats import (
    collect_file_stats,
    enable_file_stats,
)
from bambooai_spark.operators.writer import (
    _scan_staged,
    append_corpus_txn,
    build_manifest,
    delete_from_corpus,
    merge_corpus,
    update_corpus,
)
from bambooai_spark.session import CODEGEN_CACHE_ENTRIES

PB = ("lang", "source")
# jobs measured at local[8] on test_writer_verbs_scan_once's corpus; a
# separate manifest scan and stats scan (append) and a file-list collect
# apart from the delta aggregate (delete) cost 7 and 3 more jobs
APPEND_JOBS = 11
DELETE_JOBS = 13
T0 = datetime(2024, 1, 1)
SCHEMA = (
    "doc_id long, lang string, source string, text string, n_tok long, "
    "ts timestamp"
)


def _docs(spark, lo, hi, suffix=""):
    rows = [
        (
            i, ("en", "de", "fr")[i % 3], f"s{i % 2}",
            f"document text number {i}{suffix} " * 3, i * 7 % 50,
            T0 + timedelta(hours=i),
        )
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(rows, SCHEMA)


def _jobs(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _oracle_manifest(root, token_col):
    """Per-partition rows/files/bytes/tokens from the files themselves:
    an os.walk of sizes and pyarrow footer row counts."""
    out = {}
    for d, _subdirs, names in os.walk(root):
        rel = os.path.relpath(d, root)
        if any(p.startswith(("_", ".")) for p in rel.split(os.sep)):
            continue
        for n in names:
            if not n.endswith(".parquet"):
                continue
            f = os.path.join(d, n)
            key = tuple(p.split("=", 1)[1] for p in rel.split(os.sep))
            e = out.setdefault(
                key, {"n_rows": 0, "n_files": 0, "n_bytes": 0, "n_tokens": 0}
            )
            meta = pq.ParquetFile(f).metadata
            e["n_rows"] += meta.num_rows
            e["n_files"] += 1
            e["n_bytes"] += os.path.getsize(f)
            if token_col:
                e["n_tokens"] += sum(
                    v for v in pq.read_table(f, columns=[token_col])
                    .column(0).to_pylist() if v is not None
                )
    if not token_col:
        for e in out.values():
            del e["n_tokens"]
    return out


def test_build_manifest_matches_file_oracle(spark, tmp_path):
    """Several partitions, maxRecordsPerFile rollover, and files read in
    more than one task (small row groups + a small maxPartitionBytes), so
    the per-file first-row rule is exercised where a file's rows are
    split across tasks; with and without a token column."""
    root = str(tmp_path / "c")
    (
        _docs(spark, 0, 1300).coalesce(1).write
        .option("maxRecordsPerFile", 150)
        .option("parquet.block.size", 2048)
        .partitionBy(*PB).parquet(root)
    )
    files = [
        os.path.join(d, n) for d, _s, ns in os.walk(root) for n in ns
        if n.endswith(".parquet")
    ]
    assert any(pq.ParquetFile(f).metadata.num_row_groups > 1 for f in files)
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "4096")
    try:
        for token_col in ("n_tok", None):
            df = build_manifest(
                spark, root, partition_by=PB, token_col=token_col
            )
            assert df.rdd.getNumPartitions() == 1
            got = [r.asDict() for r in df.collect()]
            want = _oracle_manifest(root, token_col)
            assert [tuple(r[c] for c in PB) for r in got] == sorted(want)
            for r in got:
                assert {k: v for k, v in r.items() if k not in PB} == want[
                    tuple(r[c] for c in PB)
                ]
            assert sum(r["n_files"] for r in got) == len(files)
            assert any(r["n_files"] > 1 for r in got)  # rollover happened
    finally:
        spark.conf.set(key, prev)


def test_append_scan_matches_separate_calls(spark, tmp_path):
    """One grouped scan gives exactly the delta build_manifest gives and
    byte-identical stats JSON to collect_file_stats on the same staged
    output (string and timestamp stat columns included)."""
    root = str(tmp_path / "staged")
    batch = _docs(spark, 0, 120)
    batch.write.option("maxRecordsPerFile", 9).partitionBy(*PB).parquet(root)
    cols = ["doc_id", "text", "ts", "absent_col"]
    for token_col in ("n_tok", None):
        delta, doc = _scan_staged(
            spark, root, partition_by=PB, token_col=token_col,
            schema=batch.schema, stats_cols=cols, key_prefix="b7-",
        )
        want = [
            r.asDict()
            for r in build_manifest(
                spark, root, partition_by=PB, token_col=token_col,
                schema=batch.schema,
            ).collect()
        ]
        assert delta == want
        assert json.dumps(doc) == json.dumps(
            collect_file_stats(
                spark, root, cols, schema=batch.schema, key_prefix="b7-"
            )
        )
    delta, doc = _scan_staged(
        spark, root, partition_by=PB, token_col="n_tok",
        schema=batch.schema, stats_cols=None, key_prefix="b7-",
    )
    assert doc is None and sum(d["n_rows"] for d in delta) == 120


def _expected_delta(before, after_fn, partition_by):
    """Per-partition (n_rows, n_tokens) delta recomputed from rows:
    ``after_fn`` maps the before-rows (pandas) to the after-rows."""
    after = after_fn(before.copy())
    out = {}
    for sign, frame in ((-1, before), (1, after)):
        for key, g in frame.groupby(list(partition_by)):
            e = out.setdefault(tuple(key), [0, 0])
            e[0] += sign * len(g)
            e[1] += sign * int(g["n_tok"].sum())
    return out


def _captured_delta(monkeypatch):
    seen = []
    real = writer._apply_staged_delete

    def spy(spark, path, tmp, flag, info):
        seen.append(info)
        return real(spark, path, tmp, flag, info)

    monkeypatch.setattr(writer, "_apply_staged_delete", spy)
    return seen


def _as_map(delta):
    return {
        tuple(d[c] for c in PB): [d["n_rows"], d["n_tokens"]] for d in delta
    }


def _matched_files(spark, out, pred) -> int:
    return (
        spark.read.parquet(out).filter(pred)
        .select(F.input_file_name()).distinct().count()
    )


def test_writer_verbs_scan_once(spark, tmp_path, monkeypatch):
    """On a stats-enabled corpus, each verb's Spark jobs stay at their
    one-scan counts (build_manifest is one aggregation: 2 jobs with a
    pinned schema, its shuffle stage and result stage), and the staged
    rewrites' frozen file list and delta equal a recomputation from the
    rows: delete, update assigning the token column, merge with inserts.
    An update's delta lists every partition holding a match, also where
    its token change sums to zero; the recomputation cannot see those,
    so the two are compared on their nonzero rows. Also pins the
    session's codegen cache size."""
    import pandas as pd

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
    out = str(tmp_path / "c")
    append_corpus_txn(
        _docs(spark, 0, 60), out, 0, partition_by=PB,
        max_records_per_file=7, token_col="n_tok",
    )
    enable_file_stats(spark, out, ["doc_id", "text", "ts"])

    j = _jobs(spark)
    build_manifest(
        spark, out, partition_by=PB, token_col="n_tok",
        schema=spark.createDataFrame([], SCHEMA).schema,
    ).collect()
    assert _jobs(spark) - j <= 2

    j = _jobs(spark)
    append_corpus_txn(
        _docs(spark, 60, 120), out, 1, partition_by=PB,
        max_records_per_file=7, token_col="n_tok",
    )
    assert _jobs(spark) - j <= APPEND_JOBS

    seen = _captured_delta(monkeypatch)

    def run(verb, pred, after_fn):
        before = spark.read.parquet(out).toPandas()
        n_files = _matched_files(spark, out, pred) if pred is not None else 0
        j = _jobs(spark)
        verb()
        jobs = _jobs(spark) - j
        info = seen[-1]
        got = _as_map(info["delta"])
        assert len(got) == len(info["delta"])  # one row per partition
        assert info["data_files"] == sorted(set(info["data_files"]))
        if pred is not None:
            assert len(info["data_files"]) == n_files
        want = _expected_delta(before, after_fn, PB)
        assert {k: v for k, v in want.items() if v != [0, 0]} == {
            k: v for k, v in got.items() if v != [0, 0]
        }
        return got, jobs

    pred = F.col("doc_id") % 7 == 1
    got, jobs = run(
        lambda: delete_from_corpus(
            spark, out, pred, partition_by=PB, token_col="n_tok"
        ),
        pred, lambda b: b[b.doc_id % 7 != 1],
    )
    assert jobs <= DELETE_JOBS
    assert all(v[0] < 0 for v in got.values())

    def updated(b):
        b.loc[b.doc_id % 5 == 0, "n_tok"] += 3
        return b

    pred = F.col("doc_id") % 5 == 0
    got, _ = run(
        lambda: update_corpus(
            spark, out, pred, {"n_tok": F.col("n_tok") + 3},
            partition_by=PB, token_col="n_tok",
        ),
        pred, updated,
    )
    assert got and all(v[0] == 0 for v in got.values())

    src = _docs(spark, 100, 130, suffix=" merged")
    srcp = src.toPandas().set_index("doc_id")

    def merged(b):
        b = b.set_index("doc_id")
        hit = srcp.index.intersection(b.index)
        b.loc[hit, ["text", "n_tok"]] = srcp.loc[hit, ["text", "n_tok"]]
        new = srcp.loc[srcp.index.difference(b.index)]
        return pd.concat([b, new]).reset_index()

    got, _ = run(
        lambda: merge_corpus(
            spark, out, src, key_col="doc_id", set_cols=["text", "n_tok"],
            partition_by=PB, token_col="n_tok",
        ),
        None, merged,
    )
    # keys 120..129 are new, and 106 and 113 left with the delete above
    assert sum(v[0] for v in got.values()) == 12


def test_default_parallelism_follows_the_machine(monkeypatch):
    from bambooai_spark.session import default_parallelism

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_parallelism() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_parallelism() == 3
