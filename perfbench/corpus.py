"""corpus_lifecycle: a maintainer's cycle on a fresh transactional corpus.

Each cycle starts from an empty directory with per-file ``doc_id`` stats
enabled (so filtered reads can skip files) and runs, in order:
``append_corpus_txn`` micro-batches of the documents (exact-fingerprint
admission only), filtered ``read_corpus(where=...)`` reads after each
append, then ``update_corpus``, ``delete_from_corpus``, ``merge_corpus``
and ``compact_corpus``. Every cycle runs the same seeded verbs on the same
documents, so cycles are comparable.

Checks, all untimed (the outputs are collected during the cycle and
compared after the timed cycles): each pruned read equals the full read filtered in
pandas and the pandas replay of the verbs; ``read_corpus(as_of_batch=k)``
counts equal the replay's prefix counts; the live corpus at the end of the
cycle equals the replay.
"""

from __future__ import annotations

import functools
import os
import random
import time

import pandas as pd

import checks
import gen
from loop import Rounds, median, result, run_rounds, timed_start

N_DOCS = 200            # documents appended per cycle
N_BATCHES = 2           # txn micro-batches per cycle
READS_PER_APPEND = 1
READ_WIDTH = 40         # doc_id range of one filtered read
MERGE_INSERTS = 20      # fresh documents the merge inserts


def make_pool(seed: int, data_dir: str) -> pd.DataFrame:
    """Write the seeded documents and return them as pandas."""
    gen.generate(data_dir, seed, n_docs=N_DOCS + MERGE_INSERTS)
    return pd.read_parquet(os.path.join(data_dir, "documents.parquet"))


def plan(seed: int) -> dict:
    """The seeded verb arguments every cycle of a run shares."""
    rng = random.Random(seed)
    cuts = sorted(rng.sample(range(N_DOCS // 4, 3 * N_DOCS // 4), N_BATCHES - 1))
    bounds = [0, *cuts, N_DOCS]
    reads = [
        [rng.randrange(0, bounds[b + 1]) for _ in range(READS_PER_APPEND)]
        for b in range(N_BATCHES)
    ]
    return {"batches": list(zip(bounds, bounds[1:])), "reads": reads}


# the maintenance verbs, as Spark arguments and as their pandas replay
UPD_MOD, UPD_REM = 11, 5
DEL_MOD, DEL_REM = 7, 3
MERGE_MOD = 13
MAINTENANCE = ("update", "delete", "merge", "compact")


def _upd_mask(df):
    return df["doc_id"] % UPD_MOD == UPD_REM


def _del_mask(df):
    return df["doc_id"] % DEL_MOD == DEL_REM


def _where(r0: int) -> list[tuple]:
    """A filtered read's predicate, as triples the file-stats pruner reads."""
    return [("doc_id", ">=", r0), ("doc_id", "<", r0 + READ_WIDTH)]


def _in_range(df: pd.DataFrame, r0: int) -> pd.DataFrame:
    """The same predicate applied in pandas."""
    return df[(df["doc_id"] >= r0) & (df["doc_id"] < r0 + READ_WIDTH)]


def snapshot(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def data_files(snap: dict, root: str) -> list[str]:
    """Live corpus data files: parquet outside the ``_``-prefixed
    bookkeeping directories (ledger, stats, staging, commits)."""
    return [
        p for p in snap
        if p.endswith(".parquet") and not any(
            part.startswith(("_", ".")) for part in
            os.path.relpath(p, root).split(os.sep)
        )
    ]


def written(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) created or rewritten between two snapshots."""
    new = [p for p, v in after.items() if before.get(p) != v]
    return len(new), sum(after[p][0] for p in new)


def run(ctx) -> dict:
    from pyspark.sql import functions as F  # noqa: PLC0415

    from bambooai_spark.io import load_table  # noqa: PLC0415
    from bambooai_spark.operators.filestats import (  # noqa: PLC0415
        enable_file_stats,
    )
    from bambooai_spark.operators.writer import (  # noqa: PLC0415
        append_corpus_txn,
        compact_corpus,
        delete_from_corpus,
        merge_corpus,
        read_corpus,
        update_corpus,
    )

    spark, tr, probe = ctx.spark, ctx.tracer, ctx.probe
    pool = make_pool(ctx.seed, ctx.data_dir)
    docs = load_table(spark, ctx.data_dir, "documents")
    p = plan(ctx.seed)
    pending: list = []  # output checks, run after the timed cycles
    merge_src_rows = pool[pool["doc_id"] >= N_DOCS]
    cycle_figs: list[dict] = []

    def verb(rounds: Rounds, kind: str, root: str, fn):
        """Run one timed verb; traced runs also record its jobs, the files
        and bytes it wrote and the data files it replaced, measured
        outside its timing."""
        if not tr:
            return rounds.op(kind, fn)
        before = snapshot(root)
        exec0 = probe.exec_mark()
        with tr.span(kind) as sp:
            out = rounds.op(kind, fn)
        exec1 = probe.exec_mark()
        after = snapshot(root)
        sp["files_written"], sp["bytes_written"] = written(before, after)
        sp["files_replaced"] = len(set(data_files(before, root))
                                   - set(data_files(after, root)))
        if kind == "read":
            sp["files_scanned"] = probe.files_read(exec0, exec1)
            sp["files_live"] = len(data_files(after, root))
        return out

    def cycle(rounds: Rounds, i: int, label: str, checked: bool = True) -> None:
        root = os.path.join(ctx.run_root, f"corpus-{label}-{i}")
        replay = checks.CorpusReplay()
        row_bytes = 0
        # per-file doc_id stats let the filtered reads skip files
        enable_file_stats(spark, root, ["doc_id"], schema=docs.schema)

        def check(fn, *args) -> None:
            pending.append((f"cycle {label}-{i}", functools.partial(fn, *args)))

        for b, (lo, hi) in enumerate(p["batches"]):
            batch = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            verb(rounds, "append", root, lambda: append_corpus_txn(
                batch, root, b, max_records_per_file=64))
            n0 = len(replay.rows)
            replay.append(pool[(pool["doc_id"] >= lo) & (pool["doc_id"] < hi)])
            added = replay.rows.iloc[n0:]
            row_bytes += int(sum(len(t.encode()) for t in added["text"])
                             + 16 * len(added)
                             + added["lang"].str.len().sum()
                             + added["source"].str.len().sum())
            if not checked:  # the warm-up cycle skips the reads and checks
                continue
            counts = [
                verb(rounds, "read", root, lambda w=_where(r0):
                     read_corpus(spark, root, where=w).count())
                for r0 in p["reads"][b]
            ]
            # untimed: collect each pruned read, the full read and the
            # replay, compared after the timed cycles
            full = read_corpus(spark, root).toPandas()
            want_all = replay.expect()
            for r0, n in zip(p["reads"][b], counts):
                got = read_corpus(spark, root, where=_where(r0)).toPandas()
                want = _in_range(want_all, r0)
                cols = list(want.columns)
                check(checks.same_rows, got[cols], _in_range(full, r0)[cols],
                      "pruned read vs full read")
                check(checks.same_rows, got[cols], want, "pruned read vs replay")
                check(checks.expect, n == len(want),
                      f"read count {n} != {len(want)}")
        for k, want in enumerate(replay.prefix_counts() if checked else []):
            got = read_corpus(spark, root, as_of_batch=k).count()
            check(checks.expect, got == want,
                  f"as_of_batch={k}: {got} rows, replay {want}")

        verb(rounds, "update", root, lambda: update_corpus(
            spark, root, F.col("doc_id") % UPD_MOD == UPD_REM,
            {"source": F.lit("takedown"),
             "text": F.upper(F.substring("text", 1, 40))}))
        replay.update(_upd_mask, {"source": lambda r: "takedown",
                                  "text": lambda r: r["text"][:40].upper()})
        verb(rounds, "delete", root, lambda: delete_from_corpus(
            spark, root, F.col("doc_id") % DEL_MOD == DEL_REM))
        replay.delete(_del_mask)
        live = replay.expect()
        src = pd.concat([
            live[live["doc_id"] % MERGE_MOD == 0].assign(
                text=lambda d: d["text"] + " merged"),
            merge_src_rows,
        ], ignore_index=True)[checks.CorpusReplay.COLS]
        src_df = spark.createDataFrame(src, schema=docs.schema)
        verb(rounds, "merge", root, lambda: merge_corpus(spark, root, src_df))
        replay.merge(src)
        verb(rounds, "compact", root, lambda: compact_corpus(spark, root))

        if checked:
            final = read_corpus(spark, root).toPandas()
            check(checks.same_rows, final[checks.CorpusReplay.COLS],
                  replay.expect(), "live corpus vs replay")
        snap = snapshot(root)
        live_rows = len(replay.rows)
        fig = {
            "stored_bytes_per_row": sum(v[0] for v in snap.values())
            / max(1, live_rows),
            "row_bytes": row_bytes,
            "files_live": len(data_files(snap, root)),
        }
        cycle_figs.append(fig)

    t = time.perf_counter()
    warm = Rounds()
    warm.new_round()
    cycle(warm, 0, "warm", checked=False)  # the timed cycles are checked
    ctx.layers["warmup_s"] = time.perf_counter() - t
    ctx.log(f"warm-up cycle in {ctx.layers['warmup_s']:.2f}s")
    if tr:
        tr.spans.clear()
    cycle_figs.clear()

    rounds = Rounds()
    start = timed_start(ctx)
    wall = run_rounds(ctx.seconds, lambda i: cycle(rounds, i, "timed"), rounds)
    ctx.log(f"{len(rounds.rounds)} timed cycles in {wall:.2f}s")
    if tr:
        _layers(ctx, tr, cycle_figs)
        ctx.layers["append_cpu_s"] = median(rounds.kind("append", cpu=True))
        ctx.layers["read_cpu_s"] = median(rounds.kind("read", cpu=True))
        ctx.layers["maintenance_cpu_s"] = median(
            rounds.per_round(*MAINTENANCE, cpu=True))
    return result(
        ctx, start, rounds, pending, warm,
        append_s=median(rounds.kind("append")),
        read_s=median(rounds.kind("read")),
        maintenance_cycle_s=median(rounds.per_round(*MAINTENANCE)),
        append_cpu_s=median(rounds.kind("append", cpu=True)),
        read_cpu_s=median(rounds.kind("read", cpu=True)),
        maintenance_cycle_cpu_s=median(rounds.per_round(*MAINTENANCE, cpu=True)),
        stored_bytes_per_row=median(
            f["stored_bytes_per_row"] for f in cycle_figs),
    )


def _layers(ctx, tr, cycle_figs: list[dict]) -> None:
    L = ctx.layers
    appends, reads = tr.named("append"), tr.named("read")
    L["append_jobs"] = median(tr.jobs(s) for s in appends)
    L["append_files_written"] = median(s["files_written"] for s in appends)
    L["append_bytes_written"] = median(s["bytes_written"] for s in appends)
    L["read_files_scanned"] = median(s["files_scanned"] for s in reads)
    L["read_prune_ratio"] = median(
        s["files_scanned"] / s["files_live"] for s in reads if s["files_live"])
    # spans come in cycle order: split the maintenance spans per cycle
    maint = [s for s in tr.spans if s["name"] in MAINTENANCE and "t1" in s]
    per_cycle = [maint[i:i + 4] for i in range(0, len(maint), 4)]
    n_app = len(appends) // max(1, len(per_cycle))
    per_app = [appends[i:i + n_app] for i in range(0, len(appends), n_app)]
    L["rewrite_files_touched"] = median(
        sum(s["files_replaced"] for s in c) for c in per_cycle)
    L["maintenance_jobs"] = median(sum(tr.jobs(s) for s in c) for c in per_cycle)
    L["maintenance_bytes_written"] = median(
        sum(s["bytes_written"] for s in c) for c in per_cycle)
    L["write_amplification"] = median(
        (sum(s["bytes_written"] for s in c) + sum(s["bytes_written"] for s in a))
        / f["row_bytes"]
        for c, a, f in zip(per_cycle, per_app, cycle_figs))
    L["files_live"] = median(f["files_live"] for f in cycle_figs)
