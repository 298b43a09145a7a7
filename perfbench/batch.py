"""batch_operators: repeated passes over three families of suite specs,
each spec built and run through a ``noop`` sink.

The untimed first pass collects every spec's result; after the timed
passes each is checked against the spec's DuckDB oracle SQL over the same
parquet, or, for the approximate kNN spec that has none, against cosines
recomputed in numpy. Every timed pass runs the specs in a seeded order,
so the families interleave and machine drift hits them alike; a pass's
output row count per spec, observed on the ``noop`` write, must equal the
collected count.
"""

from __future__ import annotations

import functools
import random
import time
from contextlib import nullcontext

import checks
import gen
from loop import Rounds, median, result, run_rounds, timed_start
from probes import busy_and_gap

INPUTS = dict(sf=0.01, n_events=20_000, n_docs=500, n_vecs=1_000)
FAMILIES = {
    "analytics": ["q3_top_orders", "sessionize_events"],
    "pair": ["jaccard_pairs_docs"],
    "vector": ["semdedup_embeddings", "knn_cosine_embeddings",
               "knn_pq_embeddings"],
}
FAMILY_OF = {s: f for f, specs in FAMILIES.items() for s in specs}
KNN = {"knn_cosine_embeddings", "knn_pq_embeddings"}  # query 0, k 10


def run(ctx) -> dict:
    from pyspark.sql import Observation  # noqa: PLC0415
    from pyspark.sql import functions as F  # noqa: PLC0415

    from bambooai_spark.caching import release_caches  # noqa: PLC0415
    from bambooai_spark.suite import SPECS  # noqa: PLC0415

    gen.generate(ctx.data_dir, ctx.seed, **INPUTS)
    specs = {s.name: s for s in SPECS if s.name in FAMILY_OF}
    spark, data, tr, probe = ctx.spark, ctx.data_dir, ctx.tracer, ctx.probe
    pending: list = []  # output checks, run after the timed passes
    counts: dict[str, int] = {}
    oracle = functools.cache(lambda: checks.duck(data))

    def check_spec(name: str, got) -> None:
        spec = specs[name]
        if spec.oracle:
            checks.same_rows(got, oracle().execute(spec.oracle).df(), name)
        if name in KNN:
            checks.knn_scores(got, data, query_id=0, k=10, what=name)

    t = time.perf_counter()
    for name in FAMILY_OF:  # warm-up pass: untimed, collects the outputs
        t1 = time.perf_counter()
        try:
            got = specs[name].build(spark, data).toPandas()
            counts[name] = len(got)
            pending.append((name, functools.partial(check_spec, name, got)))
        except Exception as exc:
            msg = f"{name}: warm-up: {type(exc).__name__}: {exc}"[:400]
            pending.append((name, functools.partial(checks.expect, False, msg)))
        finally:
            release_caches()
            ctx.log(f"warmed {name} in {time.perf_counter() - t1:.2f}s")
    ctx.layers["warmup_s"] = time.perf_counter() - t
    ctx.log(f"warm-up pass in {ctx.layers['warmup_s']:.2f}s; rows {counts}")

    rng = random.Random(ctx.seed)
    rounds = Rounds()
    spec_s: dict[str, list[float]] = {}
    start = timed_start(ctx)

    def run_spec(name: str):
        span = tr.span if tr else (lambda *a, **k: nullcontext({}))
        obs = Observation(name)
        with span("spec", spec=name, w0=time.time()) as sp:
            with span("build"):
                df = specs[name].build(spark, data)
            with span("sink"):
                df.observe(obs, F.count(F.lit(1)).alias("rows")) \
                    .write.format("noop").mode("overwrite").save()
        sp["w1"] = time.time()
        rows = obs.get["rows"]
        pending.append((name, functools.partial(
            checks.expect, rows == counts.get(name),
            f"{name}: timed pass wrote {rows} rows, "
            f"warm-up pass {counts.get(name)}")))
        return sp, rows

    traced: list[tuple] = []  # (span, rows, exec ids, pass) per traced spec

    def one_round(i):
        order = list(FAMILY_OF)
        rng.shuffle(order)
        for name in order:
            exec0 = probe.exec_mark() if tr else 0
            t = time.perf_counter()
            out = rounds.op(FAMILY_OF[name], lambda n=name: run_spec(n))
            spec_s.setdefault(name, []).append(time.perf_counter() - t)
            if tr and out:
                traced.append((*out, (exec0, probe.exec_mark()), i))
            release_caches()

    wall = run_rounds(ctx.seconds, one_round, rounds)
    ctx.log(f"{len(rounds.rounds)} timed passes in {wall:.2f}s")
    if tr:  # figures are read back after the timed passes
        figures = [_figures(tr, probe, *t) for t in traced]
        _layers(ctx, figures, rounds)
    return result(
        ctx, start, rounds, pending,
        **{f"{f}_pass_s": median(rounds.per_round(f)) for f in FAMILIES},
        **{f"{f}_pass_cpu_s": median(rounds.per_round(f, cpu=True))
           for f in FAMILIES},
        spec_s={n: round(median(v), 4) for n, v in spec_s.items()})


def _figures(tr, probe, sp: dict, rows: int, execs: tuple[int, int],
             pass_no: int) -> dict:
    """One traced spec run's layer figures."""
    stages = probe.stages(sp["job0"], sp["job1"])
    busy, gap = busy_and_gap(stages, sp["w0"], sp["w1"])
    return {
        "pass": pass_no,
        "family": FAMILY_OF[sp["spec"]],
        "build_s": tr.total("build", sp),
        "sink_s": tr.total("sink", sp),
        "build_jobs": sum(tr.jobs(s) for s in tr.named("build", sp)),
        "jobs": tr.jobs(sp),
        "shuffle_bytes": sum(s["shuffle_bytes"] for s in stages),
        "spill_bytes": sum(s["spill_bytes"] for s in stages),
        "stage_busy_s": busy,
        "gap_s": gap,
        "join_rows": probe.largest_join_rows(*execs),
        "rows": rows,
    }


def _layers(ctx, figures: list[dict], rounds: Rounds) -> None:
    """Per family, the median over passes of each figure summed over the
    family's specs in that pass."""
    n_passes = len(rounds.rounds)
    keys = ("build_s", "sink_s", "build_jobs", "jobs", "shuffle_bytes",
            "spill_bytes", "stage_busy_s", "gap_s")
    for fam in FAMILIES:
        per_pass = [
            [f for f in figures if f["family"] == fam and f["pass"] == p]
            for p in range(n_passes)
        ]
        for k in keys:
            ctx.layers[f"{fam}_{k}"] = median(sum(f[k] for f in fs)
                                              for fs in per_pass)
        ctx.layers[f"{fam}_cpu_s"] = median(rounds.per_round(fam, cpu=True))
    pair = [(sum(f["join_rows"] for f in fs if f["family"] == "pair"),
             sum(f["rows"] for f in fs if f["family"] == "pair"))
            for fs in ([f for f in figures if f["pass"] == p]
                       for p in range(n_passes))]
    ctx.layers["pair_candidate_rows"] = median(c for c, _ in pair)
    ctx.layers["pair_yield"] = median(r / c for c, r in pair if c)
    ctx.layers["vector_fold_rows"] = median(
        sum(f["join_rows"] for f in figures
            if f["family"] == "vector" and f["pass"] == p)
        for p in range(n_passes))
