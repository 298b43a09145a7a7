#!/usr/bin/env python3
"""Compute-bound 10x bench tier (VERDICT r13 #2).

At sf0.1 on local[32] every headline query is scheduler/fixed-cost
bound, so the driver's 8-vs-32-core probe cannot resolve parallelism
(77/78 ratios ~1 in r13). This tool gives optimization decisions a
tier where compute dominates:

- synthesizes a seeded ~REPLICAS x sf0.1 documents/embeddings set
  (untracked, under /tmp) with the stress10x duplicate-density-
  preserving recipe — replica k suffixes every whitespace token except
  ``the`` with ``r<k>`` so within-replica dup structure is isomorphic
  to the base while nothing aliases across replicas; embeddings get a
  seeded componentwise sign flip (orthogonal reflection: within-replica
  inner products exactly preserved);
- symlinks the remaining sf0.1 tables beside them so any spec builds;
- runs the HEAVY docs/embeddings bench specs through bench.py itself
  (same methodology: noop sink, warm-up + min-of-iters) at two core
  counts, each in its own process/JVM;
- writes BENCH_10X_r14.json (committed) with per-query minima and the
  low/high-core ratio per query.

The synthetic dir's basename parses as sf=-1, so bench.py's full-scale
sidecar/carried machinery never fires (subset runs are guarded too).

Usage: python tools/bench10x.py [--cpus N,N/2] [--out BENCH_10X_r14.json]
       [--only name1,name2]   (default: the heavy-spec sets below)
``--cpus`` defaults to ``session.default_parallelism()`` (the CPUs this
process may run on) and half of it.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPLICAS = int(os.environ.get("SPARK_GRAFT_STRESS_REPLICAS", "10"))
BASE = os.path.join(tempfile.gettempdir(), f"bbai_bench{REPLICAS}x")

#: scan-regime heavy specs (timed with 2 iterations + warm-up)
SCAN_SPECS = [
    "exact_cut_docs",
    "exact_spans_docs",
    "contamination_fraction_docs",
    "contamination_spans_docs",
    "dedup_clusters_docs",
    # jaccard_blocked_docs is EXCLUDED by design, not oversight: the spec
    # force-pins strategy="dense" with a 1024-doc block grid — the
    # deliberately-pathological plan whose sf0.1 row exists to track the
    # blocked fallback's constant factors. At 10x that plan is
    # ~50k^2/2 pair evaluations x ceil(9310/64)=146 zip_with terms
    # (~1.9e11 word-ops through the interpreted array-mask layout):
    # hours per iteration, and the AUTO dispatch never picks it on this
    # corpus (jaccard_pairs_docs routes to the index join here — the
    # cost model this round extended to winnow). Measuring a forced
    # worst case at 10x yields no optimization signal.
    "jaccard_pairs_docs",
    # winnow_pairs_docs is EXCLUDED: measured at the tier (r14 probe),
    # the spec is inherently quadratic on this corpus at 10x — the
    # replica transform spares the token "the", so "the"-bearing char
    # 5-grams recur in EVERY replica and the window-minimum selection
    # concentrates fingerprints on them: V=2289 but sum(df^2)=4.4e10,
    # while the dense product is dense_ops=4.5e10 — BOTH exact plans
    # are >=1e10-op jobs (the cost dispatch rightly picks dense, and a
    # warm-up iteration alone ran >20 min on 32 cores). The spec bench-
    # marks winnow WITHOUT its designed hot-fingerprint mitigation
    # (max_doc_freq), so at this scale it measures the corpus shape,
    # not the operator. sf0.1 keeps pricing it; the skew cap is the
    # 100 TB answer.
    "passage_dup_docs",
    "minhash_near_dup_docs",
    "tfidf_docs",
    "repetition_docs",
    "semdedup_embeddings",
    "cluster_profile_embeddings",
    "knn_pq_embeddings",
    "audio_features_docs",
    "video_dhash_docs",
    "surgery_warm_cut_docs",
    "pack_skew_docs",
]

#: lifecycle specs (write whole corpora inside the timed window —
#: 1 iteration + warm-up keeps the tier under an hour)
LIFECYCLE_SPECS = [
    "surgery_corpus_docs",
    "surgery_delta_cut_docs",
    "curation_pipeline_docs",
    "stream_decon_ingest_docs",
]


def _signs(k: int, dim: int) -> list[float]:
    out = []
    for i in range(dim):
        h = hashlib.md5(f"sign-{k}-{i}".encode()).digest()[0]
        out.append(1.0 if h % 2 == 0 else -1.0)
    return out


def synthesize() -> str:
    """Build the replica set at BASE with bench-compatible table names
    (<BASE>/<table>.parquet); idempotent via a completion marker."""
    done = os.path.join(BASE, "_COMPLETE")
    if os.path.exists(done):
        return BASE
    sys.path.insert(0, REPO)
    from pyspark.sql import functions as F  # noqa: PLC0415

    from bambooai_spark.io import TABLES, load_table  # noqa: PLC0415
    from bambooai_spark.session import get_session  # noqa: PLC0415

    shutil.rmtree(BASE, ignore_errors=True)
    os.makedirs(BASE)
    spark = get_session("bambooai-spark-bench10x-synth", cpus=8)
    d = load_table(spark, SF_DIR, "documents")
    e = load_table(spark, SF_DIR, "embeddings")
    dim = len(e.select("embedding").first()["embedding"])
    ddir = os.path.join(BASE, "documents.parquet")
    edir = os.path.join(BASE, "embeddings.parquet")
    e_extra = [c for c in e.columns if c not in ("vec_id", "embedding")]
    for k in range(REPLICAS):
        d.select(
            (F.col("doc_id") + F.lit(k * 10_000_000)).alias("doc_id"),
            "lang",
            "source",
            # (?<!\S) = token start; (?!the(?!\S)) spares exactly "the"
            # (the ingest quality gate needs a common English word)
            F.regexp_replace(
                "text", r"(?<!\S)(?!the(?!\S))(\S+)", f"$1r{k}"
            ).alias("text"),
        ).write.mode("append").parquet(ddir)
        sg = ", ".join(str(s) for s in _signs(k, dim))
        e.select(
            (F.col("vec_id") + F.lit(k * 10_000_000)).alias("vec_id"),
            F.expr(
                f"cast(transform(embedding, (x, i) -> x * "
                f"element_at(array({sg}), i + 1)) as array<float>)"
            ).alias("embedding"),
            *e_extra,
        ).write.mode("append").parquet(edir)
    for t in TABLES:
        if t in ("documents", "embeddings"):
            continue
        os.symlink(
            os.path.join(SF_DIR, f"{t}.parquet"),
            os.path.join(BASE, f"{t}.parquet"),
        )
    spark.stop()
    with open(done, "w") as fh:
        fh.write(f"{REPLICAS}\n")
    print(f"[10x] synthesized {REPLICAS}x at {BASE}", file=sys.stderr)
    return BASE


def _run_bench(cpus: int, names: list[str], iters: int) -> dict:
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_SF_DIR=BASE,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_BENCH_ITERS=str(iters),
        SPARK_GRAFT_BENCH_ONLY=",".join(names),
    )
    # stderr streams to a visible per-run log (progress + crash
    # forensics survive a killed run); stdout stays captured for the
    # one-line JSON
    errlog = os.path.join(
        tempfile.gettempdir(), f"bench10x_cpus{cpus}_{len(names)}q.err"
    )
    with open(errlog, "w") as ef:
        proc = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py")],
            env=env,
            stdout=subprocess.PIPE,
            stderr=ef,
            text=True,
            check=False,
        )
    print(f"[10x] cpus={cpus} rc={proc.returncode} errlog={errlog}",
          file=sys.stderr)
    line = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
    doc = json.loads(line)
    out = {}
    out.update(doc.get("queries") or {})
    out.update(doc.get("lifecycle") or {})
    return out


def main() -> int:
    sys.path.insert(0, REPO)
    from bambooai_spark.session import default_parallelism  # noqa: PLC0415

    n = default_parallelism()
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", default=f"{n},{max(1, n // 2)}")
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH_10X_r14.json"))
    ap.add_argument("--only", default="")
    ap.add_argument("--scan-iters", type=int, default=2)
    ap.add_argument("--lifecycle-iters", type=int, default=1)
    ap.add_argument("--skip-lifecycle", action="store_true")
    args = ap.parse_args()
    synthesize()
    only = {n for n in args.only.split(",") if n}
    scan = [n for n in SCAN_SPECS if not only or n in only]
    life = [n for n in LIFECYCLE_SPECS if not only or n in only]
    if args.skip_lifecycle:
        life = []
    cpu_list = [int(c) for c in args.cpus.split(",")]
    runs: dict[str, dict] = {}
    for cpus in cpu_list:
        merged: dict[str, float] = {}
        if scan:
            merged.update(_run_bench(cpus, scan, args.scan_iters))
        if life:
            merged.update(_run_bench(cpus, life, args.lifecycle_iters))
        runs[f"cpus{cpus}"] = merged
        print(f"[10x] cpus={cpus}: {json.dumps(merged)}", file=sys.stderr)
    result = {
        "replicas": REPLICAS,
        "base": BASE,
        "sf_base": SF_DIR,
        "scan_iters": args.scan_iters,
        "lifecycle_iters": args.lifecycle_iters,
        "runs": runs,
    }
    if len(cpu_list) >= 2:
        hi, lo = f"cpus{max(cpu_list)}", f"cpus{min(cpu_list)}"
        result["ratio_low_over_high"] = {
            n: round(runs[lo][n] / runs[hi][n], 2)
            for n in runs[hi]
            if runs[hi].get(n, 0) > 0 and runs[lo].get(n, 0) > 0
        }
    with open(args.out, "w") as fh:
        json.dump(result, fh, indent=1, sort_keys=True)
    print(json.dumps({k: v for k, v in result.items() if k != "runs"}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
