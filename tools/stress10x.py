#!/usr/bin/env python3
"""10x scale-stress evidence (VERDICT r12 #5): synthesize a
deterministic ~10x-sf0.1 documents/embeddings set (seeded, under /tmp,
untracked) and run the heaviest operator families ONCE at sf0.1 and at
10x, printing wall-time scaling ratios for COVERAGE.md. A plan that is
linear-ish in the input should land well under ~12x wall; a ratio past
that flags a super-linear surprise (pair blowup, single-task funnel)
before a real cluster finds it.

Replica construction keeps the base set's DUPLICATE DENSITY — the
property that makes scaling ratios meaningful for dedup operators:

- documents: replica k suffixes every whitespace token EXCEPT the
  exact token ``the`` with ``r<k>`` (one regexp_replace), so
  within-replica exact/near-dup structure is byte-for-byte isomorphic
  to the base while no k=25-char gram or 2-word shingle survives
  across replicas (every ``the``'s neighbors are suffixed; a naive
  10x copy would make every doc a 10-way near-dup cluster and measure
  a legitimately harder problem, not the plan). ``the`` is spared
  because the ingest quality gate is C4's "contains a common English
  word" — suffixing it made the 10x curate_corpus run admit ZERO rows
  (first r13 stress finding: the harness, not the operator).
- embeddings: replica k multiplies componentwise by a seeded +-1 sign
  vector — an orthogonal reflection, so all within-replica inner
  products (and therefore the cell structure semantic_dedup sees) are
  EXACTLY preserved, while cross-replica cosines decorrelate.
- knobs that the operator's own docs say to scale with N scale with N
  (semantic_dedup centroids: target ~N/target_cell_rows cells; curation
  budgets x10) — the ratios measure "run it the way you would at 10x".

Usage: python tools/stress10x.py  (~5-10 min on local[32])
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import tempfile
import time

from pyspark.sql import functions as F

from bambooai_spark.caching import release_caches
from bambooai_spark.io import load_table
from bambooai_spark.session import get_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPLICAS = int(os.environ.get("SPARK_GRAFT_STRESS_REPLICAS", "10"))
BASE = os.path.join(
    tempfile.gettempdir(), f"bbai_stress{REPLICAS}x"
)


def _signs(k: int, dim: int) -> list[float]:
    out = []
    for i in range(dim):
        h = hashlib.md5(f"sign-{k}-{i}".encode()).digest()[0]
        out.append(1.0 if h % 2 == 0 else -1.0)
    return out


def synthesize(spark) -> tuple[str, str]:
    ddir = os.path.join(BASE, "documents")
    edir = os.path.join(BASE, "embeddings")
    # the marker is written only after ALL replicas landed: reusing a
    # crashed run's partial set would silently compute every ratio
    # against a <10x corpus and the evidence table would lie
    done = os.path.join(BASE, "_COMPLETE")
    if os.path.exists(done):
        return ddir, edir
    shutil.rmtree(BASE, ignore_errors=True)
    d = load_table(spark, SF_DIR, "documents")
    e = load_table(spark, SF_DIR, "embeddings")
    dim = len(e.select("embedding").first()["embedding"])
    n_docs = d.count()
    n_vecs = e.count()
    for k in range(REPLICAS):
        d.select(
            (F.col("doc_id") + F.lit(k * 10_000_000)).alias("doc_id"),
            "lang",
            "source",
            # (?<!\S) = token start; (?!the(?!\S)) spares exactly "the"
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
        ).write.mode("append").parquet(edir)
    with open(done, "w") as fh:
        fh.write(f"{REPLICAS}\n")
    print(
        f"[stress] synthesized {REPLICAS}x: "
        f"{n_docs * REPLICAS} docs, {n_vecs * REPLICAS} vecs at {BASE}",
        file=sys.stderr,
    )
    return ddir, edir


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _ops(spark, docs, embs, scale: int):
    """(name, thunk) list — parameters mirror the bench specs, with the
    documented scale-with-N knobs scaled by ``scale``."""
    from bambooai_spark.operators.curation import curate_corpus
    from bambooai_spark.operators.dedup import (
        connected_components,
        contamination_fraction,
        exact_substring_cut,
        jaccard_near_dup,
        minhash_md5_near_dup,
        semantic_dedup,
    )
    from bambooai_spark.operators.gram_store import build_gram_store
    from bambooai_spark.operators.similarity import md5_centroids
    from bambooai_spark.streaming.documents import ingest_to_corpus
    from bambooai_spark.functions.text import tokens

    def exact_cut():
        _noop(
            exact_substring_cut(
                docs, "doc_id", "text", k=25, keep_first=True
            ).select("doc_id", F.length("clean_text"))
        )

    def semdedup():
        _noop(
            semantic_dedup(
                embs, "vec_id", "embedding",
                centroids=md5_centroids(
                    embs, "vec_id", "embedding", 8 * scale
                ),
                threshold=0.3, assign="exact",
            ).select("vec_id", "cell")
        )

    def dedup_clusters():
        pairs = jaccard_near_dup(
            docs, "doc_id", "text", n=2, threshold=0.4
        )
        _noop(
            connected_components(
                docs.select("doc_id"), pairs, node_col="doc_id",
                src_col="doc_a", dst_col="doc_b",
            )
        )

    def contamination():
        bench = docs.filter(F.col("doc_id") % 17 == 0).select("text")
        scanned = docs.filter(F.col("doc_id") % 17 != 0)
        _noop(
            contamination_fraction(scanned, "doc_id", "text", bench, k=25)
        )

    def minhash():
        _noop(
            minhash_md5_near_dup(
                docs, "doc_id", "text", n=2, num_hashes=16, bands=4,
                threshold=0.4,
            )
        )

    def curation():
        tmp = tempfile.mkdtemp(prefix="bbai_stress_cur_")
        try:
            store = os.path.join(tmp, "gstore")
            build_gram_store(docs, "text", store, k=25, min_count=2)
            benchmark = docs.filter(F.col("doc_id") % 100 == 0)
            corpus = os.path.join(tmp, "corpus")
            ingest_to_corpus(
                docs.filter(F.col("doc_id") % 100 != 0).select(
                    "doc_id", "lang", "source", "text"
                ),
                corpus, txn_id="p0", benchmark=benchmark,
                boilerplate_store=store,
            )
            score = F.length("text").cast("double") / F.size(
                tokens("text")
            )
            exported, _ = curate_corpus(
                spark, corpus, os.path.join(tmp, "export"),
                budgets={"en": 2000 * scale, "de": 750 * scale},
                score=score,
                fractions={"val": 0.125, "test": 0.0625},
                pack_budget=2048, n_shards=4,
                pack_strategy="twophase", report=False,
            )
            _noop(exported)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    return [
        ("exact_substring_cut", exact_cut),
        ("semantic_dedup", semdedup),
        ("connected_components", dedup_clusters),
        ("contamination_fraction", contamination),
        ("minhash_near_dup", minhash),
        ("curate_corpus", curation),
    ]


def delta_surgery_evidence(
    spark, docs, label: str, base_cond, delta_cond
) -> tuple[float, float]:
    """The steady-state claim behind the r13 delta composition, measured:
    on a corpus GROWN by appended files (base_cond rows first, delta_cond
    rows appended), time the from-scratch ExactSubstr keep-first cut vs
    the store-plugged cut with a delta_support store built UNTIMED on
    the base. Returns (t_from_scratch, t_with_store) — outputs are
    hash-identical by the suite's surgery_delta_cut_docs oracle; here
    only the wall ratio is the point. Two shapes matter (r13): a
    FRESH-CONTENT delta (no gram shared with the base — zero suspects,
    the composed O(delta) fast path) and an ADVERSARIAL straddling
    delta (near-dup twins split across base/delta — the suspect-count
    dispatch must bail to the inline pass at roughly parity instead of
    paying the measured 1.6x recount)."""
    from bambooai_spark.operators.dedup import exact_substring_cut
    from bambooai_spark.operators.gram_store import build_gram_store

    tmp = tempfile.mkdtemp(prefix="bbai_stress_delta_")
    try:
        cp = os.path.join(tmp, "corpus")
        docs.filter(base_cond).select(
            "doc_id", "text"
        ).write.parquet(cp)
        store = os.path.join(tmp, "gstore")
        build_gram_store(
            spark.read.parquet(cp), "text", store, k=25, min_count=2,
            id_col="doc_id", delta_support=True,
        )
        docs.filter(delta_cond).select(
            "doc_id", "text"
        ).write.mode("append").parquet(cp)
        grown = spark.read.parquet(cp)

        t0 = time.perf_counter()
        _noop(
            exact_substring_cut(
                grown, "doc_id", "text", k=25, keep_first=True
            ).select("doc_id", F.length("clean_text"))
        )
        t_full = time.perf_counter() - t0
        release_caches()

        t0 = time.perf_counter()
        _noop(
            exact_substring_cut(
                grown, "doc_id", "text", k=25, keep_first=True,
                gram_store_path=store,
            ).select("doc_id", F.length("clean_text"))
        )
        t_comp = time.perf_counter() - t0
        release_caches()
        print(
            f"[stress] {label} delta-surgery: from-scratch {t_full:.2f}s, "
            f"store-plugged {t_comp:.2f}s ({t_comp / t_full:.2f}x)",
            file=sys.stderr,
        )
        return t_full, t_comp
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> int:
    # get_session's core count is session.default_parallelism()
    spark = get_session("bambooai-spark-stress")
    ddir, edir = synthesize(spark)
    base_docs = load_table(spark, SF_DIR, "documents")
    base_embs = load_table(spark, SF_DIR, "embeddings")
    big_docs = spark.read.parquet(ddir)
    big_embs = spark.read.parquet(edir)
    # JVM/codegen warm-up outside every timed window
    base_docs.count(), base_embs.count(), big_docs.count(), big_embs.count()

    results: dict[str, tuple[float, float]] = {}
    for label, docs, embs, scale in (
        ("base", base_docs, base_embs, 1),
        (f"{REPLICAS}x", big_docs, big_embs, REPLICAS),
    ):
        for name, thunk in _ops(spark, docs, embs, scale):
            t0 = time.perf_counter()
            thunk()
            dt = time.perf_counter() - t0
            release_caches()
            a, _ = results.get(name, (0.0, 0.0))
            results[name] = (dt, 0.0) if scale == 1 else (a, dt)
            print(f"[stress] {label:>4} {name}: {dt:.2f}s", file=sys.stderr)

    print(f"\n| operator | sf0.1 (s) | {REPLICAS}x (s) | ratio |")
    print("|---|---|---|---|")
    for name, (a, b) in results.items():
        print(f"| {name} | {a:.2f} | {b:.2f} | {b / a:.1f}x |")

    # steady-state evidence for the r13 delta composition (one scale is
    # enough — the ratio is within-scale). The documents table is
    # UNIQUE-gram-heavy (sidecar ~ posting count), so on it the
    # cost-model dispatch routes every store-plugged call to the inline
    # pass — the first two shapes certify that bail costs ~nothing. The
    # third shape is the store's TARGET regime — boilerplate-heavy text
    # (a 560-char shared block dominating each doc) — where the
    # composed path must beat from-scratch outright.
    last = (REPLICAS - 1) * 10_000_000
    boiler = F.concat(
        F.lit("SHARED-BOILER-BLOCK-" * 28),
        F.substring("text", 1, 120),
    )
    boiler_docs = big_docs.select("doc_id", boiler.alias("text"))
    for shape, src, bc, dc in (
        (
            "uniq-fresh-1pct", big_docs,
            ~F.col("doc_id").between(last, last + 499),
            F.col("doc_id").between(last, last + 499),
        ),
        ("uniq-straddle-1pct", big_docs, F.col("doc_id") % 100 != 0,
         F.col("doc_id") % 100 == 0),
        (
            "boiler-fresh-1pct", boiler_docs,
            ~F.col("doc_id").between(last, last + 499),
            F.col("doc_id").between(last, last + 499),
        ),
    ):
        tf, tc = delta_surgery_evidence(
            spark, src, f"{REPLICAS}x {shape}", bc, dc
        )
        print(
            f"\ndelta-surgery at {REPLICAS}x [{shape}]: from-scratch "
            f"{tf:.2f}s, store-plugged {tc:.2f}s ({tc / tf:.2f}x)"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
