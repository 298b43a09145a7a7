"""Near-duplicate ADMISSION gate for the corpus writer.

The append paths dedup exact fingerprints against the ledger; this
module extends admission to NEAR-duplicates: an arriving document is
dropped when it is a near-dup of a live stored document (or of a
smaller-id document in its own batch), judged by MinHash-LSH — banded
candidate generation plus signature-agreement estimation, never an
all-pairs or corpus-text join.

**Signature store.** ``<corpus>/_minhash_sigs/`` holds one narrow row
per admitted document: ``(fp, sig array<string>)``, keyed by the SAME
exact fingerprint the ledger records. Liveness is delegated to the
ledger — the gate semi-joins store rows against live ledger fps, so:

- orphan sig rows (a crashed append that staged but never committed)
  are INERT — their fp never entered the ledger;
- a takedown (``delete_from_corpus``) automatically disarms the deleted
  documents' signatures — their fps leave the ledger, so a re-append of
  near-identical content is admitted again, matching the takedown
  semantics of the exact ledger;
- the store needs no transactional coupling: signatures are recorded
  AFTER the batch commits. A crash between commit and record loses the
  batch's signatures (bounded recall loss, never correctness), healed
  by :func:`rebuild_signatures`.

**Estimator.** Against the store only signatures exist (the corpus text
is never read), so similarity is the MinHash agreement fraction —
``|{i: sig_a[i] == sig_b[i]}| / num_hashes`` — an unbiased Jaccard
estimator with stderr ``sqrt(j(1-j)/num_hashes)`` (~0.045 at 64 hashes
near j=0.85); raise ``num_hashes`` to tighten the boundary. Within the
batch the SAME estimator is used for uniformity (and so an oracle can
replay both paths identically). Blocking is pairwise: a document is
dropped if ANY candidate pair (stored doc, or smaller-id batch doc —
whether or not that one is itself dropped) meets the threshold.
Documents with no shingles (empty/whitespace text) carry no signature
and pass the gate.

**Hash families.** ``"xx"`` (default): xxhash64, JVM-cheap, the
production path. ``"md5"``: the oracle-reproducible family shared with
``operators/dedup.py`` — any engine with md5 replays the signatures
byte-for-byte, which is what lets the suite spec verify the WHOLE gate
against DuckDB. Family and parameters are pinned per corpus in
``_minhash_sigs/_PARAMS.json`` on first record and validated on every
later gate/record — mixed-parameter stores would silently never match.

Scale: the store scan is O(admitted docs) narrow rows; band join moves
|batch|·bands + |store|·bands band rows; candidate verification joins a
broadcast candidate set. Nothing touches corpus text or data files.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bambooai_spark.operators.writer import (
    LEDGER_DIR,
    SIGS_DIR,
    _fs_delete,
    _fs_exists,
    _fs_read_text,
    _fs_write_text_atomic,
    _join,
    _read_ledger,
)

PARAMS_NAME = "_PARAMS.json"

DEFAULT_OPTS = {"n": 2, "num_hashes": 64, "bands": 16, "hash": "xx"}


def _opts_of(near_dup_opts: dict | None) -> dict:
    opts = dict(DEFAULT_OPTS)
    if near_dup_opts:
        unknown = set(near_dup_opts) - set(DEFAULT_OPTS)
        if unknown:
            raise ValueError(f"unknown near_dup_opts: {sorted(unknown)}")
        opts.update(near_dup_opts)
    if opts["num_hashes"] < 1 or opts["bands"] < 1:
        raise ValueError(
            f"num_hashes ({opts['num_hashes']}) and bands "
            f"({opts['bands']}) must be >= 1"
        )
    if opts["num_hashes"] % opts["bands"]:
        raise ValueError(
            f"bands ({opts['bands']}) must divide num_hashes "
            f"({opts['num_hashes']}) evenly"
        )
    if opts["hash"] not in ("xx", "md5"):
        raise ValueError(f"hash family must be xx|md5, got {opts['hash']!r}")
    return opts


def _signatures(
    df: DataFrame, key: Column, text_col: str, opts: dict
) -> tuple[DataFrame, DataFrame]:
    """``(sig_df, persisted)``: sig_df is ``(_k, sig array<string>)``
    for documents WITH shingles — one uniform string-array signature
    type so both hash families share the store schema and the agreement
    expression. ``persisted`` is the cached intermediate the CALLER must
    unpersist after materializing sig_df (the gate runs inside streaming
    micro-batches, so a deferred session-lifetime cache would leak one
    entry per batch forever).

    The persist is the CollapseProject barrier dedup.py documents —
    and for the xx family it caches the BASE shingle hashes (``h0s``),
    not just the shingle strings, so xxhash64 over the shingles runs
    once instead of once per hash function (dedup.minhash_signatures'
    structure)."""
    from bambooai_spark.functions.text import word_shingles  # noqa: PLC0415
    from bambooai_spark.operators.dedup import (  # noqa: PLC0415
        _md5_minhash_sig,
    )

    if opts["hash"] == "md5":
        base = df.select(
            key.alias("_k"), word_shingles(text_col, opts["n"]).alias("shs")
        ).filter(F.size("shs") > 0)
        base = base.persist()
        sig = _md5_minhash_sig(opts["num_hashes"])
    else:
        base = df.select(
            key.alias("_k"),
            F.transform(
                word_shingles(text_col, opts["n"]), lambda s: F.xxhash64(s)
            ).alias("h0s"),
        ).filter(F.size("h0s") > 0)
        base = base.persist()
        sig = F.transform(
            F.sequence(F.lit(0), F.lit(opts["num_hashes"] - 1)),
            lambda i: F.array_min(
                F.transform("h0s", lambda h: F.xxhash64(i, h))
            ).cast("string"),
        )
    return base.select("_k", sig.alias("sig")), base


def _band_rows(sig_df: DataFrame, opts: dict) -> DataFrame:
    """``(_k, band, key)`` — one row per (doc, band), the LSH bucket
    key being the concatenated band slice of the signature."""
    rows = opts["num_hashes"] // opts["bands"]
    return sig_df.select(
        "_k",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(opts["bands"] - 1)),
                lambda b: F.concat_ws(
                    ",", F.slice("sig", b * rows + 1, rows)
                ),
            )
        ).alias("band", "key"),
    )


def _agreement(a: str, b: str, num_hashes: int) -> Column:
    return F.size(
        F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda e: e)
    ) / F.lit(num_hashes)


def _params_path(path: str) -> str:
    return _join(_join(path, SIGS_DIR), PARAMS_NAME)


def _check_or_record_params(
    spark: SparkSession, path: str, opts: dict, *, record: bool
) -> None:
    ppath = _params_path(path)
    if _fs_exists(spark, ppath):
        stored = json.loads(_fs_read_text(spark, ppath))
        if stored != opts:
            raise ValueError(
                f"near-dup gate params {opts} do not match this corpus's "
                f"pinned signature-store params {stored} — signatures "
                "from different parameters never match; pass the pinned "
                "params or rebuild_signatures with the new ones"
            )
    elif record:
        _fs_write_text_atomic(spark, ppath, json.dumps(opts))


def _live_store_sigs(
    spark: SparkSession, path: str, opts: dict
) -> DataFrame | None:
    """The signature store restricted to LIVE ledger fingerprints, or
    None when either store or ledger is absent (empty corpus). Multiple
    rows per fp (a takedown + re-append of a normalization-variant text,
    or a retried plain append) resolve NEWEST-WINS on ``recorded_at`` —
    an arbitrary pick could keep the DEAD text's signature and let
    near-dups of the live one through."""
    from pyspark.errors import AnalysisException  # noqa: PLC0415

    sdir, ldir = _join(path, SIGS_DIR), _join(path, LEDGER_DIR)
    try:
        sigs = spark.read.parquet(sdir)
    except AnalysisException:
        return None
    ledger = _read_ledger(spark, ldir)
    if ledger is None:
        return None
    return (
        sigs.join(ledger, sigs["fp"] == ledger["fp"], "left_semi")
        .groupBy("fp")
        .agg(F.max(F.struct("recorded_at", "sig")).alias("_m"))
        .select(F.col("fp").alias("_k"), F.col("_m.sig").alias("sig"))
    )


def near_dup_gate(
    batch: DataFrame,
    path: str,
    *,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    near_dup_opts: dict | None = None,
    keep_signatures: bool = False,
    fp_col: str = "_fp",
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Filter ``batch`` down to documents that are NOT near-dups of a
    live stored document or of a smaller-``id_col`` batch document.
    Composable standalone (``gate -> append``) or via the writers'
    ``near_dup_threshold=`` parameter, which also records the admitted
    survivors' signatures after commit.

    ``keep_signatures=True`` (the writers' path) additionally returns
    the SURVIVORS' signatures re-keyed by ``fp_col`` as a second,
    checkpointed DataFrame for :func:`record_signatures` — the
    shingle+MinHash pipeline is the gate's expensive stage and must not
    run a second time at record."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    opts = _opts_of(near_dup_opts)
    spark = batch.sparkSession
    _check_or_record_params(spark, path, opts, record=False)

    sigs, sig_base = _signatures(batch, F.col(id_col), text_col, opts)
    sigs = sigs.persist()
    bands = _band_rows(sigs, opts)
    nh = opts["num_hashes"]

    # within-batch: banded candidates among batch docs, smaller id kept
    pairs = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a._k") < F.col("b._k")),
        )
        .select(F.col("a._k").alias("ka"), F.col("b._k").alias("kb"))
        .distinct()
    )
    blocked_within = (
        F.broadcast(pairs)
        .join(sigs.select(F.col("_k").alias("ka"), F.col("sig").alias("sa")),
              "ka")
        .join(sigs.select(F.col("_k").alias("kb"), F.col("sig").alias("sb")),
              "kb")
        .filter(_agreement("sa", "sb", nh) >= threshold)
        .select(F.col("kb").alias("_blocked"))
    )

    # against-store: batch bands x live store bands
    store = _live_store_sigs(spark, path, opts)
    if store is not None:
        store = store.persist()
        sbands = _band_rows(store, opts)
        cand = (
            bands.alias("a")
            .join(
                sbands.alias("s"),
                (F.col("a.band") == F.col("s.band"))
                & (F.col("a.key") == F.col("s.key")),
            )
            .select(F.col("a._k").alias("ka"), F.col("s._k").alias("kf"))
            .distinct()
        )
        blocked_store = (
            F.broadcast(cand)
            .join(
                sigs.select(F.col("_k").alias("ka"), F.col("sig").alias("sa")),
                "ka",
            )
            .join(
                store.select(F.col("_k").alias("kf"), F.col("sig").alias("sb")),
                "kf",
            )
            .filter(_agreement("sa", "sb", nh) >= threshold)
            .select(F.col("ka").alias("_blocked"))
        )
        blocked = blocked_within.union(blocked_store)
    else:
        blocked = blocked_within

    out = batch.join(
        blocked.distinct().withColumnRenamed("_blocked", id_col),
        [id_col],
        "left_anti",
    )
    # eager: later unpersists must not recompute through freed caches
    out = out.localCheckpoint(eager=True)
    fp_sigs = None
    if keep_signatures:
        fp_sigs = (
            sigs.join(
                out.select(
                    F.col(id_col).alias("_k"), F.col(fp_col).alias("fp")
                ),
                "_k",
            )
            .select("fp", "sig")
            .dropDuplicates(["fp"])
            .localCheckpoint(eager=True)
        )
    sigs.unpersist()
    sig_base.unpersist()
    if store is not None:
        store.unpersist()
    return (out, fp_sigs) if keep_signatures else out


def _record_prepared(
    fp_sigs: DataFrame, path: str, opts: dict
) -> None:
    """Append precomputed ``(fp, sig)`` rows to the store, stamped with
    ``recorded_at`` so concurrent variants of one fp resolve newest-wins
    at read time."""
    spark = fp_sigs.sparkSession
    _check_or_record_params(spark, path, opts, record=True)
    fp_sigs.select(
        "fp", "sig", F.current_timestamp().alias("recorded_at")
    ).write.mode("append").parquet(_join(path, SIGS_DIR))


def record_signatures(
    batch_with_fp: DataFrame,
    path: str,
    *,
    fp_col: str = "_fp",
    text_col: str = "text",
    near_dup_opts: dict | None = None,
) -> None:
    """Append the committed batch's ``(fp, sig)`` rows to the store.
    Call AFTER the corpus append commits (the writers do this when
    ``near_dup_threshold`` is set, reusing the gate's signatures); rows
    whose fp never reaches the ledger are inert at gate time."""
    opts = _opts_of(near_dup_opts)
    sigs, base = _signatures(batch_with_fp, F.col(fp_col), text_col, opts)
    fp_sigs = sigs.dropDuplicates(["_k"]).select(
        F.col("_k").alias("fp"), "sig"
    )
    _record_prepared(fp_sigs, path, opts)
    base.unpersist()


def rebuild_signatures(
    spark: SparkSession,
    path: str,
    *,
    text_col: str = "text",
    near_dup_opts: dict | None = None,
) -> int:
    """Recompute the store from the corpus text + ledger — the self-heal
    for lost/legacy/param-changed stores (one corpus scan, maintenance
    op). Returns the number of stored signatures."""
    from pyspark.errors import AnalysisException  # noqa: PLC0415

    from bambooai_spark.functions.text import fingerprint  # noqa: PLC0415
    from bambooai_spark.operators.writer import _stored_schema  # noqa: PLC0415

    opts = _opts_of(near_dup_opts)
    sdir = _join(path, SIGS_DIR)
    _fs_delete(spark, sdir)
    _check_or_record_params(spark, path, opts, record=True)
    try:
        stored = _stored_schema(spark, path)
        corpus = (
            spark.read.schema(stored).parquet(path)
            if stored is not None
            else spark.read.parquet(path)
        )
    except AnalysisException:
        return 0  # empty corpus: an empty store is correct
    keyed = corpus.select(
        fingerprint(F.col(text_col)).alias("_fp"), F.col(text_col)
    ).dropDuplicates(["_fp"])
    record_signatures(
        keyed, path, fp_col="_fp", text_col=text_col, near_dup_opts=opts
    )
    try:
        return spark.read.parquet(sdir).count()
    except AnalysisException:
        return 0
