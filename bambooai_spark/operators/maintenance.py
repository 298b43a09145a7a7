"""Corpus maintenance advisor — the ops twin of ``validate_corpus``.

``validate_corpus`` answers "is this corpus CONSISTENT"; this module
answers "is it HEALTHY, and which maintenance op fixes what isn't":
small-file fragmentation (the streaming sink's natural failure mode),
crashed-op leftovers, marker accumulation, signature-store drift.
``suggest_maintenance`` is read-only and O(bookkeeping + one file
listing) — it never reads data-file CONTENT, so it is safe to run on a
live corpus from a cron.

Returns one row per finding: ``(check, severity, recommendation,
detail)`` with severity ``ok`` / ``info`` / ``warn`` / ``action``.
``action`` rows name the exact call to run. An empty corpus yields a
single informational row rather than an error — advisors must be
runnable before the first append.

Reference parity: the reference has no storage layer to maintain; this
is the operational surface the corpus protocol (SURVEY §7 writer/
manifest family) needs at 100 TB, where "someone noticed the corpus got
slow" is too late.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from bambooai_spark.operators.writer import (
    COMPACT_TMP,
    SIGS_DIR,
    DELETE_TMP,
    LEDGER_DIR,
    STAGED_MARKER,
    _frozen_staged_batches,
    _fs_exists,
    _iter_commit_markers,
    _join,
    _load_manifest_doc,
    _read_ledger,
    _walk_files,
)

# a partition value averaging fewer rows per file than this is
# fragmented enough that compaction pays for itself on the next scan
SMALL_FILE_ROWS = 10_000
# commit markers are pruned down to the manifest's replay window by
# compaction; flag when the backlog is a multiple of that window
MARKER_BACKLOG = 200


def suggest_maintenance(
    spark: SparkSession,
    path: str,
    *,
    small_file_rows: int = SMALL_FILE_ROWS,
    marker_backlog: int = MARKER_BACKLOG,
    gram_store_path: str | None = None,
    gram_store_staleness: float = 0.2,
) -> DataFrame:
    """Diagnose a corpus and recommend maintenance (see module doc).

    ``gram_store_path`` opts the boilerplate gram store
    (operators/gram_store.py) into the diagnosis: its meta records the
    corpus row count it was built from, and when the manifest's current
    rows drift by more than ``gram_store_staleness`` (relative) the
    advisor recommends ``refresh_gram_store`` — the span-grain ingest
    gate is otherwise screening against stale boilerplate."""
    rows: list[tuple[str, str, str, str]] = []

    def add(check, severity, recommendation, detail):
        rows.append((check, severity, recommendation, detail))

    # crashed-op state FIRST: a corpus whose only contents are a frozen
    # staged batch has no manifest and no visible data files, and the
    # "empty corpus" early return must not mask the stranded batch
    # (review r8 pass 3)
    frozen = _frozen_staged_batches(spark, path)
    frozen_compact = _fs_exists(
        spark, _join(path, f"{COMPACT_TMP}/{STAGED_MARKER}")
    )
    frozen_delete = _fs_exists(
        spark, _join(path, f"{DELETE_TMP}/{STAGED_MARKER}")
    )

    doc = _load_manifest_doc(spark, path)
    if doc is None:
        if _walk_files(spark, path):
            add(
                "manifest", "action", "build_manifest(spark, path, ...)",
                "data files exist but no parseable manifest — reads work, "
                "bookkeeping (snapshots, replay guard, schema pin) does not",
            )
        elif not (frozen or frozen_compact or frozen_delete):
            add("corpus", "info", "nothing to do", "empty corpus")
            return _df(spark, rows)
    else:
        add("manifest", "ok", "none", "present and parseable")

    # crashed-op leftovers: each has one specific resume call
    if frozen_compact:
        add(
            "frozen_compaction", "action",
            "compact_corpus(spark, path, ...)  # resumes the frozen swap",
            "a compaction froze mid-swap; the corpus may be missing rows "
            "until it finishes",
        )
    if frozen_delete:
        add(
            "frozen_delete", "action",
            "delete_from_corpus(...)  # any call resumes it first, or "
            "recover_staging",
            "a delete froze mid-swap; the corpus may be missing rows "
            "until it finishes",
        )
    if frozen:
        add(
            "frozen_appends", "action",
            "restart the writing query, or recover_staging(spark, path)",
            f"{len(frozen)} staged-but-uncommitted txn batches "
            f"(e.g. {frozen[:3]}) — their files may be half-moved",
        )

    # marker backlog: harmless, but an ever-growing _commits dir slows
    # every listing on an object store
    n_markers = sum(1 for _ in _iter_commit_markers(spark, path))
    if n_markers > marker_backlog:
        add(
            "marker_backlog", "warn",
            "compact_corpus(spark, path, ...)  # prunes markers outside "
            "the replay window",
            f"{n_markers} commit markers accumulated",
        )

    # fragmentation: manifest file counts when it carries them (exact),
    # else one recursive listing vs manifest row counts
    if doc is not None:
        parts = doc.get("partitions") or []
        total_rows = sum(int(p.get("n_rows") or 0) for p in parts)
        n_files_manifest = [
            int(p["n_files"]) for p in parts if p.get("n_files") is not None
        ]
        if n_files_manifest and len(n_files_manifest) == len(parts):
            n_files = sum(n_files_manifest)
        else:
            n_files = len(_walk_files(spark, path))
        # a compacted layout needs at least one file per partition value
        # and one per small_file_rows rows; only flag when the corpus
        # holds MORE THAN DOUBLE that floor — otherwise an auto_maintain
        # cron would rewrite an already-compacted corpus on every run
        # forever (num_tasks spreads, maxRecordsPerFile rolls, and skewed
        # partitions all legitimately emit a few extra files)
        compacted_floor = max(
            len(parts), total_rows // small_file_rows + 1
        )
        if (
            n_files
            and total_rows
            and total_rows / n_files < small_file_rows
            and n_files > 2 * compacted_floor
        ):
            add(
                "small_files", "action",
                "compact_corpus(spark, path, ...)",
                f"{n_files} data files for {total_rows} rows "
                f"(avg {total_rows // max(n_files, 1)}/file < "
                f"{small_file_rows})",
            )
        elif n_files:
            add(
                "small_files", "ok", "none",
                f"{n_files} data files, avg "
                f"{total_rows // max(n_files, 1)} rows/file",
            )
        # ledger fragmentation mirrors the data (one file set per batch)
        ledger_files = _walk_files(spark, _join(path, LEDGER_DIR))
        if len(ledger_files) > 64:
            add(
                "ledger_files", "warn",
                "compact_corpus(spark, path, ...)  # compacts the ledger "
                "alongside the data",
                f"{len(ledger_files)} fingerprint-ledger files — every "
                "append's dedup anti-join opens all of them",
            )

    # near-dup signature store: orphan rows are inert but pure overhead;
    # a store much SMALLER than the ledger means recall was lost
    # (crashed records) and rebuild_signatures restores it
    sigs_dir = _join(path, SIGS_DIR)
    if _fs_exists(spark, sigs_dir):
        from pyspark.errors import AnalysisException  # noqa: PLC0415

        # independent reads: a sig store whose data files vanished (only
        # _PARAMS.json left) IS the gap case and must not mask the
        # ledger count
        try:
            n_sigs = spark.read.parquet(sigs_dir).count()
        except AnalysisException:
            n_sigs = 0
        ledger = _read_ledger(spark, _join(path, LEDGER_DIR))
        n_ledger = 0 if ledger is None else ledger.count()
        if n_ledger and n_sigs < 0.9 * n_ledger:
            add(
                "signature_gaps", "warn",
                "rebuild_signatures(spark, path, near_dup_opts=...)",
                f"{n_sigs} stored signatures vs {n_ledger} live ledger "
                "fps — near-dup recall is degraded for the uncovered docs",
            )
        elif n_ledger and n_sigs > 2 * n_ledger:
            add(
                "signature_orphans", "warn",
                "rebuild_signatures(spark, path, near_dup_opts=...)",
                f"{n_sigs} signature rows vs {n_ledger} live fps — "
                "orphans are inert but every gate scans them",
            )
        else:
            add(
                "signatures", "ok", "none",
                f"{n_sigs} signatures / {n_ledger} ledger fps",
            )

    # file-stats coverage: uncovered files are read unpruned (selective
    # reads lose their skipping on exactly those files); a stats config
    # with gaps has one heal call
    from bambooai_spark.operators.filestats import (  # noqa: PLC0415
        stats_coverage,
    )

    cov = stats_coverage(spark, path)
    if cov is not None:
        # delta backlog mirrors the ledger/marker checks: a long-lived
        # streaming corpus writes one stats JSON per micro-batch, and
        # every pruned read opens all of them (count rides the coverage
        # pass — no second _filestats listing)
        n_deltas = cov["deltas"]
        if n_deltas > 64:
            add(
                "stats_delta_backlog", "warn",
                "consolidate_file_stats(spark, path)  # bookkeeping-only "
                "fold; compact_corpus also heals it alongside data",
                f"{n_deltas} stats delta files accumulated — every "
                "pruned read loads each of them",
            )
        from bambooai_spark.operators.filestats import (  # noqa: PLC0415
            stats_prune_threshold,
        )

        if (
            cov.get("consolidated_version") is None
            and cov.get("entries", 0) > stats_prune_threshold(spark)
        ):
            # above the threshold the read path only goes distributed
            # when a consolidated parquet doc exists; without one every
            # selective read pays a driver-side parse of every entry
            add(
                "stats_unconsolidated", "warn",
                "consolidate_file_stats(spark, path)",
                f"{cov['entries']} stats entries held only as JSON "
                "deltas — selective reads prune single-threaded on the "
                "driver instead of as a Spark job",
            )
        # query-mix economics (VERDICT r8 #7): the recorded read samples
        # say what fraction of the live files each frequent predicate
        # actually scanned — the data for cluster_by/Z-order decisions.
        # Report-only: physical re-layout stays a human call.
        from bambooai_spark.operators.filestats import (  # noqa: PLC0415
            read_query_log,
        )

        qlog = read_query_log(spark, path)
        if qlog and cov["live"]:
            tops = qlog[:3]
            detail = "; ".join(
                f"{json.dumps(e['preds'])} x{e['n_reads']}: reads "
                f"{min(1.0, e.get('last_kept', 0) / cov['live']):.0%} "
                "of live files"
                for e in tops
            )
            hot = [
                e for e in tops
                if e.get("n_reads", 0) >= 3
                and e.get("last_kept", 0) / cov["live"] > 0.6
            ]
            if hot:
                cols = sorted({
                    p[0] for e in hot for p in e["preds"]
                })
                add(
                    "query_mix", "warn",
                    f"compact_corpus(..., cluster_by={tuple(cols)}) or "
                    "enable_file_stats on those columns  # re-layout is "
                    "a human call, not auto-executed",
                    f"frequent predicates scan >60% of live files — "
                    f"{detail}",
                )
            else:
                add("query_mix", "ok", "none", detail)

        # stale wall-clock frames (review r9): entries collected under a
        # different session-tz/OS-zone frame never prune "ts" predicates
        # (conservative keep) — correct but a silent full-scan regression
        # on timestamp-selective reads; a config with a timestamp column
        # deserves the visible heal
        from bambooai_spark.operators.filestats import (  # noqa: PLC0415
            _category,
            stats_config,
            tz_frame,
        )
        from bambooai_spark.operators.writer import (  # noqa: PLC0415
            _stored_schema,
        )

        cur_frame = tz_frame(spark)
        stale_frames = [
            f for f in cov.get("tz_frames", []) if f != cur_frame
        ]
        if stale_frames:
            stored = _stored_schema(spark, path)
            by_name = (
                {fl.name: fl.dataType for fl in stored.fields}
                if stored is not None else {}
            )
            has_ts_stats = any(
                c in by_name and _category(by_name[c]) == "ts"
                for c in (stats_config(spark, path) or [])
            )
            if has_ts_stats:
                add(
                    "stats_tz_frames", "info",
                    "rebuild_file_stats(spark, path)",
                    f"{len(stale_frames)} stats frame(s) differ from this "
                    f"session's ({cur_frame!r}) — timestamp predicates "
                    "conservatively stop pruning those entries until a "
                    "rebuild re-collects them in the current frame",
                )

        uncovered = cov["live"] - cov["covered"]
        if uncovered:
            add(
                "file_stats_gaps", "warn",
                "rebuild_file_stats(spark, path)",
                f"{uncovered}/{cov['live']} live files lack stats entries "
                "— selective reads cannot skip them",
            )
        elif cov["live"] and cov["orphans"] > 4 * cov["live"]:
            add(
                "file_stats_orphans", "warn",
                "rebuild_file_stats(spark, path)  # or compact_corpus",
                f"{cov['orphans']} orphan stats entries vs {cov['live']} "
                "live files — inert, but every pruned read loads them",
            )
        else:
            add(
                "file_stats", "ok", "none",
                f"{cov['live']} live files covered, "
                f"{cov['orphans']} orphans",
            )

    if gram_store_path is not None:
        from bambooai_spark.operators.gram_store import (  # noqa: PLC0415
            read_gram_store,
        )

        cur_rows = None
        if doc is not None:
            cur_rows = sum(
                int(p.get("n_rows") or 0)
                for p in (doc.get("partitions") or [])
            )
        try:
            _g, gmeta = read_gram_store(spark, gram_store_path)
        except FileNotFoundError:
            gmeta = None
            add(
                "gram_store", "action",
                "build_gram_store(read_corpus(spark, path), 'text', "
                "gram_store_path)",
                f"no gram store at {gram_store_path} — the span-grain "
                "ingest gate has nothing to screen against",
            )
        except RuntimeError as exc:
            # half-swapped store (crashed refresh): reads fail loudly
            # by contract; repair is a maintenance action
            gmeta = None
            add(
                "gram_store", "action",
                "repair_gram_store(spark, gram_store_path)",
                str(exc),
            )
        if gmeta is not None and not gmeta.get("counts_exact", True):
            # its OWN check name: advice consumers key rows by check
            # (last wins), and the below-threshold drift 'ok' row would
            # otherwise swallow this standing signal whenever corpus
            # growth pauses
            add(
                "gram_store_lag", "info",
                "refresh_gram_store(spark, path, gram_store_path)",
                "counts carry the delta-refresh singleton lag "
                f"(since v{gmeta.get('version')}): fine for the ingest "
                "gate's freshness contract, but batch ExactSubstr "
                "surgery refuses the store until a FULL refresh — the "
                "next drift-triggered auto_maintain refresh goes full; "
                "run one manually if growth has stopped and surgery "
                "needs the store sooner",
            )
        if gmeta is not None:
            # a delta_support store's delta refresh publishes a GATE
            # OVERLAY and leaves the base n_rows pinned at the full
            # build (the composition base) — gate freshness is then
            # measured against the overlay's row watermark
            built_rows = gmeta.get("gate_n_rows") or gmeta.get("n_rows")
            if built_rows is None or cur_rows is None:
                add(
                    "gram_store", "info",
                    "refresh_gram_store(spark, path, gram_store_path)",
                    "staleness unknown (store meta predates n_rows "
                    "tracking, or the manifest is missing) — refresh "
                    "to baseline the signal",
                )
            else:
                drift = abs(cur_rows - built_rows) / max(built_rows, 1)
                if drift >= gram_store_staleness:
                    add(
                        "gram_store", "action",
                        "refresh_gram_store(spark, path, "
                        "gram_store_path)",
                        f"corpus rows {cur_rows} vs {built_rows} at "
                        f"store build (v{gmeta.get('version')}) — "
                        f"{drift:.0%} drift >= "
                        f"{gram_store_staleness:.0%}; new boilerplate "
                        "passes the gate until a refresh",
                    )
                else:
                    add(
                        "gram_store", "ok", "none",
                        f"{drift:.0%} row drift since store "
                        f"v{gmeta.get('version')} "
                        f"(threshold {gram_store_staleness:.0%})",
                    )

    if not any(sev in ("warn", "action") for _, sev, _, _ in rows):
        add("corpus", "ok", "none", "no maintenance needed")
    return _df(spark, rows)


def _df(spark: SparkSession, rows) -> DataFrame:
    return spark.createDataFrame(
        rows, "check STRING, severity STRING, recommendation STRING, "
        "detail STRING",
    )


def auto_maintain(
    spark: SparkSession,
    path: str,
    *,
    token_col: str | None = None,
    cluster_by: tuple[str, ...] = (),
    cluster_strategy: str = "linear",
    num_tasks: int | None = None,
    max_records_per_file: int | None = 100_000,
    small_file_rows: int = SMALL_FILE_ROWS,
    marker_backlog: int = MARKER_BACKLOG,
    gram_store_path: str | None = None,
    dry_run: bool = False,
    lease=None,
) -> DataFrame:
    """Execute :func:`suggest_maintenance`'s own recommendations in the
    protocol-safe order — the one-call maintenance window for a cron:

    1. **recover_staging** when crashed-op leftovers exist (frozen
       deletes/appends finish or clean FIRST — compacting over a
       mid-swap corpus is the documented data-loss hazard the writer
       ops individually guard against);
    2. **compact_corpus** when the advisor flagged fragmentation, a
       marker backlog, ledger fragmentation, a stats-delta backlog, or
       a frozen compaction (one rewrite clears them all, consolidates
       the stats history, and prunes aged-out markers) — but ONLY with
       a parseable manifest recording a non-empty ``partition_by``: a
       guessed partitioning would physically re-layout the corpus
       wrong, so a torn manifest reports ``build_manifest`` instead;
    3. **rebuild_file_stats** when the advisor reported coverage gaps
       or heavy orphans and no compaction ran (a compaction's fresh
       per-file stats already cover exactly the live files).

    Signature-store and manifest findings are REPORTED, never
    auto-executed — ``rebuild_signatures`` needs the corpus's pinned
    ``near_dup_opts`` (policy the cron must own) and rebuilding a lost
    manifest needs the true ``partition_by`` only the operator knows.

    ``token_col`` matters when the manifest carries token sums: the
    compaction rebuild preserves them only if told the column (the
    manifest stores sums, not the column name). ``dry_run=True``
    returns the plan without executing. Single writer, like every
    maintenance op; pass ``lease`` to enforce.

    Returns one row per action: ``(action, executed, detail)``."""
    from bambooai_spark.operators.filestats import (  # noqa: PLC0415
        rebuild_file_stats,
    )
    from bambooai_spark.operators.writer import (  # noqa: PLC0415
        compact_corpus,
        recover_staging,
    )

    advice = {
        r["check"]: r
        for r in suggest_maintenance(
            spark, path,
            small_file_rows=small_file_rows,
            marker_backlog=marker_backlog,
            gram_store_path=gram_store_path,
        ).collect()
    }
    rows: list[tuple[str, bool, str]] = []

    def plan(action, wanted, detail):
        rows.append((action, bool(wanted and not dry_run), detail))
        return wanted and not dry_run

    frozen = any(
        k in advice
        for k in ("frozen_appends", "frozen_delete", "frozen_compaction")
    )
    if plan(
        "recover_staging", frozen,
        "crashed-op leftovers present" if frozen else "nothing frozen",
    ):
        out = recover_staging(spark, path, lease=lease)
        rows[-1] = (
            "recover_staging", True,
            f"committed={len(out['committed'])} "
            f"cleaned={len(out['cleaned'])} kept={len(out['kept'])}",
        )

    # frozen_compaction is always severity "action", so resuming a
    # frozen swap rides the same trigger list as fresh fragmentation
    compact_triggers = [
        k for k in (
            "small_files", "marker_backlog", "ledger_files",
            "frozen_compaction",
        )
        if k in advice and advice[k]["severity"] in ("warn", "action")
    ]
    doc = _load_manifest_doc(spark, path) if compact_triggers else None
    partition_by = tuple((doc or {}).get("partition_by") or ())
    compact_ok = bool(partition_by)
    want_compact = bool(compact_triggers) and compact_ok
    if compact_triggers and not compact_ok:
        rows.append(
            (
                "compact_corpus", False,
                "SKIPPED despite triggers "
                f"({','.join(compact_triggers)}): no parseable manifest "
                "partition_by — a guessed partitioning would re-layout "
                "the corpus wrong; run build_manifest/_write first",
            )
        )
    elif plan(
        "compact_corpus", want_compact,
        ("triggers: " + ",".join(compact_triggers))
        if compact_triggers
        else "no fragmentation findings",
    ):
        compact_corpus(
            spark, path, partition_by=partition_by,
            token_col=token_col, num_tasks=num_tasks,
            cluster_by=cluster_by, cluster_strategy=cluster_strategy,
            max_records_per_file=max_records_per_file, lease=lease,
        )
        rows[-1] = (
            "compact_corpus", True,
            "triggers: " + ",".join(compact_triggers),
        )
    compact_executed = bool(rows) and rows[-1][0] == "compact_corpus" and rows[-1][1]

    # stats healing: the advisor already paid the coverage listing —
    # reuse its verdict instead of re-listing; a compaction that ran
    # with a stats config covers every live file by construction
    stats_findings = [
        k for k in ("file_stats_gaps", "file_stats_orphans") if k in advice
    ]
    want_rebuild = bool(stats_findings) and not compact_executed
    if plan(
        "rebuild_file_stats", want_rebuild,
        ("advisor: " + ",".join(stats_findings))
        if stats_findings
        else ("healed by the compaction" if compact_executed and
              "stats_delta_backlog" in advice else "coverage exact or no config"),
    ):
        rebuild_file_stats(spark, path, lease=lease)
        rows[-1] = (
            "rebuild_file_stats", True,
            "; ".join(advice[k]["detail"] for k in stats_findings),
        )

    # stats consolidation: bookkeeping-only fold of the JSON deltas into
    # the parquet doc the distributed prune reads — a stats backlog no
    # longer forces a full data rewrite (compaction heals it as a side
    # effect when IT has triggers; this step covers the backlog-only
    # case). Converges: one fold empties the delta backlog and records a
    # consolidated version, clearing both findings.
    cons_findings = [
        k for k in ("stats_delta_backlog", "stats_unconsolidated")
        if k in advice and advice[k]["severity"] in ("warn", "action")
    ]
    want_consolidate = bool(cons_findings) and not compact_executed
    if plan(
        "consolidate_file_stats", want_consolidate,
        ("advisor: " + ",".join(cons_findings))
        if want_consolidate
        else ("healed by the compaction" if cons_findings else "no backlog"),
    ):
        from bambooai_spark.operators.filestats import (  # noqa: PLC0415
            consolidate_file_stats,
        )

        out = consolidate_file_stats(spark, path, lease=lease)
        rows[-1] = (
            "consolidate_file_stats", True,
            f"version={out.get('version')} entries={out.get('n_entries')} "
            f"folded_deltas={out.get('folded_deltas')}",
        )

    # report-only findings: a cron consuming this plan must still see
    # everything the advisor flagged, executed or not
    if "manifest" in advice and advice["manifest"]["severity"] == "action":
        rows.append(
            (
                "build_manifest", False,
                "manifest missing/torn — rebuild it with the corpus's "
                "true partition_by (not auto-executed: only the "
                "operator knows it)",
            )
        )
    for k in ("signature_gaps", "signature_orphans"):
        if k in advice:
            rows.append(
                (
                    "rebuild_signatures", False,
                    f"{k} reported — run rebuild_signatures with the "
                    "corpus's near_dup_opts (policy not auto-executed)",
                )
            )
    if "query_mix" in advice and advice["query_mix"]["severity"] == "warn":
        rows.append(
            (
                "recluster", False,
                "query_mix reported — " + advice["query_mix"]["detail"]
                + " (re-layout is a human call, not auto-executed)",
            )
        )

    # gram-store refresh IS auto-executable (policy-free: the store meta
    # pins k/min_count; only re-derivation from live rows happens) —
    # the same follower posture as the vector store's append-only
    # refresh. The initial BUILD stays report-only: k/min_count are
    # policy the operator owns.
    g = advice.get("gram_store")
    if g is not None and g["severity"] == "action":
        if "repair_gram_store" in g["recommendation"]:
            # half-swapped store from a crashed refresh: rolling the
            # completed staging forward (or back) is policy-free
            if plan("repair_gram_store", True, g["detail"]):
                from bambooai_spark.operators.gram_store import (  # noqa: PLC0415
                    repair_gram_store,
                )

                repair_gram_store(spark, gram_store_path)
                rows[-1] = (
                    "repair_gram_store", True,
                    "half-swapped store repaired; staleness re-checked "
                    "next advisory pass",
                )
        elif "refresh_gram_store" in g["recommendation"]:
            if plan("refresh_gram_store", True, g["detail"]):
                from bambooai_spark.operators.gram_store import (  # noqa: PLC0415
                    _read_meta,
                    refresh_gram_store,
                )

                # delta refresh when the store knows its source files
                # (per-delta cost; falls back to a full rebuild itself
                # if files vanished under compaction/delete) — but a
                # store already carrying the delta singleton lag gets a
                # FULL refresh, so the NEXT drift-triggered pass
                # restores exactness (every delta preserves
                # counts_exact False; only a full rebuild clears it).
                # If growth stops below the drift threshold no refresh
                # fires at all and the lag stands — surfaced by the
                # advisor's gram_store_lag info row for the operator
                # to clear manually when batch surgery needs the store
                gm = _read_meta(spark, gram_store_path)
                delta = bool(gm.get("has_files")) and bool(
                    gm.get("counts_exact", True)
                )
                if delta and gm.get("delta_support"):
                    # a delta_support store's overlay deltas are
                    # computed against the BASE inventory, so their
                    # cost grows with every file since the last full
                    # build — once the corpus has outgrown the base 2x,
                    # go full: one pass resets the overlay cost AND
                    # re-bases the surgery composition
                    from bambooai_spark.operators.gram_store import (  # noqa: PLC0415
                        _corpus_manifest_rows,
                    )

                    cur = _corpus_manifest_rows(spark, path)
                    base = gm.get("n_rows")
                    if cur is not None and base and cur >= 2 * base:
                        delta = False
                out = refresh_gram_store(
                    spark, path, gram_store_path, delta_only=delta
                )
                rows[-1] = (
                    "refresh_gram_store", True,
                    f"v{out.get('version')}: {out.get('n_grams')} grams "
                    f"from {out.get('n_rows')} rows"
                    + (" (delta)" if delta else ""),
                )
        else:
            rows.append(
                (
                    "build_gram_store", False,
                    "no gram store yet — build it with the k/min_count "
                    "the ingest gate will use (policy not auto-executed)",
                )
            )

    return _plan_df(spark, rows)


# a probe that lands in a cell holding this multiple of its fair share
# reads that multiple of its fair share of bytes; past it, retraining
# pays for itself on the next query mix
VECTOR_SKEW_RATIO = 4.0


def suggest_vector_maintenance(
    spark: SparkSession,
    store_path: str,
    *,
    skew_ratio: float = VECTOR_SKEW_RATIO,
    corpus_path: str | None = None,
) -> DataFrame:
    """Vector-store twin of :func:`suggest_maintenance` (VERDICT r8 #5:
    pinned centroids degrade recall/latency as the corpus drifts, and
    nothing measured it). One partition-column-only job: flags cell
    skew (max/mean over the configured cell count) past ``skew_ratio``
    and a crashed rebuild swap; recommends
    :func:`~bambooai_spark.operators.vector_store.rebuild_vector_store`
    for both. With ``corpus_path`` it also compares the store's pinned
    corpus watermark against the corpus's latest committed batch and
    flags refresh lag (the index silently serving stale answers is the
    OTHER way a follower store degrades). Same row contract as the
    corpus advisor."""
    from bambooai_spark.operators.vector_store import (  # noqa: PLC0415
        REBUILD_FLAG,
        _load_meta_raw,
        vector_store_skew,
    )

    rows: list[tuple[str, str, str, str]] = []
    if _fs_exists(spark, _join(store_path, REBUILD_FLAG)):
        rows.append((
            "rebuild_frozen", "action",
            "rebuild_vector_store(spark, path)  # resumes the swap",
            "a rebuild crashed mid-swap; readers refuse until it "
            "completes",
        ))
        return _df(spark, rows)
    # one bookkeeping load for the whole advisor call (review r10): the
    # flag was just checked, so the raw read is the _load_meta semantics
    meta = _load_meta_raw(spark, store_path)
    sk = vector_store_skew(spark, store_path, _meta=meta)
    if sk["rows"] and sk["skew"] > skew_ratio:
        rows.append((
            "cell_skew", "warn",
            "rebuild_vector_store(spark, path)",
            f"max cell {sk['max_cell']} rows vs mean "
            f"{sk['mean_cell']:.1f} over {sk['n_cells']} cells "
            f"(skew {sk['skew']:.1f}x > {skew_ratio}x) — probes hitting "
            "the hot cell read that multiple of their fair share and "
            "recall degrades where the quantizer stopped separating",
        ))
    elif sk["rows"] and sk["nonempty_cells"] * 2 < sk["n_cells"]:
        rows.append((
            "empty_cells", "info",
            "rebuild_vector_store(spark, path)",
            f"{sk['n_cells'] - sk['nonempty_cells']}/{sk['n_cells']} "
            "cells empty — wasted quantizer capacity (harmless, but a "
            "retrain would sharpen the probes)",
        ))
    else:
        rows.append((
            "cells", "ok", "none",
            f"{sk['rows']} vectors over {sk['nonempty_cells']}/"
            f"{sk['n_cells']} cells, skew {sk['skew']:.1f}x",
        ))
    if corpus_path is not None:
        from bambooai_spark.operators.writer import (  # noqa: PLC0415
            _batch_key,
            latest_committed_batch,
        )

        wm = meta.get("corpus_watermark")
        if wm is None:
            rows.append((
                "refresh_lag", "info",
                "set_corpus_watermark(spark, store_path, batch)",
                "no corpus watermark pinned — refresh_vector_store "
                "cannot follow the corpus incrementally",
            ))
        else:
            ns = wm.rpartition(".")[0] if (
                isinstance(wm, str) and "." in wm
            ) else None
            latest = latest_committed_batch(
                spark, corpus_path, namespace=ns
            )
            lk = _batch_key(latest, like=wm) if latest is not None else None
            wk = _batch_key(wm)
            if lk is not None and wk is not None and lk > wk:
                rows.append((
                    "refresh_lag", "warn",
                    "refresh_vector_store(spark, corpus_path, store_path, "
                    "embed)",
                    f"corpus committed through batch {latest!r} but the "
                    f"store's watermark is {wm!r} — queries silently miss "
                    "every document since",
                ))
            else:
                rows.append((
                    "refresh_lag", "ok", "none",
                    f"watermark {wm!r} == corpus head",
                ))
    # fsck-derived rows (VERDICT r9 #7): surface store corruption the
    # cheap checks can see — O(bookkeeping), never a tree walk here
    # (deep=True stays an explicit validate_vector_store call)
    from bambooai_spark.operators.vector_store import (  # noqa: PLC0415
        validate_vector_store,
    )

    recs = {
        "orphan_staging": "delete _rebuild_tmp (or the next "
        "rebuild_vector_store clears it)",
        "watermark": "re-baseline: write_vector_corpus(snapshot) + "
        "set_corpus_watermark",
    }
    for r in validate_vector_store(
        spark, store_path, corpus_path=corpus_path,
        _meta=meta, _frozen=False,
    ).collect():
        if not r["ok"]:
            rows.append((
                f"fsck_{r['check']}", "warn",
                recs.get(r["check"], "validate_vector_store(deep=True)"),
                r["detail"],
            ))
    return _df(spark, rows)


def auto_maintain_vector_store(
    spark: SparkSession,
    store_path: str,
    *,
    skew_ratio: float = VECTOR_SKEW_RATIO,
    rebuild_on_skew: bool = False,
    corpus_path: str | None = None,
    embed=None,
    lease=None,
    dry_run: bool = False,
) -> DataFrame:
    """Execute :func:`suggest_vector_maintenance`'s findings in the safe
    order — the vector-store twin of :func:`auto_maintain`. A FROZEN
    rebuild always resumes (readers refuse until it completes, so
    finishing it is strictly healing); a skew-triggered RETRAIN runs
    only with ``rebuild_on_skew=True`` — it rewrites every vector and
    changes approximate results (cell boundaries move), which stays a
    deliberate operator call by default, like re-clustering a corpus.
    With ``corpus_path`` (VERDICT r9 #2: the advisor measured refresh
    lag but the ops loop couldn't see it) a stale watermark triggers
    :func:`~bambooai_spark.operators.vector_store.refresh_vector_store`
    — append-only and idempotent, so it executes by default, unlike the
    retrain; pass ``embed`` when the corpus rows don't already carry
    the store's pinned columns. Every advice row is reported (not just
    the first residual), so new advisor checks surface here without
    wiring. Returns ``(action, executed, detail)`` rows."""
    from bambooai_spark.operators.vector_store import (  # noqa: PLC0415
        rebuild_vector_store,
        refresh_vector_store,
    )

    advice = {
        r["check"]: r.asDict()
        for r in suggest_vector_maintenance(
            spark, store_path, skew_ratio=skew_ratio,
            corpus_path=corpus_path,
        ).collect()
    }
    rows: list[tuple[str, bool, str]] = []
    if "rebuild_frozen" in advice:
        if dry_run:
            rows.append((
                "resume_rebuild", False,
                "dry_run — would resume: "
                + advice["rebuild_frozen"]["detail"],
            ))
        else:
            meta = rebuild_vector_store(spark, store_path, lease=lease)
            rows.append((
                "resume_rebuild", True,
                f"swap completed (gen {meta.get('rebuild_gen')})",
            ))
        return _plan_df(spark, rows)
    if "cell_skew" in advice:
        if not rebuild_on_skew:
            rows.append((
                "rebuild_vector_store", False,
                advice["cell_skew"]["detail"]
                + " (pass rebuild_on_skew=True to retrain — it rewrites "
                "every vector and moves cell boundaries)",
            ))
        elif dry_run:
            # the preview must say what a REAL run with these arguments
            # would do — not re-print the opt-in hint the caller already
            # satisfied (review r9 pass 4)
            rows.append((
                "rebuild_vector_store", False,
                "dry_run — would retrain: "
                + advice["cell_skew"]["detail"],
            ))
        else:
            meta = rebuild_vector_store(spark, store_path, lease=lease)
            rows.append((
                "rebuild_vector_store", True,
                f"retrained (gen {meta.get('rebuild_gen')}): "
                + advice["cell_skew"]["detail"],
            ))
    lag = advice.get("refresh_lag")
    lag_warn = lag is not None and lag["severity"] == "warn"
    if lag_warn and "fsck_watermark" in advice:
        # the corpus's maintenance floor passed the watermark: the
        # incremental refresh would raise read_corpus_changes' floor
        # guard mid-plan (review r10) — report the re-baseline the fsck
        # already recommended instead of crashing the healing loop
        rows.append((
            "refresh_vector_store", False,
            "refresh skipped — " + advice["fsck_watermark"]["detail"],
        ))
    elif lag_warn:
        # refresh AFTER any retrain: the rebuild carries the watermark
        # over, so the refresh window is the same either way, and the
        # appended vectors land in the fresh cell layout
        if dry_run:
            rows.append((
                "refresh_vector_store", False,
                "dry_run — would refresh: " + lag["detail"],
            ))
        else:
            res = refresh_vector_store(
                spark, corpus_path, store_path, embed
            )
            rows.append((
                "refresh_vector_store", True,
                f"appended {res['n_new']} vectors, watermark -> "
                f"{res['watermark']!r}: " + lag["detail"],
            ))
    # report every remaining advice row (ok/info states, and any check a
    # future advisor adds) instead of assuming a single residual
    handled = {"rebuild_frozen", "cell_skew"}
    if lag_warn:
        handled.add("refresh_lag")
    for check, row in advice.items():
        if check not in handled:
            rows.append((f"none[{check}]", False, row["detail"]))
    return _plan_df(spark, rows)


def _plan_df(spark: SparkSession, rows) -> DataFrame:
    return spark.createDataFrame(
        rows, "action string, executed boolean, detail string"
    )
