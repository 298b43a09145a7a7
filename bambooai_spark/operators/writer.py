"""Curated-corpus writer — the terminal sink of the LLM data pipeline
(dedup → filter → sample → pack → WRITE): partitioned, size-capped parquet
shards plus a manifest the training dataloader reads instead of listing
the filesystem.

Scale shape: ``partitionBy`` gives one directory per partition value
(language/source/shard), ``maxRecordsPerFile`` splits each into bounded
files WITHOUT a shuffle (the writer rolls files as it streams rows), and
the manifest is computed from one aggregation over the written files'
metadata (``input_file_name()``), not a driver-side directory walk over
what could be millions of shard files. Pair with
``operators.shuffle.shuffle_shards`` for a deterministic global order:
``partition_by=('shard',)`` after sharding yields resumable, evenly-sized
training streams.

The reference has no batch sink beyond per-query CSV harvest
(bambooai/code_executor.py:187-199 generated-dataset listing); this is the
100 TB-mandate counterpart.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bambooai_spark.session import overlapped

MANIFEST_NAME = "_corpus_manifest.json"
# underscore prefix → invisible to spark.read.parquet(corpus_path), so the
# ledger can live inside the corpus directory without polluting reads
LEDGER_DIR = "_fingerprints"
# the ledger holds one md5 hex column; reading it under this pinned
# schema skips the one-task footer-inference job a schema-less read runs
LEDGER_SCHEMA = "fp string"
SIGS_DIR = "_minhash_sigs"  # the near-dup gate's signature store
# transactional-append bookkeeping (underscore-prefixed for the same
# invisibility): per-batch staged writes + commit markers
STAGING_DIR = "_staging"
COMMITS_DIR = "_commits"
STAGED_MARKER = "_STAGED"
# manifest-side replay guard: only the most recent commits need remembering
# (Structured Streaming replays at most the last uncommitted batch), so the
# list stays bounded over month-long streams
MAX_REMEMBERED_COMMITS = 100


def _schema_json_of(df: DataFrame) -> dict:
    """The manifest's ``schema`` entry: the corpus's unified READ schema
    (data + partition columns), every field forced nullable — files
    written before a column was added hold no values for it, so a read
    must surface NULLs there."""
    from pyspark.sql.types import StructField, StructType  # noqa: PLC0415

    return StructType(
        [StructField(f.name, f.dataType, True) for f in df.schema.fields]
    ).jsonValue()


_UNLOADED = object()  # sentinel: "caller did not preload the manifest"


def _read_ledger(spark: SparkSession, ledger_path: str) -> DataFrame | None:
    """The fingerprint ledger under :data:`LEDGER_SCHEMA`, or None when
    the directory is missing or holds no data files (only ``_SUCCESS``
    after an empty first append) — the case a schema-less read raised
    ``AnalysisException`` for, and a schema'd one would answer with an
    empty relation. The file check reads the listing the relation
    already made; it runs no Spark job."""
    from pyspark.errors import AnalysisException  # noqa: PLC0415

    try:
        ledger = spark.read.schema(LEDGER_SCHEMA).parquet(ledger_path)
    except AnalysisException:
        return None
    return ledger if ledger.inputFiles() else None


def _load_manifest_doc(spark: SparkSession, path: str) -> dict | None:
    """The parsed manifest JSON, or None (missing / torn). Callers on the
    append hot path load ONCE and hand the doc to the schema helpers and
    the drift guard — on object stores every read is a paid GET."""
    mpath = _join(path, MANIFEST_NAME)
    if not _fs_exists(spark, mpath):
        return None
    try:
        return json.loads(_fs_read_text(spark, mpath))
    except ValueError:
        return None


def _stored_schema_json(
    spark: SparkSession, path: str, doc=_UNLOADED
) -> dict | None:
    """The manifest's recorded schema, or None (legacy / torn manifest)."""
    if doc is _UNLOADED:
        doc = _load_manifest_doc(spark, path)
    return (doc or {}).get("schema")


def _record_schema(
    spark: SparkSession, path: str, schema_json: dict
) -> None:
    """Fold ``schema_json`` (and its column names) into the manifest in
    place, preserving everything else — the plain append's pre-write
    step for an EVOLVING batch: the data files gain the new column first
    and the manifest fold runs last, so a crash in between would
    otherwise leave files the recorded schema doesn't know, and the next
    compaction's schema-pinned read would rewrite the evolved column
    away. Recording the schema FIRST is safe in the mirror-image crash:
    a recorded column with no file yet simply reads back all-NULL.

    No-op without a parseable manifest: fabricating one over a torn (or
    absent) document would hand the later fold an empty-partitions
    manifest it trusts, erasing the real counts — the fold's own torn
    branch rebuilds from files instead."""
    doc = _load_manifest_doc(spark, path)
    if doc is None:
        return
    doc["schema"] = schema_json
    doc["columns"] = sorted(f["name"] for f in schema_json["fields"])
    _fs_write_text(
        spark, _join(path, MANIFEST_NAME),
        json.dumps(doc, indent=2, default=str),
    )


def _stored_schema(spark: SparkSession, path: str):
    """``StructType`` form of :func:`_stored_schema_json` (or None).

    Every full-corpus read in this module prefers this over letting one
    sampled parquet footer pick the schema: after an additive schema
    evolution the files legitimately disagree on columns, and a
    one-footer read would silently DROP the evolved column from a
    compaction or delete rewrite. The explicit schema also pins
    partition-column types without ``mergeSchema``'s all-footers cost."""
    from pyspark.sql.types import StructType  # noqa: PLC0415

    js = _stored_schema_json(spark, path)
    if not js:
        return None
    try:
        return StructType.fromJson(js)
    except (KeyError, TypeError, ValueError):
        return None  # unrecognized schema entry — fall back to inference


def _unified_schema_json(
    stored_json: dict | None, batch: DataFrame
) -> dict:
    """Corpus schema after appending ``batch``: stored fields first (their
    recorded types), batch-only fields appended in batch order. With no
    stored schema the batch defines it."""
    from pyspark.sql.types import StructField, StructType  # noqa: PLC0415

    if not stored_json:
        return _schema_json_of(batch)
    try:
        stored = StructType.fromJson(stored_json)
    except (KeyError, TypeError, ValueError):
        return _schema_json_of(batch)
    have = {f.name for f in stored.fields}
    fields = [StructField(f.name, f.dataType, True) for f in stored.fields]
    fields += [
        StructField(f.name, f.dataType, True)
        for f in batch.schema.fields
        if f.name not in have
    ]
    return StructType(fields).jsonValue()


def _fs(spark: SparkSession, path: str):
    """Hadoop FileSystem + Path for ``path`` — ONE bookkeeping API for
    plain local paths, ``file://``, ``hdfs://`` and ``s3a://`` URIs, so
    the manifest/ledger live wherever the corpus parquet lives. (The
    former ``os.path``/``open`` bookkeeping silently skipped ledger
    seeding on any URI — even ``file://`` — then crashed writing the
    manifest after the data append.)

    The FileSystem handle and the Path class are cached per session
    (keyed by the path's scheme+authority): every uncached call pays
    several py4j roundtrips just to re-resolve objects Hadoop itself
    already caches, and the transactional verbs make hundreds of
    bookkeeping calls per commit (measured ~0.5-1 s of pure gateway
    latency per merge at sf0.1). The cache dies with the session
    object, so a restarted JVM never serves stale handles."""
    cache = getattr(spark, "_bbai_fs_cache", None)
    if cache is None:
        cache = {"Path": spark._jvm.org.apache.hadoop.fs.Path}
        spark._bbai_fs_cache = cache
    path_cls = cache["Path"]
    jpath = path_cls(path)
    # scheme+authority identify the FileSystem; parse them in Python
    # (no roundtrip) the way hadoop Path does: a scheme is everything
    # before the first ":" when no "/" precedes it (this also covers
    # the single-slash form hadoop's own qualified URIs print,
    # "file:/root/x"); the authority is the segment between "//" and
    # the next "/" ('' for local and scheme-less paths)
    head, sep, rest = path.partition(":")
    if sep and "/" not in head:
        auth = rest[2:].split("/", 1)[0] if rest.startswith("//") else ""
        key = (head, auth)
    else:
        key = ("", "")
    fs = cache.get(key)
    if fs is None:
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        cache[key] = fs
    return fs, jpath


def _fs_exists(spark: SparkSession, path: str) -> bool:
    fs, jpath = _fs(spark, path)
    return bool(fs.exists(jpath))


def _fs_read_text(spark: SparkSession, path: str) -> str:
    fs, jpath = _fs(spark, path)
    stream = fs.open(jpath)
    try:
        # commons-io ships on Spark's classpath
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def _fs_write_text(spark: SparkSession, path: str, text: str) -> None:
    fs, jpath = _fs(spark, path)
    out = fs.create(jpath, True)  # overwrite
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _join(path: str, name: str) -> str:
    """URI-safe child path (os.path.join would break scheme URIs)."""
    return path.rstrip("/") + "/" + name


def _record_sigs_last(fp_sigs, path: str, near_dup_opts: dict | None) -> None:
    """Record the gate's precomputed survivor signatures as the LAST
    step of a gated append (no-op when the append was ungated)."""
    if fp_sigs is None:
        return
    from bambooai_spark.operators.neardup_gate import (  # noqa: PLC0415
        _opts_of,
        _record_prepared,
    )

    _record_prepared(fp_sigs, path, _opts_of(near_dup_opts))


def _lease_beat(lease) -> None:
    """Refresh + verify an advisory writer lease (``operators/lease.py``)
    at op entry, if the caller passed one. Duck-typed to avoid a circular
    import (lease.py reuses this module's fs helpers)."""
    if lease is not None:
        lease.heartbeat()


def _lease_ensure(lease) -> None:
    """Assert the advisory lease is still held — called immediately
    before a publish step so a holder that lost a TTL takeover fails
    BEFORE making its work visible."""
    if lease is not None:
        lease.ensure()


def _fs_write_text_atomic(spark: SparkSession, path: str, text: str) -> None:
    """Write-then-rename so the file's PRESENCE implies complete content —
    markers gate the commit protocol, so a torn marker must be impossible."""
    tmp = path + ".tmp"
    _fs_delete(spark, tmp)
    _fs_write_text(spark, tmp, text)
    fs, dest = _fs(spark, path)
    if fs.exists(dest):  # lost a race / replay — existing marker wins
        _fs_delete(spark, tmp)
        return
    if not fs.rename(_fs(spark, tmp)[1], dest):
        raise RuntimeError(f"marker rename failed: {path}")


def _fs_delete(spark: SparkSession, path: str) -> None:
    fs, jpath = _fs(spark, path)
    if fs.exists(jpath):
        fs.delete(jpath, True)  # recursive


def _fs_list_data_files(spark: SparkSession, path: str) -> list[str]:
    """Recursively list the DATA files under ``path`` as (qualified) path
    strings, skipping bookkeeping names (``_SUCCESS``, dotfiles). Driver-side
    but O(files in one micro-batch), never O(corpus)."""
    fs, jpath = _fs(spark, path)
    if not fs.exists(jpath):
        return []
    out = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        p = it.next().getPath()
        if not p.getName().startswith(("_", ".")):
            out.append(p.toString())
    return out


def _fs_parallel(spark: SparkSession, fn, items) -> None:
    """Run independent per-file bookkeeping calls (rename/exists/delete)
    on up to 8 overlapped driver threads. Each call is a blocking py4j
    roundtrip of ~1 ms locally — and tens to hundreds of ms per rename
    on an object store — so a swap of F files costs O(F) sequential
    latency unless overlapped; the operations themselves are mutually
    independent by protocol design (per-file, order-free, resumable).
    Each thread runs one side leg over every 8th item rather than one
    leg per item: starting a leg costs about 1.4 ms of CPU in py4j
    calls (measured at local[4] on a 4-vCPU host), more than the call
    it would carry. The first failing leg's exception propagates after
    the other legs have finished their items."""
    items = list(items)
    if not items:
        return
    if len(items) == 1:  # no threads for the single-file common case
        fn(items[0])
        return
    n = min(8, len(items))

    def _each(part):
        for item in part:
            fn(item)

    with overlapped(spark, "corpus file ops", n) as ov:
        for leg in [ov.submit(_each, items[i::n]) for i in range(n)]:
            leg.result()


def _move_staged_files(
    spark: SparkSession,
    src_root: str,
    dest_root: str,
    batch_id: int | str,
    *,
    prefix: str | None = None,
) -> None:
    """Move every staged data file under ``src_root`` into the mirrored
    location under ``dest_root``, prefixing the basename (default
    ``b<batch_id>-``; compaction passes its hidden ``_swap-c<id>-``).

    The move is resumable: destination names are a pure function of the
    (frozen) staged names, so a file whose destination already exists was
    moved by a previous attempt and is skipped. Per-FILE rename is atomic on
    local/HDFS; on object stores rename is copy+delete but each object
    appears only when complete, so the exists-check keeps replays exact —
    which is exactly why nothing in this module ever renames a DIRECTORY
    into live locations (a half-copied directory tree passes an
    exists-check and loses the uncopied files on resume)."""
    pre = prefix if prefix is not None else f"b{batch_id}-"
    fs, src_jpath = _fs(spark, src_root)
    src_prefix = fs.makeQualified(src_jpath).toString().rstrip("/") + "/"
    moves = []
    for f in _fs_list_data_files(spark, src_root):
        if not f.startswith(src_prefix):  # pragma: no cover - same FS always
            raise RuntimeError(f"staged file {f} outside staging {src_prefix}")
        rel = f[len(src_prefix):]
        parent, _, base = rel.rpartition("/")
        dest_dir = _join(dest_root, parent) if parent else dest_root
        moves.append((f, dest_dir, _join(dest_dir, f"{pre}{base}")))
    # each unique destination directory once, then the per-file renames
    # on overlapped driver threads — semantics per file are unchanged
    # (existing destination wins), only the gateway latency is overlapped
    path_cls = spark._bbai_fs_cache["Path"]
    for d in sorted({dest_dir for _, dest_dir, _ in moves}):
        fs.mkdirs(path_cls(d))

    def _move_one(move):
        f, _dest_dir, dest = move
        dest_jpath = path_cls(dest)
        if fs.exists(dest_jpath):
            return  # moved by a previous (crashed) attempt
        if not fs.rename(path_cls(f), dest_jpath):
            raise RuntimeError(f"rename failed: {f} -> {dest}")

    _fs_parallel(spark, _move_one, moves)


def _txn_batch_of(basename: str) -> str | None:
    """The txn batch id a committed data file carries, or None for base
    files (plain ``part-`` appends, ``c<id>-`` compaction output,
    ``d<id>-`` delete rewrites). Commit renames are ``b<batch_id>-<base>``
    and ``-`` is rejected in batch ids by :func:`append_corpus_txn`
    precisely so the id is unambiguously everything up to the first
    ``-`` (composite streaming ids use ``<namespace>.<n>``)."""
    if not basename.startswith("b"):
        return None
    head, sep, _rest = basename[1:].partition("-")
    return head if sep and head else None


def _file_list_isin_bound() -> int:
    """Matched-file count above which the staged-rewrite filters switch
    from an ``isin(<paths>)`` literal to a left-semi join against the
    matched-file relation. The literal is fine for maintenance-sized
    updates; a whole-corpus UPDATE at O(10^6) files would serialize a
    multi-hundred-MB IN expression into every task (VERDICT r10 #4).
    Env-overridable so tests can force the join path on a tiny corpus."""
    import os  # noqa: PLC0415

    try:
        return int(os.environ.get("SPARK_GRAFT_FILE_ISIN_BOUND", "1000"))
    except ValueError:
        return 1000


def _filter_to_files(
    tagged: DataFrame, files_rel: DataFrame, files: list[str]
) -> DataFrame:
    """Restrict ``tagged`` (carrying ``_file``) to the matched files —
    byte-identical either way: an ``isin`` literal below the bound, a
    left-semi join against ``files_rel`` (the distinct matched-file
    relation, derived from an already-persisted parent) above it, so
    neither the plan literal nor the broadcast is O(matched files)."""
    if len(files) <= _file_list_isin_bound():
        return tagged.filter(F.col("_file").isin(files))
    # a using-join reorders columns (join key first); restore the
    # caller's order so the rewritten parquet layout is unchanged
    return tagged.join(files_rel, "_file", "left_semi").select(
        *tagged.columns
    )


def _combine_deltas(
    a: list[dict], b: list[dict], partition_by
) -> list[dict]:
    """Merge two per-partition delta row lists, summing the numeric
    fields of rows that share partition values — the manifest fold gets
    ONE row per partition regardless of how many op halves (update
    token-delta, merge insert counts) contributed."""
    keys = tuple(partition_by)
    out: dict[tuple, dict] = {}
    for row in list(a) + list(b):
        k = tuple(row.get(c) for c in keys)
        if k not in out:
            out[k] = dict(row)
            continue
        tgt = out[k]
        for c, v in row.items():
            if c in keys:
                continue
            tgt[c] = (tgt.get(c) or 0) + (v or 0)
    return list(out.values())


def _files_and_delta(
    matches: DataFrame, partition_by, aggs
) -> tuple[list[str], list[dict]]:
    """The affected-file list (sorted) and the per-partition manifest
    delta of a staged rewrite from ONE aggregate over the matched rows
    (carrying ``_file``), grouped by ``(_file, *partition_by)``: the
    files are the groups' paths, and the driver folds each partition's
    per-file rows into its delta row (``aggs`` must be sums, so the
    per-file parts add up). Driver rows are O(files touched), the bound
    the file list already has."""
    rows = matches.groupBy("_file", *partition_by).agg(*aggs).collect()
    files = sorted({r["_file"] for r in rows})
    per_file = [
        {k: v for k, v in r.asDict().items() if k != "_file"} for r in rows
    ]
    return files, _combine_deltas(per_file, [], partition_by)


def _latest_numeric_batch(spark: SparkSession, path: str) -> int | None:
    """Highest NUMERIC batch id in the manifest's ``committed_batches``
    window — the merge verb's as-of-floor contribution for inserted rows
    (None on a missing/torn manifest or when no numeric id committed)."""
    mpath = _join(path, MANIFEST_NAME)
    if not _fs_exists(spark, mpath):
        return None
    try:
        committed = (
            json.loads(_fs_read_text(spark, mpath)).get(
                "committed_batches"
            ) or []
        )
    except ValueError:
        return None
    nums = [int(b) for b in committed if str(b).isdigit()]
    return max(nums) if nums else None


def _numeric_floor(files: list[str]) -> int | None:
    """Highest NUMERIC txn batch id among ``files`` (basenames or full
    paths) — the as-of floor contribution of a maintenance op that is
    about to rewrite them. Non-numeric ids contribute nothing: they can
    never be an ``as_of_batch`` target, so collapsing them into base
    files loses nothing the mechanism could answer."""
    best: int | None = None
    for f in files:
        bid = _txn_batch_of(f.rsplit("/", 1)[-1])
        if bid is not None and bid.isdigit():
            best = max(best or 0, int(bid))
    return best


def _bump_manifest_floor(spark: SparkSession, path: str, floor: int) -> None:
    """Fold ``floor`` into the manifest's ``as_of_floor`` in place (max
    with any prior value), preserving everything else in the document.
    Maintenance ops call this BEFORE deleting their staged flag — the
    flag is the floor's only other durable copy, so a crash between the
    flag delete and the final manifest rebuild must not lose the
    attribution collapse (read_corpus would then silently answer
    ``as_of_batch`` targets the rewrite made unanswerable)."""
    mpath = _join(path, MANIFEST_NAME)
    doc = None
    if _fs_exists(spark, mpath):
        try:
            doc = json.loads(_fs_read_text(spark, mpath))
        except ValueError:
            doc = None  # torn manifest — the rebuild below replaces it
    if doc is None:
        doc = {"partition_by": [], "partitions": []}
    prior = doc.get("as_of_floor")
    doc["as_of_floor"] = (
        max(int(prior), int(floor)) if prior is not None else int(floor)
    )
    _fs_write_text(spark, mpath, json.dumps(doc, indent=2, default=str))


def _unhide_swapped(spark: SparkSession, dest_root: str, hidden_prefix: str) -> None:
    """Final step of the per-file swap protocol, shared by compaction and
    delete (one copy of crash-critical rename logic): every staged hidden
    file ``_swap-<p><base>`` becomes the live ``<p><base>``. Idempotent —
    an existing destination means a previous attempt already unhid this
    file, so the leftover hidden copy is dropped."""
    fs, _root = _fs(spark, dest_root)
    path_cls = spark._bbai_fs_cache["Path"]

    def _unhide_one(f):
        parent, _, base = f.rpartition("/")
        dest = path_cls(parent + "/" + base[len("_swap-"):])
        src = path_cls(f)
        if fs.exists(dest):
            fs.delete(src, False)
        elif not fs.rename(src, dest):
            raise RuntimeError(f"swap unhide failed: {f}")

    _fs_parallel(
        spark,
        _unhide_one,
        _walk_files(spark, dest_root, want_hidden_prefix=hidden_prefix),
    )


def _walk_files(
    spark: SparkSession,
    root: str,
    *,
    want_hidden_prefix=None,
    dir_ok=None,
) -> list[str]:
    """Walk ``root`` skipping underscore/dot DIRECTORIES at every level
    (bookkeeping trees never mix with data). With ``want_hidden_prefix``
    None, yield the VISIBLE data files (basename not underscore/dot);
    otherwise yield only the hidden files whose basename starts with that
    prefix. Driver-side, O(files under root) — or O(files under the
    MATCHING partitions) with ``dir_ok`` (a ``name -> bool`` descend
    filter, see :func:`~bambooai_spark.operators.filestats
    .partition_dir_pruner`): a partition predicate skips whole
    directories at LISTING time, which at 1000 partitions is the
    difference between listing one partition and a million entries."""
    fs, jroot = _fs(spark, root)
    if not fs.exists(jroot):
        return []
    out = []
    stack = [jroot]
    while stack:
        cur = stack.pop()
        for st in fs.listStatus(cur):
            nm = st.getPath().getName()
            if st.isDirectory():
                if not nm.startswith(("_", ".")) and (
                    dir_ok is None or dir_ok(nm)
                ):
                    stack.append(st.getPath())
            elif want_hidden_prefix is not None:
                if nm.startswith(want_hidden_prefix):
                    out.append(st.getPath().toString())
            elif not nm.startswith(("_", ".")):
                out.append(st.getPath().toString())
    return out


def _cluster(
    df: DataFrame, partition_by, cluster_by: tuple[str, ...],
    num_tasks: int | None = None, strategy: str = "linear",
) -> DataFrame:
    """Data clustering for min/max scan pruning: range-partition on
    (partition cols, cluster cols) then sort within tasks, so every
    written FILE — and every parquet row group inside it — covers a
    narrow, near-disjoint range of the cluster keys. A later filtered
    read (``WHERE doc_id BETWEEN ...``) then skips whole files/row groups
    on footer statistics instead of scanning the corpus. Costs ONE extra
    shuffle at write time — paid once, saved on every selective read.

    ``strategy='linear'`` (default) sorts on the cluster columns in
    order — exact for a single key or a prefix-filtered compound one,
    but the SECOND column's per-file range spans its whole domain.
    ``strategy='zorder'`` sorts on the Morton interleave of the columns'
    quantile-bucket ranks (``functions/zorder.py``) so every file covers
    a narrow range of EVERY cluster column — the multi-predicate
    skipping layout (Delta's OPTIMIZE ZORDER BY analog). Requires ≥ 2
    cluster columns with a quantile order (numeric/date/timestamp)."""
    n = num_tasks or _shuffle_partitions(df.sparkSession)
    if strategy == "zorder":
        from bambooai_spark.functions.zorder import zorder_key  # noqa: PLC0415

        pcols = [F.col(c) for c in partition_by]
        zdf = zorder_key(df, cluster_by)
        return (
            zdf.repartitionByRange(n, *pcols, F.col("_zkey"))
            .sortWithinPartitions(*pcols, "_zkey")
            .drop("_zkey")  # a Project keeps the in-partition row order
        )
    if strategy != "linear":
        raise ValueError(
            f"unknown cluster strategy {strategy!r} (linear|zorder)"
        )
    cols = [F.col(c) for c in (*partition_by, *cluster_by)]
    return df.repartitionByRange(n, *cols).sortWithinPartitions(*cols)


def _check_cluster_args(
    cluster_by: tuple[str, ...], strategy: str
) -> None:
    """Entry-point validation: a typo'd or inapplicable strategy must
    fail loudly even when ``cluster_by`` is empty — ``_cluster`` is only
    reached with cluster columns, so without this a
    ``cluster_strategy='zorder'`` with the default ``cluster_by=()``
    silently wrote an unclustered corpus (review r8)."""
    if strategy not in ("linear", "zorder"):
        raise ValueError(
            f"unknown cluster strategy {strategy!r} (linear|zorder)"
        )
    if strategy != "linear" and not cluster_by:
        raise ValueError(
            f"cluster_strategy={strategy!r} needs cluster_by columns"
        )


def _shuffle_partitions(spark: SparkSession) -> int:
    """``spark.sql.shuffle.partitions`` as an int, falling back to
    ``defaultParallelism`` where a managed platform sets it to a
    non-numeric marker like ``'auto'`` (OSS Spark rejects such values at
    set time, some vendors accept them — a maintenance op must not crash
    on the parse)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        return spark.sparkContext.defaultParallelism


def write_corpus(
    df: DataFrame,
    path: str,
    *,
    partition_by: tuple[str, ...] = ("lang",),
    max_records_per_file: int | None = 100_000,
    mode: str = "overwrite",
    token_col: str | None = None,
    cluster_by: tuple[str, ...] = (),
    num_tasks: int | None = None,
    cluster_strategy: str = "linear",
    stats_by: tuple[str, ...] | None = None,
    bloom_filter_by: tuple[str, ...] = (),
    lease=None,
) -> DataFrame:
    """Write ``df`` as a partitioned parquet corpus and return (and
    persist alongside it) the manifest: one row per partition value with
    file count, row count, byte size, and (optionally) token totals.

    ``token_col`` — a LONG column to sum per partition (e.g. a
    precomputed ``n_tokens``); omitted → no token totals.

    ``cluster_by`` — lay the data out sorted on these columns within
    each partition (see :func:`_cluster`): selective reads then skip
    files and row groups on parquet min/max statistics. One extra
    shuffle at write time; ``num_tasks`` caps its task (and so file)
    count per call, same knob as :func:`compact_corpus`.
    ``cluster_strategy='zorder'`` interleaves instead of sorting
    linearly — every file narrow in EVERY cluster column.

    ``stats_by`` — record per-file min/max/null-count stats for these
    columns under ``_filestats/`` (see :mod:`.filestats`), letting
    :func:`read_corpus`'s ``where=`` drop files from the scan before the
    reader is built. Defaults to ``cluster_by`` (clustering without
    skipping leaves the payoff on the table); pass ``()`` to disable
    explicitly. Every later append/compact/delete on the corpus keeps
    the stats current via the config this records.

    ``bloom_filter_by`` — write parquet split-block bloom filters on
    these columns and record the choice so every later append/compact/
    delete rewrite keeps them: point lookups (``id == x``) skip row
    groups that min/max stats cannot help with on high-cardinality
    unclustered columns. Complementary to ``stats_by`` (range pruning).
    """
    from bambooai_spark.operators.filestats import (  # noqa: PLC0415
        apply_bloom_options,
        bloom_config,
        set_bloom_filters,
        stats_config,
    )

    _check_cluster_args(cluster_by, cluster_strategy)
    # an append lands INTO an existing corpus: load its manifest ONCE up
    # front so the post-write manifest rewrite can carry forward the txn
    # replay window (committed_batches), the maintenance floor
    # (as_of_floor) and the unified schema — rewriting them from this
    # batch alone regressed an evolved corpus's recorded schema (the next
    # schema-pinned compaction then dropped the evolved column from every
    # file) and wiped the CDC re-baseline guard (ADVICE r8).
    prior_doc = (
        _load_manifest_doc(df.sparkSession, path) if mode == "append" else None
    )
    if not bloom_filter_by and mode == "append":
        # an append into an existing bloom-configured corpus must keep
        # the recorded promise (overwrite wipes the config with the dir)
        bloom_filter_by = tuple(bloom_config(df.sparkSession, path))
    persisted = None
    if cluster_by:
        if cluster_strategy == "zorder":
            # the z-order quantile probe is an EAGER action over df's
            # lineage; without a persist an expensive upstream pipeline
            # (joins/dedup/scoring) would compute twice — once for the
            # probe, once for the write (review r8). Compaction's input
            # is a plain parquet scan, so its second read is cheap and
            # not worth pinning a 100 TB corpus in cache.
            persisted = df = df.persist()
        df = _cluster(
            df, partition_by, cluster_by, num_tasks, cluster_strategy
        )
    # dedup while preserving order (enable_file_stats records it the
    # same way), and compare as SETS below: column order and duplicates
    # have no semantic effect on per-column stats, and treating them as
    # a "switch" would trigger a full rebuild per append forever
    stats_cols = tuple(dict.fromkeys(
        stats_by if stats_by is not None else cluster_by
    ))
    recorded_stats = (
        stats_config(df.sparkSession, path) if mode == "append" else None
    )
    if stats_by is None and not stats_cols and mode == "append":
        # same contract as blooms: an append into a stats-configured
        # corpus keeps the recorded stats columns current rather than
        # leaving this write's files invisible to pruning. (An EXPLICIT
        # stats_by=() stays a disable — the documented opt-out.)
        stats_cols = tuple(recorded_stats or ())
    # delta-vs-rebuild: an append whose columns MATCH the recorded config
    # covers only its own files (one bounded delta — a rebuild here would
    # be an O(corpus) scan per append and would delete the consolidated
    # doc); a first enable or a column switch must instead replace the
    # config and cover EVERY live file, or the pre-existing files read
    # unpruned forever and the fsck goes red (review r9 pass 2). NOTE:
    # that rebuild is maintenance-weight — single writer, like
    # compact_corpus; pass ``lease`` to enforce.
    append_delta_stats = (
        mode == "append"
        and bool(stats_cols)
        and recorded_stats is not None
        and set(recorded_stats) == set(stats_cols)
    )
    pre_files: set[str] = set()
    if append_delta_stats:
        pre_files = set(_walk_files(df.sparkSession, path))
    writer = df.write.mode(mode)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer = apply_bloom_options(writer, bloom_filter_by)
    writer.partitionBy(*partition_by).parquet(path)
    if persisted is not None:
        persisted.unpersist()
    if bloom_filter_by and (
        mode != "append"
        or tuple(bloom_config(df.sparkSession, path)) != bloom_filter_by
    ):
        # record AFTER the write (overwrite mode wiped the dir): later
        # appends and maintenance rewrites keep the blooms
        set_bloom_filters(df.sparkSession, path, bloom_filter_by)

    from pyspark.errors import AnalysisException  # noqa: PLC0415

    try:
        manifest = build_manifest(
            df.sparkSession, path,
            partition_by=partition_by, token_col=token_col,
        )
    except AnalysisException:
        # an empty df writes only _SUCCESS — no footer to read a schema
        # from; the manifest is legitimately empty
        manifest = _empty_manifest(
            df.sparkSession, partition_by, token_col, source_df=df
        )
    schema_json = (
        _unified_schema_json(prior_doc.get("schema"), df)
        if prior_doc is not None
        else _schema_json_of(df)
    )
    _write_manifest_json(
        df.sparkSession, path, partition_by, manifest.collect(),
        committed_batches=(prior_doc or {}).get("committed_batches"),
        columns=sorted(f["name"] for f in schema_json["fields"]),
        as_of_floor=(prior_doc or {}).get("as_of_floor"),
        schema_json=schema_json,
    )
    if append_delta_stats:
        _append_stats_delta(
            df.sparkSession, path, stats_cols, pre_files, df.schema
        )
    elif stats_cols:
        from bambooai_spark.operators.filestats import (  # noqa: PLC0415
            rebuild_file_stats,
        )

        # overwrite wiped everything; a first enable / column switch on
        # an existing corpus must cover every live file under the NEW
        # config — both record _filestats/_CONFIG.json for later writers.
        # Maintenance-weight (its consolidation prunes other deltas):
        # single writer, lease-enforceable.
        rebuild_file_stats(df.sparkSession, path, stats_cols, lease=lease)
    return manifest


def _append_stats_delta(
    spark: SparkSession, path: str, stats_cols, pre_files: set[str], schema
) -> None:
    """One bounded stats delta for exactly an append's new files (the
    post-minus-pre listing diff) — the ONE copy of the plain-append
    stats logic (write_corpus append + append_corpus share it). The
    ``schema`` pin matters: a one-footer inferred schema could mark a
    column absent (nn=0) for files that hold values, wrongly pruning
    them later. A crash before the delta write loses only these files'
    stats (read unpruned until rebuild_file_stats heals)."""
    import uuid as _uuid  # noqa: PLC0415

    from bambooai_spark.operators.filestats import (  # noqa: PLC0415
        collect_file_stats,
        write_stats_delta,
    )

    new_files = [f for f in _walk_files(spark, path) if f not in pre_files]
    if not new_files:
        return
    write_stats_delta(
        spark, path, f"a{_uuid.uuid4().hex[:8]}",
        collect_file_stats(
            spark, path, stats_cols, schema=schema, files=new_files
        ),
    )


def _write_manifest_json(
    spark: SparkSession,
    path: str,
    partition_by,
    rows,
    committed_batches: list[str] | None = None,
    columns: list[str] | None = None,
    as_of_floor: int | None = None,
    schema_json: dict | None = None,
) -> None:
    doc = {
        "partition_by": list(partition_by),
        "partitions": [
            r.asDict() if hasattr(r, "asDict") else dict(r) for r in rows
        ],
    }
    if committed_batches is not None:
        doc["committed_batches"] = list(committed_batches)
    if columns is not None:
        # the corpus column set, so the append-time schema-drift guard
        # reads ONE small JSON instead of listing the whole corpus tree
        doc["columns"] = sorted(columns)
    if schema_json is not None:
        # the TYPED unified read schema (see _stored_schema): evolution-
        # aware reads and rewrites take it instead of one sampled footer
        doc["schema"] = schema_json
    if as_of_floor is not None:
        # the highest txn batch id whose files a maintenance op has
        # rewritten (compaction folds them into c<id>- files, delete's
        # kept-rows rewrite merges them into d<id>- files) — batch
        # attribution below this id is gone, so read_corpus refuses
        # as_of_batch targets under it instead of answering wrong
        doc["as_of_floor"] = int(as_of_floor)
    _fs_write_text(
        spark,
        _join(path, MANIFEST_NAME),
        json.dumps(doc, indent=2, default=str),
    )


def build_manifest(
    spark: SparkSession,
    path: str,
    *,
    partition_by: tuple[str, ...] = ("lang",),
    token_col: str | None = None,
    schema=None,
) -> DataFrame:
    """Manifest from the written files themselves (re-runnable on any
    existing corpus dir): group by partition columns, count rows and
    data files, and read each file's on-disk size via the ``_metadata``
    hidden column — aggregation-side, no driver listing.

    One scan, one aggregation: a file is counted (and its size summed)
    at its first row (``_metadata.row_index == 0``), which exists once
    per file however the file is split across tasks — no distinct-count
    expand and its two extra shuffles. The O(partitions) result is
    sorted in one task rather than by a distributed sort. Writers that
    also need per-file stats of the same files take both from one
    grouped scan instead (see ``_scan_staged``).

    ``schema`` pins the read schema INCLUDING partition-column types —
    without it Spark's partition-value inference can re-type directory
    values (``source=0123`` comes back as int 123), which would split one
    partition into two manifest entries when folded against deltas keyed
    by the original value."""
    back = (
        spark.read.schema(schema).parquet(path)
        if schema is not None
        else spark.read.parquet(path)
    )
    first_row = F.col("_metadata.row_index") == 0
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(first_row, F.lit(1))).alias("n_files"),
        # each file's size repeats per row; sum it at the file's first row
        F.sum(
            F.when(first_row, F.col("_metadata.file_size")).otherwise(
                F.lit(0)
            )
        ).alias("n_bytes"),
    ]
    if token_col:
        aggs.append(F.sum(F.col(token_col)).cast("long").alias("n_tokens"))
    cols = [*partition_by, "_metadata"] + ([token_col] if token_col else [])
    return (
        back.select(*cols)
        .groupBy(*partition_by)
        .agg(*aggs)
        .coalesce(1)
        .sortWithinPartitions(*partition_by)
    )


def _empty_manifest(
    spark: SparkSession,
    partition_by,
    token_col: str | None,
    source_df: DataFrame | None = None,
) -> DataFrame:
    """Typed empty manifest; partition columns copy the SOURCE df's types
    (a LONG shard key must not come back STRING on the empty path)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    fields = []
    for c in partition_by:
        dt = (
            source_df.schema[c].dataType
            if source_df is not None and c in source_df.columns
            else StringType()
        )
        fields.append(StructField(c, dt))
    fields += [
        StructField("n_rows", LongType()),
        StructField("n_files", LongType()),
        StructField("n_bytes", LongType()),
    ]
    if token_col:
        fields.append(StructField("n_tokens", LongType()))
    return spark.createDataFrame([], StructType(fields))


def append_corpus(
    new_docs: DataFrame,
    path: str,
    *,
    partition_by: tuple[str, ...] = ("lang",),
    id_col: str = "doc_id",
    text_col: str = "text",
    max_records_per_file: int | None = 100_000,
    token_col: str | None = None,
    full_manifest: bool = False,
    batch_id: int | str | None = None,
    evolve_schema: bool = False,
    lease=None,
    near_dup_threshold: float | None = None,
    near_dup_opts: dict | None = None,
) -> DataFrame:
    """Incremental corpus update — the batch twin of the streaming ingest:
    drop arriving documents whose exact fingerprint already exists in the
    corpus (or repeats within the batch, min-id wins; fully identical rows
    collapse to one), append only the survivors, refresh the manifest.
    Returns the updated manifest.

    Dedup against history goes through a FINGERPRINT LEDGER — a narrow
    (fp-only) parquet relation under ``<path>/_fingerprints`` — so at
    100 TB the anti-join reads a ledger that is a tiny fraction of corpus
    bytes instead of re-fingerprinting every stored document. The ledger
    directory's underscore prefix keeps it invisible to corpus reads. A
    pre-ledger corpus gets its ledger SEEDED from the corpus text once
    (the fps are written, not just read — otherwise the second append
    would dedup against a ledger missing every original document).
    One shuffle on the fingerprint key (batch-side groupBy + left_anti);
    the corpus itself is never rewritten — parquet append only.

    Manifest cost: by default the append merges the batch's per-partition
    row/token deltas into the existing manifest JSON — O(batch), with
    ``n_files``/``n_bytes`` dropped from the merged entries (they would
    need a corpus scan). Pass ``full_manifest=True`` (or call
    :func:`build_manifest`) for the exact O(corpus) rebuild.

    ``batch_id`` — opt into the TRANSACTIONAL append (the streaming sink's
    exactly-once path, :func:`append_corpus_txn`): stage, then commit via
    resumable renames keyed by the batch id. ``None`` (the batch-API
    default) keeps the plain two-write append.

    ``evolve_schema`` — permit ADDITIVE schema evolution: the batch may
    introduce new columns (history reads them as NULL) but must still
    carry every existing corpus column with its recorded type — drops and
    re-types stay refused, they are the silent-corruption modes. The
    manifest records the unified typed schema; :func:`read_corpus`,
    :func:`compact_corpus` and :func:`delete_from_corpus` read with it,
    so mixed per-file column sets never hit one-footer schema sampling.
    """
    if batch_id is not None:
        if full_manifest:
            raise ValueError(
                "full_manifest is not supported with batch_id (the "
                "transactional fold is delta-mode); call build_manifest() "
                "after the append for the exact O(corpus) rebuild"
            )
        return append_corpus_txn(
            new_docs,
            path,
            batch_id,
            partition_by=partition_by,
            id_col=id_col,
            text_col=text_col,
            max_records_per_file=max_records_per_file,
            token_col=token_col,
            evolve_schema=evolve_schema,
            lease=lease,
            near_dup_threshold=near_dup_threshold,
            near_dup_opts=near_dup_opts,
        )
    spark = new_docs.sparkSession
    _lease_beat(lease)
    # ONE manifest read feeds the schema computation and the drift guard
    doc = _load_manifest_doc(spark, path)
    # the unified schema is computed BEFORE the append writes: a batch
    # that fails the drift guard must leave the manifest untouched
    schema_json = _unified_schema_json((doc or {}).get("schema"), new_docs)
    batch = _dedup_against_corpus(
        new_docs, path, id_col=id_col, text_col=text_col,
        evolve_schema=evolve_schema, manifest_doc=doc,
    )
    fp_sigs = None
    if near_dup_threshold is not None:
        from bambooai_spark.operators.neardup_gate import (  # noqa: PLC0415
            near_dup_gate,
        )

        batch, fp_sigs = near_dup_gate(
            batch, path, threshold=near_dup_threshold,
            id_col=id_col, text_col=text_col, near_dup_opts=near_dup_opts,
            keep_signatures=True,
        )
    # publish begins HERE: _record_schema is a manifest read-modify-write,
    # so the lost-lease abort must come before it, not just before the
    # data write (review r8: a zombie's RMW could erase a new holder's
    # just-folded manifest rows)
    _lease_ensure(lease)
    if doc is not None and doc.get("schema") != schema_json:
        # record the evolved schema BEFORE the data lands: a crash
        # between the data write and the manifest fold must not leave
        # evolved files a later schema-pinned compaction would strip
        _record_schema(spark, path, schema_json)

    from bambooai_spark.operators.filestats import (  # noqa: PLC0415
        apply_bloom_options,
        bloom_config,
        stats_config,
    )

    stats_cols = stats_config(spark, path)
    # the plain append writes into the live tree, so its new files are
    # only identifiable by a listing diff — O(files), the batch API's
    # acceptable cost (the txn path keys stats off its staged names and
    # adds no listing; see append_corpus_txn)
    before = set(_walk_files(spark, path)) if stats_cols else set()

    # the per-partition manifest delta reads only the checkpointed batch,
    # so it rides a side leg under the data + ledger writes instead of
    # serializing after them — resolved before the manifest fold below,
    # so a delta failure still fails the append first. The
    # corpus-then-ledger WRITE order itself stays serial deliberately:
    # it is what bounds a crash to a duplicate window, not a loss window.
    with overlapped(spark, "append_corpus") as ov:
        fdelta = (
            None if full_manifest
            else ov.submit(_collect_delta, batch, partition_by, token_col)
        )
        writer = batch.drop("_fp").write.mode("append")
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", max_records_per_file)
        writer = apply_bloom_options(writer, bloom_config(spark, path))
        writer.partitionBy(*partition_by).parquet(path)
        batch.select(F.col("_fp").alias("fp")).write.mode("append").parquet(
            _join(path, LEDGER_DIR)
        )

        if stats_cols:
            _append_stats_delta(
                spark, path, stats_cols, before, batch.drop("_fp").schema
            )
        delta = None if fdelta is None else fdelta.result()

    if full_manifest:
        from pyspark.sql.types import StructType  # noqa: PLC0415

        manifest = build_manifest(
            spark, path, partition_by=partition_by, token_col=token_col,
            schema=StructType.fromJson(schema_json),
        )
        committed: list[str] | None = None
        floor: int | None = None
        mpath = _join(path, MANIFEST_NAME)
        if _fs_exists(spark, mpath):
            try:
                loaded = json.loads(_fs_read_text(spark, mpath))
                committed = loaded.get("committed_batches") or None
                # the maintenance floor must survive the rebuild too, or
                # read_corpus(as_of_batch=<pre-compaction id>) silently
                # answers with the whole corpus instead of raising
                if loaded.get("as_of_floor") is not None:
                    floor = int(loaded["as_of_floor"])
            except ValueError:
                pass  # torn manifest — the full rebuild replaces it
        _write_manifest_json(
            spark, path, partition_by, manifest.collect(),
            committed_batches=committed,
            columns=sorted(new_docs.columns),
            as_of_floor=floor,
            schema_json=schema_json,
        )
        _record_sigs_last(fp_sigs, path, near_dup_opts)
        return manifest

    rows = _merge_manifest_delta(
        spark, path, partition_by, delta, token_col,
        columns=sorted(new_docs.columns),
        schema_json=schema_json,
    )
    # signatures LAST: everything above is the batch's durable commit —
    # a sig-write failure after it loses only recall (rebuildable), where
    # before the manifest fold it would strand the batch's delta forever
    # (the retry anti-joins the live ledger and folds an empty delta)
    _record_sigs_last(fp_sigs, path, near_dup_opts)
    return _manifest_df(spark, rows, partition_by, token_col, new_docs)


def _check_schema_compatible(
    spark: SparkSession, path: str, new_docs: DataFrame,
    *, evolve: bool = False, manifest_doc=_UNLOADED,
) -> None:
    """Refuse an append whose column set drifted from the corpus — mixed
    per-file schemas are the silent-corruption mode of plain parquet
    (later reads pick ONE footer, so the drifted column either vanishes
    or nulls out history). Order differences are fine (partitionBy
    reorders anyway).

    ``evolve=True`` relaxes exactly ONE direction: the batch may ADD
    columns (the manifest then records the unified schema and every
    corpus read here takes it, so the one-footer hazard never applies).
    Dropping a corpus column or re-typing one is refused in both modes —
    a missing column would silently NULL out in new files, and parquet
    readers do not reconcile conflicting types.

    Cost discipline: the column set is read from the manifest JSON the
    appends already maintain — one small file, NOT a ``spark.read``
    (whose partition discovery lists the entire corpus tree; per
    micro-batch that would be O(corpus files)). A legacy corpus without
    recorded columns falls back to the parquet read once; the next
    manifest write records them."""
    from pyspark.errors import AnalysisException  # noqa: PLC0415

    if manifest_doc is _UNLOADED:
        manifest_doc = _load_manifest_doc(spark, path)
    have: set | None = None
    cols = (manifest_doc or {}).get("columns")
    stored_js = (manifest_doc or {}).get("schema")
    if cols:
        have = set(cols)
    if have is None:
        try:
            have = set(spark.read.parquet(path).columns)
        except AnalysisException:
            return  # no data files yet — the batch defines the schema
    want = set(new_docs.columns)
    added = sorted(want - have)
    dropped = sorted(have - want)
    if dropped or (added and not evolve):
        hint = (
            "pass evolve_schema=True to add columns additively"
            if added and not dropped
            else "migrate the corpus explicitly (rewrite via "
            "write_corpus) instead of mixing per-file schemas"
        )
        raise ValueError(
            "append schema drifted from the corpus: "
            f"batch-only columns {added}, "
            f"corpus-only columns {dropped}. {hint}."
        )
    if stored_js:
        # common columns must keep their recorded types — compare the
        # type strings (nullability aside), flat or nested alike
        try:
            from pyspark.sql.types import StructType  # noqa: PLC0415

            stored_types = {
                f.name: f.dataType.simpleString()
                for f in StructType.fromJson(stored_js).fields
            }
        except (KeyError, TypeError, ValueError):
            return  # unrecognized schema entry — names already checked
        mismatched = {
            f.name: (stored_types[f.name], f.dataType.simpleString())
            for f in new_docs.schema.fields
            if f.name in stored_types
            and f.dataType.simpleString() != stored_types[f.name]
        }
        if mismatched:
            raise ValueError(
                "append re-types corpus columns "
                f"{ {k: f'{a} -> {b}' for k, (a, b) in mismatched.items()} }; "
                "parquet readers do not reconcile conflicting types — "
                "cast the batch to the corpus types instead"
            )


def _dedup_against_corpus(
    new_docs: DataFrame, path: str, *, id_col: str, text_col: str,
    evolve_schema: bool = False, manifest_doc=_UNLOADED,
) -> DataFrame:
    """The append's dedup stage: schema-drift guard, seed a pre-ledger
    corpus's ledger, drop within-batch duplicates (min-id representative
    per fingerprint, fully identical rows collapsed), anti-join the
    fingerprint ledger, and materialize once (two consumers read the
    result). Returns the surviving batch with its ``_fp`` column."""
    from pyspark.errors import AnalysisException  # noqa: PLC0415

    from bambooai_spark.functions.text import fingerprint  # noqa: PLC0415
    from bambooai_spark.operators.dedup import exact_dedup  # noqa: PLC0415

    if _fs_exists(new_docs.sparkSession, path):
        _check_schema_compatible(
            new_docs.sparkSession, path, new_docs, evolve=evolve_schema,
            manifest_doc=manifest_doc,
        )

    spark = new_docs.sparkSession
    ledger_path = _join(path, LEDGER_DIR)

    ledger_exists = _fs_exists(spark, ledger_path)
    if not ledger_exists and _fs_exists(spark, path):
        try:
            # seed a pre-ledger corpus's ledger COMPLETELY, once — written
            # to the side and renamed in so a crashed seed can't leave a
            # half-ledger that later appends trust
            seed_tmp = ledger_path + ".seeding"
            _fs_delete(spark, seed_tmp)
            spark.read.parquet(path).select(
                fingerprint(text_col, normalize=True).alias("fp")
            ).write.parquet(seed_tmp)
            fs, dest = _fs(spark, ledger_path)
            if not fs.rename(_fs(spark, seed_tmp)[1], dest):
                raise RuntimeError(f"ledger seed rename failed: {ledger_path}")
            ledger_exists = True
        except AnalysisException:
            pass  # dir holds no data files (empty write_corpus) — no history

    # within-batch exact dedup: exact_dedup's min-id representative per
    # fingerprint; dropDuplicates collapses fully identical rows the
    # min-id join would keep
    keep = exact_dedup(new_docs, text_col, id_col, normalize=True).select(
        F.col("fp").alias("_fp"), F.col("keep_id").alias(id_col)
    )
    batch = (
        new_docs.withColumn("_fp", fingerprint(text_col, normalize=True))
        .join(keep, [id_col, "_fp"])
        .dropDuplicates(["_fp"])
    )

    # None: the ledger dir holds only _SUCCESS (empty first append)
    hist = _read_ledger(spark, ledger_path) if ledger_exists else None
    if hist is not None:
        batch = batch.join(
            hist.select(F.col("fp").alias("_fp")), "_fp", "left_anti"
        )

    return batch.localCheckpoint(eager=True)


def _collect_delta(
    batch: DataFrame, partition_by, token_col: str | None
) -> list[dict]:
    """Per-partition manifest delta of ONE batch — O(distinct partition
    values) driver rows."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    if token_col:
        aggs.append(F.sum(F.col(token_col)).cast("long").alias("n_tokens"))
    return [
        r.asDict() for r in batch.groupBy(*partition_by).agg(*aggs).collect()
    ]


def _merge_manifest_delta(
    spark: SparkSession,
    path: str,
    partition_by,
    delta: list[dict],
    token_col: str | None,
    batch_id: int | str | None = None,
    columns: list[str] | None = None,
    as_of_floor: int | None = None,
    schema_json: dict | None = None,
) -> list[dict]:
    """O(batch) manifest fold: merge per-partition row/token deltas into the
    existing manifest JSON and write it back; returns the merged rows.

    With ``batch_id`` the fold is IDEMPOTENT: the manifest records the
    recently folded batch ids (``committed_batches``, bounded) and a replayed
    fold of a recorded id is a no-op. A missing manifest starts empty; an
    unparseable one (a crash mid-overwrite) falls back to the exact
    :func:`build_manifest` rebuild, which already includes every committed
    batch — the delta is then NOT re-applied."""
    mpath = _join(path, MANIFEST_NAME)
    loaded: dict | None = None
    if _fs_exists(spark, mpath):
        try:
            loaded = json.loads(_fs_read_text(spark, mpath))
        except ValueError:
            loaded = None
            from pyspark.errors import AnalysisException  # noqa: PLC0415

            try:
                rows = [
                    r.asDict()
                    for r in build_manifest(
                        spark, path, partition_by=tuple(partition_by),
                        token_col=token_col,
                    ).collect()
                ]
            except AnalysisException:
                # torn manifest on a corpus with no data files yet (e.g.
                # the first batches were fully gated away) — rebuild empty
                # rather than wedging every replay
                rows = []
            committed = (
                [str(batch_id)] if batch_id is not None else []
            )
            _write_manifest_json(
                spark, path, partition_by, rows,
                committed_batches=committed, columns=columns,
                as_of_floor=as_of_floor, schema_json=schema_json,
            )
            return rows
    prior_floor = (loaded or {}).get("as_of_floor")
    if prior_floor is not None:
        as_of_floor = max(int(prior_floor), as_of_floor or 0)
    committed = list((loaded or {}).get("committed_batches") or [])
    if batch_id is not None and str(batch_id) in committed:
        return [dict(p) for p in (loaded or {}).get("partitions", [])]

    # partition keys canonicalize through str: the manifest round-trips
    # through JSON (``default=str``), so a non-string partition value (a
    # date, say) must match its stringified prior self instead of
    # duplicating the entry or breaking the sort
    def _pkey(d: dict) -> tuple:
        return tuple(
            None if d[c] is None else str(d[c]) for c in partition_by
        )

    existing: dict[tuple, dict] = {}
    for p in (loaded or {}).get("partitions", []):
        existing[_pkey(p)] = dict(p)
    for d in delta:
        key = _pkey(d)
        is_new = key not in existing
        # the STORED values canonicalize through the same str rule as the
        # key: a new-key entry holding a typed value (datetime.date) next
        # to manifest-loaded stringified ones would make _manifest_df's
        # createDataFrame fail on a String/Date column merge — and the
        # idempotent fold would refail on every crash replay
        cur = existing.setdefault(
            key, dict(zip(partition_by, key))
        )
        cur["n_rows"] = int(cur.get("n_rows") or 0) + d["n_rows"]
        if token_col:
            cur["n_tokens"] = (
                int(cur.get("n_tokens") or 0) + (d.get("n_tokens") or 0)
            )
        for k in ("n_files", "n_bytes"):
            if d.get(k) is not None and (is_new or cur.get(k) is not None):
                # txn deltas carry exact file counts (staged files ARE
                # the batch's contribution) — fold additively
                cur[k] = int(cur.get(k) or 0) + int(d[k])
            else:
                # a plain-append delta has no counts (its files mixed
                # into history), or history already lost them — only a
                # corpus scan (build_manifest / compact) restores them
                cur.pop(k, None)
    rows = [
        existing[k]
        for k in sorted(
            existing, key=lambda t: tuple((v is None, v or "") for v in t)
        )
        # a NEGATIVE delta (delete_from_corpus) can fold a partition to
        # zero rows — its files are gone, so it leaves the manifest (no
        # append path ever produces a non-positive count)
        if int(existing[k].get("n_rows") or 0) > 0
    ]
    # uniform keys across rows (delta-touched entries dropped file/byte
    # counts; untouched ones may still carry them) — but a key that ended
    # up None in EVERY row (n_files after all partitions were delta-
    # touched) is dropped entirely: an all-None column defeats
    # createDataFrame's schema inference downstream
    all_keys = [
        k
        for k in sorted({k for r in rows for k in r}, key=str)
        if k in partition_by or any(r.get(k) is not None for r in rows)
    ]
    rows = [{k: r.get(k) for k in all_keys} for r in rows]
    if batch_id is not None:
        committed = (committed + [str(batch_id)])[-MAX_REMEMBERED_COMMITS:]
    if columns is None:
        columns = (loaded or {}).get("columns")
    if schema_json is None:
        schema_json = (loaded or {}).get("schema")
    _write_manifest_json(
        spark, path, partition_by, rows,
        # a non-txn fold on a txn-built corpus must not drop the replay guard
        committed_batches=committed if (batch_id is not None or committed) else None,
        columns=columns,
        as_of_floor=as_of_floor,
        schema_json=schema_json,
    )
    return rows


def append_corpus_txn(
    new_docs: DataFrame,
    path: str,
    batch_id: int | str,
    *,
    partition_by: tuple[str, ...] = ("lang",),
    id_col: str = "doc_id",
    text_col: str = "text",
    max_records_per_file: int | None = 100_000,
    token_col: str | None = None,
    evolve_schema: bool = False,
    lease=None,
    near_dup_threshold: float | None = None,
    near_dup_opts: dict | None = None,
) -> DataFrame:
    """Transactional corpus append — EXACTLY-ONCE under crash-replay, the
    streaming sink's commit protocol (closes the at-least-once window the
    plain :func:`append_corpus` documents).

    Protocol, keyed by the replayable ``batch_id`` (Structured Streaming
    re-delivers a crashed micro-batch with the SAME id):

    1. **Stage**: dedup the batch (ledger anti-join included), write its
       corpus parquet AND its ledger rows under
       ``<path>/_staging/batch_id=N/``, then freeze the attempt with a
       ``_STAGED`` marker holding the manifest delta. Nothing outside
       staging has changed yet — a crash here just restages from scratch.
    2. **Commit**: move every staged file into its final location with a
       DETERMINISTIC destination name (``b<N>-<staged basename>`` inside the
       mirrored partition dir), write a ``_commits/batch-N.json`` marker,
       fold the manifest delta (idempotent via the manifest's
       ``committed_batches`` list), drop the staging dir.

    Crash anywhere and the replay resumes rather than recomputes: a
    ``_STAGED`` batch is never re-deduped (its ledger rows may already be
    live, so recomputation would wrongly drop the batch); moves skip
    destinations that already exist; a committed marker short-circuits to
    manifest-fold + cleanup. The VERDICT-r6 window — crash between the
    corpus write and the ledger write — cannot duplicate documents because
    neither becomes visible except through the resumable rename step.

    Atomicity relies on per-file rename (atomic on local/HDFS; on object
    stores each object appears only when fully copied, and the exists-check
    keeps replays exact). No snapshot isolation: a concurrent reader can see
    a partially moved batch — the guarantee is no duplicates and no loss,
    matching a plain-parquet corpus's contract. Single writer per corpus
    path, as with the non-transactional append; pass ``lease`` (an
    acquired :class:`~bambooai_spark.operators.lease.CorpusLease`) to
    enforce that contract advisorily — verified at entry and again
    immediately before each publish step.
    """
    import re  # noqa: PLC0415

    if not re.fullmatch(r"[A-Za-z0-9._]+", str(batch_id)):
        # batch_id becomes path components and file-name prefixes; "-" is
        # RESERVED as the committed-file separator (b<id>-<base>) —
        # allowing it would make _txn_batch_of misattribute files (a
        # "7-retry" batch parses as batch "7", breaking the snapshot
        # guarantee and floor attribution). Composite ids use "." (the
        # streaming sink's <namespace>.<n>).
        raise ValueError(
            f"batch_id must be filename-safe [A-Za-z0-9._]+ ('-' is "
            f"reserved as the committed-file separator): {batch_id!r}"
        )
    spark = new_docs.sparkSession
    _lease_beat(lease)
    marker = _join(path, f"{COMMITS_DIR}/batch-{batch_id}.json")
    stage = _join(path, f"{STAGING_DIR}/batch_id={batch_id}")
    staged_flag = _join(stage, STAGED_MARKER)

    if _fs_exists(spark, marker):
        # fully committed — replay folds the manifest if the crash hit
        # between marker and manifest, then cleans up
        info = json.loads(_fs_read_text(spark, marker))
        if info.get("file_stats"):
            # heals the crash window between the marker and the stats
            # write (idempotent overwrite, same content every replay)
            from bambooai_spark.operators.filestats import (  # noqa: PLC0415
                write_stats_delta,
            )

            write_stats_delta(
                spark, path, f"b{batch_id}", info["file_stats"]
            )
        rows = _merge_manifest_delta(
            spark, path, tuple(info["partition_by"]), info["delta"],
            info.get("token_col"), batch_id=batch_id,
            columns=info.get("columns"),
            schema_json=info.get("schema"),
        )
        _fs_delete(spark, stage)
        return _manifest_df(spark, rows, partition_by, token_col, new_docs)

    if _fs_exists(spark, staged_flag):
        # a previous attempt froze this batch but crashed mid-commit —
        # resume with the FROZEN files; never recompute (the staged ledger
        # rows may already be live and would anti-join the batch away)
        info = json.loads(_fs_read_text(spark, staged_flag))
        _lease_ensure(lease)
        return _commit_staged(spark, path, stage, batch_id, info, new_docs)

    # fresh attempt (or crash before _STAGED): restage from scratch
    _fs_delete(spark, stage)
    doc = _load_manifest_doc(spark, path)  # one read feeds both consumers
    schema_json = _unified_schema_json((doc or {}).get("schema"), new_docs)
    batch = _dedup_against_corpus(
        new_docs, path, id_col=id_col, text_col=text_col,
        evolve_schema=evolve_schema, manifest_doc=doc,
    )
    fp_sigs = None
    if near_dup_threshold is not None:
        from bambooai_spark.operators.neardup_gate import (  # noqa: PLC0415
            near_dup_gate,
        )

        batch, fp_sigs = near_dup_gate(
            batch, path, threshold=near_dup_threshold,
            id_col=id_col, text_col=text_col, near_dup_opts=near_dup_opts,
            keep_signatures=True,
        )
    if batch.isEmpty():
        # nothing survived the gate/dedup — commit an empty batch so the
        # replay is a recorded no-op. The schema still evolves: the batch
        # DID pass the drift guard, and a later non-evolve batch with the
        # same columns must not bounce off a stale recorded schema.
        info = {
            "batch_id": batch_id,
            "partition_by": list(partition_by),
            "token_col": token_col,
            "columns": sorted(new_docs.columns),
            "schema": schema_json,
            "delta": [],
            "lease_owner": getattr(lease, "owner", None),
        }
        _lease_ensure(lease)
        _fs_write_text_atomic(spark, marker, json.dumps(info, default=str))
        rows = _merge_manifest_delta(
            spark, path, partition_by, [], token_col, batch_id=batch_id,
            columns=info.get("columns"),
            schema_json=schema_json,
        )
        return _manifest_df(spark, rows, partition_by, token_col, new_docs)

    writer = batch.drop("_fp").write.mode("overwrite")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    from bambooai_spark.operators.filestats import (  # noqa: PLC0415
        apply_bloom_options,
        bloom_config,
    )

    writer = apply_bloom_options(writer, bloom_config(spark, path))

    # the ledger staging write is independent of the corpus staging
    # write (both read the checkpointed batch, land in disjoint staging
    # subdirs, and nothing is visible until the _STAGED freeze below),
    # so it rides a side leg under the corpus write + the staged-file
    # read-backs. Joined BEFORE the freeze: the marker must only ever
    # describe a fully staged attempt.
    def _write_ledger():
        batch.select(F.col("_fp").alias("fp")).write.mode(
            "overwrite"
        ).parquet(_join(stage, "ledger"))

    with overlapped(spark, "append_corpus_txn") as ov:
        fledger = ov.submit(_write_ledger)
        writer.partitionBy(*partition_by).parquet(_join(stage, "corpus"))
        from bambooai_spark.operators.filestats import (  # noqa: PLC0415
            stats_config,
        )

        # the staged files ARE this batch's exact contribution, so the
        # delta carries full fidelity — n_files/n_bytes included (renames
        # preserve both), which the fold adds instead of dropping; the
        # plain append can't do this (its files land mixed into history).
        # Stats ride the freeze: keyed by the deterministic committed
        # basename, replayed verbatim from the frozen info — no corpus
        # listing ever enters the per-micro-batch path. Both come from
        # ONE scan of the staged files, read under the BATCH's schema so
        # partition-value inference can't re-type the keys.
        delta, file_stats = _scan_staged(
            spark, _join(stage, "corpus"),
            partition_by=partition_by, token_col=token_col,
            schema=batch.drop("_fp").schema,
            stats_cols=stats_config(spark, path),
            key_prefix=f"b{batch_id}-",
        )
        fledger.result()
    info = {
        "batch_id": batch_id,
        "partition_by": list(partition_by),
        "token_col": token_col,
        "columns": sorted(new_docs.columns),
        "schema": schema_json,
        "delta": delta,
        "file_stats": file_stats,
        # dual-writer forensics (validate_corpus deep): who committed
        # this batch, under the advisory lease contract
        "lease_owner": getattr(lease, "owner", None),
    }
    _fs_write_text_atomic(spark, staged_flag, json.dumps(info, default=str))
    _lease_ensure(lease)
    manifest = _commit_staged(spark, path, stage, batch_id, info, new_docs)
    # AFTER the commit: a crash between commit and record loses only
    # these signatures (bounded recall loss, rebuild_signatures heals);
    # the ledger stays the single source of liveness. Replay paths
    # (marker / staged resume) skip recording — same bounded loss, same
    # heal. The signatures are the gate's own (checkpointed), never
    # recomputed.
    _record_sigs_last(fp_sigs, path, near_dup_opts)
    return manifest


def _scan_staged(
    spark: SparkSession,
    root: str,
    *,
    partition_by,
    token_col: str | None,
    schema,
    stats_cols,
    key_prefix: str,
) -> tuple[list[dict], dict | None]:
    """The manifest delta and (``stats_cols`` set) the stats doc of one
    staged output from ONE aggregate grouped by ``(file, *partition_by)``:
    each file's rows, on-disk size, tokens and stat min/max/non-null
    count. The driver folds the O(files) rows into both — the delta has
    :func:`build_manifest`'s rows, keys and order over the same files,
    the doc is :func:`~bambooai_spark.operators.filestats
    .collect_file_stats`'s — where the two calls scanned the output
    twice."""
    from bambooai_spark.operators.filestats import (  # noqa: PLC0415
        stat_aggs,
        stats_doc,
    )

    df = spark.read.schema(schema).parquet(root)
    present, saggs = stat_aggs(df, stats_cols or [])
    aggs = [
        F.count(F.lit(1)).alias("__n"),
        F.max("__size").alias("__size"),
        *([F.sum(F.col(token_col)).alias("__tok")] if token_col else []),
        *saggs,
    ]
    cols = dict.fromkeys(
        [*partition_by, *([token_col] if token_col else []), *present]
    )
    rows = (
        df.select(
            F.col("_metadata.file_path").alias("__f"),
            F.col("_metadata.file_size").alias("__size"),
            *cols,
        )
        .groupBy("__f", *partition_by)
        .agg(*aggs)
        .collect()
    )
    parts: dict[tuple, dict] = {}
    for r in rows:
        key = tuple(r[c] for c in partition_by)
        d = parts.setdefault(
            key,
            {
                **dict(zip(partition_by, key)),
                "n_rows": 0,
                "n_files": 0,
                "n_bytes": 0,
                **({"n_tokens": None} if token_col else {}),
            },
        )
        d["n_rows"] += r["__n"]
        d["n_files"] += 1
        d["n_bytes"] += r["__size"]
        if token_col and r["__tok"] is not None:
            d["n_tokens"] = (d["n_tokens"] or 0) + r["__tok"]
    for d in parts.values():
        if d.get("n_tokens") is not None:
            d["n_tokens"] = int(d["n_tokens"])  # build_manifest's cast
    # build_manifest's order: ascending, NULL partition values first
    delta = [
        parts[k]
        for k in sorted(
            parts, key=lambda t: tuple((v is not None, v) for v in t)
        )
    ]
    doc = (
        stats_doc(spark, root, stats_cols, df.schema, rows,
                  key_prefix=key_prefix)
        if stats_cols
        else None
    )
    return delta, doc


def _commit_staged(
    spark: SparkSession,
    path: str,
    stage: str,
    batch_id: int | str,
    info: dict,
    source_df: DataFrame,
) -> DataFrame:
    """Resumable second half of :func:`append_corpus_txn`: renames, commit
    marker, manifest fold, staging cleanup."""
    partition_by = tuple(info["partition_by"])
    token_col = info.get("token_col")
    _move_staged_files(spark, _join(stage, "corpus"), path, batch_id)
    _move_staged_files(
        spark, _join(stage, "ledger"), _join(path, LEDGER_DIR), batch_id
    )
    marker = _join(path, f"{COMMITS_DIR}/batch-{batch_id}.json")
    _fs_write_text_atomic(spark, marker, json.dumps(info, default=str))
    if info.get("file_stats"):
        # after the marker (which carries a durable copy for replays),
        # before the manifest fold — a crash in between re-writes it
        # idempotently from the marker on the next replay
        from bambooai_spark.operators.filestats import (  # noqa: PLC0415
            write_stats_delta,
        )

        write_stats_delta(spark, path, f"b{batch_id}", info["file_stats"])
    rows = _merge_manifest_delta(
        spark, path, partition_by, info["delta"], token_col,
        batch_id=batch_id, columns=info.get("columns"),
        schema_json=info.get("schema"),
    )
    _fs_delete(spark, stage)
    return _manifest_df(spark, rows, partition_by, token_col, source_df)


def _manifest_df(
    spark: SparkSession,
    rows: list[dict],
    partition_by,
    token_col: str | None,
    source_df: DataFrame,
) -> DataFrame:
    if not rows:
        return _empty_manifest(
            spark, partition_by, token_col, source_df=source_df
        )
    return spark.createDataFrame(rows)


COMPACT_TMP = "_compact_tmp"


def compact_corpus(
    spark: SparkSession,
    path: str,
    *,
    partition_by: tuple[str, ...] = ("lang",),
    max_records_per_file: int | None = 100_000,
    token_col: str | None = None,
    num_tasks: int | None = None,
    cluster_by: tuple[str, ...] = (),
    cluster_strategy: str = "linear",
    lease=None,
) -> DataFrame:
    """Rewrite the corpus's accumulated small files (a streaming sink
    appends one file set per micro-batch — the classic small-files
    problem) into size-capped files per partition, preserving every row,
    the fingerprint ledger's CONTENT (row set is unchanged, so fps stay
    valid — the ledger's own per-batch file fragments are compacted too),
    and the manifest's ``committed_batches`` replay guard. Returns the
    rebuilt (exact, from-files) manifest.

    By default rows re-shuffle onto one task per partition VALUE (maximal
    consolidation; ``maxRecordsPerFile`` still rolls oversized output).
    For corpora whose single partition value outweighs one task, pass
    ``num_tasks``: a range-repartition keyed on (partition cols, a
    monotonic row id) spreads each value over contiguous tasks — a few
    files per value instead of one, but no single-task funnel.

    ``cluster_by`` — rewrite the corpus SORTED on these columns within
    each partition (see :func:`_cluster`): a streaming corpus's files
    arrive in ingest order, so compaction is the natural place to
    restore key locality for min/max scan pruning. Implies a
    range-repartition (``num_tasks`` then caps the task count), so it
    composes with — and supersedes — the monotonic-id spread.
    ``cluster_strategy='zorder'`` lays out the Morton interleave of the
    cluster columns instead (multi-predicate skipping; see
    :func:`_cluster`).

    Maintenance-window op, SINGLE writer: not safe under concurrent
    appends, and a reader during the swap can briefly see missing rows
    (a transactional table format is the concurrent-compaction answer).
    Crash-safe for the DATA, per-FILE only (never directory renames —
    those are non-atomic copy+delete on object stores, and a half-copied
    tree that passes an exists-check loses rows on resume): the compacted
    copy is fully written under ``_compact_tmp`` and frozen with a
    ``_STAGED`` marker carrying a compaction id; the swap then (1) moves
    each file in under the hidden name ``_swap-c<id>-<base>``, (2)
    deletes every live data file NOT carrying the new ``c<id>-`` prefix,
    (3) unhides ``_swap-c<id>-X`` → ``c<id>-X``. Every step is per-file
    idempotent, so a re-run after a crash at any point resumes without
    loss or duplication.
    """
    tmp = _join(path, COMPACT_TMP)
    staged_flag = _join(tmp, STAGED_MARKER)
    _check_cluster_args(cluster_by, cluster_strategy)
    _lease_beat(lease)

    # partition-value inference OFF for every read in here: the rewrite
    # must emit the directory values VERBATIM (inference would re-type
    # source=0123 to int 123 and physically rename the partition dir,
    # splitting it from future appends)
    _INFER = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prev_infer = spark.conf.get(_INFER, "true")
    spark.conf.set(_INFER, "false")
    try:
        # a crashed-and-abandoned delete leaves the corpus MID-SWAP
        # (originals gone, replacements still hidden) — compacting that
        # state would rewrite the corpus without the hidden kept rows and
        # then delete them as superseded, losing them permanently. Finish
        # the frozen delete first (cheap: resumable metadata ops).
        dflag = _join(path, f"{DELETE_TMP}/{STAGED_MARKER}")
        if _fs_exists(spark, dflag):
            _apply_staged_delete(
                spark, path, _join(path, DELETE_TMP), dflag,
                json.loads(_fs_read_text(spark, dflag)),
            )
        return _compact_corpus_inner(
            spark, path, tmp, staged_flag,
            partition_by=partition_by,
            max_records_per_file=max_records_per_file,
            token_col=token_col, num_tasks=num_tasks,
            cluster_by=cluster_by, cluster_strategy=cluster_strategy,
            lease=lease,
        )
    finally:
        spark.conf.set(_INFER, prev_infer)


def _compact_corpus_inner(
    spark: SparkSession,
    path: str,
    tmp: str,
    staged_flag: str,
    *,
    partition_by: tuple[str, ...],
    max_records_per_file: int | None,
    token_col: str | None,
    num_tasks: int | None,
    cluster_by: tuple[str, ...] = (),
    cluster_strategy: str = "linear",
    lease=None,
) -> DataFrame:
    import uuid as _uuid  # noqa: PLC0415

    from pyspark.errors import AnalysisException  # noqa: PLC0415

    if not _fs_exists(spark, staged_flag):
        # same interlock as delete_from_corpus: a FROZEN uncommitted txn
        # batch may have half-moved its files — compacting now would fold
        # the moved rows into the compacted output, and the batch's
        # replay would re-rename the rest AND re-fold its full delta
        # (manifest over-count; duplicate rows where rename is
        # copy+delete). A frozen COMPACTION resume is fine: it reads
        # nothing and its supersede step is keyed on its own id.
        frozen = _frozen_staged_batches(spark, path)
        if frozen:
            raise RuntimeError(
                f"frozen uncommitted append batches exist ({frozen[:3]}"
                f"{'...' if len(frozen) > 3 else ''}); restart their "
                "query or run recover_staging before compacting"
            )
        # fresh compaction: rewrite the full corpus to the side. The
        # manifest's recorded schema (when present) pins the read — after
        # an additive evolution the files disagree on columns, and a
        # one-footer read here would silently drop the evolved column
        # from the rewrite (see _stored_schema). Without one (legacy /
        # torn manifest), mergeSchema's all-footers pass — once, in a
        # maintenance op — sees every column; the rewrite then unifies
        # the files so later one-footer reads are safe anyway.
        _fs_delete(spark, tmp)
        stored = _stored_schema(spark, path)
        try:
            df = (
                spark.read.schema(stored).parquet(path)
                if stored is not None
                else spark.read.option("mergeSchema", "true").parquet(path)
            )
        except AnalysisException:
            # no data files (empty or fully-gated corpus) — nothing to
            # compact; hand back the typed empty manifest
            return _empty_manifest(spark, partition_by, token_col)
        cols = [F.col(c) for c in partition_by]
        if cluster_by:
            df = _cluster(
                df, partition_by, cluster_by, num_tasks, cluster_strategy
            )
        elif num_tasks:
            df = df.repartitionByRange(
                num_tasks, *cols, F.monotonically_increasing_id()
            )
        else:
            df = df.repartition(*cols)
        writer = df.write.mode("overwrite")
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", max_records_per_file)
        from bambooai_spark.operators.filestats import (  # noqa: PLC0415
            apply_bloom_options,
            bloom_config,
        )

        writer = apply_bloom_options(writer, bloom_config(spark, path))
        writer.partitionBy(*partition_by).parquet(_join(tmp, "data"))
        # the ledger fragments the same way (one file set per appended
        # batch) — rewrite it alongside, same freeze
        has_ledger = False
        # None: no ledger, or no data files in it — nothing to compact
        ledger_df = _read_ledger(spark, _join(path, LEDGER_DIR))
        if ledger_df is not None:
            # ONE ledger DataFrame feeds both the rewrite and the
            # signature semi-join below; persisted because a months-old
            # ledger is the large fragmented relation this op exists to
            # compact — scanning it twice doubles the dominant read
            ledger_df = ledger_df.persist()
            ledger_df.repartition(
                # default parallelism, not 1: must not funnel
                num_tasks or spark.sparkContext.defaultParallelism
            ).write.mode("overwrite").parquet(_join(tmp, "ledger"))
            has_ledger = True
        # the near-dup signature store compacts alongside: rows whose fp
        # left the ledger (takedowns) are inert at gate time but every
        # gate scans them — prune to live fps here, where the ledger is
        # already in hand. Loss of this store is always benign (bounded
        # recall, rebuild_signatures heals), so it rides the same freeze
        # + per-file swap as the ledger rather than getting its own
        # protocol. _PARAMS.json survives (underscore-hidden from the
        # supersede pass).
        has_sigs = False
        sigs_dir = _join(path, SIGS_DIR)
        if ledger_df is not None and _fs_exists(spark, sigs_dir):
            try:
                live_sigs = spark.read.parquet(sigs_dir).join(
                    ledger_df, "fp", "left_semi"
                )
                live_sigs.repartition(
                    num_tasks or spark.sparkContext.defaultParallelism
                ).write.mode("overwrite").parquet(_join(tmp, "sigs"))
                has_sigs = True
            except AnalysisException:
                pass  # store holds no data files — nothing to compact
        if ledger_df is not None:
            ledger_df.unpersist()
        new_cid = _uuid.uuid4().hex[:8]
        file_stats = None
        from bambooai_spark.operators.filestats import (  # noqa: PLC0415
            collect_file_stats,
            stats_config,
        )

        stats_cols = stats_config(spark, path)
        if stats_cols:
            # one batch-output-sized scan, keyed by the future c<id>-
            # basenames; rides the freeze so a crash-resume replays it
            file_stats = collect_file_stats(
                spark, _join(tmp, "data"), stats_cols,
                schema=stored if stored is not None else df.schema,
                key_prefix=f"c{new_cid}-",
            )
        _fs_write_text_atomic(
            spark,
            staged_flag,
            json.dumps(
                {
                    "compact_id": new_cid,
                    "file_stats": file_stats,
                    "ledger": has_ledger,
                    "sigs": has_sigs,
                    # rides the freeze so the final manifest write can
                    # re-record it even after a torn manifest or a
                    # crash-resume (self-healing, like delete's)
                    "schema": (
                        stored.jsonValue()
                        if stored is not None
                        else _schema_json_of(df)
                    ),
                    # every live batch file folds into c<id>- output, so
                    # batch attribution collapses through the highest live
                    # numeric id (frozen at stage time: the swap deletes
                    # the evidence)
                    "as_of_floor": _numeric_floor(_walk_files(spark, path)),
                }
            ),
        )

    info = json.loads(_fs_read_text(spark, staged_flag))
    cid = info.get("compact_id")
    if not cid:
        # a frozen compaction from a build predating the per-file swap —
        # its hidden leftovers use a different naming scheme; refuse
        # loudly rather than resume wrong or (worse) let a fresh rewrite
        # read a corpus missing the rows stranded in hidden dirs
        raise RuntimeError(
            f"unrecognized compaction freeze at {staged_flag} (no "
            "compact_id); inspect the _compact_tmp and _swap.* leftovers "
            "manually before re-running"
        )
    _lease_ensure(lease)  # last check before the swap publishes
    targets = [(_join(tmp, "data"), path)]
    if info.get("ledger"):
        targets.append((_join(tmp, "ledger"), _join(path, LEDGER_DIR)))
    if info.get("sigs"):
        targets.append((_join(tmp, "sigs"), _join(path, SIGS_DIR)))
    fs, _root = _fs(spark, path)
    jvm = spark._jvm
    for src_root, dest_root in targets:
        # (1) stage in hidden (underscore basenames are invisible to
        # corpus reads); resumable per file
        _move_staged_files(
            spark, src_root, dest_root, cid, prefix=f"_swap-c{cid}-"
        )
        # (2) delete superseded live files — anything without the new
        # prefix, including a PREVIOUS compaction's c<oldid>- files;
        # re-runs skip already-unhidden c<id>- files, so a crash between
        # (2) and (3) resumes cleanly (readers briefly see missing rows,
        # the documented maintenance window)
        for f in _walk_files(spark, dest_root):
            base = f.rsplit("/", 1)[1]
            if not base.startswith(f"c{cid}-"):
                fs.delete(jvm.org.apache.hadoop.fs.Path(f), False)
        # (3) unhide: _swap-c<id>-X → c<id>-X, per file
        _unhide_swapped(spark, dest_root, f"_swap-c{cid}-")
    if info.get("as_of_floor") is not None:
        # make the floor durable BEFORE dropping the flag (its only other
        # copy): after the swap the c-files carry no batch attribution, so
        # a crash before the manifest rebuild below would otherwise lose
        # the floor for good and let stale as_of reads answer wrong
        _bump_manifest_floor(spark, path, int(info["as_of_floor"]))
    if info.get("file_stats"):
        # every pre-compaction data file is now dead, so the fresh doc
        # REPLACES the whole stats history (new first, then prune — a
        # crash in between leaves extra orphan docs, never missing ones)
        from bambooai_spark.operators.filestats import (  # noqa: PLC0415
            consolidate_file_stats,
            prune_stats_files,
            stats_prune_threshold,
            write_stats_delta,
        )

        write_stats_delta(spark, path, f"c{cid}", info["file_stats"])
        prune_stats_files(spark, path, {f"c{cid}.json"})
        if (
            len(info["file_stats"].get("files") or {})
            > stats_prune_threshold(spark)
        ):
            # at scale the fresh doc is too big to re-parse per read:
            # fold it into the consolidated parquet form so selective
            # reads prune distributively (VERDICT r8 #2)
            consolidate_file_stats(spark, path, lease=lease)
    _fs_delete(spark, staged_flag)
    _fs_delete(spark, tmp)
    _prune_commit_markers(spark, path)

    try:
        manifest = build_manifest(
            spark, path, partition_by=partition_by, token_col=token_col
        )
    except AnalysisException:  # pragma: no cover - compacted corpus has data
        return _empty_manifest(spark, partition_by, token_col)
    # preserve the replay guard across the manifest rebuild
    committed: list[str] = []
    columns: list[str] | None = None
    schema_js: dict | None = None
    floor = info.get("as_of_floor")
    mpath = _join(path, MANIFEST_NAME)
    if _fs_exists(spark, mpath):
        try:
            loaded = json.loads(_fs_read_text(spark, mpath))
            committed = list(loaded.get("committed_batches") or [])
            columns = loaded.get("columns")
            schema_js = loaded.get("schema")
            prior = loaded.get("as_of_floor")
            if prior is not None:
                floor = max(int(prior), floor or 0)
        except ValueError:
            pass
    if schema_js is None:
        # torn/legacy manifest: re-record from the freeze (self-healing)
        schema_js = info.get("schema")
        if schema_js:
            columns = sorted(f["name"] for f in schema_js["fields"])
    _write_manifest_json(
        spark, path, partition_by, manifest.collect(),
        committed_batches=committed or None,
        columns=columns,
        as_of_floor=floor,
        schema_json=schema_js,
    )
    return manifest


DELETE_TMP = "_delete_tmp"


def _run_staged_rewrite(
    spark: SparkSession,
    path: str,
    stage_fn,
    *,
    partition_by,
    token_col,
    lease,
    verb: str,
) -> DataFrame:
    """The ONE copy of the maintenance-rewrite driver shared by
    :func:`delete_from_corpus`, :func:`update_corpus`, and
    :func:`update_corpus_from` (review r10: the preamble existed three
    times and a guard fix applied to one verb would silently diverge the
    others). Sequence: resume a frozen predecessor from its own info,
    refuse under a frozen compaction or frozen uncommitted append
    batches, run ``stage_fn(tmp)`` (Phase A — returns frozen info or
    None for no-match), freeze, apply (Phase B). Partition-column type
    inference is disabled throughout and restored after."""
    tmp = _join(path, DELETE_TMP)
    staged_flag = _join(tmp, STAGED_MARKER)
    _lease_beat(lease)
    _INFER = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prev_infer = spark.conf.get(_INFER, "true")
    spark.conf.set(_INFER, "false")
    try:
        if _fs_exists(spark, staged_flag):
            # a PREVIOUS rewrite froze but crashed mid-swap: finish it
            # from its own frozen info first, then run the CALLER's op
            # as a fresh pass below — returning after the resume alone
            # would silently report success for an op that never ran
            # (review r8). A crash-replay of the SAME op stays sound:
            # delete finds its rows gone; an update's fresh pass
            # re-applies only where its predicate still matches (see
            # update_corpus's idempotence note).
            _apply_staged_delete(
                spark, path, tmp, staged_flag,
                json.loads(_fs_read_text(spark, staged_flag)),
            )
        # a frozen COMPACTION may have left the corpus mid-swap; a fresh
        # rewrite would then read missing rows into its staged output
        # and frozen file lists. Its own re-run resumes it.
        cflag = _join(path, f"{COMPACT_TMP}/{STAGED_MARKER}")
        if _fs_exists(spark, cflag):
            raise RuntimeError(
                f"a frozen compaction exists at {cflag}; re-run "
                f"compact_corpus to finish it before the {verb}"
            )
        # likewise a FROZEN txn append whose files may be half-moved:
        # its replay re-renames any missing destination, which would
        # restore originals this rewrite removed (resurrecting replaced
        # rows and duplicating their rewritten siblings).
        frozen = _frozen_staged_batches(spark, path)
        if frozen:
            raise RuntimeError(
                f"frozen uncommitted append batches exist ({frozen[:3]}"
                f"{'...' if len(frozen) > 3 else ''}); restart their "
                f"query or run recover_staging before the {verb}"
            )
        info = stage_fn(tmp)
        if info is None:  # no row matches — corpus untouched
            return _current_manifest(spark, path, partition_by, token_col)
        _lease_ensure(lease)  # last check before the swap becomes due
        _fs_write_text_atomic(
            spark, staged_flag, json.dumps(info, default=str)
        )
        return _apply_staged_delete(spark, path, tmp, staged_flag, info)
    finally:
        spark.conf.set(_INFER, prev_infer)


def delete_from_corpus(
    spark: SparkSession,
    path: str,
    predicate,
    *,
    partition_by: tuple[str, ...] = ("lang",),
    text_col: str = "text",
    token_col: str | None = None,
    lease=None,
) -> DataFrame:
    """Takedown / GDPR-style removal: delete every corpus row matching
    ``predicate`` (a Column or SQL string), rewriting ONLY the files that
    contain a match — never the corpus — via the same per-file swap
    protocol as :func:`compact_corpus`. Returns the folded manifest.

    Three effects, all crash-resumable:

    - **Data**: each affected file's KEPT rows are rewritten to the side
      under ``_delete_tmp``, frozen with a ``_STAGED`` marker (which also
      pins the exact original file lists and the negative manifest
      delta), then swapped in hidden (``_swap-d<id>-``), the originals
      deleted, and the replacements unhidden. Unaffected files are never
      touched, read, or moved.
    - **Ledger**: the deleted rows' fingerprints leave the ledger (only
      ledger files containing one are rewritten), so a LATER re-append of
      a deleted document is admitted instead of silently dropped — the
      point of a takedown is that the content may legitimately return.
    - **Manifest**: an exact negative per-partition row/token delta folds
      idempotently (``committed_batches``-guarded under a ``delete-<id>``
      batch id); touched partitions drop their file/byte counts (a
      compact or :func:`build_manifest` restores them) and partitions
      folding to zero rows leave the manifest entirely.

    Driver memory is O(affected files + distinct touched partition
    values) — the frozen marker holds both lists. Same maintenance-window
    contract as compaction: single writer, a concurrent reader can
    briefly see missing rows mid-swap. Partition columns read with the
    manifest's recorded types when it carries a schema (every corpus this
    module writes); on a legacy corpus they fall back to the verbatim
    directory strings (inference off), so predicates there compare
    string values.
    """
    import uuid as _uuid  # noqa: PLC0415

    from bambooai_spark.functions.text import fingerprint  # noqa: PLC0415

    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    return _run_staged_rewrite(
        spark, path,
        lambda tmp: _stage_delete(
            spark, path, tmp, pred,
            partition_by=partition_by, text_col=text_col,
            token_col=token_col, fingerprint=fingerprint,
            delete_id=_uuid.uuid4().hex[:8],
        ),
        partition_by=partition_by, token_col=token_col, lease=lease,
        verb="delete",
    )


def update_corpus(
    spark: SparkSession,
    path: str,
    predicate,
    assignments: dict,
    *,
    partition_by: tuple[str, ...] = ("lang",),
    text_col: str = "text",
    token_col: str | None = None,
    lease=None,
) -> DataFrame:
    """In-place UPDATE: ``SET col = expr`` on every corpus row matching
    ``predicate``, rewriting ONLY the files that contain a match via the
    SAME per-file swap protocol as :func:`delete_from_corpus` (identical
    frozen-info format, so a crashed update is resumed by the delete
    resume path and :func:`recover_staging`, and the fsck's forensics
    see it as the same maintenance-rewrite file class). Returns the
    folded manifest. This is the span-surgery hook: e.g. ``assignments=
    {"text": exact_substring_cut_expr}`` applies ExactSubstr cleanup to
    matched documents without touching the rest of the corpus.

    Semantics:

    - assignments are SIMULTANEOUS (one projection evaluates every
      new value against the OLD row, like SQL UPDATE), and each value
      is cast to the column's stored type so every rewritten file keeps
      the corpus schema byte-stable (mixed parquet footers are the
      drift hazard the append guard exists for);
    - partition columns cannot be assigned (a partition-moving update
      is a delete + append — refuse rather than silently strand rows
      in the wrong directory);
    - rows where the predicate is NULL are untouched (same rule as
      delete's kept-side);
    - **manifest**: row counts are unchanged; when ``token_col`` is
      itself assigned, the exact per-partition token delta folds
      (``committed_batches``-guarded under the shared ``delete-<id>``
      maintenance batch id — updates and deletes are one rewrite class);
    - **ledger**: when ``text_col`` is among the assignments, the OLD
      text's fingerprints leave the ledger (the replaced content may
      legitimately be re-appended later) and the NEW text's
      fingerprints land — a duplicate append of the updated content is
      dropped exactly as if it had been ingested that way;
    - **CDC**: rewritten files lose their batch attribution, so the
      manifest's ``as_of_floor`` rises exactly as it does for delete /
      compaction — incremental followers below the floor must
      re-baseline rather than silently replay rewritten rows.

    Maintenance-window contract: single writer, a concurrent reader can
    briefly see a file's rows missing mid-swap.

    **One-live-row-per-fingerprint is NOT guarded** (ADVICE r10): the
    ingest ledger dedups APPENDS, but an update can assign a text equal
    to another live row's (or two matched rows the same text) and
    nothing refuses — the corpus then carries duplicate live documents
    until a dedup pass removes one. The ledger stage warns when a newly
    assigned text is already live elsewhere; keeping assigned texts
    unique is otherwise the caller's contract (the lifecycle model's
    make_text does exactly that).

    **Retry idempotence is the caller's predicate's job** (review r10):
    a crash-then-retry of the SAME call first finishes the frozen pass,
    then runs a fresh one — and a SELF-REFERENTIAL assignment (``text =
    concat(marker, text)``) whose predicate still matches re-applies,
    doubling the marker. Either make the predicate exclude
    already-updated rows (``& ~text.startswith(marker)`` — what the
    lifecycle model does), assign ABSOLUTE values (re-applying ``source
    = 'takedown'`` is a no-op), or use :func:`update_corpus_from`,
    which is naturally idempotent when the updates frame's values don't
    derive from the current corpus state. Delete never has this problem
    (its rerun finds the rows already gone), which is why the shared
    resume machinery cannot absorb it."""
    import uuid as _uuid  # noqa: PLC0415

    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    if not assignments:
        raise ValueError("update_corpus: assignments is empty")
    set_cols = {
        c: (F.expr(v) if isinstance(v, str) else v)
        for c, v in assignments.items()
    }
    bad = sorted(set(set_cols) & set(partition_by))
    if bad:
        raise ValueError(
            f"update_corpus: cannot assign partition columns {bad} — "
            "a partition-moving update is a delete + append"
        )
    return _run_staged_rewrite(
        spark, path,
        lambda tmp: _stage_update(
            spark, path, tmp, pred, set_cols,
            partition_by=partition_by, text_col=text_col,
            token_col=token_col, update_id=_uuid.uuid4().hex[:8],
        ),
        partition_by=partition_by, token_col=token_col, lease=lease,
        verb="update",
    )


def update_corpus_from(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    *,
    key_col: str = "doc_id",
    set_cols: list[str] | tuple[str, ...] = ("text",),
    partition_by: tuple[str, ...] = ("lang",),
    text_col: str = "text",
    token_col: str | None = None,
    lease=None,
) -> DataFrame:
    """``UPDATE ... FROM``: join-form in-place update — every corpus row
    whose ``key_col`` appears in ``updates`` takes that row's values for
    ``set_cols``. Same per-file swap protocol, frozen-info format, crash
    resume, ledger swap, token delta, and CDC-floor semantics as
    :func:`update_corpus`; the difference is WHERE new values come from:
    a joined DataFrame instead of row-local expressions — which is what
    lets corpus-GLOBAL computations feed an in-place rewrite. The
    ExactSubstr flow: ``cut = exact_substring_cut(read_corpus(spark,
    path), "doc_id", "text")``, filter to changed docs, select
    ``(doc_id, clean_text AS text)``, then ``update_corpus_from(spark,
    path, that)`` — span surgery as corpus maintenance.

    Same one-live-row-per-fingerprint hazard as :func:`update_corpus`
    (see its docstring): assigned texts that collide with other live
    rows' texts are warned about, not refused.

    ``updates`` must be key-unique (a duplicate key would fan the join
    out and duplicate corpus rows) and may have a non-deterministic
    lineage: staging persists its narrow projection FIRST and runs the
    uniqueness check on the persisted rows (review r10 — a raw-lineage
    pre-check could pass on one evaluation while the staged join
    captured a duplicate on another). Keys with no live corpus row are
    ignored (the join is the match); an empty frame is a no-op."""
    import uuid as _uuid  # noqa: PLC0415

    set_cols = list(set_cols)
    if not set_cols:
        raise ValueError("update_corpus_from: set_cols is empty")
    bad = sorted(set(set_cols) & set(partition_by))
    if bad:
        raise ValueError(
            f"update_corpus_from: cannot assign partition columns {bad} "
            "— a partition-moving update is a delete + append"
        )
    if key_col in set_cols:
        raise ValueError(
            f"update_corpus_from: key_col {key_col!r} cannot also be "
            "assigned (the join key must identify the row being updated)"
        )
    missing = sorted(
        (set(set_cols) | {key_col}) - set(updates.columns)
    )
    if missing:
        raise ValueError(
            f"update_corpus_from: updates frame lacks columns {missing} "
            f"(has {sorted(updates.columns)})"
        )
    return _run_staged_rewrite(
        spark, path,
        lambda tmp: _stage_update(
            spark, path, tmp, None, set_cols,
            partition_by=partition_by, text_col=text_col,
            token_col=token_col, update_id=_uuid.uuid4().hex[:8],
            updates=updates, key_col=key_col,
        ),
        partition_by=partition_by, token_col=token_col, lease=lease,
        verb="update",
    )


def merge_corpus(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    *,
    key_col: str = "doc_id",
    set_cols: list[str] | tuple[str, ...] = ("text",),
    partition_by: tuple[str, ...] = ("lang",),
    text_col: str = "text",
    token_col: str | None = None,
    delete_unmatched: bool = False,
    lease=None,
) -> DataFrame:
    """MERGE / upsert: ONE staged transaction that updates every corpus
    row whose ``key_col`` appears in ``source`` (taking that row's
    values for ``set_cols``, exactly :func:`update_corpus_from`'s join
    semantics) and INSERTS every source row whose key has no live corpus
    row — the crawl-re-snapshot verb. Before this existed the flow was
    ``update_corpus_from`` + ``append_corpus_txn``: two commits with a
    torn state between them (updates landed, inserts not yet). Reference
    analog: the memory layer's upsert-new + delete-old
    (/root/reference/bambooai/qa_retrieval.py:146-202), already mirrored
    for embeddings in ``operators/memory.upsert_embeddings``; this is
    the same verb for the corpus itself.

    Mechanics — both halves ride the shared staged-rewrite driver
    (:func:`_run_staged_rewrite`), so ONE ``_STAGED`` freeze covers
    them; a crash at any point resumes through the same Phase B as
    delete/update, and :func:`validate_corpus` stays green:

    - **matched** keys: in-place file rewrite, simultaneous ``SET``
      from the joined source row, per-file swap, ledger fp swap when
      ``text_col`` is assigned, exact token delta;
    - **unmatched** keys: whole rows (source must carry EVERY corpus
      column; values cast to the stored types) written into the same
      staged output and moved in with the same ``d<id>-`` file class;
      admission mirrors :func:`append_corpus_txn` — an insert whose
      text fingerprint is already live (and not leaving via this very
      merge), equals an updated row's new text, or repeats an
      earlier-keyed insert is dropped, keeping the corpus's
      one-live-row-per-fingerprint invariant; admitted fingerprints
      land in the ledger in the same transaction;
    - **manifest**: one combined per-partition delta (update token
      delta + insert row/token counts) folds idempotently under the
      shared maintenance batch id;
    - **CDC**: when any row was inserted, ``as_of_floor`` also rises to
      the latest committed batch — merge inserts live in d-files, which
      every snapshot includes, so an older as-of target would otherwise
      show rows that did not exist then.

    ``delete_unmatched=True`` adds SQL MERGE's third clause (WHEN NOT
    MATCHED BY SOURCE THEN DELETE): corpus rows whose key the source no
    longer carries are dropped in the SAME transaction — the source IS
    the new snapshot, and one commit makes the corpus equal to it
    (update the survivors, insert the newcomers, delete the departed).
    Every data file is affected by construction, so this rewrites the
    corpus; deleted rows' fingerprints leave the ledger (their content
    may legitimately return), and an empty source is REFUSED rather
    than silently deleting everything.

    ``source`` must be key-unique (checked on the persisted projection,
    same rule as ``update_corpus_from``). Naturally idempotent when the
    source's values don't derive from the current corpus state: a
    crash-then-retry finishes the frozen pass, then the fresh pass
    re-applies the same values (prior inserts now match by key and
    rewrite to themselves). Same maintenance-window contract as the
    other staged verbs: single writer, a concurrent reader can briefly
    see a file's rows missing mid-swap."""
    import uuid as _uuid  # noqa: PLC0415

    set_cols = list(set_cols)
    if not set_cols:
        raise ValueError("merge_corpus: set_cols is empty")
    bad = sorted(set(set_cols) & set(partition_by))
    if bad:
        raise ValueError(
            f"merge_corpus: cannot assign partition columns {bad} — a "
            "partition-moving update is a delete + append (inserted "
            "rows take their partition values from the source freely)"
        )
    if key_col in set_cols:
        raise ValueError(
            f"merge_corpus: key_col {key_col!r} cannot also be "
            "assigned (the join key must identify the row being updated)"
        )
    missing = sorted((set(set_cols) | {key_col}) - set(source.columns))
    if missing:
        raise ValueError(
            f"merge_corpus: source lacks columns {missing} "
            f"(has {sorted(source.columns)})"
        )
    return _run_staged_rewrite(
        spark, path,
        lambda tmp: _stage_update(
            spark, path, tmp, None, set_cols,
            partition_by=partition_by, text_col=text_col,
            token_col=token_col, update_id=_uuid.uuid4().hex[:8],
            updates=source, key_col=key_col, insert_unmatched=True,
            delete_unmatched=delete_unmatched,
        ),
        partition_by=partition_by, token_col=token_col, lease=lease,
        verb="merge",
    )


def _stage_update(
    spark: SparkSession,
    path: str,
    tmp: str,
    pred,
    set_cols: dict,
    *,
    partition_by,
    text_col: str,
    token_col: str | None,
    update_id: str,
    updates: DataFrame | None = None,
    key_col: str | None = None,
    insert_unmatched: bool = False,
    delete_unmatched: bool = False,
) -> dict | None:
    """Phase A of :func:`update_corpus` / :func:`update_corpus_from` /
    :func:`merge_corpus`: rewrite the affected files with matched rows
    transformed, compute the token delta and the ledger replacement, all
    to the side under ``tmp``. Returns frozen info in
    :func:`_apply_staged_delete`'s format (None when nothing matches).

    Two match modes: expression mode (``pred`` + ``set_cols`` of column
    expressions, the UPDATE ... WHERE form) and join mode (``updates`` +
    ``key_col`` + ``set_cols`` naming columns of ``updates``, the
    UPDATE ... FROM form — new values come from the joined row, which is
    what lets corpus-GLOBAL computations like ExactSubstr span surgery
    feed an in-place rewrite). ``insert_unmatched=True`` (join mode
    only) upgrades the op to MERGE: source rows whose key has no live
    corpus row are written as NEW rows into the same staged output, so
    insert and update land through ONE frozen swap.
    ``delete_unmatched=True`` (join mode only) adds the third MERGE
    clause — corpus rows whose key is absent from the source are
    DROPPED from the rewrite, their fingerprints leave the ledger, and
    the per-partition delta goes negative: full snapshot sync. Every
    data file is then affected by construction (each row is either
    matched-and-updated or unmatched-and-deleted)."""
    from pyspark.errors import AnalysisException  # noqa: PLC0415

    from bambooai_spark.functions.text import fingerprint  # noqa: PLC0415

    _fs_delete(spark, tmp)
    stored_js = _stored_schema_json(spark, path)
    stored = None
    if stored_js:
        from pyspark.sql.types import StructType  # noqa: PLC0415

        try:
            stored = StructType.fromJson(stored_js)
        except (KeyError, TypeError, ValueError):
            stored_js = None
    try:
        if stored is not None:
            df = spark.read.schema(stored).parquet(path)
        else:
            df = spark.read.option("mergeSchema", "true").parquet(path)
            stored_js = _schema_json_of(df)
    except AnalysisException:
        return None  # no data files — nothing to update
    unknown = sorted(set(set_cols) - set(df.columns))
    if unknown:
        if updates is not None:
            raise ValueError(
                f"update_corpus_from: assigned columns {unknown} are "
                f"not corpus columns ({sorted(df.columns)}) — alias the "
                f"updates frame's columns to the corpus names (e.g. "
                f"clean_text AS text); an update never widens the schema"
            )
        raise ValueError(
            f"update_corpus: assigned columns {unknown} are not corpus "
            f"columns ({sorted(df.columns)}) — an update never widens "
            "the schema (use evolve_corpus_schema)"
        )
    if updates is not None and key_col not in df.columns:
        raise ValueError(
            f"update_corpus_from: key_col {key_col!r} is not a corpus "
            f"column ({sorted(df.columns)})"
        )
    text_changes = text_col in set_cols
    if (
        (text_changes or insert_unmatched)
        and _fs_exists(spark, _join(path, LEDGER_DIR))
        and text_col not in df.columns
    ):
        raise ValueError(
            f"text_col {text_col!r} is not a corpus column "
            f"({df.columns}); the ledger swap needs the stored text"
        )
    tagged = df.withColumn("_file", F.col("_metadata.file_path"))
    types = {f.name: f.dataType for f in df.schema.fields}
    u_full = None
    if insert_unmatched:
        # MERGE: the unmatched half becomes whole new rows, so the
        # source must carry the full corpus schema (cast to the stored
        # types — mixed footers are the drift hazard the append guard
        # exists for). Persist the FULL projection once; the narrow
        # update projection and the insert split both derive from it.
        missing_ins = sorted(set(df.columns) - set(updates.columns))
        if missing_ins:
            raise ValueError(
                f"merge_corpus: source lacks corpus columns "
                f"{missing_ins} — unmatched keys insert whole rows, so "
                f"the source needs every corpus column "
                f"({sorted(df.columns)})"
            )
        u_full = updates.select(
            *[F.col(c).cast(types[c]).alias(c) for c in df.columns]
        ).persist()
        updates = u_full
    if updates is not None:
        # join mode: every stage below (file list, delta, rewrite, fps)
        # re-reads the updates lineage — persist the narrow projection
        # once so a non-deterministic source can't feed the file list
        # one row set and the rewrite another (the probes-persist rule)
        u = updates.select(
            F.col(key_col),
            F.lit(True).alias("_upd_hit"),
            *[F.col(c).alias(f"_upd_{c}") for c in set_cols],
        ).persist()
        # uniqueness checked on the PERSISTED rows — the exact row set
        # the join will see — so a non-deterministic updates lineage
        # cannot pass a raw-lineage pre-check and still fan out the join
        # (review r10); this one job also materializes the cache every
        # later stage reuses
        chk = u.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.col(key_col)).alias("nd"),
        ).collect()[0]
        if chk["n"] != chk["nd"]:
            u.unpersist()
            if u_full is not None:
                u_full.unpersist()
            raise ValueError(
                f"update_corpus_from: duplicate {key_col!r} values in "
                f"updates ({chk['n']} rows, {chk['nd']} distinct) — the "
                "join would fan out and duplicate corpus rows"
            )
        if chk["n"] == 0:  # empty updates — a no-op, corpus untouched
            u.unpersist()
            if u_full is not None:
                u_full.unpersist()
            if delete_unmatched:
                raise ValueError(
                    "merge_corpus: refusing delete_unmatched with an "
                    "EMPTY source — it would delete every corpus row "
                    "(use delete_from_corpus(lit(True)) if that is "
                    "really intended)"
                )
            return None
        tagged = tagged.join(u, key_col, "left")
        hit = F.coalesce(F.col("_upd_hit"), F.lit(False))
        new_vals = {
            c: F.col(f"_upd_{c}").cast(types[c]) for c in set_cols
        }
    else:
        hit = F.coalesce(pred, F.lit(False))
        new_vals = {
            c: expr.cast(types[c]) for c, expr in set_cols.items()
        }
    matches = tagged.filter(hit).persist()
    inserts = None
    deletes = None
    if delete_unmatched:
        if updates is None:
            raise ValueError(
                "delete_unmatched requires the join form (a source "
                "frame) — expression-mode UPDATE has no source to be "
                "absent from"
            )
        deletes = tagged.filter(~hit)
    # manifest delta: rows unchanged; the token delta is exact when
    # the token column itself is assigned and zero otherwise (the
    # manifest sums the STORED column, which an unassigned update
    # leaves as-is) — always present when the corpus tracks tokens,
    # so the fold keeps the manifest's token column intact
    aggs = [F.lit(0).cast("long").alias("n_rows")]
    if token_col:
        tok_delta = (
            (
                F.coalesce(F.sum(new_vals[token_col]), F.lit(0))
                - F.coalesce(F.sum(F.col(token_col)), F.lit(0))
            )
            if token_col in new_vals
            else F.lit(0)
        )
        aggs.append(tok_delta.cast("long").alias("n_tokens"))
    try:
        # the affected-file list (which also materializes the matches
        # cache) and the MERGE insert-admission job below are
        # independent reads, so the file list rides a side leg while
        # the admission anti-joins run; resolved before its first use
        # at the no-match short-circuit. On the non-merge verbs nothing
        # runs in between and the submit degrades to a serial collect.
        phase = (
            "merge_corpus" if insert_unmatched
            else "update_corpus_from" if updates is not None
            else "update_corpus"
        )
        with overlapped(spark, phase, 3) as ov:
            if delete_unmatched:
                # every row is matched-updated or unmatched-deleted, so
                # every file holding a row is affected — snapshot sync
                # rewrites the corpus by construction; the file list comes
                # from every row, the delta from the matches alone
                files_rel = tagged.select("_file").distinct()

                def _every_file():
                    files = sorted(r["_file"] for r in files_rel.collect())
                    return files, None

                ffiles = ov.submit(_every_file)
            else:
                # one aggregate over the matches gives both the file list
                # and the delta
                files_rel = matches.select("_file").distinct()
                ffiles = ov.submit(
                    _files_and_delta, matches, partition_by, aggs
                )
            fpc = None
            old_fps = new_fps = None
            if text_changes:
                fpc = fingerprint(text_col, normalize=True)
            n_ins = 0
            ledger_path = _join(path, LEDGER_DIR)
            has_ledger = _fs_exists(spark, ledger_path)
            del_fps = None
            if (
                deletes is not None
                and has_ledger
                and text_col in df.columns
            ):
                del_fps = deletes.select(
                    fingerprint(text_col, normalize=True).alias("fp")
                ).distinct()
            if insert_unmatched:
                cand = u_full.join(
                    df.select(key_col).distinct(), key_col, "left_anti"
                )
                if has_ledger and text_col in df.columns:
                    # admission mirrors append_corpus_txn: the corpus keeps
                    # one LIVE row per text fingerprint, so an insert whose
                    # fp is already live (and not leaving via this very
                    # update), or equals an updated row's NEW text, or
                    # repeats an earlier-keyed insert's text, is dropped
                    ifp = fingerprint(text_col, normalize=True)
                    lfps = _read_ledger(spark, ledger_path)
                    if del_fps is not None and lfps is not None:
                        # rows leaving via the delete clause free their
                        # fingerprints: an insert may legitimately carry a
                        # deleted row's content. Subtract from the LEDGER-
                        # derived fps only, BEFORE the updated rows' new
                        # texts are unioned in — a deleted row whose fp
                        # equals an updated row's NEW text must not free
                        # that fp, or the insert admission would let a
                        # second live row duplicate the updated text
                        # (ADVICE r11)
                        lfps = lfps.join(del_fps, "fp", "left_anti")
                    if text_changes:
                        old_fps = matches.select(fpc.alias("fp")).distinct()
                        new_fps = matches.select(
                            fingerprint(
                                new_vals[text_col], normalize=True
                            ).alias("fp")
                        ).distinct()
                        if lfps is not None:
                            lfps = lfps.join(old_fps, "fp", "left_anti")
                        lfps = (
                            new_fps if lfps is None
                            else lfps.unionByName(new_fps)
                        )
                    cand = cand.withColumn("_fp", ifp)
                    if lfps is not None:
                        cand = cand.join(
                            lfps.withColumnRenamed("fp", "_fp"),
                            "_fp", "left_anti",
                        )
                    wfp = Window.partitionBy("_fp").orderBy(key_col)
                    cand = (
                        cand.withColumn(
                            "_rk", F.row_number().over(wfp)
                        ).filter(F.col("_rk") == 1).drop("_rk")
                    )
                inserts = cand.persist()
                # ONE job both materializes the persisted inserts and
                # collects their per-partition manifest delta; n_ins is the
                # delta's row-count sum — the former separate .count() was
                # a second full pass over the same cached relation
                iaggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
                if token_col:
                    iaggs.append(
                        F.coalesce(F.sum(F.col(token_col)), F.lit(0))
                        .cast("long").alias("n_tokens")
                    )
                ins_delta = [
                    r.asDict()
                    for r in inserts.groupBy(*partition_by)
                    .agg(*iaggs).collect()
                ]
                n_ins = sum(r["n_rows"] for r in ins_delta)
            data_files, delta = ffiles.result()
            if not data_files and not n_ins:
                return None
            if delta is None:
                delta = [
                    r.asDict()
                    for r in matches.groupBy(*partition_by)
                    .agg(*aggs).collect()
                ]
            if n_ins:
                delta = _combine_deltas(delta, ins_delta, partition_by)
            if deletes is not None:
                daggs = [(-F.count(F.lit(1))).cast("long").alias("n_rows")]
                if token_col:
                    daggs.append(
                        (-F.coalesce(F.sum(F.col(token_col)), F.lit(0)))
                        .cast("long").alias("n_tokens")
                    )
                delta = _combine_deltas(
                    delta,
                    [
                        r.asDict()
                        for r in deletes.groupBy(*partition_by)
                        .agg(*daggs).collect()
                    ],
                    partition_by,
                )
            # ONE projection applies every assignment against the OLD row —
            # simultaneous semantics, and the predicate is evaluated before
            # any value changes
            kept_src = _filter_to_files(tagged, files_rel, data_files)
            if delete_unmatched:
                kept_src = kept_src.filter(hit)
            rewritten = kept_src.select(
                *[
                    (
                        F.when(hit, new_vals[c]).otherwise(F.col(c)).alias(c)
                        if c in new_vals
                        else F.col(c)
                    )
                    for c in df.columns
                ]
            )
            from bambooai_spark.operators.filestats import (  # noqa: PLC0415
                apply_bloom_options,
                bloom_config,
                collect_file_stats,
                stats_config,
            )

            body = rewritten
            if n_ins:
                body = rewritten.unionByName(inserts.select(*df.columns))
            stats_cols = stats_config(spark, path)

            # the rewritten-data write (+ its staged stats scan) and the
            # ledger-replacement block below are independent staged
            # outputs (disjoint tmp subdirs; both read only the persisted
            # matches/inserts caches and on-disk files), so the data side
            # rides a side leg while the ledger side runs — joined before
            # the freeze info is assembled, and a failure on either side
            # raises before Phase B exactly as the serial order did
            def _write_data():
                apply_bloom_options(
                    body.write.mode("overwrite"), bloom_config(spark, path)
                ).partitionBy(*partition_by).parquet(_join(tmp, "data"))
                if not stats_cols:
                    return None
                return collect_file_stats(
                    spark, _join(tmp, "data"), stats_cols,
                    schema=df.schema, key_prefix=f"d{update_id}-",
                )

            fdata = ov.submit(_write_data)
            fdup = None
            ledger_files: list[str] = []
            ledger_new = False
            ins_fps = (
                inserts.select(F.col("_fp").alias("fp")).distinct()
                if n_ins and "_fp" in (inserts.columns if inserts else [])
                else None
            )
            if (
                text_changes or ins_fps is not None or del_fps is not None
            ) and has_ledger:
                if text_changes and old_fps is None:
                    old_fps = matches.select(fpc.alias("fp")).distinct()
                    new_fps = matches.select(
                        fingerprint(
                            new_vals[text_col], normalize=True
                        ).alias("fp")
                    ).distinct()
                # the removal set: updated rows' OLD texts plus (snapshot
                # sync) deleted rows' texts — both legitimately re-appendable
                leaving = old_fps
                if del_fps is not None:
                    leaving = (
                        del_fps if leaving is None
                        else leaving.unionByName(del_fps)
                    )
                ledger = _read_ledger(spark, ledger_path)
                if ledger is not None:
                    ledger = ledger.withColumn(
                        "_file", F.col("_metadata.file_path")
                    )
                parts = []
                if ledger is not None and leaving is not None:
                    lf_rel = (
                        ledger.join(leaving, "fp", "left_semi")
                        .select("_file").distinct()
                    )
                    ledger_files = sorted(
                        r["_file"] for r in lf_rel.collect()
                    )
                    survivors = (
                        _filter_to_files(ledger, lf_rel, ledger_files)
                        .join(leaving, "fp", "left_anti")
                        .drop("_file")
                    )
                    # new fps enter even when they also exist elsewhere in
                    # the ledger: distinct() against the full ledger would
                    # re-scan it; a duplicate fp row is harmless (the
                    # admission anti-join is set-semantics)
                    parts = [survivors]
                    if new_fps is not None:
                        parts.append(new_fps)
                    # invariant check (one extra ledger-side join): an
                    # update that assigns a text already LIVE elsewhere
                    # creates a duplicate live document exact dedup would
                    # have dropped — warn, don't refuse (the caller may be
                    # deliberately normalizing near-identical rows before a
                    # dedup pass). Read-only over the ledger and the cached
                    # matches, independent of the replacement below, so it
                    # rides a side leg alongside the data write instead of
                    # serializing a full-ledger job between the file-list
                    # collect and the ledger write; resolved before the
                    # finally block releases the caches it reads.
                    if new_fps is not None:
                        fdup = ov.submit(
                            ledger.join(leaving, "fp", "left_anti")
                            .join(new_fps, "fp", "left_semi")
                            .count
                        )
                elif new_fps is not None and ins_fps is not None:
                    # ledger dir exists but holds no readable files; the
                    # merge writes a ledger anyway for its inserts, so the
                    # updated texts' new fps ride along
                    parts = [new_fps]
                if ins_fps is not None:
                    parts.append(ins_fps)
                if parts:
                    replacement = parts[0]
                    for extra in parts[1:]:
                        replacement = replacement.unionByName(extra)
                    replacement.write.mode("overwrite").parquet(
                        _join(tmp, "ledger")
                    )
                    ledger_new = True
            file_stats = fdata.result()
            if fdup is not None and fdup.result():
                import warnings  # noqa: PLC0415

                warnings.warn(
                    f"update assigns {fdup.result()} text value(s) that "
                    "are already live elsewhere in the corpus — the "
                    "one-live-row-per-fingerprint invariant is now broken "
                    "for those texts (a dedup pass or delete_from_corpus "
                    "can restore it)",
                    stacklevel=2,
                )
    finally:
        # the with block has joined (or cancelled) every side leg by
        # now, so no overlapped job still reads the caches released here
        matches.unpersist()
        if updates is not None:
            u.unpersist()
        if u_full is not None:
            u_full.unpersist()
        if inserts is not None:
            inserts.unpersist()
    return {
        "delete_id": update_id,
        "file_stats": file_stats,
        "partition_by": list(partition_by),
        "token_col": token_col,
        "schema": stored_js,
        "delta": delta,
        "data_files": data_files,
        "ledger_files": ledger_files,
        "ledger_new": ledger_new,
        # rewritten files lose their batch attribution exactly as
        # delete's do — snapshot targets below the floor re-baseline.
        # Merge inserts land in d-files (included in EVERY snapshot), so
        # when any insert happened the floor also rises to the latest
        # committed batch: an older as-of target would otherwise show
        # rows that did not exist then.
        "as_of_floor": (
            max(
                _numeric_floor(data_files) or 0,
                _latest_numeric_batch(spark, path) or 0,
            ) or None
            if n_ins
            else _numeric_floor(data_files)
        ),
    }


def _frozen_staged_batches(spark: SparkSession, path: str) -> list[str]:
    """Staging entries frozen with ``_STAGED`` but not yet committed —
    the batches whose corpus files may be HALF-moved and whose replay
    re-renames any missing destination."""
    staging_root = _join(path, STAGING_DIR)
    fs, sroot = _fs(spark, staging_root)
    if not fs.exists(sroot):
        return []
    out = []
    for st in fs.listStatus(sroot):
        name = st.getPath().getName()
        if not name.startswith("batch_id="):
            continue
        batch_id = name.split("=", 1)[1]
        marker = _join(path, f"{COMMITS_DIR}/batch-{batch_id}.json")
        staged = _join(staging_root, f"{name}/{STAGED_MARKER}")
        if _fs_exists(spark, staged) and not _fs_exists(spark, marker):
            out.append(name)
    return sorted(out)


def _current_manifest(
    spark: SparkSession, path: str, partition_by, token_col: str | None
) -> DataFrame:
    """The corpus's manifest as a DataFrame without a corpus scan: the
    JSON when present/parseable, the exact from-files rebuild otherwise."""
    from pyspark.errors import AnalysisException  # noqa: PLC0415

    mpath = _join(path, MANIFEST_NAME)
    if _fs_exists(spark, mpath):
        try:
            rows = json.loads(_fs_read_text(spark, mpath)).get("partitions", [])
            return _manifest_df(spark, rows, partition_by, token_col, None)
        except ValueError:
            pass
    try:
        return build_manifest(
            spark, path, partition_by=tuple(partition_by), token_col=token_col
        )
    except AnalysisException:
        return _empty_manifest(spark, partition_by, token_col)


def _stage_delete(
    spark: SparkSession,
    path: str,
    tmp: str,
    pred,
    *,
    partition_by,
    text_col: str,
    token_col: str | None,
    fingerprint,
    delete_id: str,
) -> dict | None:
    """Phase A of :func:`delete_from_corpus`: compute the affected file
    lists and negative delta, rewrite kept rows and surviving ledger rows
    to the side. Nothing outside ``tmp`` changes. Returns the freeze info
    (None when the predicate matches nothing)."""
    from pyspark.errors import AnalysisException  # noqa: PLC0415

    _fs_delete(spark, tmp)
    stored_js = _stored_schema_json(spark, path)
    stored = None
    if stored_js:
        from pyspark.sql.types import StructType  # noqa: PLC0415

        try:
            stored = StructType.fromJson(stored_js)
        except (KeyError, TypeError, ValueError):
            stored_js = None  # unrecognized entry — fall back to merge
    try:
        # the recorded schema pins the kept-rows rewrite: after an
        # additive evolution a one-footer read would drop the evolved
        # column from every rewritten file (see _stored_schema). Without
        # one (legacy / torn manifest) pay mergeSchema's all-footers pass
        # ONCE — a maintenance op can afford it, a sampled footer cannot
        # be trusted to see every column — and re-record the result so
        # the manifest self-heals (partition columns as the verbatim
        # directory strings here, inference being off).
        if stored is not None:
            df = spark.read.schema(stored).parquet(path)
        else:
            df = spark.read.option("mergeSchema", "true").parquet(path)
            stored_js = _schema_json_of(df)
    except AnalysisException:
        return None  # no data files — nothing to delete
    # (a schema'd read of a corpus with zero data files returns an empty
    # relation instead of raising; the empty data_files list below then
    # exits the same way)
    if _fs_exists(spark, _join(path, LEDGER_DIR)) and text_col not in df.columns:
        # the ledger cleanup fingerprints this column — fail BEFORE the
        # kept-rows rewrite, not after it (review r8 pass 2: the late
        # AnalysisException discarded the whole Phase-A rewrite)
        raise ValueError(
            f"text_col {text_col!r} is not a corpus column "
            f"({df.columns}); the ledger cleanup needs the stored text"
        )
    tagged = df.withColumn("_file", F.col("_metadata.file_path"))
    matches = tagged.filter(pred).persist()
    try:
        files_rel = matches.select("_file").distinct()
        aggs = [(-F.count(F.lit(1))).cast("long").alias("n_rows")]
        if token_col:
            aggs.append(
                (-F.coalesce(F.sum(F.col(token_col)), F.lit(0)))
                .cast("long").alias("n_tokens")
            )
        data_files, delta = _files_and_delta(matches, partition_by, aggs)
        if not data_files:
            return None
        kept = _filter_to_files(tagged, files_rel, data_files).filter(
            ~F.coalesce(pred, F.lit(False))  # NULL predicate rows are kept
        ).drop("_file")
        from bambooai_spark.operators.filestats import (  # noqa: PLC0415
            apply_bloom_options,
            bloom_config,
            collect_file_stats,
            stats_config,
        )

        stats_cols = stats_config(spark, path)

        # the kept-rows rewrite (+ its staged stats scan) and the ledger
        # rewrite are independent staged outputs — disjoint tmp subdirs,
        # both fed by the already-materialized `matches` cache — so the
        # kept rows ride a side leg; nothing outside tmp changes until
        # Phase B, and a failure on either side raises before the
        # freeze exactly as the serial order did
        def _write_kept():
            apply_bloom_options(
                kept.write.mode("overwrite"), bloom_config(spark, path)
            ).partitionBy(*partition_by).parquet(_join(tmp, "data"))
            if not stats_cols:
                return None
            # stats for the d<id>- rewrites ride the freeze like the
            # file lists; the removed originals' entries become inert
            # orphans until compaction/rebuild consolidates them
            return collect_file_stats(
                spark, _join(tmp, "data"), stats_cols,
                schema=df.schema, key_prefix=f"d{delete_id}-",
            )

        ledger_files: list[str] = []
        with overlapped(spark, "delete_from_corpus") as ov:
            fkept = ov.submit(_write_kept)
            ledger_path = _join(path, LEDGER_DIR)
            if _fs_exists(spark, ledger_path):
                # resolve the fingerprints OUTSIDE the empty-ledger
                # guard: an unresolvable text_col raises
                # AnalysisException too, and swallowing it would delete
                # the rows but leave their fingerprints — silently
                # blocking every legitimate re-append of the taken-down
                # documents forever (review r8)
                fps = matches.select(
                    fingerprint(text_col, normalize=True).alias("fp")
                ).distinct()
                # None: the ledger dir holds no data files
                ledger = _read_ledger(spark, ledger_path)
                if ledger is not None:
                    ledger = ledger.withColumn(
                        "_file", F.col("_metadata.file_path")
                    )
                    lf_rel = (
                        ledger.join(fps, "fp", "left_semi")
                        .select("_file").distinct()
                    )
                    ledger_files = sorted(
                        r["_file"] for r in lf_rel.collect()
                    )
                    if ledger_files:
                        (
                            _filter_to_files(ledger, lf_rel, ledger_files)
                            .join(fps, "fp", "left_anti")
                            .drop("_file")
                            .write.mode("overwrite")
                            .parquet(_join(tmp, "ledger"))
                        )
            file_stats = fkept.result()
    finally:
        matches.unpersist()
    return {
        "delete_id": delete_id,
        "file_stats": file_stats,
        "partition_by": list(partition_by),
        "token_col": token_col,
        # the schema rides the freeze: the fold's torn-manifest rebuild
        # would otherwise write a schema-less manifest, regressing the
        # corpus to one-footer sampling (delete never changes columns)
        "schema": stored_js,
        "delta": delta,
        "data_files": data_files,
        "ledger_files": ledger_files,
        # the kept-rows rewrite merges affected files into d<id>- output,
        # losing their batch attribution — as_of_batch targets below the
        # highest rewritten id become unanswerable (and the deleted rows
        # must not resurface in ANY snapshot, which always-including the
        # d-files guarantees)
        "as_of_floor": _numeric_floor(data_files),
    }


def _apply_staged_delete(
    spark: SparkSession,
    path: str,
    tmp: str,
    staged_flag: str,
    info: dict,
) -> DataFrame:
    """Phase B of :func:`delete_from_corpus`, resumable from the frozen
    info alone (the corpus may be mid-swap — nothing here re-reads it):
    swap replacements in per-file, delete exactly the frozen originals,
    fold the negative delta, clean up."""
    did = info["delete_id"]
    partition_by = tuple(info["partition_by"])
    token_col = info.get("token_col")
    fs, _root = _fs(spark, path)
    jvm = spark._jvm
    targets = [(_join(tmp, "data"), path)]
    # ledger_new: an UPDATE that changed the fingerprinted text stages
    # replacement ledger rows even when no original ledger file held a
    # matching fp (nothing to delete, new fps still must land)
    if info.get("ledger_files") or info.get("ledger_new"):
        targets.append((_join(tmp, "ledger"), _join(path, LEDGER_DIR)))
    for (src_root, dest_root), originals in zip(
        targets, [info["data_files"], info.get("ledger_files") or []]
    ):
        # (1) stage replacements hidden; resumable per file
        _move_staged_files(
            spark, src_root, dest_root, did, prefix=f"_swap-d{did}-"
        )
        # (2) delete exactly the affected originals (missing = already
        # deleted by a previous attempt) — independent per file, so
        # overlapped like the renames
        path_cls = spark._bbai_fs_cache["Path"]

        def _delete_one(f):
            fs.delete(path_cls(f), False)

        _fs_parallel(spark, _delete_one, originals)
        # (3) unhide — the shared swap-protocol step
        _unhide_swapped(spark, dest_root, f"_swap-d{did}-")
    if info.get("file_stats"):
        from bambooai_spark.operators.filestats import (  # noqa: PLC0415
            write_stats_delta,
        )

        write_stats_delta(spark, path, f"d{did}", info["file_stats"])
    rows = _merge_manifest_delta(
        spark, path, partition_by, info["delta"], token_col,
        batch_id=f"delete-{did}",
        as_of_floor=info.get("as_of_floor"),
        schema_json=info.get("schema"),
    )
    _fs_delete(spark, staged_flag)
    _fs_delete(spark, tmp)
    return _manifest_df(spark, rows, partition_by, token_col, None)


def _iter_commit_markers(spark: SparkSession, path: str):
    """Yield ``(batch_id, FileStatus)`` for every commit marker under
    ``_commits`` — the ONE copy of the naming-scheme loop (history,
    pruning, and the snapshot read all walk the same directory)."""
    croot = _join(path, COMMITS_DIR)
    fs, cpath = _fs(spark, croot)
    if not fs.exists(cpath):
        return
    for st in fs.listStatus(cpath):
        name = st.getPath().getName()
        if name.startswith("batch-") and name.endswith(".json"):
            yield name[len("batch-"):-len(".json")], st


def _prune_commit_markers(spark: SparkSession, path: str) -> list[str]:
    """Delete ``_commits`` markers that can no longer matter to a replay
    (ADVICE r7: a long-lived streaming corpus otherwise accumulates one
    small marker file per micro-batch forever).

    A marker is prunable when its batch id has aged out of the manifest's
    bounded ``committed_batches`` window AND no staging dir for it
    remains: ``_commit_staged`` orders marker → manifest fold → staging
    delete, so a gone stage proves the fold landed, and only the last
    uncommitted batch can ever replay — anything older than the window
    exists purely as idempotence bookkeeping that the window already
    provides. A marker whose stage survives (crash between marker and
    fold) is kept for :func:`recover_staging` / the replay to fold.
    Returns the pruned marker names."""
    mpath = _join(path, MANIFEST_NAME)
    if not _fs_exists(spark, mpath):
        return []  # no manifest — cannot prove any marker is stale
    try:
        committed = set(
            json.loads(_fs_read_text(spark, mpath)).get("committed_batches")
            or []
        )
    except ValueError:
        return []  # torn manifest mid-overwrite — prune nothing
    fs, _root = _fs(spark, path)
    pruned: list[str] = []
    for bid, st in _iter_commit_markers(spark, path):
        if bid in committed:
            continue  # inside the replay window
        if _fs_exists(spark, _join(path, f"{STAGING_DIR}/batch_id={bid}")):
            continue  # fold may not have landed — recover_staging's job
        fs.delete(st.getPath(), False)
        pruned.append(st.getPath().getName())
    return pruned


def recover_staging(
    spark: SparkSession,
    path: str,
    *,
    min_age_seconds: float = 86_400.0,
    lease=None,
) -> dict[str, list[str]]:
    """Finish or clean the leftovers of crashed transactional appends —
    the maintenance twin of :func:`append_corpus_txn` for queries that
    died and were NEVER restarted (a restarted query recovers its own
    batch; nothing recovers an abandoned one until this runs).

    Per ``_staging/batch_id=*`` entry:

    - commit marker exists → the batch is fully committed; the marker's
      manifest delta is (idempotently) folded first — a crash between the
      marker write and the manifest fold would otherwise undercount the
      batch forever — then the staging leftover is deleted.
    - ``_STAGED`` exists → the batch froze but may have PARTIALLY moved
      files into the corpus, so deletion could leave half a batch live
      and replay-able into duplicates — instead the commit is RESUMED
      (renames are idempotent; a later replay of the same batch id then
      no-ops on the marker). Always safe, never loses or duplicates.
    - neither, and older than ``min_age_seconds`` → an incomplete stage;
      nothing outside staging exists, deleted. Age is the NEWEST
      modification time anywhere under the stage (the stage dir's own
      mtime does not advance while nested files are written, so a large
      live batch mid-stage would otherwise look stale and be deleted out
      from under its query). Younger bare stages are kept.

    Returns ``{"committed": [...], "cleaned": [...], "kept": [...]}`` of
    staging names for observability.
    """
    import time as _time  # noqa: PLC0415

    _lease_beat(lease)
    out: dict[str, list[str]] = {"committed": [], "cleaned": [], "kept": []}
    # an abandoned crashed DELETE leaves the corpus mid-swap (originals
    # gone, replacements hidden) — strictly worse than an abandoned
    # append, so finish it first; resumable from the frozen info alone,
    # no corpus read, no age heuristic needed
    dflag = _join(path, f"{DELETE_TMP}/{STAGED_MARKER}")
    if _fs_exists(spark, dflag):
        _lease_ensure(lease)
        _apply_staged_delete(
            spark, path, _join(path, DELETE_TMP), dflag,
            json.loads(_fs_read_text(spark, dflag)),
        )
        out["committed"].append(DELETE_TMP)
    staging_root = _join(path, STAGING_DIR)
    fs, sroot = _fs(spark, staging_root)
    if not fs.exists(sroot):
        return out
    now_ms = _time.time() * 1000.0
    for st in fs.listStatus(sroot):
        name = st.getPath().getName()
        if not name.startswith("batch_id="):
            continue
        batch_id = name.split("=", 1)[1]
        stage = _join(staging_root, name)
        marker = _join(path, f"{COMMITS_DIR}/batch-{batch_id}.json")
        if _fs_exists(spark, marker):
            # every arm below publishes (manifest fold / commit / stage
            # delete) — a lost lease must abort the scan mid-loop rather
            # than interleave with the new holder's writes (review r8)
            _lease_ensure(lease)
            info = json.loads(_fs_read_text(spark, marker))
            if info.get("file_stats"):
                # heal the crash window between the marker and the
                # stats write (idempotent, same content)
                from bambooai_spark.operators.filestats import (  # noqa: PLC0415
                    write_stats_delta,
                )

                write_stats_delta(
                    spark, path, f"b{batch_id}", info["file_stats"]
                )
            _merge_manifest_delta(
                spark, path, tuple(info["partition_by"]), info["delta"],
                info.get("token_col"), batch_id=batch_id,
                columns=info.get("columns"),
                # an evolved batch's recovery must record its unified
                # schema, or the next compaction reads with the stale one
                # and rewrites the evolved column away
                schema_json=info.get("schema"),
            )
            _fs_delete(spark, stage)
            out["cleaned"].append(name)
        elif _fs_exists(spark, _join(stage, STAGED_MARKER)):
            _lease_ensure(lease)
            info = json.loads(
                _fs_read_text(spark, _join(stage, STAGED_MARKER))
            )
            empty = spark.createDataFrame(
                [], "doc_id long"
            )  # schema only feeds the empty-manifest fallback
            _commit_staged(spark, path, stage, batch_id, info, empty)
            out["committed"].append(name)
        else:
            try:
                newest_ms = st.getModificationTime()
                it = fs.listFiles(st.getPath(), True)
                while it.hasNext():
                    newest_ms = max(
                        newest_ms, it.next().getModificationTime()
                    )
            except Exception:
                # files vanished mid-listing — a LIVE writer is renaming
                # its task attempts under this stage right now; keep it
                out["kept"].append(name)
                continue
            if now_ms - newest_ms >= min_age_seconds * 1000.0:
                _lease_ensure(lease)
                _fs_delete(spark, stage)
                out["cleaned"].append(name)
            else:
                out["kept"].append(name)
    return out


def read_corpus(
    spark: SparkSession,
    path: str,
    *,
    as_of_batch: int | None = None,
    schema=None,
    where=None,
) -> DataFrame:
    """Committed-snapshot read of a transactional corpus — the reader-side
    answer to the dirty-read window :func:`append_corpus_txn` documents
    ("a concurrent reader can see a partially moved batch"): only batches
    whose commit marker existed when this call started are visible, so a
    concurrent streaming append can never leak half a micro-batch into
    the returned frame.

    ``as_of_batch=N`` pins the view to txn batches with numeric id <= N
    (time travel for reproducible training snapshots): base files — plain
    ``part-`` appends, ``c<id>-`` compaction output, ``d<id>-`` delete
    rewrites — are always included, later ``b<id>-`` batches drop out.
    Maintenance collapses attribution (compaction folds every live batch
    into ``c<id>-`` files; a delete's kept-rows rewrite merges affected
    files into ``d<id>-`` files), so both record the highest rewritten id
    as the manifest's ``as_of_floor`` and targets below it raise instead
    of answering wrong. Delete rewrites staying always-visible is the
    correct takedown semantics: removed content must not resurface in ANY
    snapshot, old or new.

    Snapshot rules, per committed-file basename ``b<id>-...``:

    - id had a ``_commits`` marker at call start → include (its moves
      completed before the marker was written, so the listing saw every
      file).
    - marker appeared only DURING the listing, or the batch is still
      frozen mid-commit → exclude (the snapshot point is call start).
    - no marker and no staging entry → an old batch whose marker aged out
      of the pruning window → include (complete long ago).

    Driver cost is O(files) — the same class as the module's other
    maintenance paths, and the same listing ``spark.read.parquet(path)``
    itself performs. Concurrent txn APPENDS are safe; a concurrent
    compaction/delete is not (single maintenance writer, as everywhere in
    this module) — a FROZEN one raises with the op to resume.

    ``schema`` pins the read schema (partition-column types included, see
    :func:`build_manifest`). Without it the manifest's recorded schema
    (present on every corpus this module writes) is used — which also
    makes additive-evolution corpora read correctly (old files surface
    NULL for later columns instead of one sampled footer deciding the
    column set). A legacy corpus with neither and an empty selection
    raises, since a DataFrame needs a schema from somewhere.

    ``as_of_batch`` pins the ROW SET, not the column set: the manifest
    keeps only the current unified schema, so a snapshot taken before a
    later additive evolution gains the new column (all-NULL for its
    rows) once the evolution lands. Pass ``schema=`` explicitly where a
    bit-stable snapshot schema matters across re-reads.

    ``where`` filters the result — and, as a list of ``(column, op,
    value)`` triples (ops ``== < <= > >=``, AND-combined), also DROPS
    files the corpus's per-file stats prove cannot match before the
    reader is built (see :mod:`.filestats`): on a clustered corpus a
    selective read schedules ~matching-range/corpus of the files instead
    of all of them. Semantics never depend on the stats — the predicate
    is always applied as a real filter too; files without stats are
    simply read. A plain Column or SQL string is also accepted
    (filter-only, no pruning — triples are what the pruner can reason
    about).
    """
    for flag, op in (
        (f"{DELETE_TMP}/{STAGED_MARKER}", "delete_from_corpus"),
        (f"{COMPACT_TMP}/{STAGED_MARKER}", "compact_corpus"),
    ):
        if _fs_exists(spark, _join(path, flag)):
            raise RuntimeError(
                f"corpus is mid-swap (frozen {op} at {flag}); re-run "
                f"{op} or recover_staging to finish it before reading"
            )
    floor = None
    mpath = _join(path, MANIFEST_NAME)
    if _fs_exists(spark, mpath):
        try:
            loaded = json.loads(_fs_read_text(spark, mpath))
            floor = loaded.get("as_of_floor")
            if schema is None and loaded.get("schema"):
                from pyspark.sql.types import StructType  # noqa: PLC0415

                try:
                    schema = StructType.fromJson(loaded["schema"])
                except (KeyError, TypeError, ValueError):
                    pass  # unrecognized entry — fall back to inference
        except ValueError:
            pass  # torn manifest never blocks reads; floor check best-effort
    if as_of_batch is not None and floor is not None and as_of_batch < int(floor):
        raise ValueError(
            f"as_of_batch={as_of_batch} predates the corpus's maintenance "
            f"floor {floor}: compaction/delete rewrote batches up to "
            f"{floor}, so their attribution is gone"
        )

    preds, residual = _split_where(schema, where)
    keep = _snapshot_files(
        spark, path,
        as_of_batch=as_of_batch,
        # no dir pruning under as_of: the non-numeric-batch-id guard
        # must stay GLOBAL (a composite-id file hidden by a pruned
        # partition would make the same snapshot target raise or answer
        # depending on the where= clause)
        dir_ok=None if as_of_batch is not None else _dir_pruner(preds, schema),
    )
    keep = _stats_prune(spark, path, keep, schema, preds)
    if preds and as_of_batch is None:
        # query-mix telemetry for the advisor's clustering economics
        # (best-effort, never raises — see record_read_sample)
        from bambooai_spark.operators.filestats import (  # noqa: PLC0415
            record_read_sample,
        )

        record_read_sample(spark, path, preds, len(keep))

    if not keep:
        if schema is not None:
            out = spark.createDataFrame([], schema)
            return out.filter(residual) if residual is not None else out
        raise ValueError(
            f"no committed data files under {path} for this snapshot; "
            "pass schema= to get a typed empty DataFrame"
        )
    reader = spark.read.option("basePath", path)
    if schema is not None:
        reader = reader.schema(schema)
    out = reader.parquet(*keep)
    return out.filter(residual) if residual is not None else out


def _snapshot_files(
    spark: SparkSession,
    path: str,
    *,
    as_of_batch: int | None = None,
    dir_ok=None,
) -> list[str]:
    """The committed-snapshot keep-list (read_corpus's visibility rules
    as a reusable piece — explain_pruning reports on the same file set
    the real read scans): markers listed BEFORE the files, base files
    always in, txn files in iff committed at the snapshot point (or
    marker-pruned old), ``as_of_batch`` pinning numeric batch ids."""
    committed_at_start = {
        bid for bid, _st in _iter_commit_markers(spark, path)
    }
    keep: list[str] = []
    decided: dict[str, bool] = {}
    for f in _walk_files(spark, path, dir_ok=dir_ok):
        bid = _txn_batch_of(f.rsplit("/", 1)[-1])
        if bid is None:
            keep.append(f)  # base file — every snapshot includes it
            continue
        if as_of_batch is not None:
            if not bid.isdigit():
                raise ValueError(
                    f"as_of_batch with a non-numeric live batch id "
                    f"{bid!r} ({f}): ordering is undefined"
                )
            if int(bid) > as_of_batch:
                continue
        if bid not in decided:
            if bid in committed_at_start:
                decided[bid] = True
            else:
                # not committed at the snapshot point: visible files are
                # either a mid-commit move (staging still present) or a
                # commit that landed DURING our listing (marker now
                # present but listing may be partial) — both excluded;
                # only a marker-pruned old batch (no marker, no staging)
                # is complete by construction
                decided[bid] = not _fs_exists(
                    spark, _join(path, f"{COMMITS_DIR}/batch-{bid}.json")
                ) and not _fs_exists(
                    spark, _join(path, f"{STAGING_DIR}/batch_id={bid}")
                )
        if decided[bid]:
            keep.append(f)
    return keep


def _split_where(schema, where):
    """Parse the readers' ``where=``: returns ``(preds, residual)`` —
    validated triples (for file/partition pruning) plus the residual
    filter Column (always applied — pruning can only shrink the scan,
    never change results); a plain Column/SQL string is filter-only."""
    if where is None:
        return None, None
    from pyspark.sql import Column  # noqa: PLC0415

    if isinstance(where, Column):
        return None, where
    if isinstance(where, str):
        return None, F.expr(where)
    from bambooai_spark.operators.filestats import (  # noqa: PLC0415
        normalize_predicates,
        predicate_column,
    )

    preds = normalize_predicates(where, schema)
    return preds, predicate_column(preds)


def _dir_pruner(preds, schema):
    """Listing-time partition-directory filter for the triples form."""
    if not preds:
        return None
    from bambooai_spark.operators.filestats import (  # noqa: PLC0415
        partition_dir_pruner,
    )

    return partition_dir_pruner(preds, schema)


def _stats_prune(spark, path, keep, schema, preds):
    """File-level stats pruning of the keep-list for the triples form —
    two-tier: driver-side dict walk below the threshold, ONE Spark job
    over the consolidated parquet doc above it (see
    :func:`~bambooai_spark.operators.filestats.prune_with_stored_stats`)."""
    if not preds:
        return keep
    from bambooai_spark.operators.filestats import (  # noqa: PLC0415
        prune_with_stored_stats,
    )

    return prune_with_stored_stats(spark, path, keep, preds, schema)[0]


def _batch_key(bid: str, like: str | None = None):
    """Orderable key for a txn batch id, or None when the id is not
    comparable in ``like``'s lineage. Plain numeric ids order naturally;
    the streaming sink's composite ``<namespace>.<n>`` ids order by the
    numeric tail WITHIN one namespace (different checkpoints are
    different lineages — their counters are unrelated)."""
    s = str(bid)
    if s.isdigit():
        return None if (like is not None and "." in str(like)) else int(s)
    ns, _, n = s.rpartition(".")
    if not ns or not n.isdigit():
        return None
    if like is not None:
        lns, _, _ln = str(like).rpartition(".")
        if lns != ns:
            return None
    return int(n)


def _staged_batch_names(spark: SparkSession, path: str) -> set[str]:
    """Batch ids with a ``_staging`` entry — ONE directory listing
    instead of one exists-RPC per candidate batch."""
    staging_root = _join(path, STAGING_DIR)
    fs, sroot = _fs(spark, staging_root)
    if not fs.exists(sroot):
        return set()
    return {
        st.getPath().getName().split("=", 1)[1]
        for st in fs.listStatus(sroot)
        if st.getPath().getName().startswith("batch_id=")
    }


def latest_committed_batch(
    spark: SparkSession,
    path: str,
    *,
    namespace: str | None = None,
    _files: list[str] | None = None,
) -> int | str | None:
    """The highest COMMITTED txn batch id — the CDC consumer's "until"
    watermark. Sources, in union: commit markers, the manifest's replay
    window, and live ``b<id>-`` data files (which survive marker
    pruning) — the last admitted only when provably committed (marker
    present, or marker-pruned old: no marker AND no staging), because a
    watermark that includes a frozen mid-commit batch would skip its
    rows forever once it lands. Batches must COMMIT in increasing id
    order for watermarking to be gap-free — true of the streaming sink
    (one monotonic counter per checkpoint) and the natural batch
    pattern; an out-of-order batch driver must manage watermarks itself.
    ``namespace`` restricts to one streaming lineage's composite ids
    (returned as ``<namespace>.<n>``); without it only plain numeric ids
    are considered. None when no committed batch matches.
    ``_files`` lets a caller that already listed the corpus (one walk
    shared with :func:`read_corpus_changes`, as the vector-store refresh
    does) skip a second O(files) listing."""
    like = f"{namespace}.0" if namespace is not None else None
    committed: set[str] = {
        bid for bid, _st in _iter_commit_markers(spark, path)
    }
    doc = _load_manifest_doc(spark, path)
    for bid in (doc or {}).get("committed_batches") or []:
        committed.add(str(bid))
    staged = None
    for f in (_files if _files is not None else _walk_files(spark, path)):
        bid = _txn_batch_of(f.rsplit("/", 1)[-1])
        if bid is None or bid in committed:
            continue
        if staged is None:
            staged = _staged_batch_names(spark, path)
        if bid not in staged:
            committed.add(bid)  # marker-pruned old batch — complete
    best = None
    best_key = None
    for bid in committed:
        k = _batch_key(bid, like)
        if k is None:
            continue
        if best_key is None or k > best_key:
            best_key, best = k, bid
    if best is None:
        return None
    return int(best) if namespace is None else best


def read_corpus_changes(
    spark: SparkSession,
    path: str,
    *,
    after_batch: int | str,
    until_batch: int | str | None = None,
    schema=None,
    where=None,
    _files: list[str] | None = None,
) -> DataFrame:
    """Incremental (CDC-style) read: the LIVE rows of committed txn
    batches with id in ``(after_batch, until_batch]`` — what a
    downstream consumer (embedding index, feature store, mirror) must
    process to catch up from its watermark without re-scanning the
    corpus. At 100 TB this is the difference between an incremental
    refresh reading one day's batches and a full-corpus diff.

    Scope and guarantees:

    - **Inserts only.** Takedowns remove rows; they do not emit
      retractions (the pre-image is deliberately destroyed — that is
      the point of a takedown). Consumers that must mirror deletions
      reconcile against live ids (see
      :func:`~bambooai_spark.operators.vector_store.prune_vector_store`
      for the vector-store case).
    - **Committed-snapshot semantics**, same rules as
      :func:`read_corpus`: a batch appears only once its commit marker
      exists at call start; a frozen mid-commit batch is invisible.
    - **Attribution guard.** Compaction/delete fold rewritten batches'
      files into ``c<id>-``/``d<id>-`` base files, destroying their
      batch attribution; the manifest's ``as_of_floor`` records the
      highest such id. A range starting below the floor raises — the
      consumer's watermark predates what the corpus can still answer
      and it must re-baseline (full re-read), never silently miss rows.
      Composite (streaming) ids never enter the numeric floor, so ANY
      maintenance rewrite forces composite-id consumers to re-baseline:
      schedule refreshes before compaction windows.
    - Batch ids order as in :func:`_batch_key`: numeric ids naturally,
      composite ``<ns>.<n>`` ids by tail within one namespace —
      ``after_batch`` fixes the lineage. Rows appended by the PLAIN
      (non-txn) append carry no attribution and are never visible here.

    ``until_batch=None`` means every committed batch after
    ``after_batch`` (pair with :func:`latest_committed_batch` to record
    the consumer's next watermark BEFORE processing).

    ``where`` — same contract as :func:`read_corpus`: triples prune the
    batch files by their stats before the reader is built (an
    incremental consumer that only follows one language/quality band
    reads only its slice of each batch) and always apply as a residual
    filter; a Column/SQL string filters without pruning."""
    after_key = _batch_key(after_batch)
    if after_key is None:
        raise ValueError(
            f"after_batch {after_batch!r} is not an orderable batch id "
            "(numeric, or <namespace>.<n>)"
        )
    until_key = None
    if until_batch is not None:
        until_key = _batch_key(until_batch, like=after_batch)
        if until_key is None:
            raise ValueError(
                f"until_batch {until_batch!r} is not comparable with "
                f"after_batch {after_batch!r} (same namespace required)"
            )
        if until_key < after_key:
            raise ValueError(
                f"until_batch {until_batch!r} precedes after_batch "
                f"{after_batch!r}"
            )

    doc = _load_manifest_doc(spark, path)
    floor = (doc or {}).get("as_of_floor")
    composite = "." in str(after_batch)
    if floor is not None and not composite and int(after_batch) < int(floor):
        raise ValueError(
            f"after_batch={after_batch} predates the corpus's maintenance "
            f"floor {floor}: compaction/delete rewrote batches up to "
            f"{floor}, so their attribution is gone — re-baseline the "
            "consumer with a full read_corpus"
        )
    if schema is None and doc and doc.get("schema"):
        from pyspark.sql.types import StructType  # noqa: PLC0415

        try:
            schema = StructType.fromJson(doc["schema"])
        except (KeyError, TypeError, ValueError):
            pass
    preds, residual = _split_where(schema, where)

    # snapshot point: markers BEFORE the file listing (same rule as
    # read_corpus) — a batch whose marker lands mid-listing is excluded
    # because it is absent from this set, never partially included.
    # When a caller passes _files it listed earlier, it must also bound
    # until_batch at an id committed no later than that listing (the
    # vector-store refresh derives both from one walk), or a batch
    # committing between the two listings could appear partially.
    committed_at_start = {
        bid for bid, _st in _iter_commit_markers(spark, path)
    }
    if _files is not None:
        files = _files
    else:
        # partition-dir pruning only on the NUMERIC path: the composite
        # guard below needs GLOBAL c/d-file evidence, which a pruned
        # listing could hide (the numeric floor guard reads the
        # manifest, not the listing)
        files = _walk_files(
            spark, path,
            dir_ok=None if composite else _dir_pruner(preds, schema),
        )
    if composite:
        # composite ids never raise the numeric floor, so the only sound
        # contract is: no maintenance rewrite may postdate the watermark.
        # c<id>-/d<id>- files are the durable evidence of one.
        rewritten = [
            f for f in files
            if _txn_batch_of(f.rsplit("/", 1)[-1]) is None
            and f.rsplit("/", 1)[-1][:1] in ("c", "d")
        ]
        if rewritten:
            raise ValueError(
                "the corpus has maintenance-rewritten files "
                f"(e.g. {rewritten[0].rsplit('/', 1)[-1]!r}) and "
                f"after_batch {after_batch!r} is a streaming id whose "
                "attribution cannot be proven to survive them — "
                "re-baseline the consumer with a full read_corpus"
            )

    keep: list[str] = []
    decided: dict[str, bool] = {}
    for f in files:
        bid = _txn_batch_of(f.rsplit("/", 1)[-1])
        if bid is None:
            continue  # base file — no attribution, not a change row
        k = _batch_key(bid, like=after_batch)
        if k is None or k <= after_key:
            continue
        if until_key is not None and k > until_key:
            continue
        if bid not in decided:
            if bid in committed_at_start:
                decided[bid] = True
            else:
                # same three-way rule as read_corpus: mid-commit or
                # committed-during-listing → excluded; marker-pruned old
                # batch (no marker, no staging) → complete, included
                decided[bid] = not _fs_exists(
                    spark, _join(path, f"{COMMITS_DIR}/batch-{bid}.json")
                ) and not _fs_exists(
                    spark, _join(path, f"{STAGING_DIR}/batch_id={bid}")
                )
        if decided[bid]:
            keep.append(f)

    keep = _stats_prune(spark, path, keep, schema, preds)

    if not keep:
        if schema is not None:
            out = spark.createDataFrame([], schema)
            return out.filter(residual) if residual is not None else out
        raise ValueError(
            f"no committed batch files in ({after_batch}, "
            f"{until_batch if until_batch is not None else 'latest'}] "
            f"under {path}; pass schema= to get a typed empty DataFrame"
        )
    reader = spark.read.option("basePath", path)
    if schema is not None:
        reader = reader.schema(schema)
    out = reader.parquet(*keep)
    return out.filter(residual) if residual is not None else out


def corpus_history(spark: SparkSession, path: str) -> DataFrame:
    """Commit history of a transactional corpus as a DataFrame — the
    ``DESCRIBE HISTORY`` analog for this module's plain-parquet protocol,
    assembled purely from bookkeeping (no data files read, driver cost
    O(markers), which :func:`_prune_commit_markers` keeps bounded).

    One row per known commit, newest first:

    - surviving ``_commits`` markers → full detail: rows/files/bytes
      added (summed from the frozen manifest delta), partitions touched,
      commit time (marker mtime);
    - manifest ``committed_batches`` entries whose marker has been
      pruned → id-only rows (detail columns NULL). Delete folds register
      here as ``delete-<id>`` ids (deletes never write marker files).

    ``kind`` is ``append`` or ``delete``; the manifest's ``as_of_floor``
    (attribution collapsed below it by compaction/delete rewrites) rides
    along on every row for snapshot-target sanity checks. History older
    than both the marker set and the bounded window is not recoverable —
    this protocol keeps bookkeeping O(recent), unlike a log-structured
    table format.
    """
    import datetime as _dt  # noqa: PLC0415

    from pyspark.sql.types import (  # noqa: PLC0415
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    doc = _load_manifest_doc(spark, path) or {}
    floor = doc.get("as_of_floor")
    window = list(doc.get("committed_batches") or [])

    rows: list[dict] = []
    seen: set[str] = set()
    for bid, st in _iter_commit_markers(spark, path):
        try:
            info = json.loads(
                _fs_read_text(spark, _join(path, f"{COMMITS_DIR}/batch-{bid}.json"))
            )
        except Exception:  # noqa: BLE001 — a concurrent prune can delete
            # the marker between the listing and this read (FileNotFound
            # via Py4J); a read-only monitoring call degrades to the
            # window-only row below instead of failing
            continue
        delta = info.get("delta") or []
        rows.append(
            {
                "batch_id": bid,
                "kind": "append",
                "n_rows": sum(int(d.get("n_rows") or 0) for d in delta),
                # an EMPTY committed batch has known totals (0), not
                # unknown ones — only missing per-partition counts null
                "n_files": (
                    sum(int(d["n_files"]) for d in delta)
                    if all(d.get("n_files") is not None for d in delta)
                    else None
                ),
                "n_bytes": (
                    sum(int(d["n_bytes"]) for d in delta)
                    if all(d.get("n_bytes") is not None for d in delta)
                    else None
                ),
                "n_partitions": len(delta),
                "committed_at_ms": int(st.getModificationTime()),
            }
        )
        seen.add(bid)
    for bid in window:
        if bid in seen:
            continue
        rows.append(
            {
                "batch_id": bid,
                "kind": "delete" if bid.startswith("delete-") else "append",
                "n_rows": None,
                "n_files": None,
                "n_bytes": None,
                "n_partitions": None,
                "committed_at_ms": None,
            }
        )

    schema = StructType(
        [
            StructField("batch_id", StringType()),
            StructField("kind", StringType()),
            StructField("n_rows", LongType()),
            StructField("n_files", LongType()),
            StructField("n_bytes", LongType()),
            StructField("n_partitions", LongType()),
            StructField("committed_at", TimestampType()),
            StructField("as_of_floor", LongType()),
        ]
    )
    out = [
        (
            r["batch_id"],
            r["kind"],
            r["n_rows"],
            r["n_files"],
            r["n_bytes"],
            r["n_partitions"],
            # AWARE datetime: createDataFrame routes it through
            # calendar.timegm (exact instant); a naive one would go
            # through time.mktime in the driver's OS timezone and store
            # the wrong instant on any non-UTC machine
            None
            if r["committed_at_ms"] is None
            else _dt.datetime.fromtimestamp(
                r["committed_at_ms"] / 1000.0, tz=_dt.timezone.utc
            ),
            None if floor is None else int(floor),
        )
        for r in rows
    ]
    return spark.createDataFrame(out, schema).orderBy(
        F.col("committed_at").desc_nulls_last(), "batch_id"
    )


def validate_corpus(
    spark: SparkSession,
    path: str,
    *,
    partition_by: tuple[str, ...] = ("lang",),
    token_col: str | None = None,
    text_col: str = "text",
    deep: bool = False,
) -> DataFrame:
    """Consistency audit of a corpus — the fsck for this module's
    protocol. Returns one row per check: (check, ok, detail). The
    default checks are O(bookkeeping) — manifest + flags + staging +
    marker listings, never a data-tree walk; ``deep=True`` adds the
    full-corpus checks.

    ``partition_by``/``token_col`` are FALLBACKS for a legacy/torn
    manifest — a parseable manifest's own recorded ``partition_by`` (and
    the presence of per-partition ``n_tokens``) is authoritative.

    Checks:
    - ``manifest``          — present and parseable.
    - ``frozen_compaction`` / ``frozen_delete`` — a crashed maintenance
      op left the corpus mid-swap (re-run the op or recover_staging).
    - ``frozen_appends``    — staged-but-uncommitted txn batches (their
      query must be restarted, or recover_staging resumes them).
    - ``orphan_markers``    — commit markers outside the replay window
      with no staging (prunable bookkeeping; compact_corpus prunes them).
    - ``swap_leftovers``    (deep — it walks the data tree) — hidden
      ``_swap-*`` files with NO frozen compaction/delete to account for
      them: should never survive a completed swap. (A frozen txn APPEND
      does not mask this — appends never create swap files.)
    - ``dual_writer``       (deep) — states unreachable under a single
      writer: live files of more than one compaction generation, or
      files inside a committed batch its frozen marker never staged.
      (Batch files at/under the manifest floor are NOT evidence — a
      selective delete legitimately leaves unaffected b-files of the
      floor batch live.) The lease is ADVISORY on local/S3A (see the
      README's deployment contract), so this is the detection side for
      two writers that both missed it; the detail names the lease
      owners the markers recorded.
    - ``manifest_rows``     (deep) — per-partition rows (and token sums,
      when the manifest carries them or ``token_col`` is given) in the
      manifest == a committed-snapshot recount (:func:`read_corpus`, so
      a concurrent mid-commit append cannot turn the check red).
    - ``ledger``            (deep) — the fingerprint ledger contains
      EXACTLY the stored texts' fingerprints (a missing fp risks
      duplicates on re-append; an extra one silently blocks legitimate
      appends). A corpus whose ledger is not yet seeded (no append has
      run — the documented lazy state) is OK; a ledger with entries but
      no data is red.
    """
    from pyspark.errors import AnalysisException  # noqa: PLC0415

    from bambooai_spark.functions.text import fingerprint  # noqa: PLC0415

    rows: list[tuple[str, bool, str]] = []
    doc = _load_manifest_doc(spark, path)
    mpath = _join(path, MANIFEST_NAME)
    if doc is None:
        rows.append(
            (
                "manifest",
                False,
                "missing" if not _fs_exists(spark, mpath) else "torn/unparseable",
            )
        )
    else:
        rows.append(("manifest", True, f"{len(doc.get('partitions') or [])} partitions"))
        if doc.get("partition_by"):
            partition_by = tuple(doc["partition_by"])

    frozen_maintenance = False
    for flag, name, op in (
        (f"{COMPACT_TMP}/{STAGED_MARKER}", "frozen_compaction", "compact_corpus"),
        (f"{DELETE_TMP}/{STAGED_MARKER}", "frozen_delete", "delete_from_corpus"),
    ):
        frozen = _fs_exists(spark, _join(path, flag))
        frozen_maintenance = frozen_maintenance or frozen
        rows.append(
            (name, not frozen, f"mid-swap; re-run {op}" if frozen else "none")
        )

    staged = _frozen_staged_batches(spark, path)
    rows.append(
        (
            "frozen_appends",
            not staged,
            f"{len(staged)} uncommitted: {staged[:3]}" if staged else "none",
        )
    )

    window = set((doc or {}).get("committed_batches") or [])
    orphans = [
        bid
        for bid, _st in _iter_commit_markers(spark, path)
        if bid not in window
        and not _fs_exists(spark, _join(path, f"{STAGING_DIR}/batch_id={bid}"))
    ]
    rows.append(
        (
            "orphan_markers",
            True,  # informational: they are safe, just prunable
            f"{len(orphans)} prunable (compact_corpus prunes)" if orphans else "none",
        )
    )

    if deep:
        hidden = list(_walk_files(spark, path, want_hidden_prefix="_swap-"))
        hidden += list(
            _walk_files(
                spark, _join(path, LEDGER_DIR), want_hidden_prefix="_swap-"
            )
        )
        rows.append(
            (
                "swap_leftovers",
                not hidden or frozen_maintenance,  # expected only mid-freeze
                f"{len(hidden)} hidden swap files" if hidden else "none",
            )
        )

        # dual-writer divergence (VERDICT r8 #6): the lease is ADVISORY
        # on local/S3A — two writers that both missed it can interleave
        # swaps. Neither of these states is reachable under a single
        # writer, so either is hard evidence:
        #   (a) live files of >1 compaction generation — a completed
        #       compaction deletes every other generation's files;
        #   (b) live files inside a committed batch that the batch's
        #       frozen marker never staged (stats-configured corpora:
        #       the marker's file_stats keys ARE the staged set).
        # NOT evidence: b<id>- files at/under the manifest floor — a
        # SELECTIVE delete raises the floor to the max AFFECTED batch id
        # while legitimately leaving untouched b-files of that batch (and
        # lower) live, so that state occurs under a single writer.
        live = _walk_files(spark, path)
        live_bases = [f.rsplit("/", 1)[-1] for f in live]
        cgens = set()
        for b in live_bases:
            if b.startswith("c"):
                # compaction ids are uuid4-hex8 (key_prefix "c<id>-")
                head, sep, _r = b[1:].partition("-")
                if sep and head and head.isalnum():
                    cgens.add(head)
        foreign: list[str] = []
        owners: set[str] = set()
        from bambooai_spark.operators.filestats import (  # noqa: PLC0415
            _rel_key,
            qualified_root,
        )

        qroot = qualified_root(spark, path)
        for bid, _st in _iter_commit_markers(spark, path):
            try:
                minfo = json.loads(_fs_read_text(
                    spark, _join(path, f"{COMMITS_DIR}/batch-{bid}.json")
                ))
            except ValueError:
                continue
            if minfo.get("lease_owner"):
                owners.add(str(minfo["lease_owner"]))
            staged_keys = set(
                ((minfo.get("file_stats") or {}).get("files") or {})
            )
            if not staged_keys:
                continue
            got = {
                k for f in live
                if (k := _rel_key(f, qroot)) is not None
                and _txn_batch_of(k.rsplit("/", 1)[-1]) == bid
            }
            foreign.extend(sorted(got - staged_keys))
        problems = []
        if len(cgens) > 1:
            problems.append(
                f"{len(cgens)} live compaction generations {sorted(cgens)}"
            )
        if foreign:
            problems.append(
                f"{len(foreign)} files inside committed batches their "
                f"markers never staged (e.g. {foreign[:2]})"
            )
        detail_dw = "none"
        if problems:
            detail_dw = "; ".join(problems) + (
                f" — marker lease owners seen: {sorted(owners)}"
                if owners else " — no lease owners recorded"
            )
        rows.append(("dual_writer", not problems, detail_dw))

        try:
            # committed-snapshot read: a concurrent mid-commit append's
            # half-moved files must not turn the recount red
            back = read_corpus(spark, path)
        except (AnalysisException, RuntimeError, ValueError):
            back = None
        has_tokens = token_col and back is not None and token_col in back.columns
        manifest_has_tokens = any(
            p.get("n_tokens") is not None
            for p in (doc or {}).get("partitions", [])
        )
        want = {}
        want_tok = {}
        for p in (doc or {}).get("partitions", []):
            k = tuple(
                str(p[c]) if p.get(c) is not None else None
                for c in partition_by
            )
            want[k] = want.get(k, 0) + int(p.get("n_rows") or 0)
            if p.get("n_tokens") is not None:
                want_tok[k] = want_tok.get(k, 0) + int(p["n_tokens"])
        got: dict = {}
        got_tok: dict = {}
        if back is not None:
            aggs = [F.count(F.lit(1)).alias("n")]
            if has_tokens:
                aggs.append(F.sum(F.col(token_col)).cast("long").alias("t"))
            for r in back.groupBy(*partition_by).agg(*aggs).collect():
                k = tuple(
                    str(r[c]) if r[c] is not None else None
                    for c in partition_by
                )
                got[k] = r["n"]
                if has_tokens:
                    got_tok[k] = r["t"]
        diff = {
            k: (want.get(k, 0), got.get(k, 0))
            for k in set(want) | set(got)
            if want.get(k, 0) != got.get(k, 0)
        }
        detail = (
            f"{len(diff)} partitions differ: {dict(list(diff.items())[:3])}"
            if diff
            else f"{len(got)} partitions exact"
        )
        ok = not diff
        if has_tokens and manifest_has_tokens:
            tdiff = {
                k: (want_tok.get(k, 0), got_tok.get(k, 0))
                for k in set(want_tok) | set(got_tok)
                if want_tok.get(k, 0) != got_tok.get(k, 0)
            }
            if tdiff:
                ok = False
                detail += f"; token sums differ in {len(tdiff)}"
            else:
                detail += "; token sums exact"
        rows.append(("manifest_rows", ok, detail))

        lpath = _join(path, LEDGER_DIR)
        ledger_exists = _fs_exists(spark, lpath)
        if back is not None and not ledger_exists:
            # lazy seeding: the first append creates the ledger — a
            # pre-ledger corpus is the documented healthy state
            rows.append(
                ("ledger", True, "not yet seeded (first append seeds)")
            )
        elif back is None:
            n_stale = 0
            if ledger_exists:
                stale = _read_ledger(spark, lpath)
                n_stale = 0 if stale is None else stale.count()
            rows.append(
                (
                    "ledger",
                    n_stale == 0,
                    f"{n_stale} fps with no data (blocked re-appends)"
                    if n_stale
                    else "no data, no ledger entries",
                )
            )
        elif (ledger := _read_ledger(spark, lpath)) is None:
            # a ledger dir holding no data files is unreadable
            rows.append(("ledger", False, f"unreadable or no {text_col}"))
        else:
            try:
                # NULL fingerprints (NULL text) never match an anti-join
                # key — exclude them on BOTH sides or they read as
                # forever-missing on a healthy corpus
                ledger = ledger.filter(F.col("fp").isNotNull()).distinct()
                fps = (
                    back.select(
                        fingerprint(text_col, normalize=True).alias("fp")
                    )
                    .filter(F.col("fp").isNotNull())
                    .distinct()
                )
                missing = fps.join(ledger, "fp", "left_anti").count()
                extra = ledger.join(fps, "fp", "left_anti").count()
                rows.append(
                    (
                        "ledger",
                        missing == 0 and extra == 0,
                        f"missing={missing} (dup risk) extra={extra} "
                        "(blocked re-appends)"
                        if missing or extra
                        else "exact",
                    )
                )
            except AnalysisException:
                rows.append(("ledger", False, f"unreadable or no {text_col}"))

        from bambooai_spark.operators.filestats import (  # noqa: PLC0415
            stats_coverage,
        )

        cov = stats_coverage(spark, path)
        if cov is not None:
            # coverage gaps mean those files are read unpruned (never
            # wrong answers — rebuild_file_stats heals); orphans are
            # inert leftovers compaction/rebuild consolidates
            rows.append(
                (
                    "file_stats",
                    cov["covered"] == cov["live"],
                    f"{cov['covered']}/{cov['live']} live files covered, "
                    f"{cov['orphans']} orphan entries"
                    + (
                        "; rebuild_file_stats heals"
                        if cov["covered"] < cov["live"]
                        else ""
                    ),
                )
            )

    return spark.createDataFrame(
        rows, "check string, ok boolean, detail string"
    )
