"""Per-file column statistics for data skipping — the read-side payoff
of the corpus writer's clustering.

``cluster_by``/``zorder`` (``operators/writer.py``) lay rows out so each
file is NARROW in the cluster columns, but a plain ``read_corpus`` still
opens every file: Spark's parquet reader prunes row groups on footer
min/max only AFTER scheduling a task per file. At 100 TB the listing and
task overhead of "open every file to discover it's irrelevant" dominates
a selective query. This module keeps Delta-style file-level stats in a
``_filestats/`` bookkeeping directory so :func:`~bambooai_spark
.operators.writer.read_corpus` can drop files from the scan BEFORE the
reader is built — the same economics as a partition filter, but on data
columns.

Reference parity note: the reference engine (pgalko/BambooAI) holds its
working set in a single pandas frame, so every filter is a full in-memory
scan — there is nothing to skip. This module is part of the scale layer
the Spark rebuild adds on top of the reference's query surface.

Design (mirrors the writer's protocol idioms, one copy of each idea):

- **Opt-in config** — ``_filestats/_CONFIG.json`` records the stat
  columns, exactly like the near-dup gate's ``_minhash_sigs/_PARAMS.json``
  pins its parameters. No config → every writer path skips stats with
  zero overhead.
- **Stats ride the freeze** — the txn append computes its batch's stats
  at STAGE time (one bounded scan of the just-written staged files, keyed
  by the deterministic committed basename ``b<id>-<base>``) and carries
  them inside the ``_STAGED``/commit-marker info, so crash replays
  re-write them idempotently and no corpus-wide listing is ever added to
  the per-micro-batch hot path. Compaction and delete do the same for
  their ``c<id>-``/``d<id>-`` rewrites.
- **Conservative by construction** — a file with no stats entry, a
  column with no stats, an un-canonicalizable predicate value, or NaN
  bounds is simply READ. Pruning never changes semantics because the
  reader ALWAYS applies the predicate as a real filter; stats only
  shrink the file list.
- **Orphans are inert** — entries for files a delete/compaction removed
  point at basenames that are no longer in the live keep-list, so they
  can never resurrect a file; compaction and :func:`rebuild_file_stats`
  consolidate them away.

Value canonicalization: stats are JSON, so values are stored in a
canonical JSON-native form at COLLECT time (never via ``json.dumps``
fallbacks, which format datetimes differently than the reader parses):
integrals as JSON ints, floats as JSON floats (NaN bounds compare False
against everything → never prune), decimals as ``str(Decimal)``,
dates/timestamps as fixed-width ISO strings whose lexicographic order is
chronological, strings/bools as themselves.
"""

from __future__ import annotations

import json
import math
import re
import uuid
from datetime import date, datetime
from decimal import Decimal, InvalidOperation

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

STATS_DIR = "_filestats"
CONFIG_NAME = "_CONFIG.json"
BLOOM_NAME = "_BLOOM.json"
QUERYLOG_NAME = "_QUERYLOG.json"
# every non-delta file living in _filestats/ — _iter_stats_files (and so
# the consolidation passes that DELETE unlisted docs) must exempt each;
# a config missing from this set self-destructs at the next compaction
_CONFIG_FILES = (CONFIG_NAME, BLOOM_NAME, QUERYLOG_NAME)
# bounded ring of recorded read predicates (advisor economics)
_QUERYLOG_MAX = 32
# process-local deferred read counts per (root, signature) when
# spark.bambooai.queryLog.sampleEvery > 1: reads between record points
# accumulate here for free and flush as one increment, so the per-read
# RPC cost on object stores drops N-fold while n_reads stays exact at
# every record point (ADVICE r9). Bounded LRU; evicted counts are lost
# (telemetry, acceptable — same stance as a concurrent-writer race).
_QUERYLOG_DEFER: dict[tuple[str, str], int] = {}
_QUERYLOG_DEFER_MAX = 1024

# dtype.typeName() → comparison category; anything else is not prunable.
# "ts" (session-tz timestamps) prunes only when the read session's
# timezone matches the collect-time one; "tsn" (timestamp_ntz) is
# wall-clock and needs no such guard.
_CATEGORY = {
    "byte": "int",
    "short": "int",
    "integer": "int",
    "long": "int",
    "float": "float",
    "double": "float",
    "decimal": "dec",
    "string": "str",
    "boolean": "bool",
    "date": "date",
    "timestamp": "ts",
    "timestamp_ntz": "tsn",
}

_OPS = ("==", "<", "<=", ">", ">=", "in", "isnull", "notnull")
_NULL_OPS = ("isnull", "notnull")

# exact int→float conversion bound: above this, float compare may round
# a bound across the predicate value and prune a live file
_FLOAT_EXACT = 2**53

# string bounds are TRUNCATED to this many characters (Delta does the
# same): a stats config on a text column must not copy megabyte strings
# into every stats doc and _STAGED marker. A min prefix is a valid
# lower bound as-is; a max prefix must be bumped (see _trunc_max).
_STR_BOUND_MAX = 64


def tz_frame(spark: SparkSession) -> str:
    """The wall-clock frame "ts" bounds and naive predicate literals
    live in, as a comparable key. PySpark's ``TimestampType.fromInternal``
    / ``toInternal`` render collected bounds and interpret naive literals
    in the DRIVER's OS timezone (``datetime.fromtimestamp`` /
    ``time.mktime``), not the session timezone — so the guard must key
    on BOTH: two drivers sharing ``spark.sql.session.timeZone`` but
    running under different OS zones compare bounds in different frames
    (ADVICE r8). ``time.tzname`` + the standard offset identify the OS
    rule set stably across DST (unlike the current instant's offset)."""
    import time  # noqa: PLC0415

    session = spark.conf.get("spark.sql.session.timeZone", None)
    os_zone = f"{'/'.join(time.tzname)}@{time.timezone}"
    return f"{session}|{os_zone}"


def _category(dtype) -> str | None:
    name = dtype.typeName()
    # DecimalType.typeName() is "decimal" in Spark 4; keep a prefix match
    # so a simpleString fallback ("decimal(10,2)") categorizes too
    if name.startswith("decimal"):
        return "dec"
    return _CATEGORY.get(name)


def _trunc_min(s: str) -> str:
    """Lower bound for ``s`` within the truncation budget: a prefix of a
    string is always <= the string."""
    return s if len(s) <= _STR_BOUND_MAX else s[:_STR_BOUND_MAX]


def _trunc_max(s: str) -> str | None:
    """Upper bound for ``s`` within the truncation budget: the prefix
    with its last code point incremented (skipping points that cannot
    grow) — ``"abd" >= "abc..."`` for every continuation. None when no
    such bound exists (every prefix char is already U+10FFFF); the
    pruner treats a missing bound as "keep the file" — conservative."""
    if len(s) <= _STR_BOUND_MAX:
        return s
    prefix = s[:_STR_BOUND_MAX]
    for i in range(len(prefix) - 1, -1, -1):
        cp = ord(prefix[i])
        if cp < 0x10FFFF:
            return prefix[:i] + chr(cp + 1)
    return None


def _ser(v):
    """Canonical JSON-native form of a collected min/max value."""
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        return v  # json emits NaN/Inf literals; loads accepts them back
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, datetime):
        # fixed-width microseconds: lexicographic == chronological
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, date):
        return v.isoformat()
    raise TypeError(f"unsupported stats value type {type(v).__name__}")


def _canon_pred(category: str, v):
    """Predicate value in the category's comparable form, or raise —
    callers treat ANY failure as "cannot prune on this predicate"."""
    if v is None:
        raise ValueError("NULL predicate values never match; no pruning")
    if category == "int":
        if isinstance(v, bool):
            raise ValueError("bool predicate on integral column")
        if isinstance(v, int):
            return v
        if isinstance(v, float):
            if math.isnan(v):
                raise ValueError("NaN predicate")
            return ("float", v)  # compare in float space, guarded
        raise ValueError(f"non-numeric predicate {v!r} on integral column")
    if category == "float":
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            raise ValueError(f"non-numeric predicate {v!r} on float column")
        f = float(v)
        if math.isnan(f):
            raise ValueError("NaN predicate")
        return f
    if category == "dec":
        if isinstance(v, bool):
            raise ValueError("bool predicate on decimal column")
        if isinstance(v, (int, str, Decimal)):
            return Decimal(str(v))
        if isinstance(v, float):
            # exact binary value, not repr rounding — conservative either
            # way, but exactness keeps == pruning tight
            return Decimal(v)
        raise ValueError(f"bad decimal predicate {v!r}")
    if category == "str":
        if not isinstance(v, str):
            raise ValueError(f"non-string predicate {v!r} on string column")
        return v
    if category == "bool":
        if not isinstance(v, bool):
            raise ValueError(f"non-bool predicate {v!r} on boolean column")
        return v
    if category == "date":
        if isinstance(v, datetime):
            raise ValueError("datetime predicate on date column")
        if isinstance(v, date):
            return v.isoformat()
        if isinstance(v, str):
            return date.fromisoformat(v).isoformat()
        raise ValueError(f"bad date predicate {v!r}")
    if category in ("ts", "tsn"):
        if isinstance(v, str):
            v = datetime.fromisoformat(v)
        elif isinstance(v, date) and not isinstance(v, datetime):
            v = datetime(v.year, v.month, v.day)
        if not isinstance(v, datetime):
            raise ValueError(f"bad timestamp predicate {v!r}")
        if v.tzinfo is not None:
            # stored bounds are session-local naive; comparing a
            # tz-aware value against them would need the session zone
            raise ValueError("tz-aware predicate; pruning skipped")
        return v.isoformat(sep=" ", timespec="microseconds")
    raise ValueError(f"unknown category {category}")


def _canon_pred_op(category: str, op: str, v):
    """Op-aware predicate canonicalization: ``in`` canonicalizes every
    member (any failure poisons the whole predicate — conservative)."""
    if op == "in":
        return [_canon_pred(category, m) for m in v]
    return _canon_pred(category, v)


def _may_match(op: str, cv, mn, mx) -> bool:
    """Op-aware bound test: ``in`` is the OR of member equalities."""
    if op == "in":
        return any(_bound_may_match("==", m, mn, mx) for m in cv)
    return _bound_may_match(op, cv, mn, mx)


def _canon_stored(category: str, s):
    """Stored (JSON round-tripped) bound in the same comparable form."""
    if category == "dec":
        return Decimal(str(s))
    if category == "int" and isinstance(s, bool):
        raise ValueError("corrupt stats: bool bound on integral column")
    return s


def _bound_may_match(op: str, cv, mn, mx) -> bool:
    """Whether a file whose column spans [mn, mx] can hold a matching
    row. A NaN bound keeps the file unconditionally: Spark orders NaN
    LARGER than every value (so NaN rows can satisfy ``>``/``>=``/``==``
    predicates), which Python's always-False NaN comparisons cannot
    model — conservative keep is the only sound answer."""
    if isinstance(mn, float) and math.isnan(mn):
        return True
    if isinstance(mx, float) and math.isnan(mx):
        return True
    if isinstance(cv, tuple):  # ("float", v): int column, float predicate
        fv = cv[1]
        if not (abs(mn) <= _FLOAT_EXACT and abs(mx) <= _FLOAT_EXACT):
            return True  # conversion could round a bound across fv
        mn, mx, cv = float(mn), float(mx), fv
    if op == "==":
        return not (cv < mn or cv > mx)
    if op == "<":
        return mn < cv
    if op == "<=":
        return mn <= cv
    if op == ">":
        return mx > cv
    if op == ">=":
        return mx >= cv
    raise ValueError(f"unknown op {op!r}")


# --------------------------------------------------------------------------
# config

def _join(path: str, name: str) -> str:
    return path.rstrip("/") + "/" + name


_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:(//[^/]*)?(/.*)$")


def _strip_scheme(p: str) -> str:
    """Scheme-insensitive canonical form: ``file:///x`` and ``file:/x``
    both become ``/x``; ``hdfs://nn:8020/x`` becomes ``nn:8020/x``.
    Needed because ``_metadata.file_path`` and the Hadoop listing APIs
    qualify the same path with different slash counts."""
    m = _SCHEME_RE.match(p)
    if not m:
        return p
    authority = (m.group(1) or "//")[2:]
    return authority + m.group(2)


def _rel_key(file_path: str, root: str, prefix: str = "") -> str | None:
    """Stats key for ``file_path`` under ``root``: the root-relative path
    with ``prefix`` applied to the BASENAME (mirroring the commit
    protocol's deterministic renames). Partition directories stay in the
    key — partitionBy gives the same task identical part-file basenames
    in DIFFERENT partition dirs, so a basename alone is ambiguous (and
    ambiguity here means pruning with another file's bounds: unsound).
    None when ``file_path`` is not under ``root`` — callers treat that
    file as stat-less (read, never pruned)."""
    f = _strip_scheme(file_path)
    r = _strip_scheme(root).rstrip("/") + "/"
    if not f.startswith(r):
        return None
    rel = f[len(r):]
    parent, _, base = rel.rpartition("/")
    return (parent + "/" if parent else "") + prefix + base


def _config_path(path: str) -> str:
    return _join(_join(path, STATS_DIR), CONFIG_NAME)


def qualified_root(spark: SparkSession, path: str) -> str:
    """``path`` as the filesystem qualifies it (scheme + authority) — the
    form ``_metadata.file_path`` and the listing APIs return, so
    root-relative key computation agrees with them on every scheme
    (an unqualified ``/corpus`` vs ``hdfs://nn:8020/corpus/...`` would
    otherwise never prefix-match)."""
    from bambooai_spark.operators.writer import _fs  # noqa: PLC0415

    fs, jroot = _fs(spark, path)
    return fs.makeQualified(jroot).toString()


def _replace_config(spark: SparkSession, cpath: str, text: str) -> None:
    """Replace a config file without a no-config crash window (a plain
    marker write keeps the existing file): stage ``.new`` atomically,
    delete the old file, rename the staged copy in. A crash between the
    delete and the rename leaves only ``.new``, which
    :func:`_read_config` finishes renaming on its next read."""
    from bambooai_spark.operators.writer import (  # noqa: PLC0415
        _fs,
        _fs_delete,
        _fs_write_text_atomic,
    )

    staged = cpath + ".new"
    _fs_delete(spark, staged)
    _fs_write_text_atomic(spark, staged, text)
    _fs_delete(spark, cpath)
    fs, dest = _fs(spark, cpath)
    if not fs.rename(_fs(spark, staged)[1], dest):
        raise RuntimeError(f"config replace failed: {cpath}")


def _read_config(spark: SparkSession, cpath: str) -> dict | None:
    """Parsed config JSON, or None when absent/torn; finishes an
    interrupted :func:`_replace_config` swap from the staged copy."""
    from bambooai_spark.operators.writer import (  # noqa: PLC0415
        _fs,
        _fs_exists,
        _fs_read_text,
    )

    if not _fs_exists(spark, cpath):
        staged = cpath + ".new"
        if not _fs_exists(spark, staged):
            return None
        # a replace crashed between delete and rename — finish it
        fs, dest = _fs(spark, cpath)
        fs.rename(_fs(spark, staged)[1], dest)
        if not _fs_exists(spark, cpath):  # pragma: no cover - rename race
            return None
    try:
        return json.loads(_fs_read_text(spark, cpath))
    except ValueError:
        return None  # torn config — feature silently off, never an error


def stats_config(spark: SparkSession, path: str) -> list[str] | None:
    """The corpus's configured stat columns, or None when stats are not
    enabled. One small exists+read — the writers' per-call overhead. A
    config replace that crashed mid-swap self-heals from the staged
    ``.new`` copy (see :func:`enable_file_stats`)."""
    doc = _read_config(spark, _config_path(path))
    cols = (doc or {}).get("columns")
    return list(cols) if cols else None


def enable_file_stats(
    spark: SparkSession, path: str, columns, *, schema=None
) -> None:
    """Record (or REPLACE) the stat-column config. ``schema`` (when
    available) validates that every column is of a prunable atomic type
    — catching an ``array<float>`` embedding column at enable time
    instead of silently collecting nothing for it forever.

    Replaced via the staged-swap :func:`_replace_config` (a plain marker
    write keeps the existing file; the swap self-heals from ``.new``)."""
    cols = list(dict.fromkeys(columns))
    if not cols:
        raise ValueError("stats columns must be non-empty")
    if schema is not None:
        by_name = {f.name: f.dataType for f in schema.fields}
        for c in cols:
            if c in by_name and _category(by_name[c]) is None:
                raise ValueError(
                    f"column {c!r} has non-prunable type "
                    f"{by_name[c].simpleString()}; file stats support "
                    "numeric/decimal/string/boolean/date/timestamp"
                )
    _replace_config(
        spark, _config_path(path), json.dumps({"columns": cols})
    )


# --------------------------------------------------------------------------
# collect / store / load

def collect_file_stats(
    spark: SparkSession,
    data_root: str,
    columns,
    *,
    schema=None,
    key_prefix: str = "",
    files: list[str] | None = None,
) -> dict:
    """Per-file stats doc from ONE distributed aggregation over the
    files under ``data_root`` (or the explicit ``files`` list): group by
    the ``_metadata.file_path`` hidden column, min/max/non-null-count per
    stat column. Cost is a scan of exactly the target files — at a txn
    commit that is the batch, never the corpus.

    One scan per output: a writer that also needs the manifest counts of
    the same files takes them from this aggregate instead of scanning
    again (the txn append groups by file and partition once and folds
    both the manifest delta and this doc from the rows; see
    :func:`stat_aggs` and :func:`stats_doc`).

    ``schema`` pins the read (evolution-aware: files lacking a column
    yield non-null-count 0 for it, which the pruner reads as "no row
    here can match a predicate on that column" — exactly right).
    ``key_prefix`` maps staged basenames to their deterministic
    committed names (``b<id>-``/``c<id>-``/``d<id>-``)."""
    reader = spark.read.option("basePath", data_root)
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.parquet(*(files or [data_root]))
    present, aggs = stat_aggs(df, columns)
    rows = (
        df.select(F.col("_metadata.file_path").alias("__f"), *present)
        .groupBy("__f")
        .agg(F.count(F.lit(1)).alias("__n"), *aggs)
        .collect()
    )
    return stats_doc(
        spark, data_root, columns, df.schema, rows, key_prefix=key_prefix
    )


def _recordable(schema, columns) -> list[str]:
    """The configured stat columns ``schema`` holds with a prunable
    type."""
    types = {f.name: f.dataType for f in schema.fields}
    return [
        c for c in dict.fromkeys(columns)
        if c in types and _category(types[c]) is not None
    ]


def stat_aggs(df: DataFrame, columns) -> tuple[list[str], list]:
    """The stat columns ``df`` can record and their per-file
    min/max/non-null-count aggregates — the one copy of the stat
    aggregate, shared by :func:`collect_file_stats` and the txn append's
    one-scan staged bookkeeping."""
    present = _recordable(df.schema, columns)
    aggs = []
    for c in present:
        aggs += [
            F.min(c).alias(f"__mn_{c}"),
            F.max(c).alias(f"__mx_{c}"),
            F.count(c).alias(f"__nn_{c}"),
        ]
    return present, aggs


def stats_doc(
    spark: SparkSession,
    data_root: str,
    columns,
    schema,
    rows,
    *,
    key_prefix: str = "",
) -> dict:
    """Fold per-file aggregate rows (``__f`` file path, ``__n`` row
    count, and :func:`stat_aggs`' columns over ``schema``) into a stats
    doc, files keyed in sorted order so the same files always give the
    same JSON. A configured column the read lacks records nn=0 (no row
    can match a predicate on it); one of a non-prunable type records no
    entry at all (nn=0 would wrongly prune every file)."""
    present = _recordable(schema, columns)
    absent = [c for c in dict.fromkeys(columns) if c not in schema.names]
    qroot = qualified_root(spark, data_root)
    out: dict[str, dict] = {}
    for r in rows:
        cols = {}
        for c in present:
            mn, mx = _ser(r[f"__mn_{c}"]), _ser(r[f"__mx_{c}"])
            if _category(schema[c].dataType) == "str":
                if isinstance(mn, str):
                    mn = _trunc_min(mn)
                if isinstance(mx, str):
                    mx = _trunc_max(mx)  # None = no bound → never prunes
            cols[c] = {
                "min": mn,
                "max": mx,
                "nn": int(r[f"__nn_{c}"]),
            }
        for c in absent:
            cols[c] = {"min": None, "max": None, "nn": 0}
        key = _rel_key(r["__f"], qroot, key_prefix)
        if key is None:  # pragma: no cover - scan stays under its root
            raise RuntimeError(
                f"scanned file {r['__f']!r} is not under {qroot!r}"
            )
        out[key] = {"n": int(r["__n"]), "cols": cols}
    return {
        "columns": list(dict.fromkeys(columns)),
        # session-tz timestamps render as COLLECT-time local wall clock
        # in the driver's OS zone; pruning on them is only sound from a
        # driver sharing BOTH the session zone and the OS zone (the
        # composite frame key — see tz_frame)
        "tz": tz_frame(spark),
        "files": dict(sorted(out.items())),
    }


def write_stats_delta(
    spark: SparkSession, path: str, name: str, doc: dict
) -> None:
    """Persist one stats doc as ``_filestats/<name>.json`` (idempotent
    overwrite — crash replays re-write the same content)."""
    from bambooai_spark.operators.writer import (  # noqa: PLC0415
        _fs_write_text_atomic,
    )

    _fs_write_text_atomic(
        spark,
        _join(_join(path, STATS_DIR), f"{name}.json"),
        json.dumps(doc),
    )


def _iter_stats_files(spark: SparkSession, path: str):
    from bambooai_spark.operators.writer import _fs  # noqa: PLC0415

    sroot = _join(path, STATS_DIR)
    fs, jroot = _fs(spark, sroot)
    if not fs.exists(jroot):
        return
    for st in fs.listStatus(jroot):
        name = st.getPath().getName()
        if name.endswith(".json") and name not in _CONFIG_FILES:
            yield name, st


# Consolidated stats: `_filestats/_consolidated-<version>-<uuid>/` is a
# PARQUET table (key string, entry string) holding the fold of every
# prior delta — the Delta-checkpoint analog (PAPERS.md §Delta). At the
# 100 TB design point (O(10^5-10^6) live files) the per-read JSON parse
# and single-threaded Python prune over every live file's entry is the
# first bottleneck of every selective read; the parquet doc is read and
# pruned DISTRIBUTIVELY above `stats_prune_threshold` entries, and the
# merged dict is snapshot-cached below it.
CONSOLIDATED_PREFIX = "_consolidated-"
CONSOLIDATED_META = "_META.json"
_CONS_SCHEMA = "key string, entry string"
# consolidated entry count above which the prune runs as a Spark job
# over the parquet doc instead of a driver-side dict walk
DISTRIBUTED_PRUNE_THRESHOLD = 10_000


def stats_prune_threshold(spark: SparkSession) -> int:
    """The in-memory→distributed switchover point (entries in the
    consolidated doc); tunable per session."""
    try:
        return int(
            spark.conf.get(
                "spark.bambooai.stats.distributedPruneThreshold",
                str(DISTRIBUTED_PRUNE_THRESHOLD),
            )
        )
    except (TypeError, ValueError):
        return DISTRIBUTED_PRUNE_THRESHOLD


def _stats_snapshot(spark: SparkSession, path: str):
    """ONE listing of ``_filestats/``: ``(deltas, best, token)`` where
    ``deltas`` is ``[(name, mtime, size), ...]`` for the unfolded JSON
    delta docs, ``best`` is ``(dirpath, meta)`` for the highest-version
    consolidated parquet doc whose ``_META.json`` parses (written LAST,
    so its presence proves the doc is complete), and ``token`` is a
    hashable snapshot id for the merged-stats cache."""
    from bambooai_spark.operators.writer import (  # noqa: PLC0415
        _fs,
        _fs_read_text,
    )

    sroot = _join(path, STATS_DIR)
    fs, jroot = _fs(spark, sroot)
    deltas: list[tuple[str, int, int]] = []
    cons: list[tuple[str, str]] = []
    if fs.exists(jroot):
        for st in fs.listStatus(jroot):
            name = st.getPath().getName()
            if st.isDirectory() and name.startswith(CONSOLIDATED_PREFIX):
                cons.append((name, st.getPath().toString()))
            elif name.endswith(".json") and name not in _CONFIG_FILES:
                deltas.append(
                    (name, st.getModificationTime(), st.getLen())
                )
    best = None
    for name, dirpath in sorted(cons, reverse=True):  # highest version
        try:
            meta = json.loads(
                _fs_read_text(spark, _join(dirpath, CONSOLIDATED_META))
            )
        except Exception:  # noqa: BLE001 - absent/torn meta: incomplete
            continue
        best = (dirpath, meta)
        break
    deltas.sort()
    token = (tuple(deltas), best[0].rsplit("/", 1)[-1] if best else None)
    return deltas, best, token


def _parse_delta_entries(
    spark: SparkSession, path: str, delta_names
) -> dict[str, dict]:
    """key → entry for the given JSON delta docs (``_tz`` injected); a
    torn delta is skipped (its files just are not pruned)."""
    from bambooai_spark.operators.writer import _fs_read_text  # noqa: PLC0415

    sroot = _join(path, STATS_DIR)
    merged: dict[str, dict] = {}
    for name in delta_names:
        try:
            doc = json.loads(_fs_read_text(spark, _join(sroot, name)))
        except Exception:  # noqa: BLE001
            # torn JSON (ValueError) or a delta a concurrent consolidation
            # folded and DELETED between our listing and this read (the
            # JVM read raises) — either way the conservative path is the
            # same: those files just are not pruned
            continue
        tz = doc.get("tz")
        for k, entry in (doc.get("files") or {}).items():
            entry["_tz"] = tz  # the wall-clock-frame guard for "ts"
            merged[k] = entry
    return merged


def _read_consolidated(spark: SparkSession, dirpath: str) -> DataFrame:
    return spark.read.schema(_CONS_SCHEMA).parquet(dirpath)


# merged-stats cache: (qualified root, snapshot token) → (merged dict,
# n_deltas). The token changes whenever any delta lands or a
# consolidation swaps, so repeated reads of an unchanged corpus skip the
# re-parse entirely; bounded LRU so long-lived sessions touching many
# corpora stay O(1) memory.
_MERGED_CACHE: "OrderedDict[tuple, tuple[dict, int]]" = None  # type: ignore[assignment]
_MERGED_CACHE_MAX = 8


def _merged_cache():
    global _MERGED_CACHE  # noqa: PLW0603
    if _MERGED_CACHE is None:
        from collections import OrderedDict  # noqa: PLC0415

        _MERGED_CACHE = OrderedDict()
    return _MERGED_CACHE


def _load_file_stats_counted(
    spark: SparkSession, path: str, _snap=None
) -> tuple[dict[str, dict], int]:
    """(merged stats, unfolded-delta count), snapshot-cached. The merged
    dict includes the consolidated doc's entries (collected — this is
    the DRIVER-side path; the distributed prune never calls it).
    ``_snap`` threads an already-taken :func:`_stats_snapshot` so
    callers that listed ``_filestats/`` never pay a second listing
    (on object stores each listing is paid RPCs)."""
    deltas, best, token = (
        _snap if _snap is not None else _stats_snapshot(spark, path)
    )
    cache = _merged_cache()
    key = (qualified_root(spark, path), token)
    hit = cache.get(key)
    if hit is not None:
        cache.move_to_end(key)
        return hit
    merged: dict[str, dict] = {}
    if best is not None:
        try:
            for r in _read_consolidated(spark, best[0]).collect():
                merged[r[0]] = json.loads(r[1])
        except Exception:  # noqa: BLE001 - torn/concurrently-pruned doc
            merged = {}  # conservative: those files just are not pruned
    merged.update(_parse_delta_entries(spark, path, [d[0] for d in deltas]))
    cache[key] = (merged, len(deltas))
    while len(cache) > _MERGED_CACHE_MAX:
        cache.popitem(last=False)
    return merged, len(deltas)


def load_file_stats(spark: SparkSession, path: str) -> dict[str, dict]:
    """Merged key → entry map from the consolidated doc plus every
    unfolded delta. Committed keys are globally unique (partition dirs +
    task UUIDs + batch prefixes), so merge order is immaterial; a torn
    delta is skipped (its files just are not pruned)."""
    return _load_file_stats_counted(spark, path)[0]


def prune_stats_files(
    spark: SparkSession, path: str, keep_names: set[str]
) -> None:
    """Delete every stats delta — and consolidated doc — whose name is
    not in ``keep_names``: compaction's consolidation step (all
    pre-compaction data files are dead, so only the fresh ``c<id>`` doc
    still describes live files; a consolidated parquet doc from before
    the rewrite describes only dead files too)."""
    from bambooai_spark.operators.writer import _fs  # noqa: PLC0415

    fs, _root = _fs(spark, path)
    for name, st in list(_iter_stats_files(spark, path)):
        if name not in keep_names:
            fs.delete(st.getPath(), False)
    sroot = _join(path, STATS_DIR)
    fs2, jroot = _fs(spark, sroot)
    if fs2.exists(jroot):
        for st in fs2.listStatus(jroot):
            name = st.getPath().getName()
            if (
                st.isDirectory()
                and name.startswith(CONSOLIDATED_PREFIX)
                and name not in keep_names
            ):
                fs2.delete(st.getPath(), True)


def consolidate_file_stats(
    spark: SparkSession, path: str, *, lease=None
) -> dict:
    """Fold every unfolded JSON delta (plus the prior consolidated doc)
    into ONE new consolidated parquet doc, then delete what was folded —
    the stats analog of a Delta checkpoint. Driver cost is O(unfolded
    deltas), never O(live files): the prior doc flows parquet→parquet
    through Spark without being materialized on the driver.

    Crash-safe by write order: the new doc's parquet lands first, its
    ``_META.json`` second (its presence marks the doc complete — readers
    ignore meta-less dirs), the folded deltas and superseded docs are
    deleted last. Every crash window re-reads at most duplicate entries
    with identical content (keys are globally unique), which the fold
    dedups and pruning is insensitive to. Returns ``{"version",
    "n_entries", "folded_deltas"}``.

    Consolidation is also the ROUTINE heal for the pre-composite tz
    frame (ADVICE r9): entries stamped under the legacy session-tz-only
    key are re-stamped to the current composite frame when their session
    component matches — exactly the soundness assumption the legacy
    guard itself made (a deployment's OS zone is stable), so "ts"
    pruning on upgraded corpora comes back without an explicit
    rebuild_file_stats."""
    from bambooai_spark.operators.writer import (  # noqa: PLC0415
        _fs,
        _fs_delete,
        _fs_write_text_atomic,
        _lease_beat,
        _lease_ensure,
    )

    _lease_beat(lease)
    deltas, best, _token = _stats_snapshot(spark, path)
    if not deltas and best is not None:
        meta = dict(best[1])
        meta["folded_deltas"] = 0
        return meta  # nothing to fold
    sroot = _join(path, STATS_DIR)
    frame = tz_frame(spark)
    delta_entries = _parse_delta_entries(spark, path, [d[0] for d in deltas])
    delta_rows = [
        (k, json.dumps(_migrate_legacy_tz(e, frame)))
        for k, e in delta_entries.items()
    ]
    ddf = spark.createDataFrame(delta_rows, _CONS_SCHEMA)
    if best is not None:
        # delta entries take precedence on a (crash-window) key overlap;
        # contents are identical there, so this is determinism, not
        # correctness — the anti-join is broadcast (delta keys are the
        # bounded backlog)
        old = _restamp_legacy_entries(_read_consolidated(spark, best[0]), frame)
        if delta_rows:
            old = old.join(
                F.broadcast(ddf.select("key")), "key", "left_anti"
            )
        ddf = old.unionByName(ddf)
    version = (int(best[1].get("version") or 0) + 1) if best else 1
    name = f"{CONSOLIDATED_PREFIX}{version:016d}-{uuid.uuid4().hex[:8]}"
    newdir = _join(sroot, name)
    ddf.write.parquet(newdir)
    n_entries = _read_consolidated(spark, newdir).count()
    _lease_ensure(lease)  # last check before the meta write publishes
    meta = {"version": version, "n_entries": int(n_entries)}
    _fs_write_text_atomic(
        spark, _join(newdir, CONSOLIDATED_META), json.dumps(meta)
    )
    for dname, _mt, _sz in deltas:
        _fs_delete(spark, _join(sroot, dname))
    # delete ONLY strictly-lower versions (ADVICE r9): two consolidators
    # that both missed the advisory lease each write a same-or-higher
    # version doc; an unguarded sweep could delete the concurrent doc
    # after both already deleted the folded deltas, losing every entry.
    # A same-version sibling (or an in-flight higher doc whose meta has
    # not landed) survives; _stats_snapshot picks one deterministically.
    fs, jroot = _fs(spark, sroot)
    for st in fs.listStatus(jroot):
        nm = st.getPath().getName()
        v = _cons_version(nm)
        if (
            st.isDirectory()
            and nm.startswith(CONSOLIDATED_PREFIX)
            and nm != name
            and v is not None  # unparseable version: NOT deletable
            and v < version
        ):
            fs.delete(st.getPath(), True)
    return {**meta, "folded_deltas": len(deltas)}


def _cons_version(dirname: str) -> int | None:
    """Version encoded in a ``_consolidated-<v>-<uuid>`` dir name; None
    (treated as not-deletable — conservative) when unparseable."""
    try:
        return int(dirname[len(CONSOLIDATED_PREFIX):].split("-", 1)[0])
    except (ValueError, IndexError):
        return None


def _migrate_legacy_tz(entry: dict, frame: str) -> dict:
    """Re-stamp a legacy (pre-composite, session-tz-only) ``_tz`` to the
    current composite frame when the session component matches. Sound
    under exactly the assumption the legacy guard made — that one
    deployment's driver OS zone is stable — and a no-op for entries
    already in composite form or from a different session tz (those
    stay conservative: "ts" pruning is skipped on them)."""
    tz = entry.get("_tz")
    if (
        isinstance(tz, str)
        and "|" not in tz
        and tz == frame.split("|", 1)[0]
    ):
        return {**entry, "_tz": frame}
    return entry


def _restamp_legacy_entries(df: DataFrame, frame: str) -> DataFrame:
    """Arrow-batched :func:`_migrate_legacy_tz` over a consolidated
    doc's entry column — unchanged entries keep their original string
    byte-for-byte (no spurious rewrites)."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.types import StringType  # noqa: PLC0415

    def _fix_one(s: str) -> str:
        e = json.loads(s)
        e2 = _migrate_legacy_tz(e, frame)
        return s if e2 is e else json.dumps(e2)

    def _fix(entries):
        return entries.map(_fix_one)

    _fix.__annotations__ = {"entries": pd.Series, "return": pd.Series}
    u = F.pandas_udf(_fix, StringType())
    return df.select("key", u(F.col("entry")).alias("entry"))


def prune_with_stored_stats(
    spark: SparkSession, path: str, files: list[str], preds, schema
) -> tuple[list[str], str | None]:
    """Two-tier stats pruning of a listed keep-list: ``(kept,
    strategy)`` where strategy is ``"memory"``, ``"distributed"`` or
    None (no stats / nothing prunable). Below
    :func:`stats_prune_threshold` consolidated entries the merged dict
    is walked on the driver (snapshot-cached); above it the decision
    runs as bounded Spark jobs over the consolidated parquet doc plus
    the unfolded deltas with driver transfer capped at ``min(pruned,
    kept)`` keys (see :func:`_distributed_prune`) — both tiers share
    :func:`_entry_alive`, so the pruning decisions are identical by
    construction.

    Race-tolerant: a concurrent consolidation can delete the snapshotted
    doc/deltas mid-read. Each attempt re-snapshots and re-picks the tier
    (so the fallback NEVER collects a huge successor doc driver-side —
    the O(entries) load the distributed tier exists to avoid); after two
    losing races the read proceeds unpruned (sound — the residual filter
    always applies)."""
    if not preds or not files:
        return list(files), None
    canon = _canon_predicates(preds, schema)
    if not any(canon):
        return list(files), None
    root = qualified_root(spark, path)
    frame = tz_frame(spark)
    for _attempt in range(2):
        snap = _stats_snapshot(spark, path)
        deltas, best, _token = snap
        if best is None and not deltas:
            return list(files), None
        n_cons = int(best[1].get("n_entries") or 0) if best else 0
        if best is None or n_cons <= stats_prune_threshold(spark):
            merged, _n = _load_file_stats_counted(spark, path, _snap=snap)
            return (
                prune_files(
                    files, merged, preds, schema, root=root,
                    session_tz=frame,
                ),
                "memory",
            )
        try:
            kept = _distributed_prune(
                spark, path, snap, canon, frame, root, files
            )
        except Exception:  # noqa: BLE001 - doc vanished mid-read: re-snapshot
            continue
        return kept, "distributed"
    return list(files), None  # two races in a row — read unpruned


def _distributed_prune(
    spark: SparkSession, path: str, snap, canon, frame, root, files
) -> list[str]:
    """The kept file list decided by Spark jobs over the consolidated
    parquet doc plus the unfolded deltas, with the driver transfer
    bounded by ``min(pruned, kept)`` keys (VERDICT r9 #4): a dead-entry
    COUNT first (no row transfer), then either the dead-key collect
    (pruned minority — the r9 path) or, when the predicate prunes the
    majority, a keep-list join of the listed keys against the stats so
    only the kept side crosses to the driver. Files without a stats
    entry are always kept (conservative) on both paths. Raises when the
    snapshotted doc vanished under a concurrent consolidation — the
    caller re-snapshots (the guarded region starts at the parquet READ:
    spark.read analyzes eagerly)."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.types import BooleanType  # noqa: PLC0415

    deltas, best, _token = snap
    ctx = spark.sparkContext.broadcast((canon, frame))

    def _dead_fn(entries):
        cn, fr = ctx.value
        # a NULL entry (keep-list join: file with no stats) is NOT dead
        return entries.map(
            lambda s: s is not None
            and not _entry_alive(json.loads(s), cn, fr)
        )

    # real annotation objects (not strings): the module uses
    # `from __future__ import annotations` and pandas is imported
    # locally, so inline hints would not resolve for pandas_udf
    _dead_fn.__annotations__ = {"entries": pd.Series, "return": pd.Series}
    _dead = F.pandas_udf(_dead_fn, BooleanType())

    sdf = _read_consolidated(spark, best[0])
    delta_entries = _parse_delta_entries(spark, path, [d[0] for d in deltas])
    if delta_entries:
        sdf = sdf.unionByName(
            spark.createDataFrame(
                [(k, json.dumps(e)) for k, e in delta_entries.items()],
                _CONS_SCHEMA,
            )
        )
    global _LAST_PRUNE_TRANSFER
    # persist key+dead, not the raw entries: persist caches INPUT rows,
    # not UDF output, so filtering on _dead(entry) twice would run the
    # json.loads + _entry_alive pass twice per entry (review r10)
    keyed = sdf.select("key", _dead(F.col("entry")).alias("dead")).persist()
    try:
        n_dead = keyed.where("dead").count()
        if n_dead == 0:
            _LAST_PRUNE_TRANSFER = ("none", 0)
            return list(files)
        if 2 * n_dead <= len(files):
            # pruned minority: collect the dead keys (transfer n_dead)
            dead = {
                r[0]
                for r in keyed.where("dead").select("key").collect()
            }
            _LAST_PRUNE_TRANSFER = ("dead", len(dead))
            return [f for f in files if _rel_key(f, root) not in dead]
        # pruned majority: ship the listed keys up once (data the driver
        # already holds) and collect back only the KEPT side — a file
        # with no stats entry joins to a NULL dead flag and is kept
        keys = [(_rel_key(f, root),) for f in files]
        fdf = spark.createDataFrame(keys, "key string")
        kept_keys = {
            r[0]
            for r in fdf.join(keyed, "key", "left")
            .where(~F.coalesce(F.col("dead"), F.lit(False)))
            .select("key").collect()
        }
        _LAST_PRUNE_TRANSFER = ("kept", len(kept_keys))
        return [f for f in files if _rel_key(f, root) in kept_keys]
    finally:
        keyed.unpersist()
        # a long-lived session doing many selective reads must not
        # accumulate one broadcast per read (ADVICE r9)
        ctx.unpersist()


# (mode, n_keys) the driver collected on the last distributed prune —
# cheap observability for the min(pruned, kept) transfer contract
_LAST_PRUNE_TRANSFER: tuple[str, int] | None = None


# --------------------------------------------------------------------------
# pruning

def normalize_predicates(preds, schema) -> list[tuple[str, str, object]]:
    """Validate a ``where=`` list against the read schema. Raises on
    unknown columns/operators so typos fail loudly instead of silently
    filtering everything out. ``in`` values are canonicalized to a
    sorted list (deterministic reports); everything else passes
    through unchanged."""
    by_name = {f.name: f.dataType for f in schema.fields} if schema else {}
    out = []
    for p in preds:
        try:
            col, op, v = p
        except (TypeError, ValueError):
            raise ValueError(
                f"each predicate must be a (column, op, value) triple: {p!r}"
            ) from None
        if op not in _OPS:
            raise ValueError(f"unsupported op {op!r}; use one of {_OPS}")
        if op == "in":
            if not isinstance(v, (list, tuple, set, frozenset)) or not v:
                raise ValueError(
                    f"'in' takes a non-empty list/tuple/set, got {v!r}"
                )
            v = sorted(v, key=repr)  # deterministic order for reports
        if op in _NULL_OPS and v is not None:
            raise ValueError(
                f"{op!r} takes no value; pass None, got {v!r}"
            )
        if by_name and col not in by_name:
            raise ValueError(
                f"predicate column {col!r} is not a corpus column "
                f"({sorted(by_name)})"
            )
        out.append((col, op, v))
    return out


def predicate_column(preds) -> "F.Column":
    """The residual filter — ALWAYS applied to the scan, so pruning can
    only ever drop files the predicate provably cannot match."""
    import operator as _op  # noqa: PLC0415

    fns = {
        "==": _op.eq, "<": _op.lt, "<=": _op.le, ">": _op.gt, ">=": _op.ge,
    }
    col = None
    for c, op, v in preds:
        if op == "in":
            term = F.col(c).isin(*list(v))
        elif op == "isnull":
            term = F.col(c).isNull()
        elif op == "notnull":
            term = F.col(c).isNotNull()
        else:
            term = fns[op](F.col(c), F.lit(v))
        col = term if col is None else (col & term)
    return col if col is not None else F.lit(True)


def prune_files(
    files: list[str],
    stats: dict[str, dict],
    preds,
    schema,
    root: str | None = None,
    session_tz: str | None = None,
) -> list[str]:
    """The keep-list after stats pruning: a file is dropped only when
    some predicate provably matches no row in it. Pure function —
    unit-testable without Spark. ``root`` resolves each file to its
    root-relative stats key (partition dirs included); without it the
    basename is used (tests / flat layouts only). ``session_tz`` is the
    read session's wall-clock frame key (see :func:`tz_frame` — session
    timezone AND driver OS zone): "ts" (session-tz timestamp) predicates
    prune only files whose stats were collected under the SAME frame —
    the stored bounds are collect-time local wall clock in the collect
    driver's OS zone, and comparing them across frames would mix time
    frames (timestamp_ntz has no such guard; it is wall clock by
    definition)."""
    canon = _canon_predicates(preds, schema)
    if not any(canon):
        return list(files)
    kept = []
    for f in files:
        key = _rel_key(f, root) if root is not None else f.rsplit("/", 1)[-1]
        entry = stats.get(key) if key is not None else None
        if entry is None or _entry_alive(entry, canon, session_tz):
            kept.append(f)
    return kept


def _canon_predicates(preds, schema):
    """Predicates canonicalized for bound comparison — ONE copy shared by
    the driver-side :func:`prune_files` loop and the distributed prune's
    executor-side evaluation (they must decide identically). ``None``
    entries never prune (unknown type / un-canonicalizable value)."""
    by_name = {f.name: f.dataType for f in schema.fields} if schema else {}
    canon: list[tuple[str, str, object, str] | None] = []
    for col, op, v in preds:
        if op in _NULL_OPS:
            # null-ness pruning needs only the counts, not the bounds —
            # it works for every column that has a stats entry
            canon.append((col, op, None, None))
            continue
        dtype = by_name.get(col)
        cat = _category(dtype) if dtype is not None else None
        if cat is None:
            canon.append(None)  # unknown type — this predicate never prunes
            continue
        try:
            canon.append((col, op, _canon_pred_op(cat, op, v), cat))
        except (ValueError, TypeError, InvalidOperation):
            canon.append(None)
    return canon


def _entry_alive(entry: dict, canon, session_tz: str | None) -> bool:
    """Whether a file with this stats entry may hold a matching row —
    the per-file decision both prune tiers share. Conservative: every
    torn/corrupt/cross-frame case returns True (read the file)."""
    cols = entry.get("cols") or {}
    for cp in canon:
        if cp is None:
            continue
        col, op, cv, cat = cp
        if cat == "ts" and entry.get("_tz") != session_tz:
            continue  # cross-frame bounds — read the file
        cs = cols.get(col)
        if cs is None:
            continue  # no stats for this column in this file
        nn = cs.get("nn")
        if op == "isnull":
            # prunable iff the file provably holds NO null in this
            # column; a missing count reads the file (torn entry —
            # same conservatism as missing bounds below)
            n = entry.get("n")
            if nn is not None and n is not None and nn == n:
                return False
            continue
        if op == "notnull":
            if nn == 0:
                return False
            continue
        if nn == 0:
            return False  # zero non-null values: nothing can match
        mn, mx = cs.get("min"), cs.get("max")
        if mn is None or mx is None:
            continue  # torn entry — read the file
        try:
            if not _may_match(
                op, cv, _canon_stored(cat, mn), _canon_stored(cat, mx)
            ):
                return False
        except (ValueError, TypeError, InvalidOperation):
            continue  # corrupt bound — read the file
    return True


def record_read_sample(
    spark: SparkSession, path: str, preds, n_kept: int
) -> None:
    """Best-effort query-mix telemetry (VERDICT r8 #7): fold one
    ``read_corpus(where=<triples>)`` observation into a bounded ring at
    ``_filestats/_QUERYLOG.json`` — per predicate signature, how often
    it runs and how many files its last run actually scanned. The
    advisor reports scan fractions from this so ``cluster_by``/Z-order
    changes are driven by the measured query mix instead of guesses.

    NEVER raises and never blocks a read: a reader with read-only
    credentials, a concurrent swap race, or a torn log all just skip
    the sample (telemetry, not bookkeeping — losses are acceptable).

    Cost-bounded (review r9): records ONLY on corpora that opted into
    file STATS (the ``_CONFIG.json`` exists — ONE exists-RPC, no read;
    the advisor's clustering economics apply exactly there). A plain or
    bloom-only corpus pays one stat call per filtered read and never
    grows query-log bookkeeping. Disable entirely with
    ``spark.bambooai.queryLog.enabled=false``; on object stores where
    the read-modify-write's RPCs are paid, set
    ``spark.bambooai.queryLog.sampleEvery=N`` to flush each signature
    every Nth read (first sight still records immediately; the deferred
    reads flush as one increment, so counts stay exact at record
    points and lag by at most N-1 between them)."""
    try:
        from bambooai_spark.operators.writer import _fs_exists  # noqa: PLC0415

        if (
            str(
                spark.conf.get("spark.bambooai.queryLog.enabled", "true")
            ).lower() == "false"
        ):
            return
        sig_preds = [
            [c, op, [_ser(x) for x in v] if op == "in" else _ser(v)]
            for c, op, v in preds
        ]
        sig = json.dumps(sig_preds, sort_keys=True)
        try:
            every = int(
                spark.conf.get("spark.bambooai.queryLog.sampleEvery", "1")
            )
        except (TypeError, ValueError):
            every = 1
        inc = 1
        if every > 1:
            dkey = (path, sig)
            pend = _QUERYLOG_DEFER.pop(dkey, None)
            if pend is not None and pend + 1 < every:
                # defer: zero RPCs for this read; re-insert = LRU touch
                _QUERYLOG_DEFER[dkey] = pend + 1
                while len(_QUERYLOG_DEFER) > _QUERYLOG_DEFER_MAX:
                    _QUERYLOG_DEFER.pop(next(iter(_QUERYLOG_DEFER)))
                return
            inc = (pend + 1) if pend is not None else 1
        if not _fs_exists(spark, _config_path(path)):
            return
        lpath = _join(_join(path, STATS_DIR), QUERYLOG_NAME)
        doc = _read_config(spark, lpath) or {}
        samples = doc.get("samples") or {}
        ent = samples.pop(sig, None) or {"preds": sig_preds, "n_reads": 0}
        ent["n_reads"] = int(ent.get("n_reads") or 0) + inc
        ent["last_kept"] = int(n_kept)
        samples[sig] = ent  # re-insert: dict order is the LRU ring
        while len(samples) > _QUERYLOG_MAX:
            samples.pop(next(iter(samples)))
        _replace_config(
            spark, lpath, json.dumps({"samples": samples})
        )
        if every > 1:
            _QUERYLOG_DEFER[(path, sig)] = 0  # recorded: reset the window
            while len(_QUERYLOG_DEFER) > _QUERYLOG_DEFER_MAX:
                _QUERYLOG_DEFER.pop(next(iter(_QUERYLOG_DEFER)))
    except Exception:  # noqa: BLE001, S110 - telemetry must never fail a read
        pass


def read_query_log(spark: SparkSession, path: str) -> list[dict]:
    """The recorded read samples, most-read first: ``[{"preds", "n_reads",
    "last_kept"}, ...]`` (empty when nothing recorded)."""
    doc = _read_config(
        spark, _join(_join(path, STATS_DIR), QUERYLOG_NAME)
    )
    samples = (doc or {}).get("samples") or {}
    return sorted(
        samples.values(),
        key=lambda e: -int(e.get("n_reads") or 0),
    )


def stats_coverage(spark: SparkSession, path: str) -> dict | None:
    """Coverage summary for the advisor and the fsck (ONE copy of the
    live-vs-stats reconciliation): None when stats are not enabled, else
    ``{"live": n, "covered": n, "orphans": n}``. Uncovered files are
    read unpruned (never wrong, just unoptimized); orphan entries are
    inert leftovers of rewritten files. O(one listing + bookkeeping)."""
    from bambooai_spark.operators.writer import _walk_files  # noqa: PLC0415

    if stats_config(spark, path) is None:
        return None
    snap = _stats_snapshot(spark, path)
    _deltas, best, _token = snap
    stats, n_deltas = _load_file_stats_counted(spark, path, _snap=snap)
    qroot = qualified_root(spark, path)
    live = {_rel_key(f, qroot) for f in _walk_files(spark, path)}
    live.discard(None)
    return {
        "live": len(live),
        "covered": len(live & set(stats)),
        "orphans": len(set(stats) - live),
        "deltas": n_deltas,
        "entries": len(stats),
        # which consolidated parquet doc reads fold on (None = JSON-only
        # stats history; fine below the distributed-prune threshold)
        "consolidated_version": (
            int(best[1].get("version") or 0) if best else None
        ),
        # distinct collect-time wall-clock frames across LIVE files'
        # entries (orphan entries never prune anything, so their stale
        # frames are not actionable): a frame differing from the read
        # session's tz_frame() silently disables "ts" pruning on those
        # entries (conservative keep) — the advisor flags it so
        # rebuild_file_stats is the visible heal
        "tz_frames": sorted({
            str(e.get("_tz"))
            for k, e in stats.items()
            if k in live
        }),
    }


# --------------------------------------------------------------------------
# maintenance

def rebuild_file_stats(
    spark: SparkSession,
    path: str,
    columns=None,
    *,
    lease=None,
) -> dict:
    """Full stats rebuild over the corpus's live data files — heals the
    (documented, bounded) gaps a crash can leave and back-fills a corpus
    that predates stats. With ``columns`` it also (re)writes the config,
    enabling stats on a legacy corpus. One corpus scan; consolidates
    every prior delta into a single doc. Returns the stats doc.

    Maintenance-window op like :func:`~bambooai_spark.operators.writer
    .compact_corpus` (single writer; pass ``lease`` to enforce)."""
    from bambooai_spark.operators.writer import (  # noqa: PLC0415
        _lease_beat,
        _lease_ensure,
        _stored_schema,
        _walk_files,
    )

    _lease_beat(lease)
    if columns is not None:
        cols = list(dict.fromkeys(columns))
    else:
        cols = stats_config(spark, path)
        if not cols:
            raise ValueError(
                f"no stats config under {path}; pass columns= to enable"
            )
    stored = _stored_schema(spark, path)
    if columns is not None:
        enable_file_stats(spark, path, cols, schema=stored)
    live = _walk_files(spark, path)
    name = f"rebuild-{uuid.uuid4().hex[:8]}"
    if live:
        doc = collect_file_stats(
            spark, path, cols, schema=stored, files=live
        )
    else:
        doc = {"columns": cols, "files": {}}
    _lease_ensure(lease)
    write_stats_delta(spark, path, name, doc)
    prune_stats_files(spark, path, {f"{name}.json", CONFIG_NAME})
    return doc


# --------------------------------------------------------------------------
# parquet bloom filters (point-lookup skipping)

def set_bloom_filters(spark: SparkSession, path: str, columns) -> None:
    """Record the corpus's bloom-filter columns: every later data write
    (plain/txn append, compaction, delete rewrite) enables a parquet
    split-block bloom filter on them, so POINT lookups (``id == x``)
    skip row groups that min/max stats cannot help with on
    high-cardinality unclustered columns — the complement of
    :func:`enable_file_stats` (range pruning). Row-group-level and
    JVM-side: Spark's vectorized reader consults the bloom before
    decoding. Existing files are unaffected until the next compaction
    rewrites them. Pass ``[]`` to disable for future writes. Replaced
    via the crash-safe staged-swap, like the stats config."""
    _replace_config(
        spark,
        _join(_join(path, STATS_DIR), BLOOM_NAME),
        json.dumps({"columns": list(dict.fromkeys(columns))}),
    )


def bloom_config(spark: SparkSession, path: str) -> list[str]:
    """The configured bloom-filter columns ([] when none)."""
    doc = _read_config(spark, _join(_join(path, STATS_DIR), BLOOM_NAME))
    return list((doc or {}).get("columns") or [])


def apply_bloom_options(writer_obj, columns):
    """Enable parquet bloom filters on ``columns`` for a DataFrameWriter
    (the ONE copy of the option-key spelling — a typo here would be a
    silent no-op, which is why the tests pin the file-size effect)."""
    for c in columns:
        writer_obj = writer_obj.option(
            f"parquet.bloom.filter.enabled#{c}", "true"
        )
    return writer_obj


# --------------------------------------------------------------------------
# partition-directory pruning (listing-time skipping)

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def partition_dir_pruner(preds, schema):
    """Directory filter for the corpus walks: given ``col=value``
    partition directory names, decide whether to DESCEND — a predicate
    on a partition column skips non-matching partitions at LISTING
    time, so a selective read of a 1000-partition corpus lists one
    partition's files instead of a million entries. A partition is a
    constant column, so the decision is :func:`_bound_may_match` with
    ``min == max == value``. Conservative throughout: unknown columns,
    unparseable values, or non-prunable types descend. Returns None
    when no predicate targets a prunable column (walk unfiltered)."""
    from urllib.parse import unquote  # noqa: PLC0415

    by_name = {f.name: f.dataType for f in schema.fields} if schema else {}
    by_col: dict[str, list] = {}
    for col, op, v in preds or []:
        if op in _NULL_OPS:
            # a partition value IS the column value: null-ness decides
            # on the directory name alone, whatever the type
            by_col.setdefault(col, []).append((op, None, None))
            continue
        dtype = by_name.get(col)
        cat = _category(dtype) if dtype is not None else None
        if cat is None:
            continue
        try:
            by_col.setdefault(col, []).append(
                (op, _canon_pred_op(cat, op, v), cat)
            )
        except (ValueError, TypeError, InvalidOperation):
            continue
    if not by_col:
        return None

    def _parse(cat, raw):
        # directory values arrive as strings; the numeric/bool categories
        # need an explicit parse (_canon_pred rejects strings there), the
        # rest reuse _canon_pred's canonical-form spelling so the two
        # cannot drift
        if cat == "int":
            return int(raw)
        if cat == "float":
            return float(raw)
        if cat == "bool":
            if raw.lower() in ("true", "false"):
                return raw.lower() == "true"
            raise ValueError(raw)
        return _canon_pred(cat, raw)

    def ok(dirname: str) -> bool:
        col, sep, raw = dirname.partition("=")
        if not sep or col not in by_col:
            return True
        try:
            for op, cv, cat in by_col[col]:
                if op == "isnull":
                    if raw != _HIVE_NULL:
                        return False
                    continue
                if op == "notnull":
                    if raw == _HIVE_NULL:
                        return False
                    continue
                if raw == _HIVE_NULL:
                    return False  # NULL partition fails every comparison
                # "ts" partitions: directory values are literal renders
                # of the written column — same session-tz caveat as the
                # stats, but here write and read happen through the same
                # reader contract, so compare directly
                pv = _parse(cat, unquote(raw))
                if not _may_match(op, cv, pv, pv):
                    return False
        except (ValueError, TypeError, InvalidOperation, OverflowError):
            return True  # unparseable — descend, Spark decides
        return True

    return ok


def explain_pruning(spark: SparkSession, path: str, where) -> dict:
    """Skipping report for a prospective ``read_corpus(where=...)`` —
    the observability face of the two-tier pruning: how many files the
    COMMITTED SNAPSHOT holds (the same visibility rules as the real
    read — an uncommitted mid-flight batch's files count for neither),
    how many survive the partition-directory filter, how many the
    per-file stats then drop, and what reaches the scan. Read-only, ONE
    listing (the partition tier is replayed in memory over it); on a
    healthy corpus ``after_stats == len(read.inputFiles())`` for the
    same ``where`` (a corpus frozen mid-swap makes the real read raise
    where this report still answers).

    Accepts every ``where=`` form the readers do: (column, op, value)
    triples report both tiers; a Column/SQL string (filter-only in the
    readers) or None reports the unpruned snapshot with ``predicates:
    None``. A ``read_fraction`` near 1.0 on a selective predicate is
    the signal to cluster (``cluster_by``/``zorder``) or enable stats
    on the filtered column."""
    from pyspark.sql import Column  # noqa: PLC0415

    from bambooai_spark.operators.writer import (  # noqa: PLC0415
        _snapshot_files,
        _stored_schema,
    )

    schema = _stored_schema(spark, path)
    preds = None
    if where is not None and not isinstance(where, (Column, str)):
        preds = normalize_predicates(where, schema)
    snapshot = _snapshot_files(spark, path)
    total = len(snapshot)
    listed = snapshot
    if preds:
        pruner = partition_dir_pruner(preds, schema)
        if pruner is not None:
            qroot = _strip_scheme(
                qualified_root(spark, path)
            ).rstrip("/") + "/"
            listed = []
            for f in snapshot:
                rel = _strip_scheme(f)
                segs = (
                    rel[len(qroot):].split("/")[:-1]
                    if rel.startswith(qroot)
                    else []
                )
                if all(pruner(s) for s in segs):
                    listed.append(f)
    kept = listed
    strategy = None
    if preds:
        kept, strategy = prune_with_stored_stats(
            spark, path, listed, preds, schema
        )
    return {
        "files_total": total,
        "after_partition_pruning": len(listed),
        "after_stats": len(kept),
        "read_fraction": (len(kept) / total) if total else 0.0,
        "predicates": [list(p) for p in preds] if preds else None,
        # which tier decided: "memory" (driver dict walk), "distributed"
        # (Spark job over the consolidated doc), or None (nothing to do)
        "stats_strategy": strategy,
    }
