"""Advisory writer-lease tests: lifecycle, contention, TTL takeover,
fencing at the writer entry points (a lost lease aborts BEFORE
publishing), and crash-restart re-acquisition."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from bambooai_spark.io import load_table
from bambooai_spark.operators.lease import (
    LEASE_NAME,
    CorpusLease,
    CorpusLeaseHeld,
    CorpusLeaseLost,
    corpus_lease,
)
from bambooai_spark.operators.writer import (
    append_corpus,
    append_corpus_txn,
    compact_corpus,
    delete_from_corpus,
    recover_staging,
)
from tests.conftest import SF_DIR


def _docs(spark, n=40):
    return load_table(spark, SF_DIR, "documents").limit(n)


def _corpus_dir(tmp_path):
    return os.path.join(str(tmp_path), "corpus")


def test_acquire_release_lifecycle(spark, tmp_path):
    path = _corpus_dir(tmp_path)
    os.makedirs(path, exist_ok=True)
    lease_file = os.path.join(path, LEASE_NAME)
    with corpus_lease(spark, path) as lease:
        assert lease.held
        assert os.path.exists(lease_file)
        doc = json.loads(open(lease_file).read())
        assert doc["owner"] == lease.owner
    assert not os.path.exists(lease_file)  # released on exit


def test_second_writer_blocked(spark, tmp_path):
    path = _corpus_dir(tmp_path)
    os.makedirs(path, exist_ok=True)
    with corpus_lease(spark, path):
        with pytest.raises(CorpusLeaseHeld, match="write-leased"):
            corpus_lease(spark, path).acquire()
    # released — a new writer acquires cleanly
    with corpus_lease(spark, path):
        pass


def test_stale_takeover_and_fencing(spark, tmp_path):
    """A dead holder's lease (heartbeat older than its ttl) is taken
    over; the zombie's ensure() then fails loudly and its release()
    leaves the new holder's lease intact."""
    path = _corpus_dir(tmp_path)
    os.makedirs(path, exist_ok=True)
    zombie = CorpusLease(spark, path, ttl_s=0.2).acquire()
    time.sleep(0.5)  # heartbeat goes stale
    new = CorpusLease(spark, path).acquire()  # takeover
    assert new.held
    with pytest.raises(CorpusLeaseLost, match="lease lost"):
        zombie.ensure()
    assert not zombie.held
    zombie.release()  # must NOT delete the new holder's lease
    doc = json.loads(open(os.path.join(path, LEASE_NAME)).read())
    assert doc["owner"] == new.owner
    new.release()


def test_live_lease_not_taken_over(spark, tmp_path):
    """Heartbeats keep a lease live past its nominal age."""
    path = _corpus_dir(tmp_path)
    os.makedirs(path, exist_ok=True)
    holder = CorpusLease(spark, path, ttl_s=0.4).acquire()
    for _ in range(3):
        time.sleep(0.2)
        holder.heartbeat()
    with pytest.raises(CorpusLeaseHeld):
        CorpusLease(spark, path).acquire()
    holder.release()


def test_crash_restart_reacquires_with_pinned_owner(spark, tmp_path):
    """A crash-restarted job with a PINNED owner id re-enters its own
    lease instead of deadlocking until the TTL."""
    path = _corpus_dir(tmp_path)
    os.makedirs(path, exist_ok=True)
    CorpusLease(spark, path, owner="job-42").acquire()  # "crashed" holder
    again = CorpusLease(spark, path, owner="job-42").acquire()
    assert again.held
    again.release()


def test_unreadable_lease_counts_as_held(spark, tmp_path):
    """A torn/garbage lease doc reads as a fresh foreign lease (mtime as
    heartbeat) — never silently claimed."""
    path = _corpus_dir(tmp_path)
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, LEASE_NAME), "w") as f:
        f.write("{not json")
    with pytest.raises(CorpusLeaseHeld):
        CorpusLease(spark, path).acquire()


def test_txn_append_under_lease(spark, tmp_path):
    """The happy path: a leased transactional append commits normally."""
    path = _corpus_dir(tmp_path)
    with corpus_lease(spark, path) as lease:
        append_corpus_txn(_docs(spark), path, 1, lease=lease)
        assert spark.read.parquet(path).count() > 0
    # lease file gone, corpus reads stay clean of bookkeeping
    assert not os.path.exists(os.path.join(path, LEASE_NAME))


def test_lost_lease_aborts_txn_before_commit(spark, tmp_path):
    """A holder that lost a TTL takeover fails BEFORE publishing: no
    commit marker, no data files, no manifest."""
    path = _corpus_dir(tmp_path)
    zombie = CorpusLease(spark, path, ttl_s=0.2)
    os.makedirs(path, exist_ok=True)
    zombie.acquire()
    time.sleep(0.5)
    usurper = CorpusLease(spark, path).acquire()
    with pytest.raises(CorpusLeaseLost):
        append_corpus_txn(_docs(spark), path, 7, lease=zombie)
    # nothing visible was published by the zombie
    assert not os.path.exists(os.path.join(path, "_commits"))
    committed = [
        f
        for f in os.listdir(path)
        if not f.startswith(("_", ".")) and f != LEASE_NAME
    ]
    assert committed == []
    usurper.release()


def test_lost_lease_aborts_plain_append(spark, tmp_path):
    path = _corpus_dir(tmp_path)
    os.makedirs(path, exist_ok=True)
    zombie = CorpusLease(spark, path, ttl_s=0.2).acquire()
    time.sleep(0.5)
    usurper = CorpusLease(spark, path).acquire()
    with pytest.raises(CorpusLeaseLost):
        append_corpus(_docs(spark), path, lease=zombie)
    usurper.release()


def test_maintenance_ops_under_lease(spark, tmp_path):
    """compact / delete / recover all accept and verify the lease."""
    path = _corpus_dir(tmp_path)
    with corpus_lease(spark, path) as lease:
        append_corpus_txn(
            _docs(spark), path, 1, max_records_per_file=10, lease=lease
        )
        delete_from_corpus(
            spark, path, F.col("doc_id") % 5 == 0, lease=lease
        )
        compact_corpus(spark, path, lease=lease)
        out = recover_staging(spark, path, lease=lease)
        assert out == {"committed": [], "cleaned": [], "kept": []}
        got = spark.read.parquet(path)
        assert got.filter(F.col("doc_id") % 5 == 0).count() == 0
        assert got.count() > 0


def test_unleased_ops_unaffected(spark, tmp_path):
    """lease=None keeps the pre-lease behavior byte-for-byte — no marker
    file, no checks."""
    path = _corpus_dir(tmp_path)
    append_corpus_txn(_docs(spark), path, 1)
    assert not os.path.exists(os.path.join(path, LEASE_NAME))
    compact_corpus(spark, path)
    assert spark.read.parquet(path).count() > 0


def test_ttl_validation(spark):
    with pytest.raises(ValueError, match="ttl_s"):
        CorpusLease(spark, "/tmp/x", ttl_s=0)


def test_streaming_sink_under_lease(spark, tmp_path):
    """The streaming corpus sink threads the lease into every
    micro-batch append; a held lease lets the drain commit normally."""
    from bambooai_spark.streaming.documents import (
        read_documents_stream,
        stream_ingest_to_corpus,
    )

    out = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    sdf = read_documents_stream(spark, SF_DIR)
    with corpus_lease(spark, out) as lease:
        manifest = stream_ingest_to_corpus(
            sdf, out, checkpoint_location=ckpt, lease=lease
        )
        assert manifest is not None
        assert spark.read.parquet(out).count() > 0
    assert not os.path.exists(os.path.join(out, LEASE_NAME))


def test_streaming_sink_lost_lease_fails_query(spark, tmp_path):
    """A takeover mid-stream surfaces as a failed query, not a silent
    double-write: the batch append raises CorpusLeaseLost inside
    foreachBatch and nothing commits."""
    from pyspark.errors import StreamingQueryException

    from bambooai_spark.streaming.documents import (
        read_documents_stream,
        stream_ingest_to_corpus,
    )

    out = str(tmp_path / "corpus")
    os.makedirs(out, exist_ok=True)
    zombie = CorpusLease(spark, out, ttl_s=0.2).acquire()
    time.sleep(0.5)
    usurper = CorpusLease(spark, out).acquire()
    sdf = read_documents_stream(spark, SF_DIR)
    with pytest.raises(StreamingQueryException, match="lease"):
        stream_ingest_to_corpus(
            sdf, out, checkpoint_location=str(tmp_path / "ckpt"),
            lease=zombie,
        )
    assert not os.path.exists(os.path.join(out, "_commits"))
    usurper.release()


def test_create_failure_is_not_contention(spark, tmp_path):
    """A real I/O failure acquiring (here: the corpus root's parent is a
    FILE) re-raises instead of masquerading as CorpusLeaseHeld."""
    blocker = tmp_path / "blocker"
    blocker.write_text("not a directory")
    bad = str(blocker / "corpus")
    with pytest.raises(Exception) as ei:
        CorpusLease(spark, bad).acquire()
    assert not isinstance(ei.value, CorpusLeaseHeld)


def test_takeover_restores_fresh_lease(spark, tmp_path):
    """The two-racing-takeovers hazard: a takeover that judged the OLD
    doc stale must not delete a FRESH lease that replaced it in the
    meantime — the rename-aside re-judges and restores it."""
    path = _corpus_dir(tmp_path)
    os.makedirs(path, exist_ok=True)
    lf = os.path.join(path, LEASE_NAME)
    with open(lf, "w") as f:  # the stale doc both racers read
        json.dump({"owner": "old", "heartbeat": 0.0, "ttl_s": 1.0}, f)
    b = CorpusLease(spark, path)
    assert b._stale(b._read())  # B judged it stale...
    with open(lf, "w") as f:  # ...but racer A already won a takeover
        json.dump(
            {"owner": "A", "heartbeat": time.time(), "ttl_s": 300.0}, f
        )
    b._take_over_stale()
    doc = json.loads(open(lf).read())
    assert doc["owner"] == "A"  # A's fresh lease survived
    assert not glob_leftovers(path)
    with pytest.raises(CorpusLeaseHeld):
        b.acquire()


def glob_leftovers(path):
    import glob as _g

    return _g.glob(os.path.join(path, LEASE_NAME + ".takeover-*"))


def test_takeover_removes_genuinely_stale(spark, tmp_path):
    path = _corpus_dir(tmp_path)
    os.makedirs(path, exist_ok=True)
    lf = os.path.join(path, LEASE_NAME)
    with open(lf, "w") as f:
        json.dump({"owner": "old", "heartbeat": 0.0, "ttl_s": 1.0}, f)
    got = CorpusLease(spark, path).acquire()
    assert got.held
    assert json.loads(open(lf).read())["owner"] == got.owner
    assert not glob_leftovers(path)
    got.release()


def test_recover_staging_lost_lease_aborts(spark, tmp_path):
    """recover_staging must abort on a lost lease BEFORE mutating —
    here before deleting an aged bare stage."""
    path = str(tmp_path / "corpus")
    stage = os.path.join(path, "_staging", "batch_id=99")
    os.makedirs(stage, exist_ok=True)
    with open(os.path.join(stage, "part-x"), "w") as f:
        f.write("orphan")
    zombie = CorpusLease(spark, path, ttl_s=0.2).acquire()
    time.sleep(0.5)
    usurper = CorpusLease(spark, path).acquire()
    with pytest.raises(CorpusLeaseLost):
        recover_staging(spark, path, min_age_seconds=0.0, lease=zombie)
    assert os.path.exists(os.path.join(stage, "part-x"))  # untouched
    usurper.release()


def test_lost_lease_blocks_schema_record(spark, tmp_path):
    """The plain append's publish includes _record_schema (a manifest
    read-modify-write) — a zombie must abort before it, leaving the
    recorded schema untouched."""
    from bambooai_spark.operators.writer import _load_manifest_doc

    path = _corpus_dir(tmp_path)
    append_corpus(_docs(spark), path)
    before = _load_manifest_doc(spark, path).get("schema")
    zombie = CorpusLease(spark, path, ttl_s=0.2).acquire()
    time.sleep(0.5)
    usurper = CorpusLease(spark, path).acquire()
    evolved = _docs(spark).withColumn("quality", F.lit(1.0))
    with pytest.raises(CorpusLeaseLost):
        append_corpus(evolved, path, evolve_schema=True, lease=zombie)
    after = _load_manifest_doc(spark, path).get("schema")
    assert after == before  # no evolved column recorded by the zombie
    usurper.release()
