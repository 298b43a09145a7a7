"""Episodic memory for the agent loop (reference bambooai.py:265-291
retrieve-before-plan + qa_retrieval.py:146-202 ``add_record``).

The reference consults a vector store after intent extraction: if a past
task's intent embedding is similar enough (``similarity_threshold``, 0.8),
its stored plan / data model / code pre-seed the planner and code-generator
prompts — the "plan cache" that turns repeat questions into one-shot code.
After execution the user ranks the answer; rank ≥ 6 records are upserted
with semantic dedup at the strong threshold (0.94).

Spark-native shape: records live in one embeddings DataFrame (the same
layout as the ``embeddings`` testdata table), retrieval is a broadcast-query
cosine top-1 (operators/similarity.py pattern), and writes go through the
set-based ``upsert_with_dedup`` MERGE (operators/memory.py) so a billion-row
memory behaves exactly like a ten-row one. The intent embedder is pluggable
and defaults to the deterministic hash embedder (no model in this
container); production swaps in a real API/model wrapper.

Reuse contract: ``retrieve`` keeps its raw top-1 (the intent and its
embedding, the table object it scanned, that record's rank and cosine) even
below the recall gate. An ``add`` of the same intent against the same,
unchanged table whose top-1 is a strong match (≥ 0.94) with a rank at
least as high is exactly the MERGE's "blocked, dropped" branch, so it
returns without a Spark job. Any other write runs the MERGE. Writes to the
table are serialized by a lock, so concurrent turns sharing one memory
lose no record. (An external backend keeps its own write path.)
"""

from __future__ import annotations

import threading
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from bambooai_spark.functions.vectors import cosine
from bambooai_spark.operators.embed import Embedder, hash_embedder
from bambooai_spark.operators.memory import upsert_with_dedup

#: retrieval gate — reference default similarity_threshold (bambooai.py:118)
SIMILARITY_THRESHOLD = 0.8
#: write gate — only well-ranked answers become memories (qa_retrieval.py:160)
MIN_RANK = 6
#: semantic-dedup "strong match" bar on writes (qa_retrieval.py:162-165)
STRONG_MATCH = 0.94

_SCHEMA = StructType(
    [
        StructField("record_id", StringType(), False),
        StructField("intent", StringType(), True),
        StructField("plan", StringType(), True),
        StructField("data_model", StringType(), True),
        StructField("code", StringType(), True),
        StructField("rank", IntegerType(), True),
        StructField("embedding", ArrayType(FloatType()), True),
    ]
)


@dataclass
class MemoryHit:
    """One recalled record (reference vector_data, bambooai.py:270-281)."""

    record_id: str
    intent: str
    plan: str | None
    data_model: str | None
    code: str | None
    rank: int
    score: float


class EpisodicMemory:
    """Vector-indexed store of (intent → plan/data model/code) records."""

    def __init__(
        self,
        spark: SparkSession,
        *,
        embedder: Embedder | None = None,
        dim: int = 64,
        similarity_threshold: float = SIMILARITY_THRESHOLD,
        min_rank: int = MIN_RANK,
        backend=None,
    ):
        self.spark = spark
        self.embedder = embedder or hash_embedder(dim)
        self.similarity_threshold = similarity_threshold
        self.min_rank = min_rank
        # injectable external vector store (agent/retrieval_backends.py —
        # the reference's Pinecone/Qdrant wrappers, qa_retrieval.py:237-501);
        # None → the parquet-native Spark table below
        self.backend = backend
        # zero partitions: a local empty list would be spread over
        # defaultParallelism empty partitions, and the first MERGE's cross
        # join would run that many tasks per new-row partition (at
        # local[8], 64 tasks and ~9 s for the first write into a new store)
        self._df: DataFrame = spark.createDataFrame(
            spark.sparkContext.emptyRDD(), _SCHEMA
        )
        # guards add's read-merge-reassign of _df and its skip check
        self._lock = threading.Lock()
        # retrieve's raw top-1: (intent, query vector, scanned table,
        # rank, cosine) — what add needs to recognise a write the MERGE
        # would drop
        self._top1: tuple | None = None

    @property
    def records(self) -> DataFrame:
        return self._df

    def __len__(self) -> int:
        return self._df.count()

    def retrieve(self, intent: str) -> MemoryHit | None:
        """Cosine top-1 over the store; ``None`` below the threshold.

        The single query vector is a one-row broadcast against the (arbitrarily
        large) record table — the knn_brute_force plan with an external query
        (TakeOrderedAndProject, no shuffle of the big side). With an external
        backend, the top-1 query goes to it instead (same gate)."""
        [qvec] = self.embedder([intent or ""])
        if self.backend is not None:
            hits = self.backend.query(qvec, top_k=1)
            if not hits or hits[0].score < self.similarity_threshold:
                return None
            h = hits[0]
            return MemoryHit(
                record_id=h.record_id,
                intent=h.metadata.get("intent", ""),
                plan=h.metadata.get("plan") or None,
                data_model=h.metadata.get("data_model") or None,
                code=h.metadata.get("code") or None,
                rank=int(h.metadata.get("rank", 0)),
                score=float(h.score),
            )
        q = self.spark.createDataFrame(
            [(qvec,)], StructType([StructField("_q", ArrayType(FloatType()))])
        )
        table = self._df  # one snapshot: scanned and remembered
        rows = (
            table.crossJoin(F.broadcast(q))
            .withColumn("_cos", cosine("embedding", "_q"))
            .orderBy(F.desc("_cos"), "record_id")
            .limit(1)
            .collect()
        )
        if not rows or rows[0]["_cos"] is None:
            self._top1 = None
            return None
        r = rows[0]
        self._top1 = (intent, qvec, table, r["rank"], r["_cos"])
        if r["_cos"] < self.similarity_threshold:
            return None
        return MemoryHit(
            record_id=r["record_id"],
            intent=r["intent"],
            plan=r["plan"] or None,  # '' stored as empty → None, like the
            data_model=r["data_model"] or None,  # reference (bambooai.py:276-281)
            code=r["code"] or None,
            rank=int(r["rank"]),
            score=float(r["_cos"]),
        )

    def add(
        self,
        record_id: str,
        intent: str,
        *,
        plan: str | None = None,
        data_model: str | None = None,
        code: str | None = None,
        rank: int = 0,
    ) -> bool:
        """Rank-gated, semantically-deduped write. Returns whether the
        post-merge table can contain the record (rank gate passed) —
        the dedup itself may still prefer a stronger existing record."""
        if rank < self.min_rank:
            return False
        [vec] = self.embedder([intent or ""])
        if self.backend is not None:
            # the reference's strong-match branch (qa_retrieval.py:191-202):
            # a >= 0.94 neighbour is replaced only by a HIGHER rank (upsert
            # new + delete old), otherwise the write is dropped
            meta = {
                "intent": intent,
                "plan": plan or "",
                "data_model": data_model or "",
                "code": code or "",
                "rank": int(rank),
            }
            hits = self.backend.query(vec, top_k=1)
            if hits and hits[0].score >= STRONG_MATCH:
                if int(rank) > int(hits[0].metadata.get("rank", 0)):
                    self.backend.upsert(record_id, vec, meta)
                    # a repeat question re-derives the SAME record id
                    # (orchestrator's deterministic mem-<md5(intent)>);
                    # deleting it after the upsert would erase the record
                    # just written — only a DIFFERENT old id is removed
                    if hits[0].record_id != record_id:
                        self.backend.delete(hits[0].record_id)
            else:
                self.backend.upsert(record_id, vec, meta)
            return True
        with self._lock:  # concurrent turns share one memory (service.py)
            if self._dropped_by_merge(intent, vec, int(rank)):
                return True
            new = self.spark.createDataFrame(
                [
                    (
                        record_id,
                        intent,
                        plan or "",
                        data_model or "",
                        code or "",
                        int(rank),
                        vec,
                    )
                ],
                _SCHEMA,
            )
            self._df = upsert_with_dedup(
                self._df,
                new,
                id_col="record_id",
                vec_col="embedding",
                rank_col="rank",
                threshold=STRONG_MATCH,
                min_rank=self.min_rank,
            ).localCheckpoint()  # truncate the ever-growing merge lineage
        return True

    def _dropped_by_merge(self, intent: str, vec: list, rank: int) -> bool:
        """True when ``retrieve``'s top-1 for this very intent and vector,
        taken on the current table object, is a strong match ranked at
        least as high. ``upsert_with_dedup`` then picks that same record
        (same cosine arithmetic; best cosine, then lowest id) and drops the
        new one, leaving the table unchanged. Called under the lock."""
        top = self._top1
        if top is None:
            return False
        t_intent, t_vec, t_table, t_rank, t_cos = top
        return (
            t_intent == intent
            and t_vec == vec
            and t_table is self._df
            and t_rank is not None
            and t_cos >= STRONG_MATCH  # False for NaN: the MERGE decides
            and rank <= t_rank
        )

    # -- persistence (the reference's vector store survives restarts;
    # here the store is one parquet table — same durability contract) --

    def save(self, path: str) -> None:
        self._df.write.mode("overwrite").parquet(path)

    @classmethod
    def load(
        cls,
        spark: SparkSession,
        path: str,
        *,
        embedder: Embedder | None = None,
        dim: int = 64,
        similarity_threshold: float = SIMILARITY_THRESHOLD,
        min_rank: int = MIN_RANK,
    ) -> "EpisodicMemory":
        mem = cls(
            spark,
            embedder=embedder,
            dim=dim,
            similarity_threshold=similarity_threshold,
            min_rank=min_rank,
        )
        mem._df = spark.read.parquet(path)
        return mem
