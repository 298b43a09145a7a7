"""Deduplication operators, exact → fuzzy, each with a 100 TB story.

- exact:   hash-groupBy on a text fingerprint. One shuffle on the md5 key;
           map-side partial aggregation collapses duplicates early.
- jaccard: word-shingle inverted-index self-join — the exact set-similarity
           join. Cost is Σ_shingle df(shingle)²; hot shingles are the skew
           risk, so a document-frequency cap drops stop-shingles (standard
           prefix-filter trick).
- minhash: MinHash signatures + LSH banding — the sub-quadratic path. Only
           documents sharing a band bucket are compared; recall tuned via
           (bands, rows).
- simhash: 64-bit bit-majority fingerprint; near-dups differ in ≤k bits.
- embedding: cosine-threshold near-dup pairs, blocked to avoid the full
           cross product.

Seeded hashing uses ``xxhash64(seed_lit, value)`` — Spark's xxhash64 over
(seed, value) gives an independent-enough hash family deterministically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bambooai_spark.functions.text import (
    fingerprint,
    winnow_fingerprints,
    word_shingles,
)
from bambooai_spark.caching import track, untrack
from bambooai_spark.functions.vectors import dot
from bambooai_spark.numeric import col_of
from bambooai_spark.session import overlapped


def exact_dedup(
    df: DataFrame, text_col: str, id_col: str, *, normalize: bool = False
) -> DataFrame:
    """Exact duplicate groups: fingerprint → (keep_id = min id, dup_count).

    Equivalent to the reference's "strong match keeps the better record"
    upsert (qa_retrieval.py:157-202) with similarity=1.0.
    """
    return (
        df.select(
            fingerprint(text_col, normalize=normalize).alias("fp"), F.col(id_col)
        )
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def _shingle_index(
    df: DataFrame, id_col: str, text_col: str, n: int, max_doc_freq: int | None
) -> DataFrame:
    tok = df.select(
        F.col(id_col).alias("doc"), F.explode(word_shingles(text_col, n)).alias("sh")
    )
    if max_doc_freq:
        hot = (
            tok.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select("sh")
        )
        # left_anti on the (small) hot-shingle list — broadcast
        tok = tok.join(F.broadcast(hot), "sh", "left_anti")
    return tok


#: vocabularies at or below this size take the dense-bitmask path in
#: ``strategy="auto"`` — 16384 bits = 256 longs per doc, comfortably
#: broadcastable for the block product.
DENSE_VOCAB_MAX = 16384

#: above this many documents the dense block product stops broadcasting the
#: whole mask relation (⌈V/64⌉·8 bytes × N would OOM the driver/executors —
#: at V=16384, 200k docs ≈ 400 MB, the sane broadcast ceiling) and switches
#: to the hash-blocked equi-join grid.
DENSE_DOCS_BROADCAST_MAX = 200_000

#: docs per hash block in the blocked fallback — bounds the per-task build
#: side (32768 docs × ≤2 KB masks ≈ 64 MB), independent of total N.
DENSE_BLOCK_DOCS = 32768

#: mask words at or below this unroll into scalar long columns (flattest
#: whole-stage codegen for the pair loop — the measured 14x regime);
#: above it the mask stays ONE array column and the intersection is
#: zip_with + aggregate. The unrolled form does not survive large word
#: counts: at ~146 scalar columns the self-join analyzer hits its
#: resolution iteration cap (found by the 10x stress run, r13), so the
#: declared DENSE_VOCAB_MAX=16384 (256 words) was unreachable.
DENSE_UNROLL_WORDS_MAX = 64

#: cost-model constant for the auto dispatch: one inverted-index join
#: row costs about this many bitset word-ops (derived from the r8
#: measurement the dense path was built on: N=5000/V=931 ran the dense
#: product 14x FASTER than the index join despite ~2.6x more raw word
#: ops — per-unit ratio ~36; 32 keeps a margin). auto picks dense iff
#: N^2/2 * ceil(V/64) <= DENSE_COST_RATIO * sum(df^2) — vocabulary size
#: alone is NOT the regime signal: the r13 10x stress corpus had V=9310
#: (<= DENSE_VOCAB_MAX) but per-shingle density 10x LOWER than the
#: dense assumption, so the block product was ~1000x the base work
#: while the index cost had grown only 10x.
DENSE_COST_RATIO = 32


def jaccard_near_dup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 2,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    strategy: str = "auto",
    dense_broadcast_max: int | None = None,
    dense_block_docs: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join. Returns
    (doc_a, doc_b, jaccard ≥ threshold).

    Two physical strategies for the same semantics — the regime is decided
    by the shingle vocabulary, because it controls whether similarity is
    sparse or dense:

    - ``index`` (sparse vocabulary — realistic text): inverted-index
      self-join. tok(doc, shingle) ⋈ tok on shingle → shared counts →
      jaccard = shared/(|A|+|B|−shared). Cost Σ_shingle df², two
      key-partitioned shuffles, no cross product. Hot stop-shingles are the
      skew risk → ``max_doc_freq`` prefix-filter cap.
    - ``dense`` (small vocabulary, e.g. ≤ DENSE_VOCAB_MAX distinct
      shingles): when every shingle appears in a large fraction of docs,
      Σdf² degenerates to ~N²·density and NO exact pruning can help (nearly
      every pair truly shares shingles — measured on the sf0.1 synthetic
      corpus: 931 distinct shingles, df p99=327, Σdf²=73M for N=5000). The
      optimal exact plan is then a bitset block product: encode each doc's
      shingle set as ⌈V/64⌉ longs, broadcast one side, and compute
      |A∩B| = Σ bit_count(a&b) as flat codegen arithmetic — zero shuffle in
      the pair stage (measured 14× over the index join on that corpus).
    - ``auto``: count the vocabulary (one cheap agg) and pick.
    """
    if strategy not in ("auto", "index", "dense"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if strategy == "dense" or strategy == "auto":
        sh = df.select(
            F.col(id_col).alias("doc"),
            F.explode(word_shingles(text_col, n)).alias("sh"),
        )
        if max_doc_freq:
            # the stop-shingle cap applies in BOTH strategies — identical
            # semantics regardless of the physical plan chosen
            hot = (
                sh.groupBy("sh")
                .agg(F.count(F.lit(1)).alias("df"))
                .filter(F.col("df") > max_doc_freq)
                .select("sh")
            )
            sh = sh.join(F.broadcast(hot), "sh", "left_anti")
        if strategy == "auto":
            # regime probe: HLL approx distinct — partial sketches merge
            # map-side, so the probe is one streaming pass over the postings
            # and never shuffles distinct shingle values. Deliberately NOT
            # persisted: in the sparse regime (real text, vocab >>
            # DENSE_VOCAB_MAX — the common case at 100 TB) the probe is the
            # only vocabulary pass and the exploded postings must not be
            # materialized into cache just to be discarded. Both strategies
            # are exact, so a borderline misroute only changes the physical
            # plan, never the result.
            approx = sh.agg(
                F.approx_count_distinct("sh", rsd=0.05).alias("v")
            ).first()["v"]
            if approx > DENSE_VOCAB_MAX * 1.2:
                return _jaccard_index(
                    df, id_col, text_col, n, threshold, max_doc_freq
                )
        # dense (or plausibly-dense) regime: the postings are read twice
        # (exact vocabulary + mask build) — cache them now, when we know the
        # relation is small. The cache is keyed by canonical plan, so
        # repeated calls on the same input reuse one entry; release with
        # unpersist after materialization or spark.catalog.clearCache().
        sh = track(sh.persist())
        dfreq = track(
            sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df")).persist()
        )
        stats = dfreq.agg(
            F.count(F.lit(1)).alias("v"),
            F.sum(F.col("df") * F.col("df")).alias("sumdf2"),
        ).first()
        n_vocab = stats["v"]
        pick_dense = strategy == "dense"
        if not pick_dense and n_vocab <= DENSE_VOCAB_MAX:
            # the regime signal is COST, not vocabulary size alone
            # (r13 stress finding: a small-vocab corpus whose shingles
            # are NOT dense across docs makes the N^2 block product
            # ~1000x the index join): dense iff its word-op count
            # undercuts the index join's Sigma df^2 row count at the
            # measured per-unit ratio. n_docs from the INPUT relation
            # (footer-driven count), not a distinct over the exploded
            # shingles — that extra shuffle job cost dedup_clusters_docs
            # +137% at sf0.1 (r13 closing bench, guard-remeasured). The
            # input count upper-bounds docs-with-shingles (short docs
            # drop out), which only biases the model TOWARD the index
            # path — the safe direction at scale.
            n_docs = df.count()
            nwords = (n_vocab + 63) // 64
            dense_ops = n_docs * n_docs / 2 * nwords
            pick_dense = dense_ops <= DENSE_COST_RATIO * float(
                stats["sumdf2"] or 0
            )
        if pick_dense:
            vocab = dfreq.select(
                "sh",
                (F.row_number().over(Window.orderBy("sh")) - 1).alias("pos"),
            )
            return _jaccard_dense(
                sh,
                vocab,
                n_vocab,
                threshold,
                broadcast_max=dense_broadcast_max,
                block_docs=dense_block_docs,
            )
        untrack(dfreq)
        untrack(sh)
        dfreq.unpersist()
        sh.unpersist()
    return _jaccard_index(df, id_col, text_col, n, threshold, max_doc_freq)


def _dense_overlap_scores(
    tok: DataFrame,
    key: str,
    vocab: DataFrame,
    n_vocab: int,
    *,
    min_ratio: float,
    broadcast_max: int | None = None,
    block_docs: int | None = None,
) -> DataFrame:
    """Dense-regime twin of ``_overlap_scores`` — same
    (doc_a, doc_b, shared, n_a, n_b) contract, bitset block product plan,
    restricted to pairs with ``shared / (n_a + n_b - shared) >=
    min_ratio`` (the Jaccard/resemblance threshold both consumers apply).
    ``vocab`` must map every ``key`` value to a dense 0-based ``pos``. The
    mask is unrolled into ⌈V/64⌉ scalar long columns so the pair loop is
    pure whole-stage-codegen arithmetic — no per-pair array allocation.

    The threshold is applied HERE, before the swap canonicalization, and
    not by the caller — load-bearing for the pair stage's constants (r14
    10x finding): a caller-side filter over the swapped columns makes the
    optimizer substitute the CASE WHEN swap expressions into the
    predicate it pushes into the pair join, and that conditional-laden
    condition defeats common-subexpression elimination — the ⌈V/64⌉-term
    intersection re-evaluates per candidate pair per reference (measured
    18x: 360 s vs 20 s at N=25k, identical plan shape otherwise). Both
    ``shared`` and ``n_a + n_b`` are swap-INVARIANT (integer addition
    commutes), so filtering on the pre-swap columns is bit-identical to
    filtering after the swap, and only surviving pairs pay the swap's
    conditionals.

    Two pair-stage plans, chosen by the materialized doc count (a small
    vocabulary bounds row WIDTH, never N):

    - N ≤ ``broadcast_max`` (default ``DENSE_DOCS_BROADCAST_MAX``): one side
      broadcast, zero shuffle in the pair stage;
    - N above it: hash-blocked triangular grid — both sides get a block id
      from ``xxhash64(doc) % B`` (B sized so a block's masks fit one task,
      ``DENSE_BLOCK_DOCS``), the tiny (bi ≤ bj) grid is broadcast, and the
      second join is an equi shuffle join on the block id. Every unordered
      pair lands in exactly one grid cell; per-task memory stays O(block),
      independent of N, so a large-N/small-V corpus degrades to shuffle
      instead of OOMing the driver.

    Two mask layouts, chosen by word count (r13, found by the 10x
    stress run): up to ``DENSE_UNROLL_WORDS_MAX`` words the mask
    unrolls into scalar long columns (flattest codegen for the pair
    loop); above it — the analyzer's resolution iteration cap dies on
    ~146 scalar columns through the self-join — the mask stays ONE
    array<long> column and |A∩B| is ``aggregate(zip_with(a, b, &),
    bit_count)``: one expression at ANY vocabulary up to
    ``DENSE_VOCAB_MAX``."""
    broadcast_max = (
        DENSE_DOCS_BROADCAST_MAX if broadcast_max is None else broadcast_max
    )
    block_docs = DENSE_BLOCK_DOCS if block_docs is None else block_docs
    nwords = (n_vocab + 63) // 64
    unroll = nwords <= DENSE_UNROLL_WORDS_MAX
    bits = (
        tok.join(F.broadcast(vocab), key)
        .select(
            "doc",
            (F.col("pos") / 64).cast("int").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias(
                "bit"
            ),
        )
        .groupBy("doc", "w")
        .agg(F.bit_or("bit").alias("word"))
        .groupBy("doc")
        .agg(
            F.map_from_entries(F.collect_list(F.struct("w", "word"))).alias("m"),
            F.sum(F.bit_count("word")).alias("n"),
        )
    )
    if unroll:
        masks = bits.select(
            "doc",
            "n",
            *[
                # m is a MAP keyed by word index — element_at does key lookup
                F.coalesce(
                    F.element_at("m", F.lit(w)), F.lit(0).cast("long")
                ).alias(f"w{w}")
                for w in range(nwords)
            ],
        )
    else:
        masks = bits.select(
            "doc",
            "n",
            F.transform(
                F.sequence(F.lit(0), F.lit(nwords - 1)),
                lambda w: F.coalesce(
                    F.element_at("m", w), F.lit(0).cast("long")
                ),
            ).alias("mask"),
        )
    # both pair sides read the mask relation; persisting it (a) pays the
    # groupBy aggregation once instead of per-side and (b) makes the N guard
    # count free at join time. Narrow rows (≤2 KB), bounded by the corpus.
    masks = track(masks.persist())
    n_docs = masks.count()
    if unroll:
        a = masks.select(
            F.col("doc").alias("doc_a"),
            F.col("n").alias("n_a"),
            *[F.col(f"w{w}").alias(f"a{w}") for w in range(nwords)],
        )
        b = masks.select(
            F.col("doc").alias("doc_b"),
            F.col("n").alias("n_b"),
            *[F.col(f"w{w}").alias(f"b{w}") for w in range(nwords)],
        )
        # seed the sum with a Column: on an empty vocabulary (nwords == 0,
        # e.g. an empty or all-blank corpus) a bare sum() yields the Python
        # int 0, which withColumn rejects
        inter = sum(
            (
                F.bit_count(F.col(f"a{w}").bitwiseAND(F.col(f"b{w}")))
                for w in range(nwords)
            ),
            F.lit(0).cast("long"),
        )
    else:
        a = masks.select(
            F.col("doc").alias("doc_a"),
            F.col("n").alias("n_a"),
            F.col("mask").alias("ma"),
        )
        b = masks.select(
            F.col("doc").alias("doc_b"),
            F.col("n").alias("n_b"),
            F.col("mask").alias("mb"),
        )
        inter = F.aggregate(
            F.zip_with(
                "ma", "mb", lambda x, y: F.bit_count(x.bitwiseAND(y))
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
    if n_docs <= broadcast_max:
        pairs = a.join(F.broadcast(b), F.col("doc_a") < F.col("doc_b"))
    else:
        nblocks = -(-n_docs // block_docs)
        grid = masks.sparkSession.createDataFrame(
            [(i, j) for i in range(nblocks) for j in range(i, nblocks)],
            "bi INT, bj INT",
        )
        a2 = a.withColumn(
            "bi", F.pmod(F.xxhash64("doc_a"), F.lit(nblocks)).cast("int")
        )
        b2 = b.withColumn(
            "bj", F.pmod(F.xxhash64("doc_b"), F.lit(nblocks)).cast("int")
        )
        pairs = (
            a2.join(F.broadcast(grid), "bi")
            .join(b2, "bj")
            # off-diagonal cells see each unordered pair once (only one of
            # (p,q)/(q,p) is in the triangular grid); the diagonal needs the
            # id order to halve itself
            .filter(
                (F.col("bi") < F.col("bj")) | (F.col("doc_a") < F.col("doc_b"))
            )
        )
    scored = (
        pairs.withColumn("shared", inter)
        # parity with the index join, which only ever emits pairs that
        # actually share a key
        .filter(F.col("shared") > 0)
        # the consumers' ratio threshold, on the PRE-swap columns (see
        # docstring): swap-invariant, so bit-identical to filtering the
        # canonicalized output — and it keeps the predicate the
        # optimizer pushes into the pair join free of the swap's CASE
        # WHENs, which is what keeps the join's per-pair evaluation in
        # the CSE'd fast regime
        .filter(
            F.col("shared")
            / (F.col("n_a") + F.col("n_b") - F.col("shared"))
            >= min_ratio
        )
    )
    # canonicalize to doc_a < doc_b — off-diagonal grid cells may emit the
    # pair with the larger id on the a side (shared is symmetric; n follows
    # its doc). No-op rows pass through the otherwise branch. Runs on the
    # few threshold survivors only.
    swap = F.col("doc_a") > F.col("doc_b")
    return scored.select(
        F.when(swap, F.col("doc_b")).otherwise(F.col("doc_a")).alias("doc_a"),
        F.when(swap, F.col("doc_a")).otherwise(F.col("doc_b")).alias("doc_b"),
        "shared",
        F.when(swap, F.col("n_b")).otherwise(F.col("n_a")).alias("n_a"),
        F.when(swap, F.col("n_a")).otherwise(F.col("n_b")).alias("n_b"),
    )


def _jaccard_dense(
    sh: DataFrame,
    vocab: DataFrame,
    n_vocab: int,
    threshold: float,
    *,
    broadcast_max: int | None = None,
    block_docs: int | None = None,
) -> DataFrame:
    """Dense-regime exact Jaccard: bitset block product (see
    ``jaccard_near_dup``). The threshold rides into the pair stage as
    ``min_ratio`` (pre-swap, CSE-safe — see ``_dense_overlap_scores``);
    the projection here only rounds the ratio of the survivors."""
    ov = _dense_overlap_scores(
        sh,
        "sh",
        vocab,
        n_vocab,
        min_ratio=threshold,
        broadcast_max=broadcast_max,
        block_docs=block_docs,
    )
    jac = F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared"))
    return ov.select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    )


def _overlap_scores(
    tok: DataFrame,
    key: str,
    *,
    n_col: str | None = None,
    min_ratio: float | None = None,
) -> DataFrame:
    """(doc, key) relation → (doc_a, doc_b, shared, n_a, n_b): the
    inverted-index self-join. Cost Σ_key df(key)² — key-partitioned
    shuffles only, never a cross product.

    ``n_col`` (r14): a column of ``tok`` carrying the per-doc key-set
    size. The CALLER owns the equality ``n_col == count(*) per doc``
    (e.g. ``size()`` of the pre-explode distinct-key array, with no
    post-explode filtering). The sizes then ride the postings into the
    pair join, which removes BOTH post-aggregation joins of the pair
    relation against the sizes aggregate — at scale those were two
    extra shuffles of the pair relation, which is much larger than the
    doc count (guide §3.3/§2.2); the widened shuffle pays one int per
    posting instead.

    ``min_ratio`` (requires ``n_col``): prune candidate pairs that
    cannot reach the consumers' final ratio threshold
    ``shared/(n_a+n_b-shared) >= min_ratio``. Since
    ``shared <= min(n_a, n_b)`` (sets), the ratio is bounded above by
    ``min(n_a,n_b)/max(n_a,n_b)``, so a pair with
    ``min < min_ratio*max`` can never survive the caller's filter —
    which stays in place; the prune only cuts rows below it. Applied
    INSIDE the pair join as plain pre-aggregation arithmetic (no CASE
    WHEN — CSE-safe, the _dense_overlap_scores lesson), it cuts both
    the pair aggregation's input rows and its key space. A 1e-9 slack
    absorbs floating point: the caller's filter divides exact (< 2^53)
    integers, so any double-filter survivor has true ratio >=
    min_ratio - O(2^-52), far inside the slack; the prune is therefore
    result-identical (pinned by tests/test_probabilistic.py boundary
    cases).
    """
    if n_col is None:
        sizes = tok.groupBy("doc").agg(F.count(F.lit(1)).alias("n"))
        t1 = tok.select(F.col("doc").alias("doc_a"), key)
        t2 = tok.select(F.col("doc").alias("doc_b"), key)
        pairs = (
            t1.join(t2, key)
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("shared"))
        )
        na = sizes.select(
            F.col("doc").alias("doc_a"), F.col("n").alias("n_a")
        )
        nb = sizes.select(
            F.col("doc").alias("doc_b"), F.col("n").alias("n_b")
        )
        return pairs.join(na, "doc_a").join(nb, "doc_b")
    t1 = tok.select(
        F.col("doc").alias("doc_a"), F.col(n_col).alias("n_a"), key
    )
    t2 = tok.select(
        F.col("doc").alias("doc_b"), F.col(n_col).alias("n_b"), key
    )
    joined = t1.join(t2, key).filter(F.col("doc_a") < F.col("doc_b"))
    if min_ratio is not None and min_ratio > 0:
        slack = F.lit(float(min_ratio) - 1e-9)
        joined = joined.filter(
            (F.col("n_a") >= slack * F.col("n_b"))
            & (F.col("n_b") >= slack * F.col("n_a"))
        )
    # n_a/n_b are functionally dependent on doc_a/doc_b, so grouping by
    # them adds no groups — it just carries the sizes through the
    # aggregate for free
    return (
        joined.groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .select("doc_a", "doc_b", "shared", "n_a", "n_b")
    )


def _jaccard_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
    max_doc_freq: int | None,
) -> DataFrame:
    if max_doc_freq:
        # the per-doc sizes must reflect the CAPPED shingle set (the
        # anti-join runs after the explode), so they need the groupBy
        # recount — keep the join-back shape
        tok = _shingle_index(df, id_col, text_col, n, max_doc_freq)
        ov = _overlap_scores(tok, "sh")
    else:
        # stage the shingle array so size() and the generator share one
        # evaluation per row (a non-cheap, multiply-referenced alias —
        # CollapseProject keeps the stages apart), and explode_outer so
        # InferFiltersFromGenerate cannot push an inlined size()>0
        # filter below the staging (the winnow lesson); empty docs
        # yield one NULL posting dropped by the cheap attribute filter.
        # This also drops the third full shingle pass the groupBy-sizes
        # branch used to pay.
        staged = df.select(
            F.col(id_col).alias("doc"),
            word_shingles(text_col, n).alias("_arr"),
        )
        tok = staged.select(
            "doc",
            F.size("_arr").alias("n"),
            F.explode_outer("_arr").alias("sh"),
        ).filter(F.col("sh").isNotNull())
        ov = _overlap_scores(tok, "sh", n_col="n", min_ratio=threshold)
    jac = F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared"))
    return ov.filter(jac >= threshold).select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    )


def winnow_near_dup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 5,
    w: int = 4,
    threshold: float = 0.3,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Near-dup pairs by winnowing-fingerprint overlap (the MOSS
    construction): winnow each document to its fingerprint set
    (functions/text.py winnow_fingerprints — ~1/w of the k-gram density),
    then the same inverted-index self-join as exact Jaccard but over the
    winnowed keys, so the index is ~w× smaller and Σdf² shrinks
    quadratically where fingerprints are spread. Returns
    (doc_a, doc_b, shared, resemblance) with resemblance =
    |A∩B| / |A∪B| over fingerprint sets, ≥ ``threshold``.

    The winnowing guarantee (shared substring ≥ w+k-1 ⇒ shared
    fingerprint) makes this position-robust: reordered/spliced passages
    still collide. ``max_doc_freq`` caps boilerplate fingerprints (the
    skew story is identical to jaccard's stop-shingles)."""
    fp = winnow_fingerprints(
        df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("_txt")),
        "_txt",
        k=k,
        w=w,
    )
    # explode_OUTER on purpose: plain explode lets InferFiltersFromGenerate
    # derive `size(fps) > 0` and push it below the staged winnow projections,
    # INLINING the whole fingerprint expression into the filter — which
    # re-evaluates the O(n) code array once per element_at reference and
    # turns the scan back into the O(n²·k)-per-row stall the staging exists
    # to prevent (measured: >240 s for 500 docs vs ~2 s staged). Outer
    # generate infers nothing; empty docs yield one NULL posting dropped by
    # the cheap attribute filter above the Generate.
    # without a doc-freq cap the per-doc fingerprint-set size is just
    # size(fps) — attach it at explode time so the sizes ride the
    # postings into the pair join (n_col path of _overlap_scores: no
    # post-aggregation sizes joins, and the ratio prune applies inside
    # the join). With a cap the sizes must be recounted after the
    # anti-join, so the groupBy join-back shape stays.
    n_col = None if max_doc_freq else "n"
    ncols = () if max_doc_freq else (F.size("fps").alias("n"),)
    tok = fp.select("doc", *ncols, F.explode_outer("fps").alias("fp")).filter(
        F.col("fp").isNotNull()
    )
    # the postings feed three plan branches (per-doc sizes + both sides of
    # the self-join); without a barrier the O(chars)-per-row winnow compute
    # re-evaluates once per branch. The winnowed relation is ~1/w of the
    # k-gram density — two narrow columns — so materializing it is cheap
    # next to recomputing the rolling hashes (measured ~2× at sf0.1).
    tok = track(tok.persist())
    if max_doc_freq:
        hot = (
            tok.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select("fp")
        )
        tok = tok.join(F.broadcast(hot), "fp", "left_anti")
    # same dense/sparse regime split as jaccard_near_dup: when the
    # fingerprint vocabulary is tiny (boilerplate-heavy corpora), Σdf²
    # degenerates toward N² and the inverted index cannot prune — the bitset
    # block product is then the optimal exact plan. Real 100 TB text has a
    # huge fingerprint vocabulary and takes the index branch; the HLL probe
    # is one streaming pass over the (already persisted) postings.
    # The dense decision is COST, not vocabulary size alone — the same
    # r13 jaccard finding, which this path had missed: the r14 10x tier
    # measured the size-only dispatch picking the N²/2·⌈V/64⌉ block
    # product on a 50k-doc corpus whose fingerprints were NOT dense
    # across docs (1726 s vs ~7 s for the index join it should have
    # routed — a plan the driver's sf0.1 bench could never surface).
    approx = tok.agg(F.approx_count_distinct("fp", rsd=0.05).alias("v")).first()[
        "v"
    ]
    ov = None
    if approx <= DENSE_VOCAB_MAX * 1.2:
        dfreq = track(
            tok.groupBy("fp").agg(F.count(F.lit(1)).alias("df")).persist()
        )
        stats = dfreq.agg(
            F.count(F.lit(1)).alias("v"),
            F.sum(F.col("df") * F.col("df")).alias("sumdf2"),
        ).first()
        n_vocab = stats["v"]
        pick_dense = False
        if n_vocab <= DENSE_VOCAB_MAX:
            # n_docs from the INPUT relation (footer-driven count) — it
            # upper-bounds docs-with-fingerprints, biasing the model
            # TOWARD the index path, the safe direction at scale
            n_docs = df.count()
            nwords = (n_vocab + 63) // 64
            dense_ops = n_docs * n_docs / 2 * nwords
            pick_dense = dense_ops <= DENSE_COST_RATIO * float(
                stats["sumdf2"] or 0
            )
        if pick_dense:
            vocab = dfreq.select(
                "fp",
                (F.row_number().over(Window.orderBy("fp")) - 1).alias("pos"),
            )
            # threshold applied INSIDE the pair stage (pre-swap,
            # CSE-safe — see _dense_overlap_scores); re-filtering the
            # swapped output here would push the CASE WHEN form of the
            # predicate back into the pair join
            ov = _dense_overlap_scores(
                tok, "fp", vocab, n_vocab, min_ratio=threshold
            )
        else:
            untrack(dfreq)
            dfreq.unpersist()
    res = F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared"))
    if ov is None:
        ov = _overlap_scores(
            tok,
            "fp",
            n_col=n_col,
            min_ratio=threshold if n_col else None,
        ).filter(res >= threshold)
    return ov.select(
        "doc_a",
        "doc_b",
        F.col("shared").cast("long").alias("shared"),
        F.round(res, 6).alias("resemblance"),
    )


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
) -> DataFrame:
    """Benchmark-contamination scan (the Dolma/GPT-3-style decontamination
    step, public in Brown et al. 2020 App. C): flag corpus documents that
    share any word n-gram with a benchmark/eval set. Returns
    (``id_col``, n_hits) for contaminated docs only — n_hits = how many of
    the doc's DISTINCT n-grams appear anywhere in the benchmark.

    Plan: the benchmark's distinct-shingle set is tiny next to the corpus
    (eval suites are MBs, corpora are TBs), so it is broadcast and the
    probe is a map-side hash join over the exploded corpus shingles — the
    corpus is read once, never shuffled on shingle. groupBy(doc) then
    reduces hits per doc (near-unique keys, skew-free)."""
    bench_sh = (
        benchmark.select(
            F.explode(word_shingles(text_col, n)).alias("sh")
        ).distinct()
    )
    corpus_sh = corpus.select(
        F.col(id_col), F.explode(word_shingles(text_col, n)).alias("sh")
    )
    return (
        corpus_sh.join(F.broadcast(bench_sh), "sh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, *, n: int = 2, num_hashes: int = 64
) -> DataFrame:
    """MinHash signature per document: sig[i] = min over shingles of
    xxhash64(i, xxhash64(shingle)) — hash the string once, derive the
    family by re-hashing the long. Documents with no shingles are absent.

    Shape: the signature is a per-row ARRAY FOLD over the document's
    shingle-hash array — no explode, no shuffle (the earlier row-explode
    form shuffled |docs|·|shingles|·num_hashes rows; measured 5× slower at
    sf0.1). The persist() between the shingle-hash projection and the fold
    is a deliberate CollapseProject barrier: inlined, the shingle pipeline
    would be re-expanded once per hash function, blowing up codegen ~64×.
    The cache is plan-keyed (repeat calls on the same input reuse one
    entry) and session-lived; release with unpersist after materializing
    or spark.catalog.clearCache().
    """
    h0s = df.select(
        F.col(id_col).alias("doc"),
        F.transform(word_shingles(text_col, n), lambda s: F.xxhash64(s)).alias(
            "h0s"
        ),
    )
    h0s = track(h0s.persist())
    return h0s.filter(F.size("h0s") > 0).select(
        "doc",
        F.transform(
            F.sequence(F.lit(0), F.lit(num_hashes - 1)),
            lambda i: F.array_min(F.transform("h0s", lambda h: F.xxhash64(i, h))),
        ).alias("sig"),
    )


def _md5_minhash_sig(num_hashes: int):
    """sig[i] = min over the "shs" column's shingles of the 16-hex-char md5
    prefix of (i || '|' || shingle) — shared by the signature and the
    banded-pipeline md5 variants."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(
            F.transform(
                F.col("shs"),
                lambda s: F.substring(
                    F.md5(F.concat_ws("|", i.cast("string"), s)), 1, 16
                ),
            )
        ),
    )


def minhash_signatures_md5(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 2,
    num_hashes: int = 16,
) -> DataFrame:
    """Oracle-reproducible MinHash variant: the hash family is
    ``substr(md5(i || '|' || shingle), 1, 16)`` and the per-function min is
    taken over the fixed-length lowercase-hex STRINGS — lexicographic min
    on equal-length hex equals numeric min, and any engine with md5 (DuckDB
    included) reproduces the signature byte-for-byte. The production path
    (:func:`minhash_signatures`) stays on xxhash64 (JVM-side, ~an order of
    magnitude cheaper); this family exists so the MinHash construction
    itself is hash-exact-testable, not just recall-tested.

    Returns ``(doc, n_sh, sig)`` — sig as one comma-joined string so the
    value survives any array-representation differences at compare time.
    Same persist barrier as the xxhash64 path: without it CollapseProject
    re-expands the shingle pipeline once per hash function.
    """
    shs = df.select(
        F.col(id_col).alias("doc"),
        word_shingles(text_col, n).alias("shs"),
    )
    shs = track(shs.persist())
    sig = _md5_minhash_sig(num_hashes)
    return shs.filter(F.size("shs") > 0).select(
        "doc",
        F.size("shs").cast("long").alias("n_sh"),
        F.concat_ws(",", sig).alias("sig"),
    )


def minhash_near_dup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 2,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash + LSH banding near-dup detection (sub-quadratic).

    Signature → ``bands`` band-hashes → explode → bucket join: only documents
    agreeing on at least one full band are candidates; candidates are then
    verified with exact shingle Jaccard. With 64 hashes / 16 bands / 4 rows
    the S-curve crosses ~0.5 — pairs ≥ threshold are found with high
    probability, pairs ≪ threshold almost never collide, so the verify join
    touches a tiny candidate set instead of all O(N²) pairs.
    """
    if num_hashes % bands:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes}) "
            f"evenly — trailing signature elements would silently "
            f"never be banded"
        )
    rows = num_hashes // bands
    sigs = minhash_signatures(
        df, id_col, text_col, n=n, num_hashes=num_hashes
    )
    # band rows from the signature array: band_hash folds each rows-sized
    # slice; one posexplode to bands (|docs|·bands rows — tiny)
    band = sigs.select(
        "doc",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice("sig", b * rows + 1, rows),
                            lambda x: x.cast("string"),
                        ),
                    )
                ),
            )
        ).alias("band_id", "band_hash"),
    )
    cands = (
        band.alias("x")
        .join(band.alias("y"), ["band_id", "band_hash"])
        .filter(F.col("x.doc") < F.col("y.doc"))
        .select(F.col("x.doc").alias("doc_a"), F.col("y.doc").alias("doc_b"))
        .distinct()
    )
    # verify candidates with exact Jaccard. The candidate set is tiny
    # relative to the corpus (that's the point of banding), so BROADCAST it
    # into both verify joins — otherwise Spark shuffles every document's
    # full shingle array just to match a handful of candidate ids.
    cands = F.broadcast(cands)
    sh_a = df.select(
        F.col(id_col).alias("doc_a"), word_shingles(text_col, n).alias("sh_a")
    )
    sh_b = df.select(
        F.col(id_col).alias("doc_b"), word_shingles(text_col, n).alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter / union
    return (
        cands.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def simhash(
    df: DataFrame, id_col: str, text_col: str, *, n: int = 2
) -> DataFrame:
    """64-bit SimHash: per shingle hash, each bit votes ±1; fingerprint bit i
    is the sign of the vote sum. Fold over the shingle array — per-row,
    no shuffle."""
    sh = word_shingles(text_col, n)
    zeros = F.array_repeat(F.lit(0), 64)
    votes = F.aggregate(
        sh,
        zeros,
        lambda acc, s: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(63)),
                lambda i: (
                    F.call_function("shiftright", F.xxhash64(s), i).bitwiseAND(
                        F.lit(1)
                    )
                ).cast("int")
                * 2
                - 1,
            ),
            lambda a, b: a + b,
        ),
    )
    bits = F.transform(votes, lambda v: (v > 0).cast("long"))
    fp = F.aggregate(
        F.zip_with(
            bits,
            F.sequence(F.lit(0), F.lit(63)).cast("array<long>"),
            lambda b, i: F.when(
                b == 1,
                F.call_function("shiftleft", F.lit(1).cast("long"), i.cast("int")),
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseXOR(x),
    )
    return df.select(F.col(id_col).alias("doc"), fp.alias("simhash64"))


def minhash_md5_near_dup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 2,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.4,
) -> DataFrame:
    """The FULL banded-LSH near-dup pipeline on the oracle-reproducible md5
    hash family: signature → band keys → bucket-join candidates →
    exact-Jaccard verification. Every stage is deterministic and
    engine-portable, so the end-to-end LSH construction (not just recall)
    is oracle-verifiable; the production pipeline
    (:func:`minhash_near_dup`) keeps xxhash64 + the skew-capped verify.

    Returns ``(doc_a, doc_b, jaccard)`` for candidate pairs at or above
    ``threshold`` — note: LSH candidates only, so a pair the banding never
    buckets together is absent by design in BOTH engines identically."""
    if num_hashes % bands:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes}) "
            f"evenly — trailing signature elements would silently "
            f"never be banded"
        )
    rows = num_hashes // bands
    base = df.select(
        F.col(id_col).alias("doc"),
        word_shingles(text_col, n).alias("shs"),
    ).filter(F.size("shs") > 0)
    base = track(base.persist())
    sig = _md5_minhash_sig(num_hashes)
    band = base.select("doc", sig.alias("sig")).select(
        "doc",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.concat_ws(
                    ",", F.slice("sig", b * rows + 1, rows)
                ),
            )
        ).alias("band", "key"),
    )
    cand = (
        band.alias("a")
        .join(
            band.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b")
        )
        .distinct()
    )
    jac = F.round(
        F.size(F.array_intersect("sa", "sb"))
        / F.size(F.array_union("sa", "sb")),
        6,
    )
    return (
        cand.join(base.select(F.col("doc").alias("doc_a"),
                              F.col("shs").alias("sa")), "doc_a")
        .join(base.select(F.col("doc").alias("doc_b"),
                          F.col("shs").alias("sb")), "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_md5(
    df: DataFrame, id_col: str, text_col: str, *, n: int = 2, bits: int = 32
) -> DataFrame:
    """Oracle-reproducible SimHash variant (same role as
    :func:`minhash_signatures_md5`): the per-shingle hash is the first 8
    hex chars of md5 as an unsigned 32-bit integer — both engines can
    derive it (Spark ``conv(hex,16,10)``; DuckDB hex-digit fold) — and the
    fingerprint is the standard Charikar sign-of-votes over ``bits`` bits.
    Production stays on the 64-bit xxhash64 path (:func:`simhash`)."""
    zeros = F.array_repeat(F.lit(0), bits)

    def h32(s):
        return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")

    votes = F.aggregate(
        F.col("_sh"),
        zeros,
        lambda acc, s: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(bits - 1)),
                lambda i: (
                    F.call_function("shiftright", h32(s), i.cast("int"))
                    .bitwiseAND(F.lit(1))
                ).cast("int")
                * 2
                - 1,
            ),
            lambda a, b: a + b,
        ),
    )
    fp = F.aggregate(
        F.zip_with(
            votes,
            F.sequence(F.lit(0), F.lit(bits - 1)).cast("array<long>"),
            lambda v, i: F.when(
                v > 0,
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), i.cast("int")
                ),
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseXOR(x),
    )
    return (
        df.select(
            F.col(id_col).alias("doc"),
            word_shingles(text_col, n).alias("_sh"),
        )
        .filter(F.size("_sh") > 0)
        .select("doc", fp.alias(f"simhash{bits}"))
    )


def hamming_near_dup(
    fp: DataFrame,
    id_col: str,
    fp_col: str,
    *,
    bits: int,
    max_hamming: int = 3,
) -> DataFrame:
    """Pigeonhole near-dup pairs over ANY integer fingerprint column
    (SimHash, dHash/pHash perceptual hashes, …) — the shared blocking
    machinery of :func:`simhash_near_dup`, :func:`simhash_md5_near_dup`
    and :func:`~bambooai_spark.operators.multimodal.image_near_dup`:
    split the ``bits``-bit fingerprint into ``max_hamming+1`` equal
    blocks (two fingerprints within ``max_hamming`` bits MUST agree on
    at least one whole block — Manku et al., WWW'07, public
    construction), equality-join on ``(block_id, block_val)``
    (key-partitioned, never a cross product), exact popcount verify.
    Returns ``(doc_a, doc_b, hamming <= max_hamming)``."""
    k = max_hamming + 1
    if bits % k:
        raise ValueError(
            f"blocks ({k} = max_hamming+1) must divide bits (" f"{bits}) evenly"
        )
    width = bits // k
    # the fingerprint frame feeds BOTH legs of the self-join —
    # unpersisted, the fingerprint pass (a SimHash shingle fold, or a
    # dHash DECODE of every image payload) would run twice (plan audit
    # r10); (doc, fp) rows are tiny, so cache them and let
    # release_caches() reclaim
    fp = track(
        fp.select(F.col(id_col).alias("doc"), F.col(fp_col)).persist()
    )
    blk = fp.select(
        "doc",
        F.col(fp_col).alias("_fp"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(k - 1)),
                lambda b: F.call_function(
                    "shiftrightunsigned", F.col(fp_col), (b * width).cast("int")
                ).bitwiseAND(F.lit((1 << width) - 1)),
            )
        ).alias("block_id", "block_val"),
    )
    a = blk.select(
        F.col("doc").alias("doc_a"), F.col("_fp").alias("fp_a"),
        "block_id", "block_val",
    )
    b = blk.select(
        F.col("doc").alias("doc_b"), F.col("_fp").alias("fp_b"),
        "block_id", "block_val",
    )
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        a.join(b, ["block_id", "block_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", ham.cast("long").alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_md5_near_dup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 2,
    max_hamming: int = 3,
    bits: int = 32,
) -> DataFrame:
    """End-to-end pigeonhole near-dup on the oracle-reproducible md5
    SimHash (:func:`simhash_md5`), the companion of
    :func:`minhash_md5_near_dup`: fingerprint → :func:`hamming_near_dup`
    blocks → equality-join candidates → exact popcount verify. Every
    stage is deterministic and engine-portable, so the whole
    construction is oracle-verifiable; production stays on the 64-bit
    xxhash64 path (:func:`simhash_near_dup`). Returns
    ``(doc_a, doc_b, hamming)``."""
    fp = simhash_md5(df, id_col, text_col, n=n, bits=bits)
    return hamming_near_dup(
        fp, "doc", f"simhash{bits}", bits=bits, max_hamming=max_hamming
    )


def simhash_near_dup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 2,
    max_hamming: int = 3,
    blocks: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs via the pigeonhole block join (the standard
    sub-quadratic simhash dedup, cf. Manku et al., WWW'07 — public
    construction): split the 64-bit fingerprint into ``max_hamming+1``
    blocks; two fingerprints within ``max_hamming`` bits MUST agree on at
    least one whole block, so candidates come from equality joins on block
    values (key-partitioned, no cross product), then exact popcount
    verification. Returns (doc_a, doc_b, hamming ≤ max_hamming)."""
    k = blocks or (max_hamming + 1)
    width = 64 // k
    fp = simhash(df, id_col, text_col, n=n)
    blk = fp.select(
        "doc",
        "simhash64",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(k - 1)),
                lambda b: F.call_function(
                    "shiftrightunsigned", F.col("simhash64"), (b * width).cast("int")
                ).bitwiseAND(F.lit((1 << width) - 1)),
            )
        ).alias("block_id", "block_val"),
    )
    a = blk.select(
        F.col("doc").alias("doc_a"), F.col("simhash64").alias("fp_a"),
        "block_id", "block_val",
    )
    b = blk.select(
        F.col("doc").alias("doc_b"), F.col("simhash64").alias("fp_b"),
        "block_id", "block_val",
    )
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        a.join(b, ["block_id", "block_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def embedding_near_dup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    block_col: str | None = None,
    threshold: float = 0.95,
    allow_full_cross: bool = False,
) -> DataFrame:
    """Embedding-cosine near-dup pairs. ``block_col`` (cluster label, LSH
    bucket, shard key…) bounds the self-join. Without a block key this is
    the full N² cross product — refused unless ``allow_full_cross=True`` is
    passed explicitly, so generated code can't trip an N² plan by omission.
    At scale, feed the bucket id from ``similarity.precompute_buckets``."""
    if block_col is None and not allow_full_cross:
        raise ValueError(
            "embedding_near_dup without block_col is a full N^2 cross join; "
            "pass a block key (cluster label / LSH bucket from "
            "similarity.precompute_buckets) or opt in with "
            "allow_full_cross=True for small N"
        )
    # squared norms are per-ROW facts: fold them once per side before
    # the pair join (guide §1.2 per-task work / §2.3 shuffle fewer
    # bytes of compute). cosine(v_a, v_b) inline is THREE interpreted
    # O(dim) aggregate folds per candidate pair (dot(a,b), dot(a,a),
    # dot(b,b)) — and the threshold predicate is pushed into the join
    # condition, so every candidate pays all three. With the norms
    # precomputed the per-pair work is ONE fold plus scalar sqrt/div:
    # measured 2.9x on the semdedup pair stage at the r14 10x tier.
    # Bit-identical: dot(v, v) on the row is the same sequential fold
    # as cosine()'s internal l2_norm, and the sqrt/multiply/divide
    # order is unchanged.
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("v_a"),
        dot(vec_col, vec_col).alias("_n2a"),
        *( [F.col(block_col).alias("blk")] if block_col else []),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("v_b"),
        dot(vec_col, vec_col).alias("_n2b"),
        *( [F.col(block_col).alias("blk")] if block_col else []),
    )
    joined = a.join(b, ["blk"]) if block_col else a.crossJoin(b)
    cos = dot("v_a", "v_b") / (
        F.sqrt(F.col("_n2a")) * F.sqrt(F.col("_n2b"))
    )
    return (
        joined.filter(F.col("id_a") < F.col("id_b"))
        .filter(cos >= threshold)
        .select(
            "id_a", "id_b", F.round(cos, 6).alias("cosine")
        )
    )


#: pair graphs at or under this edge count resolve with one driver-side
#: union-find pass instead of the iterative join loop — same hybrid stance
#: as IVF's bounded driver-side training: near-dup edge lists are the
#: SMALL side of the pipeline (pairs above threshold), and one collect of
#: ≤1M id pairs beats 2·diameter shuffle jobs of loop latency.
DRIVER_CC_MAX_EDGES = 1_000_000


def _driver_union_find(
    nodes: DataFrame, edge_rows, node_col: str
) -> DataFrame:
    """Exact min-label components from a collected edge list: path-halving
    union-find keyed on node id with the component minimum tracked at the
    root. Output joins back broadcast (labels ≤ 2·edges rows)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            parent[r] = parent[parent[r]]  # path halving
            r = parent[r]
        return r

    for a, b in edge_rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min: the smaller id becomes the root, so the root IS
            # the component minimum — the cluster_id contract for free
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra

    spark = nodes.sparkSession
    id_type = nodes.schema[node_col].dataType
    from pyspark.sql.types import StructField, StructType  # noqa: PLC0415

    schema = StructType(
        [StructField("node", id_type), StructField("_cc", id_type)]
    )
    labels = spark.createDataFrame(
        [(n, find(n)) for n in parent], schema
    )
    return (
        nodes.select(F.col(node_col).alias("node"))
        .join(F.broadcast(labels), "node", "left")
        .select(
            "node", F.coalesce("_cc", "node").alias("cluster_id")
        )  # isolated nodes are their own component
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 30,
    driver_max_edges: int | None = DRIVER_CC_MAX_EDGES,
) -> DataFrame:
    """Connected components over a near-dup pair graph by iterative
    min-label propagation. Returns ``(node, cluster_id)`` where
    ``cluster_id`` is the minimum node id in the component — the standard
    "cluster then keep one canonical doc" step after any fuzzy-dedup join
    (reference analog: the strong-match collapse in qa_retrieval.py:157-202,
    generalized to transitive duplicate groups).

    Scale story: each round is one key-partitioned shuffle join of the
    symmetrized edge list against the label relation plus a min-combine
    (map-side partial agg). Rounds needed = component diameter; near-dup
    components are shallow hub-and-spoke clusters around a template, so
    3-5 rounds is typical. Labels are ``localCheckpoint``-ed per round to
    truncate lineage (otherwise the plan doubles every iteration); on a
    real cluster use ``spark.sparkContext.setCheckpointDir`` + reliable
    checkpoints for fault tolerance. The convergence check (one count per
    round) is the standard driver-side control loop of iterative graph
    algorithms — it inspects a scalar, never row data.

    Hybrid regime: edge lists at or under ``driver_max_edges`` short-circuit
    to one exact union-find pass on the driver (see ``_driver_union_find``)
    — the edge count is checked on the PERSISTED pair relation, so the
    similarity join underneath computes once either way. Pass
    ``driver_max_edges=None`` to force the distributed loop.
    """
    e0 = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).persist()
    if driver_max_edges is not None and e0.count() <= driver_max_edges:
        out = _driver_union_find(nodes, e0.collect(), node_col)
        e0.unpersist()
        return out
    e = e0.union(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    e = e.persist()
    labels = nodes.select(
        F.col(node_col).alias("node"), F.col(node_col).alias("label")
    ).localCheckpoint(eager=True)
    for _ in range(max_iter):
        prop = (
            e.join(labels.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"), "label")
            .groupBy("node")
            .agg(F.min("label").alias("nbr"))
        )
        merged = labels.join(prop, "node", "left").select(
            "node",
            "label",
            F.least(F.col("label"), F.coalesce("nbr", "label")).alias("new_label"),
        ).localCheckpoint(eager=True)
        changed = merged.filter(F.col("new_label") < F.col("label")).count()
        labels = merged.select("node", F.col("new_label").alias("label"))
        if changed == 0:
            break
    e.unpersist()
    e0.unpersist()
    return labels.select("node", F.col("label").alias("cluster_id"))


#: rows-per-cell target when ``semantic_dedup`` derives its own cell
#: count: cells sized so the within-cell pair work totals
#: ~N * TARGET / 2 comparisons — the published SemDeDup operating point
#: (LAION-2B used ~50k clusters, i.e. ~40k rows/cell).
SEMDEDUP_TARGET_CELL_ROWS = 100_000

#: refuse the within-cell pair join when the ACTUAL Sum |cell|*(|cell|-1)/2
#: (measured on the persisted assignment, so skew counts) exceeds this —
#: the same "generated code can't trip an N² plan by omission" stance as
#: ``embedding_near_dup``'s allow_full_cross. The derived-cells default
#: sits at ~N*TARGET/2, under this bound up to N ~ 2e9 docs.
SEMDEDUP_MAX_CELL_PAIRS = 1e14


def semdedup_cell_count(
    n_rows: int, target_cell_rows: int = SEMDEDUP_TARGET_CELL_ROWS
) -> int:
    """Cell count ``semantic_dedup`` derives when the caller omits both
    ``centroids`` and ``n_cells``: enough cells that the average cell
    holds ``target_cell_rows`` rows (floor of 16 so tiny corpora still
    quantize), keeping the within-cell pair work ~``N * target / 2``
    regardless of corpus size."""
    if target_cell_rows < 1:
        raise ValueError("target_cell_rows must be >= 1")
    return max(16, -(-n_rows // target_cell_rows))  # ceil div


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    centroids=None,
    n_cells: int | None = None,
    target_cell_rows: int = SEMDEDUP_TARGET_CELL_ROWS,
    max_cell_pairs: float | None = SEMDEDUP_MAX_CELL_PAIRS,
    threshold: float = 0.95,
    assign: str = "numpy",
    cell_col: str = "cell",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., 2023, public
    method): cluster the embeddings with a coarse quantizer, compare
    ONLY within each cluster, and drop every document that has a
    smaller-id same-cluster neighbor with cosine >= ``threshold``.
    Returns the SURVIVORS (all input columns + their ``cell_col``).

    The 100 TB story is the clustering bound: the pair join is
    Σ_cell |cell|² instead of N² — exactly why the published method
    clusters first — and each cell's pairs co-locate under one shuffle
    key. The drop rule is the pair rule, not a transitive closure: a
    document is dropped iff ANY smaller same-cell id is similar, dropped
    or not (the same orientation-free rule as the near-dup admission
    gate's within-batch pass, and the published method's
    keep-one-per-pair sweep — no iterative connectivity needed).

    ``assign="numpy"`` uses the Arrow-batched vectorized assignment
    (production); ``assign="exact"`` uses the engine-portable SQL
    dot-product expansion with cell-id tie-break — pair it with
    :func:`~bambooai_spark.operators.similarity.md5_centroids` and the
    WHOLE pipeline (assign → block → pair rule → survivors) replays
    hash-exact in DuckDB (the suite's ``semdedup_embeddings`` oracle).
    ``centroids=None`` trains k-means on a bounded sample
    (:func:`~bambooai_spark.operators.similarity.train_ivf_centroids`).

    Scale guards (same by-omission stance as ``embedding_near_dup``):

    - when BOTH ``centroids`` and ``n_cells`` are omitted, the cell count
      is derived from the corpus size — ``max(16, ceil(N /
      target_cell_rows))`` — instead of a fixed small constant, so the
      within-cell pair work stays ~``N * target_cell_rows / 2`` no matter
      how big the input is (one ``count()`` scan, paid only on this path);
    - the pair-join size is guarded against ``max_cell_pairs`` in three
      tiers priced by how decisive they are: the balanced estimate
      ``N²/(2k)`` is the Cauchy-Schwarz MINIMUM of the true within-cell
      pair count, so exceeding the bound there refuses with no extra
      job beyond one count; when even the one-cell WORST case
      ``N(N-1)/2`` fits the bound the guard is free; only in the band
      between (where skew alone decides) is the ACTUAL
      ``Sum |cell|*(|cell|-1)/2`` measured on the persisted assignment
      (one bounded agg). Fix a refusal by raising ``n_cells`` / passing
      more centroids, or opt in explicitly with ``max_cell_pairs=None``
      for corpora you know are safe.
    """
    import numpy as np  # noqa: PLC0415

    from bambooai_spark.operators.similarity import (  # noqa: PLC0415
        spread_if_narrow,
        ivf_assign,
        ivf_assign_exact,
        train_ivf_centroids,
    )

    if assign not in ("numpy", "exact"):
        raise ValueError(f"assign must be numpy|exact, got {assign!r}")
    if cell_col in df.columns:
        raise ValueError(f"input already has a {cell_col!r} column")
    n_rows: int | None = None
    if centroids is None:
        if n_cells is None:
            n_rows = df.count()
            n_cells = semdedup_cell_count(n_rows, target_cell_rows)
        centroids = train_ivf_centroids(df, vec_col, n_cells=n_cells)
    cents = [[float(x) for x in c] for c in np.asarray(centroids)]
    check_skew = False
    if max_cell_pairs is not None:
        if n_rows is None:
            n_rows = df.count()
        k = max(1, len(cents))
        lower = n_rows * n_rows / (2.0 * k)  # balanced = provable minimum
        upper = n_rows * (n_rows - 1) / 2.0  # everything in one cell
        if lower > max_cell_pairs:
            raise ValueError(
                f"semantic_dedup: even perfectly balanced cells give "
                f"~{lower:.3g} within-cell pairs (N={n_rows}, k={k}) > "
                f"max_cell_pairs={max_cell_pairs:.3g} — the pair join "
                "would approach N^2. Raise n_cells / pass more centroids "
                "(target ~N/target_cell_rows cells), or opt in "
                "explicitly with max_cell_pairs=None."
            )
        # only when skew ALONE could cross the bound is the exact
        # per-cell measurement worth a job of its own
        check_skew = upper > max_cell_pairs
    if assign == "exact":
        assigned = ivf_assign_exact(
            df, id_col, vec_col, cents, out_col=cell_col
        )
    else:
        assigned = ivf_assign(
            df, vec_col, np.asarray(cents, dtype=np.float64),
            out_col=cell_col,
        )
    # the assignment lineage feeds BOTH legs of the self-join and the
    # final anti-join — unpersisted it would recompute the (cross-join
    # argmin / Arrow distance pass) three times per call (review r9);
    # tracked so release_caches() reclaims it, as connected_components
    # does for its reused edge frame
    # spread BEFORE persisting: the row-local exact assignment keeps the
    # scan's partitioning, and the within-cell pair join's cosine loop —
    # the operator's dominant compute — runs on the cached relation's
    # partitioning (broadcast self-join: no exchange intervenes)
    assigned = track(spread_if_narrow(assigned, id_col).persist())
    if check_skew:
        est = (
            assigned.groupBy(cell_col)
            .count()
            .agg(
                F.sum(
                    F.col("count") * (F.col("count") - F.lit(1)) / F.lit(2.0)
                ).alias("pairs")
            )
            .collect()[0]["pairs"]
        )
        if est is not None and est > max_cell_pairs:
            raise ValueError(
                f"semantic_dedup: measured within-cell pair count "
                f"{est:.3g} exceeds max_cell_pairs={max_cell_pairs:.3g} "
                "— the clustering is too SKEWED for this corpus and the "
                "pair join would approach N^2. Raise n_cells / pass "
                "more centroids (target ~N/target_cell_rows cells), or "
                "opt in explicitly with max_cell_pairs=None."
            )
    pairs = embedding_near_dup(
        assigned, id_col, vec_col, block_col=cell_col, threshold=threshold
    )
    drops = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return assigned.join(drops, id_col, "left_anti")


def _gram_row_bytes(k: int, dup_grams: DataFrame) -> int:
    """Per-row byte estimate for broadcasting a gram relation: k gram
    chars + ~28 B of row/cnt framing, plus the ``first`` occurrence
    struct (~24 B of id+pos+framing) when the relation carries one —
    keep_first stores do, and ignoring it admitted ~1.5x the intended
    64 MB broadcast cap (ADVICE r13)."""
    return k + 28 + (24 if "first" in dup_grams.columns else 0)


def exact_substring_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 25,
    min_count: int = 2,
    keep_first: bool = False,
    min_len: int | None = None,
    gram_store_path: str | None = None,
    dup_grams: DataFrame | None = None,
    compose_delta: bool | str = True,
) -> DataFrame:
    """Maximal exactly-duplicated character spans across the corpus — the
    span inventory of ExactSubstr deduplication (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better", public
    method). Returns ``(id_col, span_start, span_end, span_len)`` with
    1-based inclusive character offsets.

    Construction (the distributed stand-in for the paper's suffix array):

    1. every character ``k``-gram becomes a posting ``(id, pos, gram)``;
    2. a gram is *duplicated* when it occurs >= ``min_count`` times
       corpus-wide (one hash-partitioned groupBy with map-side partials —
       true duplicates are the only hot keys);
    3. duplicated positions merge into maximal spans per document with
       the gaps-and-islands trick (``pos - row_number()`` is constant
       exactly on a run of consecutive starts), so two overlapping
       duplicated grams never double-report: a shared substring of
       length L >= k yields ONE span of length L.

    ``keep_first=True`` exempts each gram's first occurrence (ordered by
    ``(id, pos)``) so the earliest copy of a duplicated region survives a
    downstream cut — the paper's "all but one" policy at gram grain. The
    first occurrence is ``min(struct(id, pos))`` from the SAME groupBy
    that counts the gram, so the policy costs no extra exchange.

    100 TB story: the text column never shuffles — only ``(id, pos,
    k-byte gram)`` postings, the same O(total chars) row class the
    tokenizer already pays. Per-gram stats come from a real
    ``groupBy("gram")`` — ``count(*)`` plus (for ``keep_first``)
    ``min(struct(id, pos))`` — so map-side partial aggregation collapses
    each partition's postings for a corpus-wide boilerplate gram to ONE
    row before the exchange: the hot key never funnels its full posting
    list into a single task's sort (a window over the gram key would).
    Postings then join back to the duplicated-gram relation on ``gram``
    — an equi-join AQE can both broadcast (the duplicated-gram side is
    usually tiny) and skew-split at runtime, unlike a window exchange.
    The islands window partitions by document, so its state is bounded
    by the longest document, not the corpus.

    ``gram_store_path`` — a :mod:`~bambooai_spark.operators.gram_store`
    store built over THIS relation (same ``k``/``min_count``; same
    ``id_col`` when ``keep_first``): the stats-side postings explode —
    half the operator's cost — is skipped and the duplicated-gram
    relation (with each gram's first occurrence) is read from the
    store instead. Freshness is EXACT, not heuristic, whenever the
    store carries a file inventory (parquet files are immutable, so
    file-set identity is the staleness signal — ADVICE r12):

    - inventory == ``df``'s scan files (and row counts agree, catching
      a filter above the scan): the store is current; use it as-is.
    - inventory is a PROPER SUBSET of the scan files (the corpus grew
      by appended files) and the store was built with
      ``delta_support=True``: the stored counts are composed with the
      appended files' counts in-flight —
      :func:`~bambooai_spark.operators.gram_store.composed_dup_grams`
      — still equal to the from-scratch computation, at O(delta) stats
      cost. ``compose_delta=False`` refuses instead (plan pinning);
      ``"force"`` skips the composition's cost dispatches (frac /
      cost-model / suspect-cap gates, calibrated for local CPU costs)
      but never its exactness guards — for network-bound clusters
      where the skipped posting shuffle dominates, and for plan tests.
      The default ``True`` composes only where the r13-measured cost
      model says it beats the inline pass, else silently runs inline
      (identical output).
    - anything else (files rewritten/deleted/moved): refuse — an
      in-place ``update_corpus`` preserves the row count, so only the
      file identity can see it.

    For inventory-less stores (built from a non-file relation) the
    meta's ``n_rows`` vs ``df.count()`` check is the HEURISTIC
    fallback: it cannot see same-cardinality rewrites. ``dup_grams``
    passes a pre-built relation directly (``gram`` [, ``first``
    struct<i,p> for ``keep_first``]); the caller owns its freshness.
    """
    if k < 2:
        raise ValueError("exact_substring_spans: k must be >= 2")
    if min_count < 2:
        raise ValueError("exact_substring_spans: min_count must be >= 2")
    if gram_store_path is not None and dup_grams is not None:
        raise ValueError(
            "exact_substring_spans: pass gram_store_path OR dup_grams, "
            "not both"
        )
    if gram_store_path is not None:
        from bambooai_spark.operators.gram_store import (  # noqa: PLC0415
            read_gram_store,
        )

        dup_grams, smeta = read_gram_store(
            df.sparkSession, gram_store_path, k=k
        )
        if smeta.get("min_count") != min_count:
            raise ValueError(
                f"gram store at {gram_store_path} was built with "
                f"min_count={smeta.get('min_count')}, caller expects "
                f"{min_count} — rebuild the store or match it"
            )
        if smeta.get("text_col", text_col) != text_col:
            raise ValueError(
                f"gram store at {gram_store_path} was built over "
                f"text_col={smeta.get('text_col')!r}, this call scans "
                f"{text_col!r} — the store's grams describe a different "
                "column; build a store over this one"
            )
        if not smeta.get("counts_exact", True):
            raise ValueError(
                f"gram store at {gram_store_path} was last refreshed "
                "delta-only: its counts carry the documented "
                "singleton+singleton lag, so spans would differ from "
                "the from-scratch computation — run a full "
                "refresh_gram_store first (the ingest GATE may keep "
                "using it; batch surgery must not)"
            )
        if keep_first and smeta.get("id_col") != id_col:
            raise ValueError(
                f"keep_first needs the store's first-occurrence column "
                f"over id_col={id_col!r}; the store at {gram_store_path} "
                f"was built with id_col={smeta.get('id_col')!r} — "
                "rebuild it with build_gram_store(..., id_col=...)"
            )
        from bambooai_spark.operators.gram_store import (  # noqa: PLC0415
            _read_file_inventory,
            composed_dup_grams,
        )

        # BOTH freshness branches below need df's row count (the as-is
        # branch checks it against the store's n_rows; the composed
        # branch checks n_rows + delta rows), so the count job rides a
        # side leg under the inventory read + inputFiles listing instead
        # of serializing after them; a stale-store raise cancels it
        with overlapped(df.sparkSession, "exact_substring_spans") as ov:
            fcount = ov.submit(df.count)
            inv = (
                _read_file_inventory(df.sparkSession, gram_store_path)
                if smeta.get("has_files")
                else None
            )
            try:
                cur = set(df.inputFiles())
            except Exception:
                cur = set()
            grew = inv is not None and cur and inv < cur and compose_delta
            if not grew and inv is not None and cur and inv != cur:
                raise ValueError(
                    f"gram store at {gram_store_path} is stale: its "
                    "file inventory does not match the relation's scan "
                    "files (files were rewritten, deleted, or moved — "
                    "or compose_delta=False over appended files); "
                    "refresh_gram_store (full) first. File identity is "
                    "the exact signal: an in-place rewrite preserves "
                    "the row count (ADVICE r12)"
                )
            n_now = fcount.result()
        if grew:
            # the corpus GREW by appended files since the (exact) build:
            # compose stored counts with the delta files' counts —
            # output still equals the from-scratch computation, at
            # O(delta) stats cost (VERDICT r12 #3). None = the store's
            # suspect-count dispatch chose the inline pass (the delta
            # shares too many old-singleton grams with the base for the
            # targeted recount to beat a from-scratch stats pass — r13
            # stress measurement); fall through with dup_grams unset and
            # the from-scratch groupBy below computes the same relation.
            dup_grams = composed_dup_grams(
                df, gram_store_path, smeta, inv, cur,
                min_count=min_count, text_col=text_col,
                id_col=id_col if keep_first else None,
                force=compose_delta == "force",
                n_df=n_now,
            )
            if dup_grams is not None:
                # materialize the composed union and broadcast-hint it
                # when broadcast-sized: the union-of-joins lineage has
                # no runtime stats, so without this the probe join
                # falls to sort-merge and SHUFFLES the full postings
                # relation — measured 1.6-1.9x the inline pass at the
                # r13 10x stress even on the composition's favorable
                # shapes (the inline dup, by contrast, arrives through
                # a shuffle AQE measures and broadcasts on its own; the
                # ungrown warm-store path is a parquet scan with
                # footer-accurate stats and needs no hint)
                from bambooai_spark.caching import track  # noqa: PLC0415

                dup_grams = track(dup_grams.persist())
                n_dup = dup_grams.count()
                if n_dup * _gram_row_bytes(k, dup_grams) <= 64 * 1024 * 1024:
                    dup_grams = F.broadcast(dup_grams)
        else:
            if smeta.get("n_rows") != n_now:
                raise ValueError(
                    f"gram store at {gram_store_path} is stale: built "
                    f"over {smeta.get('n_rows')} rows, the relation now "
                    f"has {n_now} — refresh_gram_store (or rebuild) "
                    "first; a stale store would miss spans duplicated "
                    "by newer rows"
                )
            # Pick the probe join's build side EXPLICITLY (guide §3.1):
            # the postings side is one row per character, so its size
            # estimate — derived from the pre-explode scan — is wrong by
            # ~x(text length), and the planner was measured broadcasting
            # the MULTI-MILLION-ROW postings relation over the store
            # side (BuildLeft; ~2 s per run at sf0.1 building a hash
            # relation of every posting, OOM-class at scale). The store
            # meta carries the exact gram count: broadcast the store
            # relation when it fits (same sizing rule as the composed
            # path below), else pin sort-merge so the planner cannot
            # broadcast the postings side either.
            n_sg = smeta.get("n_grams")
            if isinstance(n_sg, int):
                if n_sg * _gram_row_bytes(k, dup_grams) <= 64 * 1024 * 1024:
                    dup_grams = F.broadcast(dup_grams)
                else:
                    dup_grams = dup_grams.hint("merge")
    if dup_grams is not None and keep_first and (
        "first" not in dup_grams.columns
    ):
        raise ValueError(
            "exact_substring_spans: keep_first from a pre-built gram "
            "relation needs its 'first' column (min(struct(id, pos)))"
        )
    lo = k if min_len is None else min_len
    t = F.col(text_col)
    grams = F.transform(
        F.sequence(F.lit(1), F.length(t) - (k - 1)),
        lambda i: F.struct(
            i.cast("long").alias("p"), F.substring(t, i, k).alias("gram")
        ),
    )
    # the postings explode is the heavy per-row stage (a k-char substring
    # at every position); a corpus read of a few small files scans as 1-2
    # tasks (openCostInBytes packs tiny files into one split), so an
    # under-parallel source is spread across cores first — projected to
    # the two columns the explode needs, keyed on the id to skip the
    # keyless form's determinism sort (SPARK-23207). No-op on multi-split
    # tables at scale (guide §2.5 input skew).
    from bambooai_spark.operators.similarity import (  # noqa: PLC0415
        spread_if_narrow,
    )

    src = spread_if_narrow(df.select(F.col(id_col), t), id_col)
    pos = (
        src.filter(F.length(t) >= k)
        .select(F.col(id_col), F.explode(grams).alias("g"))
        .select(id_col, F.col("g.p").alias("p"), F.col("g.gram").alias("gram"))
    )
    # Per-gram stats via groupBy, NOT a window over the gram key: a
    # window gets no map-side partial aggregation, so a boilerplate gram
    # present in every doc would pull its entire posting list into one
    # task's sort. The groupBy pre-aggregates per partition (one row per
    # gram per map task crosses the exchange) and the join-back is an
    # equi-join AQE can broadcast or skew-split at runtime.
    if keep_first:
        if dup_grams is not None:
            # store-plugged path: the stats explode is skipped entirely;
            # the probe side below is the ONLY postings explode
            dup = dup_grams.select("gram", F.col("first").alias("_first"))
        else:
            from bambooai_spark.operators.gram_store import (  # noqa: PLC0415
                id_packable,
                packed_occurrence,
                unpack_occurrence,
            )

            if id_packable(df, id_col):
                # packed-decimal first-occurrence min: hash-aggregatable,
                # so the stats pass keeps map-side partials WITHOUT the
                # SortAggregate's per-partition sort of every posting by
                # gram (min(struct) has a non-mutable buffer and falls to
                # SortAggregate; r13 measured the sort at ~19% of the
                # stats pass). Order-isomorphic, so the selected first
                # occurrence — and every span downstream — is identical.
                dup = (
                    pos.groupBy("gram")
                    .agg(
                        F.count(F.lit(1)).alias("_cnt"),
                        F.min(packed_occurrence(id_col, "p")).alias("_fpk"),
                    )
                    .filter(F.col("_cnt") >= min_count)
                    .select(
                        "gram",
                        unpack_occurrence(
                            F.col("_fpk"), df.schema[id_col].dataType
                        ).alias("_first"),
                    )
                )
            else:
                dup = (
                    pos.groupBy("gram")
                    .agg(
                        F.count(F.lit(1)).alias("_cnt"),
                        F.min(
                            F.struct(
                                F.col(id_col).alias("i"),
                                F.col("p").alias("p"),
                            )
                        ).alias("_first"),
                    )
                    .filter(F.col("_cnt") >= min_count)
                    .select("gram", "_first")
                )
        hits = (
            pos.join(dup, "gram")
            .filter(
                ~(
                    (F.col(id_col) == F.col("_first.i"))
                    & (F.col("p") == F.col("_first.p"))
                )
            )
            .select(id_col, "p")
        )
    else:
        if dup_grams is not None:
            dup = dup_grams.select("gram")
        else:
            dup = (
                pos.groupBy("gram")
                .agg(F.count(F.lit(1)).alias("_cnt"))
                .filter(F.col("_cnt") >= min_count)
                .select("gram")
            )
        hits = pos.join(dup, "gram", "left_semi")
    iw = Window.partitionBy(id_col).orderBy("p")
    isl = hits.select(
        id_col, "p", (F.col("p") - F.row_number().over(iw)).alias("_grp")
    )
    return (
        isl.groupBy(id_col, "_grp")
        .agg(
            F.min("p").alias("span_start"),
            (F.max("p") + F.lit(k - 1)).alias("span_end"),
            (F.max("p") + F.lit(k) - F.min("p")).alias("span_len"),
        )
        .filter(F.col("span_len") >= lo)
        .drop("_grp")
    )


def exact_substring_cut(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 25,
    min_count: int = 2,
    keep_first: bool = True,
    out: str = "clean_text",
    gram_store_path: str | None = None,
    dup_grams: DataFrame | None = None,
    compose_delta: bool | str = True,
) -> DataFrame:
    """ExactSubstr deduplication, surgery included (Lee et al. 2021): cut
    every duplicated span found by :func:`exact_substring_spans` out of
    the text, keeping (by default) each region's earliest copy. Returns
    ``df`` plus column ``out`` — the text with cut spans removed;
    untouched documents pass through byte-identical.
    ``gram_store_path``/``dup_grams`` reuse a persisted duplicated-gram
    relation (freshness-checked) so the stats-side postings explode is
    skipped — see :func:`exact_substring_spans`.

    The splice itself is one JVM-side ``aggregate`` over the document's
    sorted span array (state = ``(kept-so-far, cursor)``; each span
    appends the gap before it and advances the cursor; the finisher
    appends the tail) — no Python boundary, no shuffle beyond the per-doc
    span collect, whose state is bounded by spans-per-document (merged
    islands, so at most ``len/k`` of them), never the corpus.
    """
    spans = exact_substring_spans(
        df, id_col, text_col, k=k, min_count=min_count,
        keep_first=keep_first, gram_store_path=gram_store_path,
        dup_grams=dup_grams, compose_delta=compose_delta,
    )
    return splice_spans(df, id_col, text_col, spans, out=out)


def splice_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    spans: DataFrame,
    *,
    out: str = "clean_text",
) -> DataFrame:
    """Cut a span inventory (``id_col, span_start, span_end`` — 1-based
    inclusive, non-overlapping per doc) out of the text: the shared
    surgery behind :func:`exact_substring_cut` and
    :func:`contamination_cut`. One JVM-side ``aggregate`` over each
    doc's sorted span array (state = ``(kept-so-far, cursor)``); docs
    with no spans pass through byte-identical."""
    per_doc = spans.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("_spans")
    )
    t = F.col(text_col)
    zero = F.struct(
        F.lit("").alias("acc"), F.lit(1).cast("long").alias("cur")
    )
    splice = F.aggregate(
        F.col("_spans"),
        zero,
        lambda a, s: F.struct(
            F.concat(
                a.acc,
                F.substring(
                    t, a.cur.cast("int"), (s.span_start - a.cur).cast("int")
                ),
            ).alias("acc"),
            (s.span_end + 1).alias("cur"),
        ),
        lambda a: F.concat(
            a.acc,
            F.substring(
                t,
                a.cur.cast("int"),
                (F.length(t) - a.cur + 1).cast("int"),
            ),
        ),
    )
    return (
        df.join(per_doc, id_col, "left")
        .withColumn(
            out, F.when(F.col("_spans").isNull(), t).otherwise(splice)
        )
        .drop("_spans")
    )


def benchmark_grams(
    benchmark: DataFrame, bench_text_col: str = "text", *, k: int = 25
) -> DataFrame:
    """The benchmark's distinct character k-gram relation (one ``gram``
    column) — the broadcast side of :func:`contamination_spans`. Derive
    it ONCE and persist when screening repeatedly (a streaming ingest
    gate screens every micro-batch against the same benchmark; re-
    deriving the grams per batch would re-scan the benchmark each time).
    """
    bt = F.col(bench_text_col)
    return (
        benchmark.filter(F.length(bt) >= k)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length(bt) - (k - 1)),
                    lambda i: F.substring(bt, i, k),
                )
            ).alias("gram")
        )
        .distinct()
    )


def contamination_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    benchmark: DataFrame | None = None,
    bench_text_col: str = "text",
    *,
    k: int = 25,
    min_len: int | None = None,
    bench_grams: DataFrame | None = None,
    broadcast: bool = True,
) -> DataFrame:
    """Benchmark decontamination at exact-span grain — the strong form
    of the n-gram overlap screens LLM training reports run before
    training: every maximal span of corpus text whose every character
    ``k``-gram appears VERBATIM somewhere in the benchmark set. Returns
    ``(id_col, span_start, span_end, span_len)``; feed it to
    :func:`contamination_cut` (or ``update_corpus_from`` via the spliced
    text) to scrub the corpus, or threshold ``sum(span_len)/length`` as
    a drop rule.

    Relation to :func:`contamination_check`: that operator scores
    word-shingle OVERLAP fractions (a detection signal); this one
    returns exact character extents (a surgical inventory), sharing the
    ExactSubstr islands machinery instead of the shingle index.

    100 TB story: benchmarks are small by construction, so their
    distinct gram set broadcasts — the corpus-side postings stream
    through a broadcast semi-join with NO shuffle of corpus data at
    all; only the hit positions (bounded by true contamination) reach
    the per-doc islands window. The corpus text column itself never
    leaves the scan.

    ``bench_grams`` — a precomputed :func:`benchmark_grams` relation
    (pass a PERSISTED one when screening repeatedly, e.g. the streaming
    ingest gate); when given, ``benchmark`` is ignored and its k must
    match this call's ``k`` (the caller derived it).

    ``broadcast=False`` drops the broadcast hint on the gram side — for
    gram relations that are NOT benchmark-small (a corpus boilerplate
    store), the semi-join then shuffles and AQE picks the strategy."""
    if k < 2:
        raise ValueError("contamination_spans: k must be >= 2")
    if bench_grams is None:
        if benchmark is None:
            raise ValueError(
                "contamination_spans: pass benchmark= or bench_grams="
            )
        bench_grams = benchmark_grams(benchmark, bench_text_col, k=k)
    lo = k if min_len is None else min_len
    t = F.col(text_col)
    grams = F.transform(
        F.sequence(F.lit(1), F.length(t) - (k - 1)),
        lambda i: F.struct(
            i.cast("long").alias("p"), F.substring(t, i, k).alias("gram")
        ),
    )
    pos = (
        df.filter(F.length(t) >= k)
        .select(F.col(id_col), F.explode(grams).alias("g"))
        .select(id_col, F.col("g.p").alias("p"), F.col("g.gram").alias("gram"))
    )
    gside = F.broadcast(bench_grams) if broadcast else bench_grams
    hits = pos.join(gside, "gram", "left_semi")
    iw = Window.partitionBy(id_col).orderBy("p")
    isl = hits.select(
        id_col, "p", (F.col("p") - F.row_number().over(iw)).alias("_grp")
    )
    return (
        isl.groupBy(id_col, "_grp")
        .agg(
            F.min("p").alias("span_start"),
            (F.max("p") + F.lit(k - 1)).alias("span_end"),
            (F.max("p") + F.lit(k) - F.min("p")).alias("span_len"),
        )
        .filter(F.col("span_len") >= lo)
        .drop("_grp")
    )


def contamination_cut(
    df: DataFrame,
    id_col: str,
    text_col: str,
    benchmark: DataFrame | None = None,
    bench_text_col: str = "text",
    *,
    k: int = 25,
    out: str = "clean_text",
    bench_grams: DataFrame | None = None,
    broadcast: bool = True,
) -> DataFrame:
    """Scrub benchmark-contaminated spans out of the corpus text:
    :func:`contamination_spans` + the shared :func:`splice_spans`
    surgery. Returns ``df`` plus ``out``; uncontaminated documents pass
    through byte-identical. ``bench_grams``/``broadcast`` as in
    :func:`contamination_spans`."""
    spans = contamination_spans(
        df, id_col, text_col, benchmark, bench_text_col, k=k,
        bench_grams=bench_grams, broadcast=broadcast,
    )
    return splice_spans(df, id_col, text_col, spans, out=out)


def contamination_fraction(
    df: DataFrame,
    id_col: str,
    text_col: str,
    benchmark: DataFrame,
    bench_text_col: str = "text",
    *,
    k: int = 25,
) -> DataFrame:
    """The drop-rule signal: per document, the fraction of characters
    covered by benchmark-contaminated spans (:func:`contamination_spans`
    are non-overlapping maximal islands, so their lengths sum without
    double-counting). Returns every input doc as ``(id_col, n_chars,
    contaminated_chars, contaminated_frac)`` — uncontaminated docs at
    0.0 — ready for ``filter(contaminated_frac < threshold)`` or a
    stratified report by source."""
    spans = contamination_spans(
        df, id_col, text_col, benchmark, bench_text_col, k=k
    )
    per_doc = spans.groupBy(id_col).agg(
        F.sum("span_len").alias("contaminated_chars")
    )
    return (
        df.select(id_col, F.length(text_col).cast("long").alias("n_chars"))
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_chars",
            F.coalesce(F.col("contaminated_chars"), F.lit(0))
            .cast("long")
            .alias("contaminated_chars"),
            F.round(
                (
                    F.coalesce(F.col("contaminated_chars"), F.lit(0))
                    / F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
                ).cast("decimal(18,9)"),
                6,
            )
            .cast("double")
            .alias("contaminated_frac"),
        )
    )
