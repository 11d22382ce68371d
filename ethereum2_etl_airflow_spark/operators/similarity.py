"""Similarity search over embedding columns (SURVEY §2.9 X3).

Two tiers, mirroring how ANN is deployed at 100 TB:

- **Brute-force top-k** (the exact baseline): broadcast the query set,
  score every candidate with the decimal-accumulated cosine kernel
  (:mod:`..functions.vectors`), then rank in TWO phases: a narrow
  per-partition partial top-k (Arrow pass, no shuffle) followed by a
  global rank over the ≤ k·P survivors per query.  Cost is |Q|·|C|
  scoring — fine for small query batches over any corpus size — and no
  single task ever holds one query's full score set.
- **LSH-bucketed ANN** (the scale path): ``BucketedRandomProjectionLSH``
  buckets by random hyperplane projections; candidates only form inside
  matching buckets (near-linear).  Recall < 1 by construction — the exact
  tier is the oracle for it.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from ..functions.layout import (ensure_parallelism, finalize_release,
                                local_frame)
from ..functions.vectors import dot_compact, with_normalized

__all__ = ["topk_cosine_bruteforce", "partial_topk", "ann_ivf_topk",
           "ann_ivf_exact_topk",
           "ann_lsh_candidates", "sparse_cosine_pairs", "pq_topk",
           "retrieval_topk", "build_pq_index", "query_pq_index",
           "build_ivf_index", "query_ivf_index",
           "rrf_fuse", "mmr_topk", "ranking_eval", "hard_negatives"]


def partial_topk(scored: DataFrame, k: int,
                 compact_every: int = 1 << 18,
                 small: bool | None = None) -> DataFrame:
    """Phase 1 of two-phase exact top-k: reduce each partition to its
    local top-k rows per ``query_id`` by (cosine desc, vec_id asc) with a
    narrow Arrow pass — NO shuffle, so no task ever holds one query's full
    score set (the scale flaw of a single ``Window.partitionBy(query_id)``
    over all |Q|·|C| scored rows).

    Lossless: the global top-k under a total order is a subset of the
    union of per-partition top-k under the same order.  Selection only —
    no arithmetic happens here, so the cosine doubles (and therefore the
    final hashes) are byte-identical to the single-phase plan.  Memory is
    bounded: the accumulator compacts to ≤ k rows per query seen whenever
    it exceeds ``compact_every`` buffered rows.

    Stats fast path (round-11, same gate as ``curation.cap_per_key``):
    when the scored table's plan-stats estimate is < 64 MiB the rank
    window downstream trivially handles every row in one task and the
    Arrow pass is pure Python-boundary fixed cost — return ``scored``
    unchanged (phase 2 alone IS the exact top-k; phase 1 only prunes).
    Above the gate (or with no estimate) the scale shape runs;
    ``small=True``/``False`` overrides the stats decision (False pins
    the scale shape — used by tests that assert on the pruning)."""
    from ..functions.layout import plan_bytes

    if small is None:
        est = plan_bytes(scored)
        small = est is not None and est < (64 << 20)
    if small:
        return scored

    cols = list(scored.columns)  # (query_id, vec_id, cosine)

    def _compact(frames: list[pd.DataFrame]) -> pd.DataFrame:
        allf = pd.concat(frames, ignore_index=True)
        allf = allf.sort_values(["query_id", "cosine", "vec_id"],
                                ascending=[True, False, True])
        return allf.groupby("query_id", sort=False).head(k)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: list[pd.DataFrame] = []
        n = 0
        for pdf in batches:
            if len(pdf):
                acc.append(pdf[cols])
                n += len(pdf)
            if n > compact_every:
                acc = [_compact(acc)]
                n = len(acc[0])
        if acc:
            yield _compact(acc)

    return scored.mapInPandas(gen, scored.schema)


def _ivf_small(corpus: DataFrame, n_queries: int, n_probe: int,
               n_cells: int) -> bool | None:
    """Derived stats gate for IVF scored tables (round-11): the scored
    plan's own estimate is multiplicatively inflated by the broadcast
    probe chain (reads ~1e30 bytes at sf0.1 — a crossJoin×window×join
    product), so :func:`partial_topk`'s plan-stats gate never takes its
    fast path even on a few thousand candidate rows.  Bound the scored
    size from the CORPUS side instead: candidate rows ≈ |corpus| ·
    n_queries · n_probe/n_cells, and a scored row (query, vec, cosine)
    is narrower than a corpus vector row, so ``corpus_bytes ·
    n_queries · n_probe/n_cells`` over-estimates by the row-width
    ratio (≥ 20×) — a conservative gate.  Returns None (let
    partial_topk decide) when plan stats are unavailable."""
    from ..functions.layout import plan_bytes

    cb = plan_bytes(corpus)
    if cb is None:
        return None
    est = cb * max(1, n_queries) * n_probe // max(1, n_cells)
    return True if est < (64 << 20) else False


def _rank_topk(survivors: DataFrame, k: int) -> DataFrame:
    """Phase 2: global rank per query over the ≤ k·P surviving rows."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id"))
    return (survivors.select("query_id", "vec_id",
                             F.row_number().over(w).alias("rank"), "cosine")
            .where(F.col("rank") <= k)
            .orderBy("query_id", "rank"))


def topk_cosine_bruteforce(emb: DataFrame, query_ids: list[int], k: int = 10,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k: (query_id, vec_id, rank, cosine) — self-matches
    excluded; ties broken by vec_id so the ranking is total and
    deterministic.  Norms are materialized once per vector; the query
    side is a broadcast (tiny); scoring parallelizes per corpus partition
    with no shuffle; :func:`partial_topk` then shrinks each partition to
    ≤ k rows per query before the only shuffle (the final per-query
    rank over ≤ k·P survivors)."""
    # cache the normalized vectors: without the barrier the wide-decimal
    # norm expression is re-evaluated per joined row (|Q|x per candidate)
    nv = (with_normalized(ensure_parallelism(emb), vec_col, "nv")
          .select(id_col, "nv").cache())
    q = (nv.where(F.col(id_col).isin([int(x) for x in query_ids]))
         .select(F.col(id_col).alias("query_id"), F.col("nv").alias("qv")))
    c = nv.select(F.col(id_col).alias("vec_id"), F.col("nv").alias("cv"))
    scored = (
        F.broadcast(q).crossJoin(c)
        .where(F.col("query_id") != F.col("vec_id"))
        # rank on the DOUBLE image (ties → vec_id): the decimal and its
        # double projection could order differently at 1-ulp distances,
        # and the double is what downstream consumers see
        .select("query_id", "vec_id",
                dot_compact(F.col("qv"), F.col("cv"))
                .cast("decimal(18,9)").cast("double").alias("cosine"))
    )
    # gate bound from the corpus side (scored rows = |corpus|·|Q|, each
    # far narrower than a cached vector row): the crossJoin's own
    # plan-stats estimate multiplies to ~1e12 bytes at sf0.1 and would
    # pin the Arrow pass on even a few thousand candidate rows
    out = _rank_topk(partial_topk(
        scored, k, small=_ivf_small(nv, len(query_ids), 1, 1)), k)
    return finalize_release(out, nv)


def ann_ivf_topk(emb: DataFrame, query_ids: list[int], k: int = 10,
                 n_lists: int = 16, n_probe: int = 4, seed: int = 42,
                 id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF (inverted-file) approximate top-k: coarse-quantize the corpus
    into ``n_lists`` KMeans cells, search only each query's ``n_probe``
    nearest cells.

    The 100 TB shape (FAISS's own recipe): the coarse quantizer trains on
    a bounded, deterministic sample — never the full corpus — because
    centroids only need to *bucket*, not converge on all data; cell
    assignment is then ONE distributed map pass with the centroid matrix
    broadcast into an Arrow-vectorized GEMM (no iterative jobs over the
    corpus, no assignment join).  A query touches ``n_probe/n_lists`` of
    the corpus.  Returns (query_id, vec_id, rank, cosine) like the exact
    tier (recall measured against it in tests).  Deterministic: seeded
    init, sample chosen by hash order, ties broken by first-max.
    """
    scored, nv = _ivf_scored(emb, query_ids, n_lists=n_lists,
                             n_probe=n_probe, seed=seed, id_col=id_col,
                             vec_col=vec_col)
    # same two-phase top-k as the exact tier: per-partition partial
    # selection, then rank over the ≤ k·P survivors; the gate bound
    # derives from the corpus (the joined plan's own estimate explodes)
    out = _rank_topk(partial_topk(
        scored, k, small=_ivf_small(nv, len(query_ids), n_probe,
                                    n_lists)), k)
    return finalize_release(out, nv)


def _ivf_scored(emb: DataFrame, query_ids: list[int], *, n_lists: int,
                n_probe: int, seed: int, id_col: str,
                vec_col: str) -> tuple[DataFrame, DataFrame]:
    """Everything in the IVF plan before the top-k phase: train, assign,
    probe, score.  Returns (scored, cached-normalized-corpus); exposed
    separately so tests can assert the distributed assignment plan is
    pure JVM column math (no Python workers) BEFORE the result is
    checkpointed away."""
    nv = (with_normalized(ensure_parallelism(emb), vec_col, "nv")
          .select(id_col, "nv").cache())

    # --- train: spherical k-means on <=n_train hash-ordered sample rows
    # (TakeOrdered — one pass, no full sort); argmax dot == argmin
    # euclidean on unit vectors, so the trained metric IS the search
    # metric, unlike euclidean KMeans on raw vectors.
    n_train = 65536
    sample = (nv.orderBy(F.xxhash64(F.col(id_col)))
              .limit(n_train).select("nv").collect())
    X = np.array([r["nv"] for r in sample], dtype=np.float64)
    n_lists = min(n_lists, len(X))
    rng = np.random.RandomState(seed)
    C = X[rng.choice(len(X), n_lists, replace=False)]
    for _ in range(8):
        cells = np.argmax(X @ C.T, axis=1)
        for j in range(n_lists):
            members = X[cells == j]
            if len(members):
                m = members.sum(axis=0)
                norm = np.linalg.norm(m)
                if norm > 0:
                    C[j] = m / norm
            # empty cell: keep the previous centroid (deterministic)

    # --- assign: the centroid matrix is tiny (n_lists × dim), so cell
    # assignment inlines as JVM column expressions (argmax of n_lists
    # double dots) — one narrow map over the corpus with NO Python
    # workers in the plan.  The earlier Arrow-batched numpy version was
    # correct but pulled a Python worker pool into every downstream
    # branch that re-evaluated the assignment (probe broadcast, scored
    # join): ~2 s of worker spin-up per stage at local[32] for
    # millisecond-scale math.
    from ..functions.vectors import argmax_cell

    corpus = nv.withColumn("cell", argmax_cell(F.col("nv"), C))

    # per-query nearest cells by centroid cosine (centroids are tiny)
    centers = [(i, [float(x) for x in C[i]]) for i in range(n_lists)]
    centroids = local_frame(
        emb.sparkSession, centers, "cell int, cvec array<double>")
    q = (corpus.where(F.col(id_col).isin([int(x) for x in query_ids]))
         .select(F.col(id_col).alias("query_id"), F.col("nv").alias("qv")))
    qc = (F.broadcast(q).crossJoin(F.broadcast(centroids))
          .select("query_id", "qv", "cell",
                  dot_compact(F.col("qv"), F.col("cvec")).alias("cdot")))
    wq = Window.partitionBy("query_id").orderBy(F.col("cdot").desc(), F.col("cell"))
    probes = (qc.select("query_id", "qv", "cell",
                        F.row_number().over(wq).alias("crank"))
              .where(F.col("crank") <= n_probe)
              .select("query_id", "qv", "cell"))

    scored = (probes.join(corpus.select(F.col(id_col).alias("vec_id"),
                                        F.col("nv").alias("cv"), "cell"),
                          "cell")
              .where(F.col("query_id") != F.col("vec_id"))
              .select("query_id", "vec_id",
                      dot_compact(F.col("qv"), F.col("cv"))
                      .cast("decimal(18,9)").cast("double").alias("cosine")))
    return scored, nv


def ann_lsh_candidates(emb: DataFrame, query_ids: list[int], k: int = 10,
                       bucket_length: float = 2.0, num_hash_tables: int = 3,
                       seed: int = 42, id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k via random-hyperplane bucketing.  Returns
    (query_id, vec_id, rank, dist) — Euclidean on L2-normalized vectors,
    which orders identically to cosine.  Deterministic under the fixed
    seed; recall measured against :func:`topk_cosine_bruteforce` in tests.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer
    from pyspark.ml.functions import array_to_vector

    base = emb.select(F.col(id_col).alias("id"),
                      array_to_vector(
                          F.transform(F.col(vec_col),
                                      lambda x: x.cast("double"))).alias("raw"))
    norm = Normalizer(inputCol="raw", outputCol="features", p=2.0)
    feats = norm.transform(base).select("id", "features")
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes",
        bucketLength=bucket_length, numHashTables=num_hash_tables, seed=seed)
    model = lsh.fit(feats)
    q = feats.where(F.col("id").isin([int(x) for x in query_ids]))
    # generous radius on normalized vectors (max L2 distance is 2.0)
    pairs = model.approxSimilarityJoin(q, feats, 2.0, distCol="dist")
    scored = (
        pairs.select(F.col("datasetA.id").alias("query_id"),
                     F.col("datasetB.id").alias("vec_id"),
                     F.col("dist"))
        .where(F.col("query_id") != F.col("vec_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dist"), F.col("vec_id"))
    return (scored.select("query_id", "vec_id",
                          F.row_number().over(w).alias("rank"), "dist")
            .where(F.col("rank") <= k)
            .orderBy("query_id", "rank"))


def sparse_cosine_pairs(docs: DataFrame, block_col: str = "source",
                        threshold_millis: int = 500,
                        text_col: str = "text",
                        id_col: str = "doc_id",
                        strategy: str = "gemm") -> DataFrame:
    """Document-pair cosine similarity over sparse token-count vectors
    within a blocking key — the sparse sibling of
    :func:`..operators.dedup.cosine_near_dup_pairs`.

    Two bit-identical strategies (pytest pins set equality including
    the cosine doubles; the registered check runs the default):

    - ``"gemm"`` (default, round-9): per block, pivot the token counts
      to a dense |block|×|vocab| matrix and compute ALL pair dots as
      one numpy matmul (``applyInPandas`` — the
      :func:`..operators.dedup.cosine_near_dup_pairs` blocked-GEMM
      pattern, which this repo sanctions for the §2.9 embedding seams).
      Integer counts in float64 stay EXACT while the dot can't exceed
      2^53; each block checks the cheap bound ``max(cnt)²·|vocab| <
      2^53`` and falls back to an int64 matmul when it can't prove
      exactness — so the scores (and the IEEE sqrt/mul/div cosine) are
      bit-identical to the index path at ANY count scale.  ONE
      exchange end-to-end — the block grouping; counts form inside the
      block kernel (round-11, see
      :func:`_sparse_cosine_gemm_build`).  Replaces the index path's
      11.2 M-row pair-join+aggregate stage (sf0.1) with ~0.2 s of
      BLAS — measured 1.77 s → 0.78 s warm median, closing the
      round-7 ≤1.5 s bar.
      Memory contract (same as the embedding GEMM): one block's dense
      |block|×|vocab| count matrix must fit a task — right for
      bounded-block, bounded-vocab corpora like the documents table.
    - ``"index"``: the inverted-index self-join — ``token -> (doc,
      count)`` joined with itself, summing ``cnt_a·cnt_b`` per pair
      (contributions only come from *shared* tokens, so the join
      computes the exact dot with no dense vectors).  Three shuffles:
      (blk, id) clustering (counting AND norms partition-local),
      (blk, tok) join layout, pair aggregation.  The scale path when
      the GEMM memory contract fails: giant blocks or wide (real-text)
      vocabularies, where per-key fan-out distributes the Σ n_k² work
      across (blk, tok) keys instead of one task per block.

    Why not a df-cap/PPJoin prefilter (the round-8 proposal): measured
    at sf0.1 the (blk, tok) key histogram is UNIFORM — 620 keys, all
    ~200 docs (31-word synthetic vocabulary) — so no discriminative
    token subset exists; a df cap keeps everything or empties the
    index.  A packed map-dot pair join was also tried (map_zip_with
    per pair): 3.3 s — interpreted HOF lambdas lose to both paths.
    Stage profile that motivated the GEMM (sf0.1, warm): 0.26 s driver
    plan build + 0.44 s index materialize + 0.90 s pair join+agg.

    Every exchange runs under a shuffle width sized from the corpus'
    own plan stats (:func:`..functions.layout.plan_width`, floor 8 —
    the index exchanges carry (doc, token) rows whose volume tracks
    vocabulary × docs, not the doc bytes the stats see); AQE pinned
    off inside the scope, eager materialization INSIDE the pin.

    Norm contract: norms are computed per ``(block, id)`` group, not
    per global id.  When every id carries exactly one block value —
    the documents-table shape, where ``source`` is a column OF the
    row — the two are identical.  If a caller ever feeds a corpus
    where one doc_id appears under MULTIPLE block values (e.g. an
    exploded multi-label blocking), each block sees only its own
    slice's norm, i.e. scores become within-block cosine.  That is the
    intended blocking semantics (a block is an independent comparison
    universe), but it differs from global-norm cosine — pre-aggregate
    to one block per id upstream if global norms are wanted.

    Returns ``(id_a, id_b, dot, cosine)`` for pairs sharing ≥1 token
    with cosine >= threshold_millis/1000.
    """
    from ..functions.layout import pinned_shuffle, plan_width

    docs = ensure_parallelism(docs)
    w = plan_width(docs, floor=8)
    with pinned_shuffle(docs.sparkSession, w):
        if strategy == "index":
            res, tc = _sparse_cosine_build(docs, block_col,
                                           threshold_millis,
                                           text_col, id_col, width=w)
            return finalize_release(res, tc)
        if strategy != "gemm":
            raise ValueError(f"sparse_cosine_pairs: unknown strategy "
                             f"{strategy!r} (want 'gemm' or 'index')")
        return finalize_release(_sparse_cosine_gemm_build(
            docs, block_col, threshold_millis, text_col, id_col))


def _sparse_cosine_gemm_build(docs: DataFrame, block_col: str,
                              threshold_millis: int, text_col: str,
                              id_col: str) -> DataFrame:
    """Lazy pipeline for the blocked-GEMM strategy of
    :func:`sparse_cosine_pairs` (plan tests assert on this).

    ONE exchange end-to-end (round-11; was two): the raw (blk, id, tok)
    occurrence stream goes straight into ``groupBy(blk).applyInPandas``
    and the per-(id, tok) counts form INSIDE the block kernel (a
    size-aggregating pivot) — the previous combining groupBy(blk, id,
    tok) paid a full extra shuffle barrier only to pre-shrink the Arrow
    batch by the mean within-doc token multiplicity (~1.5–3× on real
    text; measured at sf0.1 the barrier costs more than the width
    saves, 0.81 → 0.69 s warm floor, bit-identical output).  On a
    corpus whose multiplicity is extreme (log-file spam, boilerplate
    floods) the pre-combining shape is one ``groupBy`` away — the
    kernel's pivot aggregates either width.  Each block computes every
    pair dot, norm, and cosine in one matmul.  Exactness: float64
    holds integers exactly below 2^53, so when ``max(cnt)² · |vocab| <
    2^53`` (an upper bound on any dot/norm) the BLAS result is the
    exact integer; otherwise the block recomputes in int64 (exact to
    2^63).  The cosine is the same three IEEE ops (sqrt, mul, div) on
    the same exact integers as the index path and the SQL oracle —
    bit-identical output.

    NULL block values are dropped up front: the index path's
    ``a.blk == b.blk`` self-join never matches NULL (SQL join
    semantics), so without the filter ``groupBy('blk')`` would group
    the null-block rows together and emit pairs among them — silently
    diverging from the other strategy.  A NULL block means "no
    comparison universe", consistently on both paths."""
    from .text import tokens

    thr = threshold_millis / 1000.0

    tc0 = (docs.where(F.col(block_col).isNotNull())
           .select(F.col(block_col).alias("blk"),
                   F.col(id_col).alias("id"),
                   F.explode(tokens(F.col(text_col))).alias("tok")))

    def block_gemm(pdf: pd.DataFrame) -> pd.DataFrame:
        # occurrence rows → counts matrix in one size-aggregating pivot
        m = pdf.pivot_table(index="id", columns="tok", aggfunc="size",
                            fill_value=0)
        ids = m.index.to_numpy()  # pivot sorts → id_a < id_b for free
        if len(ids) < 2:
            return pd.DataFrame({"id_a": np.array([], dtype="int64"),
                                 "id_b": np.array([], dtype="int64"),
                                 "dot": np.array([], dtype="int64"),
                                 "cosine": np.array([], dtype="float64")})
        Xi = m.to_numpy()
        if int(Xi.max()) ** 2 * Xi.shape[1] < 2 ** 53:
            G = (Xi.astype(np.float64) @ Xi.astype(np.float64).T) \
                .astype(np.int64)  # integer-valued floats — exact
        else:  # count scale beyond float53 proof: exact int64 matmul
            G = Xi.astype(np.int64) @ Xi.astype(np.int64).T
        nsq = np.diag(G).astype(np.float64)
        denom = np.sqrt(nsq)[:, None] * np.sqrt(nsq)[None, :]
        C = G.astype(np.float64) / denom  # nsq ≥ 1: every id has rows
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = (C[iu, ju] >= thr) & (G[iu, ju] > 0)  # shared-token rule
        return pd.DataFrame({
            "id_a": ids[iu[keep]].astype("int64"),
            "id_b": ids[ju[keep]].astype("int64"),
            "dot": G[iu[keep], ju[keep]].astype("int64"),
            "cosine": C[iu[keep], ju[keep]],
        })

    return tc0.groupBy("blk").applyInPandas(
        block_gemm, "id_a long, id_b long, dot long, cosine double")


def _sparse_cosine_build(docs: DataFrame, block_col: str,
                         threshold_millis: int, text_col: str, id_col: str,
                         width: int | None = None):
    """Pre-checkpoint pipeline for :func:`sparse_cosine_pairs` (plan tests
    assert on this — the public entry localCheckpoints).

    Dataflow — TWO exchanges end-to-end before the pair aggregation
    (round-8: the previous three-exchange shape — combined-count
    groupBy, per-doc pack groupBy, join-layout repartition — paid a
    full extra stage barrier to avoid shuffling raw tokens; measured
    at sf0.1 the raw-token exchange is cheaper than the extra stage:
    1.75 s → 1.55 s median-of-5):

    1. the raw (blk, id, tok) stream is hash-clustered on
       ``(blk, id)`` — a doc's whole vector lands in one partition, so
       BOTH the (doc, token) count and the norm are then partition-
       local: the groupBy(blk, id, tok) needs no exchange
       (hash(blk, id) ⊆ the grouping keys) and the norm ``sum(cnt²)``
       is a window over (blk, id) — same clustering, zero exchange,
       one partition-local sort.  No norms table, no pack/re-explode,
       no post-aggregation norm joins;
    2. the index is laid out on the JOIN key ``(blk, tok)``: the
       cached relation feeds the self-join with NO further exchange
       (InMemoryRelation exposes its hash partitioning) and the
       ``shuffle_hash`` hint skips the sort-merge sorts;
    3. the pair aggregation keyed on (id_a, id_b) — the norms are
       functionally dependent on the ids, so they ride in the groupBy
       key and come out with the dot product for free (measured: keys
       beat max()-aggregates for them, 1.55 vs 1.63 s).

    Scale note on exchange 1: it carries token OCCURRENCES (no
    map-side combine), typically 1.5–3× the combined index's rows for
    natural text — bytes traded for a whole stage + the collect_list
    pack buffers of the old shape.  Both alternatives are linear in
    corpus size; at 100 TB the choice shifts shuffle bytes by a small
    constant factor and removes one barrier per corpus pass."""
    from .text import tokens

    docs = ensure_parallelism(docs)
    tc0 = (docs.select(F.col(block_col).alias("blk"),
                       F.col(id_col).alias("id"),
                       F.explode(tokens(F.col(text_col))).alias("tok"))
           .repartition("blk", "id")
           .groupBy("blk", "id", "tok").agg(F.count("*").alias("cnt")))
    # the join layout gets 2× the pinned width: the self-join's output
    # is quadratic per join key (Σ n_k² pair rows from linear index
    # rows), so the one stage consuming this layout does several times
    # the work per input byte of every other stage — doubling its
    # partitions halves its per-task wall while the narrow pin keeps
    # fixed costs down everywhere else.  Round-8 SELECTIVE sweep at
    # sf0.1 (pin 8, join layout varied, median-of-3): 8 → 1.81 s,
    # 16 → 1.60 s, 32 → 1.63 s, 64 → 1.70 s — vs the global sweep
    # (docstring above) where widening EVERYTHING was a wash.  At
    # corpus scale the pin is the session cap and 2× it is still a
    # sane task count for the heaviest stage.
    jw_parts = [2 * width] if width else []
    tc = (tc0.withColumn("nsq",
                         F.sum(F.col("cnt") * F.col("cnt"))
                         .over(Window.partitionBy("blk", "id")))
          .repartition(*jw_parts, "blk", "tok")
          .cache())
    a, b = tc.alias("a"), tc.alias("b")
    cos = (F.col("dot").cast("double")
           / (F.sqrt(F.col("na").cast("double"))
              * F.sqrt(F.col("nb").cast("double"))))
    res = (a.join(b.hint("shuffle_hash"),
                  (F.col("a.blk") == F.col("b.blk"))
                  & (F.col("a.tok") == F.col("b.tok"))
                  & (F.col("a.id") < F.col("b.id")))
           .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                    F.col("a.nsq").alias("na"), F.col("b.nsq").alias("nb"))
           .agg(F.sum(F.col("a.cnt") * F.col("b.cnt")).alias("dot"))
           .select("id_a", "id_b", "dot", cos.alias("cosine"))
           .where(F.col("cosine") >= threshold_millis / 1000.0))
    return res, tc


def pq_topk(emb: DataFrame, query_ids: list[int], k: int = 10,
            m_sub: int = 4, n_anchors: int = 8, dim: int = 64,
            id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Product-quantization ANN (Jégou et al., "Product Quantization for
    Nearest Neighbor Search", TPAMI'11) with asymmetric-distance (ADC)
    scoring — the memory-bound tier of the ANN stack: each vector is
    stored as ``m_sub`` one-byte codes instead of ``dim`` floats (64× for
    the defaults), and scoring a candidate is ``m_sub`` table lookups
    instead of ``dim`` multiplies.

    Deterministic, integer-exact variant so the whole pipeline is
    SQL-oracle-checkable (float k-means codebooks would be rows-only):

    - vectors are int8 floor-quantized first (same exact math as
      :func:`..operators.curation.quantize_embeddings`);
    - the per-subspace codebook is the quantized subvectors of the
      ``n_anchors`` corpus vectors with the smallest
      ``(md5(vec_id), vec_id)`` — a deterministic, engine-portable
      sample (the k-means-free analogue of a trained codebook);
    - codes = arg-min squared L2 to each anchor subvector (ties → lower
      anchor rank); ADC distance = Σ over subspaces of the
      query-to-anchor LUT entry — all BIGINT.

    Scale shape: the codebook and the per-query LUTs are bounded driver
    artifacts (n_anchors × dim ints, |Q|·m_sub·n_anchors ints) baked in
    as literals, so code assignment and ADC scoring are pure narrow JVM
    codegen passes over the corpus — no join, no Python worker, no
    shuffle until the final two-phase top-k (per-partition Arrow partial
    selection, then rank over ≤ k·P survivors per query).  Returns
    (query_id, vec_id, rank, approx_dist); recall vs the exact tier is
    measured in tests, exactness of the PQ pipeline itself by the
    oracle."""
    assert dim % m_sub == 0
    d_sub = dim // m_sub
    x = F.col(vec_col)
    maxabs = F.array_max(F.transform(x, lambda e: F.abs(e.cast("double"))))
    # let-bind maxabs as a column first: HOF lambdas are interpreted, so
    # referencing the aggregate expression inside the per-element lambda
    # would re-evaluate the 64-element array_max 64 times per row
    q8 = F.transform(
        x, lambda e: F.when(F.col("m") == 0.0, F.lit(0).cast("long"))
        .otherwise(F.floor(e.cast("double") * 127.0 / F.col("m"))
                   .cast("long")))
    qdf = (ensure_parallelism(emb)
           .withColumn("m", maxabs)
           .select(F.col(id_col), q8.alias("q")).cache())
    # bounded, deterministic codebook sample (n_anchors rows) + the
    # query vectors (|Q| rows) — the only driver-side collections, both
    # constant-bounded like the IVF training sample
    hx = F.md5(F.col(id_col).cast("string"))
    bounded = (qdf.orderBy(hx, F.col(id_col))
               .limit(n_anchors)
               .select(F.lit("a").alias("role"), hx.alias("hx"),
                       F.col(id_col), "q")
               .unionByName(
                   qdf.where(F.col(id_col)
                             .isin([int(i) for i in query_ids]))
                   .select(F.lit("q").alias("role"), hx.alias("hx"),
                           F.col(id_col), "q"))
               .collect())  # one bounded job for codebook + query rows
    # union does not preserve the limit's order — restore (md5, id)
    aqs = [list(r["q"]) for r in
           sorted((r for r in bounded if r["role"] == "a"),
                  key=lambda r: (r["hx"], r[id_col]))]
    if aqs and len(aqs[0]) != dim:
        raise ValueError(
            f"pq_topk: dim={dim} but '{vec_col}' vectors have "
            f"{len(aqs[0])} components — a mismatch would silently "
            "code against a prefix/NULL tail instead of the real vector")
    qrows = {int(r[id_col]): list(r["q"]) for r in bounded
             if r["role"] == "q"}

    # materialize the code table (id + m_sub ints per vector — the PQ
    # index itself, 64× smaller than the vectors): the per-query top-k
    # branches below each scan it, and the assignment expressions are
    # wide enough that re-analyzing/re-running them per branch costs
    # more than the one bounded write
    coded = qdf.select(id_col, *_pq_code_cols(aqs, d_sub, m_sub)) \
        .localCheckpoint(eager=True)
    out = _pq_adc_topk(coded, aqs, qrows, query_ids, k,
                       d_sub=d_sub, m_sub=m_sub, id_col=id_col)
    return finalize_release(out, qdf)


def _pq_code_cols(aqs: list[list[int]], d_sub: int, m_sub: int) -> list:
    """The PQ code-assignment expressions, one per subspace.

    Argmin as ONE least-of-structs per subspace — (dist, rank) structs
    compare lexicographically, so least() picks the min distance with
    ties to the lower anchor rank.  Built as ONE SQL string per code
    column, not nested Column operators: the assignment tree is ~4,000
    expression nodes, and constructing it node-by-node through the
    Python Column API costs a py4j round-trip PER NODE — measured 3.5 s
    of pure driver-side construction per call, the operator's actual
    small-SF floor (execution over the corpus is ~0.5 s at sf0.1).
    F.expr hands the whole string to Catalyst's parser in a single
    round-trip.  The distance is the argmin-equivalent dot form:
    Σ(qᵢ-aᵢ)² = Σaᵢ² - 2Σqᵢaᵢ + Σqᵢ², and Σqᵢ² is constant across
    anchors so it drops out — each element_at appears ONCE per anchor
    and the ordering (ties included) is bit-identical to the squared
    form."""
    def sub_dist_sql(s: int, aq: list[int]) -> str:
        lo = s * d_sub
        ssq = sum(a * a for a in aq[lo:lo + d_sub])
        dots = "+".join(f"element_at(q,{lo + i + 1})*({aq[lo + i]}L)"
                        for i in range(d_sub))
        return f"{ssq}L-2*({dots})"

    return [
        F.expr("least(" + ",".join(
            f"named_struct('d',{sub_dist_sql(s, aq)},'r',{r})"
            for r, aq in enumerate(aqs)) + ").r").alias(f"c{s}")
        for s in range(m_sub)]


def _pq_adc_topk(coded: DataFrame, aqs: list[list[int]],
                 qrows: dict[int, list[int]], query_ids: list[int],
                 k: int, *, d_sub: int, m_sub: int,
                 id_col: str, exclude_self: bool = True) -> DataFrame:
    """ADC scoring + per-query top-k over a (materialized) code table.

    Per-query TakeOrderedAndProject instead of the Arrow-backed
    partial_topk: |Q| is already literal-bounded by the LUT design, so
    one JVM per-partition-heap top-k per query keeps the whole PQ plan
    Python-free (measured: the Arrow pass floor was >half the runtime
    at small SF).  Each branch carries ONLY its own query's LUT sum —
    a |Q|-way exploded struct here would make every branch re-analyze
    and re-execute all |Q| distance expressions just to filter |Q|-1
    of them away.  For unbounded query sets score against partial_topk
    instead."""
    def lut(qq: list[int], s: int, aq: list[int]) -> int:
        return sum((qq[s * d_sub + i] - aq[s * d_sub + i]) ** 2
                   for i in range(d_sub))

    def q_dist(qq: list[int]):
        # ONE SQL string per query instead of nested Column operators —
        # the same py4j-round-trip discipline as _pq_code_cols: the
        # Column form costs |Q|·m_sub·(n_anchors+3) driver round-trips
        # per call (measured 0.53 s of pure plan construction at the
        # defaults); F.expr hands Catalyst the whole sum in one.
        return F.expr("+".join(
            "element_at(array(" +
            ",".join(f"{lut(qq, s, aq)}L" for aq in aqs) +
            f"),c{s}+1)" for s in range(m_sub)))

    def branch(qid: int) -> DataFrame:
        b = coded.select(F.lit(int(qid)).cast("long").alias("query_id"),
                         F.col(id_col).alias("vec_id"),
                         q_dist(qrows[int(qid)]).alias("approx_dist"))
        if exclude_self:
            # in-corpus queries: a row is not its own neighbor.  For
            # external queries pass exclude_self=False — an id-space
            # collision between a query and an unrelated corpus row
            # must NOT silently drop that row from the top-k.
            b = b.where(F.col("vec_id") != int(qid))
        return b.orderBy("approx_dist", "vec_id").limit(k)

    tops = [branch(qid) for qid in query_ids]
    allq = tops[0]
    for t in tops[1:]:
        allq = allq.unionByName(t)
    w = Window.partitionBy("query_id").orderBy("approx_dist", "vec_id")
    return (allq.withColumn("rank", F.row_number().over(w))
            .select("query_id", "vec_id", "rank",
                    F.col("approx_dist").cast("long").alias("approx_dist")))


def build_pq_index(emb: DataFrame, path: str, m_sub: int = 4,
                   n_anchors: int = 8, dim: int = 64,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> None:
    """Persist the PQ index — the production serving shape's build
    side: ``<path>/codes`` (one row per vector: id + ``m_sub`` int
    codes, 64× smaller than the vectors) and ``<path>/codebook``
    (``n_anchors`` rows of quantized anchor vectors with their rank)
    as parquet.  Same deterministic math as :func:`pq_topk`, so an
    index built here and served by :func:`query_pq_index` returns
    bit-identical rankings to the in-session operator — which is what
    the ``sim_pq_index`` check pins (round-trip through parquet loses
    nothing).

    Scale: the build is one codegen scan + one columnar write; the
    codebook is a bounded sidecar.  Rebuild cadence is the caller's
    policy (anchors drift only when the corpus distribution does)."""
    assert dim % m_sub == 0
    d_sub = dim // m_sub
    x = F.col(vec_col)
    maxabs = F.array_max(F.transform(x, lambda e: F.abs(e.cast("double"))))
    q8 = F.transform(
        x, lambda e: F.when(F.col("m") == 0.0, F.lit(0).cast("long"))
        .otherwise(F.floor(e.cast("double") * 127.0 / F.col("m"))
                   .cast("long")))
    qdf = (ensure_parallelism(emb)
           .withColumn("m", maxabs)
           .select(F.col(id_col), q8.alias("q")).cache())
    hx = F.md5(F.col(id_col).cast("string"))
    anchors = [list(r["q"]) for r in
               sorted(qdf.orderBy(hx, F.col(id_col)).limit(n_anchors)
                      .select(hx.alias("hx"), F.col(id_col), "q").collect(),
                      key=lambda r: (r["hx"], r[id_col]))]
    if anchors and len(anchors[0]) != dim:
        raise ValueError(
            f"build_pq_index: dim={dim} but '{vec_col}' vectors have "
            f"{len(anchors[0])} components — a mismatch would silently "
            "code against a prefix/NULL tail instead of the real vector")
    spark = emb.sparkSession
    spark.createDataFrame(
        [(r, aq) for r, aq in enumerate(anchors)],
        "arank int, aq array<bigint>") \
        .coalesce(1).write.mode("overwrite").parquet(f"{path}/codebook")
    qdf.select(F.col(id_col).alias("vec_id"),
               *_pq_code_cols(anchors, d_sub, m_sub)) \
        .write.mode("overwrite").parquet(f"{path}/codes")
    qdf.unpersist()


def query_pq_index(spark, path: str,
                   queries: dict[int, list[float]], k: int = 10,
                   m_sub: int = 4, dim: int = 64,
                   exclude_self: bool = False) -> DataFrame:
    """Serve top-k from a persisted PQ index (:func:`build_pq_index`)
    — query vectors arrive from OUTSIDE the corpus (the serving-time
    reality), are int8 floor-quantized driver-side with the identical
    per-vector math (pure Python on the same float64 ops, so quantized
    codes match what the corpus pass would produce), and score against
    the stored codes via literal LUTs — the corpus-side cost is one
    columnar scan of the codes table per query batch, never touching
    raw vectors.

    ``exclude_self`` defaults to False: external query ids share no id
    space with the corpus, so a numeric collision must not silently
    drop a corpus row from that query's top-k.  Pass True only when
    the query ids ARE corpus row ids (the :func:`pq_topk` situation —
    e.g. re-serving in-corpus queries from the stored index)."""
    cb = sorted(spark.read.parquet(f"{path}/codebook").collect(),
                key=lambda r: r["arank"])
    aqs = [list(r["aq"]) for r in cb]
    if aqs and len(aqs[0]) != dim:
        raise ValueError(
            f"query_pq_index: dim={dim} but the stored codebook at "
            f"{path} has {len(aqs[0])}-component anchors — the index "
            "was built with a different dim")
    for qid, v in queries.items():
        if len(v) != dim:
            raise ValueError(
                f"query_pq_index: query {qid} has {len(v)} components, "
                f"index dim is {dim}")
    coded = spark.read.parquet(f"{path}/codes")

    def quant(v: list[float]) -> list[int]:
        m = max(abs(float(e)) for e in v) if v else 0.0
        if m == 0.0:
            return [0] * len(v)
        return [math.floor(float(e) * 127.0 / m) for e in v]

    qrows = {int(qid): quant(v) for qid, v in queries.items()}
    return _pq_adc_topk(coded, aqs, qrows, list(qrows), k,
                        d_sub=dim // m_sub, m_sub=m_sub,
                        id_col="vec_id", exclude_self=exclude_self)


def retrieval_topk(emb: DataFrame, query_ids: list[int], k: int = 10,
                   shortlist: int = 50, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Two-stage retrieval — the production ANN serving shape: the PQ
    tier shortlists ``shortlist`` candidates per query by ADC distance
    (memory-bound scan of one-byte codes), then ONLY the shortlist pays
    the exact decimal-accumulated cosine and the final top-``k`` rank.

    End-to-end deterministic: the PQ stage is integer-exact
    (:func:`pq_topk`) and the rescore uses the portable decimal cosine
    kernel, so the composed ranking is SQL-oracle-checkable — the
    quality contract (does PQ's shortlist recall feed the right final
    top-k) is what the oracle pins, not just each stage alone.

    Scale shape: stage-1 cost is the PQ scan; stage-2 touches
    |Q|·shortlist rows — independent of corpus size; the final rank
    windows over ≤ shortlist rows per query."""
    cand = (pq_topk(emb, query_ids, k=shortlist, id_col=id_col,
                    vec_col=vec_col)
            .select("query_id", "vec_id"))
    nv = (with_normalized(ensure_parallelism(emb), vec_col, "nv")
          .select(id_col, "nv").cache())
    q = (nv.where(F.col(id_col).isin([int(x) for x in query_ids]))
         .select(F.col(id_col).alias("query_id"), F.col("nv").alias("qv")))
    scored = (cand
              .join(nv.withColumnRenamed(id_col, "vec_id"), "vec_id")
              .join(F.broadcast(q), "query_id")
              .select("query_id", "vec_id",
                      dot_compact(F.col("qv"), F.col("nv"))
                      .cast("decimal(18,9)").cast("double")
                      .alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id"))
    out = (scored.withColumn("rank", F.row_number().over(w))
           .where(F.col("rank") <= k)
           .select("query_id", "vec_id", "rank", "cosine"))
    return finalize_release(out, nv)


def ann_ivf_exact_topk(emb: DataFrame, query_ids: list[int], k: int = 10,
                       n_cells: int = 8, n_probe: int = 2,
                       n_iter: int = 2, id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """IVF top-k with a fully DETERMINISTIC coarse quantizer — the
    oracle-exact twin of :func:`ann_ivf_topk` (same relationship as
    ``dedup_minhash_exact`` to the MLlib MinHash tier): cells come from
    the integer-exact Lloyd's of :func:`~.clustering.kmeans_int` (md5
    seeds, integer L2, truncating-mean updates), each query probes its
    ``n_probe`` nearest cells by integer centroid distance (ties →
    lower cell rank), and only the probed cells pay the exact
    decimal-accumulated cosine.  Every stage is engine-reproducible, so
    the whole approximate search — cells, probes, candidates, ranking —
    unrolls to one SQL oracle; the float-k-means tier stays the
    rows-only scale path and its recall is asserted against the exact
    tier in tests.

    Returns (query_id, vec_id, rank, cosine), self-matches excluded.

    Scale shape: fit = ``n_iter`` bounded driver-literal rounds (one
    narrow-map + combining-update job each — the round-10
    :func:`~.clustering.kmeans_fit_centroids` shape); cell assignment
    rides the SAME scan that normalizes the corpus (baked-literal
    argmin — no quantized↔normalized self-join, no shuffle); the probe
    table is |Q|·n_probe rows, BUILT DRIVER-SIDE (round-12) from a
    bounded |Q|-row collect that overlaps the fit — exact integer
    centroid distances, (d, rank) tie order — and baked into the plan
    as a folded cluster→probes literal LUT, so candidate generation is
    a narrow ``Generate`` over the corpus cache (no crossJoin, no
    window, no join, no broadcast: the probe-subtree job disappears);
    a query still touches ~``n_probe/n_cells`` of the corpus (rows in
    unprobed cells explode an empty array); top-k via the same
    two-phase partial selection as the exact tier."""
    from ..functions.layout import pinned_shuffle, plan_width
    from .clustering import (_best_struct_sql, kmeans_fit_centroids,
                             quantize_exprs)

    w = plan_width(emb, floor=8)
    base = ensure_parallelism(emb, min_partitions=w)
    with pinned_shuffle(base.sparkSession, w):
        # ONE cache, materialized once (round-11; was two — a fit-only
        # (id, q) cache plus a serving (vec_id, nv, q, cluster) cache,
        # i.e. two full quantize passes over the corpus): normalized
        # vector AND quantized vector ride the same scan
        # (quantize_exprs — the shared bit-identity-critical pair); the
        # fit reads its (id, q) view off this cache, and ``cluster`` is
        # a post-fit baked-literal argmin PROJECTION over it — k×dim
        # integer ops per scanned row, recomputed by each consumer
        # instead of widening the materialize with a second barrier.
        # NULL embeddings are dropped, the
        # :func:`~.clustering._quantized` contract — they have no
        # position in the space on either the fit or the serving side.
        # The drop predicate is on the RAW column (q IS NULL ⇔ vec IS
        # NULL: transform() of a non-NULL array is never NULL) — a
        # predicate on q would be substitution-pushed through the
        # projection and below the fan-out exchange, evaluating the
        # whole interpreted quantize chain at scan width (round-11).
        maxabs, q8 = quantize_exprs(vec_col)
        cells = (with_normalized(base.where(F.col(vec_col).isNotNull()),
                                 vec_col, "nv")
                 .withColumn("__m", maxabs).withColumn("q", q8)
                 .select(F.col(id_col).alias("vec_id"), "nv", "q")
                 .cache())
        ids = [int(x_) for x_ in query_ids]
        # round-12 (guide §2.6/§5.1): the |Q| query rows — (id, nv, q),
        # a structurally BOUNDED collect like the mmr/PQ-stats ones —
        # don't depend on the fit, so they're fetched straight off the
        # raw parquet (pushed isin filter, |Q| rows pay the normalize/
        # quantize exprs) CONCURRENTLY with the Lloyd rounds; the probe
        # ranking is then computed driver-side from the final centroid
        # literals with the SAME exact integer L2 and (d, r) tie order
        # as _probe_sort_sql and baked into the serving plan as a
        # folded literal LUT — the probe-subtree broadcast job (a
        # rescan of the corpus cache) disappears from the barrier
        # chain (before/after serving fragments in
        # plans/r12/sim_ivf_exact_serve_*.txt).
        from ..functions.layout import parallel_frames

        def fit():
            return kmeans_fit_centroids(
                cells.select(F.col("vec_id").alias(id_col), "q"),
                n_cells, n_iter, id_col)

        def query_rows():
            qf = base.where(F.col(id_col).isin(ids)
                            & F.col(vec_col).isNotNull())
            return (with_normalized(qf, vec_col, "nv")
                    .withColumn("__m", maxabs).withColumn("q", q8)
                    .select(F.col(id_col).alias("vec_id"), "nv", "q")
                    .collect())
        cents, qrows = parallel_frames(fit, query_rows)
        if not cents:  # empty corpus → empty ranking, stable schema
            cells.unpersist()
            return base.sparkSession.createDataFrame(
                [], "query_id long, vec_id long, rank int, cosine double")
        b = _best_struct_sql(cents)
        corpus = cells.withColumn("cluster", F.expr(f"({b}).r"))
        # driver-side probe selection: d = Σ(qᵢ−cᵢ)² in exact Python
        # ints, sorted by (d, rank) — bit-for-bit the array_sort((d, r)
        # struct) selection the in-plan probe expression computed,
        # including its NULLs: a NULL query element, or zip_with's NULL
        # padding of unequal lengths, makes d NULL, and NULL sorts first
        def _probe_key(qq, cq, rank):
            if None in qq or len(qq) != len(cq):
                return (0, 0, rank)
            return (1, sum((a - c) * (a - c) for a, c in zip(qq, cq)), rank)

        by_cell: list[list[tuple[int, list]]] = [[] for _ in cents]
        for r_ in sorted(qrows, key=lambda r: int(r["vec_id"])):
            qq = r_["q"]
            ranked = sorted(range(len(cents)),
                            key=lambda r: _probe_key(qq, cents[r], r))
            for cell in ranked[:n_probe]:
                by_cell[cell].append((int(r_["vec_id"]),
                                      list(r_["nv"])))
        # cluster → probing (query_id, qv) LUT as ONE folded literal
        # (the _cent_array_sql discipline: the array is the
        # element_at's input, so ConstantFolding collapses it to a
        # single object) — serving is a narrow Generate over the
        # corpus cache: no join, no broadcast, no exchange.  Finite
        # doubles print via repr (shortest exact round-trip) with the D
        # suffix so the parser yields the identical IEEE value; NaN and
        # ±inf have no numeric literal and go through a string cast.
        def _d_lit(x) -> str:
            if x is None:
                return "CAST(NULL AS DOUBLE)"
            if math.isfinite(x):
                return f"{x!r}D"
            return ("CAST('NaN' AS DOUBLE)" if math.isnan(x) else
                    f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)")

        elem_t = "array<struct<query_id:bigint,qv:array<double>>>"
        cell_arrays = []
        for plist in by_cell:
            if not plist:
                cell_arrays.append(f"CAST(array() AS {elem_t})")
            else:
                cell_arrays.append("array(" + ",".join(
                    f"named_struct('query_id', {qid}L, 'qv', "
                    f"array({','.join(_d_lit(x) for x in nvv)}))"
                    for qid, nvv in plist) + ")")
        lut = "array(" + ",".join(cell_arrays) + ")"
        scored = (corpus
                  .select("vec_id", "nv",
                          F.explode(F.expr(
                              f"element_at({lut}, cluster + 1)"))
                          .alias("p"))
                  .where(F.col("p.query_id") != F.col("vec_id"))
                  .select(F.col("p.query_id").alias("query_id"),
                          "vec_id",
                          dot_compact(F.col("p.qv"), F.col("nv"))
                          .cast("decimal(18,9)").cast("double")
                          .alias("cosine")))
        out = _rank_topk(partial_topk(
            scored, k, small=_ivf_small(cells, len(query_ids), n_probe,
                                        n_cells)), k)
        return finalize_release(out, cells)


def rrf_fuse(rankings: list[DataFrame], k_const: int = 60, k: int = 10,
             query_col: str = "query_id", id_col: str = "doc_id",
             rank_col: str = "rank") -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR'09) —
    the standard hybrid-retrieval combiner: merge N per-query ranked
    lists (e.g. the dense :func:`topk_cosine_bruteforce` arm and the
    sparse :func:`..operators.text.bm25_topk` arm) by

        rrf(d) = Σ over arms ranking d of 1 / (k_const + rank_arm(d))

    integerized in MICROS (``1_000_000 div (k_const + rank)``) so the
    fused ranking is exact-integer and SQL-oracle-checkable — scores
    from incomparable scales (cosine vs BM25 millis) never mix, only
    ranks do, which is the point of RRF.

    Scale shape: the inputs are already top-k lists (≤ k rows per query
    per arm — the arms did the heavy lifting under their own scale
    disciplines), so this is a bounded union + one combining groupBy +
    one per-query window over ≤ N·k survivors; no cap machinery needed.
    Ties break (score desc, id asc) — deterministic.

    Returns (query_col, id_col, rrf_micro, rank), rank 1-based ≤ k."""
    arms = [r.select(F.col(query_col), F.col(id_col),
                     F.col(rank_col).cast("long").alias("__r"))
            for r in rankings]
    u = arms[0]
    for a in arms[1:]:
        u = u.unionByName(a)
    fused = (u.withColumn("__c", F.expr(f"1000000 div ({k_const} + __r)"))
             .groupBy(query_col, id_col)
             .agg(F.sum("__c").alias("rrf_micro")))
    w = Window.partitionBy(query_col).orderBy(
        F.col("rrf_micro").desc(), F.col(id_col))
    return (fused.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= k))


def mmr_topk(emb: DataFrame, query_ids: list[int], k: int = 8,
             lambda_milli: int = 700, shortlist: int = 16,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (Carbonell &
    Goldstein, SIGIR'98) — the rerank step after retrieval: greedily
    pick, per query, the candidate maximizing

        mmr(d) = λ·sim(q, d) − (1−λ)·max_{s ∈ picked} sim(d, s)

    so the result set trades raw relevance for coverage (near-dup
    results are punished by their similarity to what's already picked).

    Exactness contract (the whole greedy selection unrolls to a SQL
    oracle): similarities are cosines over the int8 floor-quantized
    vectors (``quantize_embeddings``' exact math inlined as codegen:
    q[i] = FLOOR(x·127/max|x|), every engine identical) — integer dot
    and norms, one correctly-rounded double division; the MMR
    combination ``(λm/1000)·cos − (1 − λm/1000)·maxsim`` is two IEEE
    multiplies and a subtract on those exact doubles, so scores — and
    therefore picks and tiebreaks (mmr desc, id asc) — are
    bit-identical in any IEEE engine, including the Python driver loop
    below.  Zero vectors score 0 (guarded division).

    Scale shape: the per-query SHORTLIST (top-``shortlist`` by exact
    quantized cosine) is the distributed heavy pass — broadcast
    queries, narrow codegen scoring over the corpus, two-phase
    selection (the X3 machinery), never a per-query global sort.  The
    greedy itself runs on a BOUNDED driver artifact: ONE collect of the
    |Q|·s shortlist rows with their quantized vectors (s=16 default —
    the codebook-sized collect this repo sanctions); the ≤ s² pair
    cosines per query are driver integer/IEEE math on those rows
    (bit-identical to the SQL form), because MMR's sequential argmax is
    inherently k serial steps — k·s compares instead of k Spark jobs.
    Returns (query_id, vec_id, rank) — rank 1..k in pick order — as
    one partition (:func:`~..functions.layout.local_frame`)."""
    lam = lambda_milli / 1000.0
    qz = F.expr(
        f"transform({vec_col}, x -> CASE WHEN __m = 0D THEN 0L ELSE "
        f"cast(floor(cast(x as double) * 127D / __m) as bigint) END)")
    maxabs = F.array_max(F.transform(
        F.col(vec_col), lambda e: F.abs(e.cast("double"))))
    z = (ensure_parallelism(emb)
         .withColumn("__m", maxabs)
         .select(F.col(id_col), qz.alias("qv"))
         .withColumn("nsq", F.expr(
             "aggregate(qv, 0L, (acc, x) -> acc + x * x)"))
         .cache())
    q = (z.where(F.col(id_col).isin([int(x) for x in query_ids]))
         .select(F.col(id_col).alias("query_id"),
                 F.col("qv").alias("qqv"), F.col("nsq").alias("qn")))
    dot = F.expr("aggregate(zip_with(qqv, qv, (a, b) -> a * b), 0L, "
                 "(acc, x) -> acc + x)")
    cos = F.when((F.col("qn") == 0) | (F.col("nsq") == 0),
                 F.lit(0.0)).otherwise(
        dot.cast("double") / (F.sqrt(F.col("qn").cast("double"))
                              * F.sqrt(F.col("nsq").cast("double"))))
    scored = (F.broadcast(q).crossJoin(z)
              .where(F.col("query_id") != F.col(id_col))
              .select("query_id", F.col(id_col).alias("vec_id"),
                      cos.alias("cosine")))
    # two-phase exact top-s on the quantized cosine (X3 machinery);
    # gate bound from the corpus side, as in the bruteforce tier (the
    # crossJoin's own estimate is multiplicative).
    sl = _rank_topk(partial_topk(
        scored, shortlist,
        small=_ivf_small(z, len(query_ids), 1, 1)), shortlist) \
        .drop("rank")
    # ONE bounded collect of the shortlist WITH its quantized vectors
    # (|Q|·s rows, each a dim-long int8-range array — codebook-sized);
    # the ≤ s² pair cosines per query are then driver math on exactly
    # the same integers.  Round-11: this replaces an eager checkpoint +
    # a distributed self-join + a second collect (3 barriers) with one
    # job — and the driver arithmetic is bit-identical to the SQL form
    # it replaces (int64 dot: |qv| ≤ 127, so dim·127² never nears 2⁶³;
    # one correctly-rounded math.sqrt/division per pair — the identical
    # IEEE ops the oracle's unrolled CTEs perform).
    zc = z.select(F.col(id_col).alias("__zid"), "qv", "nsq")
    slv = (sl.join(zc, sl["vec_id"] == zc["__zid"])
           .select("query_id", "vec_id", "cosine", "qv", "nsq"))
    sl_rows = slv.collect()
    z.unpersist()
    rel: dict[int, dict[int, float]] = {}
    vecs: dict[tuple[int, int], tuple[list[int], int]] = {}
    for r in sl_rows:
        rel.setdefault(r["query_id"], {})[r["vec_id"]] = r["cosine"]
        vecs[(r["query_id"], r["vec_id"])] = (r["qv"], r["nsq"])
    pc: dict[tuple[int, int, int], float] = {}
    for qid, cands in rel.items():
        ids = sorted(cands)
        for da in ids:
            va, na = vecs[(qid, da)]
            for db in ids:
                if da == db:
                    continue
                vb, nb = vecs[(qid, db)]
                if na == 0 or nb == 0:
                    pc[(qid, da, db)] = 0.0
                else:
                    dot = sum(x * y for x, y in zip(va, vb))
                    pc[(qid, da, db)] = float(dot) / (
                        math.sqrt(float(na)) * math.sqrt(float(nb)))
    out = []
    for qid, cands in sorted(rel.items()):
        picked: list[int] = []
        remaining = dict(cands)
        while remaining and len(picked) < k:
            best = None
            for d in sorted(remaining):
                ms = max((pc[(qid, d, s)] for s in picked), default=0.0)
                score = lam * remaining[d] - (1.0 - lam) * ms
                if best is None or score > best[0]:
                    best = (score, d)
            picked.append(best[1])
            del remaining[best[1]]
            out.append((qid, best[1], len(picked)))
    return local_frame(emb.sparkSession, out,
                       "query_id long, vec_id long, rank long")


def ranking_eval(pred: DataFrame, truth: DataFrame, k: int = 10,
                 query_col: str = "query_id", id_col: str = "doc_id",
                 rank_col: str = "rank") -> DataFrame:
    """Order-aware retrieval evaluation — recall@k, MRR@k and NDCG@k of
    a PREDICTED ranking against a TRUTH set, per query: the measurement
    step of every retrieval experiment here (the ranking analogue of
    :func:`..operators.dedup.pair_set_metrics`'s set metrics).

    Exact-integer contract: recall and MRR are integer-rational micros
    (``hits·10⁶ div n_truth``, ``10⁶ div first_relevant_rank``); the
    NDCG log2 discounts — the one genuinely irrational ingredient — are
    DRIVER-computed integer literals ``disc[i] = floor(10⁶ / log2(i+1))``
    baked identically into this plan and the SQL oracle, so no engine
    ever evaluates a transcendental: DCG sums literal integers selected
    by rank, IDCG is the literal prefix-sum at ``least(k, n_truth)``,
    and NDCG is one integer division.  Metrics are therefore
    bit-identical everywhere.

    Input contract: TRUTH is deduplicated here; the PREDICTION is also
    deduplicated on (query, id) keeping the MINIMUM rank (round-9
    advice — duplicate predicted pairs would otherwise double-count
    hits and DCG, pushing recall/ndcg past 10⁶).  A well-formed ranking
    is already unique per (query, id), in which case the dedup is a
    no-op combining aggregate over ≤ k rows per query.

    Scale shape: one inner join of the (≤ k per query) prediction list
    against the truth set on (query, id), one combining per-query
    aggregate, one tiny join back to the per-query truth counts —
    bounded by the ranking lists, never by the corpus.

    Returns (query_col, n_truth, hits, recall_micro, mrr_micro,
    ndcg_micro) — one row per query with a non-empty truth set."""
    disc = [0] + [int(1_000_000 / math.log2(i + 1))
                  for i in range(1, k + 1)]
    pdisc = [0]
    for i in range(1, k + 1):
        pdisc.append(pdisc[-1] + disc[i])
    disc_arr = "array(" + ", ".join(f"{d}L" for d in disc[1:]) + ")"
    pdisc_arr = "array(" + ", ".join(f"{d}L" for d in pdisc[1:]) + ")"

    p = (pred.where(F.col(rank_col) <= k)
         .select(F.col(query_col), F.col(id_col),
                 F.col(rank_col).cast("int").alias("__r"))
         .groupBy(query_col, id_col)
         .agg(F.min("__r").alias("__r")))
    t = truth.select(F.col(query_col), F.col(id_col)).distinct()
    nt = t.groupBy(query_col).agg(F.count("*").alias("n_truth"))
    hit = (p.join(t, [query_col, id_col])
           .groupBy(query_col)
           .agg(F.count("*").alias("hits"),
                F.min("__r").alias("__first"),
                F.sum(F.expr(f"element_at({disc_arr}, __r)"))
                .alias("__dcg")))
    out = (nt.join(hit, query_col, "left")
           .select(
               query_col, "n_truth",
               F.coalesce("hits", F.lit(0)).cast("long").alias("hits"),
               F.expr("coalesce(hits, 0) * 1000000 div n_truth")
               .cast("long").alias("recall_micro"),
               F.coalesce(F.expr("1000000 div __first"), F.lit(0))
               .cast("long").alias("mrr_micro"),
               F.coalesce(
                   F.expr(f"__dcg * 1000000 div element_at({pdisc_arr}, "
                          f"cast(least({k}, n_truth) as int))"),
                   F.lit(0)).cast("long").alias("ndcg_micro")))
    return out


def hard_negatives(emb: DataFrame, positives: dict[int, int], k: int = 5,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Hard-negative mining for contrastive retriever training (the
    DPR / Contriever recipe: the strongest negatives are the corpus
    docs the CURRENT embedding space ranks highest that are NOT the
    labeled positive).  For each query in ``positives`` (query id →
    its positive doc id), return the top ``k`` cosine-nearest corpus
    docs excluding the query itself and its positive, re-ranked 1..k.

    Deterministic and SQL-oracle-checkable: the underlying ranking is
    :func:`topk_cosine_bruteforce`'s decimal-exact cosine with
    (cosine desc, id) total order; the positive exclusion and re-rank
    are pure relational steps on the |Q|·(k+1) retrieved rows.

    Returns (query_id, pos_id, neg_id, neg_rank, cosine).

    Scale shape: one bruteforce top-(k+1) pass (two-phase partial
    selection — no per-query full-corpus window), then a broadcast
    join of the |Q|-row positives table and a window over ≤ k+1 rows
    per query.  Exactness of the budget: dropping the positive removes
    at most ONE row per query, so top-(k+1) always leaves ≥ k true
    negatives."""
    from pyspark.sql import Window

    spark = emb.sparkSession
    qids = sorted(int(q) for q in positives)
    pos = local_frame(
        spark, [(int(q), int(p)) for q, p in sorted(positives.items())],
        "query_id long, pos_id long")
    ranking = topk_cosine_bruteforce(emb, qids, k=k + 1,
                                     id_col=id_col, vec_col=vec_col)
    w = Window.partitionBy("query_id").orderBy("rank")
    return (ranking.join(F.broadcast(pos), "query_id")
            .where(F.col("vec_id") != F.col("pos_id"))
            .withColumn("neg_rank",
                        F.row_number().over(w).cast("long"))
            .where(F.col("neg_rank") <= k)
            .select("query_id", "pos_id",
                    F.col("vec_id").alias("neg_id"), "neg_rank",
                    "cosine"))


def build_ivf_index(emb: DataFrame, path: str, n_cells: int = 8,
                    n_iter: int = 2, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> None:
    """Build a serveable IVF index on disk — the dense-retrieval mirror
    of :func:`build_pq_index` / the X80 impact index (build on corpus
    change, serve many times; the reference's load-once/query-many
    BigQuery tables are the same cadence):

    - ``path/cells`` — (vec_id, nv, q, cluster) parquet PARTITIONED BY
      cluster, so a serving query's probed cells map to directory
      pruning: a query reads ~n_probe/n_cells of the corpus FILES,
      not just rows;
    - ``path/centroids`` — the k×dim integer centroid table (r, cq),
      the codebook-sized artifact the server loads once.

    The coarse quantizer is the deterministic integer Lloyd's of
    :func:`~.clustering.kmeans_fit_centroids` (md5 seeds, integer L2,
    truncating means), and ``nv`` is the decimal-exact normalized
    vector — so serving results are bit-identical to the in-session
    :func:`ann_ivf_exact_topk` (pytest-pinned)."""
    from ..functions.layout import pinned_shuffle, plan_width
    from .clustering import (_best_struct_sql, _centroid_df, _quantized,
                             kmeans_fit_centroids, quantize_exprs)

    w = plan_width(emb, floor=8)
    base = ensure_parallelism(emb, min_partitions=w)
    with pinned_shuffle(base.sparkSession, w):
        qdf = _quantized(base, id_col, vec_col, width=0).cache()
        cents = kmeans_fit_centroids(qdf, n_cells, n_iter, id_col,
                                     width=w)
        maxabs, q8 = quantize_exprs(vec_col)
        cl = (F.expr(f"({_best_struct_sql(cents)}).r") if cents
              else F.lit(None).cast("int"))
        cells = (with_normalized(base, vec_col, "nv")
                 .withColumn("__m", maxabs).withColumn("q", q8)
                 .select(F.col(id_col).alias("vec_id"), "nv", "q",
                         cl.alias("cluster")))
        cells.write.mode("overwrite").partitionBy("cluster") \
            .parquet(path + "/cells")
        _centroid_df(base.sparkSession, cents).write.mode("overwrite") \
            .parquet(path + "/centroids")
        qdf.unpersist()


def append_ivf_index(emb: DataFrame, path: str, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> None:
    """X92: incremental IVF index maintenance — assign NEW vectors with
    the STORED centroids and append their cell partitions, never
    refitting: the codebook must not drift as batches arrive, or
    yesterday's cells stop being comparable to today's (the same
    incremental contract as :func:`~.dedup.semantic_dedup_incremental`
    — and the real-world cadence: a crawl lands daily, the index
    rebuilds monthly).  Ids must be disjoint from the stored corpus
    (the id-keyed incremental contract).

    The appended rows use the SAME quantize/normalize expressions as
    the build (:func:`~.clustering.quantize_exprs` +
    ``with_normalized``), so an append is bit-identical to having
    included the rows in a build that fit on the ORIGINAL corpus —
    the property the ``sim_ivf_append`` oracle states in SQL and the
    pytest pins against a manual reconstruction.

    Scale shape: one narrow scan of the new batch (baked-literal
    argmin, no join, no shuffle) appended as new parquet files inside
    the existing ``cluster=`` directories — serving's dynamic
    partition pruning is layout-unchanged; the centroid artifact is
    untouched."""
    from .clustering import _best_struct_sql, quantize_exprs

    spark = emb.sparkSession
    rows = sorted(spark.read.parquet(path + "/centroids").collect(),
                  key=lambda r: r["r"])
    cents = [[int(c) for c in r["cq"]] for r in rows]
    if not cents:
        raise ValueError(f"append_ivf_index: empty centroid table at "
                         f"{path} — build_ivf_index first")
    maxabs, q8 = quantize_exprs(vec_col)
    cl = F.expr(f"({_best_struct_sql(cents)}).r")
    cells = (with_normalized(ensure_parallelism(emb), vec_col, "nv")
             .withColumn("__m", maxabs).withColumn("q", q8)
             .select(F.col(id_col).alias("vec_id"), "nv", "q",
                     cl.alias("cluster")))
    cells.write.mode("append").partitionBy("cluster") \
        .parquet(path + "/cells")


def compact_ivf_index(spark, path: str,
                      target_bytes: int = 128 << 20) -> None:
    """X93: index compaction — the maintenance pass
    :func:`append_ivf_index` eventually requires: every append adds
    one file per task inside each touched ``cluster=`` directory, and
    after enough batches serving pays per-file open/footer cost on
    thousands of small files (the classic lake small-file problem).
    Rewrites each cell's rows into ⌈cell_bytes / target_bytes⌉ files
    and atomically swaps the directory, changing NOTHING logical:
    rows, schema, partition layout, and serving results are
    bit-identical (the ``sim_ivf_compact`` check serves the same
    oracle as the append check THROUGH a compaction).

    Swap protocol: write to ``cells.compact.<pid>``, rename the old
    directory aside, rename the new one in, delete the old — readers
    see either complete generation, never a mix (same spirit as the
    reference's truncate-and-replace loads and the index builders'
    pid-unique temp + rename publish)."""
    import os
    import shutil

    from ..functions.layout import plan_width

    cells = spark.read.parquet(path + "/cells")
    w = plan_width(cells, floor=1)
    tmp = f"{path}/cells.compact.{os.getpid()}"
    # repartition BY the partition column: each output task holds whole
    # cells, so every cluster= directory gets ⌈cell/target⌉ files (the
    # width pin sizes tasks from the index's own plan stats)
    (cells.repartition(w, "cluster")
     .write.mode("overwrite").partitionBy("cluster").parquet(tmp))
    old = f"{path}/cells.old.{os.getpid()}"
    os.rename(path + "/cells", old)
    os.rename(tmp, path + "/cells")
    shutil.rmtree(old, ignore_errors=True)


def ivf_index_stats(spark, path: str):
    """Operational observability for the IVF artifact: per-cell row
    and FILE counts (the compaction trigger — file count grows with
    appends, row count with corpus).  One metadata-cheap scan using
    the parquet reader's ``_metadata`` input-file column."""
    cells = spark.read.parquet(path + "/cells")
    return (cells.select("cluster",
                         F.input_file_name().alias("__f"))
            .groupBy("cluster")
            .agg(F.count("*").alias("n_rows"),
                 F.countDistinct("__f").alias("n_files"))
            .orderBy("cluster"))


def query_ivf_index(spark, path: str, query_ids: list[int] | None = None,
                    k: int = 10, n_probe: int = 2,
                    query_vectors: dict[int, list[float]] | None = None
                    ) -> DataFrame:
    """Serve IVF top-k from the stored index (:func:`build_ivf_index`)
    without touching the raw corpus: load the codebook-sized centroid
    table once, pick each query's ``n_probe`` nearest cells in-plan
    (literal centroid distances, ties → lower cell rank), and join the
    |Q|·n_probe probe table against the cell-partitioned index —
    ``cluster`` is the PARTITION column, so dynamic partition pruning
    turns the broadcast probe join into a directory-pruned scan of
    only the probed cells' files (plan-asserted in tests).  Scoring is
    the same decimal-exact cosine + two-phase top-k as the exact tier;
    results are bit-identical to :func:`ann_ivf_exact_topk` with the
    same build parameters.

    Query side, two modes (round-11 — the PQ-serve parity item):

    - ``query_vectors`` (preferred at scale): {query_id: raw embedding}
      literals.  The query rows are quantized/normalized in-plan with
      the shared :func:`~.clustering.quantize_exprs` /
      ``with_normalized`` expressions over a tiny local table, so a
      query NEEDS NO corpus membership and the lookup touches ZERO
      index files (plan-asserted) — an external query with a corpus
      vector's exact embedding returns bit-identical results to the
      id mode.  Pass the raw (un-normalized) embedding values.
    - ``query_ids``: ids resolved from the index itself — convenient
      in-corpus mode, but the id lookup filters the full cells table
      (every cell directory's footers), so prefer vectors when serving
      detached from the corpus.

    Query ids share the corpus id namespace in both modes: a result
    row with ``vec_id == query_id`` is dropped as a self-match.

    Returns (query_id, vec_id, rank, cosine)."""
    from .clustering import _probe_sort_sql, quantize_exprs

    if (query_ids is None) == (query_vectors is None):
        raise ValueError("query_ivf_index: pass exactly one of "
                         "query_ids / query_vectors")
    rows = sorted(spark.read.parquet(path + "/centroids").collect(),
                  key=lambda r: r["r"])
    cents = [[int(c) for c in r["cq"]] for r in rows]
    if not cents:
        return spark.createDataFrame(
            [], "query_id long, vec_id long, rank int, cosine double")
    cells = spark.read.parquet(path + "/cells")
    if query_vectors is not None:
        qlit = local_frame(
            spark,
            [(int(i), [float(x) for x in v])
             for i, v in sorted(query_vectors.items())],
            "query_id long, embedding array<double>")
        maxabs, q8 = quantize_exprs("embedding")
        qrows = (with_normalized(qlit, "embedding", "qv")
                 .withColumn("__m", maxabs)
                 .select("query_id", q8.alias("q"), "qv"))
    else:
        ids = [int(x) for x in query_ids]
        qrows = (cells.where(F.col("vec_id").isin(ids))
                 .select(F.col("vec_id").alias("query_id"), "q",
                         F.col("nv").alias("qv")))
    probes = (qrows.select(
        "query_id", "qv",
        F.explode(F.expr(f"slice({_probe_sort_sql(cents)}, "
                         f"1, {n_probe})")).alias("p"))
        .select("query_id", "qv", F.col("p.r").alias("cluster")))
    scored = (F.broadcast(probes)
              .join(cells.select("vec_id", "nv", "cluster"), "cluster")
              .where(F.col("query_id") != F.col("vec_id"))
              .select("query_id", "vec_id",
                      dot_compact(F.col("qv"), F.col("nv"))
                      .cast("decimal(18,9)").cast("double")
                      .alias("cosine")))
    # gate bound from the cells SCAN (real file stats — the joined
    # plan's estimate is probe-chain inflated); |Q| from qrows is not
    # known without a count, so bound by the probe row count instead:
    # probes ≤ |Q|·n_probe, and scored ≤ |corpus|·|Q|·n_probe/n_cells
    n_q = len(query_vectors) if query_vectors is not None else len(query_ids)
    return _rank_topk(partial_topk(
        scored, k, small=_ivf_small(cells, n_q, n_probe,
                                    max(1, len(cents)))), k)
