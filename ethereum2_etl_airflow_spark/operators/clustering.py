"""Distributed k-means clustering over embedding columns — the corpus
organizer of an LLM data pipeline (cluster-balanced sampling, per-topic
mixing quotas, SemDeDup's own cell structure all start from "cluster
the embedding space").  The reference repo has no equivalent; this is
part of the LLM-training-data extension mandated by BASELINE.json.

Lloyd's algorithm, made deterministic and oracle-exact by the same
recipe as :func:`~.dedup.semantic_dedup` / :func:`~.similarity.pq_topk`
— no float accumulation anywhere:

- vectors are int8 floor-quantized per vector (exact IEEE double math,
  identical on every engine — :func:`~.curation.quantize_embeddings`);
- seeds are the ``k`` corpus vectors with the smallest ``(md5(id), id)``
  — deterministic, layout-invariant, no ``rand()``;
- distances are integer L2 (Σ(q−c)² over BIGINT — exact);
- assignment ties break toward the lower cluster rank
  (min-of-structs);
- centroid updates are element-wise TRUNCATING integer means
  (``sum div count`` — Spark ``div`` and DuckDB ``//`` both truncate
  toward zero, so the unrolled-CTE oracle matches bit-for-bit);
- the iteration count is FIXED, not convergence-probed (the
  :func:`~.graph.pagerank_int` rule: a fixed count unrolls to an exact
  SQL oracle; callers needing the fixpoint raise ``n_iter``).

Scale shape (100 TB corpus, N vectors × dim):

- centroids are the only iterative state, and they are CODEBOOK-sized
  (k×dim small integers — the PQ/MMR driver-artifact class), so each
  round collects them to the driver and the next round consumes them
  as plan constants — no per-round ``localCheckpoint`` barrier, no
  centroid join, no corpus shuffle (round-10: the old per-round eager
  checkpoint+join paid ~0.5–1 s of micro-job fixed cost per Lloyd
  round that dwarfed the data at test SFs);
- each fit round is ONE single-stage job: a narrow Arrow pass
  (``mapInPandas`` — the ``partial_topk`` per-partition-kernel
  precedent) assigns each vector by an integer-exact float64 BLAS
  distance matmul and emits ≤ k partial (cluster, count, Σq) rows per
  partition, merged driver-side;
- the FINAL assignment (the operator's output) is a pure JVM narrow
  map — the centroid matrix folded to one array literal, argmin via
  ``array_min(transform(C, …))`` (:func:`_best_struct_sql`) — zero
  exchange, zero Python in the returned plan;
- the corpus is quantized once and cached; released on finalize.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.layout import (ensure_parallelism, finalize_release,
                                local_frame)

__all__ = ["kmeans_int", "kmeans_fit", "kmeans_fit_centroids",
           "kmeans_assign", "cluster_balanced_sample"]


def quantize_exprs(vec_col: str, m_col: str = "__m"):
    """(maxabs, q8) column pair of the per-vector int8 floor
    quantization — THE bit-identity-critical expression every consumer
    (k-means fit, IVF corpus scans, index builds) must share verbatim:
    ``q8`` must be evaluated with ``m_col`` bound to ``maxabs`` via a
    prior ``withColumn`` (round-10: five drifting copies of this pair
    would let a future quantizer change silently desynchronize one
    site and break the stored-index bit-exactness contracts)."""
    x = F.col(vec_col)
    maxabs = F.array_max(F.transform(x, lambda e: F.abs(e.cast("double"))))
    q8 = F.transform(
        x, lambda e: F.when(F.col(m_col) == 0.0, F.lit(0).cast("long"))
        .otherwise(F.floor(e.cast("double") * 127.0 / F.col(m_col))
                   .cast("long")))
    return maxabs, q8


def _quantized(emb: DataFrame, id_col: str, vec_col: str,
               carry: tuple[str, ...] = (),
               width: int | None = None) -> DataFrame:
    """(id[, carry...], q: array<long>) — per-vector int8 floor-
    quantization, array form (the exploded form is
    :func:`~.curation.quantize_embeddings`).  ``carry``: raw columns to
    keep alongside the codes (round-11 — lets a caller consume the
    assignment without re-joining the corpus; the fit kernel projects
    down to ``q`` so carried columns never cross the Arrow boundary).

    NULL vectors are DROPPED: a row with no embedding has no position
    in the space (round-10 — the numpy fit kernel and the seed collect
    would otherwise crash on ragged None rows).  The drop predicate is
    on the RAW column — exact, since ``transform()`` of a non-NULL
    array is never NULL, so ``q IS NULL ⇔ vec IS NULL`` — because a
    predicate on ``q`` itself is pushed below any fan-out exchange and
    evaluates the whole interpreted quantize chain once in the filter
    at scan width and AGAIN in the projection (round-11; measured 3 s
    of single-task HOF time on the incremental-assign batch).  The
    raw-column IsNotNull instead reaches the parquet scan.

    ``width``: fan-out floor for the quantize projection — the
    exchange (:func:`~..functions.layout.ensure_parallelism`; no-op on
    an already-wide scan, e.g. any real corpus) sits BELOW the
    projection so the HOF chain runs at machine (``None``) or caller
    (``width``) parallelism; ``width=0`` skips the fan-out entirely
    (plan-stats probes, already-widened inputs)."""
    maxabs, q8 = quantize_exprs(vec_col)
    src = emb.where(F.col(vec_col).isNotNull())
    if width != 0:
        src = ensure_parallelism(src, min_partitions=width)
    return (src.withColumn("__m", maxabs)
            .select(F.col(id_col), *[F.col(c) for c in carry],
                    q8.alias("q")))


def _cent_array_sql(cents: list[list[int]]) -> str:
    """``array(array(…), …)`` SQL literal of the centroid matrix —
    constant-folds to ONE Literal(ArrayData) reference object, so the
    surrounding plan's generated code is byte-stable across rounds
    (no per-round Janino recompile) and the matrix is materialized
    once, not per evaluation."""
    return "array(" + ",".join(
        "array(" + ",".join("NULL" if c is None else f"{c}L"
                            for c in cq) + ")"
        for cq in cents) + ")"


def _best_struct_sql(cents: list[list[int]]) -> str:
    """SQL for the argmin struct over literal centroids:
    ``array_min(transform(C, (cq, r) -> struct(d: Σ(qᵢ−cᵢ)², r)))`` —
    ``.r`` is the assigned cluster (struct ordering ties → lower rank,
    exactly ``min(struct(d, r))``) and ``.d`` the exact integer L2².

    The centroid matrix is the TRANSFORM'S INPUT, not a lambda-body
    subtree: inside the lambda ConstantFolding can't reach it, and the
    k×dim CreateArray would be re-built per evaluation.  As the input
    it folds to one reference object; the per-row cost is k×dim
    interpreted-HOF integer ops — bounded by the codebook size, scan
    stays narrow and JVM-side.  A NULL element (of ``q`` or ``cq``)
    adds nothing to the distance, as the SQL oracle's ``SUM`` skips it.

    (Rejected round-10 alternatives, measured at sf0.1: fully unrolled
    ``least(named_struct(…element_at(q,i)*c…))`` codegen — fastest per
    row but ~1 s Janino recompile per round because the literals
    inline into the generated source; per-dim ``F.sum(element_at)``
    update aggregates — 64 aggregate buffers compile pathologically.)
    """
    return (f"array_min(transform({_cent_array_sql(cents)}, "
            f"(cq, r) -> named_struct("
            f"'d', aggregate(zip_with(q, cq, "
            f"(a, c) -> coalesce((a-c)*(a-c), 0L)), "
            f"0L, (s, x) -> s+x), 'r', r)))")


def _probe_sort_sql(cents: list[list[int]]) -> str:
    """SQL for the FULL sorted (d, r) struct array over literal
    centroids — ``slice(array_sort(this), 1, n_probe)`` is the IVF
    probe selection (array_sort on (d, r) structs == orderBy(d asc, r)
    tie-break).  Shares :func:`_cent_array_sql`'s folded-literal form
    and :func:`_best_struct_sql`'s distance lambda — the probe order
    and the assignment argmin can never disagree."""
    return (f"array_sort(transform({_cent_array_sql(cents)}, "
            f"(cq, r) -> named_struct("
            f"'d', aggregate(zip_with(q, cq, "
            f"(a, c) -> coalesce((a-c)*(a-c), 0L)), "
            f"0L, (s, x) -> s+x), 'r', r)))")


def _assign_literal(qdf: DataFrame, cents: list[list[int]],
                    id_col: str) -> DataFrame:
    """(id, q, cluster, dist2) from driver-literal centroids — a pure
    narrow map over the corpus scan (zero shuffle, zero join)."""
    if not cents:
        return (qdf.select(F.col(id_col),
                           *[c for c in qdf.columns
                             if c not in (id_col, "q")], "q",
                           F.lit(None).cast("int").alias("cluster"),
                           F.lit(None).cast("long").alias("dist2"))
                .where(F.lit(False)))
    b = _best_struct_sql(cents)
    # two-step select: __b is referenced twice below, so CollapseProject
    # will NOT inline (and thereby duplicate) the k×dim HOF argmin —
    # one evaluation per row regardless of codegen-CSE support
    extra = [c for c in qdf.columns if c not in (id_col, "q")]
    return (qdf.select(F.col(id_col), *extra, "q",
                       F.expr(b).alias("__b"))
            .select(id_col, *extra, "q",
                    F.col("__b.r").alias("cluster"),
                    F.col("__b.d").alias("dist2")))


def _centroid_df(spark, cents: list[list[int]]) -> DataFrame:
    return local_frame(
        spark, [(r, [c if c is None else int(c) for c in cq])
                for r, cq in enumerate(cents)],
        "r int, cq array<bigint>")


def _seed_centroids(qdf: DataFrame, k: int,
                    id_col: str) -> list[list[int]]:
    """The ``k`` corpus vectors with the smallest ``(md5(id), id)`` —
    a bounded collect (k rows reach one task via limit(k)), re-sorted
    driver-side by the same key so rank r is layout-invariant."""
    hx = F.md5(F.col(id_col).cast("string"))
    rows = sorted(
        qdf.orderBy(hx, F.col(id_col)).limit(k)
        .select(hx.alias("__hx"), F.col(id_col).alias("__id"), "q")
        .collect(), key=lambda r: (r["__hx"], r["__id"]))
    return [[None if v is None else int(v) for v in r["q"]] for r in rows]


def kmeans_fit_centroids(qdf: DataFrame, k: int, n_iter: int,
                         id_col: str = "vec_id",
                         width: int | None = None) -> list[list[int]]:
    """Driver-literal Lloyd's loop: centroid list (rank order) after
    ``n_iter`` rounds over the quantized corpus ``qdf`` (``(id, q)`` —
    :func:`_quantized`, which the caller should cache: the fit scans
    it once per round).  Seeds are the ``k`` rows with the smallest
    ``(md5(id), id)``; updates are element-wise truncating integer
    means with empty-cluster carry — bit-identical to the unrolled SQL
    oracle because every step is exact integer math.

    Centroids are k×dim small integers (the PQ/MMR codebook class), so
    each round is ONE job: the baked-literal assignment rides the
    corpus scan as a narrow map, a map-side-combining
    groupBy(cluster, pos) collapses the N·dim update stream to k×dim
    partial rows, and those are collected and merged driver-side.  No
    per-round localCheckpoint barrier, no centroid join (round-10 —
    the old DataFrame-state loop paid both, ~0.5–1 s fixed cost per
    round at any scale).

    Each round is ONE single-stage job: a narrow Arrow pass
    (``mapInPandas`` — the :func:`~.similarity.partial_topk`
    per-partition-kernel precedent) assigns every vector to its
    nearest centroid and reduces the partition to ≤ k partial
    (cluster, count, Σq) rows; the driver merges partials and applies
    the truncating mean.  NO shuffle, NO per-round codegen compile
    (the Python kernel isn't JIT'd plan source), and the per-partition
    output is codebook-sized.  Exactness: |q|,|c| ≤ 127 so every
    product ≤ 127²·dim ≪ 2^53 — the float64 BLAS distance matmul is
    integer-exact (the sparse_cosine proof), argmin ties break to the
    FIRST (lowest-rank) centroid, and the update sums run in int64.
    NULL elements follow the SQL oracle: a distance term with a NULL
    side is skipped, a NULL adds 0 to its cell's sum but counts in the
    member count, and a cell whose members are all NULL at a position
    keeps its previous value there.  The integer cast of the sums runs
    with numpy's invalid-operation flag raised, so a NaN reaching it
    fails the job instead of corrupting a centroid.

    The fit runs under a pinned shuffle width sized from ``qdf``'s own
    plan stats (pagerank/BPE discipline — the width only matters for
    the seed scan here), AQE pinned off (nothing left for it to
    decide; its per-stage re-optimize adds latency × rounds)."""
    import numpy as np
    import pandas as pd

    from ..functions.layout import pinned_shuffle, plan_width

    if width is None:  # callers inside a pin pass their width through
        width = plan_width(qdf, floor=max(1, min(8, k)))
    with pinned_shuffle(qdf.sparkSession, width):
        cents = _seed_centroids(qdf, k, id_col)
        if not cents:
            return []
        dim = len(cents[0])
        qonly = qdf.select("q")
        for _ in range(n_iter):
            C = np.asarray(cents, dtype=np.float64)       # k×dim, NaN=NULL
            Cp = (~np.isnan(C)).astype(np.float64)        # present mask
            C = np.nan_to_num(C)

            def part_stats(batches, _C=C, _Cp=Cp):
                S = np.zeros((k, dim), dtype=np.int64)
                V = np.zeros((k, dim), dtype=np.int64)    # non-NULL count
                n = np.zeros(k, dtype=np.int64)
                for pdf in batches:
                    if not len(pdf):
                        continue
                    Q = np.array([np.asarray(v, dtype=np.float64)
                                  for v in pdf["q"]])
                    P = ~np.isnan(Q)
                    Q = np.where(P, Q, 0.0)
                    # d = Σ (q − c)² over positions where both sides
                    # are non-NULL = (q²)·c̄ + q̄·(c²) − 2q·c with the
                    # masks q̄, c̄ — every term integer-valued < 2^53:
                    # float64 BLAS is exact
                    d = ((Q * Q) @ _Cp.T + P.astype(np.float64)
                         @ (_C * _C).T - 2.0 * (Q @ _C.T))
                    a = np.argmin(d, axis=1)
                    with np.errstate(invalid="raise"):
                        np.add.at(S, a, Q.astype(np.int64))
                    np.add.at(V, a, P.astype(np.int64))
                    n += np.bincount(a, minlength=k)
                keep = np.flatnonzero(n)
                out = pd.DataFrame({"cluster": keep.astype("int32"),
                                    "n": n[keep]})
                # explicit object dtype: pandas would otherwise pack
                # the equal-length lists into a 2-D block that Arrow's
                # NumPyConverter can't map to list<int64>
                out["s"] = pd.Series([S[r].tolist() for r in keep],
                                     dtype="object")
                out["v"] = pd.Series([V[r].tolist() for r in keep],
                                     dtype="object")
                yield out

            rows = qonly.mapInPandas(
                part_stats,
                "cluster int, n long, s array<long>, v array<long>"
            ).collect()
            agg: dict[int, tuple[int, list[int], list[int]]] = {}
            for r in rows:  # ≤ k × partitions rows — codebook-sized
                n0, s0, v0 = agg.get(r["cluster"],
                                     (0, [0] * dim, [0] * dim))
                agg[r["cluster"]] = (n0 + r["n"],
                                     [x + y for x, y in zip(s0, r["s"])],
                                     [x + y for x, y in zip(v0, r["v"])])
            cents = [
                [_div_trunc(s, n) if v else c
                 for s, v, c in zip(sv, vv, cq)] if r in agg else cq
                for r, cq in enumerate(cents)
                for n, sv, vv in [agg.get(r, (0, [], []))]]
    return cents


def _div_trunc(a: int, b: int) -> int:
    """Integer division truncating toward ZERO — Spark ``div`` / DuckDB
    ``//`` semantics (Python ``//`` floors, which differs for negative
    sums)."""
    q = abs(a) // b
    return -q if a < 0 else q


def kmeans_fit(qdf: DataFrame, k: int, n_iter: int,
               id_col: str = "vec_id") -> DataFrame:
    """Centroids (r, cq) after ``n_iter`` Lloyd's rounds — DataFrame
    facade over :func:`kmeans_fit_centroids` (the k-row table form the
    IVF probe stage joins against)."""
    return _centroid_df(qdf.sparkSession,
                        kmeans_fit_centroids(qdf, k, n_iter, id_col))


def kmeans_int(emb: DataFrame, k: int = 4, n_iter: int = 3,
               id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """(id, cluster, dist2) — Lloyd's k-means over int8-quantized
    embeddings: ``n_iter`` rounds of (assign, update) from the
    deterministic md5 seeds, then one final assignment against the
    final centroids.  ``dist2`` is the exact integer L2² to the
    assigned centroid.  A cluster that loses all members keeps its
    previous centroid (deterministic, no reseeding).

    The FINAL assignment is the baked-literal narrow map of
    :func:`_assign_literal` — it rides one scan of the cached
    quantized corpus with NO exchange at all (round-10; previously a
    broadcast join + corpus-sized groupBy reduce).

    The quantized cache is laid out at the STATS width, not the box
    width (round-10): every fit round rescans the cache, so a test-SF
    corpus cached across 32 partitions pays 32 task launches × rounds
    for a few MB; a 100 TB corpus keeps its natural scan width (the
    stats estimate caps at the session parallelism)."""
    final, qdf, _ = _kmeans_int_lazy(emb, k, n_iter, id_col, vec_col)
    return finalize_release(final, qdf)


def _kmeans_int_lazy(emb: DataFrame, k: int, n_iter: int, id_col: str,
                     vec_col: str, carry: tuple[str, ...] = ()):
    """(lazy assignment, quantized cache, width) — the shared body of
    :func:`kmeans_int` / :func:`cluster_balanced_sample`, so a caller
    can stack more plan (the sample window) on the assignment and pay
    ONE final materialization instead of two.  ``carry``: raw columns
    to ride the quantized cache into the assignment output (round-11 —
    semantic_dedup's refine path consumes (id, embedding, cluster)
    directly instead of checkpointing the assignment and joining the
    corpus back; the fit kernel still sees only ``q``)."""
    from ..functions.layout import pinned_shuffle, plan_width

    w = plan_width(_quantized(emb, id_col, vec_col, carry=carry, width=0),
                   floor=max(1, min(8, k)))
    qdf = _quantized(emb, id_col, vec_col, carry=carry, width=w).cache()
    with pinned_shuffle(qdf.sparkSession, w):
        cents = kmeans_fit_centroids(qdf, k, n_iter, id_col, width=w)
        final = _assign_literal(qdf, cents, id_col).select(
            id_col, *carry, "cluster", "dist2")
    return final, qdf, w


def cluster_balanced_sample(emb: DataFrame, k: int = 4, n_iter: int = 3,
                            per_cluster: int = 10,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """Diversity sampling: k-means the corpus, then keep the
    ``per_cluster`` members with the smallest ``(md5(id), id)`` from
    EACH cluster — a deterministic, embedding-aware stratified sample
    (uniform sampling over-represents the dominant mode; per-cluster
    quotas keep the tails).  Returns (id, cluster, dist2).

    Scale shape: the per-cluster top-n is a window over k partitions —
    with k bounded this is the one deliberately narrow stage, sized by
    the cluster count, not the corpus (same discipline as
    :func:`~.curation.cap_per_key`, which is the escape hatch if k ever
    grows to millions).  The window stacks on kmeans' LAZY assignment
    (round-10): one materialization for the whole pipeline instead of
    checkpointing the full assignment first."""
    from ..functions.layout import pinned_shuffle

    asg, qdf, width = _kmeans_int_lazy(emb, k, n_iter, id_col, vec_col)
    w = (Window.partitionBy("cluster")
         .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col)))
    with pinned_shuffle(asg.sparkSession, width):
        out = (asg.withColumn("__rn", F.row_number().over(w))
               .where(F.col("__rn") <= per_cluster)
               .select(id_col, "cluster", "dist2"))
        return finalize_release(out, qdf)


def kmeans_assign(batch: DataFrame, history: DataFrame, k: int = 4,
                  n_iter: int = 3, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Incremental assignment — the arrival-time companion of
    :func:`kmeans_int` (same contract as the incremental dedup family):
    centroids are fit on HISTORY ONLY, so cell boundaries never drift
    as batches arrive, and each arriving vector gets the cluster / L2²
    it would have received on any other day.  Returns (id, cluster,
    dist2) for the BATCH rows.

    Scale shape: the fit is the usual bounded rounds over history; the
    batch side is ONE baked-literal narrow scan — no join against
    history, no shuffle of either corpus.  The batch is fanned out to
    machine width BEFORE quantization when its scan is narrower than
    the machine (``ensure_parallelism`` no-ops on an already-wide
    scan): quantize + argmin are interpreted HOF chains, and a narrow
    batch scan would serialize that CPU onto one task."""
    from ..functions.layout import plan_width

    w = plan_width(_quantized(history, id_col, vec_col, width=0),
                   floor=max(1, min(8, k)))
    hq = _quantized(history, id_col, vec_col, width=w).cache()
    cents = kmeans_fit_centroids(hq, k, n_iter, id_col)
    bq = _quantized(batch, id_col, vec_col)
    out = _assign_literal(bq, cents, id_col).select(id_col, "cluster",
                                                    "dist2")
    return finalize_release(out, hq)
