"""Physical-layout helpers.

``ensure_parallelism`` exists because Spark's scan parallelism is bounded
by the *source* layout: a single parquet file with one row group is one
task no matter how many cores the cluster has (byte-range splits assign a
row group to exactly one task).  A CPU-heavy narrow stage downstream
(shingling, signature packing, GEMM blocks) then serializes on one core.

The helper is deliberately scale-aware in both directions:

- Small/badly-laid-out sources (few files, one row group — the local
  testdata shape): repartition up to the session's parallelism.  The
  shuffle moves only what a single task held, i.e. it is cheap exactly
  when it is needed.
- Big sources (a 100 TB corpus is thousands of splits): the partition
  count already exceeds the threshold, so this is a **no-op** — no extra
  shuffle is ever added on the scale path.
"""

from __future__ import annotations

import contextlib
import threading

from pyspark.sql import DataFrame

__all__ = ["ensure_parallelism", "finalize_release", "zorder_key",
           "zorder_by", "pinned_shuffle", "plan_width", "parallel_frames",
           "local_frame"]


def parallel_frames(*thunks):
    """Evaluate independent DataFrame-building thunks concurrently and
    return their results in order (optimization guide §2.6: Spark's
    scheduler runs several jobs at once inside one application; actions
    are only sequential because driver code calls them sequentially).

    The eagerly-materializing operators (``finalize_release`` pattern)
    serialize when a caller composes two of them — the second arm's
    jobs only start after the first arm's checkpoint completes, leaving
    the machine idle through each arm's stage tails.  Submitting the
    arms from a small thread pool lets the scheduler back-fill: the
    composite's wall becomes ~max(arm walls) instead of their sum.

    Safe under the session-conf pins: :func:`pinned_shuffle` is
    reference-counted per session (overlapping holders share the
    outermost width — a performance knob, never correctness, for every
    operator behind it), and every operator here is layout-invariant
    by design."""
    from concurrent.futures import ThreadPoolExecutor

    if len(thunks) == 1:
        return [thunks[0]()]
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        return [f.result() for f in futures]

#: reentrancy guard for :func:`pinned_shuffle` — PER-SESSION holder
#: counts + the conf values saved by the first holder of each knob
#: (``spark.conf`` is per-SparkSession, so the state must be keyed by
#: the session: a module-global scalar would silently skip pinning a
#: second session and then restore the FIRST session's saved conf into
#: it — exactly the leak the guard exists to prevent).  Entries are
#: deleted on the last exit, so ``id()`` reuse after a session is
#: garbage-collected can never alias stale state.
_pin_lock = threading.Lock()
_pin_state: dict[int, dict] = {}


@contextlib.contextmanager
def pinned_shuffle(spark, n: int, adaptive: bool | None = None,
                   broadcast_threshold: str | None = None):
    """Pin ``spark.sql.shuffle.partitions`` (and optionally
    ``spark.sql.adaptive.enabled``) for a bounded scope.

    ``adaptive=False`` is for driver-looped micro-queries whose width
    is already pinned right: AQE's per-stage materialize→re-optimize
    round-trip adds latency per job and has nothing left to decide
    once the shuffle width is exact (measured ~0.5 s over a 12-round
    BPE loop).  Leave ``None`` (untouched) wherever AQE can still help.

    Two kinds of operator need a pinned-small shuffle width instead of
    the session default: availableNow stream runs (the stateful
    partition count is captured into the checkpoint at START, and
    every state store costs an open/commit/fsync per micro-batch) and
    driver-looped iterative batches over bounded tables (a BPE vocab,
    k-means assignments — each round's shuffle pays per-partition
    fixed costs × rounds).  Both size ``n`` to the data, not the box.

    Reentrancy (per session): overlapping holders of the SAME session
    are reference-counted per knob —

    - width: only the OUTERMOST enter saves the previous value and
      only the LAST exit restores it; all holders share the outermost
      pin value for the nesting episode (partition count is a
      performance knob, never a correctness one, for every operator
      behind this guard).
    - adaptive: the FIRST holder that passes a non-``None`` value
      saves/sets the flag and the LAST such holder restores it — so an
      inner ``adaptive=False`` request is honored even when the outer
      pin left AQE untouched (e.g. a BPE/k-means loop running while a
      ``bounded_state`` stream pin is held).  Conflicting nested
      non-``None`` values: the first wins (no operator here mixes
      them; both only ever request ``False``).
    - broadcast_threshold: same first-saves / last-restores protocol as
      adaptive — kcore's scoped ``autoBroadcastJoinThreshold`` raise
      goes through here so two concurrent peels (or a peel nested with
      any other holder) can never interleave a naive save/restore and
      leave the session permanently at the raised value.

    Holders of DIFFERENT sessions are fully independent — each
    session's conf is saved/pinned/restored on its own."""
    key = id(spark)
    holds_adaptive = adaptive is not None
    holds_thresh = broadcast_threshold is not None
    with _pin_lock:
        st = _pin_state.get(key)
        if st is None:
            st = _pin_state[key] = {"depth": 0, "saved_part": None,
                                    "adep": 0, "saved_adaptive": None,
                                    "tdep": 0, "saved_thresh": None}
        if st["depth"] == 0:
            st["saved_part"] = spark.conf.get("spark.sql.shuffle.partitions")
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
        st["depth"] += 1
        if holds_adaptive:
            if st["adep"] == 0:
                st["saved_adaptive"] = \
                    spark.conf.get("spark.sql.adaptive.enabled")
                spark.conf.set("spark.sql.adaptive.enabled",
                               str(adaptive).lower())
            st["adep"] += 1
        if holds_thresh:
            if st["tdep"] == 0:
                st["saved_thresh"] = spark.conf.get(
                    "spark.sql.autoBroadcastJoinThreshold")
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                               broadcast_threshold)
            st["tdep"] += 1
    try:
        yield
    finally:
        with _pin_lock:
            st = _pin_state[key]
            if holds_adaptive:
                st["adep"] -= 1
                if st["adep"] == 0:
                    spark.conf.set("spark.sql.adaptive.enabled",
                                   st["saved_adaptive"])
                    st["saved_adaptive"] = None
            if holds_thresh:
                st["tdep"] -= 1
                if st["tdep"] == 0:
                    spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                                   st["saved_thresh"])
                    st["saved_thresh"] = None
            st["depth"] -= 1
            if st["depth"] == 0:
                spark.conf.set("spark.sql.shuffle.partitions",
                               st["saved_part"])
                del _pin_state[key]


def plan_width(df: DataFrame, floor: int = 8,
               target_bytes: int = 64 << 20) -> int:
    """Partition count sized from Catalyst's free plan-time estimate
    (``optimizedPlan().stats().sizeInBytes`` — the same quantity file
    scans size partitions from) at ~``target_bytes`` per partition,
    clamped to [``floor``, session shuffle width] — and the session
    cap WINS over the floor (a caller's floor=8 on a session
    configured for 4 partitions returns 4, not 8: the floor guards
    against under-estimation, never over-partitions a small cluster).
    At 100 TB the estimate is huge and the width caps at the
    configured maximum; at test SFs the table is a few MB and the
    width drops to the floor.
    (NOT ``df.rdd.getNumPartitions()``: materializing the RDD of a
    multi-stage plan triggers real AQE stage execution — measured
    2.7 s of silent duplicate work.)"""
    conf = max(
        int(df.sparkSession.conf.get("spark.sql.shuffle.partitions",
                                     "200") or 200),
        df.sparkSession.sparkContext.defaultParallelism)
    try:
        size = int(df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
    except Exception:  # pragma: no cover — stats API unavailable
        return conf
    return min(conf, max(-(-size // target_bytes), floor))


def local_frame(spark, rows, schema: str) -> DataFrame:
    """One-partition literal DataFrame for join/broadcast inputs.

    ``spark.createDataFrame(list)`` parallelizes its handful of rows
    over ``defaultParallelism``, so every broadcast build launches that
    many near-empty tasks (measured round-12: 6 × 31 wasted launches
    per bm25_expanded run).  The tempting ``.coalesce(1)`` fix is a
    TRAP for join inputs: the Repartition node it inserts between
    ``F.broadcast()`` and the relation loses the broadcast hint, and
    every consumer re-execution then pays a full shuffle join of the
    big side (measured: bm25_topk 1.4 → 5 s, passage_extract 1.9 →
    10 s).  A 1-slice ``parallelize`` keeps the plain LogicalRDD plan
    shape — hint intact — with one build task.  Use it for every small
    literal frame, whether it feeds a join or is returned as a result."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(list(rows), 1), schema)


def plan_bytes(df: DataFrame) -> int | None:
    """Catalyst's plan-time size estimate in bytes (the same quantity
    :func:`plan_width` partitions by), or ``None`` when the stats API
    is unavailable — for gating optimizations (e.g. broadcast hints on
    derived small tables) on the upstream corpus size."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
    except Exception:  # pragma: no cover — stats API unavailable
        return None


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition ``df`` iff its physical plan yields materially fewer
    partitions than the session can run concurrently (< half of
    ``defaultParallelism``).  Returns ``df`` unchanged otherwise.

    Tiny-frame gate (round-11): when Catalyst's plan-time estimate says
    ``df`` is ≤ 64 KiB (a bounded artifact — a ``limit`` result, a
    probe table; measured 1 KiB for the 64-row media frames vs 594 KiB
    for the smallest corpus scan at sf0.1, so the cut separates the
    two classes by ~600× on either side), the frame is returned
    untouched: fanning it to machine width costs an exchange plus
    ``target`` task launches for no parallelism gain, and the ``.rdd``
    width probe below converts the whole plan to an RDD — which
    EXECUTES multi-stage upstreams (the same hazard :func:`plan_width`
    documents), double-running any Python stage feeding ``df``.  At
    scale real inputs blow past 64 KiB and take the probe path
    unchanged.  An EXPLICIT ``min_partitions`` bypasses the gate:
    those callers sized the fan-out to per-row compute, not bytes."""
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if min_partitions is None:
        size = plan_bytes(df)
        if size is not None and size <= (1 << 16):
            return df
    try:
        current = df.rdd.getNumPartitions()
    except Exception:  # streaming / unresolvable plans: leave untouched
        return df
    if current >= max(2, target // 2):
        return df
    return df.repartition(target)


def finalize_release(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Materialize ``result`` (eager ``localCheckpoint``), then unpersist
    the cached intermediates it was built from.

    The dedup/similarity operators cache big intermediates (shingle sets,
    normalized vectors, LSH features) that several plan branches read;
    those caches must live until the result is computed, but a long-lived
    session running many checks (bench/parity run ~70 in one JVM) must
    not accumulate them.  The results themselves are orders of magnitude
    smaller (top-k rows, near-dup pairs), so the contract is: compute the
    result NOW while the caches are warm, drop the caches, hand back the
    materialized result.  Checkpoint blocks are released by the
    ContextCleaner once the returned DataFrame is garbage-collected.
    """
    out = result.localCheckpoint(eager=True)
    for df in cached:
        df.unpersist()
    return out


def zorder_key(c1, c2, bits: int = 16):
    """Morton (Z-order) key: interleave the low ``bits`` of two
    non-negative integer columns — bit i of c1 lands at 2i, of c2 at
    2i+1.  Sorting by this key clusters rows that are close in BOTH
    dimensions, so parquet row-group min/max stats prune 2-D predicates
    (the Delta/Iceberg OPTIMIZE ZORDER layout trick, as plain column
    math).  Callers bucket/scale inputs into [0, 2^bits) first; pure
    shift/mask expressions, identical in any engine.
    """
    from pyspark.sql import functions as F

    a = c1.cast("bigint")
    b = c2.cast("bigint")
    key = F.lit(0).cast("bigint")
    for i in range(bits):
        key = (key
               + F.shiftleft(F.shiftright(a, i).bitwiseAND(1), 2 * i)
               + F.shiftleft(F.shiftright(b, i).bitwiseAND(1), 2 * i + 1))
    return key


def zorder_by(df: DataFrame, c1: str, c2: str, bits: int = 16,
              key_col: str = "zkey") -> DataFrame:
    """Rewrite ``df`` into Z-order: append the Morton key and range-
    repartition + sort by it — the write-side layout pass before a
    parquet sink.  Range partitioning keeps output files disjoint in
    key space (each file covers one Z-curve segment), which is exactly
    what makes the min/max pruning work."""
    from pyspark.sql import functions as F

    keyed = df.withColumn(key_col, zorder_key(F.col(c1), F.col(c2), bits))
    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    return keyed.repartitionByRange(n, key_col).sortWithinPartitions(key_col)
