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
           "zorder_by", "pinned_conf", "pinned_shuffle", "plan_width",
           "parallel_frames", "local_frame"]


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

    Safe under the session-conf pins: :func:`pinned_conf` counts
    holders per (session, key), so overlapping arms share the first
    holder's value (for the shuffle width a performance knob, never
    correctness: every operator here is layout-invariant by design)
    and the last one out restores it.  A stream captures its conf at
    ``start()``, which :func:`..streaming.run_bounded` serializes."""
    from concurrent.futures import ThreadPoolExecutor

    if len(thunks) == 1:
        return [thunks[0]()]
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        return [f.result() for f in futures]

#: holder counts and saved values for :func:`pinned_conf`, keyed by
#: (session, conf key).  ``spark.conf`` is per-SparkSession, so the
#: key includes the session: a global count would skip pinning a second
#: session and restore the first session's saved value into it.
#: Entries are deleted on the last exit, so ``id()`` reuse after a
#: session is garbage-collected can never alias stale state.
_pin_lock = threading.Lock()
_pin_state: dict[tuple[int, str], list] = {}


@contextlib.contextmanager
def pinned_conf(spark, conf: dict[str, str | int]):
    """Set session conf ``conf`` for a bounded scope; the only code in
    the package that changes session conf for a scope.

    Holders are counted per (session, key): the first holder of a key
    saves its value (``None`` if unset) and sets the new one; the last
    holder restores the saved value, or unsets the key if it was unset.
    Overlapping holders of a key, nested or on other threads, share the
    first holder's value, so an inner exit never restores early and
    concurrent exits restore exactly once.  Sessions are independent."""
    keys = [(id(spark), k) for k in conf]
    with _pin_lock:
        for key, v in zip(keys, conf.values()):
            st = _pin_state.get(key)
            if st is None:
                st = _pin_state[key] = [0, spark.conf.get(key[1], None)]
                spark.conf.set(key[1], str(v))
            st[0] += 1
    try:
        yield
    finally:
        with _pin_lock:
            for key in keys:
                st = _pin_state[key]
                st[0] -= 1
                if st[0] == 0:
                    del _pin_state[key]
                    if st[1] is None:
                        spark.conf.unset(key[1])
                    else:
                        spark.conf.set(key[1], st[1])


def pinned_shuffle(spark, n: int):
    """Pin the shuffle width to ``n`` with AQE off, for driver-looped
    iterative batches over bounded tables (a BPE vocab, k-means
    assignments, PageRank rounds) whose width is sized to the data: each
    round's shuffle pays per-partition fixed costs × rounds, and AQE's
    per-stage materialize→re-optimize round-trip adds latency per job
    with nothing left to decide once the width is exact (measured
    ~0.5 s over a 12-round BPE loop).  Partition count is a performance
    knob, never a correctness one, for every operator behind it."""
    return pinned_conf(spark, {"spark.sql.shuffle.partitions": n,
                               "spark.sql.adaptive.enabled": "false"})


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
    size = plan_bytes(df)
    if size is None:
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
