"""Corpus-curation operators for LLM training-data pipelines — the
pre-training data-engineering surface beyond dedup/similarity (BASELINE.json
mandate; complements :mod:`.text`, :mod:`.dedup`, :mod:`.sampling`):

- :func:`pii_scrub` — regex redaction of emails / IPv4s / long digit runs,
  with per-category redaction counts.
- :func:`heavy_hitters` — exact global top-k most frequent tokens.
- :func:`cap_per_key` — per-domain document caps (web-crawl curation's
  "at most N pages per site"), two-phase so no task ever sorts a whole
  domain.
- :func:`pack_offsets` — concat-and-chunk sequence packing: global token
  offsets per language via a distributed prefix sum, then fixed-budget
  context-window block assignment.
- :func:`assign_folds` — deterministic, engine-portable k-fold assignment
  from md5(id) (same family as :mod:`.sampling`).
- :func:`term_salience` — integer-scaled TF-IDF-style term ranking per
  document (the constant corpus-size factor is dropped: rankings are
  invariant to it, and integer arithmetic keeps oracle hashes exact).
- :func:`quantize_embeddings` — per-vector int8 floor-quantization of
  ``array<float>`` embeddings (the storage/ANN-memory reduction step).

All hot paths are JVM column expressions (whole-stage codegen); the only
Python is the Arrow-batched narrow pass inside :func:`cap_per_key` /
:func:`pack_offsets`, both in the sanctioned §2.9 escape hatch.

Determinism: counts/offsets/folds/salience are integers; quantization
uses float→double widening (exact) + IEEE double mul/div (exactly
rounded, engine-identical) + FLOOR (no round-half ambiguity), so every
output hash-matches a DuckDB oracle bit-for-bit.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from .text import tokens

__all__ = [
    "EMAIL_RE", "IPV4_RE", "LONGNUM_RE", "pii_scrub", "heavy_hitters",
    "cap_per_key", "pack_offsets", "assign_folds", "fold_expr",
    "term_salience",
    "quantize_embeddings", "bin_by_quantile", "outliers_p99", "funnel",
    "winsorize", "table_diff", "funnel_steps",
    "cohort_retention", "chunk_sliding", "url_features",
    "weighted_median", "prune_bottom_quantile", "weighted_sample",
    "fim_split", "canonical_url", "dedup_by_url",
    "plan_shards", "hamilton_quota", "allocate_budget",
    "dialogue_turns", "span_corrupt", "blocklist_filter",
    "embedding_outliers",
]

# RE2- and Java-regex-identical patterns (no backrefs / lookaround):
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
IPV4_RE = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
LONGNUM_RE = "\\b\\d{9,}\\b"  # account/card-like digit runs


def pii_scrub(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Redact emails → IPv4s → long digit runs (in that order, each count
    taken on the text as the previous pass left it — replacement tags
    contain no digits/@, so later passes can't re-match earlier ones).
    Pure narrow map (regexp built-ins, codegen): scans a 100 TB corpus at
    parquet speed with zero shuffle.

    Returns (id, n_emails, n_ips, n_longnums, clean)."""
    t0 = F.col(text_col)
    t1 = F.regexp_replace(t0, EMAIL_RE, "<EMAIL>")
    t2 = F.regexp_replace(t1, IPV4_RE, "<IP>")
    t3 = F.regexp_replace(t2, LONGNUM_RE, "<NUM>")
    return df.select(
        F.col(id_col),
        F.size(F.regexp_extract_all(t0, F.lit(EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(t1, F.lit(IPV4_RE), 0)).alias("n_ips"),
        F.size(F.regexp_extract_all(t2, F.lit(LONGNUM_RE), 0)).alias("n_longnums"),
        t3.alias("clean"),
    )


def heavy_hitters(df: DataFrame, k: int = 50,
                  text_col: str = "text") -> DataFrame:
    """Exact global top-k most frequent tokens: (token, n), ties broken
    by token so the cut is total.  explode → groupBy partial-aggregates
    map-side (hot tokens combine before the shuffle), and the final top-k
    is a TakeOrdered — never a global sort."""
    toks = df.select(F.explode(tokens(F.col(text_col))).alias("token"))
    counts = toks.groupBy("token").agg(F.count("*").alias("n"))
    return counts.orderBy(F.col("n").desc(), "token").limit(k)


def cap_per_key(df: DataFrame, key_col: str, order_col: str,
                cap: int, small: bool | None = None) -> DataFrame:
    """Keep at most ``cap`` rows per key, the ones smallest by
    ``order_col`` (ties impossible when ``order_col`` is a key; otherwise
    first by value).  The web-crawl "≤ N docs per domain" rule.

    Two-phase, like :func:`..operators.similarity.partial_topk`: a narrow
    Arrow pass reduces every partition to its local ``cap`` smallest rows
    per key (no shuffle), then one per-key window ranks the ≤ cap·P
    survivors.  A plain ``row_number`` window would instead sort every
    row of the dominant domain in a single task.

    Stats fast path (round-11, guide §1.2/§4): when the input's
    plan-stats estimate is small enough that the dominant key trivially
    sorts in one task (< 64 MiB), the Arrow local-cap pass is pure
    Python-boundary fixed cost — skip straight to the window.  Same
    result either way (both keep the ``cap`` smallest by ``order_col``
    per key; the final window is the same expression), so the gate can
    only change the plan, never the rows.  Estimate unavailable or
    large → the two-phase scale shape.

    ``small``: callers with a STRUCTURAL row bound (e.g. the impact-
    index serving path, whose input is ≤ |query terms| × index-cap
    rows no matter the corpus size) pass ``True`` to take the window
    path even when a post-explode plan-stats estimate is inflated;
    ``False`` forces the two-phase shape; ``None`` (default) gates on
    plan stats."""
    from ..functions.layout import plan_bytes

    cols = list(df.columns)
    if small is None:
        est = plan_bytes(df)
        small = est is not None and est < (64 << 20)
    if small:
        w = Window.partitionBy(key_col).orderBy(order_col)
        return (df.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") <= cap).drop("__rn"))

    def local_cap(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: list[pd.DataFrame] = []
        n = 0
        for pdf in batches:
            if len(pdf):
                acc.append(pdf[cols])
                n += len(pdf)
            if n > (1 << 18):
                acc = [pd.concat(acc, ignore_index=True)
                       .sort_values([key_col, order_col])
                       .groupby(key_col, sort=False).head(cap)]
                n = len(acc[0])
        if acc:
            yield (pd.concat(acc, ignore_index=True)
                   .sort_values([key_col, order_col])
                   .groupby(key_col, sort=False).head(cap))

    survivors = df.mapInPandas(local_cap, df.schema)
    w = Window.partitionBy(key_col).orderBy(order_col)
    return (survivors.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= cap).drop("__rn"))


def pack_offsets(df: DataFrame, budget: int = 2048,
                 group_col: str = "lang", id_col: str = "doc_id",
                 tok_col: str | None = None) -> DataFrame:
    """Concat-and-chunk sequence packing: documents of each group are
    concatenated in ``id_col`` order and cut into fixed ``budget``-token
    context windows.  Returns per document:

    (group, id, n_tok, start_off, first_block, last_block)

    where ``start_off`` is the document's global token offset within its
    group and blocks are ``offset DIV budget`` (a zero-token document
    occupies its start block only).

    Scale shape — a **distributed prefix sum**, not a one-task-per-group
    window: range-repartition by (group, id) and sort within partitions;
    one narrow pass computes per-(partition, group) token totals (tiny —
    ≤ P·|groups| rows collected); the driver prefix-sums those into base
    offsets; a second narrow pass adds base + local running sum.  No
    partition ever holds more than its own split, whatever the group
    skew.  The layout is frozen with an eager ``localCheckpoint`` (not
    ``cache()``) between the two passes: range boundaries are sampled,
    hence nondeterministic per computation, and the totals and second
    pass must agree on them.  A checkpoint makes a lost block a job
    failure instead of a silent recompute under different boundaries —
    at this size (one narrow projection of the input) fail-and-retry is
    the correct contract; a recompute could silently mis-assign every
    offset downstream."""
    from ..functions.layout import pinned_shuffle, plan_width
    from .text import bpe_token_count

    tok = F.col(tok_col) if tok_col else bpe_token_count(F.col("text"))
    base = df.select(F.col(group_col).alias("g"), F.col(id_col).alias("i"),
                     tok.cast("long").alias("n_tok"))
    spark = df.sparkSession
    # width from the projection's own plan stats, AQE pinned off for
    # the whole bounded two-pass layout (round-12, guide §2.2/§1.2):
    # the old defaultParallelism width paid 32 tiny tasks per stage at
    # test SFs, and AQE materialized every exchange of the multi-
    # barrier plan as its own job (measured: 11 jobs for the sf0.1
    # check, 6 after — stage list in plans/r12/pack_chunks_jobs.txt).
    # At 100 TB the stats estimate is huge and plan_width returns the
    # session cap — same layout as before, minus the per-stage AQE
    # round-trips.
    nparts = plan_width(base, floor=8)
    with pinned_shuffle(spark, nparts):
        return _pack_offsets_laid(base, spark, nparts, budget,
                                  group_col, id_col)


def _pack_offsets_laid(base: DataFrame, spark, nparts: int, budget: int,
                       group_col: str, id_col: str) -> DataFrame:
    laid = (base.repartitionByRange(nparts, "g", "i")
            .sortWithinPartitions("g", "i")
            .withColumn("pid", F.spark_partition_id())
            .localCheckpoint(eager=True))

    totals = (laid.groupBy("pid", "g").agg(F.sum("n_tok").alias("t"))
              .collect())
    # driver-side prefix sum over ≤ P·|groups| tiny rows
    by_group: dict = {}
    for r in sorted(totals, key=lambda r: (r["g"], r["pid"])):
        by_group.setdefault(r["g"], []).append((r["pid"], r["t"]))
    bases = []
    for g, lst in by_group.items():
        run = 0
        for pid, t in lst:
            bases.append((pid, g, run))
            run += t
    # (pid, g) → base as a folded literal map (round-12): the old
    # broadcast-joined createDataFrame frame parallelized its tiny row
    # list over defaultParallelism tasks and paid a broadcast-build
    # job; the map is ≤ P·|groups| entries — the same bounded driver
    # artifact the prefix-sum collect above already holds — and the
    # lookup is a narrow projection (no join, no broadcast job).  Key
    # = "pid NUL g": exactness needs only build/probe agreement, and
    # both sides build it with the same concat.  Gate: a very
    # high-cardinality group_col would pay one py4j literal per entry,
    # so past 4096 entries the old broadcast-join shape runs instead
    # (same results; the map is a fixed-cost win, not a scale shape).
    if len(bases) <= 4096:
        key = F.concat(F.col("pid").cast("string"), F.lit("\x00"),
                       F.col("g"))
        if bases:
            lut = F.create_map(
                *[c for pid, g, b in bases
                  for c in (F.lit(f"{pid}\x00{g}"), F.lit(b))])
        else:
            lut = F.create_map().cast("map<string,long>")
        joined = laid.withColumn("base", F.element_at(lut, key))
    else:  # pragma: no cover — exercised only by huge group counts
        base_df = spark.createDataFrame(
            bases, "pid int, g string, base long")
        joined = laid.join(F.broadcast(base_df), ["pid", "g"], "left")

    out_schema = "g string, i long, n_tok long, start_off long"

    def local_cumsum(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        run: dict = {}
        for pdf in batches:
            if not len(pdf):
                continue
            starts = []
            for g, b, n in zip(pdf["g"], pdf["base"], pdf["n_tok"]):
                if g in run:
                    cur = run[g]
                elif pd.isna(b):
                    raise ValueError(
                        f"pack_offsets: no base offset for (pid, group="
                        f"{g!r}) — layout changed between passes")
                else:
                    cur = int(b)
                starts.append(cur)
                run[g] = cur + int(n)
            yield pd.DataFrame({"g": pdf["g"], "i": pdf["i"],
                                "n_tok": pdf["n_tok"], "start_off": starts})

    offs = joined.mapInPandas(local_cumsum, out_schema)
    result = offs.select(
        F.col("g").alias(group_col), F.col("i").alias(id_col),
        "n_tok", "start_off",
        F.expr(f"start_off DIV {budget}").alias("first_block"),
        F.expr(f"(start_off + greatest(n_tok, 1) - 1) DIV {budget}")
        .alias("last_block"))
    from ..functions.layout import finalize_release
    # laid is checkpointed, not cached: its blocks are freed by the
    # ContextCleaner on GC; finalize_release materializes the (small)
    # result so callers never re-trigger the two-pass layout.
    return finalize_release(result)


def url_features(df: DataFrame, url_col: str = "url",
                 id_col: str = "doc_id") -> DataFrame:
    """URL decomposition for web-crawl curation: host, registered-domain
    heuristic (last two host labels), path, and the ``ref`` query
    parameter — the keys per-domain caps (:func:`cap_per_key`), domain
    mixing weights, and crawl dedup group on.

    Host/path/query come from Spark's ``parse_url`` (JVM builtin, RFC
    grammar); the registered domain is a narrow regexp.  Pure codegen
    projection — no shuffle, no UDF."""
    u = F.col(url_col)
    host = F.parse_url(u, F.lit("HOST"))
    return df.select(
        F.col(id_col), u.alias("url"),
        host.alias("host"),
        F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1).alias("domain"),
        F.parse_url(u, F.lit("PATH")).alias("path"),
        F.parse_url(u, F.lit("QUERY"), F.lit("ref")).alias("ref"))


def chunk_sliding(df: DataFrame, window: int = 32, stride: int = 24,
                  text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Sliding-window token chunking with overlap — the RAG/embedding
    chunker: each document becomes ⌈(n−window)/stride⌉+1 chunks of up to
    ``window`` tokens starting every ``stride`` tokens (overlap =
    window − stride), so no token span longer than the overlap is ever
    split across a chunk boundary without also appearing whole in one.

    Output: (id, chunk_id, start, n_tokens, chunk_text).  Zero-token
    documents produce no chunks.  Fully deterministic integer layout —
    SQL-oracle-checkable.

    Scale shape: pure narrow map — tokenize once per row (let-bound),
    chunk count by integer ceil-div, offsets via ``sequence`` +
    ``posexplode``, chunk text via ``slice`` + ``array_join``.  No
    shuffle at all; the fan-out factor is ~n/stride, the same row-growth
    any chunker pays, and it happens AFTER pushdown-pruned scans."""
    assert stride > 0 and window >= stride
    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("t"),
                     F.size(tokens(F.col(text_col))).alias("n"))
    nch = F.when(F.col("n") <= 0, F.lit(0)).otherwise(
        1 + F.floor((F.greatest(F.col("n") - window, F.lit(0))
                     + (stride - 1)) / stride).cast("int"))
    offs = F.when(nch <= 0, F.array().cast("array<int>")).otherwise(
        F.transform(F.sequence(F.lit(0), nch - 1),
                    lambda i: (i * stride).cast("int")))
    return (toks.select(F.col(id_col), "t", "n",
                        F.posexplode(offs).alias("chunk_id", "start"))
            .select(F.col(id_col),
                    F.col("chunk_id").cast("long").alias("chunk_id"),
                    F.col("start").cast("long").alias("start"),
                    F.least(F.lit(window), F.col("n") - F.col("start"))
                    .cast("long").alias("n_tokens"),
                    F.array_join(F.slice("t", F.col("start") + 1,
                                         F.lit(window)), " ")
                    .alias("chunk_text")))


def fold_expr(col, k: int = 5):
    """The md5-derived fold column: first two hex chars of md5(col) →
    256 buckets → mod k.  THE single definition — assign_folds, the
    GroupKFold check, and the curation pipeline all derive from it, so
    the hash can never silently diverge between them."""
    hx = F.md5(col.cast("string"))
    hexmap = "0123456789abcdef"
    v = ((F.instr(F.lit(hexmap), F.substring(hx, 1, 1)) - 1) * 16
         + (F.instr(F.lit(hexmap), F.substring(hx, 2, 1)) - 1))
    return (v % k).cast("int")


def assign_folds(df: DataFrame, k: int = 5,
                 id_col: str = "doc_id") -> DataFrame:
    """Deterministic k-fold assignment: fold from the first two hex chars
    of ``md5(id)`` (256 buckets → mod k).  Engine-portable (DuckDB's md5
    hex is identical), stateless, layout-invariant — the same row lands
    in the same fold on any cluster, any partitioning, any engine."""
    return df.withColumn("fold", fold_expr(F.col(id_col), k))


def term_salience(df: DataFrame, m: int = 5, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Top-``m`` salient terms per document by an integer-scaled
    TF-IDF-style score: ``salience = tf * 1_000_000 DIV df`` (the corpus
    size factor is a constant per run — dropping it preserves every
    ranking and keeps the arithmetic integer-exact).

    Shape (round-11, the ngram_novelty/span_hits identity): explode →
    (doc, term) tf [uniform shuffle keyed by doc+term] → ``count(*)
    OVER (PARTITION BY token)`` IS the document frequency, because the
    grouped tf rows are (doc, token)-unique — so the old vocab-sized
    df groupBy + join back (which also evaluated the tokenize fan-out
    once per join side) collapses into one windowed pass → per-doc
    window over ≤ |distinct terms in doc| rows (bounded, uniform).
    A hot token concentrates its window partition exactly as it did
    the old join's build side — skew exposure unchanged.
    """
    tf = (df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token"))
          .groupBy(id_col, "token").agg(F.count("*").alias("tf")))
    scored = (tf.withColumn("df", F.count("*").over(
        Window.partitionBy("token")))
        .select(F.col(id_col), "token", "tf", "df",
                F.expr("tf * 1000000 DIV df").alias("salience")))
    w = Window.partitionBy(id_col).orderBy(
        F.col("salience").desc(), F.col("token"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= m)
            .select(id_col, "rank", "token", "tf", "df", "salience"))


def quantize_embeddings(emb: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Per-vector int8 floor-quantization: q[i] = FLOOR(x[i]·127 / max|x|)
    (zero vectors quantize to all-zero).  Exploded output
    (id, pos, q) — the layout an int8 ANN index ingests.

    Narrow map only.  Exactness: float32→double widening is lossless,
    double multiply/divide are exactly-rounded IEEE ops (identical on
    every engine), FLOOR has no round-half ambiguity — the oracle
    hash-matches bit-for-bit."""
    x = F.col("x").cast("double")
    maxabs = F.array_max(F.transform(F.col(vec_col),
                                     lambda e: F.abs(e.cast("double"))))
    return (emb.select(F.col(id_col), maxabs.alias("m"),
                       F.posexplode(F.col(vec_col)).alias("pos", "x"))
            .select(F.col(id_col), "pos",
                    F.when(F.col("m") == 0.0, F.lit(0)).otherwise(
                        F.floor(x * 127.0 / F.col("m"))).cast("int")
                    .alias("q")))


def bin_by_quantile(df: DataFrame, col: str, bins: int = 4,
                    id_col: str = "doc_id") -> DataFrame:
    """Global quantile binning the scale-right way: ONE tiny aggregate
    computes the exact ``percentile_disc`` cutpoints (bins-1 scalars),
    which broadcast to a narrow per-row bin assignment.  Contrast with a
    global ``ntile`` window, which funnels the whole table through a
    single task — this plan touches the data twice, both times fully
    parallel, and the cutpoint aggregate is a sketch-sized reduction.

    ``percentile_disc`` picks an actual element (no interpolation), so
    integer columns stay integer-exact cross-engine.  Cutpoints keep the
    column's own type (``percentile_disc`` can surface a widened
    intermediate): casting back to the element type is lossless because
    the cutpoint IS an element — a blanket BIGINT cast would truncate
    fractional thresholds and mis-bin rows near them."""
    col_type = df.schema[col].dataType.simpleString()
    cuts = df.selectExpr(*[
        f"CAST(percentile_disc({i / bins}) WITHIN GROUP (ORDER BY {col})"
        f" AS {col_type}) AS c{i}" for i in range(1, bins)])
    out = df.crossJoin(F.broadcast(cuts))
    bin_no = F.lit(1)
    for i in range(1, bins):
        bin_no = bin_no + F.when(F.col(col) > F.col(f"c{i}"), 1).otherwise(0)
    return out.select(F.col(id_col), F.col(col),
                      bin_no.cast("int").alias("bin"))


def outliers_p99(events: DataFrame, group_col: str = "event_type",
                 val_col: str = "value",
                 id_col: str = "event_id") -> DataFrame:
    """Rank-based outlier flagging: rows whose value exceeds their
    group's exact P99 (``percentile_disc`` — an actual element, so the
    threshold is bit-identical cross-engine; no float mean/std drift).
    The winsorization/clip prep step of a feature pipeline.

    Shape: per-group percentile aggregate (group-count-sized) broadcast
    back onto the stream; the flagging itself is a narrow filter."""
    cuts = (events.groupBy(group_col)
            .agg(F.expr(f"percentile_disc(0.99) WITHIN GROUP "
                        f"(ORDER BY {val_col})").alias("p99")))
    return (events.join(F.broadcast(cuts), group_col)
            .where(F.col(val_col) > F.col("p99"))
            .select(id_col, group_col, val_col, "p99"))


def funnel_steps(events: DataFrame, steps: list[str],
                 ts_col: str = "ts",
                 user_col: str = "user_id") -> DataFrame:
    """K-step ORDERED funnel (the MATCH_RECOGNIZE-lite shape): per user,
    the earliest chain ts1 ≤ ts2 ≤ … ≤ tsK where ts_i is the first
    ``steps[i]`` event at-or-after ts_{i−1}.  Greedy-earliest is optimal
    here: taking the earliest feasible event at each step never forecloses
    a later step (any later choice only tightens the constraint), so the
    chain exists iff a chain exists — the classic k-step funnel
    semantics.  NULL from the first failed step onward; ``depth`` counts
    completed steps.

    Scale shape: one partial-aggregating groupBy per step keyed by user
    (uniform shuffles, no window over the raw stream, no per-user event
    sort); each join is user-keyed against an already-aggregated
    (|users|-sized) side."""
    assert len(steps) >= 2
    cur = (events.where(F.col("event_type") == steps[0])
           .groupBy(user_col).agg(F.min(ts_col).alias("ts1")))
    out = cur
    for i, step in enumerate(steps[1:], start=2):
        nxt = (events.where(F.col("event_type") == step)
               .join(out.select(user_col, F.col(f"ts{i-1}")), user_col)
               .where(F.col(ts_col) >= F.col(f"ts{i-1}"))
               .groupBy(user_col).agg(F.min(ts_col).alias(f"ts{i}")))
        out = out.join(nxt, user_col, "left")
    depth = None
    for i in range(1, len(steps) + 1):
        t = F.when(F.col(f"ts{i}").isNotNull(), 1).otherwise(0)
        depth = t if depth is None else depth + t
    return out.select(user_col,
                      *[F.col(f"ts{i}") for i in range(1, len(steps) + 1)],
                      depth.cast("int").alias("depth"))


def funnel(events: DataFrame, first_step: str = "click",
           then_step: str = "purchase",
           ts_col: str = "ts") -> DataFrame:
    """Two-step funnel: per user, the first ``first_step`` event and the
    first ``then_step`` at-or-after it (NULL when the user never
    converts).  Both stages are partial-aggregating groupBys keyed by
    user — uniform shuffles, no windows over raw event streams."""
    first = (events.where(F.col("event_type") == first_step)
             .groupBy("user_id")
             .agg(F.min(ts_col).alias("first_ts")))
    conv = (events.where(F.col("event_type") == then_step)
            .join(first, "user_id")
            .where(F.col(ts_col) >= F.col("first_ts"))
            .groupBy("user_id")
            .agg(F.min(ts_col).alias("conv_ts")))
    return (first.join(conv, "user_id", "left")
            .select("user_id", "first_ts", "conv_ts"))


def winsorize(events: DataFrame, group_col: str = "event_type",
              val_col: str = "value", id_col: str = "event_id",
              p: float = 0.99) -> DataFrame:
    """Per-group winsorization: clip values at the group's exact
    discrete p-quantile — the standard tail-taming step before feature
    scaling.  Returns (id, group, value, clipped).

    This is the repo's grouped-map (``applyInPandas``) surface: one
    Arrow round-trip per group, with the quantile computed inside the
    group's own batch.  The threshold replicates ``percentile_disc``
    semantics exactly (sorted element at ``ceil(p·n)-1`` — an actual
    element, no interpolation), and clipping is min() — so the output
    is bit-identical to the SQL oracle even on doubles.

    Scale: one shuffle keyed by group.  Groups must fit a worker's
    Arrow batch (event-type-like cardinality ⇒ large groups — for
    hot-key-scale data, derive thresholds via the broadcast-aggregate
    pattern of :func:`outliers_p99` instead; this operator is the
    grouped-map form for group-sized computations)."""
    import math

    import numpy as np

    out_schema = (f"{id_col} long, {group_col} string, "
                  f"{val_col} double, clipped double")

    def clip(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf[val_col].to_numpy()
        thr = np.sort(v)[math.ceil(p * len(v)) - 1]
        return pd.DataFrame({
            id_col: pdf[id_col], group_col: pdf[group_col],
            val_col: pdf[val_col],
            "clipped": np.minimum(v, thr)})

    return (events.select(id_col, group_col, val_col)
            .groupBy(group_col).applyInPandas(clip, out_schema))


def table_diff(old: DataFrame, new: DataFrame, key_cols: list[str],
               cmp_cols: list[str]) -> DataFrame:
    """Row-level reconciliation between two table versions — the
    anti-entropy / migration-audit primitive: full outer join on the
    key, rows classified added / removed / changed / same.

    Content comparison uses a sha2 digest of the compared columns
    (null-safe, unit-separator-delimited), so the shuffle carries a
    32-byte hash per row instead of the full row width — at 100 TB
    that's the difference between shuffling keys+digests and shuffling
    both tables twice.  Classification by digest equals classification
    by direct column comparison up to hash collision (2⁻²⁵⁶).
    Output is a single summary row (n_added, n_removed, n_changed,
    n_same); the pre-aggregation join is the only shuffle, and both
    sides partial-project to (key, digest) before it."""
    def digest(df: DataFrame) -> F.Column:
        return F.sha2(F.concat_ws(
            "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                      for c in cmp_cols]), 256)

    o = old.select(*key_cols, digest(old).alias("h_old"))
    n = new.select(*key_cols, digest(new).alias("h_new"))
    j = o.join(n, key_cols, "full_outer")
    return j.agg(
        F.count(F.when(F.col("h_old").isNull(), 1)).alias("n_added"),
        F.count(F.when(F.col("h_new").isNull(), 1)).alias("n_removed"),
        F.count(F.when(F.col("h_old").isNotNull() & F.col("h_new").isNotNull()
                       & (F.col("h_old") != F.col("h_new")), 1))
        .alias("n_changed"),
        F.count(F.when(F.col("h_old") == F.col("h_new"), 1)).alias("n_same"))


def cohort_retention(events: DataFrame, user_col: str = "user_id",
                     ts_col: str = "ts") -> DataFrame:
    """Weekly cohort retention matrix — the classic activation/retention
    rollup over an event log.

    cohort_week = ISO week (Monday-truncated) of the user's first event;
    a cohort/offset cell counts distinct users from that cohort active
    ``week_offset`` weeks later.  ``retention`` = cell / cohort size, a
    single correctly-rounded double division of exact BIGINTs (the
    property the SQL oracle's hash relies on).

    Scale shape: first-touch is one map-side-combining min-agg keyed by
    user; distinct activity is one (user, week) dedup; the cohort join
    is keyed by user (uniform); the final matrix agg keys on
    (cohort_week, offset) — tiny output, broadcastable cohort-size join
    back.  No windows, no skewed keys (user ids are high-entropy).
    """
    first = (events.groupBy(F.col(user_col).alias("uid"))
             .agg(F.date_trunc("week", F.min(ts_col)).cast("date")
                  .alias("cohort_week")))
    active = (events.select(F.col(user_col).alias("uid"),
                            F.date_trunc("week", F.col(ts_col)).cast("date")
                            .alias("week"))
              .distinct())
    cells = (active.join(first, "uid")
             .withColumn("week_offset",
                         (F.datediff("week", "cohort_week") / 7)
                         .cast("long"))
             .groupBy("cohort_week", "week_offset")
             .agg(F.count_distinct("uid").alias("n_active")))
    sizes = first.groupBy("cohort_week").agg(
        F.count("*").alias("n_cohort"))
    return (cells.join(sizes, "cohort_week")
            .select(F.col("cohort_week").cast("string").alias("cohort_week"),
                    "week_offset", "n_active", "n_cohort",
                    (F.col("n_active").cast("double")
                     / F.col("n_cohort").cast("double")).alias("retention")))


def weighted_median(df: DataFrame, group_col: str, val_col: str,
                    weight_col: str) -> DataFrame:
    """Per-group weighted (lower) median via a VECTORIZED custom
    aggregate — the ``GROUPED_AGG`` pandas-UDF shape for any statistic
    Spark's built-ins lack: the group's rows arrive as Arrow-backed
    Series, the kernel returns one scalar, and Spark runs it inside a
    regular hash aggregation (one shuffle on the group key, groups
    never collected to the driver).

    Definition: the smallest v whose cumulative weight (in v order)
    reaches half the total — deterministic under ties (duplicate v
    values share a boundary, so the chosen v is order-independent),
    hence SQL-oracle-checkable with integer weights.

    At 100 TB: per-group state is the group's rows in one Arrow batch —
    bounded by the largest group like any exact median; groups beyond
    memory go through the two-pass quantile-binning path
    (:func:`bin_by_quantile`) instead."""
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def wmed(v: pd.Series, w: pd.Series) -> float:
        # NULL/NaN guard: a single NaN weight would poison the cumsum
        # (mask all-False -> .iloc[0] IndexError kills the whole task);
        # NULL rows carry no weight, so dropping them IS the semantics
        d = pd.DataFrame({"v": v, "w": w}).dropna().sort_values("v")
        if d.empty:
            return None
        half = d["w"].sum() / 2.0
        return float(d.loc[d["w"].cumsum() >= half, "v"].iloc[0])

    return (df.groupBy(group_col)
            .agg(wmed(F.col(val_col), F.col(weight_col))
                 .alias("weighted_median")))


def prune_bottom_quantile(df: DataFrame, group_col: str, score_col: str,
                          frac_millis: int = 250,
                          id_col: str = "doc_id") -> DataFrame:
    """Per-group bottom-quantile pruning — the classic LLM curation
    pass "drop the worst q% of documents per source by quality score"
    (FineWeb/RefinedWeb-style filtering, applied per source so one
    low-quality source can't dominate the cut).

    Integer-exact spec (no float percentile anywhere): within each
    group, rows rank 1..n ordered by (score asc, id asc); the rows
    with ``rank <= (frac_millis * n) div 1000`` are dropped.  With
    frac_millis=250 exactly ⌊n/4⌋ rows go — deterministic, total
    order, SQL-oracle-checkable.

    Returns the surviving rows (group_col, id_col, score_col).

    Scale shape: ONE hash exchange on the group key + a per-group sort
    (rank + count over the same window clustering — no second
    exchange).  Group size bounds the sort; for pathological one-group
    corpora the escape hatch is pre-bucketing by score quantile
    estimates (``bin_by_quantile``) — the exact spec here is the
    oracle semantics."""
    from pyspark.sql import Window

    w = (Window.partitionBy(group_col)
         .orderBy(F.col(score_col).asc(), F.col(id_col).asc()))
    wn = Window.partitionBy(group_col)
    return (df.select(group_col, id_col, score_col)
            .withColumn("__rk", F.row_number().over(w))
            .withColumn("__n", F.count("*").over(wn))
            .where(F.col("__rk") >
                   F.expr(f"({frac_millis} * __n) div 1000"))
            .select(group_col, id_col, score_col))


def weighted_sample(df: DataFrame, n: int, weight_col: str,
                    id_col: str = "doc_id", seed: str = "ws1",
                    proportional: bool = False) -> DataFrame:
    """Deterministic weighted priority sample of ``n`` rows — the
    data-mixing primitive "sample a corpus subset where a doc's
    selection odds scale with its weight" (domain weights, quality
    weights), with NO rand(): each row's priority is

        priority = conv(substr(md5(seed || ':' || id), 1, 15), 16, 10)
                   div weight

    (a layout-invariant 60-bit uniform key integer-divided by the
    positive integer weight), and the ``n`` smallest (priority, id)
    rows win.  Fully deterministic, seed-repeatable,
    SQL-oracle-checkable (DuckDB:
    ``('0x' || substr(md5(...), 1, 15))::BIGINT // weight``).

    Selection-distribution contract (round-11, after review): the
    default integer key is MONOTONE in weight — a higher-weight row
    stochastically beats a lower-weight one, and doubling a weight
    halves the expected priority — but inclusion probabilities are NOT
    weight-proportional (true Efraimidis–Sirakis needs ``u^(1/w)`` /
    exponential keys, which are float).  Also, weights approaching the
    60-bit key range collapse priorities onto few small integers,
    where the (priority, id) tie-break deterministically favors low
    ids — keep weights ≪ 2^40 or pre-normalize.  When proportionality
    matters, pass ``proportional=True``: the key becomes the
    float ES-max exponential key ``-ln(u)/w`` with
    ``u = (key60+1)/2^60`` — still deterministic and seed-repeatable,
    but float (ln differs in last-ulp across engines, so no
    value-exact SQL oracle; the integer default stays the
    oracle-checked mode).

    Returns (id_col, weight_col, priority), the selected rows.

    Scale shape: priority is a narrow map; the top-n is a global
    TakeOrdered (no full sort — Spark's ``orderBy().limit(n)`` plans
    per-partition partial top-n + a driver merge of n·P candidates).

    Weights are INTEGERS (the exactness contract — integer division
    keeps the priority key engine-portable): fractional weights must be
    pre-scaled by the caller (e.g. millis).  The division uses the
    bigint-cast weight, so the zero-mass filter runs on the SAME cast —
    a fractional weight in (0, 1) truncates to 0 and is excluded (the
    raw-value guard alone would let it through, divide by zero, and the
    NULL priority would sort FIRST and unconditionally win)."""
    wcast = F.col(weight_col).cast("bigint")
    # 60-bit uniform key; seed enters through F.lit (Column API), not
    # string interpolation — a quote in the seed must not be able to
    # rewrite the expression (round-11 review)
    key60 = F.conv(F.substring(
        F.md5(F.concat(F.lit(seed), F.lit(":"),
                       F.col(id_col).cast("string"))), 1, 15),
        16, 10).cast("bigint")
    keyed = (df.where(wcast.isNotNull() & (wcast > 0))
             .select(F.col(id_col), F.col(weight_col),
                     key60.alias("__key60"), wcast.alias("__w")))
    if proportional:
        pr = (-F.log((F.col("__key60").cast("double") + 1.0)
                     / float(1 << 60)) / F.col("__w").cast("double"))
    else:
        # bigint div bigint — exact; expr-div over the pre-computed
        # aliased columns (no user strings reach the SQL text)
        pr = F.expr("__key60 div __w")
    return (keyed.select(id_col, weight_col, pr.alias("priority"))
            .orderBy(F.col("priority").asc(), F.col(id_col).asc())
            .limit(n))


def fim_split(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id", seed: str = "fim",
              spm_permille: int = 500) -> DataFrame:
    """X89: fill-in-the-middle example construction (Bavarian et al.,
    "Efficient Training of Language Models to Fill in the Middle",
    arXiv'22): split each document's token stream at two points into
    (prefix, middle, suffix) so the trainer can present
    prefix+suffix→middle — the data transform behind FIM-capable code
    models.  The paper draws the two split points uniformly; here they
    are DERANDOMIZED through the layout-invariant 60-bit md5 key
    (``md5(seed:id:a)``, ``md5(seed:id:b)``), so the corpus transform
    is reproducible on any engine, any partitioning, any run — and
    SQL-oracle-checkable.

    Split spec (integer-exact): with n tokens, point p_x =
    key60(x) mod (n+1) for x in {a, b}; lo = least(p_a, p_b),
    hi = greatest(p_a, p_b); prefix = tokens[0:lo),
    middle = [lo:hi), suffix = [hi:n).  ``fmt`` is 'spm' when
    key60(f) mod 1000 < spm_permille else 'psm' — the paper's
    PSM/SPM mixing knob, derandomized the same way.  Zero-token
    documents emit one row with empty parts (they still count toward
    the mixing ratio).

    Returns (id, n_tokens, lo, hi, prefix, middle, suffix, fmt).

    Scale shape: pure narrow map — tokenize + three hashes + three
    array slices per row, zero shuffle, zero UDF; at 100 TB this is
    scan-bound and embarrassingly parallel."""
    from .text import tokens

    def key60(tag: str) -> F.Column:
        return F.conv(F.substring(
            F.md5(F.concat(F.lit(seed), F.lit(":"),
                           F.col(id_col).cast("string"),
                           F.lit(":" + tag))), 1, 15),
            16, 10).cast("bigint")

    tk = tokens(F.col(text_col))
    # let-bind via select stages: n/lo/hi are each referenced several
    # times below — two-step select keeps them single-evaluation
    staged = df.select(
        F.col(id_col), F.col(text_col), tk.alias("__tk"),
        F.size(tk).alias("__n"),
        (key60("a") % (F.size(tk) + 1)).alias("__pa"),
        (key60("b") % (F.size(tk) + 1)).alias("__pb"),
        F.when(key60("f") % 1000 < spm_permille,
               F.lit("spm")).otherwise(F.lit("psm")).alias("fmt"))
    staged = staged.select(
        id_col, "__tk", "__n", "fmt",
        F.least("__pa", "__pb").alias("__lo"),
        F.greatest("__pa", "__pb").alias("__hi"))
    return staged.select(
        F.col(id_col), F.col("__n").cast("long").alias("n_tokens"),
        F.col("__lo").cast("long").alias("lo"),
        F.col("__hi").cast("long").alias("hi"),
        F.array_join(F.slice(F.col("__tk"), F.lit(1),
                             F.col("__lo").cast("int")), " ")
        .alias("prefix"),
        F.array_join(F.slice(F.col("__tk"),
                             (F.col("__lo") + 1).cast("int"),
                             (F.col("__hi") - F.col("__lo")).cast("int")),
                     " ").alias("middle"),
        F.array_join(F.slice(F.col("__tk"),
                             (F.col("__hi") + 1).cast("int"),
                             (F.col("__n") - F.col("__hi")).cast("int")),
                     " ").alias("suffix"),
        "fmt")


#: query keys that never identify content — the tracking families every
#: crawl canonicalizer strips (utm_* per Google's own spec, click ids,
#: referrer echoes)
TRACKING_PARAM_RE = "^(utm_[a-z]+|ref|fbclid|gclid|msclkid|mc_eid)="


def canonical_url(url_col) -> F.Column:
    """X91 kernel: canonical form of a crawl URL — the dedup key that
    collapses the variants crawlers see for one resource:

    - scheme and host lowercased (RFC 3986 §6.2.2.1 case
      normalization); path/query case is PRESERVED (significant);
    - default ports dropped (``:80``/``:443``);
    - tracking query params removed (``utm_*``, ``ref``, click ids);
    - surviving query params SORTED bytewise (order is almost never
      significant; sorting merges permutations);
    - trailing ``/`` on a non-root path dropped, empty path → ``/``;
    - fragment dropped (never sent to the server).

    Pure codegen string algebra (split → filter → array_sort →
    concat) — identical in any engine, so URL dedup is
    SQL-oracle-checkable.  Returns a string column."""
    u = F.coalesce(url_col, F.lit(""))
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*):", 1))
    hostport = F.lower(F.regexp_extract(u, r"^[^:]+://([^/?#]*)", 1))
    host = F.regexp_replace(hostport, r":(80|443)$", "")
    path = F.regexp_extract(u, r"^[^:]+://[^/?#]*([^?#]*)", 1)
    path = F.regexp_replace(path, r"/$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    qraw = F.regexp_extract(u, r"\?([^#]*)", 1)
    qkept = F.array_sort(F.filter(
        F.split(qraw, "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE)))
    q = F.array_join(qkept, "&")
    return F.concat(scheme, F.lit("://"), host, path,
                    F.when(q == "", F.lit("")).otherwise(
                        F.concat(F.lit("?"), q)))


def dedup_by_url(df: DataFrame, url_col: str = "url",
                 id_col: str = "doc_id") -> DataFrame:
    """X91: URL-canonicalization dedup — the crawl-side first tier that
    runs BEFORE any content hashing (two fetches of
    ``http://X/a?utm_source=y`` and ``https://x/a/`` are one resource;
    content dedup would also catch them but only after paying storage
    and hashing for both).  Groups on :func:`canonical_url`, keeps the
    min-id fetch per group.

    Returns (canonical_url, id, n_variants).

    Scale shape: one narrow canonicalization map + ONE combining
    groupBy on the canonical key — the exact-dedup shape
    (:func:`~.dedup.dedup_exact`) keyed on URL instead of content."""
    return (df.groupBy(canonical_url(F.col(url_col))
                       .alias("canonical_url"))
            .agg(F.min(id_col).alias(id_col),
                 F.count("*").alias("n_variants")))


def plan_shards(df: DataFrame, n_shards: int = 8,
                size_col: str = "n_chars",
                id_col: str = "doc_id") -> DataFrame:
    """X95: balanced output-shard planning — assign every document to
    one of ``n_shards`` training shards so shard sizes come out nearly
    equal, the writer-side twin of :func:`pack_offsets`: a 100 TB run
    that writes shards by hash gets size spread equal to the doc-size
    variance; a run that SNAKE-allocates by descending size gets
    max-min spread bounded by one document.  Deterministic (no
    sampling, no rand()): sort by (size desc, id asc), then
    boustrophedon assignment over the dense global rank ``r``::

        pass = r div n_shards;  pos = r mod n_shards
        shard = pos             if pass is even
              = n-1-pos         otherwise

    (the classic snake draft — each pass hands the largest remaining
    doc to the currently-lightest shard class).

    Returns (id, size, rank, shard), rank 0-based dense global.

    Scale shape — the dense global rank is a **distributed prefix
    count**, not a one-task window (``row_number()`` over an
    unpartitioned ORDER BY collapses to a single task — the known
    Spark anti-pattern): range-repartition on (size desc, id), sort
    within partitions, count rows per partition (≤ P tiny rows
    collected), prefix-sum the counts driver-side into per-partition
    base ranks, then one narrow Arrow pass adds base + local index.
    The sorted layout is frozen with an eager ``localCheckpoint``
    between the passes for the same reason :func:`pack_offsets`
    documents: range boundaries are sampled, and a silent recompute
    under different boundaries would mis-rank every row."""
    from ..functions.layout import pinned_shuffle, plan_width

    base = df.select(F.col(id_col).alias("i"),
                     F.col(size_col).cast("long").alias("sz"))
    spark = df.sparkSession
    # stats-sized width + AQE pin + literal pid->base map: the same
    # round-12 treatment as pack_offsets (this operator is its
    # documented writer-side twin) — see plans/r12/pack_chunks_jobs.txt
    nparts = plan_width(base, floor=8)
    with pinned_shuffle(spark, nparts):
        return _plan_shards_laid(base, n_shards, nparts,
                                 size_col, id_col)


def _plan_shards_laid(base: DataFrame, n_shards: int, nparts: int,
                      size_col: str, id_col: str) -> DataFrame:
    laid = (base.repartitionByRange(nparts, F.col("sz").desc(), F.col("i"))
            .sortWithinPartitions(F.col("sz").desc(), F.col("i"))
            .withColumn("pid", F.spark_partition_id())
            .localCheckpoint(eager=True))
    counts = laid.groupBy("pid").agg(F.count("*").alias("n")).collect()
    rows, run = [], 0
    for r in sorted(counts, key=lambda r: r["pid"]):
        rows.append((int(r["pid"]), run))
        run += int(r["n"])
    # pid -> base rank as a folded literal map (≤ P entries, the
    # driver already holds them) — no broadcast-join build job
    if rows:
        lut = F.create_map(*[c for pid, b in rows
                             for c in (F.lit(pid), F.lit(b))])
    else:
        lut = F.create_map().cast("map<int,bigint>")
    joined = laid.withColumn("base", F.element_at(lut, F.col("pid")))

    def local_index(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        seen = 0
        for pdf in batches:
            if not len(pdf):
                continue
            ranks = (pdf["base"].to_numpy(dtype="int64")
                     + seen + np.arange(len(pdf), dtype="int64"))
            seen += len(pdf)
            yield pd.DataFrame({"i": pdf["i"], "sz": pdf["sz"],
                                "rank": ranks})

    ranked = joined.mapInPandas(local_index, "i long, sz long, rank long")
    s = n_shards
    shard = F.when(
        F.expr(f"(rank div {s}) % 2 = 0"), F.expr(f"rank % {s}")
    ).otherwise(F.expr(f"{s - 1} - (rank % {s})"))
    out = ranked.select(F.col("i").alias(id_col),
                        F.col("sz").alias(size_col),
                        "rank", shard.cast("int").alias("shard"))
    from ..functions.layout import finalize_release
    return finalize_release(out)


def hamilton_quota(weights: DataFrame, budget: int,
                   group_col: str = "g",
                   weight_col: str = "wt") -> DataFrame:
    """Largest-remainder (Hamilton) apportionment over an
    already-aggregated ``(group, weight)`` table — THE shared integer
    core of every budget-allocation operator in this package (the
    ``mix_quota`` check's sqrt-weighted mix and :func:`allocate_budget`
    both route through it, so the apportionment rule can never drift
    between them)::

        base_g  = budget * w_g div W
        extras  = budget - Σ base_g             (< |groups|)
        the ``extras`` groups with the largest remainder
        ``budget * w_g mod W`` (tie → group asc) get +1

    Pure integer arithmetic (products stay under 2^63 for any
    realistic budget × weight mass), so Σ quota == budget EXACTLY —
    no float drift, no re-normalization pass.

    Returns ``weights``' columns + ``quota``.

    Scale shape: window ranking over the |groups|-row catalog —
    bounded (sources are dumps/crawls, thousands at most, the
    :func:`~.dedup.source_minhash_similarity` contract); the
    unpartitioned window is the right plan for a bounded catalog."""
    tot = Window.partitionBy()
    w = Window.partitionBy().orderBy(
        F.expr(f"({budget} * {weight_col}) % __tot").desc(),
        F.col(group_col))
    return (weights
            .withColumn("__tot", F.sum(weight_col).over(tot))
            .withColumn("__base",
                        F.expr(f"({budget} * {weight_col}) div __tot"))
            .withColumn("__extra_rank", F.row_number().over(w))
            .withColumn(
                "quota",
                F.col("__base")
                + F.when(F.col("__extra_rank")
                         <= F.lit(budget) - F.sum("__base").over(tot),
                         1).otherwise(0))
            .drop("__tot", "__base", "__extra_rank"))


def allocate_budget(df: DataFrame, budget: int,
                    group_col: str = "source",
                    size_col: str = "n_chars") -> DataFrame:
    """X98: proportional token-budget apportionment from a raw corpus —
    one map-side-combining groupBy builds each source's inventory,
    then :func:`hamilton_quota` turns it into exact integer quotas
    (linear weights = proportional allocation; the ``mix_quota`` check
    pins the sqrt-weighted variant of the same core).

    Returns (group, size_sum, quota) ordered by group."""
    inv = (df.groupBy(F.col(group_col).alias("__g"))
           .agg(F.sum(F.col(size_col).cast("long")).alias("__sz")))
    out = hamilton_quota(inv, budget, "__g", "__sz")
    return out.select(F.col("__g").alias(group_col),
                      F.col("__sz").alias("size_sum"), "quota")


def dialogue_turns(events: DataFrame, gap_minutes: int = 30,
                   user_col: str = "user_id", ts_col: str = "ts",
                   type_col: str = "event_type",
                   id_col: str = "event_id") -> DataFrame:
    """X97: event-stream → dialogue-transcript linearization — the SFT
    corpus-construction step that turns interaction logs into
    role-alternating training transcripts: per user, gap-based
    sessionization (a new session starts after ``gap_minutes`` of
    silence — the :func:`~.plans.checks_relational` sessionize rule),
    then within each session the events become numbered turns with
    alternating user/assistant roles and the transcript is the
    ordered ``role: event_type`` concatenation.

    Returns (user, session_id, n_turns, transcript), session_id
    0-based per user.

    Scale shape: ONE hash exchange on the user key; the session
    boundary (lag + cumulative sum), turn numbering, and the ordered
    listagg all ride windows over the same (user) clustering with
    per-user ORDER BY ts — no second exchange, and no session ever
    spans partitions.  Transcript size is bounded by session length —
    cap upstream (``cap_per_key``) if a pathological user never goes
    quiet."""
    wu = Window.partitionBy(user_col).orderBy(F.col(ts_col),
                                              F.col(id_col))
    # events land as timestamp_ntz; the session is UTC by contract
    # (sources.testdata), so the ntz->timestamp cast is exact
    usec = F.unix_micros(F.col(ts_col).cast("timestamp"))
    gap = usec - F.lag(usec).over(wu)
    sess = F.sum(
        F.when(gap.isNull() | (gap > gap_minutes * 60_000_000),
               1).otherwise(0)
    ).over(wu) - 1
    s = events.withColumn("__sess", sess.cast("long"))
    ws = Window.partitionBy(user_col, "__sess").orderBy(
        F.col(ts_col), F.col(id_col))
    turn = F.row_number().over(ws) - 1
    role = F.when(turn % 2 == 0, F.lit("user")).otherwise(
        F.lit("assistant"))
    line = F.concat(role, F.lit(": "), F.col(type_col))
    return (s.withColumn("__line", line)
            .groupBy(F.col(user_col), F.col("__sess").alias("session_id"))
            .agg(F.count("*").alias("n_turns"),
                 F.array_join(
                     F.array_sort(F.collect_list(F.struct(
                         F.col(ts_col).alias("t"),
                         F.col(id_col).alias("e"),
                         F.col("__line").alias("l")))).getField("l"),
                 "\n").alias("transcript")))


def span_corrupt(df: DataFrame, span_len: int = 3, one_in: int = 5,
                 text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """X100: T5/UL2-style span-corruption example construction — turn
    each document into a (input, target) denoising pair: the token
    stream is cut into ``span_len``-token spans, a deterministic
    ``1/one_in`` of the spans are masked, each masked span is replaced
    in the input by a numbered sentinel ``<extra_id_k>``, and the
    target is the sentinel-prefixed concatenation of the masked-out
    tokens (the exact seq2seq objective layout of Raffel et al., JMLR
    2020).

    Mask selection is derandomized the package way (no rand()):
    span ``s`` of document ``d`` is masked iff
    ``s % one_in == md5(d) % one_in`` — every doc masks a different
    phase, the masked fraction is exactly the span-coverage of its
    residue class, and because consecutive spans differ by one residue
    (``one_in ≥ 2``), masked spans are never adjacent — each masked
    span is a maximal run, so sentinel numbering is simply the masked
    span's rank.  Deterministic, engine-portable, SQL-oracle-exact.

    Returns (id, n_tokens, n_masked_spans, input, target); documents
    with no maskable span (fewer than span_len·one_in tokens still
    yield their phase's spans or none) pass through with an empty
    target.

    Scale shape: explode to (doc, pos, token), then every derived
    quantity — span id, mask flag, sentinel rank, both ordered
    concatenations — rides windows and ONE combining groupBy over the
    same doc-key clustering: a single hash exchange end-to-end."""
    base = df.select(F.col(id_col).alias("i"),
                     F.posexplode(tokens(F.col(text_col)))
                     .alias("pos", "tok"))
    phase = F.pmod(F.conv(F.substring(F.md5(F.col("i").cast("string")),
                                      1, 8), 16, 10).cast("long"),
                   F.lit(one_in))
    span = F.expr(f"pos div {span_len}")
    masked = F.pmod(span, F.lit(one_in)) == phase
    wdoc = Window.partitionBy("i").orderBy("pos")
    s = (base.withColumn("__span", span)
         .withColumn("__masked", masked))
    # sentinel rank: dense index of the masked span within the doc —
    # first position of each masked span increments the counter
    first_of_span = F.col("__masked") & (
        F.pmod(F.col("pos"), F.lit(span_len)) == 0)
    s = s.withColumn(
        "__sent",
        F.sum(first_of_span.cast("long")).over(wdoc) - 1)
    sentinel = F.concat(F.lit("<extra_id_"), F.col("__sent"), F.lit(">"))
    # input stream: unmasked tokens verbatim; ONE sentinel per masked
    # span (emitted at its first position, other positions drop)
    in_piece = F.when(~F.col("__masked"), F.col("tok")) \
        .when(first_of_span, sentinel)
    tgt_piece = F.when(F.col("__masked"),
                       F.when(first_of_span,
                              F.concat(sentinel, F.lit(" "), F.col("tok")))
                       .otherwise(F.col("tok")))
    out = (s.withColumn("__in", in_piece).withColumn("__tgt", tgt_piece)
           .groupBy("i")
           .agg(F.count("*").alias("n_tokens"),
                (F.max("__sent") + 1).cast("long").alias("n_masked_spans"),
                F.array_join(F.array_sort(F.collect_list(
                    F.when(F.col("__in").isNotNull(), F.struct(
                        F.col("pos").alias("p"),
                        F.col("__in").alias("v"))))).getField("v"), " ")
                .alias("input"),
                F.array_join(F.array_sort(F.collect_list(
                    F.when(F.col("__tgt").isNotNull(), F.struct(
                        F.col("pos").alias("p"),
                        F.col("__tgt").alias("v"))))).getField("v"), " ")
                .alias("target")))
    return out.select(F.col("i").alias(id_col), "n_tokens",
                      F.coalesce("n_masked_spans", F.lit(0))
                      .alias("n_masked_spans"), "input", "target")


def blocklist_filter(df: DataFrame, blocklist: DataFrame,
                     url_col: str = "url", id_col: str = "doc_id",
                     domain_col: str = "domain",
                     max_labels: int = 8) -> DataFrame:
    """X102: registrable-domain blocklist filtering — drop every
    document whose URL host falls under a blocked domain (the host
    itself OR any subdomain of it), the crawl-curation step that
    applies licence/spam/PII domain lists before content ever reaches
    an operator.

    Spark-first scale shape: a document matches iff one of its host's
    DOT-SUFFIXES equals a blocked domain, so the host explodes into
    its ≤ ``max_labels`` suffix chain (``a.b.c`` → ``a.b.c``,
    ``b.c``, ``c``) and the match is ONE equi-semi-join against the
    blocklist — which Catalyst broadcasts while the list is small and
    shuffles when it is web-scale (millions of domains), with the
    suffix key uniformly distributing load either way.  The
    alternative shapes both break at scale: a per-row regex
    alternation recompiles per blocklist change and scans linearly in
    |blocklist|; a ``LIKE '%.' || domain`` theta-join is a
    non-equi-join — quadratic.

    Host extraction: the authority between the scheme and the first
    ``/``, ``?``, ``#`` or ``:`` — lowercased; userinfo up to ``@``
    dropped.  Returns the SURVIVING rows (left-anti join), original
    columns intact.
    """
    host = F.lower(F.regexp_extract(
        F.col(url_col), r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?"
                        r"([^/:?#]+)", 1))
    suffixes = F.expr(
        f"transform(sequence(1, {max_labels}), "
        f"i -> array_join(slice(split(__host, '\\\\.'), "
        f"-i, i), '.'))")
    keyed = (df.withColumn("__host", host)
             .withColumn("__sfx", F.explode(F.array_distinct(suffixes))))
    bl = blocklist.select(F.lower(F.col(domain_col)).alias("__sfx"))
    hit_ids = (keyed.join(bl, "__sfx", "left_semi")
               .select(F.col(id_col)).distinct())
    return df.join(hit_ids, id_col, "left_anti")


def embedding_outliers(emb: DataFrame, k: int = 5,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       label_col: str = "label") -> DataFrame:
    """X104: embedding-space outlier detection — for each label group,
    the ``k`` vectors FURTHEST (integer squared L2) from their group's
    centroid: the data-quality pass that surfaces mislabeled rows,
    broken encoders, and garbage embeddings before they poison a
    contrastive batch or an ANN index.

    Exactness contract: distances run on the shared int8 floor
    quantization (:func:`~.clustering.quantize_exprs` — the
    bit-identity-critical pair every embedding consumer uses) and the
    centroid is the element-wise TRUNCATING integer mean (``sum div
    n``, toward zero — the :func:`~.clustering.kmeans_fit_centroids`
    update rule), so every distance is an exact BIGINT and the whole
    ranking is SQL-oracle-checkable.  NULL embeddings quantize to NULL
    and are dropped (no position in the space); NULL labels form their
    own group only if present in the data — they are dropped with the
    same rule (a row with no group has no centroid to sit out from).

    Returns (label, vec_id, dist, rank), rank 1..k per label by
    (dist desc, vec_id asc).

    Scale shape: explode to (label, pos, v) with ONE combining groupBy
    on (label, pos) [≤ |labels|·dim rows out], pack centroids
    per-label [|labels| rows — broadcast], then a narrow zip_with/
    aggregate distance map and a per-label top-k window over groups
    the label key bounds.  No all-pairs anything; the only data-sized
    exchange is the (label, pos) combine."""
    from ..functions.layout import ensure_parallelism
    from .clustering import quantize_exprs

    maxabs, q8 = quantize_exprs(vec_col)
    # drop predicates on the RAW columns (q IS NULL ⇔ vec IS NULL —
    # transform() of a non-NULL array is never NULL) so they push to
    # the scan instead of evaluating the quantize chain in the filter;
    # fan the scan out below the projection (no-op when already wide)
    # — the interpreted HOF quantize would otherwise run at file width
    base = (ensure_parallelism(
                emb.where(F.col(vec_col).isNotNull()
                          & F.col(label_col).isNotNull()))
            .withColumn("__m", maxabs)
            .select(F.col(id_col).alias("vid"),
                    F.col(label_col).alias("lbl"), q8.alias("q")))
    dims = base.select("vid", "lbl", F.posexplode("q").alias("pos", "v"))
    cents = (dims.groupBy("lbl", "pos")
             .agg(F.expr("sum(v) div count(*)").alias("c")))
    carr = (cents.groupBy("lbl")
            .agg(F.array_sort(F.collect_list(
                F.struct(F.col("pos").alias("p"), F.col("c").alias("c"))))
                .getField("c").alias("cent")))
    dist = (base.join(F.broadcast(carr), "lbl")
            .select("lbl", "vid", F.aggregate(
                F.zip_with("q", "cent",
                           lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"), lambda acc, x: acc + x)
                .alias("dist")))
    w = Window.partitionBy("lbl").orderBy(F.col("dist").desc(),
                                          F.col("vid"))
    return (dist.withColumn("rank",
                            F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= k)
            .select(F.col("lbl").alias(label_col),
                    F.col("vid").alias(id_col), "dist", "rank"))
