"""Deduplication operators for LLM training-data pipelines (SURVEY §2.9
X1/X2 + BASELINE.json: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup).

Scale design (the point of each strategy at 100 TB):

- **Exact** (X1): group on a content fingerprint (sha256 of normalized
  text), keep the minimum id.  One shuffle on a high-entropy 256-bit key —
  no skew by construction; partial agg kills most traffic map-side.
- **n-gram Jaccard**: explode 3-word shingles → self-join on shingle →
  per-pair intersection counts → integer cross-multiplied threshold test.
  Exact but quadratic in the worst case; at scale you band it (see
  MinHash) — kept exact here because it is the oracle-checkable reference
  semantics.
- **MinHash + LSH** (X2): MLlib ``MinHashLSH`` over a hashed shingle
  vector; ``approxSimilarityJoin`` does the band-bucket join so candidate
  generation is near-linear.  Seeded → deterministic.
- **SimHash**: 64-bit signature from per-token xxhash64 sign-sums;
  near-dup candidates = equal 16-bit band (4 bands → Hamming ≤ 3 is
  guaranteed candidate).  Pure column expressions + one groupBy.
- **Embedding cosine**: blocked pairwise cosine with decimal-accumulated
  dot products (order-independent, hash-stable); blocking key bounds the
  quadratic term.  The LSH variant for unblocked scale lives in
  :mod:`.similarity`.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from ..functions.layout import (ensure_parallelism, finalize_release,
                                local_frame)
from .text import fingerprint, tokens

__all__ = [
    "dedup_exact", "shingles", "shingles_of_tokens", "hashed_shingles",
    "ngram_jaccard_pairs", "contamination_pairs",
    "minhash_near_dups", "simhash_signature", "simhash_candidates",
    "minhash_exact_pairs", "simhash_exact_pairs", "paragraph_dedup",
    "template_clusters",
    "source_minhash_similarity",
    "cosine_near_dup_pairs", "incremental_new_docs", "contamination_score",
    "dedup_chunks", "repeated_ngram_spans", "repeated_span_hits",
    "semantic_dedup", "semantic_dedup_incremental",
    "pair_set_metrics",
]


def _pinned_by_stats(fn):
    """Run ``fn`` under a shuffle width sized from its FIRST argument's
    plan stats (round-7, the sparse-cosine discipline): these operators
    shuffle combined token/signature/vector tables a few MB big at test
    SFs — a session-wide exchange there is pure per-partition fixed
    cost × the pipeline's exchanges — while at corpus scale
    ``plan_width`` reaches the session cap and the pin is
    width-neutral.  Only valid for operators that MATERIALIZE inside
    (``finalize_release``/eager checkpoint): a lazily-returned plan
    would execute after the pin exits and silently revert to session
    width."""
    import functools

    from ..functions.layout import pinned_shuffle, plan_width

    @functools.wraps(fn)
    def wrapper(df, *args, **kwargs):
        with pinned_shuffle(df.sparkSession, plan_width(df, floor=8)):
            return fn(df, *args, **kwargs)
    return wrapper


#: broadcast the derived small tables (candidate pairs, removed ids,
#: role tags) only while the UPSTREAM corpus plan-stats estimate stays
#: under this bound — at bench/test scale the hint removes corpus
#: shuffles; past it the duplicate-rate-scaled tables could outgrow the
#: driver/broadcast limits, so the join degrades gracefully to the
#: shuffle strategy instead of OOMing on a forced hint (round-10)
_BROADCAST_GATE_BYTES = 1 << 30


def _stats_under_gate(corpus: DataFrame) -> bool:
    from ..functions.layout import plan_bytes

    est = plan_bytes(corpus)
    return est is not None and est < _BROADCAST_GATE_BYTES


def _gated_broadcast(small: DataFrame, corpus: DataFrame) -> DataFrame:
    """Broadcast ``small`` iff the CORPUS plan-stats estimate is under
    the gate.  Only valid when ``small`` is bounded by the corpus by
    construction (a ≤-one-row-per-corpus-row id projection — e.g. the
    distinct removed-id set, which is a subset of corpus ids): then the
    corpus estimate is an upper bound on the broadcast table and the
    gate is gating the right quantity.  Pair/candidate tables are NOT
    in this class (worst-case quadratic in duplicate density) — never
    pass one here; the rescore path broadcasts its corpus-bounded
    vector side instead (round-11 review)."""
    return F.broadcast(small) if _stats_under_gate(corpus) else small


def incremental_new_docs(batch: DataFrame, history: DataFrame,
                         text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Incremental exact dedup: from an arriving ``batch``, keep one doc
    per canonical content (min id) that has never been seen in
    ``history`` — the steady-state shape of a production dedup pipeline,
    which dedups each day's crawl against the accumulated corpus instead
    of re-clustering everything.

    Shape: batch collapses to one row per fingerprint first (map-side
    partial agg), THEN anti-joins history's fingerprint index — so the
    join's left side is bounded by the batch's distinct content, and the
    history side is a two-column (fp) projection of the index, not the
    corpus.  At 100 TB the history fp index is bucketed by fp, making
    the anti-join co-located and shuffle-free on the big side."""
    first = (batch.groupBy(fingerprint(text_col).alias("fp"))
             .agg(F.min(id_col).alias(id_col)))
    seen = history.select(fingerprint(text_col).alias("fp"))
    return first.join(seen, "fp", "left_anti").select("fp", id_col)


def dedup_exact(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """X1: one surviving row id per distinct canonical content + the
    duplicate count.  ``sha2(normalize(text))`` group key."""
    return (
        df.groupBy(fingerprint(text_col).alias("fp"))
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_copies"))
    )


def shingles_of_tokens(t, n: int = 3):
    """n-word shingles from a token-array column.  1-based ``element_at``;
    fewer than n tokens yield an empty list (guarded sequence).

    IMPORTANT: pass a *materialized column* (real column of a cached or
    shuffled relation), not a raw ``tokens(text)`` expression — Catalyst
    inlines expressions per reference, and this builder references ``t``
    3n+1 times, which would re-run the tokenizer regex O(n·|shingles|)
    times per row (measured ~7x slowdown on the corpus pipeline)."""
    k = F.size(t) - (n - 1)
    return F.when(k >= 1, F.transform(
        F.sequence(F.lit(1), k),
        lambda i: F.concat_ws(" ", *[F.element_at(t, i + j) for j in range(n)]),
    )).otherwise(F.array().cast("array<string>"))


def shingles(col, n: int = 3):
    """n-word shingles straight from a text column.  The tokenizer is
    let-bound (:func:`..functions.let.bind`) so it runs once per row —
    safe to use inline, no cache barrier needed."""
    from ..functions.let import bind

    return bind(tokens(col), lambda t: shingles_of_tokens(t, n))


def hashed_shingles(col, n: int = 3):
    """n-word shingles as 64-bit hashes, skipping string materialization:
    tokens hash to longs once, each shingle is ``xxhash64(h_i..h_{i+n-1})``
    over the n token hashes.  Equivalent identity to hashing the joined
    string (same collision regime, ~|corpus shingles|²/2⁶⁴), but the hot
    loop is integer-only — no per-shingle ``concat_ws`` allocation."""
    from ..functions.let import bind

    def body(ht):
        k = F.size(ht) - (n - 1)
        return F.when(k >= 1, F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.xxhash64(*[F.element_at(ht, i + j) for j in range(n)]),
        )).otherwise(F.array().cast("array<bigint>"))

    return bind(F.transform(tokens(col), lambda t: F.xxhash64(t)), body)


@_pinned_by_stats
def ngram_jaccard_pairs(docs: DataFrame, threshold_tenths: int = 6,
                        text_col: str = "text", id_col: str = "doc_id",
                        n: int = 3) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs with J >= threshold_tenths/10.

    PPJoin-style prefix filtering (exact, lossless):

    1. distinct shingles per doc, global document frequency per shingle;
    2. each doc indexes only its ``|A| - ceil(t·|A|) + 1`` *rarest*
       shingles (the prefix): two docs with J ≥ t MUST share a prefix
       shingle, so candidate generation never misses a true pair but
       skips the quadratic blowup on common shingles;
    3. candidates verify with one hash-set ``array_intersect`` per pair
       and the integer threshold ``10·inter >= t·(|A|+|B|-inter)`` —
       no float division anywhere.

    Returns (id_a, id_b, inter, size_a, size_b) — identical output to
    the naive all-pairs join (the oracle SQL), at a fraction of the
    shuffle.  Prefix ordering ties break on the shingle hash so the
    candidate set is deterministic.

    The whole pipeline runs on 64-bit shingle hashes, never shingle
    strings (8 B keys through the explode/groupBy/self-join instead of
    ~25 B; cross-doc collisions are ~|corpus shingles|²/2⁶⁴ ≈ 0, the
    same regime every hash-based dedup accepts).
    """
    from pyspark.sql import Window

    t = threshold_tenths
    # the shingle builder references its token array 3n+1 times — the
    # let-bound hashed_shingles() evaluates the tokenizer once per row
    docs = ensure_parallelism(docs)
    sets = (docs.select(F.col(id_col).alias("id"),
                        F.array_distinct(hashed_shingles(F.col(text_col), n))
                        .alias("shs"))
            .where(F.size("shs") > 0)
            .withColumn("sz", F.size("shs"))
            .cache())
    # Eagerly fill: the plan below scans `sets` from five branches (DF
    # index, both prefix sides, both verification sides); concurrent
    # cold-cache scans would each recompute the shingling.
    sets.count()
    sh = sets.select("id", "sz", F.explode("shs").alias("h"))
    # document frequency per shingle as a count window — same shuffle key
    # a groupBy would use, but no join back (one exchange instead of an
    # aggregate + join pair)
    df_c = F.count("*").over(Window.partitionBy("h"))
    # prefix length: sz - ceil(t/10 * sz) + 1, in integer math
    plen = F.col("sz") - F.floor((F.lit(t) * F.col("sz") + 9) / 10) + 1
    w = Window.partitionBy("id").orderBy("df", "h")
    prefix = (sh.withColumn("df", df_c)
              .withColumn("rn", F.row_number().over(w))
              .where(F.col("rn") <= plen)
              .select("id", "h", "sz", "rn"))
    # Candidate join prunes with the two lossless PPJoin filters before
    # any pair materializes:
    #  - size compatibility: J ≥ t/10 forces 10·min(|A|,|B|) ≥ t·max;
    #  - positional upper bound: a prefix match at sorted positions
    #    (rnA, rnB) caps the intersection at 1 + min(szA-rnA, szB-rnB),
    #    which must reach minoverlap = ceil(t·(szA+szB)/(10+t))
    #    (from 10·I ≥ t·(szA+szB−I)).
    # Measured at sf0.1: 300k → 69k candidate pairs.
    minov = F.floor((F.lit(t) * (F.col("a.sz") + F.col("b.sz")) + (10 + t) - 1)
                    / (10 + t))
    ub = 1 + F.least(F.col("a.sz") - F.col("a.rn"),
                     F.col("b.sz") - F.col("b.rn"))
    cands = (prefix.alias("a")
             .join(prefix.alias("b"),
                   (F.col("a.h") == F.col("b.h"))
                   & (F.col("a.id") < F.col("b.id"))
                   & (10 * F.col("a.sz") >= t * F.col("b.sz"))
                   & (10 * F.col("b.sz") >= t * F.col("a.sz"))
                   & (ub >= minov))
             .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
             .distinct())
    # Verification joins ship one hashed shingle-set per side per
    # candidate.  The per-doc set table broadcasts while it fits the
    # threshold (AQE decides from stats) — candidate pairs then never
    # shuffle their arrays; beyond that it degrades to a shuffled hash
    # join on doc id, which is the correct plan anyway.
    a = sets.select(F.col("id").alias("id_a"), F.col("shs").alias("shs_a"),
                    F.col("sz").alias("size_a"))
    b = sets.select(F.col("id").alias("id_b"), F.col("shs").alias("shs_b"),
                    F.col("sz").alias("size_b"))
    verified = (cands.join(a, "id_a").join(b, "id_b")
                .withColumn("inter",
                            F.size(F.array_intersect("shs_a", "shs_b")))
                .where(10 * F.col("inter")
                       >= t * (F.col("size_a") + F.col("size_b") - F.col("inter"))))
    # pairs are tiny vs the shingle sets; materialize them and drop the
    # 5-branch cache so long-lived sessions don't accumulate storage
    return finalize_release(
        verified.select("id_a", "id_b", "inter", "size_a", "size_b"), sets)


def contamination_pairs(train: DataFrame, bench: DataFrame,
                        min_shared: int = 2, n: int = 3,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Benchmark decontamination: (train_id, bench_id, n_shared) for every
    train/bench document pair sharing ≥ ``min_shared`` distinct n-gram
    shingles — the standard train/eval overlap detector for LLM corpora.

    The 100 TB shape: the bench side (an eval suite) is orders of
    magnitude smaller than the corpus, so its exploded shingle set is
    BROADCAST — the corpus side streams through a map-side hash join with
    no shuffle until the per-pair count, and that groupBy partial-
    aggregates map-side.  Shingles travel as 64-bit hashes (collision
    regime ~|shingles|²/2⁶⁴ ≈ 0, as everywhere else in this module).
    """
    tsh = (ensure_parallelism(train)
           .select(F.col(id_col).alias("train_id"),
                   F.explode(F.array_distinct(
                       hashed_shingles(F.col(text_col), n))).alias("h")))
    bsh = (bench.select(F.col(id_col).alias("bench_id"),
                        F.explode(F.array_distinct(
                            hashed_shingles(F.col(text_col), n))).alias("h")))
    return (tsh.join(F.broadcast(bsh), "h")
            .groupBy("train_id", "bench_id")
            .agg(F.count("*").alias("n_shared"))
            .where(F.col("n_shared") >= min_shared))


def contamination_score(train: DataFrame, bench: DataFrame, n: int = 3,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Per-train-document contamination fraction, as integers:
    (doc_id, n_shingles, n_hit) where ``n_hit`` counts the document's
    distinct shingles that appear ANYWHERE in the bench set — the
    document-level signal a filtering policy thresholds on (drop when
    n_hit·D ≥ τ·n_shingles), complementing the pair-level
    :func:`contamination_pairs`.

    Same 100 TB shape: the bench's distinct shingle set broadcasts, the
    corpus side is one narrow explode + broadcast semi-join + one
    partial-aggregating groupBy keyed by doc — uniform, never keyed on
    shingle popularity."""
    tsh = (ensure_parallelism(train)
           .select(F.col(id_col),
                   F.explode(F.array_distinct(
                       hashed_shingles(F.col(text_col), n))).alias("h")))
    bset = (bench.select(F.explode(F.array_distinct(
        hashed_shingles(F.col(text_col), n))).alias("h")).distinct())
    hits = (tsh.join(F.broadcast(bset), "h", "left_semi")
            .groupBy(id_col).agg(F.count("*").alias("n_hit")))
    totals = tsh.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    return (totals.join(hits, id_col, "left")
            .select(id_col, "n_shingles",
                    F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit")))


@_pinned_by_stats
def minhash_near_dups(docs: DataFrame, jaccard_distance: float = 0.4,
                      text_col: str = "text", id_col: str = "doc_id",
                      num_hash_tables: int = 5, seed: int = 42) -> DataFrame:
    """X2: MinHash+LSH candidate pairs within the given Jaccard distance.

    Pipeline: shingle set → fixed-dim sparse count vector (HashingTF) →
    MinHash signatures → banded bucket join (``approxSimilarityJoin``).
    At 100 TB this is the linear-ish near-dedup path: candidates only form
    inside shared LSH buckets, never a full cross join.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    docs = ensure_parallelism(docs)
    sh = (docs.select(F.col(id_col).alias("id"),
                      F.array_distinct(shingles(F.col(text_col))).alias("sh"))
          .where(F.size("sh") > 0))
    tf = HashingTF(inputCol="sh", outputCol="features", numFeatures=1 << 18)
    # cache() is load-bearing, not just a reuse win: Spark does not
    # guarantee filter-before-UDF evaluation order, and without the
    # barrier the MinHash hash UDF can run on the empty-shingle rows the
    # filter drops ("Must have at least 1 non zero entry").  The cached
    # table is the post-filter vector set — the thing approxSimilarityJoin
    # reads twice anyway.
    feats = tf.transform(sh).cache()
    lsh = MinHashLSH(inputCol="features", outputCol="hashes",
                     numHashTables=num_hash_tables, seed=seed)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, jaccard_distance,
                                       distCol="jaccard_dist")
    out = (
        pairs.select(F.col("datasetA.id").alias("id_a"),
                     F.col("datasetB.id").alias("id_b"),
                     F.col("jaccard_dist"))
        .where(F.col("id_a") < F.col("id_b"))
    )
    return finalize_release(out, feats)


def simhash_signature(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document: per-token xxhash64, sign-sum each bit,
    sign → signature bit.

    Hybrid kernel: token hashing stays JVM-side (``xxhash64`` — cheap,
    deterministic), then an Arrow-batched pandas UDF packs the 64-bit
    signature with vectorized numpy bit math.  This is the §2.9-sanctioned
    Python escape hatch: the pure column-expression formulation needs
    ~64·|tokens| interpreted lambda evaluations per document (measured
    ~10x slower), while numpy does the same bit matrix in one shot.
    Still a pure map stage — no explode, no shuffle; a 100 TB corpus
    signatures at scan speed.  Documents with zero tokens are dropped
    (no token evidence)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def pack_sig(hashes: pd.Series) -> pd.Series:
        shifts = np.arange(64, dtype=np.uint64)

        def pack_chunk(hs_list: list) -> np.ndarray:
            # flatten the chunk's token hashes, expand the bit matrix
            # once, and segment-sum with reduceat — one numpy dispatch
            # per chunk instead of one per document (the per-doc loop
            # was the whole cost: ~5500 small numpy ops per batch)
            lens = np.array([len(h) for h in hs_list], dtype=np.int64)
            flat = np.concatenate([np.asarray(h, dtype=np.int64)
                                   for h in hs_list]).astype(np.uint64)
            bits = ((flat[:, None] >> shifts) & np.uint64(1)).astype(np.int32)
            offsets = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=offsets[1:])
            sums = np.add.reduceat(bits, offsets, axis=0)
            votes = 2 * sums - lens[:, None]
            return np.bitwise_or.reduce(
                np.where(votes > 0, np.uint64(1), np.uint64(0)) << shifts,
                axis=1)

        out = np.empty(len(hashes), dtype=np.uint64)
        # chunk by token volume so the bit matrix stays ~100k x 64 int32
        chunk, start, budget = [], 0, 100_000
        acc = 0
        for i, hs in enumerate(hashes):
            chunk.append(hs)
            acc += len(hs)
            if acc >= budget:
                out[start:i + 1] = pack_chunk(chunk)
                chunk, start, acc = [], i + 1, 0
        if chunk:
            out[start:] = pack_chunk(chunk)
        return pd.Series(out.astype(np.int64))

    toks = tokens(F.col(text_col))
    docs = ensure_parallelism(docs)
    hashed = (docs.select(F.col(id_col).alias("id"),
                          F.transform(toks, lambda t: F.xxhash64(t)).alias("hs"))
              .where(F.size("hs") > 0))
    return hashed.select("id", pack_sig("hs").alias("simhash"))


@_pinned_by_stats
def simhash_candidates(sigs: DataFrame) -> DataFrame:
    """Near-dup candidate pairs from equal 16-bit SimHash bands (4 bands —
    any pair with Hamming distance ≤ 3 shares at least one band).  Banding
    replaces the quadratic all-pairs Hamming scan with band equi-joins.

    Round-11 shape: ONE self-join on the posexploded ``(band_idx,
    band_val)`` long table instead of four per-band joins + a 4-way
    union (guide §2.4 — the same candidate multiset reaches the
    ``distinct`` either way, but 8 cached-scan branches and 4 join
    exchanges collapse into 2 exchanges on the exploded table; measured
    warm 2.0 → 1.35 s on the full check)."""
    bands = sigs.select(
        "id", "simhash",
        F.posexplode(F.array(*[
            F.shiftrightunsigned(F.col("simhash"), 16 * i)
            .bitwiseAND(F.lit(0xFFFF)) for i in range(4)]))
        .alias("band_idx", "band_val"),
    ).cache()  # read twice (2 join sides); upstream may be an
    #            expensive signature expression
    a, b = bands.alias("a"), bands.alias("b")
    cand = (a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
                   & (F.col("a.band_val") == F.col("b.band_val"))
                   & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                    F.col("a.simhash").alias("sig_a"),
                    F.col("b.simhash").alias("sig_b")))
    dist = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return finalize_release(
        cand.distinct().withColumn("hamming", dist.cast("int")), bands)


def minhash_exact_pairs(docs: DataFrame, n_hashes: int = 8,
                        band_rows: int = 2, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """X2 (portable-hash variant): MinHash-LSH candidate pairs with a
    *bit-exact SQL oracle*.

    The MLlib path (:func:`minhash_near_dups`) uses engine-private hash
    functions, so it can only ever get a rows-only correctness check.
    This variant derives the K-hash family from md5 — identical in every
    engine — so the full LSH pipeline (shingle → signature → band →
    bucket join) is exactly reproducible in ANSI SQL:

      ``h_s(shingle) = substr(md5((s div 4) || '|' || shingle),
      1 + 8·(s mod 4), 8)`` — one-hash-many-slices: each md5 yields
      FOUR independent 32-bit rows (hex slices of a uniform 128-bit
      digest are themselves uniform and independent), so an 8-row
      signature costs 2 md5 evaluations per shingle instead of 8
      (round-11; the md5s were the sigs stage's CPU).  Slices are
      fixed-width lowercase hex, so lexicographic min is order-
      isomorphic to numeric min over the 32-bit value and the usual
      MinHash Jaccard estimate carries over; 32 bits over realistic
      per-document shingle-set sizes leaves min-collision probability
      negligible (~|sh|²/2³²).

    Banding: ``n_hashes / band_rows`` bands, band signature = the
    comma-joined signature rows; docs sharing any band signature become
    a candidate pair.  Returns ``(id_a, id_b, n_shared_bands)``.

    Scale shape: explode distinct shingles, compute the K hashes in a
    flat whole-stage-codegen projection (array HOF lambdas are
    interpreted per element — measured 5x slower), then one map-side
    combining groupBy(id) with K ``min`` aggregates builds every
    signature in a single shuffle; one more explode to B band rows and
    one equi-join on ``(band_id, band_sig)``.  Candidates form only
    inside shared buckets — never an all-pairs join.  Degenerate
    buckets (thousands of identical docs) are the classic LSH hot key;
    run exact dedup (:func:`dedup_exact`) first so surviving bucket
    sizes are bounded by true near-dup cluster width.
    """
    assert n_hashes % band_rows == 0
    n_bands = n_hashes // band_rows
    docs = ensure_parallelism(docs)
    sets = (docs.select(F.col(id_col).alias("id"),
                        F.array_distinct(shingles(F.col(text_col), n))
                        .alias("shs"))
            .where(F.size("shs") > 0))
    n_md5 = (n_hashes + 3) // 4
    # the md5s live in the explode-side PROJECTION (one column per
    # digest), not inside the agg expressions — each digest is
    # evaluated exactly once per shingle row, and the min-aggregates
    # reduce cheap 8-char slices
    ex = (sets.select("id", F.explode("shs").alias("sh"))
          .select("id", *[F.md5(F.concat(F.lit(f"{m}|"), F.col("sh")))
                          .alias(f"h{m}") for m in range(n_md5)]))
    sigs = ex.groupBy("id").agg(*[
        F.min(F.substring(F.col(f"h{s // 4}"), 1 + 8 * (s % 4), 8))
        .alias(f"mh{s}") for s in range(n_hashes)])
    bands = sigs.select(
        "id",
        F.posexplode(F.array(*[
            F.concat_ws(",", *[F.col(f"mh{b * band_rows + r}")
                               for r in range(band_rows)])
            for b in range(n_bands)]))
        .alias("band_id", "band_sig"))
    a, b = bands.alias("a"), bands.alias("b")
    return (a.join(b, (F.col("a.band_id") == F.col("b.band_id"))
                   & (F.col("a.band_sig") == F.col("b.band_sig"))
                   & (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count("*").alias("n_shared_bands")))


_HEX_HIGH = ("8", "9", "a", "b", "c", "d", "e", "f")


@_pinned_by_stats
def simhash_exact_pairs(docs: DataFrame, n_bits: int = 32,
                        max_hamming: int = 3, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """SimHash near-dup pairs with a *bit-exact SQL oracle*.

    The production path (:func:`simhash_signature`) packs 64-bit
    signatures from xxhash64 with a numpy pandas-UDF — fast, but only
    rows-only checkable.  This variant derives each token's bit vector
    from its md5 hex digits (bit i = high bit of hex digit i, i.e.
    digit ∈ 8..f), so any ANSI-SQL engine reproduces the signature
    exactly:

      ``bitsum_i = Σ_tokens cnt · (±1)``  (+ if digit i high, − else)
      ``sig_i   = bitsum_i >= 0``  (32-char '0'/'1' string)

    Token *frequency* weights (classic Charikar weighting).  Candidate
    pairs via 4 equal-band equi-joins (8 chars per band — any pair with
    Hamming ≤ 3 must share a band; we verify up to ``max_hamming``, so
    banding is a recall-tuned prefilter exactly as in production LSH),
    then the exact Hamming distance is computed per candidate.

    Scale shape: token counting is one shuffle on (doc, token); the
    32 bit sums are flat codegen projections feeding one map-side
    combining groupBy(id) with 32 ``sum`` aggregates (array-HOF
    formulations are interpreted per element — measured 3x slower);
    banding joins replace the quadratic Hamming scan.
    """
    res, bands = _simhash_exact_build(docs, n_bits, max_hamming,
                                      text_col, id_col)
    return finalize_release(res, bands)


def _simhash_exact_build(docs: DataFrame, n_bits: int, max_hamming: int,
                         text_col: str, id_col: str):
    """Pre-checkpoint pipeline for :func:`simhash_exact_pairs` — split out
    so plan tests can assert on the REAL physical plan (the public entry
    localCheckpoints, which collapses the plan to a Scan ExistingRDD)."""
    # signature bits come from the 32 md5 hex digits AND are packed
    # into one signed long for the xor/bit_count Hamming — both bound
    # n_bits at 32 (conv of >=2^63 would cast to NULL and silently drop
    # candidate pairs)
    assert n_bits % 4 == 0 and 4 <= n_bits <= 32
    band_w = n_bits // 4
    docs = ensure_parallelism(docs)
    # Σ_tokens cnt·(±1) == Σ_occurrences (±1): summing ±1 per token
    # OCCURRENCE folds the (id, tok) count table into the per-id
    # aggregate, so the (id, tok) exchange disappears — the groupBy(id)
    # partial-aggregates map-side and the only shuffle carries |docs|
    # rows of 32 partial sums (round-11, guide §2.3/§2.4; measured
    # 1.95 → 1.06 s warm on the sigs stage, values bit-identical).
    occ = (docs.select(F.col(id_col).alias("id"),
                       F.explode(tokens(F.col(text_col))).alias("tok"))
           .select("id", F.md5("tok").alias("h")))
    sums = occ.groupBy("id").agg(*[
        F.sum(F.when(F.substring("h", i, 1).isin(*_HEX_HIGH),
                     F.lit(1)).otherwise(-1))
        .alias(f"s{i}") for i in range(1, n_bits + 1)])
    sigs = sums.select(
        "id",
        F.concat(*[F.when(F.col(f"s{i}") >= 0, F.lit("1")).otherwise("0")
                   for i in range(1, n_bits + 1)]).alias("sig"))
    # sig_int: the same 32 bits as one long — per-candidate Hamming is
    # then a single xor + bit_count instead of 2·n_bits substring
    # compares, and the join rows carry 8 bytes instead of two 32-char
    # strings.  Signature bits are NOT uniform (common tokens bias the
    # bit sums the same way in every document), so band buckets are
    # heavily skewed and the candidate set is large (measured: 9M pairs
    # on a 5.5k-doc corpus) — the Hamming filter therefore runs BEFORE
    # the pair-dedup distinct, collapsing 9M wide rows to the few true
    # near-dups first.
    bands = sigs.select(
        "id", "sig",
        F.conv("sig", 2, 10).cast("long").alias("sig_int"),
        *[F.substring("sig", i * band_w + 1, band_w).alias(f"band{i}")
          for i in range(4)]).cache()
    out = None
    for i in range(4):
        a, b = bands.alias("a"), bands.alias("b")
        cand = (a.join(b, (F.col(f"a.band{i}") == F.col(f"b.band{i}"))
                       & (F.col("a.id") < F.col("b.id")))
                .select(F.col("a.id").alias("id_a"),
                        F.col("b.id").alias("id_b"),
                        F.bit_count(F.col("a.sig_int")
                                    .bitwiseXOR(F.col("b.sig_int")))
                        .cast("long").alias("hamming")))
        out = cand if out is None else out.unionByName(cand)
    res = (out.where(F.col("hamming") <= max_hamming).distinct()
           .select("id_a", "id_b", "hamming"))
    return res, bands


def cosine_near_dup_pairs(emb: DataFrame, block_col: str = "label",
                          threshold_millis: int = 999,
                          passthrough: tuple[str, ...] = ()) -> DataFrame:
    """Embedding-cosine near-dup pairs within a blocking key.

    Two-stage scale shape (blocked GEMM prefilter + exact rescore):

    1. **Candidate generation** — per block, one numpy matmul
       (``applyInPandas``): X·Xᵀ over the L2-normalized vectors, keeping
       pairs above ``threshold - margin``.  BLAS does |block|²·d flops in
       one shot; only the (tiny) candidate id pairs leave Python.  The
       margin (1e-3) dwarfs every float-ordering effect (~1e-12), so no
       true pair can be lost — the prefilter is superset-safe and its
       float quirks cannot reach the output.
    2. **Exact rescore** — candidates re-join their vectors and get the
       order-independent DECIMAL(18,9) dot (norms materialized once per
       vector via ``with_normalized``); the final threshold runs on that
       hash-stable score, so results are bit-identical to an engine that
       scored every pair exactly.

    Blocking bounds the quadratic term (block size is the caller's
    memory contract: |block|·d doubles must fit an executor task); for
    unblocked corpora use the LSH path in :mod:`.similarity`.
    Input: (vec_id, embedding array<float|double>, <block_col>).

    Every exchange (the GEMM's block grouping, the two rescore joins,
    the final filter) runs under a shuffle width sized from the
    corpus' own plan stats (round-7, the sparse-cosine discipline) —
    at test SFs a session-wide shuffle is pure fixed cost on a few-MB
    vector table; at corpus scale the stats estimate keeps the
    session width and the pin is width-neutral.

    ``passthrough``: extra per-vector columns of ``emb`` to carry into
    the output as ``<col>_a`` / ``<col>_b`` (round-11).  They ride the
    rescore join's existing vector projections — zero extra exchanges —
    which is how :func:`semantic_dedup_incremental` gets both sides'
    history/batch role without two more joins after the GEMM.
    """
    from pyspark.sql import types as T

    from ..functions.layout import pinned_shuffle, plan_width
    from ..functions.vectors import dot_compact, with_normalized

    with pinned_shuffle(emb.sparkSession, plan_width(emb, floor=8)):
        return _cosine_near_dup_build(emb, block_col, threshold_millis,
                                      passthrough)


def _cosine_near_dup_build(emb: DataFrame, block_col: str,
                           threshold_millis: int,
                           passthrough: tuple[str, ...] = ()) -> DataFrame:
    from pyspark.sql import types as T

    from ..functions.vectors import dot_compact, with_normalized

    thr = threshold_millis / 1000.0
    nv = with_normalized(ensure_parallelism(emb), "embedding", "nv") \
        .select("vec_id", "nv", block_col, *passthrough).cache()

    out_schema = T.StructType([
        emb.schema[block_col],
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
    ])
    margin = 1e-3

    def block_gemm(pdf: "pd.DataFrame") -> "pd.DataFrame":
        X = np.stack(pdf["nv"].values).astype(np.float64)
        ids = pdf["vec_id"].to_numpy()
        S = X @ X.T
        i, j = np.triu_indices(len(ids), k=1)
        keep = S[i, j] >= (thr - margin)
        ia, ib = ids[i[keep]], ids[j[keep]]
        lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
        return pd.DataFrame({
            block_col: pdf[block_col].iloc[0],
            "id_a": lo, "id_b": hi,
        })

    cands = (nv.select("vec_id", "nv", block_col)
             .groupBy(block_col).applyInPandas(block_gemm, out_schema))
    a = nv.select(F.col("vec_id").alias("id_a"), F.col("nv").alias("va"),
                  *[F.col(c).alias(f"{c}_a") for c in passthrough])
    b = nv.select(F.col("vec_id").alias("id_b"), F.col("nv").alias("vb"),
                  *[F.col(c).alias(f"{c}_b") for c in passthrough])
    # rescore join orientation (round-11, after review): broadcast the
    # VECTOR side, never the pair table.  The candidate table's size is
    # unknowable from plan stats (post-applyInPandas stats are the
    # defaultSizeInBytes sentinel) and is worst-case quadratic in
    # duplicate density, so a forced broadcast of it can exceed driver
    # limits on a pathological corpus even when the corpus itself is
    # small.  The nv projection, by contrast, is BOUNDED BY THE CORPUS
    # (≤ one row per vector) — exactly the quantity the stats gate
    # measures — and broadcasting it turns the rescore into a single
    # stage the candidate stream flows through once, with no exchange
    # of the (possibly huge) pair table at all.
    if _stats_under_gate(emb):
        a, b = F.broadcast(a), F.broadcast(b)
    rescored = (cands.join(a, "id_a")
                .join(b, "id_b")
                .select(block_col, "id_a", "id_b",
                        dot_compact(F.col("va"), F.col("vb"))
                        .cast("decimal(18,9)").alias("cos9"),
                        *[f"{c}_a" for c in passthrough],
                        *[f"{c}_b" for c in passthrough]))
    final = (rescored.where(F.col("cos9") >= F.lit(threshold_millis) / 1000.0)
             .select(block_col, "id_a", "id_b",
                     F.col("cos9").cast("double").alias("cosine"),
                     *[f"{c}_a" for c in passthrough],
                     *[f"{c}_b" for c in passthrough]))
    # the eager checkpoint here is LOAD-BEARING, not just cache
    # hygiene (round-11, measured): a deferred-release variant that
    # returned the lazy pair plan made the semantic-dedup callers ~2×
    # SLOWER (decontaminate_semantic 2.6→5.3 s warm) — their
    # removed-set broadcast then evaluated this whole GEMM pipeline
    # inside a driver-side broadcast-exchange collect instead of a
    # parallel job.  Keep the pairs materialized.
    return finalize_release(final, nv)


def semantic_dedup(emb: DataFrame, n_cells: int = 8,
                   threshold_millis: int = 950, dim: int = 64,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   assign_via_join: bool | None = None,
                   refine_iters: int = 0) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al., "SemDeDup: Data-
    efficient learning at web-scale through semantic deduplication",
    arXiv'23): cluster the embedding space coarsely, then prune
    near-identical *meanings* within each cluster — documents whose
    embeddings are ε-close to a cell-mate are redundant for training
    even when their text never matched any lexical dedup tier.

    Deterministic, oracle-exact composition (the PQ/IVF determinism
    recipe — no float k-means, so the whole pipeline is SQL-checkable):

    1. **Cells**: int8 floor-quantize (exact math of
       :func:`~.similarity.pq_topk`), pick the ``n_cells`` corpus
       vectors with the smallest ``(md5(id), id)`` as anchors, assign
       each vector to its integer-L2-nearest anchor (ties → lower
       anchor rank) — a pure codegen scan, anchors are a bounded
       driver literal.
    2. **Intra-cell prune**: exact ε-pairs within each cell via
       :func:`cosine_near_dup_pairs` (blocked GEMM prefilter + decimal
       rescore) with the cell as the blocking key.
    3. **Survivors**: a document is removed iff some SMALLER-id
       cell-mate sits within ε (pairs are canonical ``id_a < id_b``,
       so removed = distinct ``id_b``) — the lowest id of every
       ε-neighborhood chain survives; deterministic and
       order-independent, no iterative greedy state.

    Returns ``(vec_id, cell)`` for the surviving documents.

    Scale shape: cell assignment is a pure codegen scan for ≤64 cells
    (anchors baked as one SQL expression) and a broadcast
    nested-loop + partial-aggregating min-of-structs beyond that
    (identical semantics, plan size O(1) in n_cells, still no corpus
    shuffle); the quadratic GEMM is bounded by the largest cell.
    Sizing discipline: ``n_cells ∝ √N`` balances the N·n_cells
    assignment against the N²/n_cells GEMM at N^1.5 total — the FAISS
    IVF rule (the similarity/ANN scale-up table in ``docs/SCALE.md``;
    ``tools/measure.py ... dedup_semantic`` re-measures it).  The removal
    is one distinct + one left-anti join on the id.

    ``refine_iters > 0`` replaces the raw md5-anchor cells with
    k-means-REFINED cells (:func:`~.clustering.kmeans_int`, seeded by
    the same md5 rule then Lloyd's-iterated ``refine_iters`` rounds) —
    the "sampled k-means centroids at real scale" upgrade, still fully
    deterministic and oracle-exact because the k-means itself is
    integer-exact.  Refined cells track density, so fewer true
    ε-neighbors straddle a cell boundary than with raw anchor cells
    (SemDeDup's recall knob); costs ``refine_iters`` extra
    assignment/update rounds plus one join of the (id, cell)
    assignment back to the vectors.

    The whole pipeline (cell assignment, GEMM, rescore, anti-join)
    runs under a stats-sized pinned width (round-7; the nested
    cosine/k-means pins share this outer one) — width-neutral at
    corpus scale, session-fixed-cost-free at test SFs."""
    from ..functions.layout import pinned_shuffle, plan_width

    with pinned_shuffle(emb.sparkSession, plan_width(emb, floor=8)):
        return _semantic_dedup_build(emb, n_cells, threshold_millis,
                                     dim, id_col, vec_col,
                                     assign_via_join, refine_iters)


def _semantic_dedup_build(emb: DataFrame, n_cells: int,
                          threshold_millis: int, dim: int, id_col: str,
                          vec_col: str, assign_via_join: bool | None,
                          refine_iters: int) -> DataFrame:
    if refine_iters:
        from .clustering import _kmeans_int_lazy

        # round-11: carry the raw vector through the quantized cache —
        # the assignment output already holds (id, embedding, cluster),
        # so the old eager kmeans checkpoint AND the corpus re-join are
        # gone (guide §2.4).  with_cell is a narrow literal-argmin scan
        # over the cache; same rows (NULL embeddings drop at
        # quantization exactly as the inner join dropped them), same
        # cells, same math.
        final, qdf, _w = _kmeans_int_lazy(
            emb, k=n_cells, n_iter=refine_iters,
            id_col=id_col, vec_col=vec_col, carry=(vec_col,))
        with_cell = final.select(F.col(id_col).alias("vec_id"),
                                 F.col(vec_col).alias("embedding"),
                                 F.col("cluster").alias("__cell"))
        pairs = cosine_near_dup_pairs(with_cell, block_col="__cell",
                                      threshold_millis=threshold_millis)
        removed = pairs.select(F.col("id_b").alias("vec_id")).distinct()
        out = (with_cell.join(_gated_broadcast(removed, emb),
                              "vec_id", "left_anti")
               .select(F.col("vec_id").alias(id_col),
                       F.col("__cell").alias("cell")))
        return finalize_release(out, qdf)
    x = F.col(vec_col)
    maxabs = F.array_max(F.transform(x, lambda e: F.abs(e.cast("double"))))
    q8 = F.transform(
        x, lambda e: F.when(F.col("m") == 0.0, F.lit(0).cast("long"))
        .otherwise(F.floor(e.cast("double") * 127.0 / F.col("m"))
                   .cast("long")))
    qdf = (ensure_parallelism(emb)
           .withColumn("m", maxabs)
           .select(F.col(id_col), F.col(vec_col), q8.alias("q")).cache())
    hx = F.md5(F.col(id_col).cast("string"))
    anchors = [list(r["q"]) for r in
               sorted(qdf.orderBy(hx, F.col(id_col)).limit(n_cells)
                      .select(hx.alias("hx"), F.col(id_col), "q").collect(),
                      key=lambda r: (r["hx"], r[id_col]))]
    if anchors and len(anchors[0]) != dim:
        # fail fast: the codegen assignment below iterates range(dim),
        # so a mismatch would silently score only the first dim
        # components (or NULL structs via element_at past the end)
        # while the assign_via_join path uses true array lengths
        raise ValueError(
            f"semantic_dedup: dim={dim} but '{vec_col}' vectors have "
            f"{len(anchors[0])} components")

    if assign_via_join is None:
        assign_via_join = len(anchors) > 64
    if not assign_via_join:
        # bounded cell count: anchors as ONE constant-folded array
        # literal, argmin in-plan — pure narrow scan, no join at all.
        # Full L2 (not the Σa²−2Σqa shortcut): same argmin and same tie
        # sets (the dropped Σq² is constant per row), and the folded
        # literal keeps the generated code byte-stable across runs —
        # the unrolled element_at(q,i)*c form inlined every anchor
        # value into the codegen source and paid ~1 s of Janino
        # recompile per run (round-10, measured on the kmeans family)
        from .clustering import _best_struct_sql

        cell = F.expr(f"({_best_struct_sql(anchors)}).r")
        with_cell = qdf.select(F.col(id_col).alias("vec_id"),
                               F.col(vec_col).alias("embedding"),
                               cell.alias("__cell"))
    else:
        # many cells (n_cells ∝ √N at scale): a literal argmin
        # expression would grow past codegen's method limits, so assign
        # via a broadcast nested-loop against the tiny anchor table and
        # ONE partial-aggregating min-of-structs per vector — identical
        # semantics (ties → lower anchor rank), plan size O(1) in
        # n_cells, still no shuffle of the corpus (the partial agg
        # collapses the N·n_cells stream inside each task)
        adf = local_frame(
            emb.sparkSession, [(r, aq) for r, aq in enumerate(anchors)],
            "__arank int, __aq array<bigint>")
        d2 = F.aggregate(
            F.zip_with("q", "__aq", lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"), lambda acc, x: acc + x)
        with_cell = (qdf.crossJoin(F.broadcast(adf))
                     .groupBy(F.col(id_col).alias("vec_id"))
                     .agg(F.first(vec_col).alias("embedding"),
                          F.min(F.struct(d2.alias("d"),
                                         F.col("__arank").alias("r")))
                          .getField("r").alias("__cell")))
    pairs = cosine_near_dup_pairs(with_cell, block_col="__cell",
                                  threshold_millis=threshold_millis)
    removed = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    survivors = (with_cell.join(_gated_broadcast(removed, qdf),
                                "vec_id", "left_anti")
                 .select(F.col("vec_id").alias(id_col),
                         F.col("__cell").alias("cell")))
    return finalize_release(survivors, qdf)


def semantic_dedup_incremental(batch: DataFrame, history: DataFrame,
                               n_cells: int = 8,
                               threshold_millis: int = 950,
                               dim: int = 64, id_col: str = "vec_id",
                               vec_col: str = "embedding",
                               intra_batch: bool = True) -> DataFrame:
    """Arrival-time SemDeDup: prune an arriving ``batch`` against the
    accepted ``history`` (and against itself) — the incremental
    companion of :func:`semantic_dedup`, mirroring what
    :func:`incremental_new_docs` does for exact dedup.  A batch
    document is dropped iff some history document OR (with
    ``intra_batch=True``, the default) some smaller-id batch-mate sits
    within ε in its cell; history is never dropped.
    ``intra_batch=False`` is the SEMANTIC-DECONTAMINATION mode: only
    history (the benchmark set) disqualifies — batch-internal
    similarity is not leakage and must not prune training docs.

    The codebook comes from HISTORY ONLY (the ``n_cells`` smallest
    ``(md5(id), id)`` history vectors, int8-quantized) — the
    incremental contract: cell boundaries don't drift as batches
    arrive, so yesterday's survivors stay comparable to today's.
    Ids must be disjoint across batch and history (same contract as
    every id-keyed incremental operator here).

    Returns ``(vec_id, cell)`` for surviving BATCH documents.

    Scale shape: identical to :func:`semantic_dedup` (anchor scan →
    blocked GEMM → one distinct + one anti join) with the GEMM run
    once over the unioned corpus per cell; history rows add to cell
    size, so the same n_cells ∝ √N discipline applies to history
    growth.

    Runs under the same stats-sized pinned width as
    :func:`semantic_dedup` (round-7), sized from the unioned
    batch+history corpus."""
    from ..functions.layout import pinned_shuffle, plan_width

    both = (ensure_parallelism(history)
            .select(F.col(id_col), F.col(vec_col),
                    F.lit(True).alias("__hist"))
            .unionByName(
                ensure_parallelism(batch)
                .select(F.col(id_col), F.col(vec_col),
                        F.lit(False).alias("__hist"))))
    with pinned_shuffle(both.sparkSession, plan_width(both, floor=8)):
        return _semantic_dedup_inc_build(both, n_cells, threshold_millis,
                                         dim, id_col, vec_col,
                                         intra_batch)


def _semantic_dedup_inc_build(both: DataFrame, n_cells: int,
                              threshold_millis: int, dim: int,
                              id_col: str, vec_col: str,
                              intra_batch: bool) -> DataFrame:
    x = F.col(vec_col)
    maxabs = F.array_max(F.transform(x, lambda e: F.abs(e.cast("double"))))
    q8 = F.transform(
        x, lambda e: F.when(F.col("m") == 0.0, F.lit(0).cast("long"))
        .otherwise(F.floor(e.cast("double") * 127.0 / F.col("m"))
                   .cast("long")))
    qdf = (both.withColumn("m", maxabs)
           .select(F.col(id_col), F.col(vec_col), "__hist",
                   q8.alias("q")).cache())
    hx = F.md5(F.col(id_col).cast("string"))
    anchors = [list(r["q"]) for r in
               sorted(qdf.where("__hist")
                      .orderBy(hx, F.col(id_col)).limit(n_cells)
                      .select(hx.alias("hx"), F.col(id_col), "q").collect(),
                      key=lambda r: (r["hx"], r[id_col]))]
    if anchors and len(anchors[0]) != dim:
        raise ValueError(  # see semantic_dedup — fail fast on mismatch
            f"semantic_dedup_incremental: dim={dim} but '{vec_col}' "
            f"vectors have {len(anchors[0])} components")

    # constant-folded anchor literal + in-plan argmin (full L2 — same
    # argmin/ties as the Σa²−2Σqa shortcut, see semantic_dedup): byte-
    # stable generated code, no per-run Janino recompile (round-10)
    from .clustering import _best_struct_sql

    cell = F.expr(f"({_best_struct_sql(anchors)}).r") if anchors \
        else F.lit(None).cast("int")
    with_cell = qdf.select(F.col(id_col).alias("vec_id"),
                           F.col(vec_col).alias("embedding"),
                           F.col("__hist"), cell.alias("__cell"))
    # both sides' history/batch role rides the rescore join via
    # passthrough — the pre-round-11 shape paid two more broadcast
    # joins here (role-tag id_a, role-tag id_b) plus their barriers;
    # now the GEMM+rescore stage emits (pair, __hist_a, __hist_b)
    # directly and the only steps left are the removal-rule projection
    # and one anti join
    pairs = cosine_near_dup_pairs(
        with_cell.select("vec_id", "embedding", "__cell", "__hist"),
        block_col="__cell", threshold_millis=threshold_millis,
        passthrough=("__hist",))
    # removal rules on canonical (id_a < id_b) pairs: a batch doc near
    # ANY history doc drops (whichever side it canonicalized to); a
    # batch-batch pair drops the larger id; history-history is ignored
    rm = (F.when(F.col("__hist_a") & ~F.col("__hist_b"), F.col("id_b"))
          .when(~F.col("__hist_a") & F.col("__hist_b"), F.col("id_a")))
    if intra_batch:
        rm = rm.when(~F.col("__hist_a") & ~F.col("__hist_b"),
                     F.col("id_b"))
    removed = (pairs.select(rm.alias("vec_id"))
               .where(F.col("vec_id").isNotNull()).distinct())
    survivors = (with_cell.where(~F.col("__hist"))
                 .join(_gated_broadcast(removed, qdf),
                       "vec_id", "left_anti")
                 .select(F.col("vec_id").alias(id_col),
                         F.col("__cell").alias("cell")))
    return finalize_release(survivors, qdf)


def dedup_chunks(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", chunk_words: int = 4) -> DataFrame:
    """Segment-level exact dedup (the C4/RefinedWeb "remove repeated
    lines across documents" pass, adapted to unpunctuated corpora):
    split each document into fixed ``chunk_words``-word segments, keep
    only the globally-first occurrence of each distinct segment (first
    by (id, position)), and reassemble the survivors in document order.

    Output: one row per document that retains ≥1 segment —
    (id, clean_text, n_kept, n_chunks).

    Scale shape (round-11): two shuffles total, ONE evaluation of the
    segment stream, ONE corpus scan.  Segmentation itself is NARROW —
    the word array is sliced into chunks with array HOFs (transform +
    slice), no explode-then-regroup shuffle.  The globally-first
    occurrence is a ``row_number() = 1`` over the chunk partition (one
    exchange of the segment rows — exactly the rows the previous
    groupBy+join-back shape ALSO shipped to the chunk partition, so
    the hot-segment skew exposure is unchanged, but the explode is no
    longer evaluated twice and the min-struct join back is gone);
    survivors shuffle once on the id for reassembly.  ``n_chunks``
    rides the segment rows (8 bytes each) instead of re-scanning and
    re-joining the corpus.  No driver-side state."""
    words = F.split(F.col(text_col), " ")
    n_chunks_col = F.ceil(F.size(words) / F.lit(chunk_words)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks_col - 1),
        lambda i: F.array_join(
            F.slice(words, i * chunk_words + 1, chunk_words), " "))
    seg = (docs.select(id_col,
                       n_chunks_col.cast("bigint").alias("n_chunks"),
                       F.posexplode(chunks).alias("chunk_idx", "chunk"))
           .withColumn("chunk_idx", F.col("chunk_idx").cast("bigint")))
    w = Window.partitionBy("chunk").orderBy(id_col, "chunk_idx")
    kept = (seg.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1))
    return (kept.groupBy(id_col)
            .agg(F.array_join(
                F.transform(F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk"))),
                            lambda x: x["chunk"]), " ").alias("clean_text"),
                F.count("*").alias("n_kept"),
                F.first("n_chunks").alias("n_chunks")))


@_pinned_by_stats
def source_minhash_similarity(docs: DataFrame, n_hashes: int = 16,
                              group_col: str = "source",
                              text_col: str = "text",
                              n: int = 3) -> DataFrame:
    """Corpus-level overlap matrix: estimated shingle-Jaccard between
    every pair of document groups (sources/dumps/snapshots) from
    group-level MinHash signatures — the "how much does crawl A overlap
    crawl B" dashboard number that decides what to deduplicate against
    what.

    Uses the same engine-portable md5 hash family as
    :func:`minhash_exact_pairs`, so signatures — and therefore the
    estimate itself — are bit-identical cross-engine and the whole
    operator is SQL-oracle-checkable.  ``jaccard_est = n_match /
    n_hashes``; with n_hashes a power of two the division is exact in
    binary floating point.

    Scale shape: one explode to (group, shingle-hash) distinct
    [shuffle keyed by group+hash — uniform], K min-aggregates per
    group with map-side combine [one more exchange on |groups| keys],
    then a pair join over the |groups|-row signature table.  The
    distinct is keyed on a FIXED-WIDTH 16-hex-char md5 prefix of the
    shingle, not the shingle string itself (round-8: the exchange
    carried ~40 B shingle strings where 16 B keys suffice — same md5
    family as :func:`minhash_exact_pairs`, so the DuckDB oracle stays
    bit-identical), and the signature hashes chain off that prefix —
    min-hashing a uniformly-hashed image of the shingle set estimates
    the same Jaccard.  The pair join is quadratic in |groups| — the
    contract is a bounded catalog of sources (dumps, crawls),
    thousands at most, NOT per-document grouping; for per-document
    near-dup use the banded :func:`minhash_exact_pairs`."""
    # the md5 + explode + partial-distinct map stage is the CPU of the
    # whole operator and its parallelism comes from the SOURCE layout
    # (round-8: a single-row-group parquet ran it on one core — most
    # of the 2.8 s wall; 0.96 s once spread across the session)
    docs = ensure_parallelism(docs)
    sh = (docs.select(F.col(group_col).alias("g"),
                      F.explode(F.array_distinct(
                          shingles(F.col(text_col), n))).alias("sh0"))
          .select("g", F.substring(F.md5(F.col("sh0")), 1, 16).alias("sh"))
          .distinct())
    sigs = sh.groupBy("g").agg(*[
        F.min(F.md5(F.concat(F.lit(str(s)), F.lit("|"), F.col("sh"))))
        .alias(f"mh{s}") for s in range(n_hashes)]).cache()
    a, b = sigs.alias("a"), sigs.alias("b")
    n_match = None
    for s in range(n_hashes):
        t = F.when(F.col(f"a.mh{s}") == F.col(f"b.mh{s}"), 1).otherwise(0)
        n_match = t if n_match is None else n_match + t
    out = (a.join(b, F.col("a.g") < F.col("b.g"))
           .select(F.col("a.g").alias("src_a"), F.col("b.g").alias("src_b"),
                   n_match.cast("int").alias("n_match"),
                   (n_match.cast("double") / n_hashes)
                   .alias("jaccard_est")))
    # the signature table feeds both self-join branches: cache it for
    # the computation, release via the checkpoint barrier
    return finalize_release(out, sigs)


def repeated_ngram_spans(docs: DataFrame, n: int = 5, min_docs: int = 2,
                         text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Cross-document repeated token n-gram spans — the memorization
    signal of Lee et al. (ACL 2022, "Deduplicating Training Data Makes
    Language Models Better"): a span appearing verbatim in many
    documents (boilerplate, licenses, templates) is exactly what a
    model memorizes, and exactly what near-dup DOCUMENT dedup misses
    when the hosts differ everywhere else.

    Returns (span, n_docs, n_occurrences) for every n-token span
    occurring in ≥ ``min_docs`` distinct documents.

    Scale shape: the span stream is a narrow per-doc fan-out (|tokens|
    rows per doc, no self-join); the stats are ONE groupBy with
    map-side combining plus Spark's distinct-count expansion for
    n_docs.  No candidate-pair stage at all — span identity IS the
    join key, so the quadratic trap of pairwise dedup never appears.
    Runs (and materializes) under a stats-sized pinned width (round-7,
    the `_pinned_by_stats` discipline — applied by hand here because
    the plan tests assert on the lazy ``_repeated_spans_build``)."""
    from ..functions.layout import pinned_shuffle, plan_width

    with pinned_shuffle(docs.sparkSession, plan_width(docs, floor=8)):
        return finalize_release(
            _repeated_spans_build(docs, n, min_docs, text_col, id_col))


def _span_grams(docs: DataFrame, n: int, text_col: str,
                id_col: str) -> DataFrame:
    """(id, span) stream — the shared narrow fan-out of the two
    repeated-span operators."""
    return docs.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__ts")).select(
        F.col(id_col),
        F.explode(F.expr(
            f"CASE WHEN size(__ts) < {n} THEN array() ELSE "
            f"transform(sequence(0, size(__ts) - {n}), "
            f"i -> concat_ws(' ', slice(__ts, i + 1, {n}))) END"))
        .alias("span"))


def _span_gram_hashes(docs: DataFrame, n: int, text_col: str,
                      id_col: str) -> DataFrame:
    """(id, h1, h2) stream — :func:`_span_grams` with the span
    collapsed to TWO 60-bit bigint keys from DISJOINT md5 halves
    (hex digits 1-15 and 17-31) inside the same codegen stage (the
    span string and the md5 hex exist only transiently before the
    first exchange, never in a shuffled row).

    Why two halves (round-9 advice): a single 60-bit key is
    collision-safe at test scale but at the 100 TB corpus this targets
    (>> 2^30 distinct spans) birthday collisions become routine and
    would silently mark colliding singleton spans as repeated.  The
    combined 120-bit key pushes the expected first collision past
    2^60 spans; cost is +8 bytes per shuffled row.  Both halves are
    plain substrings of one md5, so the DuckDB oracle computes the
    IDENTICAL keys and the check stays bit-exact."""
    return docs.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__ts")).select(
        F.col(id_col),
        F.explode(F.expr(
            f"CASE WHEN size(__ts) < {n} THEN array() ELSE "
            f"transform(sequence(0, size(__ts) - {n}), "
            f"i -> md5(concat_ws(' ', slice(__ts, i + 1, {n})))) END"))
        .alias("__m")).select(
        F.col(id_col),
        F.expr("cast(conv(substr(__m, 1, 15), 16, 10) AS bigint)")
        .alias("h1"),
        F.expr("cast(conv(substr(__m, 17, 15), 16, 10) AS bigint)")
        .alias("h2"))


def _repeated_spans_build(docs: DataFrame, n: int, min_docs: int,
                          text_col: str, id_col: str) -> DataFrame:
    """Pre-checkpoint pipeline for :func:`repeated_ngram_spans` (plan
    tests assert on this — the public entry localCheckpoints inside
    its pinned scope)."""
    return (_span_grams(docs, n, text_col, id_col).groupBy("span")
            .agg(F.countDistinct(id_col).cast("long").alias("n_docs"),
                 F.count("*").cast("long").alias("n_occurrences"))
            .where(F.col("n_docs") >= min_docs))


def repeated_span_hits(docs: DataFrame, n: int = 5, min_docs: int = 2,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Per-document curation signal from :func:`repeated_ngram_spans`:
    how much of each document is corpus-repeated boilerplate —
    (id, n_spans, n_repeated, repeated_pct as integer percent).

    Round-8 shape — ONE fan-out, hashed keys, co-located stats + probe:
    the previous version called :func:`repeated_ngram_spans` for the
    repeated set and re-ran the whole tokenize+n-gram fan-out a second
    time for the per-doc probe, then equi-joined on ~30-byte span
    STRINGS.  Here the (id, span-hash) stream is built once — spans
    never materialize as strings past the hash expression; the key is
    TWO 60-bit bigints from disjoint md5 halves (120 bits — see
    :func:`_span_gram_hashes` for the corpus-scale collision argument;
    the md5-prefix idiom itself is the same as ``minhash_exact_pairs``/
    ``source_similarity``, so the DuckDB oracle computes the IDENTICAL
    keys and the check stays bit-exact) — then hash-clustered and
    cached, so the
    repeated-set aggregation AND the per-doc probe read the one
    exchange with no further shuffle.

    Round-11 shape (guide §2.1/§1.2): the round-8 version CACHED the
    hashed gram stream and read it twice (repeated-set aggregate +
    join-back probe) — a cache-fill barrier, a corpus-fan-out-sized
    cache, and a shuffle-free-but-still-real sort-merge join.  The two
    reads collapse into ONE single-consumer plan: after the (h1, h2)
    repartition, ``groupBy(h1, h2, id)`` needs no further exchange
    (clustering on a key subset satisfies the aggregate), and on those
    now-distinct (span, doc) rows ``count(*) over (partition by h1,
    h2)`` IS the span's distinct-doc count — the countDistinct
    expansion and the probe join are gone, the fan-out is evaluated
    once with no cache at all, and the final per-doc groupBy is the
    only other exchange.  ``m`` (per-doc occurrences of the span)
    rides the grouped rows so per-doc totals are exact sums."""
    from ..functions.layout import pinned_shuffle, plan_width

    with pinned_shuffle(docs.sparkSession, plan_width(docs, floor=8)):
        per = (_span_gram_hashes(docs, n, text_col, id_col)
               .repartition("h1", "h2")
               .groupBy("h1", "h2", id_col).agg(F.count("*").alias("m")))
        nd = F.count("*").over(Window.partitionBy("h1", "h2"))
        hit = (per.withColumn("nd", nd)
               .groupBy(id_col)
               .agg(F.sum("m").cast("long").alias("n_spans"),
                    F.sum(F.when(F.col("nd") >= min_docs, F.col("m"))
                          .otherwise(F.lit(0))).cast("long")
                    .alias("n_repeated")))
        # integer division (div), not double-divide-then-cast: engines
        # disagree on double->int casts (truncate vs round)
        return finalize_release(hit.select(
            id_col, "n_spans", "n_repeated",
            F.expr("n_repeated * 100 div n_spans").alias("repeated_pct")))


def pair_set_metrics(pred: DataFrame, truth: DataFrame) -> DataFrame:
    """Candidate-pair evaluation — the measurement step of every dedup
    experiment here: compare a PREDICTED pair set (an approximate tier:
    MinHash bands, SimHash bands, LSH, IVF cells) against a TRUTH pair
    set (the exact tier) and return ONE row:

        (n_pred, n_truth, n_hit, n_fp, n_fn)

    Precision = n_hit/n_pred and recall = n_hit/n_truth are the
    consumer's float step (counts stay integer-exact for the oracle).
    Both inputs are deduplicated on canonical (id_a, id_b) first, so
    multiplicity differences between tiers don't skew counts.

    Scale shape: one shuffle full-outer join on the high-entropy pair
    key + one global count aggregate — the same cost class as either
    pair generator's final exchange."""
    p = (pred.select("id_a", "id_b").distinct()
         .withColumn("__p", F.lit(1)))
    t = (truth.select("id_a", "id_b").distinct()
         .withColumn("__t", F.lit(1)))
    j = p.join(t, ["id_a", "id_b"], "full")
    return (j.agg(
        F.sum(F.coalesce("__p", F.lit(0))).cast("long").alias("n_pred"),
        F.sum(F.coalesce("__t", F.lit(0))).cast("long").alias("n_truth"),
        F.sum(F.coalesce("__p", F.lit(0)) * F.coalesce("__t", F.lit(0)))
        .cast("long").alias("n_hit"))
        .select("n_pred", "n_truth", "n_hit",
                (F.col("n_pred") - F.col("n_hit")).alias("n_fp"),
                (F.col("n_truth") - F.col("n_hit")).alias("n_fn")))


def paragraph_dedup(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    sep: str = "\n\n") -> DataFrame:
    """X101: corpus-wide duplicate-PARAGRAPH removal — the CCNet
    boilerplate pass (Wenzek et al., LREC 2020): a paragraph that
    appears anywhere else in the corpus keeps only its FIRST
    occurrence (smallest (doc, position)); every later copy is cut and
    each document is reassembled from its surviving paragraphs in
    order.  This is the tier between document-level exact dedup
    (:func:`dedup_exact` — whole-text key) and span-level analysis
    (:func:`repeated_ngram_spans` — report, not rewrite): headers,
    navigation chrome, and licence blocks vanish corpus-wide while
    each document survives.

    First-occurrence is decided on the md5 of the NORMALIZED paragraph
    (:func:`~.text.normalize_text` — case/whitespace-canonical), so
    trivially-reformatted copies dedup too; the surviving text keeps
    its original form.

    Returns (id, n_paras, n_kept, text) — text rebuilt with ``sep``;
    documents whose every paragraph was cut return an empty string
    (drop downstream if unwanted — the row itself is evidence).

    Scale shape: explode to (fp, doc, pos) and resolve each
    fingerprint's global minimum (doc, pos) with ONE
    map-side-combining groupBy on the fingerprint key (min over a
    packed struct — no window, no self-join); survivors join back
    fp-keyed (the exploded stream is already laid out on fp from the
    aggregate — exchange reuse), then one groupBy(doc) rebuilds the
    text via ordered listagg.  Hot fingerprints (the boilerplate being
    removed!) combine map-side, so the shuffle carries ≤ |distinct
    paragraphs| rows per map task, not the duplication mass."""
    from .text import normalize_text

    paras = (docs.select(F.col(id_col).alias("i"),
                         F.posexplode(F.split(F.col(text_col), sep))
                         .alias("pos", "para"))
             .where(F.trim(F.col("para")) != "")
             .withColumn("fp", F.md5(normalize_text(F.col("para")))))
    # global first occurrence per fingerprint: min over the packed
    # (doc, pos) struct — struct comparison is lexicographic, exactly
    # the (doc asc, pos asc) rule
    firsts = (paras.groupBy("fp")
              .agg(F.min(F.struct(F.col("i").alias("fi"),
                                  F.col("pos").alias("fpos")))
                   .alias("first")))
    kept = (paras.join(firsts, "fp")
            .withColumn("__keep", (F.col("i") == F.col("first.fi"))
                        & (F.col("pos") == F.col("first.fpos"))))
    return (kept.groupBy(F.col("i").alias(id_col))
            .agg(F.count("*").alias("n_paras"),
                 F.sum(F.col("__keep").cast("long")).alias("n_kept"),
                 F.array_join(F.array_sort(F.collect_list(
                     F.when(F.col("__keep"), F.struct(
                         F.col("pos").alias("p"),
                         F.col("para").alias("v"))))).getField("v"),
                     sep).alias(text_col)))


def template_clusters(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      min_docs: int = 2) -> DataFrame:
    """X103: templated-document clustering — group documents that are
    the SAME template instantiated with different entities (log lines,
    order confirmations, stub pages, weather reports): numbers, hex
    runs, emails and URLs normalize to fixed placeholders, whitespace
    and case canonicalize, and documents sharing the resulting
    template fingerprint form a cluster.  The tier between exact dedup
    (:func:`dedup_exact` — byte-identical content only) and MinHash
    (:func:`minhash_exact_pairs` — token-overlap similarity, which
    templated docs can EVADE when the entity mass outweighs the
    template mass).

    Returns one row per template cluster with ≥ ``min_docs`` members:
    (template_fp, n_docs, min_id, max_id, sample) — ``sample`` is the
    min-id member's NORMALIZED template string (the human-readable
    "what is this boilerplate" evidence).

    Scale shape: narrow normalize map (k fixed regexp passes, codegen)
    + ONE map-side-combining groupBy on the fingerprint; min/max/
    min-by aggregates — no window, no join, no explode."""
    t0 = F.lower(F.col(text_col))
    # order matters: URLs before hex/number (a URL contains both),
    # emails before numbers (the local part may be numeric)
    t1 = F.regexp_replace(t0, r"[a-z][a-z0-9+.-]*://[^\s]+", "<url>")
    t2 = F.regexp_replace(t1, r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}",
                          "<email>")
    t3 = F.regexp_replace(t2, r"\b0x[0-9a-f]+\b", "<hex>")
    t4 = F.regexp_replace(t3, r"\b[0-9]+\b", "<num>")
    norm = F.trim(F.regexp_replace(t4, r"\s+", " "))
    keyed = docs.select(F.col(id_col).alias("i"), norm.alias("tpl"))
    return (keyed.withColumn("template_fp", F.md5("tpl"))
            .groupBy("template_fp")
            .agg(F.count("*").alias("n_docs"),
                 F.min("i").alias("min_id"),
                 F.max("i").alias("max_id"),
                 F.min_by("tpl", F.col("i")).alias("sample"))
            .where(F.col("n_docs") >= min_docs))
