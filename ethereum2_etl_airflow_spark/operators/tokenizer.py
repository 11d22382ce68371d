"""Distributed BPE tokenizer training + application — the tokenizer
HALF of a pretraining pipeline (`operators/text.py` counts tokens with
a fixed regex; this module LEARNS the vocabulary).

Textbook byte-pair encoding (Sennrich et al., ACL 2016), distributed
the way it actually scales:

- Training never touches the corpus after one pass: the corpus
  collapses to a DISTINCT (word, freq) table (vocabulary-bounded —
  millions of rows for a 100 TB corpus, not trillions), and every merge
  round runs over that table alone.
- Each round is: adjacent-pair counts (one explode + one map-side-
  combining groupBy), a 1-ROW collect of the argmax pair (bounded
  driver state, like the binning cutpoints precedent), and a narrow
  ``aggregate``-lambda rewrite of the symbol arrays.  ``localCheckpoint``
  per round bounds lineage exactly like
  :func:`..operators.graph.pagerank_int`.
- Encoding broadcasts the learned merge list and applies it in an
  Arrow-batched ``mapInPandas`` kernel with per-batch word memoization
  — the corpus-sized stage is one narrow Python pass, no shuffle.

Determinism: the argmax pair breaks ties by (count desc, a asc, b asc),
so training is reproducible on any engine/partitioning; the pytest
suite asserts EXACT equality with a pure-Python reference BPE trainer.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, functions as F

__all__ = ["word_freqs", "bpe_pair_counts", "bpe_train", "bpe_encode"]


def word_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over the corpus — BPE's sufficient statistic.  One
    explode + one combining groupBy; everything downstream is bounded
    by |vocab|, not |corpus|."""
    from .text import tokens

    return (docs.select(F.explode(tokens(F.col(text_col))).alias("word"))
            .groupBy("word").agg(F.count("*").alias("freq")))


_CHARS = "transform(sequence(1, length(word)), i -> substring(word, i, 1))"

_PAIRS = ("CASE WHEN size(syms) < 2 THEN array() ELSE "
          "transform(sequence(0, size(syms) - 2), "
          "i -> struct(syms[i] AS a, syms[i + 1] AS b)) END")


def _with_syms(words: DataFrame) -> DataFrame:
    return words.select("word", "freq", F.expr(_CHARS).alias("syms"))


def bpe_pair_counts(words_or_docs: DataFrame,
                    text_col: str = "text") -> DataFrame:
    """Frequency-weighted adjacent symbol-pair counts at round 0
    (symbols = characters) — the statistic each BPE round maximizes.
    Accepts a documents table (computes :func:`word_freqs` first) or a
    pre-split (word, freq, syms) table."""
    df = words_or_docs
    if "syms" not in df.columns:
        if "freq" not in df.columns:
            df = word_freqs(df, text_col)
        df = _with_syms(df)
    return (df.select("freq", F.explode(F.expr(_PAIRS)).alias("p"))
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").cast("long").alias("cnt")))


def _sql_quote(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _merge_expr(a: str, b: str, src: str = "syms") -> str:
    """Left-to-right non-overlapping replacement of adjacent (a, b)
    with a||b, as a pure ``aggregate`` lambda over the symbol array —
    the textbook merge semantics, zero Python in the plan.  ``src`` is
    the input array expression, so successive merges can NEST (one
    projection applies a whole batch in order) instead of paying a
    checkpoint round per merge."""
    qa, qb = _sql_quote(a), _sql_quote(b),
    qab = _sql_quote(a + b)
    return f"""aggregate(
      {src},
      named_struct('acc', cast(array() as array<string>),
                   'pend', cast(null as string)),
      (st, x) -> CASE
        WHEN st.pend IS NULL THEN named_struct('acc', st.acc, 'pend', x)
        WHEN st.pend = {qa} AND x = {qb} THEN
          named_struct('acc', concat(st.acc, array({qab})),
                       'pend', cast(null as string))
        ELSE named_struct('acc', concat(st.acc, array(st.pend)), 'pend', x)
      END,
      st -> CASE WHEN st.pend IS NULL THEN st.acc
                 ELSE concat(st.acc, array(st.pend)) END)"""


def _safe_merge_batch(rows, full: bool, cap: int,
                      prior: frozenset = frozenset()) -> list:
    """The maximal PREFIX of ``rows`` (pair counts sorted by
    ``(cnt DESC, a, b)``) that provably equals sequential BPE's next
    merges — so batching changes the round count, never the merge
    list (the oracle and the pure-Python property test stay valid
    verbatim).  ``prior`` is the set of concat strings of every merge
    from EARLIER rounds — the exact vocabulary of multi-char symbols
    (the initial alphabet is single characters, so a string of length
    ≥ 2 is a live symbol iff some past merge created it).

    Soundness argument (why sequential's argmax at sub-step j is
    exactly ``accepted[j]``):

    - accepted pairs are mutually disjoint in symbols AND no accepted
      symbol equals another accepted pair's concatenation, so applying
      ``accepted[0..j-1]`` leaves every accepted count unchanged;
    - any pair whose count CAN change (it shares a symbol with an
      accepted pair, or gains occurrences because its symbol string
      equals an accepted concatenation) cannot rank before the first
      conflict — it would have been accepted, contradicting
      disjointness — so its pre-count is ≤ ``bound`` (the count at the
      first conflicting row, or the B-th row's count when all B
      scanned rows are clean and deeper pairs are unseen);
    - FRESH case (every accepted concat ``a+b`` is pairwise distinct
      and ∉ ``prior``, i.e. the symbol does not yet exist): a pair
      containing the new symbol ``ab`` had pre-count 0, and every
      post-occurrence of ``(x, ab)`` / ``(ab, y)`` / ``(ab, cd)`` is
      the image of exactly ONE pre-pair — ``(x, a)`` / ``(b, y)`` /
      ``(b, c)`` — always a pair SHARING A SYMBOL with the creating
      merge; pairs without a new symbol can only lose occurrences
      (and conflicting rows all rank below every accepted row, so a
      decreasing pair never overtakes by tie-break).  The gain cap of
      merge i is therefore ``cap_i`` = the largest count among
      scanned rows sharing a symbol with accepted[i] (its only gain
      channels), or the scan horizon when no channel was scanned —
      usually FAR below the first-conflict count, which is what lets
      near-tied but symbol-disjoint pairs batch.  accepted[j] is safe
      iff its count strictly exceeds ``max(cap_0..cap_{j-1})``;
    - otherwise (an accepted concat re-creates an existing symbol, or
      two accepted concats collide): each accepted merge adds at most
      ``bound`` occurrences to any pair, so post-counts are ≤
      (m+1)·bound for m accepted merges and the conservative
      ``cnt > (m+1)·bound`` margin applies (on tie-heavy counts this
      degenerates to 1 merge/round — correct: batching ties without a
      proven margin is unsound);
    - unchanged lower-ranked pairs lose by the original (cnt, a, b)
      order, ties included.  The truncation below enforces exactly
      that.
    """
    accepted = [rows[0]]
    syms = {rows[0]["a"], rows[0]["b"]}
    concats = {rows[0]["a"] + rows[0]["b"]}
    bound = None
    for r in rows[1:]:
        if (r["cnt"] < 2
                or r["a"] in syms or r["b"] in syms
                or r["a"] in concats or r["b"] in concats
                or (r["a"] + r["b"]) in syms):
            bound = r["cnt"]
            break
        accepted.append(r)
        syms.update((r["a"], r["b"]))
        concats.add(r["a"] + r["b"])
    if bound is None:
        # scanned every collected row clean: deeper (unseen) pairs
        # exist only if the limit was actually filled
        bound = rows[-1]["cnt"] if full else 0
    m = len(accepted)
    all_fresh = (len(concats) == m  # pairwise distinct concats
                 and not (concats & prior))
    keep = accepted[:1]
    if all_fresh:
        horizon = rows[-1]["cnt"] if full else 0
        gain_caps = []
        for acc in accepted:
            ch = {acc["a"], acc["b"]}
            # A self-merge (a == b) is its OWN gain channel: rewriting
            # a run like 'aaaa' under merge (a,a) creates (aa,aa)
            # occurrences whose post-count is bounded by the merge's
            # own pre-count — the `r is not acc` exclusion below must
            # not hide that channel, so seed the cap with acc's count.
            own = [acc["cnt"]] if acc["a"] == acc["b"] else []
            gain_caps.append(max(
                [r["cnt"] for r in rows
                 if r is not acc and (r["a"] in ch or r["b"] in ch)]
                + [horizon] + own))
        thr = 0
        for j in range(1, m):
            thr = max(thr, gain_caps[j - 1])
            if accepted[j]["cnt"] > thr:
                keep.append(accepted[j])
            else:
                break
    else:
        for r in accepted[1:]:
            if r["cnt"] > (m + 1) * bound:
                keep.append(r)
            else:
                break
    return keep[:cap]


def bpe_train(docs: DataFrame, n_merges: int = 20,
              text_col: str = "text",
              batch: int = 12) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from the corpus; returns the
    rank-ordered merge list [(a, b), ...] — BIT-IDENTICAL to the
    sequential textbook trainer for any ``batch`` (property-tested
    against a pure-Python reference).

    Each round is one combining pair-count aggregate, ONE bounded
    collect of the top-``3·batch`` pairs (TakeOrderedAndProject), and
    one rewrite projection applying every provably-safe merge of the
    batch (:func:`_safe_merge_batch` — symbol-disjoint prefix with a
    strict count margin over anything the earlier merges of the batch
    could create).  Scanning 3× past the wanted batch matters on
    tie-heavy natural-text counts: the safety margin ``bound`` is the
    count at the first conflict OR at the scan horizon, so a deeper
    scan both finds more clean rows and PROVES a lower bound for the
    unseen tail — round-6 measured the 12-merge check paying ~10
    driver round-trips because a batch-sized scan degenerated to 1
    merge/round (correctly: batching ties without margin is unsound).
    The deeper scan costs nothing extra — the collect is the same
    TakeOrdered job, just 3·batch rows instead of batch.  The wall at
    moderate vocab sizes is driver round-trips and per-partition
    shuffle fixed costs, not counting work, so the loop (a) runs under
    a :func:`..functions.layout.pinned_shuffle` width sized from the
    vocab table's own plan stats — a 31-row vocab does not pay
    64-partition shuffles × rounds, a 100 TB-corpus vocab keeps the
    session width — and (b) cuts lineage with ``localCheckpoint``
    every 4 rounds instead of every round (between cuts a round is ONE
    job; lineage stays bounded at 4 narrow rewrites).  Measured at
    sf0.1: 3.8 s → 2.2-2.4 s for the 12-merge check.  Driver state stays bounded:
    ``batch`` rows per round.  Stops early when no pair repeats."""
    from ..functions.layout import pinned_shuffle, plan_width
    from .graph import _release_round_blocks

    base = _with_syms(word_freqs(docs, text_col))
    width = plan_width(base, floor=1)
    merges: list[tuple[str, str]] = []
    # AQE off: with the width already stats-sized, AQE's
    # per-stage materialize→re-optimize adds only latency × rounds
    with pinned_shuffle(docs.sparkSession, width):
        syms = base.localCheckpoint(eager=True)
        pending = 0  # rewrites since the last lineage cut
        # tie margin — see docstring.  (Round-12 measured rejection: an
        # 8× scan was tried — the safe-prefix rule is depth-agnostic so
        # it could only help — and the sf0.1 12-merge check still took
        # 6 driver rounds with an identical merge list: the batching
        # conservatism is tie-density-bound, not horizon-bound.)
        scan = 3 * max(batch, 1)
        while len(merges) < n_merges:
            rows = (bpe_pair_counts(syms)
                    .orderBy(F.col("cnt").desc(), "a", "b")
                    .limit(scan).collect())
            if not rows or rows[0]["cnt"] < 2:
                break
            take = _safe_merge_batch(
                rows, full=len(rows) == scan,
                cap=n_merges - len(merges),
                prior=frozenset(a + b for a, b in merges))
            merges.extend((r["a"], r["b"]) for r in take)
            expr = "syms"
            for r in take:  # nest the batch IN ORDER — one projection
                expr = _merge_expr(r["a"], r["b"], src=expr)
            syms = syms.select("word", "freq", F.expr(expr).alias("syms"))
            pending += 1
            # cut lineage only when another round will actually read
            # syms — a cut after the final merge would be a wasted job
            if pending >= 4 and len(merges) < n_merges:
                syms = syms.localCheckpoint(eager=True)
                pending = 0
                # free the previous cut's checkpoint blocks (see
                # operators.graph._release_round_blocks)
                _release_round_blocks()
    return merges


def bpe_encode(docs: DataFrame, merges: list[tuple[str, str]],
               text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Apply a learned merge list to the corpus: (id, n_tokens,
    n_pieces, pieces) per document, where ``pieces`` concatenates the
    BPE segmentation of every token.

    The merge list broadcasts with the serialized kernel; distinct
    words within an Arrow batch are encoded once (memo dict), so the
    per-batch cost tracks unique words, not token occurrences.  The
    output id column keeps ``id_col``'s name and input type (string
    ids work).  ``encode_word`` is the textbook O(L²)-per-unique-word
    scan — the memo makes it irrelevant at natural-language word
    lengths; if encode ever dominates (long agglutinative tokens, no
    pre-split), the heap/linked-list merge is the O(L log L) upgrade."""
    import pandas as pd

    from pyspark.sql import types as T

    from .text import WORD_RE

    import re

    word_re = re.compile(WORD_RE)
    ranks = {pair: i for i, pair in enumerate(merges)}

    def encode_word(w: str) -> list[str]:
        syms = list(w)
        # textbook encode: repeatedly merge the lowest-rank adjacent
        # pair until none applies (equivalent to replaying merges in
        # rank order)
        while len(syms) > 1:
            best_rank, best_i = None, None
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_i = r, i
            if best_i is None:
                break
            syms[best_i:best_i + 2] = [syms[best_i] + syms[best_i + 1]]
        return syms

    # id field named after id_col and typed from the input schema, so a
    # renamed or string id column round-trips instead of breaking on a
    # hardcoded doc_id:LongType + int() cast
    schema = T.StructType([
        T.StructField(id_col, docs.schema[id_col].dataType),
        T.StructField("n_tokens", T.IntegerType()),
        T.StructField("n_pieces", T.IntegerType()),
        T.StructField("pieces", T.ArrayType(T.StringType())),
    ])

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        memo: dict[str, list[str]] = {}
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                words = word_re.findall((text or "").lower())
                pieces: list[str] = []
                for w in words:
                    enc = memo.get(w)
                    if enc is None:
                        enc = memo[w] = encode_word(w)
                    pieces.extend(enc)
                out.append((doc_id, len(words), len(pieces), pieces))
            yield pd.DataFrame(out, columns=[f.name for f in schema.fields])

    return docs.select(id_col, text_col).mapInPandas(run, schema=schema)
