"""Text-analysis operators for LLM training-data pipelines (SURVEY §2.9 X4
+ BASELINE.json mandate: language-ID, quality scoring, token counting,
document fingerprinting).

All hot-path logic is JVM-side column expressions (regexp/hash built-ins,
whole-stage codegen) — no Python UDFs, so a 100 TB documents table scans
at parquet speed with these as pure map operators (no shuffle except the
final group-bys, which partial-aggregate map-side).

Determinism: token/stopword counts are integers; ratios are surfaced as
integer numerators/denominators or integer-bucketed scores so oracle
hashes can't drift on float division.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

__all__ = [
    "WORD_RE", "BPE_RE", "tokens", "token_count", "bpe_token_count",
    "normalize_text", "fingerprint", "lang_scores", "lang_id",
    "quality_features", "text_stats", "repetition_stats",
    "register_split_sentences_udtf",
    "ngram_novelty",
    "compression_ratio",
    "gopher_filter", "gopher_verdict", "inverted_postings",
    "skipgram_counts",
    "winnow_fingerprints", "bm25_topk", "impact_postings",
    "bm25_topk_from_index", "best_passages", "expand_queries",
    "script_mix", "html_extract", "markdown_extract",
]

# word tokens: runs of alphanumerics (RE2- and Java-regex-identical)
WORD_RE = "[A-Za-z0-9]+"
# BPE-ish pre-tokenizer: letter runs | digit runs | single punctuation
BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

#: tiny per-language stopword sets for the n-gram/stopword heuristic
LANG_STOPWORDS = {
    "en": ["the", "a", "of", "and", "is"],
    "de": ["der", "die", "das", "und", "ist"],
    "es": ["el", "la", "los", "y", "es"],
    "fr": ["le", "la", "les", "et", "est"],
}
#: deterministic priority order for arg-max ties
LANG_PRIORITY = ["en", "de", "es", "fr"]


def tokens(col: Column | str) -> Column:
    """Word tokens (lowercased).  NULL text tokenizes as empty — the
    downstream contract every consumer assumes: without the coalesce,
    ``size(regexp_extract_all(NULL))`` is -1 under Spark's legacy
    sizeOfNull, and a -1 token count silently poisons ratios, quotas,
    and packing budgets (found by the pathological-input sweep)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(F.coalesce(c, F.lit(""))),
                                F.lit(WORD_RE), 0)


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def bpe_token_count(col: Column | str) -> Column:
    """BPE-ish pre-tokenization count — the standard proxy for LLM token
    budgeting when the real tokenizer isn't in the cluster image.  NULL
    text counts 0 (same contract as :func:`token_count`)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(F.coalesce(c, F.lit("")),
                                       F.lit(BPE_RE), 0))


def normalize_text(col: Column | str) -> Column:
    """Canonical form for content fingerprinting: lowercase + collapsed
    whitespace + trimmed."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), "\\s+", " "))


def fingerprint(col: Column | str) -> Column:
    """Content-defined document fingerprint: sha256 over the normalized
    text.  Equal fingerprints ⇔ equal canonical content — the join key for
    exact dedup across shards at any scale."""
    return F.sha2(normalize_text(col), 256)


def _stop_hits(col: Column | str, words: list[str]) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    pat = "\\b(" + "|".join(words) + ")\\b"
    return F.size(F.regexp_extract_all(F.lower(c), F.lit(pat), 0))


def lang_scores(col: Column | str) -> dict[str, Column]:
    """Per-language stopword-hit counts (integer scores)."""
    return {lang: _stop_hits(col, ws) for lang, ws in LANG_STOPWORDS.items()}


def lang_id(col: Column | str) -> Column:
    """Heuristic language ID: arg-max of stopword hits with deterministic
    priority ties; 'und' (undetermined) when nothing matches."""
    scores = lang_scores(col)
    best = F.greatest(*[scores[lang] for lang in LANG_PRIORITY])
    out = F.lit("und")
    # walk priority in reverse so earlier languages win equal scores
    for lang in reversed(LANG_PRIORITY):
        out = F.when((scores[lang] > 0) & (scores[lang] == best), F.lit(lang)) \
               .otherwise(out)
    return out


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring features, all integer-domain:

    - n_chars / n_tokens / n_bpe_tokens / n_punct
    - stop_hits (any language)
    - quality_score 0..6: + length in band, + punctuation sane,
      + has stopwords, + mean word length in band (integer math)
    """
    c = F.col(text_col)
    n_chars = F.length(c)
    n_tokens = token_count(c)
    n_punct = F.size(F.regexp_extract_all(c, F.lit("[^A-Za-z0-9\\s]"), 0))
    all_stop = _stop_hits(c, sorted({w for ws in LANG_STOPWORDS.values() for w in ws}))
    score = (
        F.when((n_tokens >= 10) & (n_tokens <= 100000), 2).otherwise(0)
        + F.when(n_punct * 5 <= n_chars, 1).otherwise(0)
        + F.when(all_stop > 0, 2).otherwise(0)
        # mean word length in [3, 12): integer cross-multiplication
        + F.when((n_chars >= 3 * n_tokens) & (n_chars < 12 * n_tokens), 1)
        .otherwise(0)
    )
    return df.select(
        "doc_id",
        n_chars.alias("n_chars_c"),
        n_tokens.alias("n_tokens"),
        bpe_token_count(c).alias("n_bpe_tokens"),
        n_punct.alias("n_punct"),
        all_stop.alias("stop_hits"),
        score.cast("int").alias("quality_score"),
    )


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus stats per (lang, source): docs, chars, tokens."""
    return (
        df.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(token_count(text_col)).alias("total_tokens"),
        )
    )


def _mode_count(arr: Column) -> Column:
    """Count of the most frequent element of an array — the longest
    equal-element run of the SORTED array, computed as one per-row
    ``aggregate`` fold (sort order beyond grouping equal elements is
    irrelevant, only run lengths matter).  Empty array → 0.  This is
    the narrow replacement for explode → groupBy(id, term) →
    ``max(count)``: same integer, zero shuffles."""
    return F.aggregate(
        F.array_sort(arr),
        F.struct(F.lit(0).cast("long").alias("best"),
                 F.lit(0).cast("long").alias("cur"),
                 F.lit(None).cast("string").alias("prev")),
        lambda acc, x: F.struct(
            F.greatest(acc["best"],
                       F.when(x.eqNullSafe(acc["prev"]), acc["cur"] + 1)
                       .otherwise(F.lit(1).cast("long"))).alias("best"),
            F.when(x.eqNullSafe(acc["prev"]), acc["cur"] + 1)
            .otherwise(F.lit(1).cast("long")).alias("cur"),
            x.alias("prev")),
        lambda acc: acc["best"])


def _repetition_struct(t: Column) -> Column:
    """The six repetition signals off a BOUND token-array variable (see
    :func:`..functions.let.bind`): struct(n_tokens, n_distinct_tokens,
    top_token_n, bi.{n_2grams, n_distinct_2grams, top_2gram_n})."""
    from ..operators.dedup import shingles_of_tokens
    from ..functions.let import bind

    return F.struct(
        F.size(t).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(t)).cast("long")
        .alias("n_distinct_tokens"),
        _mode_count(t).alias("top_token_n"),
        bind(shingles_of_tokens(t, 2), lambda b: F.struct(
            F.size(b).cast("long").alias("n_2grams"),
            F.size(F.array_distinct(b)).cast("long")
            .alias("n_distinct_2grams"),
            _mode_count(b).alias("top_2gram_n"))).alias("bi"))


def repetition_stats(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Repetition signals for quality filtering (the Gopher-rule family:
    a document dominated by one token / one 2-gram is boilerplate):

    - ``n_tokens`` / ``n_distinct_tokens`` / ``top_token_n`` (count of
      the most frequent token)
    - ``n_2grams`` / ``n_distinct_2grams`` / ``top_2gram_n``

    All integers — consumers derive ratios (e.g. ``top_2gram_n /
    n_2grams``) without float drift in the operator output.

    Shape at scale (round-11): every signal is a function of ONE
    document, so the whole operator is a single narrow codegen-stage
    projection — token/2-gram arrays are let-bound (one tokenizer run
    per row), distinct counts come from ``array_distinct``, and the
    top-term count is the longest equal-run of the sorted array
    (:func:`_mode_count`).  The previous shape (explode →
    groupBy(id, term) → groupBy(id) per axis + two id joins) shuffled
    every token occurrence twice; this shuffles NOTHING, which also
    removes the skew question entirely.  Documents with < 1 token /
    < 1 2-gram have empty arrays and surface 0 counts.  Input rows are
    assumed id-unique (the corpus contract everywhere in this package).
    """
    from ..functions.layout import ensure_parallelism
    from ..functions.let import bind

    # the whole operator is ONE narrow stage, so it inherits the
    # source's partitioning — a single parquet file would serialize the
    # (CPU-heavy) per-row folds onto one core; fan out first
    df = ensure_parallelism(df)
    s = bind(tokens(F.col(text_col)), _repetition_struct)
    return df.select(F.col(id_col), s.alias("__s")).select(
        id_col,
        F.col("__s.n_tokens").alias("n_tokens"),
        F.col("__s.n_distinct_tokens").alias("n_distinct_tokens"),
        F.col("__s.top_token_n").alias("top_token_n"),
        F.col("__s.bi.n_2grams").alias("n_2grams"),
        F.col("__s.bi.n_distinct_2grams").alias("n_distinct_2grams"),
        F.col("__s.bi.top_2gram_n").alias("top_2gram_n"))


def gopher_filter(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Gopher/C4-style composite quality verdict: one row per document
    with a ``failed`` rule bitmask and the ``keep`` boolean a corpus
    builder filters on.  (Rae et al., "Scaling Language Models: ...
    Gopher", arXiv:2112.11446 §A.1.1 — the rule FAMILY; thresholds here
    are integer-ratio variants tuned to stay engine-exact.)

    Rule bits (set when the rule FAILS):

    - 1:  token count outside [10, 100 000]
    - 2:  mean word length outside [3, 12)  (n_chars vs n_tokens
          cross-multiplied — no division)
    - 4:  punctuation-heavy (5·n_punct > n_chars)
    - 8:  no stopword hit at all
    - 16: low lexical diversity (2·n_distinct_tokens < n_tokens)
    - 32: top 2-gram > 20 % of all 2-grams (5·top_2gram_n > n_2grams;
          vacuously passes when the doc has no 2-gram)

    All signals are integer-domain, so the verdict is bit-identical on
    any engine — the whole filter is SQL-oracle-checkable.

    Scale shape (round-11): ONE narrow codegen projection, zero
    shuffles and zero joins — every rule is a function of the single
    document, and the repetition signals now come from the let-bound
    per-row form (:func:`_repetition_struct`, same integers as
    :func:`repetition_stats`).  The previous shape paid four doc-keyed
    aggregation exchanges plus two id joins to stitch scalar and
    repetition branches; a quality filter that shuffles nothing also
    cannot skew, and composes into pipelines (``curate_pretrain``) as
    a plain WHERE."""
    from ..functions.layout import ensure_parallelism

    s = gopher_verdict(F.col(text_col))
    # narrow single-stage plan: fan the source out first (same reason
    # as repetition_stats — the fold work would run at file width)
    return ensure_parallelism(df).select(
        F.col(id_col), s.alias("__g")).select(
        F.col(id_col), F.col("__g.failed").alias("failed"),
        F.col("__g.keep").alias("keep"))


def gopher_verdict(c: Column) -> Column:
    """The :func:`gopher_filter` verdict as a pure COLUMN expression —
    ``struct(failed int, keep boolean)`` of the text column: what lets
    a pipeline apply the quality filter as a plain WHERE on the corpus
    scan (``curate_pretrain`` does) instead of joining a verdict table.
    Token/2-gram work is let-bound: one tokenizer run per row."""
    from ..functions.let import bind

    n_chars = F.length(c)
    n_punct = F.size(F.regexp_extract_all(c, F.lit("[^A-Za-z0-9\\s]"), 0))
    all_stop = _stop_hits(c, sorted({w for ws in LANG_STOPWORDS.values()
                                     for w in ws}))

    def _failed(t: Column) -> Column:
        nt = F.size(t)

        def _with_rep(r: Column) -> Column:
            bit = [
                (1, ~((nt >= 10) & (nt <= 100_000))),
                (2, ~((n_chars >= 3 * nt) & (n_chars < 12 * nt))),
                (4, 5 * n_punct > n_chars),
                (8, all_stop == 0),
                (16, 2 * r["n_distinct_tokens"] < nt),
                (32, 5 * r["bi"]["top_2gram_n"] > r["bi"]["n_2grams"]),
            ]
            failed = None
            for b, cond in bit:
                term = F.when(cond, F.lit(b)).otherwise(0)
                failed = term if failed is None else failed + term
            # bind the bitmask too: struct(failed, keep) references it
            # twice, and two inline copies would re-run the scalar
            # regexes (n_punct / stopword hits) per reference
            return bind(failed.cast("int"),
                        lambda f: F.struct(f.alias("failed"),
                                           (f == 0).alias("keep")))

        return bind(_repetition_struct(t), _with_rep)

    return bind(tokens(c), _failed)


def register_split_sentences_udtf(spark) -> None:
    """Register the ``split_sentences`` Python UDTF (Spark 4 user-defined
    table function): ``LATERAL split_sentences(text)`` → one row per
    '. '-delimited sentence with its index — the lateral-join form of
    sentence segmentation.

    Honest performance note: a UDTF evaluates Python per input row; the
    bulk path for this exact semantics is
    ``posexplode(split(text, '\\. '))`` (JVM, codegen).  The UDTF form
    exists for composability in SQL (LATERAL with other table args) and
    for segmenters that genuinely need Python."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_idx int, sentence string")
    class SplitSentences:
        def eval(self, text: str):
            import re

            for i, s in enumerate(re.split(r"\. ", text or "")):
                if s:
                    yield i, s

    spark.udtf.register("split_sentences", SplitSentences)


def ngram_novelty(docs, n: int = 2, id_col: str = "doc_id",
                  text_col: str = "text"):
    """Per-document n-gram novelty — the diversity/memorization metric:
    how many of a document's distinct n-grams appear in NO other
    document.  Low novelty flags boilerplate and near-template docs that
    quality filters should down-weight before training.

    All-integer output (n_ngrams, n_novel) so the SQL oracle hashes
    bit-exactly.  Scale shape (round-11, the span_hits lesson): the
    (id, n-gram) rows are already distinct (``array_distinct`` before
    the explode), so ``count(*) over (partition by sh)`` on the
    exploded stream IS the document frequency — the df groupBy and the
    join back (which evaluated the fan-out twice, once per join side)
    collapse into ONE windowed pass: one exchange on the high-entropy
    n-gram key, one combining exchange on the doc key, fan-out
    evaluated once.
    """
    from ..operators.dedup import shingles
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    sh = (docs.select(F.col(id_col).alias("id"),
                      F.explode(F.array_distinct(
                          shingles(F.col(text_col), n))).alias("sh")))
    df_c = F.count("*").over(Window.partitionBy("sh"))
    return (sh.withColumn("df", df_c)
            .groupBy("id")
            .agg(F.count("*").alias("n_ngrams"),
                 F.count(F.when(F.col("df") == 1, 1)).alias("n_novel"))
            .select(F.col("id").alias(id_col), "n_ngrams", "n_novel"))


def compression_ratio(docs, id_col: str = "doc_id",
                      text_col: str = "text", level: int = 6):
    """Per-document zlib compression ratio — the classic cheap proxy for
    repetitiveness/boilerplate (highly compressible text is low-entropy;
    quality filters drop docs outside a band, cf. CCNet/Gopher-style
    heuristics).

    ratio_millis = round(1000 * compressed_len / raw_len) — integerized
    so results hash stably.  zlib with a fixed level is deterministic
    across platforms for a given input, but no SQL engine exposes it, so
    the check is rows-only; the pytest pins exact values for known
    strings.

    Scale shape: pure narrow map — an Arrow-batched pandas UDF (zlib
    releases the GIL; C-speed per batch).  No shuffle, scan-speed at any
    corpus size.
    """
    import zlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<raw_len: long, comp_len: long, ratio_millis: long>")
    def comp(texts: pd.Series) -> pd.DataFrame:
        raw, comp_, ratio = [], [], []
        for t in texts:
            b = (t or "").encode("utf-8")
            c = len(zlib.compress(b, level)) if b else 0
            raw.append(len(b))
            comp_.append(c)
            ratio.append(round(1000 * c / len(b)) if b else 0)
        return pd.DataFrame(
            {"raw_len": raw, "comp_len": comp_, "ratio_millis": ratio})

    c = F.col(text_col)
    out = docs.select(F.col(id_col), comp(c).alias("z"))
    return out.select(id_col, "z.raw_len", "z.comp_len", "z.ratio_millis")


def inverted_postings(docs, k: int = 8, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Inverted-index build — the retrieval-side artifact of a corpus
    pipeline: per term, document frequency, total term frequency, and
    the top-``k`` postings by (tf desc, doc asc) serialized as
    ``"doc:tf,..."`` (bounded, so hot terms cannot produce unbounded
    rows).

    Scale shape: (term, doc) tf counts partial-aggregate map-side; the
    per-term top-k cap reuses the two-phase :func:`..operators.curation.
    cap_per_key` machinery (narrow Arrow local cap, then a window over
    ≤ cap·P survivors) so the stop-word term with |corpus| postings
    never sorts in one task; the final postings string is an ordered
    ``collect_list`` over ≤ k rows per term.

    Determinism: the cap order key packs (-tf, doc) into one BIGINT
    (docs < 10^12, tf < 10^6 by contract), so ranking is total and the
    serialized postings hash-match a SQL oracle.

    Every exchange runs under a shuffle width sized from the corpus'
    own plan stats (:func:`..functions.layout.plan_width`, the
    sparse-cosine discipline): the tf index is a few MB at test SFs
    and a session-wide shuffle is pure per-partition fixed cost × the
    pipeline's five exchanges; at corpus scale the stats estimate
    keeps the session width.  AQE is pinned off inside the scope and
    the eager materialization (``finalize_release``) happens INSIDE
    the pin so the pinned plan is the one that executes."""
    from ..functions.layout import (finalize_release, pinned_shuffle,
                                    plan_width)

    with pinned_shuffle(docs.sparkSession, plan_width(docs, floor=8)):
        out, tf = _inverted_postings_build(docs, k, text_col, id_col)
        return finalize_release(out, tf)


def _inverted_postings_build(docs, k: int, text_col: str, id_col: str):
    """Pre-checkpoint pipeline for :func:`inverted_postings` (plan
    tests assert on this — the public entry localCheckpoints inside
    its pinned scope).  Returns ``(result, cached_tf)``."""
    from .curation import cap_per_key  # local import: avoid cycle
    from pyspark.sql import DataFrame as _DF  # noqa: F401

    tf = (docs.select(F.col(id_col).alias("doc"),
                      F.explode(tokens(F.col(text_col))).alias("term"))
          .groupBy("term", "doc").agg(F.count("*").alias("tf"))
          .cache())  # feeds BOTH the stats and the top-k branch
    stats = tf.groupBy("term").agg(F.count("*").alias("df"),
                                   F.sum("tf").alias("tf_total"))
    ordered = tf.withColumn(
        "ord", (-F.col("tf")) * F.lit(1_000_000_000_000) + F.col("doc"))
    top = cap_per_key(ordered, "term", "ord", k)
    postings = (top.groupBy("term")
                .agg(F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(
                            F.struct("ord", "doc", "tf"))),
                        lambda s: F.concat_ws(
                            ":", s["doc"].cast("string"),
                            s["tf"].cast("string"))), ",")
                    .alias("postings")))
    out = (stats.join(postings, "term")
           .select("term", "df", F.col("tf_total").cast("long")
                   .alias("tf_total"), "postings"))
    return out, tf


def skipgram_counts(docs, window: int = 2, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Skip-gram co-occurrence counts — the (center, context) pair
    table a word2vec/GloVe-style embedding trainer consumes: for every
    token position, each neighbor within ±``window`` positions
    contributes one (center, context) observation.

    Scale shape: pair generation is a NARROW array-HOF expansion per
    document (forward pairs via nested transform over the token array —
    the same no-self-join trick as the co-purchase pair generator),
    symmetrized by emitting both orientations of each forward pair;
    the only shuffle is the final map-side-combining groupBy(center,
    context) — uniform in the pair vocabulary, and hot pairs combine
    before the exchange."""
    t = tokens(F.col(text_col))
    fwd = F.expr(
        f"flatten(transform(tk, (x, i) -> "
        f"transform(slice(tk, i + 2, least({window}, size(tk) - i - 1)), "
        f"y -> struct(x AS a, y AS b))))")
    pairs = (docs.select(t.alias("tk"))
             .select(F.explode(fwd).alias("p"))
             .select(F.explode(F.array(
                 F.struct(F.col("p.a").alias("center"),
                          F.col("p.b").alias("context")),
                 F.struct(F.col("p.b").alias("center"),
                          F.col("p.a").alias("context")))).alias("s"))
             .select("s.center", "s.context"))
    return (pairs.groupBy("center", "context")
            .agg(F.count("*").alias("n")))


def winnow_fingerprints(docs, k: int = 4, w: int = 4,
                        text_col: str = "text",
                        id_col: str = "doc_id"):
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD'03 — the MOSS algorithm): hash every ``k``-token shingle,
    slide a window of ``w`` consecutive hashes, keep each window's
    MINIMUM — the selected fingerprints are position-robust (any
    shared substring of ≥ w+k-1 tokens is guaranteed to share a
    fingerprint), ~2/(w+1) of the shingles, and deterministic.

    Returns one row per DISTINCT (id, fp) — the fingerprint set a
    plagiarism / near-copy index stores per document.

    All pure codegen (sequence/transform/slice/array_min — the shingle
    stream never exists as rows), and the hash is the portable 32-bit
    md5 prefix, so the whole selection is SQL-oracle-checkable.
    Per-row cost is O(tokens · (k + w)); fingerprint volume is
    ~2·tokens/(w+1) rows into one distinct — strictly less traffic
    than exploding shingles."""
    # sequence(1, 0) DESCENDS in Spark, so an n-element index range is
    # built as slice(sequence(1, max(n,1)), 1, n) — empty when n = 0
    def idx(n: str) -> str:
        return f"slice(sequence(1, greatest({n}, 1)), 1, {n})"

    n_kg = f"greatest(size(__tk) - {k} + 1, 0)"
    kg_h = (f"transform({idx(n_kg)}, i -> "
            f"cast(conv(substring(md5(array_join(slice(__tk, i, {k}), "
            f"' ')), 1, 8), 16, 10) as bigint))")
    n_win = f"greatest(size(__h) - {w} + 1, 0)"
    mins = (f"array_distinct(transform({idx(n_win)}, j -> "
            f"array_min(slice(__h, j, {w}))))")
    return (docs.select(F.col(id_col), tokens(text_col).alias("__tk"))
            .withColumn("__h", F.expr(kg_h))
            .select(F.col(id_col), F.explode(F.expr(mins)).alias("fp"))
            .distinct())


#: the quarter-bit integer idf over columns (n_docs, df) — shared by
#: bm25_topk, impact_postings and expand_queries (see bm25_topk's
#: docstring for the derivation and the bigint-safety argument)
_IDF_QBITS = (
    "greatest(0, 4 * (length(bin((2 * (n_docs - df) + 1) "
    "div (2 * df + 1))) - 1) "
    "+ (4 * (2 * (n_docs - df) + 1)) "
    "div ((2 * df + 1) * shiftleft(cast(1 as bigint), "
    "length(bin((2 * (n_docs - df) + 1) div (2 * df + 1))) - 1)) "
    "- 4)")


def _packed_ord(score_col: str, doc_col: str, op_name: str):
    """The (-score, doc) → one-BIGINT order-key pack shared by
    :func:`bm25_topk` and :func:`impact_postings` (the X49 trick), with
    the domain bounds ENFORCED in-plan (round-9 advice): a query with
    many high-idf terms or out-of-range doc ids would otherwise
    silently overflow int64 and corrupt the top-k order.  The guard is
    two comparisons of already-materialized columns folded into the
    pack expression itself (so Catalyst cannot prune it), costing one
    codegen branch per row; violations ``raise_error`` with the
    operator name."""
    return F.expr(
        f"CASE WHEN {score_col} >= 9000000 OR {doc_col} < 0 "
        f"OR {doc_col} >= 1000000000000 THEN "
        f"raise_error(concat('{op_name}: order-key pack overflow — "
        f"score_milli/impact must be < 9e6 and doc id in [0, 1e12), "
        f"got score=', cast({score_col} as string), ' doc=', "
        f"cast({doc_col} as string))) "
        f"ELSE -{score_col} * 1000000000000 + {doc_col} END")


def bm25_topk(docs, queries: dict[int, list[str]], k: int = 10,
              k1_milli: int = 1200, b_milli: int = 750,
              text_col: str = "text", id_col: str = "doc_id"):
    """Integer-exact BM25 top-k lexical retrieval (Robertson & Zaragoza,
    "The Probabilistic Relevance Framework: BM25 and Beyond", FnTIR'09)
    — the sparse counterpart of the embedding ANN stack: score every
    document against each query's term bag through the corpus term
    statistics, return the ``k`` best per query.

    Exact-integer variant so the whole ranking is SQL-oracle-checkable
    (float BM25 needs ln(), which is not correctly-rounded across
    engines — the same reason lm.py integerizes perplexity):

    - idf in QUARTER-bits, with ratio a/b = (2(N−df)+1)/(2df+1):
      exponent e = floor(log2(a div b)) via the exact ``length(bin(x))
      − 1`` trick (equal to floor(log2(a/b)) for a ≥ b), plus two
      fractional bits from the integer-normalized mantissa m = (4a)
      div (b·2^e) ∈ [4, 8): idf_q = max(0, 4e + m − 4) — the
      linear-within-octave refinement (the HLL-rho family's trick)
      that keeps moderately-rare terms (1 < a/b < 2) from quantizing
      to zero, clamped at 0 when df > N/2 (the BM25+ stopword floor);
      every operand stays ≤ 8N+4, so the math is bigint-safe at any
      corpus size;
    - length normalization in exact millis: norm = 1000 − b +
      (b·dl·N) div T  (dl/avgdl as the integer ratio dl·N/T);
    - per-term contribution (millis) =
      (idf_bits · tf · (k1+1000) · 1000) div (tf·1000 + (k1·norm) div
      1000); score = Σ over the query's terms.

    Domain bounds (CHECKED in-plan, round-9): doc ids in [0, 10^12)
    and score < 9·10^6 millis so the top-k order key packs into one
    BIGINT (the inverted_postings contract) — rows outside the bounds
    ``raise_error`` instead of silently overflowing the pack (see
    :func:`_packed_ord`).  N·dl·b_milli < 2^63, i.e. up to ~10^10 docs
    at ~10^5 avg tokens — beyond that, lift the norm term to
    DECIMAL(38,0).

    Scale shape: dl is computed in the scan projection (size of the
    token array, BEFORE the explode), so the term filter prunes the
    fan-out to query terms only and no full-corpus (doc, term) table
    ever shuffles; the surviving stream is one map-side-combining
    groupBy(doc, dl, term) (dl rides in the key — functionally
    dependent on doc, the sparse-cosine trick); df aggregates over
    ≤ |query terms| groups; N/T is a 1-row aggregate crossJoined back
    (broadcast, the TPC-H scalar-subquery shape); the (qid, term)
    probe is a literal-table broadcast join; and the per-query top-k
    is the two-phase :func:`..operators.curation.cap_per_key` — the
    hot query hitting |corpus| docs never sorts in one task.

    Runs under a stats-sized pinned shuffle width with AQE off inside
    the scope and materializes inside the pin (round-9: the
    ``pinned_shuffle``/``plan_width`` discipline every other
    multi-exchange family uses — at test SFs the suite-session width
    is pure per-partition fixed cost across this plan's 3 exchanges;
    at corpus scale the stats estimate keeps the session width).  Plan
    tests assert on the lazy :func:`_bm25_build`.

    Returns (query_id, doc_id, rank, score_milli), rank 1-based by
    (score desc, doc asc)."""
    from ..functions.layout import (finalize_release, pinned_shuffle,
                                    plan_width)

    with pinned_shuffle(docs.sparkSession, plan_width(docs, floor=8)):
        return finalize_release(
            _bm25_build(docs, queries, k, k1_milli, b_milli,
                        text_col, id_col))


def _bm25_build(docs, queries: dict[int, list[str]], k: int,
                k1_milli: int, b_milli: int,
                text_col: str, id_col: str):
    """Pre-checkpoint pipeline for :func:`bm25_topk` (plan tests assert
    on this — the public entry localCheckpoints inside its pinned
    scope)."""
    all_terms = sorted({t for ts in queries.values() for t in ts})
    sel = docs.select(F.col(id_col).alias("doc"),
                      tokens(F.col(text_col)).alias("__tk")) \
        .withColumn("dl", F.size("__tk").cast("long"))
    nt = sel.agg(F.count("*").alias("n_docs"),
                 F.sum("dl").alias("n_tokens"))
    tfq = (sel.select("doc", "dl", F.explode("__tk").alias("term"))
           .where(F.col("term").isin(all_terms))
           .groupBy("doc", "dl", "term")
           .agg(F.count("*").alias("tf")))
    return _bm25_score(tfq, nt, queries, k, k1_milli, b_milli)


def _bm25_score(tfq, nt, queries: dict[int, list[str]], k: int,
                k1_milli: int, b_milli: int):
    """BM25 scoring tail over a prepared (doc, dl, term, tf) table
    already restricted to the query terms, plus the 1-row (n_docs,
    n_tokens) corpus-stats frame.  Split out (round-11) so
    :func:`expand_queries` can feed BOTH of its passes from one cached
    corpus (doc, term) count instead of re-tokenizing the corpus per
    pass — identical math, identical output."""
    from pyspark.sql import Window

    from ..functions.layout import local_frame
    from .curation import cap_per_key  # local import: avoid cycle

    spark = tfq.sparkSession
    # tfq is unique per (doc, term) by construction, so count(*) IS
    # countDistinct(doc) — without the distinct rewrite's extra
    # (term, doc) exchange (round-11, guide §2.4)
    df_t = tfq.groupBy("term").agg(F.count("*").alias("df"))
    # local_frame: one broadcast-build task instead of a
    # defaultParallelism fan-out, WITHOUT the .coalesce(1) Repartition
    # node that loses the broadcast hint (round-12 — see layout.local_frame)
    qt = local_frame(
        spark,
        [(qid, t) for qid, ts in sorted(queries.items()) for t in ts],
        "query_id long, term string")
    scored = (tfq.join(F.broadcast(df_t), "term")
              .join(F.broadcast(qt), "term")
              .crossJoin(F.broadcast(nt)))
    idf = F.expr(_IDF_QBITS)
    norm = (F.lit(1000 - b_milli)
            + F.expr(f"({b_milli} * dl * n_docs) div n_tokens"))
    den = (F.col("tf") * 1000
           + F.expr(f"({k1_milli} * __norm) div 1000"))
    contrib = F.expr(
        f"(__idf * tf * {k1_milli + 1000} * 1000) div __den")
    per_term = (scored.withColumn("__idf", idf.cast("long"))
                .withColumn("__norm", norm.cast("long"))
                .withColumn("__den", den.cast("long"))
                .withColumn("__c", contrib.cast("long")))
    score = (per_term.groupBy("query_id", "doc")
             .agg(F.sum("__c").alias("score_milli"))
             .where(F.col("score_milli") > 0))
    ordered = score.withColumn(
        "ord", _packed_ord("score_milli", "doc", "bm25_topk"))
    top = cap_per_key(ordered, "query_id", "ord", k)
    w = Window.partitionBy("query_id").orderBy("ord")
    return (top.withColumn("rank", F.row_number().over(w))
            .select("query_id", F.col("doc").alias("doc_id"),
                    F.col("rank").cast("long").alias("rank"),
                    "score_milli"))


def impact_postings(docs, k: int = 8, k1_milli: int = 1200,
                    b_milli: int = 750, text_col: str = "text",
                    id_col: str = "doc_id"):
    """Impact-ordered inverted index (Anh & Moffat, SIGIR'06): per term,
    the top-``k`` postings ranked by each document's PRECOMPUTED BM25
    contribution ("impact") instead of raw tf — the index-time artifact
    that lets a query processor score documents by summing stored
    impacts and terminate early, never touching low-impact postings.

    The impact is :func:`bm25_topk`'s exact-integer per-term
    contribution (quarter-bit idf, milli-scaled length normalization —
    same math, same engine-portability argument), evaluated for EVERY
    (term, doc) of the corpus rather than a query subset.  Returns
    (term, df, postings) with postings serialized ``"doc:impact,..."``
    ordered by (impact desc, doc asc) — the X49 serialization with
    impact in place of tf.

    Scale shape: one map-side-combining groupBy(doc, dl, term) builds
    the tf table (dl from the scan projection, riding the key); corpus
    N/T is a broadcast 1-row aggregate; df is a combining per-term
    aggregate joined back ON TERM — the same exchange the per-term cap
    needs anyway; the top-k cap is the two-phase
    :func:`..operators.curation.cap_per_key`, so a stopword with
    |corpus| postings never sorts in one task.

    Runs pinned + materialized like :func:`bm25_topk` (round-9); plan
    tests assert on the lazy :func:`_impact_build`."""
    from ..functions.layout import (finalize_release, pinned_shuffle,
                                    plan_width)

    with pinned_shuffle(docs.sparkSession, plan_width(docs, floor=8)):
        return finalize_release(
            _impact_build(docs, k, k1_milli, b_milli, text_col, id_col))


def _impact_build(docs, k: int, k1_milli: int, b_milli: int,
                  text_col: str, id_col: str):
    """Pre-checkpoint pipeline for :func:`impact_postings` (plan tests
    assert on this)."""
    from .curation import cap_per_key  # local import: avoid cycle

    sel = docs.select(F.col(id_col).alias("doc"),
                      tokens(F.col(text_col)).alias("__tk")) \
        .withColumn("dl", F.size("__tk").cast("long"))
    nt = sel.agg(F.count("*").alias("n_docs"),
                 F.sum("dl").alias("n_tokens"))
    tf = (sel.select("doc", "dl", F.explode("__tk").alias("term"))
          .groupBy("doc", "dl", "term")
          .agg(F.count("*").alias("tf")))
    # df as a COUNT window over the term partition: tf is unique per
    # (doc, term) by construction, so count(*) over the term frame IS
    # countDistinct(doc) — and the window's Exchange(term) replaces the
    # old aggregate + self-join of tf (countDistinct's internal
    # (term, doc) exchange, the df_t aggregate, and the join) with the
    # one exchange the per-term pipeline needs anyway (round-11,
    # guide §2.4 "window keyed like the aggregation shares the
    # exchange").
    from pyspark.sql import Window
    base = (tf.withColumn("df", F.count("*")
                          .over(Window.partitionBy("term")))
            .crossJoin(F.broadcast(nt)))
    idf = F.expr(_IDF_QBITS)
    norm = (F.lit(1000 - b_milli)
            + F.expr(f"({b_milli} * dl * n_docs) div n_tokens"))
    den = (F.col("tf") * 1000
           + F.expr(f"({k1_milli} * __norm) div 1000"))
    imp = (base.withColumn("__idf", idf.cast("long"))
           .withColumn("__norm", norm.cast("long"))
           .withColumn("__den", den.cast("long"))
           .withColumn("impact", F.expr(
               f"(__idf * tf * {k1_milli + 1000} * 1000) div __den")
               .cast("long"))
           .select("term", "doc", "df", "impact"))
    # pack (-impact, doc) into one BIGINT for a total cap order (the
    # X49 trick; impact < 9e6 millis, doc in [0, 10^12) — ENFORCED by
    # the shared in-plan guard, not just documented)
    ordered = imp.withColumn(
        "ord", _packed_ord("impact", "doc", "impact_postings"))
    top = cap_per_key(ordered, "term", "ord", k)
    postings = (top.groupBy("term", "df")
                .agg(F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(
                            F.struct("ord", "doc", "impact"))),
                        lambda s: F.concat_ws(
                            ":", s["doc"].cast("string"),
                            s["impact"].cast("string"))), ",")
                    .alias("postings")))
    return postings.select("term", "df", "postings")


def bm25_topk_from_index(index, queries: dict[int, list[str]],
                         k: int = 10):
    """Query-SERVING path over the impact-ordered index — the
    consumption half of :func:`impact_postings` (Anh & Moffat's point:
    build the index once, answer queries by summing STORED impacts,
    never re-touching the corpus).  Mirrors the PQ pair
    ``build_pq_index``/``query_pq_index`` for the lexical arm; the
    reference analog is load-once/query-many BigQuery tables
    (/root/reference/dags/ethereum2etl_airflow/build_load_dag.py:94-96).

    ``index`` is :func:`impact_postings` output — read back from its
    published parquet in the serving deployment — with postings
    serialized ``"doc:impact,..."``.  score(q, d) = Σ over q's terms of
    the stored impact of (term, d); documents truncated out of a term's
    top-``cap`` postings contribute 0 for that term — the
    early-termination approximation, EXACT whenever every query term's
    full postings list survived the index cap (the agreement pytest
    pins this: with cap ≥ |corpus| the served ranking equals
    :func:`bm25_topk` bit-for-bit, since both sum the identical
    exact-integer contributions).

    Scale shape: the term ``isin`` filter reaches the index scan
    (pushed-down predicate on a vocabulary-keyed artifact — a serving
    query reads |query terms| rows, not the index); the postings
    explode fans out ≤ cap rows per term; the (query, term) probe is a
    literal-table broadcast join; scoring is one map-side-combining
    groupBy; and the per-query top-k is the two-phase
    :func:`..operators.curation.cap_per_key` under the same packed
    order key (overflow-guarded) as the builder.

    Returns (query_id, doc_id, rank, score_milli) — same schema and
    ordering contract as :func:`bm25_topk`.  Pinned + materialized like
    the builder (the serving plan's two exchanges are bounded by
    |query terms|·cap rows, so the width floor always wins)."""
    from ..functions.layout import (finalize_release, pinned_shuffle,
                                    plan_width)

    with pinned_shuffle(index.sparkSession, plan_width(index, floor=8)):
        return finalize_release(_bm25_from_index_build(index, queries, k))


def _bm25_from_index_build(index, queries: dict[int, list[str]], k: int):
    """Pre-checkpoint pipeline for :func:`bm25_topk_from_index` (plan
    tests assert on this)."""
    from pyspark.sql import Window

    from .curation import cap_per_key  # local import: avoid cycle

    from ..functions.layout import local_frame

    spark = index.sparkSession
    all_terms = sorted({t for ts in queries.values() for t in ts})
    qt = local_frame(
        spark,
        [(qid, t) for qid, ts in sorted(queries.items()) for t in ts],
        "query_id long, term string")
    post = (index.where(F.col("term").isin(all_terms))
            .select("term",
                    F.explode(F.split("postings", ",")).alias("__p"))
            .select("term",
                    F.split("__p", ":")[0].cast("long").alias("doc"),
                    F.split("__p", ":")[1].cast("long").alias("impact")))
    scored = (post.join(F.broadcast(qt), "term")
              .groupBy("query_id", "doc")
              .agg(F.sum("impact").alias("score_milli"))
              .where(F.col("score_milli") > 0))
    ordered = scored.withColumn(
        "ord", _packed_ord("score_milli", "doc", "bm25_topk_from_index"))
    # small=True: the serving input is <= |query terms| x index-cap
    # rows BY CONSTRUCTION (the index postings are already capped), so
    # the Arrow local-cap pass is pure Python-boundary fixed cost at
    # every corpus size - the post-explode stats estimate cannot see
    # that bound
    top = cap_per_key(ordered, "query_id", "ord", k, small=True)
    w = Window.partitionBy("query_id").orderBy("ord")
    return (top.withColumn("rank", F.row_number().over(w))
            .select("query_id", F.col("doc").alias("doc_id"),
                    F.col("rank").cast("long").alias("rank"),
                    "score_milli"))


def best_passages(docs, ranking, queries: dict[int, list[str]],
                  w: int = 16, text_col: str = "text",
                  id_col: str = "doc_id", strategy: str = "auto"):
    """Best-passage (snippet) extraction for a retrieved ranking — the
    step after retrieval in a RAG / training-data pipeline: for every
    (query, doc) pair of ``ranking``, find the ``w``-token window of
    the document with the most query-term occurrences (ties → the
    EARLIEST window) and return it with its offset and hit count.

    Deterministic and SQL-oracle-checkable by construction: window
    score is an integer occurrence count, the argmax tie-breaks to the
    first position, and the passage text is a join of the
    already-lowercased tokens, so every output column is
    engine-portable.

    Scale shape: ``ranking`` is a retrieved top-k list (|Q|·k rows) —
    it joins the corpus as a BROADCAST probe (with the per-query term
    arrays attached), so the pass is one corpus scan with a narrow
    codegen map and no data-sized shuffle.  Tokenization happens ABOVE
    the join (round-11): the inner broadcast probe prunes the corpus
    to the |Q|·k ranked documents first, so the tokenizer and the
    window scoring run on survivors only — previously the whole corpus
    tokenized below the join.  At 100 TB this is scan-bound, exactly
    like the text-stats family.

    COST MODEL (per surviving row, inside one codegen expression):

    - ``strategy='scan'`` — the match mask is O(tokens·|qterms|), then
      every window start is scored by an O(w) slice-sum:
      **O(tokens·w)** integer adds.  Right for snippet-sized windows
      (w ≤ ~64); at RAG-typical w = 256+ the expression cost grows
      linearly with w.
    - ``strategy='hits'`` — extract the hit POSITIONS (O(tokens·
      |qterms|)), then score only hit-anchored windows and recover the
      earliest argmax from the position array: **O(tokens + hits²)**,
      independent of w (hits = query-term occurrences in the doc,
      normally ≪ tokens).  Bit-identical output (pytest-pinned): any
      window's hits are a consecutive run in the position array, so the
      anchored maximum is the global maximum, and the earliest start
      for a c-hit run ending at position p is max(1, p − w + 1).
      CAVEAT: on keyword-stuffed documents where hits ≈ tokens the
      hits² term exceeds tokens·w — pass ``strategy='scan'`` for such
      corpora (the auto heuristic keys on w only, not hit density).
    - ``strategy='auto'`` (default) — 'scan' for w ≤ 64, 'hits' above.

    Returns (query_id, doc_id, offset [1-based token index], n_hits,
    passage) — one row per ranking row whose document exists.  A NULL
    document text behaves exactly like an empty document (offset=1,
    n_hits=0, passage='') rather than propagating NULLs — reachable
    only via caller-supplied rankings, since bm25_topk never ranks a
    token-less doc."""
    if strategy == "auto":
        strategy = "scan" if w <= 64 else "hits"
    if strategy not in ("scan", "hits"):
        raise ValueError(f"best_passages: unknown strategy {strategy!r} "
                         f"(want 'scan', 'hits' or 'auto')")
    from ..functions.layout import local_frame

    spark = docs.sparkSession
    qt = local_frame(
        spark,
        [(qid, sorted(set(ts))) for qid, ts in sorted(queries.items())],
        "query_id long, qterms array<string>")
    probe = (ranking.select("query_id", F.col("doc_id").alias("__rdoc"))
             .join(qt, "query_id"))
    from ..functions.layout import ensure_parallelism

    sel = ensure_parallelism(
        docs.select(F.col(id_col).alias("doc_id"),
                    F.col(text_col).alias("__tx")))
    # tokens as a named column ABOVE the join: the broadcast probe
    # prunes to ranked docs before the tokenizer runs; __tk is
    # referenced ≥2× downstream so CollapseProject won't inline (and
    # thereby re-evaluate) the tokenizer
    j = (sel.join(F.broadcast(probe), sel["doc_id"] == probe["__rdoc"])
         .withColumn("__tk", tokens(F.col("__tx"))))
    if strategy == "scan":
        mt = ("transform(__tk, t -> CASE WHEN array_contains(qterms, t) "
              "THEN 1L ELSE 0L END)")
        nw = f"greatest(size(__tk) - {w} + 1, 1)"
        scores = (f"transform(sequence(1, {nw}), j -> "
                  f"aggregate(slice(__mt, j, {w}), 0L, (a, x) -> a + x))")
        return (j.withColumn("__mt", F.expr(mt))
                .withColumn("__sc", F.expr(scores))
                .withColumn("offset", F.expr(
                    "cast(array_position(__sc, array_max(__sc)) "
                    "as bigint)"))
                .select("query_id", "doc_id", "offset",
                        F.expr("element_at(__sc, cast(offset as int))")
                        .cast("long").alias("n_hits"),
                        F.expr(f"concat_ws(' ', slice(__tk, "
                               f"cast(offset as int), {w}))")
                        .alias("passage")))
    # 'hits': positions of query-term occurrences; score only windows
    # anchored at a hit (the anchored max IS the global max: shifting a
    # window right to start at its first hit keeps all its hits).
    # CASE guard: sequence(1, 0) DESCENDS to [1, 0] in Spark, so an
    # empty token array would probe element_at(__tk, 0) and throw
    hp = ("CASE WHEN size(__tk) = 0 THEN cast(array() as array<bigint>) "
          "ELSE filter(sequence(1, size(__tk)), i -> "
          "array_contains(qterms, element_at(__tk, i))) END")
    # score of the window anchored at hit i: hits within w tokens
    c = (f"array_max(transform(sequence(1, size(__hp)), i -> "
         f"size(filter(__hp, x -> x >= element_at(__hp, i) AND "
         f"x <= element_at(__hp, i) + {w} - 1))))")
    # earliest start achieving the max c: the first consecutive c-run
    # that fits in a w-window (H increasing → first fitting run has the
    # smallest ending position), started as early as the run allows
    i0 = (f"element_at(filter(sequence(1, size(__hp) - __c + 1), i -> "
          f"element_at(__hp, i + __c - 1) - element_at(__hp, i) "
          f"<= {w} - 1), 1)")
    off = (f"CASE WHEN size(__hp) = 0 THEN 1L ELSE "
           f"greatest(1L, cast(element_at(__hp, cast({i0} as int) "
           f"+ __c - 1) - {w} + 1 as bigint)) END")
    return (j.withColumn("__hp", F.expr(hp))
            .withColumn("__c", F.expr(
                f"CASE WHEN size(__hp) = 0 THEN 0 ELSE cast({c} as int) "
                f"END"))
            .withColumn("offset", F.expr(off))
            .select("query_id", "doc_id", "offset",
                    F.col("__c").cast("long").alias("n_hits"),
                    F.expr(f"concat_ws(' ', slice(__tk, "
                           f"cast(offset as int), {w}))").alias("passage")))


def expand_queries(docs, queries: dict[int, list[str]], k_fb: int = 5,
                   m_exp: int = 3, k: int = 10, k1_milli: int = 1200,
                   b_milli: int = 750, text_col: str = "text",
                   id_col: str = "doc_id", return_terms: bool = False):
    """Pseudo-relevance-feedback query expansion (the RM3/Rocchio
    family, integerized): run a first BM25 pass, take each query's top
    ``k_fb`` documents as implicit relevance feedback, pick the
    ``m_exp`` strongest NEW terms from them, and re-run BM25 with the
    expanded term set — the classic recall lever when the original
    query undersamples the topic's vocabulary.

    Integer-exact selection so the whole two-pass pipeline is
    SQL-oracle-checkable: an expansion term's weight is
    ``Σ over feedback docs of tf(doc, term) × idf_qbits(term)`` (the
    same quarter-bit idf as the scoring pass — all bigint), original
    query terms are excluded, zero-weight (stopword-floored) terms
    drop, and the top ``m_exp`` tie-break (weight desc, term asc).

    Scale shape: the first pass is :func:`bm25_topk`'s plan at
    ``k=k_fb``; the feedback tf table is the corpus (doc, term) count
    pruned EARLY by a broadcast join against the |Q|·k_fb feedback
    pairs; the corpus df for candidate idf is one combining per-term
    aggregate over the cached count table (the only corpus-sized
    exchange, shared by both consumers); the winning terms are a
    BOUNDED |Q|·m_exp driver collect (the mmr/codebook class) because
    the second pass takes its query set as a plan literal; the second
    pass is again the bm25 plan.  Everything runs under one
    stats-sized pinned width and materializes inside the pin.

    Returns the expanded ranking (query_id, doc_id, rank, score_milli)
    — :func:`bm25_topk`'s contract; with ``return_terms=True`` returns
    instead the expansion table (query_id, term, weight, rank) for
    inspection/checks."""
    from pyspark.sql import Window

    from ..functions.layout import (finalize_release, local_frame,
                                    pinned_shuffle, plan_width)

    spark = docs.sparkSession
    with pinned_shuffle(docs.sparkSession, plan_width(docs, floor=8)):
        # ONE corpus tokenize for the whole two-pass pipeline
        # (round-11): the cached (doc, dl, term, tf) table feeds the
        # first BM25 pass, the feedback-term scoring, AND the second
        # pass — the old shape re-tokenized the corpus per pass (and
        # once more per pass for the 1-row stats aggregate), 5 scans
        # in total.  dl rides in the groupBy key (functionally
        # dependent on doc, the sparse-cosine trick), so per-pass
        # scoring needs no document-length join.
        sel = docs.select(F.col(id_col).alias("doc"),
                          tokens(F.col(text_col)).alias("__tk")) \
            .withColumn("dl", F.size("__tk").cast("long"))
        tf_all = (sel.select("doc", "dl", F.explode("__tk").alias("term"))
                  .groupBy("doc", "dl", "term")
                  .agg(F.count("*").alias("tf"))
                  .cache())
        # eager build: several plan branches read this cache — racing a
        # cold cache would tokenize the corpus once per branch (same
        # guard as repeated_span_hits)
        tf_all.count()
        # corpus stats WITHOUT another tokenize: n_docs counts the raw
        # corpus (docs with zero tokens included — they are absent from
        # tf_all), n_tokens sums dl over the cached per-doc keys.
        # Collected ONCE into a 1-row local frame (the bounded-artifact
        # class — round-11): nt has THREE broadcast consumers (first
        # pass, candidate weights, second pass) and each broadcast
        # build would otherwise re-run the corpus count scan + the
        # tf_all aggregate under it.
        n_docs_df = docs.agg(F.count("*").alias("n_docs"))
        n_tok_df = (tf_all.groupBy("doc").agg(F.max("dl").alias("__dl"))
                    .agg(F.sum("__dl").alias("n_tokens")))
        r = n_docs_df.crossJoin(n_tok_df).first()
        # SUM over zero rows is NULL (corpus with no tokenized docs);
        # tf_all is empty then, so every scoring join below is empty
        # whatever the stats read — 0 is value-equivalent and keeps the
        # collect total
        nt = local_frame(
            spark, [(int(r["n_docs"] or 0), int(r["n_tokens"] or 0))],
            "n_docs long, n_tokens long")
        all_terms = sorted({t for ts in queries.values() for t in ts})
        fb = _bm25_score(tf_all.where(F.col("term").isin(all_terms)),
                         nt, queries, k_fb, k1_milli, b_milli) \
            .select("query_id", "doc_id")
        # tf_all is (doc, dl, term)-unique by construction (the groupBy
        # above); with UNIQUE doc ids (the corpus contract — duplicated
        # ids would make (doc, dl) non-functional and df count both
        # copies) that is (doc, term)-unique, so count(*) per term IS
        # countDistinct(doc) — the same identity _bm25_score relies on.
        # Plan-neutral at the exchange level (Catalyst already folded
        # the distinct into one exchange) but drops the per-partition
        # distinct hash set per term.
        df_t = tf_all.groupBy("term").agg(
            F.count("*").alias("df"))
        orig = local_frame(
            spark,
            [(qid, t) for qid, ts in sorted(queries.items())
             for t in sorted(set(ts))], "query_id long, term string")
        cand = (tf_all.join(F.broadcast(fb),
                            tf_all["doc"] == fb["doc_id"])
                .groupBy("query_id", "term")
                .agg(F.sum("tf").alias("tfsum"))
                .join(df_t, "term")
                .crossJoin(F.broadcast(nt))
                .withColumn("weight",
                            (F.expr(_IDF_QBITS).cast("long")
                             * F.col("tfsum")).cast("long"))
                .where(F.col("weight") > 0)
                .join(F.broadcast(orig), ["query_id", "term"],
                      "left_anti"))
        wnd = Window.partitionBy("query_id").orderBy(
            F.col("weight").desc(), F.col("term"))
        top = (cand.withColumn("rank",
                               F.row_number().over(wnd).cast("long"))
               .where(F.col("rank") <= m_exp)
               .select("query_id", "term", "weight", "rank"))
        if return_terms:
            return finalize_release(top, tf_all)
        # bounded |Q|·m_exp collect: the second pass takes its query
        # set as a plan literal (the bm25 contract)
        rows = top.select("query_id", "term").collect()
        merged = {qid: sorted(set(ts)) for qid, ts in queries.items()}
        for r in rows:
            merged.setdefault(int(r["query_id"]), [])
            if r["term"] not in merged[r["query_id"]]:
                merged[r["query_id"]].append(r["term"])
        merged = {qid: sorted(set(ts)) for qid, ts in merged.items()}
        # second pass scores from the SAME cached corpus counts — no
        # re-tokenize (identical math: _bm25_build is _bm25_score over
        # the term-filtered (doc, dl, term, tf) table)
        merged_terms = sorted({t for ts in merged.values() for t in ts})
        out = _bm25_score(
            tf_all.where(F.col("term").isin(merged_terms)),
            nt, merged, k, k1_milli, b_milli)
        return finalize_release(out, tf_all)


#: Unicode script classes for corpus composition analysis — literal
#: codepoint ranges (identical semantics under Java regex and RE2, no
#: \p{Script=...} dependence, which RE2 spells differently)
SCRIPT_RANGES = {
    "latin": "A-Za-z\\u00c0-\\u024f",
    "digit": "0-9",
    "cyrillic": "\\u0400-\\u04ff",
    "greek": "\\u0370-\\u03ff",
    "arabic": "\\u0600-\\u06ff",
    "cjk": "\\u3040-\\u30ff\\u4e00-\\u9fff\\uac00-\\ud7af",
    "space": "\\s",
}


def script_mix(df, text_col: str = "text",
               id_col: str = "doc_id"):
    """X90: per-document Unicode-script composition — the curation
    signal language-ID can't give: a ``lang=en`` page that is 40% CJK
    codepoints is boilerplate-wrapped foreign content, mixed-script
    tokens are a spam/homoglyph marker, and corpus-level script drift
    is the first thing a multilingual data audit plots.

    Counts codepoints per script class (literal codepoint ranges —
    engine-portable, see ``SCRIPT_RANGES``) as
    ``length(text) - length(regexp_replace(text, '[class]+', ''))`` —
    pure codegen string algebra, no tokenizer, no UDF — plus the
    dominant non-space class (ties → the ``SCRIPT_RANGES`` order via
    max-of-structs with a rank tiebreak).

    Returns (id, n_chars, n_<class>..., n_other, main_script).

    Scale shape: narrow map over the corpus scan, zero shuffle; at
    100 TB the regexp passes are the only cost — k fixed passes over
    each string, vectorized JVM-side."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    total = F.length(t)
    counts = {name: (total - F.length(
        F.regexp_replace(t, f"[{rng}]+", "")))
        for name, rng in SCRIPT_RANGES.items()}
    other = total
    for c in counts.values():
        other = other - c
    nonspace = [(n, c) for n, c in counts.items() if n != "space"]
    best = F.greatest(*[
        F.struct(c.alias("n"), F.lit(len(nonspace) - i).alias("o"),
                 F.lit(n).alias("s"))
        for i, (n, c) in enumerate(nonspace)])
    main = F.when(best.getField("n") > 0,
                  best.getField("s")).otherwise(F.lit("none"))
    return df.select(
        F.col(id_col), total.cast("long").alias("n_chars"),
        *[c.cast("long").alias(f"n_{n}") for n, c in counts.items()],
        other.cast("long").alias("n_other"),
        main.alias("main_script"))


def html_extract(df, html_col: str = "html", id_col: str = "doc_id"):
    """X94: HTML → training text extraction — the crawl-side stage
    that runs before every operator in this package sees a byte
    (WET-style extraction: strip script/style/comment blocks, drop
    tags, decode the common entities, collapse whitespace) plus link
    harvesting for the frontier.  Pure regexp column algebra over
    patterns valid in BOTH Java regex and RE2 ((?is) inline flags,
    non-greedy block bodies, no lookaround) — so extraction is
    SQL-oracle-checkable, unlike library extractors.

    Deliberately a LITE extractor: no DOM, no boilerplate ML — the
    deterministic 80% a distributed pass wants; route pages needing
    real structure to a Pandas-UDF stage with an HTML parser.

    Returns (id, text, n_links, links).

    Scale shape: k fixed regexp passes per row, narrow map, zero
    shuffle, zero UDF."""
    h = F.coalesce(F.col(html_col), F.lit(""))
    # block elements whose CONTENT must go, then comments, then tags
    s = F.regexp_replace(h, r"(?is)<script\b[^>]*>.*?</script>", " ")
    s = F.regexp_replace(s, r"(?is)<style\b[^>]*>.*?</style>", " ")
    s = F.regexp_replace(s, r"(?s)<!--.*?-->", " ")
    s = F.regexp_replace(s, r"<[^>]*>", " ")
    # &amp; decodes LAST: '&amp;lt;' is a literal '&lt;' in HTML —
    # decoding ampersands first would double-decode it to '<'
    for ent, rep in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", "\""),
                     ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&")):
        s = F.replace(s, F.lit(ent), F.lit(rep))
    s = F.trim(F.regexp_replace(s, r"\s+", " "))
    links = F.regexp_extract_all(h, F.lit(r'href="([^"]*)"'), 1)
    return df.select(F.col(id_col), s.alias("text"),
                     F.size(links).cast("long").alias("n_links"),
                     links.alias("links"))


def markdown_extract(df, md_col: str = "md", id_col: str = "doc_id"):
    """X96: Markdown → training-text structure extraction — the
    :func:`html_extract` sibling for the other dominant crawl/corpus
    format (READMEs, docs sites, forum exports): harvest ATX headers
    and link targets, strip fenced code blocks (their content is CODE
    data, routed to a different pipeline lane — here we surface its
    size), drop inline markup (emphasis, inline code, link syntax down
    to the anchor text), and collapse whitespace.

    Same portability contract as :func:`html_extract`: every pattern is
    valid in BOTH Java regex and RE2 ((?m)/(?s) inline flags, no
    lookaround, no backrefs), so the whole extraction is
    SQL-oracle-checkable.  A lite extractor by design — CommonMark
    corner cases (setext headers, lazy continuation, reference links)
    go to a Pandas-UDF stage with a real parser.

    Returns (id, text, n_headers, headers, n_code_blocks, code_chars,
    links).

    Scale shape: k fixed regexp passes per row, narrow map, zero
    shuffle, zero UDF."""
    m = F.coalesce(F.col(md_col), F.lit(""))
    headers = F.regexp_extract_all(m, F.lit(r"(?m)^#{1,6}[ \t]+(.+)$"), 1)
    fences = F.regexp_extract_all(m, F.lit(r"(?s)```(.*?)```"), 1)
    code_chars = F.aggregate(
        F.transform(fences, lambda c: F.length(c).cast("long")),
        F.lit(0).cast("long"), lambda a, x: a + x)
    links = F.regexp_extract_all(m, F.lit(r"\]\(([^)]*)\)"), 1)
    # strip order: fenced code first (its content must not leak into
    # text), then headers' hash markers, link syntax down to anchor
    # text, emphasis/inline-code markers, then whitespace collapse
    s = F.regexp_replace(m, r"(?s)```.*?```", " ")
    s = F.regexp_replace(s, r"(?m)^#{1,6}[ \t]+", "")
    s = F.regexp_replace(s, r"\[([^\]]*)\]\([^)]*\)", "$1")
    s = F.regexp_replace(s, r"[*_`]+", "")
    s = F.trim(F.regexp_replace(s, r"\s+", " "))
    return df.select(
        F.col(id_col), s.alias("text"),
        F.size(headers).cast("long").alias("n_headers"),
        headers.alias("headers"),
        F.size(fences).cast("long").alias("n_code_blocks"),
        code_chars.alias("code_chars"),
        links.alias("links"))
