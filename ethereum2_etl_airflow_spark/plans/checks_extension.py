"""Extension-operator check queries (SURVEY.md §2.9 / BASELINE.json
mandate: dedup, similarity search, multimodal, text analysis).

Oracle-checked wherever the semantics are SQL-expressible; the LSH/
streaming/pandas-UDF operators that aren't get rows-only entries
(``oracle=None``).

Cross-engine determinism for the vector kernels: per-element products in
DOUBLE, accumulation in DECIMAL(28,14) (order-independent), final scores
rounded once to DECIMAL(18,9) and surfaced as DOUBLE — identical
arithmetic on both sides, so even float-derived scores hash-match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import dedup as D
from ..operators import multimodal as M
from ..operators import similarity as S
from ..operators import text as X
from ..sources.testdata import fixture_dir, load_table
from ..streaming import run_bounded

__all__ = ["EXTENSION_CHECKS"]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


def _linked_table(sf_dir: str, table: str) -> str:
    """A directory holding a symlink to one single-file testdata table:
    streaming file sources read directories, and the read-only testdata
    stays untouched."""
    import os

    def build(out):
        os.makedirs(out)
        os.symlink(os.path.abspath(os.path.join(sf_dir, f"{table}.parquet")),
                   os.path.join(out, f"{table}.parquet"))
    return fixture_dir(sf_dir, f"{table}_link", build)


# --- X4: text analysis ----------------------------------------------------

def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (X.text_stats(_docs(spark, sf_dir))
            .orderBy("lang", "source"))


ORACLE_TEXT_STATS = """
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS BIGINT)
           AS total_tokens
FROM documents GROUP BY lang, source ORDER BY lang, source
"""


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return (d.select("doc_id",
                     X.token_count("text").alias("n_tokens"),
                     X.bpe_token_count("text").alias("n_bpe_tokens"))
            .orderBy("doc_id"))


ORACLE_TOKEN_COUNT = r"""
SELECT doc_id,
       len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
           AS n_bpe_tokens
FROM documents ORDER BY doc_id
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    scores = X.lang_scores(F.col("text"))
    return (d.select("doc_id",
                     *[scores[lang].alias(f"{lang}_hits")
                       for lang in X.LANG_PRIORITY],
                     X.lang_id(F.col("text")).alias("pred_lang"))
            .orderBy("doc_id"))


def _hits_sql(lang: str) -> str:
    words = "|".join(X.LANG_STOPWORDS[lang])
    return (rf"len(regexp_extract_all(lower(text), '\b({words})\b'))"
            f" AS {lang}_hits")


ORACLE_LANG_ID = f"""
WITH h AS (
  SELECT doc_id,
         {_hits_sql('en')}, {_hits_sql('de')}, {_hits_sql('es')}, {_hits_sql('fr')}
  FROM documents)
SELECT doc_id, en_hits, de_hits, es_hits, fr_hits,
       CASE
         WHEN en_hits > 0 AND en_hits >= de_hits AND en_hits >= es_hits
              AND en_hits >= fr_hits THEN 'en'
         WHEN de_hits > 0 AND de_hits >= es_hits AND de_hits >= fr_hits
              THEN 'de'
         WHEN es_hits > 0 AND es_hits >= fr_hits THEN 'es'
         WHEN fr_hits > 0 THEN 'fr'
         ELSE 'und'
       END AS pred_lang
FROM h ORDER BY doc_id
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.quality_features(_docs(spark, sf_dir)).orderBy("doc_id")


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (top-token / top-2-gram mass) —
    boilerplate documents repeat; all counts integer, ratios left to the
    consumer so nothing float-drifts."""
    return X.repetition_stats(_docs(spark, sf_dir)).orderBy("doc_id")


ORACLE_REPETITION_STATS = """
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
  FROM documents),
uni_term AS (
  SELECT doc_id, t, COUNT(*) AS c
  FROM (SELECT doc_id, UNNEST(tk) AS t FROM toks) GROUP BY doc_id, t),
uni AS (
  SELECT doc_id, SUM(c) AS n_tokens, COUNT(*) AS n_distinct_tokens,
         MAX(c) AS top_token_n
  FROM uni_term GROUP BY doc_id),
bi_term AS (
  SELECT doc_id, t, COUNT(*) AS c
  FROM (SELECT doc_id, UNNEST(
          CASE WHEN len(tk) >= 2 THEN
            list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
          ELSE [] END) AS t
        FROM toks) GROUP BY doc_id, t),
bi AS (
  SELECT doc_id, SUM(c) AS n_2grams, COUNT(*) AS n_distinct_2grams,
         MAX(c) AS top_2gram_n
  FROM bi_term GROUP BY doc_id)
SELECT d.doc_id,
       CAST(COALESCE(uni.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(uni.n_distinct_tokens, 0) AS BIGINT) AS n_distinct_tokens,
       CAST(COALESCE(uni.top_token_n, 0) AS BIGINT) AS top_token_n,
       CAST(COALESCE(bi.n_2grams, 0) AS BIGINT) AS n_2grams,
       CAST(COALESCE(bi.n_distinct_2grams, 0) AS BIGINT) AS n_distinct_2grams,
       CAST(COALESCE(bi.top_2gram_n, 0) AS BIGINT) AS top_2gram_n
FROM documents d
LEFT JOIN uni ON uni.doc_id = d.doc_id
LEFT JOIN bi ON bi.doc_id = d.doc_id
ORDER BY d.doc_id
"""


_ALL_STOPS = "|".join(sorted({w for ws in X.LANG_STOPWORDS.values() for w in ws}))

ORACLE_QUALITY_SCORE = rf"""
WITH f AS (
  SELECT doc_id,
         LENGTH(text) AS n_chars_c,
         len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
             AS n_bpe_tokens,
         len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct,
         len(regexp_extract_all(lower(text), '\b({_ALL_STOPS})\b')) AS stop_hits
  FROM documents)
SELECT doc_id, n_chars_c, n_tokens, n_bpe_tokens, n_punct, stop_hits,
       CAST(CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 2 ELSE 0 END
          + CASE WHEN n_punct * 5 <= n_chars_c THEN 1 ELSE 0 END
          + CASE WHEN stop_hits > 0 THEN 2 ELSE 0 END
          + CASE WHEN n_chars_c >= 3 * n_tokens AND n_chars_c < 12 * n_tokens
                 THEN 1 ELSE 0 END AS INT) AS quality_score
FROM f ORDER BY doc_id
"""


# --- X1: exact dedup + fingerprint ----------------------------------------

def _dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ a case/whitespace-perturbed copy (ids shifted by 10^6)
    — the canonical-content dedup must collapse each pair."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    v = d.select((F.col("doc_id") + 1000000).alias("doc_id"),
                 F.concat(F.upper("text"), F.lit("  ")).alias("text"))
    return d.unionByName(v)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _dup_corpus(spark, sf_dir)
    return (D.dedup_exact(corpus).select("doc_id", "n_copies")
            .orderBy("doc_id"))


ORACLE_DEDUP_EXACT = r"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, upper(text) || '  ' FROM documents)
SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
FROM corpus
GROUP BY sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
ORDER BY doc_id
"""


def q_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select("doc_id", X.fingerprint("text").alias("fp")).orderBy("doc_id")


ORACLE_DEDUP_FINGERPRINT = r"""
SELECT doc_id,
       sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
FROM documents ORDER BY doc_id
"""


# --- near-dedup: exact n-gram Jaccard (oracle) ----------------------------

def _neardup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ truncated variants (every 10th doc, last 5 tokens
    dropped, rebuilt from tokens) — known near-duplicates to find."""
    from ..functions.let import bind

    d = _docs(spark, sf_dir).select("doc_id", "text")
    trunc = bind(X.tokens("text"),
                 lambda t: F.concat_ws(
                     " ", F.slice(t, 1, F.greatest(F.size(t) - 5, F.lit(1)))))
    v = (d.where(F.col("doc_id") % 10 == 0)
         .select((F.col("doc_id") + 1000000).alias("doc_id"),
                 trunc.alias("text")))
    return d.unionByName(v)


def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _neardup_corpus(spark, sf_dir)
    return (D.ngram_jaccard_pairs(corpus, threshold_tenths=6)
            .orderBy("id_a", "id_b"))


ORACLE_DEDUP_NGRAM = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000,
         array_to_string(
           (regexp_extract_all(lower(text), '[a-z0-9]+'))
             [1:greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')) - 5, 1)],
           ' ')
  FROM documents WHERE doc_id % 10 = 0),
sh AS (
  SELECT DISTINCT doc_id AS id, UNNEST(
    CASE WHEN len(regexp_extract_all(lower(text), '[a-z0-9]+')) >= 3 THEN
      list_transform(
        range(1, len(regexp_extract_all(lower(text), '[a-z0-9]+')) - 1),
        i -> regexp_extract_all(lower(text), '[a-z0-9]+')[i] || ' '
          || regexp_extract_all(lower(text), '[a-z0-9]+')[i+1] || ' '
          || regexp_extract_all(lower(text), '[a-z0-9]+')[i+2])
    ELSE [] END) AS sh
  FROM corpus),
sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
  GROUP BY a.id, b.id)
SELECT id_a, id_b, inter, sa.sz AS size_a, sb.sz AS size_b
FROM inter
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE 10 * inter >= 6 * (sa.sz + sb.sz - inter)
ORDER BY id_a, id_b
"""


# --- near-dedup: embedding cosine (oracle) --------------------------------

def _emb_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings ∪ scaled copies (×1.01, ids +10^6): cosine(v, 1.01v)≈1,
    a planted near-duplicate per vector; all arithmetic in DOUBLE."""
    e = _emb(spark, sf_dir)
    orig = e.select("vec_id",
                    F.transform("embedding", lambda x: x.cast("double"))
                    .alias("embedding"), "label")
    var = e.select((F.col("vec_id") + 1000000).alias("vec_id"),
                   F.transform("embedding",
                               lambda x: x.cast("double") * 1.01)
                   .alias("embedding"), "label")
    return orig.unionByName(var)


def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _emb_corpus(spark, sf_dir)
    return (D.cosine_near_dup_pairs(corpus, block_col="label",
                                    threshold_millis=999)
            .orderBy("id_a", "id_b"))


# compact-decimal sum of squares → L2 norm (matches vectors.norm_decimal)
_NORM = ("sqrt(CAST(list_reduce(list_transform({v}, x -> "
         "CAST(x * x AS DECIMAL(18,9))), "
         "(acc, u) -> CAST(acc + u AS DECIMAL(18,9))) AS DOUBLE))")
# normalized copy (matches vectors.with_normalized)
_NV = "list_transform({v}, x -> x / " + _NORM + ")"
# compact long-backed dot over normalized components (vectors.dot_compact)
_DOT_C = ("list_reduce(list_transform(range(1, len({a})+1), "
          "i -> CAST({a}[i] * {b}[i] AS DECIMAL(18,9))), "
          "(acc, v) -> CAST(acc + v AS DECIMAL(18,9)))")

ORACLE_EMBED_NEARDUP = f"""
WITH corpus AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v, label
  FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.01), label
  FROM embeddings),
n AS (
  SELECT vec_id, label, {_NV.format(v='v')} AS nv FROM corpus),
pairs AS (
  SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
         CAST({_DOT_C.format(a='a.nv', b='b.nv')} AS DOUBLE) AS cos9
  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id)
SELECT label, id_a, id_b, cos9 AS cosine
FROM pairs
WHERE cos9 >= 999 / 1000.0
ORDER BY id_a, id_b
"""


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the planted-copy corpus: 1.01-scaled copies keep
    the exact embedding DIRECTION (identical int8 quantization → same
    cell; cosine 1.0 to the original), so every copy must be pruned and
    every original survive — plus whatever organically-close pairs the
    0.95 threshold finds.  Fully deterministic (md5 anchors + integer
    cells + decimal cosine), so the oracle re-derives the exact
    survivor set."""
    return (D.semantic_dedup(_emb_corpus(spark, sf_dir).drop("label"),
                             n_cells=8, threshold_millis=950)
            .orderBy("vec_id"))


ORACLE_DEDUP_SEMANTIC = f"""
WITH corpus AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.01)
  FROM embeddings),
q8 AS (
  SELECT vec_id, v,
         CASE WHEN m = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
              ELSE list_transform(v,
                     x -> CAST(FLOOR(x * 127.0 / m) AS BIGINT))
         END AS q
  FROM (SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x))) AS m
        FROM corpus)),
anch AS (
  SELECT q AS aq,
         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
           - 1 AS arank
  FROM q8
  QUALIFY arank < 8),
dist AS (
  SELECT c.vec_id, a.arank,
         list_sum(list_transform(range(1, 65),
           i -> (c.q[i] - a.aq[i]) * (c.q[i] - a.aq[i]))) AS d
  FROM q8 c, anch a),
cells AS (
  SELECT vec_id, CAST(arank AS INT) AS cell
  FROM dist
  QUALIFY row_number() OVER (PARTITION BY vec_id
                             ORDER BY d, arank) = 1),
n AS (
  SELECT vec_id, {_NV.format(v='v')} AS nv FROM q8),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM n a
  JOIN cells ca ON ca.vec_id = a.vec_id
  JOIN cells cb ON cb.cell = ca.cell AND cb.vec_id > ca.vec_id
  JOIN n b ON b.vec_id = cb.vec_id
  WHERE CAST({_DOT_C.format(a='a.nv', b='b.nv')} AS DOUBLE) >= 950 / 1000.0)
SELECT c.vec_id, c.cell
FROM cells c
WHERE c.vec_id NOT IN (SELECT id_b FROM pairs)
ORDER BY c.vec_id
"""


def q_dedup_semantic_inc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrival-time SemDeDup: history = the embeddings table; the
    arriving batch = 1.01-scaled copies of every history vector
    (+1000000 — same direction → same cell, cosine 1.0 → must ALL be
    pruned against history) plus cyclically-rotated vectors (+2000000 —
    new directions → survive unless organically ε-close).  Codebook
    from history only (the incremental no-drift contract).  Fully
    deterministic, so the oracle re-derives the exact batch-survivor
    set through the same cells/pairs/rules."""
    hist = _emb(spark, sf_dir)
    scaled = hist.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") * 1.01)
        .alias("embedding"))
    rotated = hist.select(
        (F.col("vec_id") + 2000000).alias("vec_id"),
        F.concat(F.slice(F.transform("embedding",
                                     lambda x: x.cast("double")), 2, 63),
                 F.slice(F.transform("embedding",
                                     lambda x: x.cast("double")), 1, 1))
        .alias("embedding"))
    batch = scaled.unionByName(rotated)
    return (D.semantic_dedup_incremental(batch, hist, n_cells=8,
                                         threshold_millis=950)
            .orderBy("vec_id"))


ORACLE_DEDUP_SEMANTIC_INC = f"""
WITH corpus AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         TRUE AS is_hist
  FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.01), FALSE
  FROM embeddings
  UNION ALL
  SELECT vec_id + 2000000,
         list_concat(list_transform(embedding[2:64],
                                    x -> CAST(x AS DOUBLE)),
                     list_transform(embedding[1:1],
                                    x -> CAST(x AS DOUBLE))), FALSE
  FROM embeddings),
q8 AS (
  SELECT vec_id, v, is_hist,
         CASE WHEN m = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
              ELSE list_transform(v,
                     x -> CAST(FLOOR(x * 127.0 / m) AS BIGINT))
         END AS q
  FROM (SELECT vec_id, v, is_hist,
               list_max(list_transform(v, x -> abs(x))) AS m
        FROM corpus)),
anch AS (
  SELECT q AS aq,
         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
           - 1 AS arank
  FROM q8 WHERE is_hist
  QUALIFY arank < 8),
dist AS (
  SELECT c.vec_id, a.arank,
         list_sum(list_transform(range(1, 65),
           i -> (c.q[i] - a.aq[i]) * (c.q[i] - a.aq[i]))) AS d
  FROM q8 c, anch a),
cells AS (
  SELECT vec_id, CAST(arank AS INT) AS cell
  FROM dist
  QUALIFY row_number() OVER (PARTITION BY vec_id
                             ORDER BY d, arank) = 1),
n AS (
  SELECT vec_id, is_hist, {_NV.format(v='v')} AS nv FROM q8),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         a.is_hist AS ha, b.is_hist AS hb
  FROM n a
  JOIN cells ca ON ca.vec_id = a.vec_id
  JOIN cells cb ON cb.cell = ca.cell AND cb.vec_id > ca.vec_id
  JOIN n b ON b.vec_id = cb.vec_id
  WHERE CAST({_DOT_C.format(a='a.nv', b='b.nv')} AS DOUBLE) >= 950 / 1000.0),
removed AS (
  SELECT DISTINCT CASE WHEN ha AND NOT hb THEN id_b
                       WHEN hb AND NOT ha THEN id_a
                       WHEN NOT ha AND NOT hb THEN id_b END AS vec_id
  FROM pairs
  WHERE NOT (ha AND hb))
SELECT c.vec_id, c.cell
FROM cells c
JOIN (SELECT vec_id FROM corpus WHERE NOT is_hist) b USING (vec_id)
WHERE c.vec_id NOT IN (SELECT vec_id FROM removed WHERE vec_id IS NOT NULL)
ORDER BY c.vec_id
"""


def q_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination (X62's intra_batch=False mode): drop
    TRAIN docs whose embeddings are ε-close to a BENCHMARK embedding —
    the paraphrase-leakage channel the n-gram `decontaminate` check
    cannot see.  Benchmark = 1.01-scaled copies of every 13th train
    vector (same direction → guaranteed leak hits); exactly those train
    docs must drop and train-internal similarity must NOT prune
    anything.  Oracle re-derives the survivor set with the intra-batch
    rule absent."""
    train = _emb(spark, sf_dir)
    bench = (train.where(F.col("vec_id") % 13 == 0)
             .select((F.col("vec_id") + 1000000).alias("vec_id"),
                     F.transform("embedding",
                                 lambda x: x.cast("double") * 1.01)
                     .alias("embedding")))
    return (D.semantic_dedup_incremental(train, bench, n_cells=8,
                                         threshold_millis=950,
                                         intra_batch=False)
            .orderBy("vec_id"))


ORACLE_DECONTAMINATE_SEMANTIC = f"""
WITH corpus AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         FALSE AS is_hist
  FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.01), TRUE
  FROM embeddings WHERE vec_id % 13 = 0),
q8 AS (
  SELECT vec_id, v, is_hist,
         CASE WHEN m = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
              ELSE list_transform(v,
                     x -> CAST(FLOOR(x * 127.0 / m) AS BIGINT))
         END AS q
  FROM (SELECT vec_id, v, is_hist,
               list_max(list_transform(v, x -> abs(x))) AS m
        FROM corpus)),
anch AS (
  SELECT q AS aq,
         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
           - 1 AS arank
  FROM q8 WHERE is_hist
  QUALIFY arank < 8),
dist AS (
  SELECT c.vec_id, a.arank,
         list_sum(list_transform(range(1, 65),
           i -> (c.q[i] - a.aq[i]) * (c.q[i] - a.aq[i]))) AS d
  FROM q8 c, anch a),
cells AS (
  SELECT vec_id, CAST(arank AS INT) AS cell
  FROM dist
  QUALIFY row_number() OVER (PARTITION BY vec_id
                             ORDER BY d, arank) = 1),
n AS (
  SELECT vec_id, is_hist, {_NV.format(v='v')} AS nv FROM q8),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         a.is_hist AS ha, b.is_hist AS hb
  FROM n a
  JOIN cells ca ON ca.vec_id = a.vec_id
  JOIN cells cb ON cb.cell = ca.cell AND cb.vec_id > ca.vec_id
  JOIN n b ON b.vec_id = cb.vec_id
  WHERE CAST({_DOT_C.format(a='a.nv', b='b.nv')} AS DOUBLE) >= 950 / 1000.0),
removed AS (
  SELECT DISTINCT CASE WHEN ha AND NOT hb THEN id_b
                       WHEN hb AND NOT ha THEN id_a END AS vec_id
  FROM pairs
  WHERE ha != hb)
SELECT c.vec_id, c.cell
FROM cells c
JOIN (SELECT vec_id FROM corpus WHERE NOT is_hist) b USING (vec_id)
WHERE c.vec_id NOT IN (SELECT vec_id FROM removed WHERE vec_id IS NOT NULL)
ORDER BY c.vec_id
"""


# --- X3: similarity search ------------------------------------------------

_QUERY_IDS = [0, 1, 2, 3, 4]


def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.topk_cosine_bruteforce(_emb(spark, sf_dir), _QUERY_IDS, k=10)


ORACLE_SIM_TOPK = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
n AS (
  SELECT vec_id, {_NV.format(v='v')} AS nv FROM e),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         CAST({_DOT_C.format(a='q.nv', b='c.nv')} AS DOUBLE) AS cosine
  FROM n q JOIN n c ON q.vec_id IN (0,1,2,3,4) AND q.vec_id != c.vec_id),
ranked AS (
  SELECT query_id, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id) AS rank
  FROM scored)
SELECT query_id, vec_id, rank, cosine FROM ranked
WHERE rank <= 10 ORDER BY query_id, rank
"""


def q_sim_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (rows-only: MLlib hash functions aren't
    SQL-expressible; recall vs the exact tier is asserted in tests)."""
    return S.ann_lsh_candidates(_emb(spark, sf_dir), _QUERY_IDS, k=10)


# --- X2: MinHash LSH near-dedup (rows-only) -------------------------------

def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _neardup_corpus(spark, sf_dir)
    return (D.minhash_near_dups(corpus, jaccard_distance=0.4)
            .orderBy("id_a", "id_b"))


# --- SimHash near-dedup (rows-only) ---------------------------------------

def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _neardup_corpus(spark, sf_dir)
    sigs = D.simhash_signature(corpus)
    return (D.simhash_candidates(sigs)
            .where(F.col("hamming") <= 3)
            .select("id_a", "id_b", "hamming")
            .orderBy("id_a", "id_b"))


# --- X5: multimodal -------------------------------------------------------

def q_mm_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = M.attach_binary_payload(_docs(spark, sf_dir))
    return (media.select("doc_id",
                         F.col("meta.mime").alias("mime"),
                         F.col("meta.n_bytes").alias("n_bytes"),
                         F.octet_length("payload").cast("long")
                         .alias("payload_bytes"))
            .orderBy("doc_id"))


ORACLE_MM_META = """
SELECT doc_id,
       'application/octet-stream' AS mime,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes
FROM documents ORDER BY doc_id
"""


def q_mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas decode plumbing — the Spark-side shape
    of any image/audio feature extractor.  VALUE-checked (round 4): the
    octet-stream fake derives features purely from the payload bytes,
    and the driver corpus is ASCII, so the oracle re-derives byte
    length, head hex, frame count and the 256-byte feature sum from the
    text itself."""
    media = M.attach_binary_payload(_docs(spark, sf_dir))
    return M.extract_features(media).orderBy("doc_id")


def q_mm_features_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow-NATIVE (mapInArrow) decode stage — same semantics as
    mm_features without the pandas conversion on either side of the
    Python boundary; the identical oracle pins that the two APIs are
    the same function."""
    media = M.attach_binary_payload(_docs(spark, sf_dir))
    return M.extract_features_arrow(media).orderBy("doc_id")


ORACLE_MM_FEATURES = """
-- assumes an ASCII corpus (verified for the driver testdata): then the
-- UTF-8 payload bytes ARE the character codes
WITH b AS (
  SELECT doc_id, strlen(text) AS n_bytes,
         lower(hex(substr(text, 1, 16))) AS head_hex,
         CAST(strlen(text) // 100 AS INT) AS n_frames,
         CAST((SELECT COALESCE(SUM(ascii(substr(d.text, i.i, 1))), 0)
               FROM range(1, 257) i(i)
               WHERE i.i <= length(d.text)) AS BIGINT) AS feature_sum
  FROM documents d)
SELECT doc_id, CAST(n_bytes AS BIGINT) AS n_bytes, head_hex, n_frames,
       feature_sum
FROM b ORDER BY doc_id
"""


# --- streaming: hourly micro-batch analog ---------------------------------

def q_stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming file source + 1 h tumbling window + watermark,
    run to completion with availableNow — the cron-pair replacement.
    Oracle: the equivalent batch hourly aggregate."""
    from ..sources.testdata import ensure_runtime_conf
    from ..streaming.hourly import hourly_counts_stream

    ensure_runtime_conf(spark)
    src_dir = _linked_table(sf_dir, "events")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = hourly_counts_stream(spark, src_dir, schema, ts_col="ts",
                                  ts_is_nanos=True)
    return (run_bounded(stream, spark, mode="complete", prefix="hourly")
            .orderBy("hour_start"))


ORACLE_STREAM_HOURLY = """
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start, COUNT(*) AS n,
       MIN(event_id) AS start_block, MAX(event_id) AS end_block
FROM events GROUP BY 1 ORDER BY 1
"""


# --- sessionization (custom stateful operator; batch semantics) -----------

def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions (30 min) — the batch reference semantics of the
    native ``session_window`` streaming operator in streaming/sessionize.py
    (the streaming variant is checked against this in tests)."""
    from ..streaming.sessionize import sessionize_batch

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    out = sessionize_batch(ev, gap_s=1800)
    return (out.select("user_id",
                       F.col("session_start").cast("timestamp_ntz"),
                       F.col("session_end").cast("timestamp_ntz"),
                       "n_events", "value_millis")
            .orderBy("user_id", "session_start"))


ORACLE_SESSIONIZE = """
WITH marked AS (
  SELECT user_id, ts,
         CAST(FLOOR(value * 1000) AS BIGINT) AS millis,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
sess AS (
  SELECT user_id, ts, millis,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked)
SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events, CAST(SUM(millis) AS BIGINT) AS value_millis
FROM sess GROUP BY user_id, session_id
ORDER BY user_id, session_start
"""


def ensure_sessionize_source(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the streaming check's two-file source (idempotent per
    sf_dir) and return its path.  Exposed so bench can run this fixture
    setup outside its timed window.

    Deterministic 1-in-5 user subset: the check exercises the
    stateful-streaming path (the batch ``sessionize`` entry is the
    oracle-checked full-data semantics); the subset keeps the one-time
    source write + per-user state proportional without changing what the
    check proves.
    """
    def build(src):
        ev = (load_table(spark, sf_dir, "events")
              .where(F.col("user_id") % 5 == 0)
              .select("user_id", "ts", "value"))
        ev.where(F.col("ts") < "2024-01-15").coalesce(1).write.parquet(src)
        ev.where(F.col("ts") >= "2024-01-15").coalesce(1) \
            .write.mode("append").parquet(src)
    return fixture_dir(sf_dir, "sess", build)


def q_sessionize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rows-only: the ``session_window`` streaming path itself —
    events split into two event-time-ordered files, processed as two
    micro-batches (maxFilesPerTrigger=1) plus the no-data flush batch, so
    the advancing watermark closes sessions whose last event + gap it
    has passed.  Deterministic file order ⇒ deterministic closed-session
    set (equal to the batch sessions that watermark closes, in tests)."""
    from ..streaming.sessionize import sessionize_stream

    src = ensure_sessionize_source(spark, sf_dir)
    stream_src = (spark.readStream.schema(spark.read.parquet(src).schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
    sessions = sessionize_stream(stream_src, gap_s=6 * 3600, watermark="1 hour")
    return (run_bounded(sessions, spark, mode="append", prefix="sess")
            .select("user_id",
                    F.col("session_start").cast("timestamp_ntz"),
                    F.col("session_end").cast("timestamp_ntz"),
                    "n_events", "value_millis")
            .orderBy("user_id", "session_start"))


def ensure_dedup_stream_source(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the dedup stream's one-file source (idempotent per
    sf_dir): the dup corpus with a synthetic event time spread over
    10 minutes."""
    return fixture_dir(sf_dir, "ddst", lambda src: (
        _dup_corpus(spark, sf_dir).select(
            "doc_id", "text",
            F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id") % 600)
            .alias("ts"))
        .coalesce(1).write.parquet(src)))


def q_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (streaming/dedup.py): the dup corpus
    (documents ∪ perturbed copies) flows through
    ``dropDuplicatesWithinWatermark`` on the content fingerprint in one
    availableNow run; every fingerprint survives exactly once.  Output
    projects to the fingerprint alone — the surviving *row* among equal-
    content copies is pick-any, the surviving fingerprint SET is exact —
    so the check is oracle-hashable despite the nondeterministic pick."""
    from ..streaming.dedup import dedup_stream

    src = ensure_dedup_stream_source(spark, sf_dir)
    stream_src = (spark.readStream
                  .schema(spark.read.parquet(src).schema).parquet(src))
    surv = dedup_stream(stream_src, ts_col="ts", text_col="text",
                        watermark="1 hour")
    # flush=False: dropDuplicatesWithinWatermark emits first-seen rows
    # on arrival; the no-data flush batch only evicts state (round-12)
    return (run_bounded(surv, spark, mode="append", prefix="ddst",
                        flush=False)
            .select("fp").orderBy("fp"))


ORACLE_DEDUP_STREAM = r"""
WITH corpus AS (
  SELECT text FROM documents
  UNION ALL
  SELECT upper(text) || '  ' FROM documents)
SELECT DISTINCT
       sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
FROM corpus ORDER BY fp
"""


def q_agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median per group over an integer domain — windowed
    middle-element average (interpolation of two bigints halves exactly
    in binary, so the double is engine-identical)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    m = ev.select("event_type", F.floor(F.col("value") * 1000).cast("long")
                  .alias("millis"))
    ranked = m.select(
        "event_type", "millis",
        F.row_number().over(Window.partitionBy("event_type")
                            .orderBy("millis")).alias("rn"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"))
    # middle element(s): odd n → rn*2 == n+1; even n → rn*2 ∈ {n, n+2}
    mid = ranked.where((F.col("rn") * 2 == F.col("n"))
                       | (F.col("rn") * 2 == F.col("n") + 1)
                       | (F.col("rn") * 2 == F.col("n") + 2))
    return (mid.groupBy("event_type")
            .agg((F.sum("millis") / F.count("*")).alias("median_millis"))
            .orderBy("event_type"))


ORACLE_AGG_MEDIAN = """
SELECT event_type, MEDIAN(CAST(FLOOR(value * 1000) AS BIGINT)) AS median_millis
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rows-only: IVF coarse-quantized ANN (KMeans cells + n_probe
    search) — recall vs the exact tier asserted in tests."""
    from ..operators.similarity import ann_ivf_topk

    return ann_ivf_topk(_emb(spark, sf_dir), _QUERY_IDS, k=10)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup *clusters*: transitive closure of the exact n-gram pair
    graph via iterative min-label propagation (operators/graph.py).  The
    oracle reproduces the closure with a recursive CTE."""
    from ..operators.graph import connected_components

    corpus = _neardup_corpus(spark, sf_dir)
    pairs = D.ngram_jaccard_pairs(corpus, threshold_tenths=6)
    return (connected_components(pairs)
            .select(F.col("node").alias("doc_id"),
                    F.col("component").alias("cluster_id"))
            .orderBy("doc_id"))


def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same closure via the O(log n)-round large-star/small-star scheme
    (diameter-independent; the scale path for chained components) —
    checked against the identical recursive-CTE oracle."""
    from ..operators.graph import connected_components

    corpus = _neardup_corpus(spark, sf_dir)
    pairs = D.ngram_jaccard_pairs(corpus, threshold_tenths=6)
    return (connected_components(pairs, algorithm="star")
            .select(F.col("node").alias("doc_id"),
                    F.col("component").alias("cluster_id"))
            .orderBy("doc_id"))


ORACLE_DEDUP_CLUSTERS = """
WITH RECURSIVE corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000,
         array_to_string(
           (regexp_extract_all(lower(text), '[a-z0-9]+'))
             [1:greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')) - 5, 1)],
           ' ')
  FROM documents WHERE doc_id % 10 = 0),
sh AS (
  SELECT DISTINCT doc_id AS id, UNNEST(
    CASE WHEN len(regexp_extract_all(lower(text), '[a-z0-9]+')) >= 3 THEN
      list_transform(
        range(1, len(regexp_extract_all(lower(text), '[a-z0-9]+')) - 1),
        i -> regexp_extract_all(lower(text), '[a-z0-9]+')[i] || ' '
          || regexp_extract_all(lower(text), '[a-z0-9]+')[i+1] || ' '
          || regexp_extract_all(lower(text), '[a-z0-9]+')[i+2])
    ELSE [] END) AS sh
  FROM corpus),
sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
  GROUP BY a.id, b.id),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
  WHERE 10 * inter >= 6 * (sa.sz + sb.sz - inter)),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
reach(src, node) AS (
  SELECT u, u FROM edges
  UNION
  SELECT r.src, e.v FROM reach r JOIN edges e ON e.u = r.node)
SELECT src AS doc_id, MIN(node) AS cluster_id
FROM reach GROUP BY src ORDER BY doc_id
"""


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 20-per-language sample — md5(id) stratum order is
    engine-portable, so the oracle reproduces the exact row set."""
    from ..operators.sampling import stratified_sample

    return (stratified_sample(_docs(spark, sf_dir), "lang", 20)
            .select("doc_id", "lang").orderBy("lang", "doc_id"))


ORACLE_SAMPLE_STRATIFIED = """
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
             AS rn
  FROM documents)
WHERE rn <= 20 ORDER BY lang, doc_id
"""


def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateless ~25% hash-fraction sample (md5 hex prefix < '40') —
    the no-shuffle scale tier."""
    from ..operators.sampling import hash_fraction_sample

    return (hash_fraction_sample(_docs(spark, sf_dir), "40")
            .select("doc_id").orderBy("doc_id"))


ORACLE_SAMPLE_HASH = """
SELECT doc_id FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40'
ORDER BY doc_id
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval overlap pairs: documents with doc_id % 97 == 0 play the
    benchmark set; pairs sharing >= 2 distinct 3-gram shingles."""
    d = _docs(spark, sf_dir)
    return (D.contamination_pairs(d.where(F.col("doc_id") % 97 != 0),
                                  d.where(F.col("doc_id") % 97 == 0),
                                  min_shared=2)
            .orderBy("train_id", "bench_id"))


ORACLE_DECONTAMINATE = """
WITH sh AS (
  SELECT DISTINCT doc_id, UNNEST(
    CASE WHEN len(regexp_extract_all(lower(text), '[a-z0-9]+')) >= 3 THEN
      list_transform(
        range(1, len(regexp_extract_all(lower(text), '[a-z0-9]+')) - 1),
        i -> regexp_extract_all(lower(text), '[a-z0-9]+')[i] || ' '
          || regexp_extract_all(lower(text), '[a-z0-9]+')[i+1] || ' '
          || regexp_extract_all(lower(text), '[a-z0-9]+')[i+2])
    ELSE [] END) AS sh
  FROM documents),
t AS (SELECT * FROM sh WHERE doc_id % 97 != 0),
b AS (SELECT * FROM sh WHERE doc_id % 97 = 0)
SELECT t.doc_id AS train_id, b.doc_id AS bench_id, COUNT(*) AS n_shared
FROM t JOIN b ON t.sh = b.sh
GROUP BY 1, 2 HAVING COUNT(*) >= 2
ORDER BY train_id, bench_id
"""


def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching: nearest levenshtein neighbor inside a
    BOUNDED compound blocking bucket — the standard record-linkage shape
    (block, then edit-distance only within blocks), with the block key
    chosen so no block degenerates to O(corpus):

    ``(lang, source, length(text) div 64, lower(substr(text, 1, 2)))``

    The length band and normalized 2-char prefix split the dominant
    ``('en', 'web')``-style buckets by content, so block size is governed
    by prefix/length entropy, not corpus size.  Max-block contract: the
    quadratic term is |block|² with |block| ≈ |corpus| /
    (|langs|·|sources|·|length bands|·|prefixes|); a corpus whose
    documents share prefix AND length band (adversarial near-duplicates)
    must route through the n-gram candidate generator
    (:func:`..operators.dedup.ngram_jaccard_pairs`) instead — edit
    distance on near-identical blocks is exactly the dedup problem.
    True nearest neighbors differing in their first 2 chars or across a
    length-band boundary are traded for the bound (by-design recall loss,
    mirrored in the oracle)."""
    d = _docs(spark, sf_dir)
    from pyspark.sql import Window

    pre = d.select("doc_id", "lang", "source",
                   F.floor(F.length("text") / F.lit(64)).alias("len_band"),
                   F.lower(F.substring("text", 1, 2)).alias("pre2"),
                   F.substring("text", 1, 30).alias("pre"))
    pairs = (pre.alias("a").join(
        pre.alias("b"),
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.source") == F.col("b.source"))
        & (F.col("a.len_band") == F.col("b.len_band"))
        & (F.col("a.pre2") == F.col("b.pre2"))
        & (F.col("a.doc_id") != F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_id"),
                F.col("b.doc_id").alias("neighbor_id"),
                F.levenshtein("a.pre", "b.pre").alias("dist")))
    w = Window.partitionBy("doc_id").orderBy("dist", "neighbor_id")
    return (pairs.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1).drop("rn")
            .orderBy("doc_id"))


ORACLE_FUZZY_MATCH = """
WITH pre AS (
  SELECT doc_id, lang, source,
         CAST(floor(length(text) / 64) AS BIGINT) AS len_band,
         lower(substr(text, 1, 2)) AS pre2,
         substr(text, 1, 30) AS pre FROM documents),
pairs AS (
  SELECT a.doc_id, b.doc_id AS neighbor_id,
         levenshtein(a.pre, b.pre) AS dist
  FROM pre a JOIN pre b
    ON a.lang = b.lang AND a.source = b.source
   AND a.len_band = b.len_band AND a.pre2 = b.pre2
   AND a.doc_id != b.doc_id)
SELECT doc_id, neighbor_id, dist FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY dist, neighbor_id) AS rn
  FROM pairs)
WHERE rn = 1 ORDER BY doc_id
"""


def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles (R-7, what both engines
    implement) over an integer domain: quartile fractions are dyadic, so
    x + f*(y-x) on bigints is exact in binary and hashes identically."""
    ev = load_table(spark, sf_dir, "events")
    m = ev.select("event_type",
                  F.floor(F.col("value") * 1000).cast("long").alias("millis"))
    return (m.groupBy("event_type")
            .agg(F.percentile("millis", 0.25).alias("p25"),
                 F.percentile("millis", 0.5).alias("p50"),
                 F.percentile("millis", 0.75).alias("p75"))
            .orderBy("event_type"))


ORACLE_AGG_PERCENTILE = """
SELECT event_type,
       quantile_cont(CAST(FLOOR(value * 1000) AS BIGINT), 0.25) AS p25,
       quantile_cont(CAST(FLOOR(value * 1000) AS BIGINT), 0.5)  AS p50,
       quantile_cont(CAST(FLOOR(value * 1000) AS BIGINT), 0.75) AS p75
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_emb_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid in exact integer form: element sums
    of FLOOR(x*1e6) micros (order-free bigint math — the float mean is
    s/n/1e6, derivable without cross-engine summation-order drift).
    posexplode keeps this one narrow explode + one combining groupBy."""
    e = _emb(spark, sf_dir)
    ex = e.select("label", F.posexplode("embedding").alias("pos0", "val"))
    return (ex.groupBy("label", (F.col("pos0") + 1).alias("pos"))
            .agg(F.sum(F.floor(F.col("val") * 1000000).cast("long"))
                 .alias("sum_micros"),
                 F.count("*").alias("n"))
            .orderBy("label", "pos"))


ORACLE_EMB_CENTROID = """
SELECT label, i AS pos,
       CAST(SUM(CAST(FLOOR(embedding[i] * 1000000) AS BIGINT)) AS BIGINT)
           AS sum_micros,
       COUNT(*) AS n
FROM embeddings, range(1, 65) t(i)
GROUP BY label, i ORDER BY label, pos
"""


def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join (click→purchase attribution ≤ 1 h) run
    with availableNow over a single-file source — one micro-batch, so
    the append-mode result equals the batch join exactly and the batch
    SQL is a true oracle (with multi-batch input, rows later than an
    advanced watermark could legitimately be dropped; single-batch input
    sidesteps that by construction)."""
    from ..sources.testdata import ensure_runtime_conf
    from ..streaming.join import attribution_join

    ensure_runtime_conf(spark)
    src_dir = _linked_table(sf_dir, "events")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    src = spark.readStream.schema(schema).parquet(src_dir)
    joined = attribution_join(
        src.where(F.col("event_type") == "click"),
        src.where(F.col("event_type") == "purchase"))
    # flush=False: inner join — every match emits in the data batch
    # that produced it; the no-data flush batch would pay a planning +
    # commit + state-store lifecycle round to emit nothing (round-12,
    # guide §1.2 — the streaming family's fixed cost)
    return (run_bounded(joined, spark, prefix="ssj", flush=False)
            .orderBy("user_id", "click_id", "purchase_id"))


ORACLE_STREAM_JOIN = """
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
       CAST(c.ts AS TIMESTAMP) AS click_ts,
       CAST(p.ts AS TIMESTAMP) AS purchase_ts
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
ORDER BY c.user_id, click_id, purchase_id
"""


def ensure_stream_join_outer_source(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the outer-join check's two-file source (idempotent
    per sf_dir): the click/purchase subset of events, then a sentinel
    click+purchase pair (user −1) far enough past the horizon
    (within 1 h + watermark 2 h + margin) that the advancing watermark
    closes over every real click — so every unmatched click's null row
    is emitted before availableNow terminates, making the streaming
    result equal the batch left join (the oracle)."""
    from datetime import timedelta

    def build(src):
        ev = (load_table(spark, sf_dir, "events")
              .where(F.col("event_type").isin("click", "purchase"))
              .select("event_id", "user_id", "event_type", "ts"))
        ev.coalesce(1).write.parquet(src)
        max_ts = ev.agg(F.max("ts")).collect()[0][0]  # bounded: 1 row
        flush_ts = max_ts + timedelta(hours=4)
        sentinel = spark.createDataFrame(
            [(-10, -1, "click", flush_ts), (-11, -1, "purchase", flush_ts)],
            ev.schema)
        sentinel.coalesce(1).write.mode("append").parquet(src)
    return fixture_dir(sf_dir, "ssjo", build)


def q_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join: clicks with a purchase within 1 h
    match; clicks without one emit a null-extended row once the
    watermark proves no match can arrive.  The sentinel rows close the
    watermark over all real data, so the emitted set is exactly the
    batch left join — oracle-checked, nulls included.  No per-file
    trigger throttle: the watermark computed from the single data
    batch (which includes the sentinel) already closes over every real
    click, and availableNow's final no-data micro-batch flushes the
    null-extended state — one data batch + one flush batch instead of
    per-file batches × state-store commit cycles (measured ~2 s
    saved; results identical)."""
    from ..streaming.join import attribution_join

    src = ensure_stream_join_outer_source(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    out = run_bounded(attribution_join(
        stream.where(F.col("event_type") == "click"),
        stream.where(F.col("event_type") == "purchase"),
        how="leftOuter"), spark, prefix="ssj")
    return (out.where(F.col("user_id") >= 0)   # drop the sentinel pair
            .orderBy("user_id", "click_id", "purchase_id"))


ORACLE_STREAM_JOIN_OUTER = """
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
       CAST(c.ts AS TIMESTAMP) AS click_ts,
       CAST(p.ts AS TIMESTAMP) AS purchase_ts
FROM events c LEFT JOIN events p
  ON c.user_id = p.user_id AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
WHERE c.event_type = 'click'
ORDER BY c.user_id, click_id, purchase_id
"""


def q_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time window (1 h window, 30 min slide) — the same
    ``F.window`` operator streaming uses, exercised in batch where the
    oracle is exact: every event lands in exactly window/slide = 2
    windows, so the oracle unnests the two candidate starts."""
    ev = load_table(spark, sf_dir, "events")
    return (ev.groupBy(F.window(F.col("ts").cast("timestamp"),
                                "1 hour", "30 minutes").alias("w"))
            .agg(F.count("*").alias("n"),
                 F.sum(F.floor(F.col("value") * 1000).cast("long"))
                 .alias("value_millis"))
            .select(F.col("w.start").cast("timestamp_ntz").alias("w_start"),
                    "n", "value_millis")
            .orderBy("w_start"))


ORACLE_WINDOW_SLIDING = """
WITH b AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS b0, value FROM events),
e AS (
  SELECT UNNEST([b0, b0 - INTERVAL '30 minutes']) AS w_start, value FROM b)
SELECT CAST(w_start AS TIMESTAMP) AS w_start, COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT)
           AS value_millis
FROM e GROUP BY w_start ORDER BY w_start
"""


def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in ``session_window`` (gap-based, 6 h) per user — the batch
    form of the window the streaming sessionizer runs (there at gap +
    1 µs); window.end = last event + gap, which the oracle reproduces
    from the island grouping."""
    ev = load_table(spark, sf_dir, "events")
    return (ev.groupBy("user_id",
                       F.session_window(F.col("ts").cast("timestamp"),
                                        "6 hours").alias("w"))
            .agg(F.count("*").alias("n_events"))
            .select("user_id",
                    F.col("w.start").cast("timestamp_ntz").alias("sess_start"),
                    F.col("w.end").cast("timestamp_ntz").alias("sess_end"),
                    "n_events")
            .orderBy("user_id", "sess_start"))


ORACLE_SESSION_WINDOW = """
WITH marked AS (
  SELECT user_id, ts,
         -- >= (not >): Spark's session_window ends EXCLUSIVELY at
         -- last_event + gap, so an event exactly gap after its
         -- predecessor starts a new session
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL '6 hours' OR
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM events),
sess AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked)
SELECT user_id, CAST(MIN(ts) AS TIMESTAMP) AS sess_start,
       CAST(MAX(ts) + INTERVAL '6 hours' AS TIMESTAMP) AS sess_end,
       COUNT(*) AS n_events
FROM sess GROUP BY user_id, sid ORDER BY user_id, sess_start
"""


def q_udtf_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF via LATERAL join: sentence segmentation per document
    (Spark 4 user-defined table function surface).  The oracle
    reproduces the split with a bounded position join; empty segments
    are skipped on both sides."""
    from ..operators.text import register_split_sentences_udtf

    register_split_sentences_udtf(spark)
    _docs(spark, sf_dir).createOrReplaceTempView("udtf_docs_v")
    return spark.sql("""
        SELECT doc_id, f.sent_idx, f.sentence
        FROM udtf_docs_v, LATERAL split_sentences(text) f
        ORDER BY doc_id, sent_idx""")


ORACLE_UDTF_SENTENCES = r"""
WITH arrs AS (
  SELECT doc_id, regexp_split_to_array(text, '\. ') AS arr FROM documents)
SELECT doc_id, CAST(g.i - 1 AS INT) AS sent_idx, arr[g.i] AS sentence
FROM arrs CROSS JOIN generate_series(1, 10000) g(i)
WHERE g.i <= len(arr) AND arr[g.i] != ''
ORDER BY doc_id, sent_idx
"""


EXTENSION_CHECKS: dict[str, tuple] = {
    "stream_join": (q_stream_join, ORACLE_STREAM_JOIN),
    "stream_join_outer": (q_stream_join_outer, ORACLE_STREAM_JOIN_OUTER),
    "window_sliding": (q_window_sliding, ORACLE_WINDOW_SLIDING),
    "session_window": (q_session_window, ORACLE_SESSION_WINDOW),
    "udtf_sentences": (q_udtf_sentences, ORACLE_UDTF_SENTENCES),
    "sessionize": (q_sessionize, ORACLE_SESSIONIZE),
    "sessionize_stream": (q_sessionize_stream, None),
    "dedup_stream": (q_dedup_stream, ORACLE_DEDUP_STREAM),
    "agg_median": (q_agg_median, ORACLE_AGG_MEDIAN),
    "sim_ivf": (q_sim_ivf, None),
    "text_stats": (q_text_stats, ORACLE_TEXT_STATS),
    "token_count": (q_token_count, ORACLE_TOKEN_COUNT),
    "lang_id": (q_lang_id, ORACLE_LANG_ID),
    "quality_score": (q_quality_score, ORACLE_QUALITY_SCORE),
    "dedup_exact": (q_dedup_exact, ORACLE_DEDUP_EXACT),
    "dedup_fingerprint": (q_dedup_fingerprint, ORACLE_DEDUP_FINGERPRINT),
    "dedup_ngram": (q_dedup_ngram, ORACLE_DEDUP_NGRAM),
    "dedup_clusters": (q_dedup_clusters, ORACLE_DEDUP_CLUSTERS),
    "dedup_clusters_star": (q_dedup_clusters_star, ORACLE_DEDUP_CLUSTERS),
    "sample_stratified": (q_sample_stratified, ORACLE_SAMPLE_STRATIFIED),
    "sample_hash": (q_sample_hash, ORACLE_SAMPLE_HASH),
    "decontaminate": (q_decontaminate, ORACLE_DECONTAMINATE),
    "fuzzy_match": (q_fuzzy_match, ORACLE_FUZZY_MATCH),
    "repetition_stats": (q_repetition_stats, ORACLE_REPETITION_STATS),
    "agg_percentile": (q_agg_percentile, ORACLE_AGG_PERCENTILE),
    "emb_centroid": (q_emb_centroid, ORACLE_EMB_CENTROID),
    "embed_neardup": (q_embed_neardup, ORACLE_EMBED_NEARDUP),
    "sim_topk": (q_sim_topk, ORACLE_SIM_TOPK),
    "sim_lsh": (q_sim_lsh, None),
    "dedup_minhash": (q_dedup_minhash, None),
    "dedup_simhash": (q_dedup_simhash, None),
    "mm_meta": (q_mm_meta, ORACLE_MM_META),
    "mm_features": (q_mm_features, ORACLE_MM_FEATURES),
    "mm_features_arrow": (q_mm_features_arrow, ORACLE_MM_FEATURES),
    "stream_hourly": (q_stream_hourly, ORACLE_STREAM_HOURLY),
}


# --- segment-level corpus dedup (C4-style line dedup) ---------------------

def q_dedup_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide segment dedup: 4-word segments, first occurrence (by
    (doc_id, position)) wins, survivors reassembled per doc.  See
    operators.dedup.dedup_chunks for the two-shuffle scale shape."""
    from ..operators.dedup import dedup_chunks

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup_chunks(docs, chunk_words=4).orderBy("doc_id")


ORACLE_DEDUP_CHUNKS = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
seg AS (
  SELECT doc_id, CAST(FLOOR((i - 1) / 4) AS BIGINT) AS chunk_idx,
         string_agg(words[i], ' ' ORDER BY i) AS chunk
  FROM w, UNNEST(range(1, len(words) + 1)) AS t(i)
  GROUP BY 1, 2),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY chunk
                               ORDER BY doc_id, chunk_idx) AS rn
  FROM seg),
totals AS (SELECT doc_id, COUNT(*) AS n_chunks FROM seg GROUP BY 1)
SELECT r.doc_id,
       string_agg(r.chunk, ' ' ORDER BY r.chunk_idx) AS clean_text,
       COUNT(*) AS n_kept, ANY_VALUE(t.n_chunks) AS n_chunks
FROM ranked r JOIN totals t ON t.doc_id = r.doc_id
WHERE r.rn = 1
GROUP BY r.doc_id
ORDER BY r.doc_id
"""


EXTENSION_CHECKS["dedup_chunks"] = (q_dedup_chunks, ORACLE_DEDUP_CHUNKS)
EXTENSION_CHECKS["dedup_semantic"] = (q_dedup_semantic,
                                      ORACLE_DEDUP_SEMANTIC)
EXTENSION_CHECKS["dedup_semantic_inc"] = (q_dedup_semantic_inc,
                                          ORACLE_DEDUP_SEMANTIC_INC)
EXTENSION_CHECKS["decontaminate_semantic"] = (
    q_decontaminate_semantic, ORACLE_DECONTAMINATE_SEMANTIC)


# --- stream-static enrichment join ----------------------------------------

def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateless stream-static join: the events stream enriched with the
    customer dimension (broadcast), run to completion with availableNow.
    No watermark, no state — every micro-batch is a fresh broadcast
    join, so the streaming result equals the batch join exactly and the
    batch SQL is a strict oracle."""
    from ..sources.testdata import ensure_runtime_conf
    from ..streaming.enrich import enrich_with_dim

    ensure_runtime_conf(spark)
    src_dir = _linked_table(sf_dir, "events")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = spark.readStream.schema(schema).parquet(src_dir)
    dim = load_table(spark, sf_dir, "customer")
    enriched = enrich_with_dim(
        stream.select("event_id", "user_id", "event_type",
                      F.col("ts").cast("timestamp").alias("ts")),
        dim, "user_id", "c_custkey", ["c_mktsegment", "c_nationkey"])
    out = run_bounded(enriched, spark, prefix="ssj")
    return (out.select("event_id", "user_id", "event_type",
                       F.col("ts").cast("timestamp_ntz").alias("ts"),
                       "c_mktsegment", "c_nationkey")
            .orderBy("event_id"))


ORACLE_STREAM_ENRICH = """
SELECT e.event_id, e.user_id, e.event_type, CAST(e.ts AS TIMESTAMP) AS ts,
       c.c_mktsegment, c.c_nationkey
FROM events e JOIN customer c ON e.user_id = c.c_custkey
ORDER BY e.event_id
"""


EXTENSION_CHECKS["stream_enrich"] = (q_stream_enrich, ORACLE_STREAM_ENRICH)


# --- integer-scaled PageRank (iterative algorithm, oracle-exact) ----------

_PR_ITER_SQL = """
SELECT n.node,
       CAST(150000 + (85 * COALESCE(SUM(s.score // d.deg), 0)) // 100
            AS BIGINT) AS score
FROM pr_nodes n
LEFT JOIN pr_edges e ON e.dst = n.node
LEFT JOIN {prev} s ON s.node = e.src
LEFT JOIN pr_outdeg d ON d.src = e.src
GROUP BY n.node"""


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration integer PageRank over the bidirectional supplier↔part
    co-occurrence graph (supplier ids offset to avoid key collision).
    Exact integer math makes the iterative algorithm oracle-checkable
    via unrolled CTE iterations — see operators.graph.pagerank_int."""
    from ..operators.graph import pagerank_int

    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select((F.col("l_suppkey") + F.lit(10_000_000)).alias("s"),
                      F.col("l_partkey").alias("p"))
    edges = (pairs.select(F.col("s").alias("src"), F.col("p").alias("dst"))
             .union(pairs.select(F.col("p").alias("src"),
                                 F.col("s").alias("dst"))))
    # no pre-distinct: pagerank_int's own dedup runs CO-LOCATED behind
    # its hash(src) repartition, so deduping there saves the standalone
    # distinct's whole shuffle (oracle: DISTINCT pairs → same edge set)
    return (pagerank_int(edges, n_iter=3)
            .orderBy(F.col("score").desc(), "node").limit(50))


ORACLE_PAGERANK = f"""
WITH pairs AS (SELECT DISTINCT l_suppkey + 10000000 AS s, l_partkey AS p
               FROM lineitem),
pr_edges AS (SELECT s AS src, p AS dst FROM pairs
             UNION ALL SELECT p, s FROM pairs),
pr_nodes AS (SELECT DISTINCT src AS node FROM pr_edges),
pr_outdeg AS (SELECT src, COUNT(*) AS deg FROM pr_edges GROUP BY 1),
s0 AS (SELECT node, CAST(1000000 AS BIGINT) AS score FROM pr_nodes),
i1 AS ({_PR_ITER_SQL.format(prev="s0")}),
i2 AS ({_PR_ITER_SQL.format(prev="i1")}),
i3 AS ({_PR_ITER_SQL.format(prev="i2")})
SELECT node, score FROM i3 ORDER BY score DESC, node LIMIT 50
"""


EXTENSION_CHECKS["pagerank"] = (q_pagerank, ORACLE_PAGERANK)


# --- portable-hash MinHash / SimHash (exact oracles) ----------------------
# The MLlib MinHash and xxhash64 SimHash paths use engine-private hash
# functions, so their checks are rows-only by nature.  These variants
# derive the hash family from md5 — computable bit-identically in any
# engine — which makes the ENTIRE LSH pipeline (shingle → signature →
# band → bucket join → verify) exactly oracle-checkable.

def q_dedup_minhash_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _neardup_corpus(spark, sf_dir)
    return (D.minhash_exact_pairs(corpus, n_hashes=8, band_rows=2)
            .orderBy("id_a", "id_b"))


_MH_CORPUS = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000,
         array_to_string(
           (regexp_extract_all(lower(text), '[a-z0-9]+'))
             [1:greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')) - 5, 1)],
           ' ')
  FROM documents WHERE doc_id % 10 = 0)
"""

ORACLE_DEDUP_MINHASH_EXACT = f"""
WITH {_MH_CORPUS},
tk AS (SELECT doc_id AS id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
       FROM corpus),
sh AS (
  SELECT DISTINCT id, UNNEST(
    CASE WHEN len(t) >= 3 THEN
      list_transform(range(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
    ELSE [] END) AS sh
  FROM tk),
hh AS (SELECT id, md5('0|' || sh) AS h0, md5('1|' || sh) AS h1 FROM sh),
mh AS (SELECT id, s.seed,
              min(substr(CASE WHEN s.seed < 4 THEN h0 ELSE h1 END,
                         1 + 8 * (s.seed % 4), 8)) AS mh
       FROM hh CROSS JOIN generate_series(0, 7) s(seed)
       GROUP BY id, s.seed),
bands AS (SELECT id, seed // 2 AS band_id,
                 string_agg(mh, ',' ORDER BY seed) AS band_sig
          FROM mh GROUP BY id, seed // 2)
SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_shared_bands
FROM bands a
JOIN bands b ON a.band_id = b.band_id AND a.band_sig = b.band_sig
            AND a.id < b.id
GROUP BY a.id, b.id
ORDER BY id_a, id_b
"""


def q_dedup_simhash_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _neardup_corpus(spark, sf_dir)
    return (D.simhash_exact_pairs(corpus, max_hamming=2)
            .orderBy("id_a", "id_b"))


_SH_HAMMING = ("len(list_filter(range(1, 33), "
               "i -> substr(sa, i, 1) != substr(sb, i, 1)))")

ORACLE_DEDUP_SIMHASH_EXACT = f"""
WITH {_MH_CORPUS},
tk AS (SELECT doc_id AS id, UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
       FROM corpus),
tc AS (SELECT id, md5(tok) AS h, CAST(COUNT(*) AS BIGINT) AS cnt
       FROM tk GROUP BY id, tok),
bitsum AS (
  SELECT id, g.i,
         SUM(CASE WHEN substr(h, g.i, 1) IN ('8','9','a','b','c','d','e','f')
                  THEN cnt ELSE -cnt END) AS s
  FROM tc CROSS JOIN generate_series(1, 32) g(i)
  GROUP BY id, g.i),
sig AS (SELECT id, string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END,
                              '' ORDER BY i) AS sig
        FROM bitsum GROUP BY id),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sig AS sa, b.sig AS sb
  FROM sig a JOIN sig b ON a.id < b.id AND (
       substr(a.sig, 1, 8) = substr(b.sig, 1, 8)
    OR substr(a.sig, 9, 8) = substr(b.sig, 9, 8)
    OR substr(a.sig, 17, 8) = substr(b.sig, 17, 8)
    OR substr(a.sig, 25, 8) = substr(b.sig, 25, 8)))
SELECT id_a, id_b, CAST({_SH_HAMMING} AS BIGINT) AS hamming
FROM cand
WHERE {_SH_HAMMING} <= 2
ORDER BY id_a, id_b
"""


def q_sparse_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (S.sparse_cosine_pairs(_docs(spark, sf_dir),
                                  threshold_millis=650)
            .orderBy("id_a", "id_b"))


ORACLE_SPARSE_COSINE = """
WITH tk AS (SELECT source AS blk, doc_id AS id,
                   UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
            FROM documents),
tc AS (SELECT blk, id, tok, CAST(COUNT(*) AS BIGINT) AS cnt
       FROM tk GROUP BY blk, id, tok),
norms AS (SELECT id, SUM(cnt * cnt) AS nsq FROM tc GROUP BY id),
dots AS (
  SELECT a.id AS id_a, b.id AS id_b, SUM(a.cnt * b.cnt) AS dot
  FROM tc a JOIN tc b ON a.blk = b.blk AND a.tok = b.tok AND a.id < b.id
  GROUP BY a.id, b.id)
SELECT id_a, id_b, CAST(dot AS BIGINT) AS dot,
       CAST(dot AS DOUBLE)
         / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE)))
         AS cosine
FROM dots JOIN norms na ON id_a = na.id JOIN norms nb ON id_b = nb.id
WHERE CAST(dot AS DOUBLE)
        / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE)))
      >= 650 / 1000.0
ORDER BY id_a, id_b
"""


EXTENSION_CHECKS["dedup_minhash_exact"] = (
    q_dedup_minhash_exact, ORACLE_DEDUP_MINHASH_EXACT)
EXTENSION_CHECKS["dedup_simhash_exact"] = (
    q_dedup_simhash_exact, ORACLE_DEDUP_SIMHASH_EXACT)
EXTENSION_CHECKS["sparse_cosine"] = (q_sparse_cosine, ORACLE_SPARSE_COSINE)


# --- n-gram novelty (diversity / anti-boilerplate metric) -----------------

def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.ngram_novelty(_docs(spark, sf_dir)).orderBy("doc_id")


ORACLE_NGRAM_NOVELTY = """
WITH tk AS (SELECT doc_id AS id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
            FROM documents),
sh AS (
  SELECT DISTINCT id, UNNEST(
    CASE WHEN len(t) >= 2 THEN
      list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
    ELSE [] END) AS sh
  FROM tk),
dfc AS (SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh)
SELECT id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_ngrams,
       CAST(COUNT(*) FILTER (WHERE df = 1) AS BIGINT) AS n_novel
FROM sh JOIN dfc USING (sh)
GROUP BY id ORDER BY doc_id
"""


EXTENSION_CHECKS["ngram_novelty"] = (q_ngram_novelty, ORACLE_NGRAM_NOVELTY)


# --- compression-ratio quality signal (rows-only: zlib has no SQL twin) ---

def q_compress_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.compression_ratio(_docs(spark, sf_dir)).orderBy("doc_id")


EXTENSION_CHECKS["compress_ratio"] = (q_compress_ratio, None)


# --- triangle counting (graph structure beyond CC / PageRank) -------------

def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the part-co-purchase graph (parts
    sharing an order).  Pair generation is ONE map-side-combining
    groupBy (collect_set per order) + a narrow HOF pair expansion — not
    a lineitem self-join, which would shuffle the fact table twice;
    group width is bounded by order size, so the C(n,2) fan-out is
    constant-bounded per row.  Degree-ordered orientation then bounds
    the wedge self-join at m^1.5 — see operators.graph.triangle_counts."""
    from ..operators.graph import triangle_counts

    li = load_table(spark, sf_dir, "lineitem")
    pairs = (li.groupBy("l_orderkey")
             .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
             .select(F.explode(F.expr(
                 "flatten(transform(ps, (x, i) -> "
                 "transform(slice(ps, i + 2, size(ps) - i - 1), "
                 "y -> struct(x AS id_a, y AS id_b))))")).alias("p"))
             .select("p.id_a", "p.id_b").distinct()
             # eager checkpoint: the operator reads the edge set from
             # two plan branches (degree build + orientation probe) —
             # one materialization of the 2-long rows beats running the
             # collect_set + HOF pair expansion twice
             .localCheckpoint(eager=True))
    # |V| <= |part| (bounded dimension) -> the degree table broadcasts
    return (triangle_counts(pairs, assume_canonical=True,
                            broadcast_degrees=True)
            .orderBy(F.col("n_triangles").desc(), "node").limit(100))


ORACLE_TRIANGLE_COUNT = """
WITH e AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM lineitem x JOIN lineitem y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
tri AS (
  SELECT e1.a AS ta, e1.b AS tb, e2.b AS tc
  FROM e e1
  JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
pern AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM (SELECT ta AS node FROM tri UNION ALL
        SELECT tb FROM tri UNION ALL SELECT tc FROM tri)
  GROUP BY node)
SELECT node, n_triangles FROM pern
ORDER BY n_triangles DESC, node LIMIT 100
"""


EXTENSION_CHECKS["triangle_count"] = (q_triangle_count, ORACLE_TRIANGLE_COUNT)


# --- Gopher-rule composite quality filter ---------------------------------

def q_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.gopher_filter(_docs(spark, sf_dir)).orderBy("doc_id")


ORACLE_GOPHER_FILTER = rf"""
WITH scalar AS (
  SELECT doc_id,
         LENGTH(text) AS nc,
         len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS nt,
         len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS np,
         len(regexp_extract_all(lower(text), '\b({_ALL_STOPS})\b')) AS ns
  FROM documents),
toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
  FROM documents),
unid AS (SELECT doc_id, COUNT(*) AS n_distinct_tokens
         FROM (SELECT doc_id, t FROM (SELECT doc_id, UNNEST(tk) AS t
               FROM toks) GROUP BY doc_id, t) GROUP BY doc_id),
bi_term AS (
  SELECT doc_id, t, COUNT(*) AS c
  FROM (SELECT doc_id, UNNEST(
          CASE WHEN len(tk) >= 2 THEN
            list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
          ELSE [] END) AS t
        FROM toks) GROUP BY doc_id, t),
bi AS (SELECT doc_id, SUM(c) AS n_2grams, MAX(c) AS top_2gram_n
       FROM bi_term GROUP BY doc_id),
f AS (
  SELECT s.doc_id, s.nc, s.nt, s.np, s.ns,
         COALESCE(u.n_distinct_tokens, 0) AS ndt,
         COALESCE(b.n_2grams, 0) AS n2,
         COALESCE(b.top_2gram_n, 0) AS t2
  FROM scalar s
  LEFT JOIN unid u ON u.doc_id = s.doc_id
  LEFT JOIN bi b ON b.doc_id = s.doc_id)
SELECT doc_id,
       CAST(CASE WHEN NOT (nt >= 10 AND nt <= 100000) THEN 1 ELSE 0 END
          + CASE WHEN NOT (nc >= 3 * nt AND nc < 12 * nt) THEN 2 ELSE 0 END
          + CASE WHEN 5 * np > nc THEN 4 ELSE 0 END
          + CASE WHEN ns = 0 THEN 8 ELSE 0 END
          + CASE WHEN 2 * ndt < nt THEN 16 ELSE 0 END
          + CASE WHEN 5 * t2 > n2 THEN 32 ELSE 0 END AS INT) AS failed,
       (CASE WHEN NOT (nt >= 10 AND nt <= 100000) THEN 1 ELSE 0 END
          + CASE WHEN NOT (nc >= 3 * nt AND nc < 12 * nt) THEN 2 ELSE 0 END
          + CASE WHEN 5 * np > nc THEN 4 ELSE 0 END
          + CASE WHEN ns = 0 THEN 8 ELSE 0 END
          + CASE WHEN 2 * ndt < nt THEN 16 ELSE 0 END
          + CASE WHEN 5 * t2 > n2 THEN 32 ELSE 0 END) = 0 AS keep
FROM f ORDER BY doc_id
"""


EXTENSION_CHECKS["gopher_filter"] = (q_gopher_filter, ORACLE_GOPHER_FILTER)


# --- Bloom-prefiltered semi-join ------------------------------------------

def q_bloom_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-stream semi-join against a medium key set through the
    DataFrame-native Bloom prefilter (functions.bloom): broadcast
    bit-array probe cuts the fact side pre-exchange; the exact join over
    survivors makes the result identical to the plain semi-join the
    oracle runs (Bloom filters have no false negatives)."""
    from ..functions.bloom import bloom_semi_join

    li = load_table(spark, sf_dir, "lineitem")
    urgent = (load_table(spark, sf_dir, "orders")
              .where(F.col("o_orderpriority") == "1-URGENT")
              .select(F.col("o_orderkey").alias("l_orderkey")))
    return (bloom_semi_join(li, urgent, "l_orderkey")
            .groupBy("l_returnflag")
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"))
            .orderBy("l_returnflag"))


ORACLE_BLOOM_SEMI = """
SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                     WHERE o_orderpriority = '1-URGENT')
GROUP BY l_returnflag ORDER BY l_returnflag
"""


EXTENSION_CHECKS["bloom_semi"] = (q_bloom_semi, ORACLE_BLOOM_SEMI)


# --- product-quantization ANN (ADC scoring, integer-exact) ----------------

def q_sim_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (S.pq_topk(_emb(spark, sf_dir), query_ids=[1, 2, 3], k=10)
            .orderBy("query_id", "rank"))


ORACLE_SIM_PQ = """
WITH q8 AS (
  SELECT vec_id,
         CASE WHEN m = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
              ELSE list_transform(embedding,
                     x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / m) AS BIGINT))
         END AS q
  FROM (SELECT vec_id, embedding,
               list_max(list_transform(embedding,
                        x -> abs(CAST(x AS DOUBLE)))) AS m
        FROM embeddings)),
anch AS (
  SELECT q AS aq,
         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
           - 1 AS arank
  FROM q8
  QUALIFY arank < 8),
subdist AS (
  SELECT v.vec_id, t.s, a.arank,
         list_sum(list_transform(range(1, 17),
           i -> (v.q[t.s * 16 + i] - a.aq[t.s * 16 + i])
              * (v.q[t.s * 16 + i] - a.aq[t.s * 16 + i]))) AS dist
  FROM q8 v, range(4) t(s), anch a),
codes AS (
  SELECT vec_id, s, arank AS code
  FROM subdist
  QUALIFY row_number() OVER (PARTITION BY vec_id, s
                             ORDER BY dist, arank) = 1),
lut AS (
  SELECT vec_id AS query_id, s, arank, dist
  FROM subdist WHERE vec_id IN (1, 2, 3)),
adc AS (
  SELECT l.query_id, c.vec_id, CAST(SUM(l.dist) AS BIGINT) AS approx_dist
  FROM codes c JOIN lut l ON l.s = c.s AND l.arank = c.code
  WHERE l.query_id != c.vec_id
  GROUP BY l.query_id, c.vec_id)
SELECT query_id, vec_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY approx_dist, vec_id) AS INT) AS rank,
       approx_dist
FROM adc
QUALIFY rank <= 10
ORDER BY query_id, rank
"""


EXTENSION_CHECKS["sim_pq"] = (q_sim_pq, ORACLE_SIM_PQ)


#: build parameters baked into the cached index; with the builder
#: version they form its fixture tag — bump the ``v1`` when
#: build_pq_index's quantization or layout changes
_PQ_BUILD_PARAMS = {"m_sub": 4, "n_anchors": 8, "dim": 64}
_PQ_TAG = "pq_index_v1_" + "_".join(f"{k}{v}" for k, v
                                    in sorted(_PQ_BUILD_PARAMS.items()))


def ensure_pq_index(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the PQ index for ``sf_dir`` once (idempotent — the
    production cadence: an index is BUILT on corpus change and SERVED
    many times).  The build parameters and a builder version form the
    fixture tag, so a parameter or quantization change invalidates the
    cache instead of serving a stale index (regenerated testdata does
    too: :func:`fixture_dir` keys on it)."""
    return fixture_dir(sf_dir, _PQ_TAG, lambda out: (
        S.build_pq_index(_emb(spark, sf_dir), out, **_PQ_BUILD_PARAMS)))


def q_sim_pq_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ index persistence round-trip: serve from the parquet index
    (codes + codebook) with the query vectors arriving from outside
    the session (driver-side int8 quantization, identical float64
    math) — the result must be bit-identical to the in-session PQ
    operator, so ORACLE_SIM_PQ is reused verbatim.  What this pins:
    the serving shape (columnar scan of stored codes, no raw vectors
    touched at query time) loses nothing through the parquet
    round-trip.  The build runs once per sf_dir via
    :func:`ensure_pq_index` (round-5 verdict: timing the build + write
    + re-read inside the check mis-attributed ~6 s of one-time index
    I/O to the query path); ``exclude_self=True`` because these query
    ids ARE corpus rows — matching the oracle's self-exclusion."""
    emb = _emb(spark, sf_dir)
    path = ensure_pq_index(spark, sf_dir)
    qvecs = {int(r["vec_id"]): [float(x) for x in r["embedding"]]
             for r in emb.where(F.col("vec_id").isin([1, 2, 3]))
             .collect()}
    return (S.query_pq_index(spark, path, qvecs, k=10, exclude_self=True)
            .orderBy("query_id", "rank"))


EXTENSION_CHECKS["sim_pq_index"] = (q_sim_pq_index, ORACLE_SIM_PQ)


# --- corpus-level source-overlap matrix (group MinHash) -------------------

def q_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (D.source_minhash_similarity(_docs(spark, sf_dir), n_hashes=16)
            .orderBy("src_a", "src_b"))


ORACLE_SOURCE_SIMILARITY = """
WITH tk AS (SELECT source AS g, doc_id,
                   regexp_extract_all(lower(text), '[a-z0-9]+') AS t
            FROM documents),
sh0 AS (
  SELECT g, UNNEST(
    CASE WHEN len(t) >= 3 THEN
      list_transform(range(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
    ELSE [] END) AS s0
  FROM tk),
sh AS (SELECT DISTINCT g, substr(md5(s0), 1, 16) AS sh FROM sh0),
sigs AS (
  SELECT g, {mins}
  FROM sh GROUP BY g),
pairs AS (
  SELECT a.g AS src_a, b.g AS src_b,
         {match_sum} AS n_match
  FROM sigs a JOIN sigs b ON a.g < b.g)
SELECT src_a, src_b, CAST(n_match AS INT) AS n_match,
       CAST(n_match AS DOUBLE) / 16 AS jaccard_est
FROM pairs ORDER BY src_a, src_b
""".format(
    mins=",\n         ".join(
        f"MIN(md5('{s}|' || sh)) AS mh{s}" for s in range(16)),
    match_sum=" + ".join(
        f"(CASE WHEN a.mh{s} = b.mh{s} THEN 1 ELSE 0 END)"
        for s in range(16)))


EXTENSION_CHECKS["source_similarity"] = (
    q_source_similarity, ORACLE_SOURCE_SIMILARITY)


# --- contrastive negative sampling ----------------------------------------

def q_neg_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import negative_sample

    return (negative_sample(_emb(spark, sf_dir), [1, 2, 3], k=5)
            .orderBy("anchor_id", "rank"))


ORACLE_NEG_SAMPLE = """
WITH anch AS (SELECT vec_id AS aid, label AS alabel FROM embeddings
              WHERE vec_id IN (1, 2, 3)),
cand AS (
  SELECT a.aid AS anchor_id, e.vec_id AS neg_id, e.label AS neg_label,
         md5(CAST(a.aid AS VARCHAR) || '|' || CAST(e.vec_id AS VARCHAR))
           AS h
  FROM anch a JOIN embeddings e ON e.label != a.alabel)
SELECT anchor_id,
       CAST(row_number() OVER (PARTITION BY anchor_id ORDER BY h, neg_id)
            AS INT) AS rank,
       neg_id, neg_label
FROM cand
QUALIFY rank <= 5
ORDER BY anchor_id, rank
"""


EXTENSION_CHECKS["neg_sample"] = (q_neg_sample, ORACLE_NEG_SAMPLE)


# --- declarative data-quality expectations (deequ-style, one scan) --------

def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quality import run_expectations

    ev = load_table(spark, sf_dir, "events")
    specs = [
        ("user_id_complete", "not_null", "user_id"),
        ("event_id_unique", "unique", "event_id"),
        ("value_in_range", "range", "value", 0.0, 1000.0),
        ("known_event_types", "in_set", "event_type",
         ["click", "view", "purchase", "scroll"]),
        ("props_is_json", "matches", "props", "^\\{.*\\}$"),
        ("min_volume", "min_rows", 100),
    ]
    return run_expectations(ev, specs).orderBy("constraint")


ORACLE_DQ_EXPECTATIONS = r"""
WITH m AS (
  SELECT CAST(count_if(user_id IS NULL) AS BIGINT) AS v_null,
         CAST(COUNT(event_id) - COUNT(DISTINCT event_id) AS BIGINT) AS v_uni,
         CAST(count_if(value NOT BETWEEN 0.0 AND 1000.0) AS BIGINT) AS v_rng,
         CAST(count_if(event_type NOT IN
                       ('click','view','purchase','scroll')) AS BIGINT)
             AS v_set,
         CAST(count_if(NOT regexp_matches(props, '^\{.*\}$')) AS BIGINT)
             AS v_re,
         CAST(CASE WHEN COUNT(*) >= 100 THEN 0
                   ELSE 100 - COUNT(*) END AS BIGINT) AS v_min
  FROM events)
SELECT "constraint", violations, violations = 0 AS passed FROM (
  SELECT 'user_id_complete' AS "constraint", v_null AS violations FROM m
  UNION ALL SELECT 'event_id_unique', v_uni FROM m
  UNION ALL SELECT 'value_in_range', v_rng FROM m
  UNION ALL SELECT 'known_event_types', v_set FROM m
  UNION ALL SELECT 'props_is_json', v_re FROM m
  UNION ALL SELECT 'min_volume', v_min FROM m)
ORDER BY "constraint"
"""


EXTENSION_CHECKS["dq_expectations"] = (
    q_dq_expectations, ORACLE_DQ_EXPECTATIONS)


# --- near-dup cluster survivorship (golden record) ------------------------

def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CC closure of the n-gram pair graph + one survivor per cluster by
    (text length desc, id asc) — the original beats its truncated
    variant, singletons survive themselves."""
    from ..operators.graph import cluster_survivors

    corpus = _neardup_corpus(spark, sf_dir)
    pairs = D.ngram_jaccard_pairs(corpus, threshold_tenths=6)
    return (cluster_survivors(corpus, pairs, F.length("text"))
            .orderBy("doc_id"))


ORACLE_DEDUP_SURVIVORS = """
WITH RECURSIVE corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000,
         array_to_string(
           (regexp_extract_all(lower(text), '[a-z0-9]+'))
             [1:greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')) - 5, 1)],
           ' ')
  FROM documents WHERE doc_id % 10 = 0),
sh AS (
  SELECT DISTINCT doc_id AS id, UNNEST(
    CASE WHEN len(regexp_extract_all(lower(text), '[a-z0-9]+')) >= 3 THEN
      list_transform(
        range(1, len(regexp_extract_all(lower(text), '[a-z0-9]+')) - 1),
        i -> regexp_extract_all(lower(text), '[a-z0-9]+')[i] || ' '
          || regexp_extract_all(lower(text), '[a-z0-9]+')[i+1] || ' '
          || regexp_extract_all(lower(text), '[a-z0-9]+')[i+2])
    ELSE [] END) AS sh
  FROM corpus),
sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
  GROUP BY a.id, b.id),
prs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
  WHERE 10 * inter >= 6 * (sa.sz + sb.sz - inter)),
edges AS (
  SELECT id_a AS u, id_b AS v FROM prs
  UNION SELECT id_b, id_a FROM prs),
reach(src, node) AS (
  SELECT u, u FROM edges
  UNION
  SELECT r.src, e.v FROM reach r JOIN edges e ON e.u = r.node),
cc AS (SELECT src AS doc_id, MIN(node) AS cluster_id
       FROM reach GROUP BY src),
members AS (
  SELECT c.doc_id, LENGTH(c.text) AS score,
         COALESCE(cc.cluster_id, c.doc_id) AS cluster_id
  FROM corpus c LEFT JOIN cc ON cc.doc_id = c.doc_id),
best AS (
  SELECT cluster_id, doc_id AS survivor_id,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY score DESC, doc_id) AS rn
  FROM members),
surv AS (SELECT cluster_id, survivor_id FROM best WHERE rn = 1)
SELECT m.doc_id, m.cluster_id, s.survivor_id,
       m.doc_id = s.survivor_id AS is_survivor
FROM members m JOIN surv s USING (cluster_id)
ORDER BY m.doc_id
"""


EXTENSION_CHECKS["dedup_survivors"] = (
    q_dedup_survivors, ORACLE_DEDUP_SURVIVORS)


# --- stream-stream FULL OUTER join ----------------------------------------

def q_stream_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER attribution: unmatched rows on BOTH
    sides null-extend once the watermark proves no partner can arrive —
    clicks without a purchase AND purchases without a click.  Reuses the
    outer-join fixture (sentinel pair closes the watermark over all real
    rows), so the emitted set equals the batch full join.  Single data
    batch + availableNow flush batch, no per-file throttle — see
    q_stream_join_outer."""
    from ..streaming.join import attribution_join

    src = ensure_stream_join_outer_source(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    out = run_bounded(attribution_join(
        stream.where(F.col("event_type") == "click"),
        stream.where(F.col("event_type") == "purchase"),
        how="fullOuter"), spark, prefix="ssj")
    return (out.where(F.coalesce("user_id", F.lit(0)) >= 0)
            .orderBy("user_id", "click_id", "purchase_id"))


ORACLE_STREAM_JOIN_FULL = """
SELECT COALESCE(c.user_id, p.user_id) AS user_id,
       c.event_id AS click_id, p.event_id AS purchase_id,
       CAST(c.ts AS TIMESTAMP) AS click_ts,
       CAST(p.ts AS TIMESTAMP) AS purchase_ts
FROM (SELECT * FROM events WHERE event_type = 'click'
        AND user_id >= 0) c
FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase'
        AND user_id >= 0) p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
ORDER BY user_id, click_id, purchase_id
"""


EXTENSION_CHECKS["stream_join_full"] = (
    q_stream_join_full, ORACLE_STREAM_JOIN_FULL)


# --- bounded-round k-core peel --------------------------------------------

_KCORE_ROUND = """
  SELECT e.u, e.v FROM {prev} e
  WHERE e.u IN (SELECT u FROM {prev} GROUP BY u HAVING COUNT(*) >= 4)
    AND e.v IN (SELECT u FROM {prev} GROUP BY u HAVING COUNT(*) >= 4)
"""


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4 peel rounds of the 4-core over the part-co-purchase graph —
    exact vs the unrolled-CTE oracle (fixed rounds, like pagerank)."""
    from ..operators.graph import kcore_peel

    li = load_table(spark, sf_dir, "lineitem")
    pairs = (li.groupBy("l_orderkey")
             .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
             .select(F.explode(F.expr(
                 "flatten(transform(ps, (x, i) -> "
                 "transform(slice(ps, i + 2, size(ps) - i - 1), "
                 "y -> struct(x AS id_a, y AS id_b))))")).alias("p"))
             .select("p.id_a", "p.id_b").distinct())
    return (kcore_peel(pairs, k=4, n_rounds=4)
            .orderBy(F.col("degree").desc(), "node").limit(200))


ORACLE_KCORE = f"""
WITH e0 AS (
  SELECT DISTINCT x.l_partkey AS u, y.l_partkey AS v
  FROM lineitem x JOIN lineitem y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey != y.l_partkey),
e1 AS ({_KCORE_ROUND.format(prev="e0")}),
e2 AS ({_KCORE_ROUND.format(prev="e1")}),
e3 AS ({_KCORE_ROUND.format(prev="e2")}),
e4 AS ({_KCORE_ROUND.format(prev="e3")})
SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS degree
FROM e4 GROUP BY u
ORDER BY degree DESC, node LIMIT 200
"""


EXTENSION_CHECKS["kcore"] = (q_kcore, ORACLE_KCORE)


# --- inverted-index postings build ----------------------------------------

def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.inverted_postings(_docs(spark, sf_dir), k=8).orderBy("term")


ORACLE_INVERTED_INDEX = """
WITH tf AS (
  SELECT t.term, doc_id AS doc, COUNT(*) AS tf
  FROM (SELECT doc_id, UNNEST(regexp_extract_all(lower(text),
                                                 '[a-z0-9]+')) AS term
        FROM documents) t
  GROUP BY t.term, doc),
stats AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
                 CAST(SUM(tf) AS BIGINT) AS tf_total
          FROM tf GROUP BY term),
top AS (SELECT term, doc, tf FROM tf
        QUALIFY row_number() OVER (PARTITION BY term
                                   ORDER BY tf DESC, doc) <= 8),
p AS (SELECT term,
             string_agg(CAST(doc AS VARCHAR) || ':' || CAST(tf AS VARCHAR),
                        ',' ORDER BY tf DESC, doc) AS postings
      FROM top GROUP BY term)
SELECT term, df, tf_total, postings
FROM stats JOIN p USING (term) ORDER BY term
"""


EXTENSION_CHECKS["inverted_index"] = (
    q_inverted_index, ORACLE_INVERTED_INDEX)


# --- BM25 top-k lexical retrieval (integer-exact) --------------------------

_BM25_QUERIES = {1: ["dup", "hash"],
                 2: ["dup", "vector", "scan"],
                 3: ["dup", "customer"]}
# term choice: the synthetic corpus speaks a 31-word vocabulary where
# every word but "dup" appears in ~78% of documents (df > N/2 → idf
# floors to 0 — correct BM25+ behavior for stopwords); "dup" (df ≈ 5%)
# carries the idf signal, the common terms exercise the tf/dl
# normalization path on the docs that also match "dup".


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X75: integer-exact BM25 top-k over the corpus inverted stats —
    the sparse-retrieval counterpart of retrieval_topk (see
    operators.text.bm25_topk for the exact-integer scoring contract
    that makes a ranking with idf SQL-oracle-checkable)."""
    return (X.bm25_topk(_docs(spark, sf_dir), _BM25_QUERIES, k=10)
            .orderBy("query_id", "rank"))


def _bm25_ctes(text_sql: str = "lower(text)") -> str:
    """The BM25 scoring pipeline as a reusable CTE chain (q → dlt → nt
    → tfq → dft → sc) — shared by the standalone oracle, the hybrid
    RRF oracle, the passage oracle and (with a marked ``text_sql``)
    the PRF-expansion oracles."""
    vals = ", ".join(f"({qid}, '{t}')"
                     for qid, ts in sorted(_BM25_QUERIES.items())
                     for t in ts)
    return f"""q(query_id, term) AS (VALUES {vals}),
dlt AS (
  SELECT doc_id AS doc,
         CAST(len(regexp_extract_all({text_sql}, '[a-z0-9]+'))
              AS BIGINT) AS dl,
         regexp_extract_all({text_sql}, '[a-z0-9]+') AS ts
  FROM documents),
nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(dl) AS BIGINT) AS n_tokens FROM dlt),
tfq AS (
  SELECT doc, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc, dl, UNNEST(ts) AS term FROM dlt)
  WHERE term IN (SELECT term FROM q)
  GROUP BY doc, dl, term),
dft AS (SELECT term, CAST(COUNT(DISTINCT doc) AS BIGINT) AS df
        FROM tfq GROUP BY term),
sc AS (
  SELECT q.query_id, tfq.doc,
         CAST(SUM(
           (GREATEST(0,
              4 * (length(bin((2 * (n_docs - df) + 1)
                              // (2 * df + 1))) - 1)
              + (4 * (2 * (n_docs - df) + 1))
                // ((2 * df + 1)
                    * (CAST(1 AS BIGINT)
                       << (length(bin((2 * (n_docs - df) + 1)
                                      // (2 * df + 1))) - 1)))
              - 4)
            * tf * 2200 * 1000)
           // (tf * 1000
               + (1200 * (250 + (750 * dl * n_docs) // n_tokens))
                 // 1000)) AS BIGINT) AS score_milli
  FROM tfq JOIN dft USING (term) JOIN q USING (term), nt
  GROUP BY q.query_id, tfq.doc)"""


def _bm25_oracle() -> str:
    return "WITH " + _bm25_ctes() + """
SELECT query_id, doc AS doc_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score_milli DESC, doc)
            AS BIGINT) AS rank,
       score_milli
FROM sc WHERE score_milli > 0
QUALIFY rank <= 10
ORDER BY query_id, rank
"""


EXTENSION_CHECKS["bm25_topk"] = (q_bm25, _bm25_oracle())


# --- hybrid retrieval: dense cosine + sparse BM25 fused by RRF -------------

def q_retrieval_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X78: reciprocal-rank fusion of the exact dense arm
    (topk_cosine_bruteforce over embeddings — vec ids double as doc
    ids, the aligned-id testdata contract) and the sparse arm
    (bm25_topk over documents), query ids shared across arms.  Both
    arms are oracle-exact rankings and RRF is exact-integer micros, so
    the FUSED ranking is oracle-exact end-to-end."""
    from ..operators.similarity import rrf_fuse
    from ..operators.text import bm25_topk

    from ..functions.layout import parallel_frames

    qids = sorted(_BM25_QUERIES)
    # both arms materialize eagerly and are independent — run them
    # concurrently (guide §2.6)
    dense, sparse = parallel_frames(
        lambda: (S.topk_cosine_bruteforce(_emb(spark, sf_dir), qids, k=10)
                 .select("query_id", F.col("vec_id").alias("doc_id"),
                         "rank")),
        lambda: (bm25_topk(_docs(spark, sf_dir), _BM25_QUERIES, k=10)
                 .select("query_id", "doc_id", "rank")))
    return (rrf_fuse([dense, sparse], k_const=60, k=10)
            .orderBy("query_id", "rank"))


def _retrieval_hybrid_oracle() -> str:
    qids = ", ".join(str(q) for q in sorted(_BM25_QUERIES))
    return "WITH " + _bm25_ctes() + f""",
sr AS (
  SELECT query_id, doc AS doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score_milli DESC, doc) AS rank
  FROM sc WHERE score_milli > 0
  QUALIFY rank <= 10),
de AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
dn AS (SELECT vec_id, {_NV.format(v='v')} AS nv FROM de),
dsc AS (
  SELECT qq.vec_id AS query_id, c.vec_id AS doc_id,
         CAST({_DOT_C.format(a='qq.nv', b='c.nv')} AS DOUBLE) AS cosine
  FROM dn qq JOIN dn c
    ON qq.vec_id IN ({qids}) AND qq.vec_id != c.vec_id),
dr AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, doc_id) AS rank
  FROM dsc QUALIFY rank <= 10),
arms AS (SELECT query_id, doc_id, rank FROM dr
         UNION ALL SELECT query_id, doc_id, rank FROM sr),
fused AS (
  SELECT query_id, doc_id,
         CAST(SUM(1000000 // (60 + rank)) AS BIGINT) AS rrf_micro
  FROM arms GROUP BY query_id, doc_id)
SELECT query_id, doc_id, rrf_micro,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY rrf_micro DESC, doc_id)
            AS BIGINT) AS rank
FROM fused QUALIFY rank <= 10
ORDER BY query_id, rank
"""


EXTENSION_CHECKS["retrieval_hybrid"] = (q_retrieval_hybrid,
                                        _retrieval_hybrid_oracle())


# --- MMR diversified rerank (greedy unrolled to SQL, X79) -------------------

def q_retrieval_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X79: maximal-marginal-relevance rerank over the int8-quantized
    cosine — the greedy pick sequence is bit-deterministic (exact
    integer dots, correctly-rounded double division, IEEE-identical
    MMR combination), so all 8 sequential selections unroll to chained
    SQL CTEs (the bpe_merges oracle technique)."""
    from ..operators.similarity import mmr_topk

    # mmr_topk returns one partition, so the partition-local sort is the
    # global order, without a range exchange
    return (mmr_topk(_emb(spark, sf_dir), [1, 2, 3], k=8,
                     lambda_milli=700, shortlist=16)
            .sortWithinPartitions("query_id", "rank"))


def _mmr_oracle(k: int = 8, s: int = 16, lam_num: int = 700,
                qids=(1, 2, 3)) -> str:
    lam = f"({lam_num} / 1000.0)"
    q_in = ", ".join(str(q) for q in qids)
    idot = ("list_reduce(list_transform(range(1, len({a}) + 1), "
            "i -> {a}[i] * {b}[i]), (x, y) -> x + y)")
    parts = [f"""qz AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           CASE WHEN m = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(floor(CAST(x AS DOUBLE) * 127 / m) AS BIGINT)
           END) AS qv
  FROM (SELECT vec_id, embedding,
               list_max(list_transform(embedding,
                                       x -> abs(CAST(x AS DOUBLE)))) AS m
        FROM embeddings)),
zn AS (
  SELECT vec_id, qv,
         list_reduce(list_transform(qv, x -> x * x), (x, y) -> x + y)
           AS nsq
  FROM qz),
sc AS (
  SELECT qq.vec_id AS query_id, c.vec_id,
         CASE WHEN qq.nsq = 0 OR c.nsq = 0 THEN 0.0
              ELSE CAST({idot.format(a='qq.qv', b='c.qv')} AS DOUBLE)
                   / (sqrt(CAST(qq.nsq AS DOUBLE))
                      * sqrt(CAST(c.nsq AS DOUBLE))) END AS cosine
  FROM zn qq JOIN zn c
    ON qq.vec_id IN ({q_in}) AND qq.vec_id != c.vec_id),
sl AS MATERIALIZED (
  SELECT query_id, vec_id, cosine FROM sc
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY cosine DESC, vec_id) <= {s}),
pr AS MATERIALIZED (
  SELECT a.query_id, a.vec_id AS da, b.vec_id AS db,
         CASE WHEN za.nsq = 0 OR zb.nsq = 0 THEN 0.0
              ELSE CAST({idot.format(a='za.qv', b='zb.qv')} AS DOUBLE)
                   / (sqrt(CAST(za.nsq AS DOUBLE))
                      * sqrt(CAST(zb.nsq AS DOUBLE))) END AS pc
  FROM sl a JOIN sl b
    ON a.query_id = b.query_id AND a.vec_id != b.vec_id
  JOIN zn za ON za.vec_id = a.vec_id
  JOIN zn zb ON zb.vec_id = b.vec_id)"""]
    parts.append(f"""s1 AS MATERIALIZED (
  SELECT query_id, vec_id, 1 AS rank FROM (
    SELECT query_id, vec_id,
           {lam} * cosine - (1 - {lam}) * 0 AS mmr FROM sl)
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY mmr DESC, vec_id) = 1)""")
    for i in range(2, k + 1):
        prev = " UNION ALL ".join(
            f"SELECT query_id, vec_id FROM s{j}" for j in range(1, i))
        parts.append(f"""u{i - 1} AS MATERIALIZED ({prev}),
s{i} AS MATERIALIZED (
  SELECT query_id, vec_id, {i} AS rank FROM (
    SELECT c.query_id, c.vec_id,
           {lam} * c.cosine - (1 - {lam}) * COALESCE(m.ms, 0) AS mmr
    FROM sl c
    LEFT JOIN (SELECT p.query_id, p.da AS vec_id, MAX(p.pc) AS ms
               FROM pr p JOIN u{i - 1} uu
                 ON p.query_id = uu.query_id AND p.db = uu.vec_id
               GROUP BY p.query_id, p.da) m
      ON m.query_id = c.query_id AND m.vec_id = c.vec_id
    WHERE NOT EXISTS (SELECT 1 FROM u{i - 1} uu
                      WHERE uu.query_id = c.query_id
                        AND uu.vec_id = c.vec_id))
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY mmr DESC, vec_id) = 1)""")
    union = " UNION ALL ".join(f"SELECT * FROM s{i}"
                               for i in range(1, k + 1))
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT query_id, vec_id, CAST(rank AS BIGINT) AS rank "
              f"FROM ({union}) ORDER BY query_id, rank")


EXTENSION_CHECKS["retrieval_mmr"] = (q_retrieval_mmr, _mmr_oracle())


# --- impact-ordered inverted index (X80) ------------------------------------

def q_impact_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X80: per-term top-k postings ranked by precomputed exact-integer
    BM25 impact (Anh & Moffat) — the early-termination index artifact;
    X49's serialization with impact in place of tf."""
    from ..operators.text import impact_postings

    return impact_postings(_docs(spark, sf_dir), k=8).orderBy("term")


_IDF_SQL = """GREATEST(0,
  4 * (length(bin((2 * (n_docs - df) + 1) // (2 * df + 1))) - 1)
  + (4 * (2 * (n_docs - df) + 1))
    // ((2 * df + 1)
        * (CAST(1 AS BIGINT)
           << (length(bin((2 * (n_docs - df) + 1) // (2 * df + 1))) - 1)))
  - 4)"""


def _impact_ctes(cap: int = 8) -> str:
    """The impact-index build as a reusable CTE chain (dlt → nt → tf →
    dft → imp → top) — shared by the index-build oracle and the
    serve-from-index oracle, which consumes the same capped postings."""
    return f"""dlt AS (
  SELECT doc_id AS doc,
         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
              AS BIGINT) AS dl,
         regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
  FROM documents),
nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(dl) AS BIGINT) AS n_tokens FROM dlt),
tf AS (
  SELECT doc, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc, dl, UNNEST(ts) AS term FROM dlt)
  GROUP BY doc, dl, term),
dft AS (SELECT term, CAST(COUNT(DISTINCT doc) AS BIGINT) AS df
        FROM tf GROUP BY term),
imp AS (
  SELECT term, df, doc,
         CAST(({_IDF_SQL} * tf * 2200 * 1000)
              // (tf * 1000
                  + (1200 * (250 + (750 * dl * n_docs) // n_tokens))
                    // 1000) AS BIGINT) AS impact
  FROM tf JOIN dft USING (term), nt),
top AS (
  SELECT term, df, doc, impact FROM imp
  QUALIFY ROW_NUMBER() OVER (PARTITION BY term
                             ORDER BY impact DESC, doc) <= {cap})"""


ORACLE_IMPACT_INDEX = "WITH " + _impact_ctes(8) + """
SELECT term, df,
       string_agg(CAST(doc AS VARCHAR) || ':' || CAST(impact AS VARCHAR),
                  ',' ORDER BY impact DESC, doc) AS postings
FROM top GROUP BY term, df ORDER BY term
"""


EXTENSION_CHECKS["impact_index"] = (q_impact_index, ORACLE_IMPACT_INDEX)


# --- serve BM25 queries FROM the impact index (X82) --------------------------

def q_bm25_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X82: the serving half of X80 — answer the BM25 query set by
    summing STORED impacts out of the capped impact index (Anh &
    Moffat's consumption path; the lexical mirror of the PQ
    build/query pair).  Build (cap 8, exercising real truncation) and
    serve composed in one plan here; the pytest additionally pins the
    parquet round-trip and the cap-free agreement with bm25_topk."""
    from ..operators.text import bm25_topk_from_index, impact_postings

    idx = impact_postings(_docs(spark, sf_dir), k=8)
    return (bm25_topk_from_index(idx, _BM25_QUERIES, k=10)
            .orderBy("query_id", "rank"))


def _bm25_from_index_oracle() -> str:
    vals = ", ".join(f"({qid}, '{t}')"
                     for qid, ts in sorted(_BM25_QUERIES.items())
                     for t in ts)
    return "WITH " + _impact_ctes(8) + f""",
q(query_id, term) AS (VALUES {vals}),
sc AS (
  SELECT q.query_id, top.doc,
         CAST(SUM(top.impact) AS BIGINT) AS score_milli
  FROM top JOIN q USING (term)
  GROUP BY q.query_id, top.doc
  HAVING SUM(top.impact) > 0)
SELECT query_id, doc AS doc_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score_milli DESC, doc)
            AS BIGINT) AS rank,
       score_milli
FROM sc QUALIFY rank <= 10 ORDER BY query_id, rank
"""


EXTENSION_CHECKS["bm25_from_index"] = (q_bm25_from_index,
                                       _bm25_from_index_oracle())


# --- best-passage (snippet) extraction for a retrieved ranking (X83) --------

def q_passage_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X83: per retrieved (query, doc) pair, the w=16-token window with
    the most query-term occurrences (earliest window on ties) — the
    snippet/context-extraction step after retrieval.  Composes the
    BM25 top-10 ranking with best_passages; occurrence counts, first-
    position argmax and lowercased-token join make every column
    engine-portable."""
    from ..operators.text import best_passages, bm25_topk

    docs = _docs(spark, sf_dir)
    ranking = bm25_topk(docs, _BM25_QUERIES, k=10)
    return (best_passages(docs, ranking, _BM25_QUERIES, w=16)
            .orderBy("query_id", "doc_id"))


def _passage_oracle(w: int = 16) -> str:
    return "WITH " + _bm25_ctes() + f""",
sr AS (
  SELECT query_id, doc AS doc_id FROM sc WHERE score_milli > 0
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY score_milli DESC, doc) <= 10),
qa AS (SELECT query_id, list(DISTINCT term ORDER BY term) AS qterms
       FROM q GROUP BY query_id),
pe AS (
  SELECT sr.query_id, sr.doc_id, dlt.ts,
         list_transform(dlt.ts, t -> CASE WHEN list_contains(qa.qterms, t)
                                          THEN 1 ELSE 0 END) AS mt,
         greatest(len(dlt.ts) - {w} + 1, 1) AS nw
  FROM sr JOIN dlt ON sr.doc_id = dlt.doc
          JOIN qa ON qa.query_id = sr.query_id),
sc3 AS (
  SELECT query_id, doc_id, ts,
         list_transform(range(1, nw + 1), j ->
           COALESCE(list_aggregate(list_slice(mt, j, j + {w} - 1),
                                   'sum'), 0)) AS scores
  FROM pe),
bo AS (
  SELECT query_id, doc_id, ts, scores,
         list_position(scores, list_max(scores)) AS off
  FROM sc3)
SELECT query_id, doc_id, CAST(off AS BIGINT) AS "offset",
       CAST(scores[off] AS BIGINT) AS n_hits,
       array_to_string(list_slice(ts, off, off + {w} - 1), ' ')
         AS passage
FROM bo ORDER BY query_id, doc_id
"""


EXTENSION_CHECKS["passage_extract"] = (q_passage_extract,
                                       _passage_oracle())


# --- pseudo-relevance-feedback query expansion (X84) ------------------------

# The synthetic corpus' one rare term is "dup" (every other word has
# df > N/2 → idf floors to 0), so raw-corpus expansion is structurally
# EMPTY: no candidate term can carry positive weight.  The checks run
# over a deterministically MARKED corpus instead — every document
# containing the standalone token "dup" gets " prfsyn" appended, a
# synthetic synonym with df ≈ 5% and perfect feedback co-occurrence —
# so the expansion machinery is exercised end-to-end (the oracle marks
# identically; the raw-corpus empty case is pinned by the pathological
# pytest).
_PRF_TEXT_SQL = (r"CASE WHEN regexp_matches(lower(text), '\bdup\b') "
                 r"THEN lower(text) || ' prfsyn' ELSE lower(text) END")


def _prf_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.withColumn(
        "text",
        F.when(F.regexp_like(F.lower("text"), F.lit(r"\bdup\b")),
               F.concat("text", F.lit(" prfsyn")))
        .otherwise(F.col("text")))


def _expansion_ctes(k_fb: int = 5, m_exp: int = 3) -> str:
    """First-pass feedback + integer expansion-term selection as a CTE
    chain on top of _bm25_ctes over the marked corpus (sr → tfa → dfa
    → cand → wgt → topx) — shared by the term-table oracle and the
    expanded-ranking oracle."""
    return _bm25_ctes(_PRF_TEXT_SQL) + f""",
sr AS (
  SELECT query_id, doc AS doc_id FROM sc WHERE score_milli > 0
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY score_milli DESC, doc) <= {k_fb}),
tfa AS (
  SELECT doc, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc, dl, UNNEST(ts) AS term FROM dlt)
  GROUP BY doc, dl, term),
dfa AS (SELECT term, CAST(COUNT(DISTINCT doc) AS BIGINT) AS df
        FROM tfa GROUP BY term),
cand AS (
  SELECT sr.query_id, tfa.term, CAST(SUM(tfa.tf) AS BIGINT) AS tfsum
  FROM tfa JOIN sr ON tfa.doc = sr.doc_id
  GROUP BY sr.query_id, tfa.term),
wgt AS (
  SELECT query_id, term, CAST(({_IDF_SQL}) * tfsum AS BIGINT) AS weight
  FROM cand JOIN dfa USING (term), nt),
topx AS (
  SELECT query_id, term, weight,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY weight DESC, term)
              AS BIGINT) AS rank
  FROM wgt
  WHERE weight > 0
    AND NOT EXISTS (SELECT 1 FROM q
                    WHERE q.query_id = wgt.query_id
                      AND q.term = wgt.term))"""


def q_query_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X84a: the expansion-term table of the RM3-style feedback loop —
    top-3 new terms per query by Σ feedback-tf × quarter-bit idf, all
    bigint, ties (weight desc, term asc)."""
    from ..operators.text import expand_queries

    return (expand_queries(_prf_docs(spark, sf_dir), _BM25_QUERIES,
                           k_fb=5, m_exp=3, return_terms=True)
            .orderBy("query_id", "rank"))


ORACLE_QUERY_EXPANSION = ("WITH " + _expansion_ctes() + """
SELECT query_id, term, weight, rank
FROM topx WHERE rank <= 3 ORDER BY query_id, rank
""")


EXTENSION_CHECKS["query_expansion"] = (q_query_expansion,
                                       ORACLE_QUERY_EXPANSION)


def q_bm25_expanded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X84b: the full two-pass expanded retrieval — feedback pass,
    integer term selection, then BM25 over the expanded term sets; the
    end-to-end recall lever, oracle-exact because every stage is."""
    from ..operators.text import expand_queries

    return (expand_queries(_prf_docs(spark, sf_dir), _BM25_QUERIES,
                           k_fb=5, m_exp=3, k=10)
            .orderBy("query_id", "rank"))


ORACLE_BM25_EXPANDED = ("WITH " + _expansion_ctes() + f""",
q2 AS (SELECT query_id, term FROM q
       UNION SELECT query_id, term FROM topx WHERE rank <= 3),
sc2 AS (
  SELECT q2.query_id, tfa.doc,
         CAST(SUM(
           (({_IDF_SQL}) * tfa.tf * 2200 * 1000)
           // (tfa.tf * 1000
               + (1200 * (250 + (750 * tfa.dl * n_docs) // n_tokens))
                 // 1000)) AS BIGINT) AS score_milli
  FROM tfa JOIN dfa USING (term) JOIN q2 USING (term), nt
  GROUP BY q2.query_id, tfa.doc)
SELECT query_id, doc AS doc_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score_milli DESC, doc)
            AS BIGINT) AS rank,
       score_milli
FROM sc2 WHERE score_milli > 0
QUALIFY rank <= 10
ORDER BY query_id, rank
""")


EXTENSION_CHECKS["bm25_expanded"] = (q_bm25_expanded,
                                     ORACLE_BM25_EXPANDED)


# --- order-aware retrieval evaluation (X81) ---------------------------------

def q_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X81: recall@10 / MRR@10 / NDCG@10 of the sparse BM25 arm against
    the exact dense ranking as truth — how well lexical retrieval
    recovers the embedding neighbors, per query, in exact-integer
    micros (the NDCG log2 discounts are driver-computed literals baked
    into plan AND oracle, so no engine evaluates a transcendental)."""
    from ..operators.similarity import ranking_eval
    from ..operators.text import bm25_topk

    from ..functions.layout import parallel_frames

    qids = sorted(_BM25_QUERIES)
    # independent eagerly-materialized arms → concurrent (guide §2.6)
    pred, truth = parallel_frames(
        lambda: (bm25_topk(_docs(spark, sf_dir), _BM25_QUERIES, k=10)
                 .select("query_id", "doc_id", "rank")),
        lambda: (S.topk_cosine_bruteforce(_emb(spark, sf_dir), qids, k=10)
                 .select("query_id", F.col("vec_id").alias("doc_id"))))
    return ranking_eval(pred, truth, k=10).orderBy("query_id")


def _retrieval_eval_oracle(k: int = 10) -> str:
    import math

    disc = [int(1_000_000 / math.log2(i + 1)) for i in range(1, k + 1)]
    pdisc = []
    acc = 0
    for d in disc:
        acc += d
        pdisc.append(acc)
    disc_lit = "[" + ", ".join(str(d) for d in disc) + "]"
    pdisc_lit = "[" + ", ".join(str(d) for d in pdisc) + "]"
    qids = ", ".join(str(q) for q in sorted(_BM25_QUERIES))
    return "WITH " + _bm25_ctes() + f""",
sr AS (
  SELECT query_id, doc AS doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score_milli DESC, doc) AS rank
  FROM sc WHERE score_milli > 0
  QUALIFY rank <= {k}),
de AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
dn AS (SELECT vec_id, {_NV.format(v='v')} AS nv FROM de),
dsc AS (
  SELECT qq.vec_id AS query_id, c.vec_id AS doc_id,
         CAST({_DOT_C.format(a='qq.nv', b='c.nv')} AS DOUBLE) AS cosine
  FROM dn qq JOIN dn c
    ON qq.vec_id IN ({qids}) AND qq.vec_id != c.vec_id),
dr AS (
  SELECT query_id, doc_id FROM dsc
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY cosine DESC, doc_id) <= {k}),
ntq AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_truth
        FROM dr GROUP BY query_id),
j AS (SELECT sr.query_id, sr.rank FROM sr
      JOIN dr ON sr.query_id = dr.query_id AND sr.doc_id = dr.doc_id),
h AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS hits,
             MIN(rank) AS first_r,
             CAST(SUM(({disc_lit})[rank]) AS BIGINT) AS dcg
      FROM j GROUP BY query_id)
SELECT ntq.query_id, n_truth,
       CAST(COALESCE(hits, 0) AS BIGINT) AS hits,
       CAST(COALESCE(hits, 0) * 1000000 // n_truth AS BIGINT)
         AS recall_micro,
       CAST(COALESCE(1000000 // first_r, 0) AS BIGINT) AS mrr_micro,
       CAST(COALESCE(dcg * 1000000
                     // ({pdisc_lit})[LEAST({k}, n_truth)], 0) AS BIGINT)
         AS ndcg_micro
FROM ntq LEFT JOIN h USING (query_id) ORDER BY ntq.query_id
"""


EXTENSION_CHECKS["retrieval_eval"] = (q_retrieval_eval,
                                      _retrieval_eval_oracle())


# --- skip-gram co-occurrence counts ---------------------------------------

def q_skipgram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (X.skipgram_counts(_docs(spark, sf_dir), window=2)
            .orderBy(F.col("n").desc(), "center", "context").limit(200))


ORACLE_SKIPGRAM = """
WITH tk AS (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS t
            FROM documents),
fwd AS (
  SELECT UNNEST(flatten(list_transform(t, (x, i) ->
           list_transform(t[i + 1 : least(i + 2, len(t))],
                          y -> struct_pack(a := x, b := y))))) AS p
  FROM tk),
sym AS (SELECT p.a AS center, p.b AS context FROM fwd
        UNION ALL SELECT p.b, p.a FROM fwd)
SELECT center, context, COUNT(*) AS n
FROM sym GROUP BY center, context
ORDER BY n DESC, center, context LIMIT 200
"""


EXTENSION_CHECKS["skipgram"] = (q_skipgram, ORACLE_SKIPGRAM)


# --- Count-Min sketch (oracle-exact, md5 hash family) ---------------------

def q_cms_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the corpus CMS, then estimate frequencies for the corpus's
    own distinct tokens and surface estimate vs exact — the
    never-underestimates invariant is visible in the `over` column
    (always ≥ 0) and pinned exactly by the oracle."""
    from ..functions.layout import finalize_release
    from ..operators.quality import cms_build_counts, cms_estimate
    from ..operators.text import tokens as _tokens

    d = _docs(spark, sf_dir)
    # ONE tokenize pass, ONE full-stream exchange: the exact counts are
    # the only stream-width aggregate; the sketch derives from them
    # (cms_build_counts — same sketch by definition), so sketch build,
    # probe fan-out, and the final join all run at vocab width off the
    # cached counts table (round-11: the stream was previously fanned
    # out ×d a second time just to rebuild counts the check already had)
    toks = d.select(F.explode(_tokens(F.col("text"))).alias("t"))
    exact = toks.groupBy("t").agg(F.count("*").alias("n_exact")).cache()
    sketch = cms_build_counts(exact, "t", "n_exact")
    est = cms_estimate(sketch, exact, assume_distinct=True)
    out = (exact.join(est, "t")
           .select("t", "n_exact", "n_est",
                   (F.col("n_est") - F.col("n_exact")).alias("over"))
           .orderBy("t"))
    return finalize_release(out, exact)


ORACLE_CMS_ESTIMATE = """
WITH tok AS (
  SELECT UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
  FROM documents),
exact AS (SELECT t, COUNT(*) AS n_exact FROM tok GROUP BY t),
fan AS (
  SELECT t, j,
         ('0x' || substr(md5('0|' || t), 1 + 8 * j, 8))
           ::BIGINT % 1024 AS bucket
  FROM tok, range(4) r(j)),
sketch AS (SELECT j AS row, bucket, COUNT(*) AS c
           FROM fan GROUP BY j, bucket),
probe AS (
  SELECT DISTINCT t, j,
         ('0x' || substr(md5('0|' || t), 1 + 8 * j, 8))
           ::BIGINT % 1024 AS bucket
  FROM exact, range(4) r(j)),
est AS (
  SELECT p.t, MIN(COALESCE(s.c, 0)) AS n_est
  FROM probe p LEFT JOIN sketch s
    ON s.row = p.j AND s.bucket = p.bucket
  GROUP BY p.t)
SELECT e.t, CAST(e.n_exact AS BIGINT) AS n_exact,
       CAST(x.n_est AS BIGINT) AS n_est,
       CAST(x.n_est - e.n_exact AS BIGINT) AS over
FROM exact e JOIN est x USING (t) ORDER BY t
"""


EXTENSION_CHECKS["cms_estimate"] = (q_cms_estimate, ORACLE_CMS_ESTIMATE)


# --- deterministic random walks (graph-embedding corpus) ------------------

_WALK_STEP = """
  SELECT c.walk_id, {s} AS step, a.v AS node
  FROM {prev} c JOIN adj a ON a.u = c.node
   AND a.rnk = ('0x' || substr(md5(CAST(c.walk_id AS VARCHAR) || '|{s}|'
                 || CAST(c.node AS VARCHAR)), 1, 8))::BIGINT % a.deg
"""


def q_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-4 deterministic walks over the part-co-purchase graph;
    output thinned to every 97th walk for a bounded check surface."""
    from ..operators.graph import random_walks

    li = load_table(spark, sf_dir, "lineitem")
    pairs = (li.groupBy("l_orderkey")
             .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
             .select(F.explode(F.expr(
                 "flatten(transform(ps, (x, i) -> "
                 "transform(slice(ps, i + 2, size(ps) - i - 1), "
                 "y -> struct(x AS id_a, y AS id_b))))")).alias("p"))
             .select("p.id_a", "p.id_b").distinct())
    # pairs are canonical (id_a < id_b) and distinct by construction —
    # skip the operator's symmetrized re-dedup exchange
    return (random_walks(pairs, walk_len=4, assume_canonical=True)
            .where(F.col("walk_id") % 97 == 0)
            .orderBy("walk_id", "step"))


ORACLE_RANDOM_WALKS = f"""
WITH pairs AS (
  SELECT DISTINCT x.l_partkey AS id_a, y.l_partkey AS id_b
  FROM lineitem x JOIN lineitem y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
e0 AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
adj AS (
  SELECT u, v,
         row_number() OVER (PARTITION BY u ORDER BY
             md5(CAST(u AS VARCHAR) || '|' || CAST(v AS VARCHAR)), v) - 1
           AS rnk,
         COUNT(*) OVER (PARTITION BY u) AS deg
  FROM e0),
s0 AS (SELECT DISTINCT u AS walk_id, 0 AS step, u AS node FROM e0),
s1 AS ({_WALK_STEP.format(prev="s0", s=1)}),
s2 AS ({_WALK_STEP.format(prev="s1", s=2)}),
s3 AS ({_WALK_STEP.format(prev="s2", s=3)}),
s4 AS ({_WALK_STEP.format(prev="s3", s=4)})
SELECT walk_id, CAST(step AS INT) AS step, node FROM (
  SELECT * FROM s0 UNION ALL SELECT * FROM s1 UNION ALL
  SELECT * FROM s2 UNION ALL SELECT * FROM s3 UNION ALL
  SELECT * FROM s4)
WHERE walk_id % 97 = 0
ORDER BY walk_id, step
"""


EXTENSION_CHECKS["random_walks"] = (q_random_walks, ORACLE_RANDOM_WALKS)


# --- streaming CMS maintenance (stateful complete-mode aggregation) -------

def _file_stream(spark: SparkSession, sf_dir: str, table: str,
                 nanos: bool = False, spread: bool = True):
    """readStream over a single driver-testdata parquet table, through
    its :func:`_linked_table` directory.  Shared by the complete-mode
    sketch-maintenance checks.

    ``spread``: the fixture is ONE single-row-group parquet file, so
    every micro-batch scans as ONE task and the sketch map work
    (tokenize + explode + d hashes per token for CMS) runs serially —
    the guide-§2.5 unsplittable-input-skew shape (split-size knobs
    can't help: a split must contain a row-group start, and there is
    only one).  A bounded ``repartition`` right after the read spreads
    that map work across the box before the (4-partition) stateful
    aggregation; results are layout-invariant (complete-mode
    aggregations).  A production file stream carries many files /
    row groups per batch and gets scan parallelism natively — pass
    ``spread=False`` there (the repartition would be a pure extra
    shuffle of the corpus)."""
    src_dir = _linked_table(sf_dir, table)
    reader = spark.read.option("nanosAsLong", nanos) if nanos \
        else spark.read
    schema = reader.parquet(f"{sf_dir}/{table}.parquet").schema
    stream = spark.readStream.schema(schema)
    if nanos:
        stream = stream.option("nanosAsLong", True)
    out = stream.option("maxFilesPerTrigger", 1).parquet(src_dir)
    if spread:
        out = out.repartition(
            min(spark.sparkContext.defaultParallelism, 16))
    return out


def q_stream_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CMS counters maintained BY THE STREAM ENGINE: documents
    arrive as a file stream, the (row, bucket) counts are a stateful
    streaming aggregation in complete mode, run to completion with
    availableNow.  CMS mergeability means the streamed sketch equals
    the batch sketch exactly — a streaming query with an EXACT SQL
    oracle.  State is the d·w counter table: constant-bounded however
    long the stream runs, the property that makes CMS the streaming
    frequency summary."""
    from ..operators.quality import cms_build

    stream = _file_stream(spark, sf_dir, "documents")
    return (run_bounded(cms_build(stream), spark, mode="complete",
                        prefix="cm")
            .orderBy("row", "bucket"))


ORACLE_STREAM_CMS = """
WITH tok AS (
  SELECT UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
  FROM documents),
fan AS (
  SELECT t, j,
         ('0x' || substr(md5('0|' || t), 1 + 8 * j, 8))
           ::BIGINT % 1024 AS bucket
  FROM tok, range(4) r(j))
SELECT j AS row, bucket, COUNT(*) AS c
FROM fan GROUP BY j, bucket ORDER BY row, bucket
"""


EXTENSION_CHECKS["stream_cms"] = (q_stream_cms, ORACLE_STREAM_CMS)


# --- end-to-end pre-training curation pipeline ----------------------------

def q_pipeline_pretrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus build over the planted-duplicate corpus:
    Gopher filter → exact dedup (min-id survivor) → sliding chunks →
    doc-level folds, as ONE logical plan.  The oracle replays every
    stage as chained CTEs — the composition itself is what's checked."""
    from ..pipelines.pretrain import curate_pretrain

    return (curate_pretrain(_dup_corpus(spark, sf_dir))
            .orderBy("doc_id", "chunk_id"))


ORACLE_PIPELINE_PRETRAIN = rf"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, upper(text) || '  ' FROM documents),
scalar AS (
  SELECT doc_id,
         LENGTH(text) AS nc,
         len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS nt,
         len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS np,
         len(regexp_extract_all(lower(text), '\b({_ALL_STOPS})\b')) AS ns
  FROM corpus),
toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
  FROM corpus),
unid AS (SELECT doc_id, COUNT(*) AS n_distinct_tokens
         FROM (SELECT doc_id, t FROM (SELECT doc_id, UNNEST(tk) AS t
               FROM toks) GROUP BY doc_id, t) GROUP BY doc_id),
bi_term AS (
  SELECT doc_id, t, COUNT(*) AS c
  FROM (SELECT doc_id, UNNEST(
          CASE WHEN len(tk) >= 2 THEN
            list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
          ELSE [] END) AS t
        FROM toks) GROUP BY doc_id, t),
bi AS (SELECT doc_id, SUM(c) AS n_2grams, MAX(c) AS top_2gram_n
       FROM bi_term GROUP BY doc_id),
keepers AS (
  SELECT s.doc_id
  FROM scalar s
  LEFT JOIN unid u ON u.doc_id = s.doc_id
  LEFT JOIN bi b ON b.doc_id = s.doc_id
  WHERE (s.nt >= 10 AND s.nt <= 100000)
    AND (s.nc >= 3 * s.nt AND s.nc < 12 * s.nt)
    AND 5 * s.np <= s.nc
    AND s.ns > 0
    AND 2 * COALESCE(u.n_distinct_tokens, 0) >= s.nt
    AND 5 * COALESCE(b.top_2gram_n, 0) <= COALESCE(b.n_2grams, 0)),
kept AS (SELECT c.* FROM corpus c JOIN keepers k USING (doc_id)),
surv AS (
  SELECT MIN(doc_id) AS doc_id
  FROM kept
  GROUP BY sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))),
uniq AS (SELECT k.* FROM kept k JOIN surv s USING (doc_id)),
utk AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t,
         len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n
  FROM uniq),
base AS (
  SELECT doc_id, t, n,
         CASE WHEN n <= 0 THEN 0
              ELSE 1 + (GREATEST(n - 32, 0) + 23) // 24 END AS nch
  FROM utk),
ch AS (SELECT doc_id, t, n, UNNEST(range(nch)) AS i FROM base)
SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
       CAST(i * 24 AS BIGINT) AS start,
       CAST(LEAST(32, n - i * 24) AS BIGINT) AS n_tokens,
       array_to_string(t[i * 24 + 1 : i * 24 + 32], ' ') AS chunk_text,
       CAST(((strpos('0123456789abcdef',
                     substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
           + (strpos('0123456789abcdef',
                     substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)) % 5
            AS INT) AS fold
FROM ch ORDER BY doc_id, chunk_id
"""


EXTENSION_CHECKS["pipeline_pretrain"] = (
    q_pipeline_pretrain, ORACLE_PIPELINE_PRETRAIN)


# --- portable HyperLogLog (oracle-exact registers + raw estimate) ---------

def q_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct user_id estimate over events via the md5-register HLL,
    with the exact distinct count alongside — registers, zero count,
    and the raw estimate are all bit-identical cross-engine."""
    from ..operators.quality import (hll_portable_estimate,
                                     hll_portable_registers)

    ev = load_table(spark, sf_dir, "events")
    regs = hll_portable_registers(ev.select("user_id"), "user_id")
    est = hll_portable_estimate(regs)
    exact = ev.agg(F.countDistinct("user_id").alias("n_exact"))
    return est.crossJoin(F.broadcast(exact)).select(
        "n_exact", "n_zero",
        F.col("est_raw").cast("decimal(18,6)").cast("double")
        .alias("est_raw"))


ORACLE_HLL_PORTABLE = """
WITH h AS (
  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
           AS hv
  FROM events),
reg AS (
  SELECT hv % 256 AS j,
         MAX(CASE WHEN hv // 256 = 0 THEN 25
                  ELSE 25 - LENGTH(bin(hv // 256)) END) AS rho
  FROM h GROUP BY j),
agg AS (
  SELECT SUM(POWER(2.0, -rho)) AS s_used, COUNT(*) AS n_used FROM reg),
est AS (
  SELECT CAST(256 - n_used AS BIGINT) AS n_zero,
         (0.7213 / (1 + 1.079 / 256)) * 256 * 256
           / (s_used + (256 - n_used)) AS est_raw
  FROM agg)
SELECT (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events)
         AS n_exact,
       n_zero,
       CAST(CAST(est_raw AS DECIMAL(18,6)) AS DOUBLE) AS est_raw
FROM est
"""


EXTENSION_CHECKS["hll_portable"] = (q_hll_portable, ORACLE_HLL_PORTABLE)


# --- streaming HLL maintenance --------------------------------------------

def q_stream_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The portable-HLL registers maintained by the stream engine as a
    complete-mode stateful max-aggregation over an events file stream —
    merge-by-max makes the streamed registers equal the batch ones
    exactly (same contract as stream_cms, for the distinct-count axis).
    State: ≤ 2^b register rows, constant for any stream length."""
    from ..operators.quality import hll_portable_registers

    # spread=False: one md5 per row — the repartition exchange costs
    # more than the map work it would spread (A/B med-of-3: 0.97 vs
    # 1.07 s), unlike the tokenize-heavy CMS stream
    stream = _file_stream(spark, sf_dir, "events",
                          nanos=True, spread=False)
    regs = hll_portable_registers(stream.select("user_id"), "user_id")
    return (run_bounded(regs, spark, mode="complete", prefix="cm")
            .orderBy("j"))


ORACLE_STREAM_HLL = """
WITH h AS (
  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
           AS hv
  FROM events)
SELECT hv % 256 AS j,
       CAST(MAX(CASE WHEN hv // 256 = 0 THEN 25
                ELSE 25 - LENGTH(bin(hv // 256)) END) AS INT) AS rho
FROM h GROUP BY j ORDER BY j
"""


EXTENSION_CHECKS["stream_hll"] = (q_stream_hll, ORACLE_STREAM_HLL)


# --- two-stage retrieval (PQ shortlist -> exact decimal rerank) -----------

def q_retrieval_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (S.retrieval_topk(_emb(spark, sf_dir), query_ids=[1, 2, 3],
                             k=10, shortlist=50)
            .orderBy("query_id", "rank"))


ORACLE_RETRIEVAL_TOPK = f"""
WITH q8 AS (
  SELECT vec_id,
         CASE WHEN m = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
              ELSE list_transform(embedding,
                     x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / m) AS BIGINT))
         END AS q
  FROM (SELECT vec_id, embedding,
               list_max(list_transform(embedding,
                        x -> abs(CAST(x AS DOUBLE)))) AS m
        FROM embeddings)),
anch AS (
  SELECT q AS aq,
         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
           - 1 AS arank
  FROM q8
  QUALIFY arank < 8),
subdist AS (
  SELECT v.vec_id, t.s, a.arank,
         list_sum(list_transform(range(1, 17),
           i -> (v.q[t.s * 16 + i] - a.aq[t.s * 16 + i])
              * (v.q[t.s * 16 + i] - a.aq[t.s * 16 + i]))) AS dist
  FROM q8 v, range(4) t(s), anch a),
codes AS (
  SELECT vec_id, s, arank AS code
  FROM subdist
  QUALIFY row_number() OVER (PARTITION BY vec_id, s
                             ORDER BY dist, arank) = 1),
lut AS (
  SELECT vec_id AS query_id, s, arank, dist
  FROM subdist WHERE vec_id IN (1, 2, 3)),
adc AS (
  SELECT l.query_id, c.vec_id, CAST(SUM(l.dist) AS BIGINT) AS approx_dist
  FROM codes c JOIN lut l ON l.s = c.s AND l.arank = c.code
  WHERE l.query_id != c.vec_id
  GROUP BY l.query_id, c.vec_id),
short AS (
  SELECT query_id, vec_id
  FROM adc
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY approx_dist, vec_id) <= 50),
e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
n AS (
  SELECT vec_id, {{nv}} AS nv FROM e),
scored AS (
  SELECT s.query_id, s.vec_id,
         CAST({{dot}} AS DOUBLE) AS cosine
  FROM short s
  JOIN n c ON c.vec_id = s.vec_id
  JOIN n q ON q.vec_id = s.query_id)
SELECT query_id, vec_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id) AS INT)
         AS rank,
       cosine
FROM scored
QUALIFY rank <= 10
ORDER BY query_id, rank
""".format(nv=_NV.format(v="v"), dot=_DOT_C.format(a="q.nv", b="c.nv"))


EXTENSION_CHECKS["retrieval_topk"] = (
    q_retrieval_topk, ORACLE_RETRIEVAL_TOPK)


# --- multimodal with a REAL decode and an exact oracle --------------------

def q_mm_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary image payloads decoded FOR REAL through the Arrow stage,
    with an exact SQL oracle: the 16×16 PPM raster is a closed-form
    function of (x, y, doc_id), so the luminance feature the decoder
    extracts is re-derivable in pure SQL — the first multimodal check
    that verifies VALUES, not just row counts."""
    import pandas as pd

    from ..operators import multimodal as MM

    d = _docs(spark, sf_dir).select("doc_id").orderBy("doc_id").limit(64)

    def gen(batches):
        for pdf in batches:
            out = pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "payload": [MM.make_ppm(16, 16, seed=int(i) % 256)
                            for i in pdf["doc_id"]],
            })
            yield out

    from pyspark.sql import types as T
    media_flat = d.mapInPandas(
        gen, T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("payload", T.BinaryType())]))
    media = media_flat.select(
        "doc_id", "payload",
        F.struct(F.lit("image/x-portable-pixmap").alias("mime"),
                 F.octet_length("payload").cast("long").alias("n_bytes"),
                 F.lit(16).alias("width"),
                 F.lit(16).alias("height")).alias("meta"))
    return (MM.extract_features(media)
            .select("doc_id", "n_bytes", "n_frames", "feature_sum")
            .orderBy("doc_id"))


ORACLE_MM_PPM = """
WITH ids AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 64),
px AS (
  -- decode_stub's feature_sum caps at the FIRST 256 pixels in
  -- row-major order (y * width + x < 256); the cap is encoded here so
  -- the check stays valid for any fixture size, not just 16x16
  SELECT i.doc_id, x.x, y.y, i.doc_id % 256 AS s
  FROM ids i, range(16) x(x), range(16) y(y)
  WHERE y.y * 16 + x.x < 256),
lum AS (
  SELECT doc_id,
         SUM(((x + s) % 256 * 299 + (y + s) % 256 * 587
              + (x * y + s) % 256 * 114) // 1000) AS fsum
  FROM px GROUP BY doc_id)
SELECT doc_id,
       CAST(13 + 768 AS BIGINT) AS n_bytes,
       CAST(1 AS INT) AS n_frames,
       CAST(fsum AS BIGINT) AS feature_sum
FROM lum ORDER BY doc_id
"""


EXTENSION_CHECKS["mm_ppm"] = (q_mm_ppm, ORACLE_MM_PPM)


def q_mm_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-input tolerance (the 100 TB media reality): every third
    payload is a truncated PPM; ``on_error="mark"`` must keep EVERY row
    alive — byte-level metadata always present, decode features NULL
    and the error marked exactly on the corrupt ids, closed-form
    features on the good ones (same luminance math as ``mm_ppm``)."""
    import pandas as pd

    from ..operators import multimodal as MM

    d = _docs(spark, sf_dir).select("doc_id").orderBy("doc_id").limit(48)

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                i = int(i)
                if i % 3 == 0:   # header claims 8x8 but raster is short
                    rows.append((i, b"P6\n8 8\n255\n" + bytes(10)))
                else:
                    rows.append((i, MM.make_ppm(8, 8, seed=i % 256)))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    from pyspark.sql import types as T
    media_flat = d.mapInPandas(
        gen, T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("payload", T.BinaryType())]))
    media = media_flat.select(
        "doc_id", "payload",
        F.struct(F.lit("image/x-portable-pixmap").alias("mime"),
                 F.octet_length("payload").cast("long").alias("n_bytes"),
                 F.lit(8).alias("width"), F.lit(8).alias("height"))
        .alias("meta"))
    return (MM.extract_features(media, on_error="mark")
            .select("doc_id", "n_bytes", "n_frames", "feature_sum",
                    F.col("error").isNull().alias("ok"))
            .orderBy("doc_id"))


ORACLE_MM_ERRORS = """
WITH ids AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 48),
base AS (SELECT doc_id, doc_id % 3 = 0 AS bad, doc_id % 256 AS s
         FROM ids),
px AS (
  SELECT b.doc_id, b.s, x.x, y.y
  FROM base b, range(8) x(x), range(8) y(y)
  WHERE NOT b.bad),
lum AS (
  SELECT doc_id,
         SUM(((x + s) % 256 * 299 + (y + s) % 256 * 587
              + (x * y + s) % 256 * 114) // 1000) AS fsum
  FROM px GROUP BY doc_id)
SELECT b.doc_id,
       CAST(CASE WHEN b.bad THEN 21 ELSE 11 + 192 END AS BIGINT)
         AS n_bytes,
       CASE WHEN b.bad THEN NULL ELSE CAST(1 AS INT) END AS n_frames,
       CASE WHEN b.bad THEN NULL ELSE CAST(l.fsum AS BIGINT) END
         AS feature_sum,
       NOT b.bad AS ok
FROM base b LEFT JOIN lum l USING (doc_id)
ORDER BY b.doc_id
"""


EXTENSION_CHECKS["mm_errors"] = (q_mm_errors, ORACLE_MM_ERRORS)


def q_mm_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary WAV payloads decoded FOR REAL through the Arrow stage
    (pure-stdlib ``wave`` parse, X5's audio tier), with an exact SQL
    oracle: the PCM samples are a closed-form function of
    (k, doc_id), so duration / peak / energy are re-derivable in pure
    SQL — the audio analogue of ``mm_ppm``."""
    import pandas as pd

    from ..operators import multimodal as MM

    d = _docs(spark, sf_dir).select("doc_id").orderBy("doc_id").limit(64)

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "payload": [MM.make_wav(400, seed=int(i) % 256)
                            for i in pdf["doc_id"]],
            })

    from pyspark.sql import types as T
    media = d.mapInPandas(
        gen, T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("payload", T.BinaryType())]))
    return (MM.extract_audio_features(media)
            .select("doc_id", "n_bytes", "n_frames", "framerate",
                    "duration_ms", "peak_abs", "sumsq_256")
            .orderBy("doc_id"))


ORACLE_MM_WAV = """
WITH ids AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 64),
smp AS (
  -- make_wav's closed-form PCM: sample k of doc d is
  -- ((k*2029 + (d%256)*151) % 65536) - 32768
  SELECT i.doc_id, k.k,
         ((k.k * 2029 + (i.doc_id % 256) * 151) % 65536) - 32768 AS s
  FROM ids i, range(400) k(k)),
st AS (
  SELECT doc_id,
         MAX(ABS(s)) AS peak_abs,
         SUM(CASE WHEN k < 256 THEN s * s ELSE 0 END) AS sumsq_256
  FROM smp GROUP BY doc_id)
SELECT doc_id,
       CAST(44 + 800 AS BIGINT) AS n_bytes,       -- 44-byte header + 400*2
       CAST(400 AS BIGINT) AS n_frames,
       CAST(8000 AS INT) AS framerate,
       CAST(50 AS BIGINT) AS duration_ms,
       CAST(peak_abs AS INT) AS peak_abs,
       CAST(sumsq_256 AS BIGINT) AS sumsq_256
FROM st ORDER BY doc_id
"""


EXTENSION_CHECKS["mm_wav"] = (q_mm_wav, ORACLE_MM_WAV)


# --- model-inference stages (operators/scoring.py) ------------------------

def q_scoring_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X62: hashed-bag-of-words linear classifier INFERENCE over the
    corpus — fastText-architecture quality filtering with the md5
    hashing trick, every score integer-exact against the oracle."""
    from ..operators.scoring import hashed_linear_score

    return (hashed_linear_score(_docs(spark, sf_dir))
            .orderBy("doc_id"))


ORACLE_SCORING_LINEAR = """
WITH tok AS (
  SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
  FROM documents),
b AS (
  SELECT doc_id,
         (('0x' || substr(md5(t), 1, 8))::BIGINT % 4096) AS bucket
  FROM tok),
s AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM((bucket * 2654435761) % 2001 - 1000) AS BIGINT) AS score
  FROM b GROUP BY doc_id)
SELECT doc_id, n_tokens, score, score > 0 AS keep
FROM s ORDER BY doc_id
"""


EXTENSION_CHECKS["scoring_linear"] = (q_scoring_linear,
                                      ORACLE_SCORING_LINEAR)


def q_rp_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X63: deterministic +-1 random-projection embeddings in long
    (doc, dim, component) form — the embedding-generation stage with
    bit-identical output on any engine."""
    from ..operators.scoring import random_projection_embed

    sub = _docs(spark, sf_dir).where(F.col("doc_id") % 17 == 0)
    return (random_projection_embed(sub, dims=8)
            .orderBy("doc_id", "dim"))


ORACLE_RP_EMBED = """
WITH tok AS (
  SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
  FROM documents WHERE doc_id % 17 = 0),
d AS (
  SELECT doc_id, j.j AS dim,
         (('0x' || substr(md5(t || '|' || CAST(j.j AS VARCHAR)), 1, 2))
           ::BIGINT % 2) * 2 - 1 AS sign
  FROM tok, range(8) j(j))
SELECT doc_id, CAST(dim AS INT) AS dim,
       CAST(SUM(sign) AS BIGINT) AS component
FROM d GROUP BY doc_id, dim ORDER BY doc_id, dim
"""


EXTENSION_CHECKS["rp_embed"] = (q_rp_embed, ORACLE_RP_EMBED)


def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X64: quality-weighted deterministic sampling — keep probability
    proportional to a per-doc score, derandomized via md5(seed:id), a
    pure narrow filter (score here derives from doc_id so the oracle
    replays it; in production it is any quality column)."""
    from ..operators.scoring import bernoulli_keep

    d = _docs(spark, sf_dir)
    return (bernoulli_keep(d, (F.col("doc_id") % 100) / 80.0, seed="ws")
            .select("doc_id").orderBy("doc_id"))


ORACLE_SAMPLE_WEIGHTED = """
SELECT doc_id FROM documents
WHERE ('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
        * 10000
      < CAST(round(least(1.0, greatest(0.0, (doc_id % 100) / 80.0))
                   * 10000) AS BIGINT) * 65536
ORDER BY doc_id
"""


EXTENSION_CHECKS["sample_weighted"] = (q_sample_weighted,
                                       ORACLE_SAMPLE_WEIGHTED)


# --- distributed BPE tokenizer (operators/tokenizer.py) -------------------

def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X65: round-0 BPE statistics — frequency-weighted adjacent
    character-pair counts over the corpus vocabulary.  The corpus
    collapses to a distinct (word, freq) table first, so the pair count
    is vocab-bounded; top-200 by (cnt desc, a, b) keeps the check
    payload small."""
    from ..operators.tokenizer import bpe_pair_counts

    return (bpe_pair_counts(_docs(spark, sf_dir))
            .orderBy(F.col("cnt").desc(), "a", "b").limit(200))


ORACLE_BPE_PAIRS = """
WITH w AS (
  SELECT t AS word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
        FROM documents)
  GROUP BY t),
p AS (
  -- lateral per-word index list: valid for any word length
  SELECT substr(w.word, i.i, 1) AS a, substr(w.word, i.i + 1, 1) AS b,
         w.freq
  FROM w, UNNEST(range(1, len(w.word))) AS i(i))
SELECT a, b, CAST(SUM(freq) AS BIGINT) AS cnt
FROM p GROUP BY a, b
ORDER BY cnt DESC, a, b LIMIT 200
"""


EXTENSION_CHECKS["bpe_pairs"] = (q_bpe_pairs, ORACLE_BPE_PAIRS)


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X65b: the BPE TRAINING loop — 12 merge rounds over the corpus
    vocabulary, each round one combining pair-count aggregate + a 1-row
    argmax collect + a narrow aggregate-lambda rewrite.  Oracle-EXACT
    since round 5: the iterative chain unrolls as 12 generated CTE
    rounds (the pagerank/CC unrolling precedent) — the left-to-right
    non-overlapping merge is literally SQL ``replace()`` over a
    fully-delimited symbol string (``|a||b|`` → ``|ab|``; every symbol
    wrapped on both sides, so boundaries are exact and consecutive
    merges each keep their own delimiters).  The pytest suite ALSO
    asserts exact equality with a pure-Python reference trainer."""
    from ..operators.tokenizer import bpe_train

    merges = bpe_train(_docs(spark, sf_dir).where(F.col("doc_id") < 300),
                       n_merges=12)
    from ..functions.layout import local_frame

    return local_frame(
        spark, [(i, a, b, a + b) for i, (a, b) in enumerate(merges)],
        "rank int, a string, b string, merged string")


def _bpe_merges_oracle(n_merges: int = 12) -> str:
    """Generate the chained-CTE DuckDB oracle for ``n_merges`` BPE
    rounds.  Per round k: pair counts from the delimited symbol
    strings (split on '||', adjacent pairs via a lateral range), the
    (cnt desc, a, b) argmax as a 1-row CTE, and the rewrite as one
    ``replace``.  A round's merge row is emitted only while every
    round up to it found a pair with cnt ≥ 2 — bpe_train's early-stop
    contract.  Every CTE is ``AS MATERIALIZED``: DuckDB's inlining
    heuristic otherwise re-expands the s0→s12 chain per reference and
    the plan goes exponential (measured: 8 rounds = 11.7 s inlined vs
    12 rounds = 0.28 s materialized)."""
    parts = ["""w AS MATERIALIZED (
  SELECT t AS word, COUNT(*) AS freq
  FROM (SELECT UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
        FROM documents WHERE doc_id < 300)
  GROUP BY t),
s0 AS MATERIALIZED (
  SELECT word, freq,
         '|' || array_to_string(list_transform(
             range(1, length(word) + 1),
             i -> substr(word, i, 1)), '||') || '|' AS s
  FROM w)"""]
    for k in range(n_merges):
        parts.append(f"""y{k} AS MATERIALIZED (
  SELECT freq, string_split(substr(s, 2, length(s) - 2), '||') AS syms
  FROM s{k}),
p{k} AS MATERIALIZED (
  SELECT syms[i.i] AS a, syms[i.i + 1] AS b,
         CAST(SUM(freq) AS BIGINT) AS cnt
  FROM y{k}, UNNEST(range(1, len(syms))) AS i(i)
  GROUP BY 1, 2),
m{k} AS MATERIALIZED (
  SELECT a, b, cnt FROM p{k} ORDER BY cnt DESC, a, b LIMIT 1),
s{k + 1} AS MATERIALIZED (
  SELECT word, freq,
         replace(s, '|' || m.a || '||' || m.b || '|',
                 '|' || m.a || m.b || '|') AS s
  FROM s{k}, m{k} m)""")
    rows = []
    for k in range(n_merges):
        guards = " AND ".join(f"(SELECT cnt FROM m{j}) >= 2"
                              for j in range(k + 1))
        rows.append(f"SELECT CAST({k} AS INT) AS rank, a, b, "
                    f"a || b AS merged FROM m{k} WHERE {guards}")
    return ("WITH " + ",\n".join(parts) + "\n"
            + "\nUNION ALL\n".join(rows) + "\nORDER BY rank")


EXTENSION_CHECKS["bpe_merges"] = (q_bpe_merges, _bpe_merges_oracle(12))


# --- cross-document repeated spans (Lee et al. memorization signal) -------

def q_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X66: verbatim repeated 5-token spans across the corpus — span
    identity is the aggregation key, so there is NO candidate-pair
    stage; one fan-out + one combining groupBy."""
    from ..operators.dedup import repeated_ngram_spans

    return (repeated_ngram_spans(_docs(spark, sf_dir), n=5, min_docs=2)
            .orderBy(F.col("n_docs").desc(),
                     F.col("n_occurrences").desc(), "span")
            .limit(200))


ORACLE_REPEATED_SPANS = """
WITH tk AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
  FROM documents),
g AS (
  SELECT doc_id,
         array_to_string(list_slice(ts, i.i, i.i + 4), ' ') AS span
  FROM tk, UNNEST(range(1, len(ts) - 3)) AS i(i)
  WHERE len(ts) >= 5),
st AS (
  SELECT span, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_occurrences
  FROM g GROUP BY span)
SELECT span, n_docs, n_occurrences FROM st
WHERE n_docs >= 2
ORDER BY n_docs DESC, n_occurrences DESC, span LIMIT 200
"""


EXTENSION_CHECKS["repeated_spans"] = (q_repeated_spans,
                                      ORACLE_REPEATED_SPANS)


def q_span_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X66b: per-document boilerplate fraction — what share of each
    document's 5-token spans are corpus-repeated.  The curation
    decision signal derived from q_repeated_spans.  Span identity is
    the md5-family 120-bit key (two disjoint 60-bit halves — the
    corpus-scale collision fix) on BOTH sides (operator and oracle
    compute identical keys — the portable-hash contract), so the
    per-doc counts compare bit-exactly."""
    from ..operators.dedup import repeated_span_hits

    return (repeated_span_hits(_docs(spark, sf_dir), n=5, min_docs=2)
            .where(F.col("n_repeated") > 0)
            .orderBy("doc_id"))


ORACLE_SPAN_HITS = """
WITH tk AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
  FROM documents),
gm AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(ts, i.i, i.i + 4), ' ')) AS m
  FROM tk, UNNEST(range(1, len(ts) - 3)) AS i(i)
  WHERE len(ts) >= 5),
g AS (
  SELECT doc_id, ('0x' || substr(m, 1, 15))::BIGINT AS h1,
         ('0x' || substr(m, 17, 15))::BIGINT AS h2
  FROM gm),
rep AS (
  SELECT h1, h2 FROM g GROUP BY h1, h2
  HAVING COUNT(DISTINCT doc_id) >= 2),
hit AS (
  SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
         CAST(count_if(r.h1 IS NOT NULL) AS BIGINT) AS n_repeated
  FROM g LEFT JOIN rep r ON g.h1 = r.h1 AND g.h2 = r.h2
  GROUP BY g.doc_id)
SELECT doc_id, n_spans, n_repeated,
       CAST(n_repeated * 100 // n_spans AS BIGINT) AS repeated_pct
FROM hit WHERE n_repeated > 0 ORDER BY doc_id
"""


EXTENSION_CHECKS["span_hits"] = (q_span_hits, ORACLE_SPAN_HITS)


# --- md5-reservoir quantile sketch (operators/quality.py) -----------------

def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X67: the quantile member of the portable-sketch family (CMS =
    frequencies, HLL = cardinality, this = quantiles): a deterministic
    md5-reservoir sample whose membership is a pure function of the ids
    present, so the APPROXIMATE estimates are exactly reproducible
    cross-engine — value-checked, where KLL/t-digest could only ever be
    rows-only."""
    from ..operators.quality import mdq_quantiles, mdq_sample

    ev = load_table(spark, sf_dir, "events")
    s = mdq_sample(ev, "value", n=256, id_col="event_id")
    return mdq_quantiles(s, [0.1, 0.25, 0.5, 0.75, 0.9, 0.99])


ORACLE_QUANTILE_SKETCH = """
WITH s AS (
  SELECT md5(CAST(event_id AS VARCHAR)) AS rk, CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL
  ORDER BY rk LIMIT 256),
r AS (
  SELECT v, ROW_NUMBER() OVER (ORDER BY v, rk) AS r,
         COUNT(*) OVER () AS m
  FROM s)
SELECT q.q AS q, r.v AS value
FROM (SELECT UNNEST([0.1, 0.25, 0.5, 0.75, 0.9, 0.99]) AS q) q
JOIN r ON r.r = GREATEST(1, CAST(CEIL(q.q * r.m) AS BIGINT))
ORDER BY q
"""


EXTENSION_CHECKS["quantile_sketch"] = (q_quantile_sketch,
                                       ORACLE_QUANTILE_SKETCH)


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X65c: the BPE ENCODE kernel value-checked — a FIXED
    training-shaped merge list (each merge's parts exist before it, so
    priority-order encoding equals sequential rank application) is
    applied by the Arrow kernel, and the oracle re-implements the same
    greedy left-to-right merge as chained regexp_replace passes over a
    pipe-separated symbol string (lookahead keeps the shared boundary,
    global flag preserves the non-overlapping left-to-right
    semantics)."""
    from ..operators.tokenizer import bpe_encode

    merges = [("e", "r"), ("t", "h"), ("th", "e"), ("o", "n"),
              ("a", "n"), ("an", "d")]
    d = _docs(spark, sf_dir).where(F.col("doc_id") % 13 == 0)
    return (bpe_encode(d, merges)
            .select("doc_id", "n_tokens", "n_pieces")
            .orderBy("doc_id"))


ORACLE_BPE_ENCODE = r"""
WITH tk AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
  FROM documents WHERE doc_id % 13 = 0),
w AS (
  SELECT doc_id, UNNEST(ws) AS word FROM tk),
sym AS (
  -- each symbol wrapped in its own pipes: 'low' -> '|l||o||w|', so a
  -- merge replace consumes no shared boundary and RE2 (no lookahead)
  -- keeps exact greedy left-to-right non-overlap semantics
  SELECT doc_id, word,
         '|' || array_to_string(regexp_extract_all(word, '.'), '||')
             || '|' AS s
  FROM w),
m AS (
  SELECT doc_id, word,
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(s,
                '\|e\|\|r\|', '|er|', 'g'),
              '\|t\|\|h\|', '|th|', 'g'),
            '\|th\|\|e\|', '|the|', 'g'),
          '\|o\|\|n\|', '|on|', 'g'),
        '\|a\|\|n\|', '|an|', 'g'),
      '\|an\|\|d\|', '|and|', 'g') AS s
  FROM sym),
per_word AS (
  SELECT doc_id, CAST(len(regexp_extract_all(s, '\|')) // 2 AS BIGINT)
           AS pieces
  FROM m)
SELECT t.doc_id,
       CAST(len(t.ws) AS INT) AS n_tokens,
       CAST(COALESCE((SELECT SUM(p.pieces) FROM per_word p
                      WHERE p.doc_id = t.doc_id), 0) AS INT) AS n_pieces
FROM tk t ORDER BY t.doc_id
"""


EXTENSION_CHECKS["bpe_encode"] = (q_bpe_encode, ORACLE_BPE_ENCODE)


def q_stream_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X67b: the bucketed quantile-sketch registers maintained BY THE
    STREAM ENGINE as a complete-mode min-aggregation over an events
    file stream — merge-by-min makes the streamed registers equal the
    batch ones exactly (the CMS/HLL contract, for the quantile axis).
    State: ≤ 64 register rows, constant for any stream length."""
    from ..operators.quality import mdq_bucket_registers

    # spread=False: same cheap-map shape as stream_hll (A/B: 0.88 vs
    # 1.01 s med-of-3) — only the tokenize-heavy CMS stream spreads
    stream = _file_stream(spark, sf_dir, "events",
                          nanos=True, spread=False)
    regs = mdq_bucket_registers(stream.select("event_id", "value"),
                                "value", n_buckets=64,
                                id_col="event_id")
    return (run_bounded(regs, spark, mode="complete", prefix="cm")
            .orderBy("bucket"))


ORACLE_STREAM_QUANTILE = """
WITH h AS (
  SELECT md5(CAST(event_id AS VARCHAR)) AS rk,
         ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
           % 64 AS bucket,
         CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL)
SELECT bucket, MIN(rk) AS rk, arg_min(v, rk) AS v
FROM h GROUP BY bucket ORDER BY bucket
"""


EXTENSION_CHECKS["stream_quantile"] = (q_stream_quantile,
                                       ORACLE_STREAM_QUANTILE)


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X68: vectorized custom aggregate (GROUPED_AGG pandas UDF) — the
    extension-point shape for statistics Spark lacks, value-checked:
    per-event-type weighted median of value with integer weights."""
    from ..operators.curation import weighted_median

    ev = (load_table(spark, sf_dir, "events")
          .where(F.col("value").isNotNull())
          .withColumn("w", (F.col("user_id") % 10 + 1).cast("long")))
    return (weighted_median(ev, "event_type", "value", "w")
            .orderBy("event_type"))


ORACLE_WEIGHTED_MEDIAN = """
WITH t AS (
  SELECT event_type, CAST(value AS DOUBLE) AS v,
         user_id % 10 + 1 AS w,
         SUM(user_id % 10 + 1) OVER (PARTITION BY event_type)
           AS total,
         SUM(user_id % 10 + 1) OVER (
           PARTITION BY event_type ORDER BY CAST(value AS DOUBLE)
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM events WHERE value IS NOT NULL)
SELECT event_type, MIN(v) AS weighted_median
FROM t WHERE cum * 2 >= total
GROUP BY event_type ORDER BY event_type
"""


EXTENSION_CHECKS["weighted_median"] = (q_weighted_median,
                                       ORACLE_WEIGHTED_MEDIAN)


def q_mm_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X15 upgraded to VALUE-checked: the strided frame-sampling stage
    over text-backed payloads — stride math (ceil(n/target), frame 0
    always included) and the sliced frame bytes are closed-form in the
    ASCII text, so the oracle re-derives every row including frame
    content (hex) from the documents table."""
    from ..operators import multimodal as MM

    media = MM.attach_binary_payload(
        _docs(spark, sf_dir).where(F.col("doc_id") % 11 == 0))
    return (MM.sample_frames(media)
            .select("doc_id", "frame_idx", "frame_off",
                    F.lower(F.hex("frame")).alias("frame_hex"))
            .orderBy("doc_id", "frame_idx"))


ORACLE_MM_FRAMES = """
WITH d AS (
  SELECT doc_id, text, strlen(text) // 100 AS n
  FROM documents WHERE doc_id % 11 = 0),
f AS (
  SELECT doc_id, CAST(i.i AS INT) AS frame_idx,
         CAST(i.i * 100 AS BIGINT) AS frame_off,
         lower(hex(substr(text, i.i * 100 + 1, 100))) AS frame_hex
  FROM d, UNNEST(range(0, n, (n + 3) // 4)) AS i(i)
  WHERE n > 0)
SELECT doc_id, frame_idx, frame_off, frame_hex
FROM f ORDER BY doc_id, frame_idx
"""


EXTENSION_CHECKS["mm_frames"] = (q_mm_frames, ORACLE_MM_FRAMES)


def q_mm_y4m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 video tier decoded FOR REAL: raw YUV4MPEG2 clips parsed by the
    pure-stdlib container decoder, frame-sampled from the container's
    own FRAME boundaries (not byte windows), with every sampled frame's
    luma statistics exact integers — the 32×16 mono luma plane is a
    closed-form function of (x, y, frame, doc_id), so the oracle
    re-derives all VALUES in pure SQL.  Completes the multimodal
    matrix: PPM images, PCM WAV audio, Y4M video all value-checked."""
    import pandas as pd

    from ..operators import multimodal as MM

    d = _docs(spark, sf_dir).where(F.col("doc_id") % 13 == 0) \
        .select("doc_id")

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "payload": [MM.make_y4m(32, 16, int(i) % 5 + 1,
                                        seed=int(i))
                            for i in pdf["doc_id"]],
            })

    from pyspark.sql import types as T
    media = d.mapInPandas(
        gen, T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("payload", T.BinaryType())]))
    return (MM.sample_y4m_frames(media, target=4)
            .orderBy("doc_id", "frame_idx"))


ORACLE_MM_Y4M = """
WITH d AS (
  SELECT doc_id, CAST(doc_id % 5 + 1 AS INT) AS n
  FROM documents WHERE doc_id % 13 = 0),
fr AS (
  -- stride = ceil(n/4), frame 0 always sampled (sample_y4m_frames
  -- contract, same as sample_frames)
  SELECT doc_id, n, CAST(t.t AS INT) AS frame_idx
  FROM d, UNNEST(range(0, n, (n + 3) // 4)) AS t(t)),
px AS (
  -- luma(x, y, t, seed=doc_id) = (x + 3y + 7t + doc_id) % 256 over the
  -- 32x16 mono plane in row-major order (p -> x = p % 32, y = p // 32);
  -- luma_256 caps at the first 256 values, the repo-wide convention
  SELECT doc_id, n, frame_idx,
         SUM((p.p % 32 + 3 * (p.p // 32) + 7 * frame_idx + doc_id) % 256)
           AS luma_sum,
         SUM(CASE WHEN p.p < 256 THEN
               (p.p % 32 + 3 * (p.p // 32) + 7 * frame_idx + doc_id) % 256
             ELSE 0 END) AS luma_256
  FROM fr, UNNEST(range(0, 512)) AS p(p)
  GROUP BY 1, 2, 3)
SELECT doc_id, frame_idx, n AS n_frames,
       CAST(32 AS INT) AS width, CAST(16 AS INT) AS height,
       CAST(luma_sum AS BIGINT) AS luma_sum,
       CAST(luma_256 AS BIGINT) AS luma_256
FROM px ORDER BY doc_id, frame_idx
"""


EXTENSION_CHECKS["mm_y4m"] = (q_mm_y4m, ORACLE_MM_Y4M)


def q_mm_mulaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 companded-audio tier decoded FOR REAL: G.711 µ-law RIFFs
    (stdlib wave is PCM-only, so the container is hand-parsed and the
    ITU-T expansion is pure integer bit math) — every decoded sample is
    closed-form in (k, doc_id), so the oracle re-derives peak/energy
    VALUES in SQL through the same expansion formula."""
    import pandas as pd

    from ..operators import multimodal as MM

    d = _docs(spark, sf_dir).where(F.col("doc_id") % 7 == 0) \
        .select("doc_id")

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "payload": [MM.make_mulaw_wav(int(i) % 300 + 50,
                                              seed=int(i))
                            for i in pdf["doc_id"]],
            })

    from pyspark.sql import types as T
    media = d.mapInPandas(
        gen, T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("payload", T.BinaryType())]))
    return MM.extract_audio_features(media).orderBy("doc_id")


ORACLE_MM_MULAW = """
WITH d AS (
  SELECT doc_id, CAST(doc_id % 300 + 50 AS BIGINT) AS nf
  FROM documents WHERE doc_id % 7 = 0),
enc AS (
  -- encoded byte k = (k*37 + doc_id*11) % 256; µ-law expand =
  -- complement (255-u), then (((m<<3)+132)<<e)-132 with the sign bit
  SELECT doc_id, nf, k.k,
         255 - ((k.k * 37 + doc_id * 11) % 256) AS uc
  FROM d, UNNEST(range(0, nf)) AS k(k)),
dec AS (
  SELECT doc_id, nf, k,
         CASE WHEN uc >= 128
              THEN -(((uc % 16) * 8 + 132) * (1 << ((uc // 16) % 8)) - 132)
              ELSE   ((uc % 16) * 8 + 132) * (1 << ((uc // 16) % 8)) - 132
         END AS sv
  FROM enc),
agg AS (
  SELECT doc_id, MAX(nf) AS nf, MAX(abs(sv)) AS peak_abs,
         SUM(CASE WHEN k < 256 THEN sv * sv ELSE 0 END) AS sumsq_256
  FROM dec GROUP BY doc_id)
SELECT doc_id, CAST(44 + nf AS BIGINT) AS n_bytes,
       CAST(nf AS BIGINT) AS n_frames, CAST(8000 AS INT) AS framerate,
       CAST(nf * 1000 // 8000 AS BIGINT) AS duration_ms,
       CAST(peak_abs AS INT) AS peak_abs,
       CAST(sumsq_256 AS BIGINT) AS sumsq_256
FROM agg ORDER BY doc_id
"""


EXTENSION_CHECKS["mm_mulaw"] = (q_mm_mulaw, ORACLE_MM_MULAW)


def q_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X65d: the corpus vocabulary statistic BPE training consumes —
    top-300 (word, freq) by (freq desc, word); the one-pass collapse
    that bounds every later merge round by |vocab|, not |corpus|."""
    from ..operators.tokenizer import word_freqs

    return (word_freqs(_docs(spark, sf_dir))
            .orderBy(F.col("freq").desc(), "word").limit(300))


ORACLE_BPE_VOCAB = """
SELECT t AS word, CAST(COUNT(*) AS BIGINT) AS freq
FROM (SELECT UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
      FROM documents)
GROUP BY t ORDER BY freq DESC, word LIMIT 300
"""


EXTENSION_CHECKS["bpe_vocab"] = (q_bpe_vocab, ORACLE_BPE_VOCAB)


# --- X69: bigram-LM perplexity scoring -------------------------------------

def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X69: distributed bigram-LM quality scoring (the CCNet/Gopher
    perplexity-filter shape): train add-one-smoothed bigram counts on
    the even-doc_id half of the corpus, score the odd half — integer
    bit-cost + fixed-point probability mass, no float log anywhere
    (operators.lm docstring has the exact arithmetic)."""
    from ..operators.lm import perplexity_scores

    d = _docs(spark, sf_dir)
    return (perplexity_scores(d.where("doc_id % 2 = 1"),
                              d.where("doc_id % 2 = 0"))
            .orderBy("doc_id"))


ORACLE_LM_PERPLEXITY = """
WITH tok AS (
  SELECT doc_id, regexp_extract_all(lower(coalesce(text,'')), '[a-z0-9]+') AS tk
  FROM documents),
uni AS (
  SELECT t AS w1, COUNT(*) AS c1
  FROM (SELECT UNNEST(tk) AS t FROM tok WHERE doc_id % 2 = 0) GROUP BY 1),
-- GREATEST(.., 1): the operator clamps v = max(v, 1) so a degenerate
-- empty-train fixture yields uniform-floor scores instead of a
-- divide-by-zero; keep the oracle's boundary semantics identical
vocab AS (SELECT GREATEST(COUNT(*), 1) AS v FROM uni),
bi AS (
  SELECT w1, w2, COUNT(*) AS c2
  FROM (SELECT tk[i] AS w1, tk[i+1] AS w2
        FROM tok, UNNEST(range(1, len(tk))) AS t(i) WHERE doc_id % 2 = 0)
  GROUP BY 1, 2),
sb AS (
  SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2, COUNT(*) AS m
  FROM tok, UNNEST(range(1, len(tk))) AS t(i) WHERE doc_id % 2 = 1
  GROUP BY 1, 2, 3),
per AS (
  SELECT sb.doc_id,
         SUM(sb.m) AS n_bigrams,
         SUM(CASE WHEN bi.c2 IS NULL THEN sb.m ELSE 0 END) AS oov_bigrams,
         SUM(sb.m * (length(bin((COALESCE(uni.c1, 0) + v.v)
                                // (COALESCE(bi.c2, 0) + 1))) - 1))
             AS ppl_bits,
         SUM(sb.m * (((COALESCE(bi.c2, 0) + 1) * 1000000)
                     // (COALESCE(uni.c1, 0) + v.v))) AS probmass_fp
  FROM sb LEFT JOIN bi USING (w1, w2) LEFT JOIN uni USING (w1)
  CROSS JOIN vocab v
  GROUP BY sb.doc_id)
SELECT d.doc_id,
       CAST(COALESCE(per.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(COALESCE(per.oov_bigrams, 0) AS BIGINT) AS oov_bigrams,
       CAST(COALESCE(per.ppl_bits, 0) AS BIGINT) AS ppl_bits,
       CAST(COALESCE(per.probmass_fp, 0) AS BIGINT) AS probmass_fp
FROM documents d LEFT JOIN per USING (doc_id)
WHERE d.doc_id % 2 = 1 ORDER BY doc_id
"""


EXTENSION_CHECKS["lm_perplexity"] = (q_lm_perplexity, ORACLE_LM_PERPLEXITY)


# --- X70: k-means clustering + cluster-balanced sampling -------------------

def _kmeans_cte_chain(k: int, n_iter: int, dim: int,
                      source: str = "embeddings",
                      vec_col: str = "embedding") -> str:
    """CTE chain (no WITH, no tail) for
    :func:`~..operators.clustering.kmeans_int` — the bpe_merges recipe:
    a fixed iteration count generates one CTE group per round
    (quantize, seed by (md5(id), id), then per round an integer-L2
    argmin assignment and a truncating-integer-mean centroid update
    with empty-cluster carry).  Ends at ``fin(vec_id, cluster, dist2)``;
    ``q0`` carries the double-cast vector ``v`` so composing oracles
    (e.g. the kmeans-cell SemDeDup) can reuse it.  ``source`` /
    ``vec_col`` let the chain run over a planted-corpus CTE instead of
    the raw table."""
    parts = [f"""q0 AS (
  SELECT vec_id, v,
         CASE WHEN m = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
              ELSE list_transform(v,
                     x -> CAST(FLOOR(x * 127.0 / m) AS BIGINT))
         END AS q
  FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS m
        FROM (SELECT vec_id,
                     list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS v
              FROM {source}))),
qp AS (SELECT vec_id, i - 1 AS pos, q[i] AS v
       FROM q0, UNNEST(range(1, {dim} + 1)) t(i)),
seeds AS (SELECT vec_id, q FROM q0
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k}),
c0 AS (SELECT r, i - 1 AS pos, q[i] AS cv
       FROM (SELECT q, row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS r
             FROM seeds), UNNEST(range(1, {dim} + 1)) t(i))"""]
    for j in range(1, n_iter + 1):
        parts.append(f"""d{j} AS (
  SELECT qp.vec_id, c.r, SUM((qp.v - c.cv) * (qp.v - c.cv)) AS d2
  FROM qp JOIN c{j - 1} c USING (pos) GROUP BY qp.vec_id, c.r),
a{j} AS (
  SELECT vec_id, r AS cluster FROM (
    SELECT vec_id, r, row_number() OVER (
      PARTITION BY vec_id ORDER BY d2, r) AS rn FROM d{j}) WHERE rn = 1),
u{j} AS (
  SELECT a.cluster AS r, qp.pos, SUM(qp.v) // COUNT(*) AS cv
  FROM a{j} a JOIN qp USING (vec_id) GROUP BY 1, 2),
c{j} AS (
  SELECT p.r, p.pos, COALESCE(u.cv, p.cv) AS cv
  FROM c{j - 1} p LEFT JOIN u{j} u ON u.r = p.r AND u.pos = p.pos)""")
    parts.append(f"""df AS (
  SELECT qp.vec_id, c.r, SUM((qp.v - c.cv) * (qp.v - c.cv)) AS d2
  FROM qp JOIN c{n_iter} c USING (pos) GROUP BY qp.vec_id, c.r),
fin AS (
  SELECT vec_id, CAST(r AS INT) AS cluster, CAST(d2 AS BIGINT) AS dist2
  FROM (SELECT vec_id, r, d2, row_number() OVER (
          PARTITION BY vec_id ORDER BY d2, r) AS rn FROM df)
  WHERE rn = 1)""")
    return ",\n".join(parts)


def _kmeans_oracle_sql(k: int, n_iter: int, dim: int,
                       sampled: int | None = None) -> str:
    """Full oracle for kmeans_clusters / (with ``sampled``)
    cluster_sample: the chain plus the select tail."""
    if sampled is None:
        tail = "SELECT vec_id, cluster, dist2 FROM fin ORDER BY vec_id"
    else:
        tail = f"""SELECT vec_id, cluster, dist2 FROM (
  SELECT *, row_number() OVER (PARTITION BY cluster
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS srn FROM fin)
WHERE srn <= {sampled} ORDER BY vec_id"""
    return "WITH " + _kmeans_cte_chain(k, n_iter, dim) + "\n" + tail


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X70a: Lloyd's k-means over int8-quantized embeddings — integer-
    exact distances/updates, md5 seeds, fixed 3 rounds (operators.
    clustering docstring has the determinism recipe and scale shape)."""
    from ..operators.clustering import kmeans_int

    return kmeans_int(_emb(spark, sf_dir), k=4, n_iter=3).orderBy("vec_id")


def q_cluster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X70b: cluster-balanced diversity sampling — k-means cells, then
    the 10 smallest (md5(id), id) members per cell."""
    from ..operators.clustering import cluster_balanced_sample

    return (cluster_balanced_sample(_emb(spark, sf_dir), k=4, n_iter=3,
                                    per_cluster=10)
            .orderBy("vec_id"))


EXTENSION_CHECKS["kmeans_clusters"] = (
    q_kmeans_clusters, _kmeans_oracle_sql(k=4, n_iter=3, dim=64))
EXTENSION_CHECKS["cluster_sample"] = (
    q_cluster_sample, _kmeans_oracle_sql(k=4, n_iter=3, dim=64, sampled=10))


# --- X71: DSIR-style data selection -----------------------------------------

def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X71: DSIR data selection (Xie et al., NeurIPS'23): every tenth
    document plays the high-quality target set, the rest is the raw
    pool; the 50 most target-like raw docs win by exact integer
    likelihood-ratio bits (operators.lm.dsir_logratio_bits) with
    deterministic (ratio desc, id) ordering."""
    from ..operators.lm import dsir_select

    d = _docs(spark, sf_dir)
    return dsir_select(d.where("doc_id % 10 != 0"),
                       d.where("doc_id % 10 = 0"), n=50)


ORACLE_DSIR_SELECT = """
WITH tok AS (
  SELECT doc_id, regexp_extract_all(lower(coalesce(text,'')), '[a-z0-9]+') AS tk
  FROM documents),
tuni AS (
  SELECT t AS w1, COUNT(*) AS c1
  FROM (SELECT UNNEST(tk) AS t FROM tok WHERE doc_id % 10 = 0) GROUP BY 1),
tvocab AS (SELECT GREATEST(COUNT(*), 1) AS v FROM tuni),
tbi AS (
  SELECT w1, w2, COUNT(*) AS c2
  FROM (SELECT tk[i] AS w1, tk[i+1] AS w2
        FROM tok, UNNEST(range(1, len(tk))) AS t(i) WHERE doc_id % 10 = 0)
  GROUP BY 1, 2),
runi AS (
  SELECT t AS w1, COUNT(*) AS c1
  FROM (SELECT UNNEST(tk) AS t FROM tok WHERE doc_id % 10 != 0) GROUP BY 1),
rvocab AS (SELECT GREATEST(COUNT(*), 1) AS v FROM runi),
rbi AS (
  SELECT w1, w2, COUNT(*) AS c2
  FROM (SELECT tk[i] AS w1, tk[i+1] AS w2
        FROM tok, UNNEST(range(1, len(tk))) AS t(i) WHERE doc_id % 10 != 0)
  GROUP BY 1, 2),
sb AS (
  SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2, COUNT(*) AS m
  FROM tok, UNNEST(range(1, len(tk))) AS t(i) WHERE doc_id % 10 != 0
  GROUP BY 1, 2, 3),
per AS (
  SELECT sb.doc_id,
         SUM(sb.m) AS n_bigrams,
         SUM(sb.m * (length(bin((COALESCE(tu.c1, 0) + tv.v)
                                // (COALESCE(tb.c2, 0) + 1))) - 1))
             AS bits_target,
         SUM(sb.m * (length(bin((COALESCE(ru.c1, 0) + rv.v)
                                // (COALESCE(rb.c2, 0) + 1))) - 1))
             AS bits_raw
  FROM sb LEFT JOIN tbi tb USING (w1, w2) LEFT JOIN tuni tu USING (w1)
          LEFT JOIN rbi rb USING (w1, w2) LEFT JOIN runi ru USING (w1)
  CROSS JOIN tvocab tv CROSS JOIN rvocab rv
  GROUP BY sb.doc_id),
scored AS (
  SELECT d.doc_id,
         CAST(COALESCE(per.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         CAST(COALESCE(per.bits_target, 0) AS BIGINT) AS bits_target,
         CAST(COALESCE(per.bits_raw, 0) AS BIGINT) AS bits_raw,
         CAST(COALESCE(per.bits_raw, 0) - COALESCE(per.bits_target, 0)
              AS BIGINT) AS logratio_bits
  FROM documents d LEFT JOIN per USING (doc_id)
  WHERE d.doc_id % 10 != 0)
SELECT * FROM scored ORDER BY logratio_bits DESC, doc_id LIMIT 50
"""


EXTENSION_CHECKS["dsir_select"] = (q_dsir_select, ORACLE_DSIR_SELECT)


# --- X61b: SemDeDup with k-means-refined cells ------------------------------

def q_dedup_semantic_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X61b: semantic dedup over k-means-REFINED cells (refine_iters=2)
    — the "sampled k-means centroids at real scale" upgrade of X61,
    kept oracle-exact because kmeans_int itself is integer-exact.
    Same planted-copy corpus as dedup_semantic; refined cells are
    tighter than anchor cells, so the ε-recall over planted copies is
    near-total but not guaranteed (a 1-ulp quantization flip can cross
    a near-tie boundary) — the CHECK is exact regardless: the oracle
    replays the identical cells and prune."""
    return (D.semantic_dedup(_emb_corpus(spark, sf_dir).drop("label"),
                             n_cells=8, threshold_millis=950,
                             refine_iters=2)
            .orderBy("vec_id"))


ORACLE_DEDUP_SEMANTIC_KM = f"""
WITH corpus AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.01)
  FROM embeddings),
{_kmeans_cte_chain(k=8, n_iter=2, dim=64, source="corpus", vec_col="v")},
n AS (
  SELECT vec_id, {_NV.format(v='v')} AS nv FROM q0),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM n a
  JOIN fin ca ON ca.vec_id = a.vec_id
  JOIN fin cb ON cb.cluster = ca.cluster AND cb.vec_id > ca.vec_id
  JOIN n b ON b.vec_id = cb.vec_id
  WHERE CAST({_DOT_C.format(a='a.nv', b='b.nv')} AS DOUBLE) >= 950 / 1000.0)
SELECT f.vec_id, f.cluster AS cell
FROM fin f
WHERE f.vec_id NOT IN (SELECT id_b FROM pairs)
ORDER BY f.vec_id
"""


EXTENSION_CHECKS["dedup_semantic_km"] = (q_dedup_semantic_km,
                                         ORACLE_DEDUP_SEMANTIC_KM)


# --- X72: Stupid Backoff LM scoring -----------------------------------------

def q_lm_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X72: Stupid Backoff scoring (Brants et al., EMNLP'07) — the
    web-scale distributed-LM smoothing (constant backoff penalty, no
    cross-shard normalization), integerized with alpha = 1/2 (exactly
    one bit); same even/odd train/score split as lm_perplexity."""
    from ..operators.lm import stupid_backoff_bits

    d = _docs(spark, sf_dir)
    return (stupid_backoff_bits(d.where("doc_id % 2 = 1"),
                                d.where("doc_id % 2 = 0"))
            .orderBy("doc_id"))


ORACLE_LM_BACKOFF = """
WITH tok AS (
  SELECT doc_id, regexp_extract_all(lower(coalesce(text,'')), '[a-z0-9]+') AS tk
  FROM documents),
uni AS (
  SELECT t AS w1, COUNT(*) AS c1
  FROM (SELECT UNNEST(tk) AS t FROM tok WHERE doc_id % 2 = 0) GROUP BY 1),
tot AS (SELECT GREATEST(COUNT(*), 1) AS v,
               GREATEST(COALESCE(SUM(c1), 0), 1) AS n FROM uni),
bi AS (
  SELECT w1, w2, COUNT(*) AS c2
  FROM (SELECT tk[i] AS w1, tk[i+1] AS w2
        FROM tok, UNNEST(range(1, len(tk))) AS t(i) WHERE doc_id % 2 = 0)
  GROUP BY 1, 2),
sb AS (
  SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2, COUNT(*) AS m
  FROM tok, UNNEST(range(1, len(tk))) AS t(i) WHERE doc_id % 2 = 1
  GROUP BY 1, 2, 3),
per AS (
  SELECT sb.doc_id,
         SUM(sb.m) AS n_bigrams,
         SUM(CASE WHEN bi.c2 IS NULL THEN sb.m ELSE 0 END) AS backoff_hits,
         SUM(sb.m * CASE
               WHEN bi.c2 IS NOT NULL
                 THEN length(bin(u1.c1 // bi.c2)) - 1
               ELSE 1 + (length(bin((t.n + t.v)
                                    // (COALESCE(u2.c1, 0) + 1))) - 1)
             END) AS sb_bits
  FROM sb LEFT JOIN bi USING (w1, w2)
          LEFT JOIN uni u1 ON u1.w1 = sb.w1
          LEFT JOIN uni u2 ON u2.w1 = sb.w2
  CROSS JOIN tot t
  GROUP BY sb.doc_id)
SELECT d.doc_id,
       CAST(COALESCE(per.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(COALESCE(per.backoff_hits, 0) AS BIGINT) AS backoff_hits,
       CAST(COALESCE(per.sb_bits, 0) AS BIGINT) AS sb_bits
FROM documents d LEFT JOIN per USING (doc_id)
WHERE d.doc_id % 2 = 1 ORDER BY doc_id
"""


EXTENSION_CHECKS["lm_backoff"] = (q_lm_backoff, ORACLE_LM_BACKOFF)


# --- X73: oracle-exact IVF ANN ----------------------------------------------

def q_sim_ivf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X73: IVF top-k with the deterministic integer coarse quantizer
    (kmeans_int cells, integer-L2 probes, exact decimal rescore) — the
    oracle-exact twin of the rows-only float-KMeans sim_ivf, same
    relationship as dedup_minhash_exact to the MLlib MinHash tier."""
    from ..operators.similarity import ann_ivf_exact_topk

    return ann_ivf_exact_topk(_emb(spark, sf_dir), _QUERY_IDS, k=10,
                              n_cells=8, n_probe=2, n_iter=2)


ORACLE_SIM_IVF_EXACT = f"""
WITH {_kmeans_cte_chain(k=8, n_iter=2, dim=64)},
pd AS (
  SELECT qp.vec_id AS query_id, c.r, SUM((qp.v - c.cv) * (qp.v - c.cv)) AS d
  FROM qp JOIN c2 c USING (pos)
  WHERE qp.vec_id IN (0, 1, 2, 3, 4)
  GROUP BY 1, 2),
probes AS (
  SELECT query_id, r AS cluster FROM (
    SELECT query_id, r, d, row_number() OVER (
      PARTITION BY query_id ORDER BY d, r) AS pr FROM pd)
  WHERE pr <= 2),
nrm AS (SELECT vec_id, {_NV.format(v='v')} AS nv FROM q0),
scored AS (
  SELECT p.query_id, f.vec_id,
         CAST({_DOT_C.format(a='a.nv', b='b.nv')} AS DOUBLE) AS cosine
  FROM probes p
  JOIN fin f ON f.cluster = p.cluster AND f.vec_id != p.query_id
  JOIN nrm a ON a.vec_id = p.query_id
  JOIN nrm b ON b.vec_id = f.vec_id),
ranked AS (
  SELECT query_id, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id) AS rank
  FROM scored)
SELECT query_id, vec_id, rank, cosine FROM ranked
WHERE rank <= 10 ORDER BY query_id, rank
"""


EXTENSION_CHECKS["sim_ivf_exact"] = (q_sim_ivf_exact, ORACLE_SIM_IVF_EXACT)


# --- X74: source divergence matrix + curation scorecard ----------------------

def q_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X74a: per-source-pair unigram cross-entropy matrix (integer
    bits) — the divergence companion of source_similarity's MinHash
    overlap: which sources are cheap/expensive to model with which —
    domain drift and mixing-candidate signals for corpus planning."""
    from ..operators.lm import source_unigram_divergence

    return (source_unigram_divergence(_docs(spark, sf_dir))
            .orderBy("source_a", "source_b"))


ORACLE_SOURCE_DIVERGENCE = """
WITH counts AS (
  SELECT source AS s, t AS w, COUNT(*) AS c
  FROM (SELECT source, UNNEST(regexp_extract_all(lower(coalesce(text,'')),
                                                 '[a-z0-9]+')) AS t
        FROM documents)
  GROUP BY 1, 2),
vocab AS (SELECT GREATEST(COUNT(DISTINCT w), 1) AS v FROM counts),
totals AS (SELECT s, CAST(SUM(c) AS BIGINT) AS n FROM counts GROUP BY s),
pairs AS (
  SELECT a.s AS source_a, tb.s AS source_b, a.w, a.c AS ca,
         ta.n AS na, tb.n AS nb, b.c AS cb, v.v
  FROM counts a
  JOIN totals ta ON ta.s = a.s
  CROSS JOIN totals tb
  LEFT JOIN counts b ON b.s = tb.s AND b.w = a.w
  CROSS JOIN vocab v
  WHERE a.s != tb.s)
SELECT source_a, source_b,
       CAST(SUM(ca) AS BIGINT) AS n_tokens_a,
       CAST(SUM(ca * (length(bin((na + v) // (ca + 1))) - 1)) AS BIGINT)
           AS ent_bits,
       CAST(SUM(ca * (length(bin((nb + v) // (COALESCE(cb, 0) + 1))) - 1))
           AS BIGINT) AS xent_bits,
       CAST(SUM(ca * (length(bin((nb + v) // (COALESCE(cb, 0) + 1))) - 1))
          - SUM(ca * (length(bin((na + v) // (ca + 1))) - 1)) AS BIGINT)
           AS div_bits
FROM pairs GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X74b: per-(lang, source) curation scorecard — the one-stop
    dashboard an engine user pulls before planning a training mix:
    volume, token mass, and integer quality-score mass per slice,
    composed from quality_features in one aggregated pass."""
    d = _docs(spark, sf_dir)
    qf = X.quality_features(d)
    j = d.select("doc_id", "lang", "source").join(qf, "doc_id")
    return (j.groupBy("lang", "source")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_chars_c").cast("long").alias("total_chars"),
                 F.sum("n_tokens").cast("long").alias("total_tokens"),
                 F.sum("quality_score").cast("long").alias("sum_quality"),
                 F.sum(F.when(F.col("quality_score") >= 4, 1).otherwise(0))
                 .cast("long").alias("n_high_quality"))
            .orderBy("lang", "source"))


ORACLE_CORPUS_REPORT = rf"""
WITH f AS (
  SELECT doc_id, lang, source,
         LENGTH(text) AS n_chars_c,
         len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens,
         len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct,
         len(regexp_extract_all(lower(text), '\b({_ALL_STOPS})\b'))
             AS stop_hits
  FROM documents),
q AS (
  SELECT lang, source, n_chars_c, n_tokens,
         CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 2 ELSE 0 END
       + CASE WHEN n_punct * 5 <= n_chars_c THEN 1 ELSE 0 END
       + CASE WHEN stop_hits > 0 THEN 2 ELSE 0 END
       + CASE WHEN n_chars_c >= 3 * n_tokens AND n_chars_c < 12 * n_tokens
              THEN 1 ELSE 0 END AS quality_score
  FROM f)
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars_c) AS BIGINT) AS total_chars,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(quality_score) AS BIGINT) AS sum_quality,
       CAST(SUM(CASE WHEN quality_score >= 4 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_high_quality
FROM q GROUP BY 1, 2 ORDER BY 1, 2
"""


EXTENSION_CHECKS["source_divergence"] = (q_source_divergence,
                                         ORACLE_SOURCE_DIVERGENCE)
EXTENSION_CHECKS["corpus_report"] = (q_corpus_report, ORACLE_CORPUS_REPORT)


# --- X70c: incremental k-means assignment ------------------------------------

def q_kmeans_assign_inc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X70c: arrival-time cluster assignment — centroids fit on HISTORY
    only (the embeddings table), the arriving batch (cyclically-rotated
    copies, ids +10^6 — new directions, disjoint ids) is assigned by one
    broadcast-centroid scan; cells never drift as batches arrive (the
    incremental contract shared with dedup_semantic_inc)."""
    from ..operators.clustering import kmeans_assign

    hist = _emb(spark, sf_dir)
    batch = hist.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.concat(F.slice(F.transform("embedding",
                                     lambda x: x.cast("double")), 2, 63),
                 F.slice(F.transform("embedding",
                                     lambda x: x.cast("double")), 1, 1))
        .alias("embedding"))
    return (kmeans_assign(batch, hist, k=4, n_iter=2)
            .orderBy("vec_id"))


ORACLE_KMEANS_ASSIGN_INC = f"""
WITH {_kmeans_cte_chain(k=4, n_iter=2, dim=64)},
batch AS (
  SELECT vec_id + 1000000 AS vec_id,
         list_concat(list_transform(embedding[2:64],
                                    x -> CAST(x AS DOUBLE)),
                     list_transform(embedding[1:1],
                                    x -> CAST(x AS DOUBLE))) AS v
  FROM embeddings),
bq AS (
  SELECT vec_id,
         CASE WHEN m = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
              ELSE list_transform(v,
                     x -> CAST(FLOOR(x * 127.0 / m) AS BIGINT))
         END AS q
  FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS m
        FROM batch)),
bqp AS (SELECT vec_id, i - 1 AS pos, q[i] AS v
        FROM bq, UNNEST(range(1, 65)) t(i)),
bd AS (
  SELECT bqp.vec_id, c.r, SUM((bqp.v - c.cv) * (bqp.v - c.cv)) AS d2
  FROM bqp JOIN c2 c USING (pos) GROUP BY bqp.vec_id, c.r)
SELECT vec_id, CAST(r AS INT) AS cluster, CAST(d2 AS BIGINT) AS dist2
FROM (SELECT vec_id, r, d2, row_number() OVER (
        PARTITION BY vec_id ORDER BY d2, r) AS rn FROM bd)
WHERE rn = 1 ORDER BY vec_id
"""


EXTENSION_CHECKS["kmeans_assign_inc"] = (q_kmeans_assign_inc,
                                         ORACLE_KMEANS_ASSIGN_INC)


# --- X75: winnowing fingerprints (MOSS) --------------------------------------

def q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X75: winnowing fingerprint selection (Schleimer et al.,
    SIGMOD'03 — the MOSS plagiarism/near-copy index): min-of-window
    over 4-token shingle hashes, guaranteed to share a fingerprint with
    any ≥ w+k-1-token overlap, ~2/(w+1) selection density, pure
    codegen, portable 32-bit md5 hash."""
    from ..operators.text import winnow_fingerprints

    return (winnow_fingerprints(_docs(spark, sf_dir), k=4, w=4)
            .orderBy("doc_id", "fp"))


ORACLE_WINNOW = """
WITH tok AS (
  SELECT doc_id,
         regexp_extract_all(lower(coalesce(text,'')), '[a-z0-9]+') AS tk
  FROM documents),
h AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(tk) - 4 + 1, 0) + 1),
           i -> ('0x' || substr(md5(array_to_string(tk[i:i+3], ' ')),
                                1, 8))::BIGINT) AS hs
  FROM tok),
fps AS (
  SELECT doc_id,
         UNNEST(list_distinct(list_transform(
           range(1, greatest(len(hs) - 4 + 1, 0) + 1),
           j -> list_min(hs[j:j+3])))) AS fp
  FROM h)
SELECT DISTINCT doc_id, fp FROM fps ORDER BY doc_id, fp
"""


EXTENSION_CHECKS["winnow"] = (q_winnow, ORACLE_WINNOW)


# --- X76: dedup-tier evaluation ----------------------------------------------

def q_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X76: candidate-pair evaluation — the banded MinHash tier's pair
    set measured against the exact n-gram Jaccard tier on the planted
    near-dup corpus: one row of integer (n_pred, n_truth, n_hit, n_fp,
    n_fn); precision/recall are the consumer's float step.  The
    DataFrame twin of the pytest recall assertions, as a first-class
    queryable operator."""
    from ..functions.layout import parallel_frames

    corpus = _neardup_corpus(spark, sf_dir)
    # both tiers materialize eagerly (finalize_release) and are
    # independent — build them concurrently (guide §2.6) so the wall is
    # ~max(tier walls), not their sum
    pred, truth = parallel_frames(
        lambda: D.minhash_exact_pairs(corpus, n_hashes=8, band_rows=2),
        lambda: D.ngram_jaccard_pairs(corpus, threshold_tenths=6))
    return D.pair_set_metrics(pred, truth)


ORACLE_DEDUP_EVAL = f"""
WITH pred AS (SELECT id_a, id_b FROM ({ORACLE_DEDUP_MINHASH_EXACT})),
truth AS (SELECT id_a, id_b FROM ({ORACLE_DEDUP_NGRAM})),
j AS (
  SELECT COALESCE(p.id_a, t.id_a) AS id_a,
         COALESCE(p.id_b, t.id_b) AS id_b,
         CASE WHEN p.id_a IS NULL THEN 0 ELSE 1 END AS np,
         CASE WHEN t.id_a IS NULL THEN 0 ELSE 1 END AS nt
  FROM pred p FULL OUTER JOIN truth t
    ON p.id_a = t.id_a AND p.id_b = t.id_b)
SELECT CAST(SUM(np) AS BIGINT) AS n_pred,
       CAST(SUM(nt) AS BIGINT) AS n_truth,
       CAST(SUM(np * nt) AS BIGINT) AS n_hit,
       CAST(SUM(np) - SUM(np * nt) AS BIGINT) AS n_fp,
       CAST(SUM(nt) - SUM(np * nt) AS BIGINT) AS n_fn
FROM j
"""


EXTENSION_CHECKS["dedup_eval"] = (q_dedup_eval, ORACLE_DEDUP_EVAL)


# --- X85: hard-negative mining (contrastive retriever training data) -------

def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X85: DPR/Contriever-style hard negatives — for each query, the 5
    cosine-nearest corpus docs EXCLUDING the query and its labeled
    positive (here: positive(q) = q + 1), re-ranked 1..5.  The
    training-triples producer for retriever fine-tuning."""
    from ..operators.similarity import hard_negatives

    return (hard_negatives(_emb(spark, sf_dir),
                           {q: q + 1 for q in _QUERY_IDS}, k=5)
            .orderBy("query_id", "neg_rank"))


ORACLE_HARD_NEGATIVES = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
n AS (
  SELECT vec_id, {_NV.format(v='v')} AS nv FROM e),
scored AS (
  SELECT q.vec_id AS query_id, q.vec_id + 1 AS pos_id, c.vec_id,
         CAST({_DOT_C.format(a='q.nv', b='c.nv')} AS DOUBLE) AS cosine
  FROM n q JOIN n c ON q.vec_id IN (0,1,2,3,4) AND q.vec_id != c.vec_id),
top1 AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id) AS rank
  FROM scored),
negs AS (
  SELECT query_id, pos_id, vec_id AS neg_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rank)
           AS neg_rank
  FROM top1 WHERE rank <= 6 AND vec_id != pos_id)
SELECT query_id, pos_id, neg_id, CAST(neg_rank AS BIGINT) AS neg_rank,
       cosine
FROM negs WHERE neg_rank <= 5 ORDER BY query_id, neg_rank
"""

EXTENSION_CHECKS["hard_negatives"] = (q_hard_negatives,
                                      ORACLE_HARD_NEGATIVES)


# --- X86: per-source bottom-quantile quality pruning ------------------------

def q_quality_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X86: drop the worst 25% of documents per source by an integer
    quality score (token count here — any integer score column works):
    the FineWeb/RefinedWeb-style per-source filtering pass, integer-
    exact (rank <= (250 * n) div 1000 drops, no float percentile)."""
    from ..operators.curation import prune_bottom_quantile
    from ..operators.text import token_count

    d = _docs(spark, sf_dir).select(
        "source", "doc_id", token_count(F.col("text")).alias("score"))
    return (prune_bottom_quantile(d, "source", "score",
                                  frac_millis=250)
            .orderBy("source", "doc_id"))


ORACLE_QUALITY_PRUNE = """
WITH scored AS (
  SELECT source, doc_id,
         CAST(len(regexp_extract_all(lower(coalesce(text, '')),
                                     '[a-z0-9]+')) AS INT) AS score
  FROM documents),
ranked AS (
  SELECT source, doc_id, score,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY score ASC, doc_id ASC) AS rk,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM scored)
SELECT source, doc_id, score FROM ranked
WHERE rk > (250 * n) // 1000
ORDER BY source, doc_id
"""

EXTENSION_CHECKS["quality_prune"] = (q_quality_prune,
                                     ORACLE_QUALITY_PRUNE)


# --- X87: deterministic weighted priority sampling --------------------------

def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X87: data-mixing weighted sample — 200 documents drawn with
    selection odds scaling with weight (= doc_id % 10 + 1 here), via
    the integerized priority key md5-60bit div weight.  No rand():
    deterministic, seed-repeatable, layout-invariant."""
    from ..operators.curation import weighted_sample

    d = _docs(spark, sf_dir).select(
        "doc_id", (F.col("doc_id") % 10 + 1).alias("w"))
    return (weighted_sample(d, n=200, weight_col="w")
            .orderBy("priority", "doc_id"))


ORACLE_WEIGHTED_SAMPLE = """
WITH pr AS (
  SELECT doc_id, doc_id % 10 + 1 AS w,
         ('0x' || substr(md5('ws1:' || CAST(doc_id AS VARCHAR)), 1, 15))
           ::BIGINT // (doc_id % 10 + 1) AS priority
  FROM documents)
SELECT doc_id, w, priority FROM pr
ORDER BY priority ASC, doc_id ASC LIMIT 200
"""

EXTENSION_CHECKS["weighted_sample"] = (q_weighted_sample,
                                       ORACLE_WEIGHTED_SAMPLE)


# --- X88: IVF index persistence + serving (build-once/query-many) ----------

#: build parameters of every cached IVF index; with the builder version
#: they form the fixture tags — bump the ``v1`` when build_ivf_index's
#: layout or quantization changes
_IVF_BUILD_PARAMS = {"n_cells": 8, "n_iter": 2}
_IVF_TAG = "v1_" + "_".join(f"{k}{v}" for k, v
                            in sorted(_IVF_BUILD_PARAMS.items()))


def ensure_ivf_index(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the IVF index for ``sf_dir`` once (idempotent; the
    :func:`ensure_pq_index` cache rule)."""
    return fixture_dir(sf_dir, f"ivf_index_{_IVF_TAG}", lambda out: (
        S.build_ivf_index(_emb(spark, sf_dir), out, **_IVF_BUILD_PARAMS)))


def q_sim_ivf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X88: IVF serving from the stored cell-partitioned index — same
    deterministic quantizer/probes/rescore as sim_ivf_exact, but the
    query path reads ONLY the index artifact (dynamic partition
    pruning limits the scan to the probed cells' directories) — so
    ORACLE_SIM_IVF_EXACT is reused verbatim and the serve path must be
    bit-identical to the in-session operator (pytest-pinned).  The
    build runs once per sf_dir via :func:`ensure_ivf_index` (the
    round-5 PQ lesson: don't time one-off index I/O inside the query
    path)."""
    from ..operators.similarity import query_ivf_index

    path = ensure_ivf_index(spark, sf_dir)
    return (query_ivf_index(spark, path, _QUERY_IDS, k=10, n_probe=2)
            .orderBy("query_id", "rank"))


EXTENSION_CHECKS["sim_ivf_index"] = (q_sim_ivf_index,
                                     ORACLE_SIM_IVF_EXACT)


# --- X89: fill-in-the-middle example construction ---------------------------

def q_fim_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X89: FIM (prefix, middle, suffix) construction over every 7th
    document — derandomized split points via md5(seed:id:tag) 60-bit
    keys mod (n+1), PSM/SPM mix via the same key family."""
    from ..operators.curation import fim_split

    d = _docs(spark, sf_dir).where(F.col("doc_id") % 7 == 0)
    return fim_split(d).orderBy("doc_id")


ORACLE_FIM_SPLIT = r"""
WITH base AS (
  SELECT doc_id,
         regexp_extract_all(lower(text), '[a-z0-9]+') AS tk,
         len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n
  FROM documents WHERE doc_id % 7 = 0),
keys AS (
  SELECT doc_id, tk, n,
         ('0x' || substr(md5('fim:' || CAST(doc_id AS VARCHAR) || ':a'),
                         1, 15))::BIGINT % (n + 1) AS pa,
         ('0x' || substr(md5('fim:' || CAST(doc_id AS VARCHAR) || ':b'),
                         1, 15))::BIGINT % (n + 1) AS pb,
         ('0x' || substr(md5('fim:' || CAST(doc_id AS VARCHAR) || ':f'),
                         1, 15))::BIGINT % 1000 AS pf
  FROM base),
pts AS (
  SELECT doc_id, tk, n, LEAST(pa, pb) AS lo, GREATEST(pa, pb) AS hi,
         CASE WHEN pf < 500 THEN 'spm' ELSE 'psm' END AS fmt
  FROM keys)
SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
       CAST(lo AS BIGINT) AS lo, CAST(hi AS BIGINT) AS hi,
       COALESCE(array_to_string(tk[1:lo], ' '), '') AS prefix,
       COALESCE(array_to_string(tk[lo+1:hi], ' '), '') AS middle,
       COALESCE(array_to_string(tk[hi+1:n], ' '), '') AS suffix,
       fmt
FROM pts ORDER BY doc_id
"""

EXTENSION_CHECKS["fim_split"] = (q_fim_split, ORACLE_FIM_SPLIT)


# --- X90: Unicode-script composition ----------------------------------------

def _mixed_script_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with deterministic non-Latin snippets appended (the
    corpus is ASCII; the check needs every script class populated)."""
    d = _docs(spark, sf_dir).where(F.col("doc_id") % 11 == 0)
    cyr = "Привет мир"
    cjk = "你好世界 こんにちは"
    ara = "مرحبا"
    grk = "γεια"
    extra = (F.when(F.col("doc_id") % 3 == 0, F.lit(" " + cyr + " " + grk))
             .when(F.col("doc_id") % 3 == 1, F.lit(" " + cjk))
             .otherwise(F.lit(" " + ara)))
    return d.select("doc_id",
                    F.concat(F.col("text"), extra).alias("text"))


def q_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X90: per-document Unicode-script composition + dominant script
    over a deterministically script-mixed corpus slice."""
    from ..operators.text import script_mix

    return (script_mix(_mixed_script_docs(spark, sf_dir))
            .orderBy("doc_id"))


def _script_oracle() -> str:
    # literal codepoint ranges (RE2 has no \uXXXX escape — embed the
    # characters themselves; both engines treat them as class ranges)
    rng = {
        "latin": "A-Za-z" + chr(0xC0) + "-" + chr(0x24F),
        "digit": "0-9",
        "cyrillic": chr(0x400) + "-" + chr(0x4FF),
        "greek": chr(0x370) + "-" + chr(0x3FF),
        "arabic": chr(0x600) + "-" + chr(0x6FF),
        "cjk": (chr(0x3040) + "-" + chr(0x30FF)
                + chr(0x4E00) + "-" + chr(0x9FFF)
                + chr(0xAC00) + "-" + chr(0xD7AF)),
        "space": r"\s",
    }
    cyr = "Привет мир"
    cjk = "你好世界 こんにちは"
    ara = "مرحبا"
    grk = "γεια"
    cnt = ",\n         ".join(
        f"length(t) - length(regexp_replace(t, '[{r}]+', '', 'g')) "
        f"AS n_{n}" for n, r in rng.items())
    order = ["latin", "digit", "cyrillic", "greek", "arabic", "cjk"]
    main_case = "CASE WHEN " + " AND ".join(
        f"n_{o} = 0" for o in order) + " THEN 'none'\n"
    for i, o in enumerate(order):
        conds = " AND ".join(f"n_{o} >= n_{p}" for p in order[i + 1:]) \
            or "TRUE"
        main_case += f"         WHEN {conds} THEN '{o}'\n"
    main_case += "         END"
    return f"""
WITH src AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 3 = 0 THEN ' {cyr} {grk}'
                      WHEN doc_id % 3 = 1 THEN ' {cjk}'
                      ELSE ' {ara}' END AS t
  FROM documents WHERE doc_id % 11 = 0),
cnts AS (
  SELECT doc_id, length(t) AS n_chars,
         {cnt}
  FROM src)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       CAST(n_latin AS BIGINT) AS n_latin,
       CAST(n_digit AS BIGINT) AS n_digit,
       CAST(n_cyrillic AS BIGINT) AS n_cyrillic,
       CAST(n_greek AS BIGINT) AS n_greek,
       CAST(n_arabic AS BIGINT) AS n_arabic,
       CAST(n_cjk AS BIGINT) AS n_cjk,
       CAST(n_space AS BIGINT) AS n_space,
       CAST(n_chars - n_latin - n_digit - n_cyrillic - n_greek
            - n_arabic - n_cjk - n_space AS BIGINT) AS n_other,
       {main_case} AS main_script
FROM cnts ORDER BY doc_id
"""


EXTENSION_CHECKS["script_mix"] = (q_script_mix, _script_oracle())


# --- X91: URL-canonicalization dedup ----------------------------------------

def q_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X91: crawl URL dedup — two synthesized fetch variants per
    document (case/port/trailing-slash/fragment/param-order/tracking
    differences) must collapse to ONE canonical row each; the oracle
    states the EXPECTED canonical form directly from the generating
    columns, so the check pins the canonicalizer to the spec, not to
    itself."""
    from ..operators.curation import dedup_by_url

    d = _docs(spark, sf_dir).where(F.col("doc_id") % 13 == 0)
    base = F.concat(F.col("source"), F.lit("/"), F.col("lang"),
                    F.lit("/"), F.col("doc_id").cast("string"))
    v0 = d.select(
        F.col("doc_id"),
        F.concat(F.lit("HTTPS://WWW.Example.COM:443/"), base,
                 F.lit("/?b=2&a=1#frag")).alias("url"))
    v1 = d.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.lit("https://www.example.com/"), base,
                 F.lit("?a=1&utm_source=x&b=2&fbclid=99")).alias("url"))
    return (dedup_by_url(v0.unionByName(v1))
            .orderBy("canonical_url"))


ORACLE_DEDUP_URL = """
SELECT 'https://www.example.com/' || source || '/' || lang || '/' ||
       CAST(doc_id AS VARCHAR) || '?a=1&b=2' AS canonical_url,
       doc_id, CAST(2 AS BIGINT) AS n_variants
FROM documents WHERE doc_id % 13 = 0
ORDER BY canonical_url
"""

EXTENSION_CHECKS["dedup_url"] = (q_dedup_url, ORACLE_DEDUP_URL)


# --- X92: incremental IVF index append (frozen codebook) --------------------

def _build_ivf_appended(spark: SparkSession, sf_dir: str, out: str) -> None:
    """Build the IVF index on the original corpus at ``out``, then
    append rotated copies (disjoint ids) with the frozen codebook."""
    emb = _emb(spark, sf_dir)
    S.build_ivf_index(emb, out, **_IVF_BUILD_PARAMS)
    rotated = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.concat(
            F.slice(F.transform("embedding",
                                lambda x: x.cast("double")), 2, 63),
            F.slice(F.transform("embedding",
                                lambda x: x.cast("double")), 1, 1))
        .alias("embedding"))
    S.append_ivf_index(rotated, out)


def ensure_ivf_append_index(spark: SparkSession, sf_dir: str) -> str:
    """Build-on-originals + append-rotated-copies index for the
    sim_ivf_append check (idempotent; the :func:`ensure_pq_index` cache
    rule)."""
    return fixture_dir(sf_dir, f"ivf_append_{_IVF_TAG}", lambda out: (
        _build_ivf_appended(spark, sf_dir, out)))


def q_sim_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X92: serve from an index built on the ORIGINAL corpus then
    incrementally appended with rotated copies (disjoint ids) — the
    frozen-codebook contract: appended vectors are assigned with the
    STORED centroids, so serving equals an oracle that fits k-means on
    the originals only and scores the union."""
    from ..operators.similarity import query_ivf_index

    path = ensure_ivf_append_index(spark, sf_dir)
    return (query_ivf_index(spark, path, _QUERY_IDS, k=10, n_probe=2)
            .orderBy("query_id", "rank"))


ORACLE_SIM_IVF_APPEND = f"""
WITH {_kmeans_cte_chain(k=8, n_iter=2, dim=64)},
uni AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
         list_concat(list_transform(embedding[2:64],
                                    x -> CAST(x AS DOUBLE)),
                     list_transform(embedding[1:1],
                                    x -> CAST(x AS DOUBLE)))
  FROM embeddings),
uq AS (
  SELECT vec_id, v,
         CASE WHEN m = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
              ELSE list_transform(v,
                     x -> CAST(FLOOR(x * 127.0 / m) AS BIGINT))
         END AS q
  FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS m
        FROM uni)),
uqp AS (SELECT vec_id, i - 1 AS pos, q[i] AS uv
        FROM uq, UNNEST(range(1, 65)) t(i)),
ud AS (
  SELECT uqp.vec_id, c.r, SUM((uqp.uv - c.cv) * (uqp.uv - c.cv)) AS d2
  FROM uqp JOIN c2 c USING (pos) GROUP BY uqp.vec_id, c.r),
ua AS (
  SELECT vec_id, r AS cluster FROM (
    SELECT vec_id, r, row_number() OVER (
      PARTITION BY vec_id ORDER BY d2, r) AS rn FROM ud) WHERE rn = 1),
upd AS (
  SELECT uqp.vec_id AS query_id, c.r,
         SUM((uqp.uv - c.cv) * (uqp.uv - c.cv)) AS d
  FROM uqp JOIN c2 c USING (pos)
  WHERE uqp.vec_id IN (0, 1, 2, 3, 4)
  GROUP BY 1, 2),
probes AS (
  SELECT query_id, r AS cluster FROM (
    SELECT query_id, r, d, row_number() OVER (
      PARTITION BY query_id ORDER BY d, r) AS pr FROM upd)
  WHERE pr <= 2),
unrm AS (SELECT vec_id, {{nv}} AS nv FROM uq),
scored AS (
  SELECT p.query_id, ca.vec_id,
         CAST({{dot}} AS DOUBLE) AS cosine
  FROM probes p
  JOIN ua ca ON ca.cluster = p.cluster AND ca.vec_id != p.query_id
  JOIN unrm a ON a.vec_id = p.query_id
  JOIN unrm b ON b.vec_id = ca.vec_id),
ranked AS (
  SELECT query_id, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id) AS rank
  FROM scored)
SELECT query_id, vec_id, rank, cosine FROM ranked
WHERE rank <= 10 ORDER BY query_id, rank
""".format(nv=_NV.format(v='v'), dot=_DOT_C.format(a='a.nv', b='b.nv'))

EXTENSION_CHECKS["sim_ivf_append"] = (q_sim_ivf_append,
                                      ORACLE_SIM_IVF_APPEND)


# --- X93: IVF index compaction (logical no-op, physical rewrite) ------------

def ensure_ivf_compact_index(spark: SparkSession, sf_dir: str) -> str:
    """The append-check index, then COMPACTED — build on originals,
    append rotated copies (many small files), compact.  Serving must
    be bit-identical through the rewrite, so the check reuses
    ORACLE_SIM_IVF_APPEND verbatim."""
    def build(out):
        _build_ivf_appended(spark, sf_dir, out)
        S.compact_ivf_index(spark, out)
    return fixture_dir(sf_dir, f"ivf_compact_{_IVF_TAG}", build)


def q_sim_ivf_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X93: serving THROUGH a compaction — same corpus, same frozen
    codebook, physically rewritten cell files — must match the append
    oracle bit-for-bit (compaction is a logical no-op)."""
    from ..operators.similarity import query_ivf_index

    path = ensure_ivf_compact_index(spark, sf_dir)
    return (query_ivf_index(spark, path, _QUERY_IDS, k=10, n_probe=2)
            .orderBy("query_id", "rank"))


EXTENSION_CHECKS["sim_ivf_compact"] = (q_sim_ivf_compact,
                                       ORACLE_SIM_IVF_APPEND)


# --- X94: HTML -> text extraction -------------------------------------------

def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X94: WET-style extraction over synthesized pages (every 9th
    document wrapped in head/style/script/comment/entity/link
    boilerplate) — the clean text, link count, and first harvested
    link must match the oracle's replay of the same regex grammar."""
    from ..operators.text import html_extract

    d = _docs(spark, sf_dir).where(F.col("doc_id") % 9 == 0)
    html = F.concat(
        F.lit("<html><head><title>t</title><style>p{color:red}</style>"
              "<script>var a = 1 < 2;</script></head>\n<body>"
              "<!-- boilerplate -->\n<h1>"),
        F.col("source"), F.lit("</h1>\n<p>"),
        F.substring(F.col("text"), 1, 120),
        F.lit(" &amp; more &lt;tail&gt;</p>\n<a href=\"https://ex.com/"),
        F.col("doc_id").cast("string"),
        F.lit("\">x</a> <a href=\"/rel?a=1&amp;b=2\">y</a></body></html>"))
    out = html_extract(
        d.select("doc_id", html.alias("html")))
    return (out.select("doc_id", "text", "n_links",
                       F.element_at("links", 1).alias("first_link"))
            .orderBy("doc_id"))


ORACLE_HTML_EXTRACT = r"""
WITH src AS (
  SELECT doc_id,
         '<html><head><title>t</title><style>p{color:red}</style>'
         || '<script>var a = 1 < 2;</script></head>' || chr(10)
         || '<body><!-- boilerplate -->' || chr(10) || '<h1>' || source
         || '</h1>' || chr(10) || '<p>' || substr(text, 1, 120)
         || ' &amp; more &lt;tail&gt;</p>' || chr(10)
         || '<a href="https://ex.com/' || CAST(doc_id AS VARCHAR)
         || '">x</a> <a href="/rel?a=1&amp;b=2">y</a></body></html>'
           AS html
  FROM documents WHERE doc_id % 9 = 0),
stripped AS (
  SELECT doc_id, html,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(html,
                 '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
               '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
             '(?s)<!--.*?-->', ' ', 'g'),
           '<[^>]*>', ' ', 'g') AS s
  FROM src),
decoded AS (
  SELECT doc_id, html,
         replace(replace(replace(replace(replace(replace(s,
           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
           '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS s2
  FROM stripped)
SELECT doc_id,
       trim(regexp_replace(s2, '\s+', ' ', 'g')) AS text,
       CAST(len(regexp_extract_all(html, 'href="([^"]*)"', 1)) AS BIGINT)
         AS n_links,
       regexp_extract_all(html, 'href="([^"]*)"', 1)[1] AS first_link
FROM decoded ORDER BY doc_id
"""

EXTENSION_CHECKS["html_extract"] = (q_html_extract, ORACLE_HTML_EXTRACT)


# --- X95: balanced shard planning -------------------------------------------

def q_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X95: snake-balanced shard assignment over the full corpus by
    n_chars — the per-document (rank, shard) plan must match the
    oracle's one-window replay exactly (the distributed prefix-count
    rank IS the claim under test)."""
    from ..operators.curation import plan_shards

    return (plan_shards(_docs(spark, sf_dir), n_shards=8,
                        size_col="n_chars")
            .orderBy("rank"))


ORACLE_SHARD_PLAN = """
WITH r AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
         ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) - 1 AS rank
  FROM documents)
SELECT doc_id, n_chars, CAST(rank AS BIGINT) AS rank,
       CAST(CASE WHEN (rank // 8) % 2 = 0 THEN rank % 8
                 ELSE 7 - (rank % 8) END AS INT) AS shard
FROM r ORDER BY rank
"""


EXTENSION_CHECKS["shard_plan"] = (q_shard_plan, ORACLE_SHARD_PLAN)


# --- X96: Markdown -> text extraction ----------------------------------------

def q_md_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X96: Markdown extraction over synthesized pages (every 11th
    document wrapped in header/link/emphasis/code-fence boilerplate) —
    clean text, header harvest, code-block accounting, and link
    harvest must match the oracle's replay of the same regex
    grammar."""
    from ..operators.text import markdown_extract

    d = _docs(spark, sf_dir).where(F.col("doc_id") % 11 == 0)
    md = F.concat(
        F.lit("# Doc "), F.col("doc_id").cast("string"),
        F.lit("\n\nIntro with a [link](https://ex.com/"),
        F.col("doc_id").cast("string"),
        F.lit(") and *emphasis* plus `inline`.\n\n```\ncode block "),
        F.col("source"),
        F.lit("\n```\n\n## Section\n\n"),
        F.substring(F.col("text"), 1, 100))
    out = markdown_extract(d.select("doc_id", md.alias("md")))
    return (out.select("doc_id", "text", "n_headers",
                       F.element_at("headers", 1).alias("first_header"),
                       "n_code_blocks", "code_chars",
                       F.element_at("links", 1).alias("first_link"))
            .orderBy("doc_id"))


ORACLE_MD_EXTRACT = r"""
WITH src AS (
  SELECT doc_id,
         '# Doc ' || doc_id || chr(10) || chr(10)
         || 'Intro with a [link](https://ex.com/' || doc_id
         || ') and *emphasis* plus `inline`.' || chr(10) || chr(10)
         || '```' || chr(10) || 'code block ' || source || chr(10)
         || '```' || chr(10) || chr(10) || '## Section' || chr(10)
         || chr(10) || substr(text, 1, 100) AS md
  FROM documents WHERE doc_id % 11 = 0),
parts AS (
  SELECT doc_id, md,
         regexp_extract_all(md, '(?m)^#{1,6}[ \t]+(.+)$', 1) AS headers,
         regexp_extract_all(md, '(?s)```(.*?)```', 1) AS fences,
         regexp_extract_all(md, '\]\(([^)]*)\)', 1) AS links,
         trim(regexp_replace(regexp_replace(regexp_replace(
              regexp_replace(regexp_replace(md,
                '(?s)```.*?```', ' ', 'g'),
                '(?m)^#{1,6}[ \t]+', '', 'g'),
                '\[([^\]]*)\]\([^)]*\)', '\1', 'g'),
                '[*_`]+', '', 'g'),
                '\s+', ' ', 'g')) AS text
  FROM src)
SELECT doc_id, text,
       CAST(len(headers) AS BIGINT) AS n_headers,
       headers[1] AS first_header,
       CAST(len(fences) AS BIGINT) AS n_code_blocks,
       CAST(COALESCE(list_sum(list_transform(fences, f -> len(f))), 0)
            AS BIGINT) AS code_chars,
       links[1] AS first_link
FROM parts ORDER BY doc_id
"""


EXTENSION_CHECKS["md_extract"] = (q_md_extract, ORACLE_MD_EXTRACT)


# --- X97: dialogue-turn linearization ---------------------------------------

def q_conv_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X97: event log -> role-alternating SFT transcripts (30-min gap
    sessions, turn parity roles, newline-joined `role: event_type`
    lines) — sessionization, ordering, and the ordered concatenation
    are all value-pinned by the oracle."""
    from ..operators.curation import dialogue_turns
    from ..sources.testdata import load_table

    ev = load_table(spark, sf_dir, "events")
    return (dialogue_turns(ev).orderBy("user_id", "session_id"))


ORACLE_CONV_TURNS = """
WITH m AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                   > 1800 * 1000000
              THEN 1 ELSE 0 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) - 1 AS sess
  FROM m),
t AS (
  SELECT user_id, sess, ts, event_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id, sess
                            ORDER BY ts, event_id) - 1 AS turn
  FROM s)
SELECT user_id, CAST(sess AS BIGINT) AS session_id,
       CAST(COUNT(*) AS BIGINT) AS n_turns,
       string_agg(CASE WHEN turn % 2 = 0 THEN 'user: '
                       ELSE 'assistant: ' END || event_type,
                  chr(10) ORDER BY ts, event_id) AS transcript
FROM t GROUP BY user_id, sess
ORDER BY user_id, session_id
"""


EXTENSION_CHECKS["conv_turns"] = (q_conv_turns, ORACLE_CONV_TURNS)


# --- X98: largest-remainder token-budget allocation --------------------------

def q_token_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X98: Hamilton apportionment of a 1M-token budget across
    sources by char inventory — quotas must be exact integers summing
    to the budget, remainder ranking and tie-break pinned by the
    oracle."""
    from ..operators.curation import allocate_budget

    return (allocate_budget(_docs(spark, sf_dir), budget=1_000_000)
            .orderBy("source"))


ORACLE_TOKEN_ALLOC = """
WITH inv AS (
  SELECT source AS g, CAST(SUM(n_chars) AS BIGINT) AS sz
  FROM documents GROUP BY source),
t AS (SELECT g, sz, (SELECT SUM(sz) FROM inv) AS tot FROM inv),
b AS (SELECT g, sz, (1000000 * sz) // tot AS base,
             (1000000 * sz) % tot AS rem FROM t),
r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, g) AS rk,
             (SELECT 1000000 - SUM(base) FROM b) AS extras FROM b)
SELECT g AS source, sz AS size_sum,
       CAST(base + CASE WHEN rk <= extras THEN 1 ELSE 0 END AS BIGINT)
         AS quota
FROM r ORDER BY source
"""


EXTENSION_CHECKS["token_alloc"] = (q_token_alloc, ORACLE_TOKEN_ALLOC)


# --- X99: scorer calibration bins --------------------------------------------

def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X99: reliability bins for a deterministic synthetic scorer
    (md5-derived score 0..999, label correlated by construction so
    rates actually climb across bins) — counts, positive rates, and
    mean scores are exact-integer-pinned."""
    from ..operators.scoring import calibration_bins

    d = _docs(spark, sf_dir)
    score = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
               16, 10).cast("long"), F.lit(1000))
    label = (score + F.pmod(F.col("doc_id"), F.lit(400))) > 600
    scored = d.select(F.col("doc_id"), score.alias("score"),
                      label.alias("label"))
    return (calibration_bins(scored, "score", "label", n_bins=10)
            .orderBy("bin"))


ORACLE_CALIBRATION_BINS = """
WITH s AS (
  SELECT doc_id,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 1000
           AS score
  FROM documents),
l AS (
  SELECT score,
         CASE WHEN score + doc_id % 400 > 600 THEN 1 ELSE 0 END AS pos
  FROM s),
binned AS (
  SELECT GREATEST(0, LEAST(9, score // 100)) AS bin, pos, score FROM l)
SELECT CAST(bin AS INT) AS bin, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(pos) AS BIGINT) AS n_pos,
       CAST(1000 * SUM(pos) // COUNT(*) AS BIGINT) AS rate_millis,
       CAST(1000 * SUM(score) // COUNT(*) AS BIGINT) AS mean_score
FROM binned GROUP BY bin ORDER BY bin
"""


EXTENSION_CHECKS["calibration_bins"] = (q_calibration_bins,
                                        ORACLE_CALIBRATION_BINS)


# --- X100: span-corruption objective construction ----------------------------

def q_span_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X100: T5-style denoising pairs over every 7th document — the
    sentinel-numbered input and the masked-token target must match the
    oracle's replay of the deterministic phase-mask token-for-token."""
    from ..operators.curation import span_corrupt

    return (span_corrupt(_docs(spark, sf_dir)
                         .where(F.col("doc_id") % 7 == 0))
            .orderBy("doc_id"))


ORACLE_SPAN_CORRUPT = """
WITH d AS (
  SELECT doc_id AS i, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
  FROM documents WHERE doc_id % 7 = 0),
tok AS (SELECT i, r AS pos, tk[r + 1] AS tok
        FROM (SELECT i, tk, UNNEST(range(len(tk))) AS r FROM d)),
ph AS (SELECT i, ('0x' || substr(md5(i::VARCHAR), 1, 8))::BIGINT % 5
              AS phase
       FROM d),
m AS (
  SELECT t.i, pos, tok,
         ((pos // 3) % 5 = phase) AS masked,
         ((pos // 3) % 5 = phase AND pos % 3 = 0) AS firsttok
  FROM tok t JOIN ph ON t.i = ph.i),
s AS (
  SELECT *, SUM(CASE WHEN firsttok THEN 1 ELSE 0 END)
            OVER (PARTITION BY i ORDER BY pos
                  ROWS UNBOUNDED PRECEDING) - 1 AS sent
  FROM m),
p AS (
  SELECT i, pos, sent, masked, firsttok,
         CASE WHEN NOT masked THEN tok
              WHEN firsttok THEN '<extra_id_' || sent || '>' END
           AS in_piece,
         CASE WHEN masked AND firsttok
                THEN '<extra_id_' || sent || '> ' || tok
              WHEN masked THEN tok END AS tgt_piece
  FROM s)
SELECT i AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(MAX(sent) + 1 AS BIGINT) AS n_masked_spans,
       COALESCE(string_agg(in_piece, ' ' ORDER BY pos), '') AS input,
       COALESCE(string_agg(tgt_piece, ' ' ORDER BY pos), '') AS target
FROM p GROUP BY i ORDER BY doc_id
"""


EXTENSION_CHECKS["span_corrupt"] = (q_span_corrupt, ORACLE_SPAN_CORRUPT)


# --- X101: corpus-wide paragraph dedup (CCNet boilerplate pass) -------------

_BOILER = "Subscribe to our newsletter for updates"


def q_para_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X101: duplicate-paragraph removal over a corpus with planted
    boilerplate (every 4th doc prefixed with a fixed banner paragraph,
    every 8th with its UPPERCASED variant — normalization must fold
    them onto one fingerprint) — survivor selection, first-occurrence
    rule, and document reassembly are value-pinned by the oracle."""
    from ..operators.dedup import paragraph_dedup

    d = _docs(spark, sf_dir)
    prefix = (F.when(F.col("doc_id") % 8 == 0,
                     F.lit(_BOILER.upper() + "\n\n"))
              .when(F.col("doc_id") % 4 == 0, F.lit(_BOILER + "\n\n"))
              .otherwise(F.lit("")))
    pt = F.concat(prefix, F.substring("text", 1, 80), F.lit("\n\n"),
                  F.substring("text", 81, 400))
    return (paragraph_dedup(d.select("doc_id", pt.alias("text")))
            .orderBy("doc_id"))


ORACLE_PARA_DEDUP = rf"""
WITH src AS (
  SELECT doc_id,
         CASE WHEN doc_id % 8 = 0
                THEN upper('{_BOILER}') || chr(10) || chr(10)
              WHEN doc_id % 4 = 0
                THEN '{_BOILER}' || chr(10) || chr(10)
              ELSE '' END
         || substr(text, 1, 80) || chr(10) || chr(10)
         || substr(text, 81, 400) AS t
  FROM documents),
paras AS (
  SELECT doc_id AS i, r AS pos, p[r + 1] AS para
  FROM (SELECT doc_id, string_split(t, chr(10) || chr(10)) AS p
        FROM src),
       LATERAL (SELECT UNNEST(range(len(p))) AS r)),
nonblank AS (
  SELECT i, pos, para,
         md5(trim(regexp_replace(lower(para), '\s+', ' ', 'g'))) AS fp
  FROM paras WHERE trim(para) != ''),
marked AS (
  SELECT i, pos, para,
         (ROW_NUMBER() OVER (PARTITION BY fp ORDER BY i, pos) = 1)
           AS keep
  FROM nonblank)
SELECT i AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_paras,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       COALESCE(string_agg(CASE WHEN keep THEN para END,
                           chr(10) || chr(10) ORDER BY pos), '')
         AS text
FROM marked GROUP BY i ORDER BY doc_id
"""


EXTENSION_CHECKS["para_dedup"] = (q_para_dedup, ORACLE_PARA_DEDUP)


# --- X102: domain blocklist filtering ----------------------------------------

def q_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X102: registrable-domain blocklist over synthesized crawl URLs
    (every 5th doc lands on a subdomain of a blocked domain; one whole
    source's site is blocked outright) — the oracle states the
    survival rule from the generating columns directly (host equals a
    blocked domain OR is a subdomain of one), so the suffix-join
    implementation is pinned to the spec, not to itself."""
    from ..operators.curation import blocklist_filter

    d = _docs(spark, sf_dir)
    host = F.when(F.col("doc_id") % 5 == 0,
                  F.concat(F.col("lang"), F.lit("."), F.col("source"),
                           F.lit(".bad.net"))) \
        .otherwise(F.concat(F.col("source"), F.lit(".site")))
    u = d.select("doc_id",
                 F.concat(F.lit("https://"), host, F.lit("/p/"),
                          F.col("doc_id").cast("string"),
                          F.lit("?q=1")).alias("url"))
    from ..functions.layout import local_frame
    bl = local_frame(spark, [("bad.net",), ("src3.site",)],
                     "domain string")
    return blocklist_filter(u, bl).orderBy("doc_id")


ORACLE_BLOCKLIST = """
WITH u AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0
                THEN lang || '.' || source || '.bad.net'
              ELSE source || '.site' END AS host
  FROM documents)
SELECT doc_id,
       'https://' || host || '/p/' || doc_id || '?q=1' AS url
FROM u
WHERE NOT EXISTS (
  SELECT 1 FROM (VALUES ('bad.net'), ('src3.site')) b(d)
  WHERE u.host = b.d OR u.host LIKE '%.' || b.d)
ORDER BY doc_id
"""


EXTENSION_CHECKS["blocklist"] = (q_blocklist, ORACLE_BLOCKLIST)


# --- X103: templated-document clustering -------------------------------------

def q_template_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X103: structural dedup over a corpus with planted template
    instantiations (every 6th doc also emits an order-confirmation
    line whose ids/hashes/urls/emails differ per doc) — all instances
    must fold onto ONE template fingerprint; the normalization grammar
    is replayed by the oracle."""
    from ..operators.dedup import template_clusters

    d = _docs(spark, sf_dir)
    tmpl = (d.where(F.col("doc_id") % 6 == 0)
            .select((F.col("doc_id") + 2000000).alias("doc_id"),
                    F.concat(
                        F.lit("Order "), F.col("doc_id").cast("string"),
                        F.lit(" for "), F.col("source"),
                        F.lit(" total 0xface"),
                        F.col("doc_id").cast("string"),
                        F.lit(" at https://shop.example/p/"),
                        F.col("doc_id").cast("string"),
                        F.lit(" contact u"), F.col("doc_id").cast("string"),
                        F.lit("@mail.com ref 42")).alias("text")))
    corpus = d.select("doc_id", "text").unionByName(tmpl)
    return (template_clusters(corpus, min_docs=2)
            .orderBy("template_fp"))


ORACLE_TEMPLATE_CLUSTERS = r"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000,
         'Order ' || doc_id || ' for ' || source || ' total 0xface'
         || doc_id || ' at https://shop.example/p/' || doc_id
         || ' contact u' || doc_id || '@mail.com ref 42'
  FROM documents WHERE doc_id % 6 = 0),
norm AS (
  SELECT doc_id AS i,
         trim(regexp_replace(regexp_replace(regexp_replace(
              regexp_replace(regexp_replace(lower(text),
                '[a-z][a-z0-9+.-]*://[^\s]+', '<url>', 'g'),
                '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<email>', 'g'),
                '\b0x[0-9a-f]+\b', '<hex>', 'g'),
                '\b[0-9]+\b', '<num>', 'g'),
                '\s+', ' ', 'g')) AS tpl
  FROM corpus)
SELECT md5(tpl) AS template_fp, CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(i) AS min_id, MAX(i) AS max_id,
       arg_min(tpl, i) AS sample
FROM norm GROUP BY tpl HAVING COUNT(*) >= 2
ORDER BY template_fp
"""


EXTENSION_CHECKS["template_clusters"] = (q_template_clusters,
                                         ORACLE_TEMPLATE_CLUSTERS)


# --- X104: embedding-space outlier detection ---------------------------------

def q_emb_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X104: per-label furthest-from-centroid vectors on the shared
    int8 quantization — centroid rule, integer distances, and the
    (dist desc, id) ranking are all value-pinned by the oracle."""
    from ..operators.curation import embedding_outliers

    return (embedding_outliers(_emb(spark, sf_dir), k=5)
            .orderBy("label", "rank"))


ORACLE_EMB_OUTLIERS = """
WITH q AS (
  SELECT vec_id, label, i - 1 AS pos,
         CASE WHEN m = 0 THEN 0
              ELSE CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 127.0 / m)
                        AS BIGINT) END AS v
  FROM (SELECT vec_id, label, embedding,
               list_max(list_transform(embedding,
                        x -> abs(CAST(x AS DOUBLE)))) AS m
        FROM embeddings
        WHERE embedding IS NOT NULL AND label IS NOT NULL),
       range(1, 65) t(i)),
cent AS (
  SELECT label, pos,
         CAST(TRUNC(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
  FROM q GROUP BY label, pos),
dist AS (
  SELECT q.vec_id, q.label, SUM((q.v - c.c) * (q.v - c.c)) AS d
  FROM q JOIN cent c ON q.label = c.label AND q.pos = c.pos
  GROUP BY q.vec_id, q.label),
r AS (
  SELECT label, vec_id, d,
         ROW_NUMBER() OVER (PARTITION BY label
                            ORDER BY d DESC, vec_id) AS rank
  FROM dist)
SELECT label, vec_id, CAST(d AS BIGINT) AS dist,
       CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 5 ORDER BY label, rank
"""


EXTENSION_CHECKS["emb_outliers"] = (q_emb_outliers, ORACLE_EMB_OUTLIERS)
