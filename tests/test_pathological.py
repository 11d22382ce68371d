"""Pathological-input sweep: empty tables, all-NULL text, empty
strings, single rows.  Operators must return an empty/degenerate result
(or a documented raise), never crash with a kernel IndexError — the
class of bug the round-4 advice items (NaN weight, zero-row Arrow
batch, NULL survivor score) belonged to."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string")


@pytest.fixture(scope="module")
def null_docs(spark):
    return spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "one real doc here")],
        "doc_id long, text string")


def test_dedup_ops_empty_and_null(spark, empty_docs, null_docs):
    from ethereum2_etl_airflow_spark.operators import dedup as D

    assert D.dedup_exact(empty_docs).collect() == []
    assert D.ngram_jaccard_pairs(empty_docs).collect() == []
    assert D.repeated_ngram_spans(empty_docs).collect() == []
    # NULL/empty/whitespace text must not break fingerprinting/shingles
    assert D.dedup_exact(null_docs).count() >= 1
    assert D.ngram_jaccard_pairs(null_docs).collect() == []
    assert D.dedup_chunks(null_docs).count() >= 0


def test_text_ops_empty_and_null(spark, empty_docs, null_docs):
    from ethereum2_etl_airflow_spark.operators import text as X

    assert X.gopher_filter(empty_docs).collect() == []
    # token_count over NULL/empty/whitespace text is 0, not NULL/crash
    out = {r["doc_id"]: r["n"] for r in null_docs.select(
        "doc_id", X.token_count("text").alias("n")).collect()}
    assert out[1] == 0 and out[2] == 0 and out[3] == 0 and out[4] > 0
    # grouped corpus stats over a schema-complete but EMPTY table
    full_empty = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, "
            "n_chars long")
    assert X.text_stats(full_empty).collect() == []


def test_tokenizer_empty_and_null(spark, empty_docs, null_docs):
    from ethereum2_etl_airflow_spark.operators.tokenizer import (
        bpe_encode, bpe_train)

    assert bpe_train(empty_docs, n_merges=3) == []
    merges = bpe_train(null_docs, n_merges=3)
    out = {r["doc_id"]: r for r in
           bpe_encode(null_docs, merges).collect()}
    assert out[1]["n_tokens"] == 0 and out[1]["pieces"] == []


def test_curation_ops_empty(spark, empty_docs):
    from ethereum2_etl_airflow_spark.operators import curation as C

    assert C.pii_scrub(empty_docs).collect() == []
    assert C.cap_per_key(
        empty_docs, "doc_id", "doc_id", cap=5).collect() == []
    ev = spark.createDataFrame(
        [], "event_id long, event_type string, value double")
    assert C.winsorize(ev).collect() == []
    assert C.weighted_median(
        spark.createDataFrame([], "k string, v double, w double"),
        "k", "v", "w").collect() == []


def test_similarity_empty_queries(spark, sf_dir):
    from ethereum2_etl_airflow_spark.operators import similarity as S
    from ethereum2_etl_airflow_spark.sources.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    # a query id absent from the corpus yields no rows, not a crash
    out = S.topk_cosine_bruteforce(emb, [99999999], k=5).collect()
    assert out == []


def test_graph_ops_empty(spark):
    from ethereum2_etl_airflow_spark.operators.graph import (
        connected_components, kcore_peel, pagerank_int, triangle_counts)

    e = spark.createDataFrame([], "id_a long, id_b long")
    assert triangle_counts(e).collect() == []
    assert kcore_peel(e).collect() == []
    assert connected_components(e, "id_a", "id_b").collect() == []
    d = spark.createDataFrame([], "src long, dst long")
    assert pagerank_int(d, n_iter=2).collect() == []


def test_multimodal_empty_inputs(spark):
    from ethereum2_etl_airflow_spark.operators import multimodal as M

    empty = spark.createDataFrame(
        [], "doc_id long, payload binary, "
            "meta struct<mime:string,n_bytes:bigint,width:int,height:int>")
    assert M.extract_features(empty).collect() == []
    assert M.extract_features(empty, on_error="mark").collect() == []
    assert M.extract_features_arrow(empty).collect() == []
    flat = spark.createDataFrame([], "doc_id long, payload binary")
    assert M.sample_y4m_frames(flat).collect() == []
    assert M.sample_frames(flat).collect() == []


def test_streaming_empty_source(spark, tmp_path):
    """An empty (schema-only) streaming source completes an availableNow
    run with zero output rows — no hang, no crash — for the windowed-agg
    and watermark-dedup paths."""
    import uuid

    from pyspark.sql import types as T

    from ethereum2_etl_airflow_spark.streaming.dedup import dedup_stream
    from ethereum2_etl_airflow_spark.streaming.hourly import (
        hourly_counts_stream)

    ev_schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ])
    src_dir = str(tmp_path / "empty_events")
    spark.createDataFrame([], ev_schema).write.parquet(src_dir)

    name = f"empty_{uuid.uuid4().hex[:8]}"
    q = (hourly_counts_stream(spark, src_dir, ev_schema,
                              ts_col="ts")
         .writeStream.format("memory")
         .queryName(name).outputMode("complete")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert spark.table(name).collect() == []

    doc_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("text", T.StringType()),
    ])
    dsrc = str(tmp_path / "empty_docs")
    spark.createDataFrame([], doc_schema).write.parquet(dsrc)
    dstream = spark.readStream.schema(doc_schema).parquet(dsrc)
    name2 = f"empty_{uuid.uuid4().hex[:8]}"
    q2 = (dedup_stream(dstream).writeStream.format("memory")
          .queryName(name2).outputMode("append")
          .trigger(availableNow=True).start())
    q2.awaitTermination()
    assert spark.table(name2).collect() == []


def test_lm_ops_empty_and_null(spark, empty_docs, null_docs):
    from ethereum2_etl_airflow_spark.operators.lm import (
        dsir_logratio_bits, perplexity_scores)

    # empty corpus scored under an empty LM: no rows, no div-by-zero
    assert perplexity_scores(empty_docs, empty_docs).collect() == []
    # NULL/empty/whitespace docs score zero rows-with-zeros, never crash
    out = {r["doc_id"]: r["n_bigrams"] for r in
           perplexity_scores(null_docs, null_docs).collect()}
    assert out[1] == 0 and out[2] == 0 and out[3] == 0 and out[4] > 0
    assert dsir_logratio_bits(empty_docs, null_docs).collect() == []


def test_kmeans_degenerate_inputs(spark):
    from ethereum2_etl_airflow_spark.operators.clustering import (
        cluster_balanced_sample, kmeans_int)

    # k larger than the corpus: every vector seeds its own cluster
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>")
    out = kmeans_int(emb, k=5, n_iter=2).collect()
    assert len(out) == 2
    assert all(r["dist2"] == 0 for r in out)  # each sits on its seed
    # zero vectors quantize to all-zero and cluster without error
    zed = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [0.0, 0.0]), (3, [1.0, 1.0])],
        "vec_id long, embedding array<float>")
    zout = kmeans_int(zed, k=2, n_iter=2)
    assert zout.count() == 3
    # empty corpus: empty result, no seed-window crash
    eemb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert kmeans_int(eemb, k=3, n_iter=1).collect() == []
    assert cluster_balanced_sample(eemb, k=3, n_iter=1).collect() == []


def test_retrieval_ops_degenerate(spark, empty_docs, null_docs):
    """The round-8 retrieval family on degenerate inputs: absent query
    terms, empty corpora, all-NULL text, k larger than candidates, and
    single-arm / empty-arm fusion — empty or truncated results, never
    a crash."""
    from ethereum2_etl_airflow_spark.operators.similarity import (
        mmr_topk, ranking_eval, rrf_fuse)
    from ethereum2_etl_airflow_spark.operators.text import (
        bm25_topk, impact_postings)

    # query terms absent from the corpus -> no scored rows
    assert bm25_topk(null_docs, {1: ["zzzabsent"]}).collect() == []
    # empty corpus -> empty ranking and empty index
    assert bm25_topk(empty_docs, {1: ["a"]}).collect() == []
    assert impact_postings(empty_docs).collect() == []
    # NULL/blank text tokenizes empty and is simply absent
    ii = impact_postings(null_docs, k=4)
    assert {r["term"] for r in ii.collect()} == {"one", "real", "doc",
                                                 "here"}
    # k larger than the candidate pool -> all candidates, ranks dense
    out = bm25_topk(null_docs, {1: ["real", "doc"]}, k=50).collect()
    assert [r["rank"] for r in sorted(out, key=lambda r: r["rank"])] \
        == list(range(1, len(out) + 1))
    # MMR: fewer candidates than k, and a query id missing from the
    # corpus -> whatever exists is ranked, nothing crashes
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1])],
        "vec_id long, embedding array<float>")
    got = mmr_topk(emb, [0, 99], k=5, shortlist=4).collect()
    assert {r["vec_id"] for r in got} == {1}
    # RRF with one empty arm == ranking of the non-empty arm
    a = spark.createDataFrame([(1, 10, 1)],
                              "query_id long, doc_id long, rank long")
    b = spark.createDataFrame([], "query_id long, doc_id long, rank long")
    fused = rrf_fuse([a, b]).collect()
    assert len(fused) == 1 and fused[0]["doc_id"] == 10
    # ranking_eval: empty prediction still yields one zero-metric row
    # per truth query; empty truth yields nothing
    t = spark.createDataFrame([(1, 10)], "query_id long, doc_id long")
    ev = ranking_eval(b, t).collect()
    assert len(ev) == 1 and ev[0]["recall_micro"] == 0
    assert ranking_eval(a, b.select("query_id", "doc_id")).collect() == []


def test_passage_and_expansion_degenerate(spark, empty_docs, null_docs):
    """X83/X84 on degenerate inputs: empty ranking, empty corpus,
    queries with no feedback hits — empty results or the original
    ranking, never a crash."""
    from ethereum2_etl_airflow_spark.operators.text import (
        best_passages, expand_queries)

    empty_rank = spark.createDataFrame(
        [], "query_id long, doc_id long, rank long, score_milli long")
    assert best_passages(null_docs, empty_rank,
                         {1: ["real"]}).collect() == []
    assert best_passages(empty_docs, empty_rank,
                         {1: ["a"]}).collect() == []
    # no feedback docs (absent terms) -> no expansion terms, and the
    # expanded ranking degrades to the original query's (empty) one
    assert expand_queries(null_docs, {1: ["zzzabsent"]},
                          return_terms=True).collect() == []
    assert expand_queries(null_docs, {1: ["zzzabsent"]}).collect() == []
    assert expand_queries(empty_docs, {1: ["a"]}).collect() == []


def test_bm25_from_index_degenerate(spark, empty_docs, null_docs):
    """The round-9 serving path on degenerate inputs: empty index,
    query terms absent from the index, k larger than the served pool —
    empty or truncated rankings, never a crash; ranks stay dense."""
    from ethereum2_etl_airflow_spark.operators.text import (
        bm25_topk_from_index, impact_postings)

    # empty corpus -> empty index -> empty ranking
    idx0 = impact_postings(empty_docs)
    assert bm25_topk_from_index(idx0, {1: ["a"]}).collect() == []
    # terms absent from a non-empty index -> no rows for that query
    idx = impact_postings(null_docs, k=4)
    assert bm25_topk_from_index(idx, {1: ["zzzabsent"]}).collect() == []
    # k beyond the pool -> every scored doc, dense 1..n ranks
    out = bm25_topk_from_index(idx, {1: ["real", "doc"]}, k=50).collect()
    assert [r["rank"] for r in sorted(out, key=lambda r: r["rank"])] \
        == list(range(1, len(out) + 1))


def test_kmeans_null_embedding_rows_dropped_not_crash(spark):
    """Round-10 regression guard: a NULL embedding row has no position
    in the space — the fit's numpy kernel and the seed collect must not
    crash on it, and it must not appear in the assignment output."""
    from ethereum2_etl_airflow_spark.operators.clustering import (
        cluster_balanced_sample, kmeans_int)

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [0.0, 1.0]), (4, [1.0, 1.0])],
        "vec_id long, embedding array<float>")
    out = kmeans_int(emb, k=2, n_iter=2).collect()
    assert sorted(r["vec_id"] for r in out) == [1, 3, 4]
    assert all(r["cluster"] is not None for r in out)
    samp = cluster_balanced_sample(emb, k=2, n_iter=2).collect()
    assert 2 not in {r["vec_id"] for r in samp} and samp


def test_kmeans_null_element_matches_oracle(spark):
    """A NULL element inside an embedding follows the SQL oracle: its
    distance terms are skipped, it adds 0 to its cell's sum and counts
    in the member count.  Two vectors carry one: the first md5 seed
    (so a centroid starts with a NULL) and one other vector.  The fit
    kernel's integer cast runs with numpy's invalid flag raised in the
    workers; driver-side RuntimeWarnings are errors here."""
    import hashlib
    import random
    import warnings

    import duckdb
    import pyarrow as pa

    from ethereum2_etl_airflow_spark.operators.clustering import kmeans_int
    from ethereum2_etl_airflow_spark.plans.checks_extension import (
        _kmeans_oracle_sql)

    dim, rng = 8, random.Random(7)
    ids = list(range(1, 61))
    seed = min(ids, key=lambda i: hashlib.md5(str(i).encode()).hexdigest())
    vecs = [[rng.randint(-8, 8) / 4 for _ in range(dim)] for _ in ids]
    vecs[ids.index(seed)][3] = None
    vecs[ids.index(30 if seed != 30 else 31)][5] = None
    emb = spark.createDataFrame(list(zip(ids, vecs)),
                                "vec_id long, embedding array<float>")
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        got = sorted(tuple(r) for r in kmeans_int(emb, k=4, n_iter=3)
                     .select("vec_id", "cluster", "dist2").collect())
    con = duckdb.connect()
    con.register("embeddings", pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32()))}))
    want = sorted(con.execute(
        _kmeans_oracle_sql(k=4, n_iter=3, dim=dim)).fetchall())
    assert got == want


def test_weighted_sample_fractional_weight_has_no_mass(spark):
    """Round-10 review fix: a fractional weight in (0, 1) truncates to
    0 under the bigint division — it must be EXCLUDED (zero mass), not
    win the whole sample via a NULL div-by-zero priority that sorts
    first."""
    from ethereum2_etl_airflow_spark.operators.curation import (
        weighted_sample)

    df = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 2.0), (4, 1.0)],
        "doc_id long, w double")
    picked = weighted_sample(df, n=10, weight_col="w").collect()
    assert sorted(r["doc_id"] for r in picked) == [3, 4]
    assert all(r["priority"] is not None for r in picked)


def test_ivf_exact_degenerate_query_vectors(spark, sf_dir):
    """NULL, NaN and ±inf elements in a query's vector: the driver-side
    probe LUT must still build a plan Spark parses, and the finite
    queries keep exactly the top-k of a run without the degenerate
    ones."""
    from ethereum2_etl_airflow_spark.operators.similarity import (
        ann_ivf_exact_topk)
    from ethereum2_etl_airflow_spark.sources.testdata import load_table

    base = load_table(spark, sf_dir, "embeddings").where("vec_id < 60") \
        .select("vec_id", "embedding")
    dim = len(base.first()["embedding"])
    bad = {900001: float("nan"), 900002: float("inf"),
           900003: float("-inf"), 900004: None}
    emb = base.unionByName(spark.createDataFrame(
        [(i, [x] + [0.5] * (dim - 1)) for i, x in bad.items()],
        "vec_id long, embedding array<float>"))
    finite = [0, 1, 2, 3]

    def run(ids):
        return sorted(tuple(r) for r in ann_ivf_exact_topk(
            emb, ids, k=5, n_cells=4, n_probe=2).collect())

    clean = run(finite)
    mixed = run(finite + sorted(bad))
    assert clean
    assert [r for r in mixed if r[0] in finite] == clean
