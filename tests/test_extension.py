"""Extension operators (SURVEY §2.9): semantic assertions beyond the
oracle parity harness — planted duplicates are found, LSH approximations
track the exact tier, the multimodal stub behaves."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ethereum2_etl_airflow_spark.operators import dedup as D
from ethereum2_etl_airflow_spark.operators import multimodal as M
from ethereum2_etl_airflow_spark.operators import similarity as S
from ethereum2_etl_airflow_spark.operators import text as X
from ethereum2_etl_airflow_spark.plans.checks_extension import (
    _dup_corpus, _emb_corpus, _neardup_corpus,
)
from ethereum2_etl_airflow_spark.sources.testdata import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    # unpersist on module teardown: a lingering cached raw-table scan
    # substitutes (full-column) InMemoryRelations into every later plan
    # over the same parquet, breaking plan-shape tests for pruning
    d = load_table(spark, sf_dir, "documents").cache()
    yield d
    d.unpersist()


def test_dedup_exact_collapses_planted_dups(spark, sf_dir):
    corpus = _dup_corpus(spark, sf_dir)
    n_docs = corpus.count() // 2
    out = D.dedup_exact(corpus)
    assert out.count() == n_docs  # each planted pair collapsed
    assert out.agg(F.max("n_copies")).first()[0] == 2
    # survivor is always the original (min id)
    assert out.agg(F.max("doc_id")).first()[0] < 1000000


def test_ngram_jaccard_finds_planted_neardups(spark, sf_dir):
    corpus = _neardup_corpus(spark, sf_dir)
    pairs = D.ngram_jaccard_pairs(corpus, threshold_tenths=6).collect()
    planted = {(r["id_a"], r["id_b"]) for r in pairs
               if r["id_b"] == r["id_a"] + 1000000}
    n_variants = corpus.where(F.col("doc_id") >= 1000000).count()
    # nearly all truncated variants must pair with their original
    assert len(planted) >= int(0.9 * n_variants)


def test_minhash_tracks_exact_jaccard(spark, sf_dir):
    corpus = _neardup_corpus(spark, sf_dir)
    exact = {(r["id_a"], r["id_b"])
             for r in D.ngram_jaccard_pairs(corpus, 6).collect()
             if r["id_b"] == r["id_a"] + 1000000}
    approx = {(r["id_a"], r["id_b"])
              for r in D.minhash_near_dups(corpus, 0.4).collect()}
    # banded LSH recall over the planted pairs
    assert exact, "fixture produced no exact pairs"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"minhash recall {recall:.2f}"


def test_simhash_planted_variants_are_close(spark, sf_dir):
    corpus = _neardup_corpus(spark, sf_dir)
    sigs = D.simhash_signature(corpus)
    cands = D.simhash_candidates(sigs)
    planted = cands.where(F.col("id_b") == F.col("id_a") + 1000000)
    # truncated variants share most token mass → small Hamming distance
    assert planted.count() > 0
    assert planted.agg(F.min("hamming")).first()[0] <= 3


def test_embed_neardup_finds_scaled_copies(spark, sf_dir):
    corpus = _emb_corpus(spark, sf_dir)
    n = corpus.count() // 2
    pairs = D.cosine_near_dup_pairs(corpus, "label", 999)
    planted = pairs.where(F.col("id_b") == F.col("id_a") + 1000000)
    assert planted.count() == n  # every scaled copy found
    # and scores are ~1.0
    assert planted.agg(F.min("cosine")).first()[0] > 0.9999


def test_ann_lsh_recall_vs_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    qids = [0, 1, 2]
    exact = S.topk_cosine_bruteforce(emb, qids, k=10).collect()
    approx = S.ann_lsh_candidates(emb, qids, k=10).collect()
    ex = {(r["query_id"], r["vec_id"]) for r in exact}
    ap = {(r["query_id"], r["vec_id"]) for r in approx}
    recall = len(ex & ap) / len(ex)
    # generous-radius LSH on a small corpus should track the exact tier
    assert recall >= 0.7, f"ANN recall {recall:.2f}"


def test_lang_id_deterministic_priority(spark):
    df = spark.createDataFrame(
        [("the cat and the dog is here",),   # en stopwords
         ("der hund und die katze ist da",),  # de stopwords
         ("xyzzy qwerty",)],                  # nothing
        "text string")
    out = [r[0] for r in df.select(X.lang_id(F.col("text"))).collect()]
    assert out == ["en", "de", "und"]


def test_multimodal_stub_features(spark, docs):
    media = M.attach_binary_payload(docs.limit(50))
    feats = M.extract_features(media).collect()
    assert len(feats) == 50
    by_id = {r["doc_id"]: r for r in feats}
    row = docs.limit(50).where(F.col("doc_id") == feats[0]["doc_id"]).first()
    raw = row["text"].encode()
    got = by_id[row["doc_id"]]
    assert got["n_bytes"] == len(raw)
    assert got["head_hex"] == raw[:16].hex()
    assert got["feature_sum"] == sum(raw[:256])


def test_multimodal_codec_soft_import():
    """Without PIL the image path raises the typed stub error; WAV
    decodes for real (stdlib wave); compressed audio and video are
    stubbed in this container."""
    if M._pil_image() is None:
        with pytest.raises(NotImplementedError):
            M.decode_stub(b"\x89PNG", "image/png")
    with pytest.raises(NotImplementedError):
        M.decode_stub(b"\x00", "audio/mpeg")
    with pytest.raises(NotImplementedError):
        M.decode_stub(b"\x00", "video/mp4")


def test_multimodal_pil_decode_when_available():
    """The real image decode path — runs wherever Pillow is installed
    (skipped in this container, where it is not)."""
    pytest.importorskip("PIL")
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (4, 2), (10, 20, 30)).save(buf, format="PNG")
    png = buf.getvalue()
    out = M.decode_stub(png, "image/png")
    assert out["n_bytes"] == len(png)
    assert out["head_hex"] == png[:16].hex()
    assert out["n_frames"] == 1
    # 4x2 grayscale of constant (10,20,30): 8 identical pixels whose
    # L value is (10*299 + 20*587 + 30*114)/1000 ~= 18
    assert out["feature_sum"] in (8 * 18, 8 * 19)


def test_streaming_hourly_equals_batch(spark, sf_dir):
    from ethereum2_etl_airflow_spark.plans.checks_extension import q_stream_hourly

    ev = load_table(spark, sf_dir, "events")
    batch = {r["hour_start"]: (r["n"], r["start_block"], r["end_block"])
             for r in ev.groupBy(
                 F.date_trunc("hour", "ts").cast("timestamp_ntz")
                 .alias("hour_start"))
             .agg(F.count("*").alias("n"),
                  F.min("event_id").alias("start_block"),
                  F.max("event_id").alias("end_block")).collect()}
    stream = {r["hour_start"]: (r["n"], r["start_block"], r["end_block"])
              for r in q_stream_hourly(spark, sf_dir).collect()}
    assert stream == batch


def test_read_media_dir_binaryfile_source(spark, tmp_path):
    """X5 ingest: binaryFile source → MEDIA_SCHEMA → stubbed decode."""
    import os

    from ethereum2_etl_airflow_spark.operators.multimodal import (
        extract_features, read_media_dir,
    )

    d = tmp_path / "media"
    os.makedirs(d)
    payloads = {f"f{i}.bin": bytes(range(i, i + 40)) for i in range(3)}
    for name, data in payloads.items():
        (d / name).write_bytes(data)
    media = read_media_dir(spark, str(d), glob="*.bin")
    assert media.count() == 3
    assert media.schema["payload"].dataType.typeName() == "binary"
    feats = extract_features(media).collect()
    sizes = sorted(r["n_bytes"] for r in feats)
    assert sizes == [40, 40, 40]
    heads = {r["head_hex"] for r in feats}
    assert bytes(range(0, 16)).hex() in heads


def test_connected_components_transitive_closure(spark):
    from ethereum2_etl_airflow_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)],
        "id_a long, id_b long")
    got = {(r["node"], r["component"])
           for r in connected_components(edges).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1),
                   (10, 10), (11, 10), (20, 20), (21, 20)}


def test_connected_components_chain_converges(spark):
    """A path graph is the worst diameter case: 0-1-2-...-9 must still
    collapse to a single component (both algorithms)."""
    from ethereum2_etl_airflow_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a long, id_b long")
    comps = {r["component"]
             for r in connected_components(edges).collect()}
    assert comps == {0}
    star = {(r["node"], r["component"])
            for r in connected_components(edges, algorithm="star").collect()}
    assert star == {(i, 0) for i in range(10)}


def test_connected_components_star_matches_label(spark):
    """Same labeling from both algorithms on a mixed graph (chain +
    star + isolated pair + self-loop node)."""
    from ethereum2_etl_airflow_spark.operators.graph import connected_components

    raw = ([(i, i + 1) for i in range(5)]            # chain 0..5
           + [(100, x) for x in (101, 102, 103)]     # star
           + [(200, 201), (300, 300)])               # pair + self-loop
    edges = spark.createDataFrame(raw, "id_a long, id_b long")
    lab = {(r["node"], r["component"])
           for r in connected_components(edges).collect()}
    star = {(r["node"], r["component"])
            for r in connected_components(edges, algorithm="star").collect()}
    assert lab == star


def test_connected_components_restores_session_conf(spark):
    """The CC loops pin AQE off internally (round-11: AQE turned every
    per-round checkpoint exchange into its own job).  The pin must
    leave width and AQE as they were on exit — including when the
    caller already holds a pin of its own — and the pinned run must
    label identically to an unpinned session (layout-only contract)."""
    from ethereum2_etl_airflow_spark.functions.layout import pinned_shuffle
    from ethereum2_etl_airflow_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    expect = {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    width0 = spark.conf.get("spark.sql.shuffle.partitions")
    adapt0 = spark.conf.get("spark.sql.adaptive.enabled")
    for algo in ("label", "star"):
        got = {(r["node"], r["component"])
               for r in connected_components(edges, algorithm=algo).collect()}
        assert got == expect
        assert spark.conf.get("spark.sql.shuffle.partitions") == width0
        assert spark.conf.get("spark.sql.adaptive.enabled") == adapt0
        # nested under a caller pin: the outer holder's width and AQE
        # setting survive the inner exit
        with pinned_shuffle(spark, 5):
            got = {(r["node"], r["component"])
                   for r in connected_components(edges,
                                                 algorithm=algo).collect()}
            assert got == expect
            assert spark.conf.get("spark.sql.shuffle.partitions") == "5"
            assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        assert spark.conf.get("spark.sql.shuffle.partitions") == width0
        assert spark.conf.get("spark.sql.adaptive.enabled") == adapt0


def test_connected_components_star_deep_chain(spark):
    """large-star/small-star is O(log n) rounds: a 10k-node path graph
    (diameter 10^4 — label propagation would need 10^4 rounds) must
    converge within the default round budget."""
    from ethereum2_etl_airflow_spark.operators.graph import connected_components

    n = 10_000
    edges = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    out = connected_components(edges, algorithm="star")
    assert out.count() == n
    assert out.select("component").distinct().count() == 1
    assert out.agg(F.max("component")).first()[0] == 0


def test_stratified_sample_layout_invariant(spark, docs):
    """The sample must be a pure function of the data, not its physical
    layout — same rows whether the input is 1 partition or 16."""
    from ethereum2_etl_airflow_spark.operators.sampling import stratified_sample

    a = {r["doc_id"]
         for r in stratified_sample(docs.coalesce(1), "lang", 7).collect()}
    b = {r["doc_id"]
         for r in stratified_sample(docs.repartition(16), "lang", 7).collect()}
    assert a == b
    per_lang = (stratified_sample(docs, "lang", 7)
                .groupBy("lang").count().collect())
    assert all(r["count"] == 7 for r in per_lang)


def test_hash_fraction_sample_is_stable_subset(spark, docs):
    from ethereum2_etl_airflow_spark.operators.sampling import (
        hash_fraction_sample,
    )

    n = docs.count()
    quarter = hash_fraction_sample(docs, "40")
    half = hash_fraction_sample(docs, "80")
    nq, nh = quarter.count(), half.count()
    # binomial bounds, generous
    assert 0.15 * n < nq < 0.35 * n
    assert 0.40 * n < nh < 0.60 * n
    # prefix predicates nest: the 25% sample is inside the 50% sample
    assert quarter.join(half, "doc_id", "left_anti").count() == 0


def test_contamination_finds_planted_overlap(spark):
    from ethereum2_etl_airflow_spark.operators.dedup import contamination_pairs

    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "completely unrelated words about spark execution engines")],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, "quick brown fox jumps over the lazy dog")],
        "doc_id long, text string")
    got = contamination_pairs(train, bench, min_shared=2).collect()
    assert [(r["train_id"], r["bench_id"]) for r in got] == [(1, 100)]
    assert got[0]["n_shared"] >= 5


def test_partial_topk_bounds_and_exactness(spark, sf_dir):
    """Two-phase top-k: the partial pass caps the final rank's input at
    k rows per (query, partition) with no shuffle, and the end result is
    byte-identical to a single global window."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    qids = [0, 1, 2, 3, 4]
    k = 10
    out = S.topk_cosine_bruteforce(emb, qids, k=k)
    rows = out.collect()
    assert {r["query_id"] for r in rows} == set(qids)
    assert all(1 <= r["rank"] <= k for r in rows)

    # reconstruct the scored relation to measure the survivor bound
    from ethereum2_etl_airflow_spark.functions.layout import ensure_parallelism
    from ethereum2_etl_airflow_spark.functions.vectors import (
        dot_compact, with_normalized,
    )
    nv = (with_normalized(ensure_parallelism(emb), "embedding", "nv")
          .select("vec_id", "nv"))
    q = (nv.where(F.col("vec_id").isin(qids))
         .select(F.col("vec_id").alias("query_id"), F.col("nv").alias("qv")))
    c = nv.select(F.col("vec_id"), F.col("nv").alias("cv"))
    scored = (F.broadcast(q).crossJoin(c)
              .where(F.col("query_id") != F.col("vec_id"))
              .select("query_id", "vec_id",
                      dot_compact(F.col("qv"), F.col("cv"))
                      .cast("decimal(18,9)").cast("double").alias("cosine")))
    # small=False pins the two-phase SCALE shape (the round-11 stats
    # gate would otherwise skip the Arrow pass on this tiny relation)
    survivors = S.partial_topk(scored, k, small=False)
    n_parts = scored.rdd.getNumPartitions()
    assert survivors.count() <= k * n_parts * len(qids)
    # the gated fast path must be pass-through (phase 2 alone ranks it)
    assert S.partial_topk(scored, k, small=True) is scored
    # tiny compact threshold exercises the mid-stream compaction path
    small = S.partial_topk(scored, k, compact_every=64, small=False)
    # exactness: survivors re-ranked == single global window
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id"))
    def final(df):
        return sorted(tuple(r) for r in df
                      .select("query_id", "vec_id",
                              F.row_number().over(w).alias("rank"), "cosine")
                      .where(F.col("rank") <= k).collect())
    assert final(survivors) == final(scored) == final(small)


def test_repetition_stats_planted_boilerplate(spark):
    """A doc that is one token repeated must show top_token_n == n_tokens
    and a single distinct 2-gram; a diverse doc must not."""
    df = spark.createDataFrame(
        [(1, "spam spam spam spam spam"),
         (2, "alpha beta gamma delta epsilon"),
         (3, "")],
        "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in X.repetition_stats(df).collect()}
    assert got[1]["n_tokens"] == 5 and got[1]["n_distinct_tokens"] == 1
    assert got[1]["top_token_n"] == 5
    assert got[1]["n_2grams"] == 4 and got[1]["n_distinct_2grams"] == 1
    assert got[2]["n_tokens"] == 5 and got[2]["top_token_n"] == 1
    assert got[2]["n_distinct_2grams"] == 4
    assert got[3] == {"doc_id": 3, "n_tokens": 0, "n_distinct_tokens": 0,
                      "top_token_n": 0, "n_2grams": 0,
                      "n_distinct_2grams": 0, "top_2gram_n": 0}


def test_dedup_chunks_identity_and_removal(spark):
    """A corpus with one repeated 4-word segment: the later doc loses
    exactly that segment; unique docs reassemble to their original
    text verbatim."""
    from ethereum2_etl_airflow_spark.operators.dedup import dedup_chunks

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h"),
         (2, "a b c d x y z w"),          # first segment duplicates doc 1's
         (3, "p q r s t u v m")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r for r in dedup_chunks(docs, chunk_words=4).collect()}
    assert out[1]["clean_text"] == "a b c d e f g h"
    assert out[1]["n_kept"] == 2 and out[1]["n_chunks"] == 2
    assert out[2]["clean_text"] == "x y z w"      # lost the duplicate head
    assert out[2]["n_kept"] == 1 and out[2]["n_chunks"] == 2
    assert out[3]["clean_text"] == "p q r s t u v m"


def test_dedup_chunks_all_duplicate_doc_drops(spark):
    from ethereum2_etl_airflow_spark.operators.dedup import dedup_chunks

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d")], ["doc_id", "text"])
    rows = dedup_chunks(docs, chunk_words=4).collect()
    assert [r["doc_id"] for r in rows] == [1]


def test_hll_union_estimate_close_to_exact(spark, sf_dir):
    """The unioned per-day sketches must estimate total distinct users
    within HLL++ error — measured directly here at a tighter 5% band
    than the check's in-plan 10% boolean (round-9: the check now
    exports exact count + tolerance boolean so it is oracle-exact),
    and the check's own row must agree."""
    from ethereum2_etl_airflow_spark.plans.checks_relational import q_hll_union
    from ethereum2_etl_airflow_spark.sources.testdata import load_table

    import pyspark.sql.functions as F

    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
             .agg(F.hll_sketch_agg("user_id").alias("sketch")))
    approx = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch"))).collect()[0][0]
    exact = ev.agg(F.countDistinct("user_id")).collect()[0][0]
    assert abs(approx - exact) <= max(2, 0.05 * exact), (approx, exact)
    row = q_hll_union(spark, sf_dir).collect()[0]
    assert row["exact_total_users"] == exact
    assert bool(row["union_within_tol"]) is True


def test_pagerank_int_ring_uniform_and_star_hub(spark):
    from ethereum2_etl_airflow_spark.operators.graph import pagerank_int

    # 4-cycle: perfect symmetry => every node keeps the full scale score
    ring = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0)], ["src", "dst"])
    scores = {r["node"]: r["score"] for r in pagerank_int(ring, 3).collect()}
    assert len(set(scores.values())) == 1
    assert scores[0] == 1_000_000  # deg-1 cycle: score is conserved exactly

    # star (leaves -> hub, hub -> leaves): the hub must dominate
    star = spark.createDataFrame(
        [(i, 99) for i in range(1, 6)] + [(99, i) for i in range(1, 6)],
        ["src", "dst"])
    s = {r["node"]: r["score"] for r in pagerank_int(star, 3).collect()}
    assert s[99] > max(v for k, v in s.items() if k != 99)


def test_minhash_exact_finds_planted_neardups(spark, sf_dir):
    corpus = _neardup_corpus(spark, sf_dir)
    pairs = D.minhash_exact_pairs(corpus).collect()
    planted = {(r["id_a"], r["id_b"]) for r in pairs
               if r["id_b"] == r["id_a"] + 1000000}
    n_variants = corpus.where(F.col("doc_id") >= 1000000).count()
    assert n_variants > 0
    # truncated variants share almost all shingles -> most must surface
    assert len(planted) / n_variants >= 0.7
    # every pair reports 1..n_bands shared bands
    assert all(1 <= r["n_shared_bands"] <= 4 for r in pairs)


def test_simhash_exact_pairs_planted_and_symmetric(spark, sf_dir):
    corpus = _neardup_corpus(spark, sf_dir)
    pairs = D.simhash_exact_pairs(corpus, max_hamming=3).collect()
    assert pairs, "no candidate pairs at all"
    assert all(r["id_a"] < r["id_b"] for r in pairs)
    assert all(0 <= r["hamming"] <= 3 for r in pairs)
    planted = [r for r in pairs if r["id_b"] == r["id_a"] + 1000000]
    assert planted, "no planted variant within Hamming 3"


def test_sparse_cosine_matches_dense_definition(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = S.sparse_cosine_pairs(docs, threshold_millis=650)
    rows = out.collect()
    assert rows
    # spot-verify one pair against a locally computed dense cosine
    import collections
    import math
    import re as _re
    r0 = rows[0]
    texts = {r["doc_id"]: r["text"]
             for r in docs.where(F.col("doc_id").isin(
                 [r0["id_a"], r0["id_b"]])).collect()}
    vecs = [collections.Counter(_re.findall(r"[a-z0-9]+", texts[i].lower()))
            for i in (r0["id_a"], r0["id_b"])]
    dot = sum(c * vecs[1][t] for t, c in vecs[0].items())
    na, nb = (math.sqrt(sum(c * c for c in v.values())) for v in vecs)
    assert dot == r0["dot"]
    assert abs(dot / (na * nb) - r0["cosine"]) < 1e-12
    # pairs never cross the blocking column
    src = {r["doc_id"]: r["source"] for r in docs.collect()}
    assert all(src[r["id_a"]] == src[r["id_b"]] for r in rows)


def test_sparse_cosine_strategies_bit_identical(spark, sf_dir):
    """The blocked-GEMM default and the inverted-index scale path
    produce the SAME pair set with bit-identical dot AND cosine values
    (no rounding in the comparison) — the round-9 strategy contract."""
    docs = load_table(spark, sf_dir, "documents")
    gemm = {(r["id_a"], r["id_b"], r["dot"], r["cosine"]) for r in
            S.sparse_cosine_pairs(docs, threshold_millis=650).collect()}
    idx = {(r["id_a"], r["id_b"], r["dot"], r["cosine"]) for r in
           S.sparse_cosine_pairs(docs, threshold_millis=650,
                                 strategy="index").collect()}
    assert gemm and gemm == idx


def test_sparse_cosine_null_block_dropped_on_both_strategies(spark):
    """NULL blocking keys mean "no comparison universe" on BOTH
    strategies (round-10): the index path's a.blk == b.blk join never
    matches NULL, and the GEMM path now filters them up front instead
    of grouping all null-block rows together — two identical docs with
    a NULL source must NOT pair, while the non-null block still does."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma", None),
         (2, "alpha beta gamma", None),
         (3, "delta epsilon", "s"),
         (4, "delta epsilon", "s")],
        "doc_id long, text string, source string")
    for strat in ("gemm", "index"):
        pairs = {(r["id_a"], r["id_b"]) for r in
                 S.sparse_cosine_pairs(docs, threshold_millis=650,
                                       strategy=strat).collect()}
        assert pairs == {(3, 4)}, (strat, pairs)


def test_sparse_cosine_gemm_int64_fallback(spark):
    """A block whose count scale breaks the float64-exactness proof
    (max(cnt)²·|vocab| ≥ 2^53) recomputes in int64 and still returns
    the exact dot: two docs of 2^20 repeated 'x' tokens (dot = 2^40, a
    power of 4 → exact sqrt → cosine exactly 1.0) plus a disjoint
    9001-distinct-token doc in the same block that pushes the bound
    over 2^53 without touching the pair."""
    n = 1 << 20
    text = ("x " * n).strip()
    filler = " ".join(f"t{i}" for i in range(9001))
    docs = spark.createDataFrame(
        [(1, text, "b"), (2, text, "b"), (3, filler, "b")],
        "doc_id long, text string, source string")
    rows = S.sparse_cosine_pairs(docs, threshold_millis=900).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    assert r["dot"] == n * n and r["cosine"] == 1.0


def test_ngram_novelty_bounds_and_duplicate_drop(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    # duplicate one doc: its 2-grams all get df >= 2 -> zero novelty
    dup = docs.limit(1).withColumn("doc_id", F.lit(999999))
    out = {r["doc_id"]: r for r in
           X.ngram_novelty(docs.unionByName(dup)).collect()}
    assert all(0 <= r["n_novel"] <= r["n_ngrams"] for r in out.values())
    src_id = docs.limit(1).first()["doc_id"]
    assert out[999999]["n_novel"] == 0
    assert out[src_id]["n_novel"] == 0


def test_compression_ratio_pinned_values(spark):
    import zlib
    rows = [(1, "a" * 1000), (2, "the quick brown fox jumps over it"),
            (3, ""), (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in X.compression_ratio(df).collect()}
    for i, t in rows:
        b = (t or "").encode()
        assert got[i]["raw_len"] == len(b)
        exp = len(zlib.compress(b, 6)) if b else 0
        assert got[i]["comp_len"] == exp
        assert got[i]["ratio_millis"] == (round(1000 * exp / len(b)) if b else 0)
    # repetitive text compresses far better than natural text
    assert got[1]["ratio_millis"] < got[2]["ratio_millis"]


def test_triangle_counts_known_graph(spark):
    """K4 minus one edge: nodes {1,2,3,4}, edges all pairs except (3,4).
    Triangles: (1,2,3) and (1,2,4) — so 1,2 sit on 2 each; 3,4 on 1."""
    from ethereum2_etl_airflow_spark.operators.graph import triangle_counts

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)], "id_a long, id_b long")
    got = {r["node"]: r["n_triangles"]
           for r in triangle_counts(edges).collect()}
    assert got == {1: 2, 2: 2, 3: 1, 4: 1}
    # duplicate / reversed / self-loop edges must not change the answer
    noisy = edges.union(spark.createDataFrame(
        [(2, 1), (3, 1), (1, 1)], "id_a long, id_b long"))
    got2 = {r["node"]: r["n_triangles"]
            for r in triangle_counts(noisy).collect()}
    assert got2 == got


def test_gopher_filter_planted_failures(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog and runs far away home"),  # clean
        (2, "word " * 4),                           # too short -> bit 1
        (3, "spam spam spam spam spam " * 4),       # no stopwords, low diversity, top-2gram
        (4, "the of and is a " + "!@#$% " * 40),    # punctuation-heavy
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["failed"], r["keep"])
           for r in X.gopher_filter(df).collect()}
    assert got[1] == (0, True)
    assert got[2][0] & 1 and not got[2][1]
    assert got[3][0] & 8 and got[3][0] & 16 and got[3][0] & 32
    assert got[4][0] & 4 and not got[4][1]


def test_bloom_probe_no_false_negatives_and_filters(spark):
    from ethereum2_etl_airflow_spark.functions.bloom import (
        bloom_build, bloom_probe, bloom_semi_join)

    big = spark.range(0, 20000).withColumnRenamed("id", "k")
    small = spark.range(0, 20000, 97).withColumnRenamed("id", "k")  # ~206 keys
    bloom = bloom_build(small, "k")
    cand = bloom_probe(big, "k", bloom)
    n_cand = cand.count()
    n_true = big.join(small, "k", "left_semi").count()
    assert n_cand >= n_true           # no false negatives, ever
    assert n_cand < 2000              # and it actually filters (<10% pass)
    got = sorted(r["k"] for r in bloom_semi_join(big, small, "k").collect())
    want = sorted(r["k"] for r in big.join(small, "k", "left_semi").collect())
    assert got == want                # exact after FP removal


def test_bloom_probe_is_jvm_only(spark):
    from ethereum2_etl_airflow_spark.functions.bloom import (
        bloom_build, bloom_probe)
    from ethereum2_etl_airflow_spark.plans.explain import plan_string

    big = spark.range(0, 1000).withColumnRenamed("id", "k")
    small = spark.range(0, 100).withColumnRenamed("id", "k")
    plan = plan_string(bloom_probe(big, "k", bloom_build(small, "k")),
                       "simple")
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_pq_topk_planted_duplicate_attains_min_adc(spark, sf_dir):
    """An exact copy of the query vector shares its codes, and the
    query's own code per subspace is by construction the arg-min of the
    query's LUT — so the copy attains the global minimum ADC distance."""
    emb = load_table(spark, sf_dir, "embeddings").limit(200)
    dup = (emb.where(F.col("vec_id") == 1)
           .select((F.col("vec_id") + 1_000_000).alias("vec_id"),
                   "embedding", "label"))
    out = S.pq_topk(emb.unionByName(dup), query_ids=[1], k=10).collect()
    by_vec = {r["vec_id"]: r for r in out}
    assert 1_000_001 in by_vec
    min_dist = min(r["approx_dist"] for r in out)
    assert by_vec[1_000_001]["approx_dist"] == min_dist


def test_source_similarity_identical_and_disjoint_groups(spark):
    texts = ["the quick brown fox jumps over the lazy dog every day",
             "an entirely different document about spark query planning"]
    rows = [(1, texts[0], "a"), (2, texts[0], "b"),   # a ≡ b
            (3, texts[1], "c")]                       # c disjoint from both
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {(r["src_a"], r["src_b"]): r
           for r in D.source_minhash_similarity(df, n_hashes=16).collect()}
    assert got[("a", "b")]["n_match"] == 16
    assert got[("a", "b")]["jaccard_est"] == 1.0
    assert got[("a", "c")]["n_match"] == 0
    assert got[("b", "c")]["n_match"] == 0


def test_negative_sample_determinism_and_label_exclusion(spark, sf_dir):
    from ethereum2_etl_airflow_spark.operators.sampling import (
        negative_sample)

    emb = load_table(spark, sf_dir, "embeddings")
    a = negative_sample(emb, [1, 2], k=5).collect()
    b = negative_sample(emb.repartition(7), [1, 2], k=5).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # layout-invariant
    labels = {int(r["vec_id"]): r["label"]
              for r in emb.where(F.col("vec_id").isin([1, 2])).collect()}
    for r in a:
        assert r["neg_label"] != labels[r["anchor_id"]]


def test_run_expectations_planted_violations(spark):
    from ethereum2_etl_airflow_spark.operators.quality import (
        run_expectations)

    rows = [(1, "a", 5.0), (2, "a", -1.0), (3, None, 7.0), (3, "b", 8.0)]
    df = spark.createDataFrame(rows, "id long, name string, v double")
    out = {r["constraint"]: (r["violations"], r["passed"])
           for r in run_expectations(df, [
               ("name_complete", "not_null", "name"),
               ("id_unique", "unique", "id"),
               ("v_nonneg", "range", "v", 0.0, 100.0),
               ("enough", "min_rows", 10),
           ]).collect()}
    assert out["name_complete"] == (1, False)
    assert out["id_unique"] == (1, False)
    assert out["v_nonneg"] == (1, False)
    assert out["enough"] == (6, False)


def test_cluster_survivors_longest_wins_singletons_survive(spark):
    from ethereum2_etl_airflow_spark.operators.graph import (
        cluster_survivors)

    docs = spark.createDataFrame(
        [(1, "short"), (2, "a much longer variant of it"), (3, "loner")],
        "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    got = {r["doc_id"]: r for r in
           cluster_survivors(docs, pairs, F.length("text")).collect()}
    assert got[1]["survivor_id"] == 2 and not got[1]["is_survivor"]
    assert got[2]["is_survivor"]
    assert got[3]["is_survivor"] and got[3]["cluster_id"] == 3


def test_cluster_survivors_string_ids(spark):
    """The desc/asc election negates the SCORE, not the id, so string
    doc_ids elect correctly: highest score wins, ties -> smallest id."""
    from ethereum2_etl_airflow_spark.operators.graph import (
        cluster_survivors)

    docs = spark.createDataFrame(
        [("doc-a", "same len"), ("doc-b", "same len"),
         ("doc-c", "the clearly longest text")],
        "doc_id string, text string")
    pairs = spark.createDataFrame(
        [("doc-a", "doc-b"), ("doc-b", "doc-c")],
        "id_a string, id_b string")
    got = {r["doc_id"]: r for r in
           cluster_survivors(docs, pairs, F.length("text")).collect()}
    assert got["doc-c"]["is_survivor"]            # highest score
    assert not got["doc-a"]["is_survivor"]
    assert not got["doc-b"]["is_survivor"]
    # tie case: equal scores -> lexicographically smallest id
    tie = spark.createDataFrame(
        [("z-doc", "same"), ("a-doc", "same")], "doc_id string, text string")
    tp = spark.createDataFrame([("a-doc", "z-doc")],
                               "id_a string, id_b string")
    tgot = {r["doc_id"]: r for r in
            cluster_survivors(tie, tp, F.length("text")).collect()}
    assert tgot["a-doc"]["is_survivor"] and not tgot["z-doc"]["is_survivor"]


def test_cluster_survivors_null_score_loses(spark):
    """A NULL score must LOSE the election (-NULL sorts first in struct
    ordering and would otherwise win the min-struct); a fully unscored
    cluster still elects deterministically by id."""
    from ethereum2_etl_airflow_spark.operators.graph import (
        cluster_survivors)

    docs = spark.createDataFrame(
        [(1, 5), (2, None), (3, None), (4, None)],
        "doc_id long, score long")
    pairs = spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")
    got = {r["doc_id"]: r for r in
           cluster_survivors(docs, pairs, F.col("score")).collect()}
    # scored doc beats the NULL-score member
    assert got[1]["is_survivor"] and not got[2]["is_survivor"]
    # all-NULL cluster: smallest id survives
    assert got[3]["is_survivor"] and not got[4]["is_survivor"]


def test_run_expectations_null_semantics_and_empty_specs(spark):
    import pytest as _pytest

    from ethereum2_etl_airflow_spark.operators.quality import (
        run_expectations)

    df = spark.createDataFrame([(None,), (None,)], "v double")
    out = {r["constraint"]: r["passed"]
           for r in run_expectations(df, [
               ("v_range", "range", "v", 0.0, 1.0),
               ("v_complete", "not_null", "v"),
           ]).collect()}
    assert out["v_range"]            # NULLs pass range (GE default)
    assert not out["v_complete"]     # completeness is its own dimension
    with _pytest.raises(ValueError, match="empty"):
        run_expectations(df, [])


def test_hll_portable_estimate_empty_registers(spark):
    from ethereum2_etl_airflow_spark.operators.quality import (
        hll_portable_estimate)

    empty = spark.createDataFrame([], "j long, rho int")
    est = hll_portable_estimate(empty).first()
    m = 256
    alpha = 0.7213 / (1 + 1.079 / m)
    assert est["n_zero"] == m
    assert abs(est["est_raw"] - alpha * m) < 1e-9   # alpha*m^2/m, not NULL


def test_kcore_peel_keeps_clique_drops_pendants(spark):
    from ethereum2_etl_airflow_spark.operators.graph import kcore_peel

    k5 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    pend = [(0, 10), (10, 11), (3, 12)]
    edges = spark.createDataFrame(k5 + pend, "id_a long, id_b long")
    got = {r["node"]: r["degree"]
           for r in kcore_peel(edges, k=4, n_rounds=4).collect()}
    assert set(got) == {0, 1, 2, 3, 4}          # the K5 survives
    assert all(d == 4 for d in got.values())    # within-subgraph degree


def test_skipgram_counts_symmetric_and_windowed(spark):
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    got = {(r["center"], r["context"]): r["n"]
           for r in X.skipgram_counts(df, window=2).collect()}
    # ±2 window over [a b c d]: a-b a-c b-c b-d c-d, both directions
    assert got[("a", "b")] == 1 and got[("b", "a")] == 1
    assert got[("a", "c")] == 1 and got[("c", "a")] == 1
    assert ("a", "d") not in got           # distance 3 > window
    assert all(got[(x, y)] == got[(y, x)] for (x, y) in got)


def test_cms_never_underestimates_and_merges(spark):
    from ethereum2_etl_airflow_spark.operators.quality import (
        cms_build, cms_estimate)

    a = spark.createDataFrame([(1, "x y x")], "doc_id long, text string")
    b = spark.createDataFrame([(2, "x z")], "doc_id long, text string")
    merged_sketch = (cms_build(a).unionByName(cms_build(b))
                     .groupBy("row", "bucket")
                     .agg(F.sum("c").alias("c")))
    whole_sketch = cms_build(a.unionByName(b))
    # merge-by-sum == build-on-union (the mergeability contract)
    assert sorted(map(tuple, merged_sketch.collect())) == \
        sorted(map(tuple, whole_sketch.collect()))
    probes = spark.createDataFrame([("x",), ("y",), ("z",), ("w",)],
                                   "t string")
    est = {r["t"]: r["n_est"]
           for r in cms_estimate(whole_sketch, probes).collect()}
    assert est["x"] >= 3 and est["y"] >= 1 and est["z"] >= 1
    assert est["w"] >= 0          # absent tokens can only over-estimate


def test_random_walks_are_valid_paths_and_deterministic(spark):
    from ethereum2_etl_airflow_spark.operators.graph import random_walks

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)], "id_a long, id_b long")
    out = random_walks(edges, walk_len=3).collect()
    walks = {}
    for r in out:
        walks.setdefault(r["walk_id"], {})[r["step"]] = r["node"]
    esym = {(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)}
    esym |= {(b, a) for a, b in esym}
    for wid, steps in walks.items():
        assert steps[0] == wid                      # seed = walk id
        assert len(steps) == 4                      # 0..3, no early stop
        for s in range(1, 4):
            assert (steps[s - 1], steps[s]) in esym  # every hop is an edge
    out2 = random_walks(edges.repartition(5), walk_len=3).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_curate_pretrain_dedups_and_keeps_fold_per_doc(spark, sf_dir):
    from ethereum2_etl_airflow_spark.pipelines.pretrain import (
        curate_pretrain)

    out = curate_pretrain(_dup_corpus(spark, sf_dir)).collect()
    ids = {r["doc_id"] for r in out}
    assert ids and all(i < 1_000_000 for i in ids)   # survivors = originals
    folds = {}
    for r in out:
        folds.setdefault(r["doc_id"], set()).add(r["fold"])
    assert all(len(s) == 1 for s in folds.values())  # fold per DOC, not chunk


def test_hll_portable_accuracy_and_merge(spark):
    from ethereum2_etl_airflow_spark.operators.quality import (
        hll_portable_estimate, hll_portable_registers)

    a = spark.range(0, 3000).withColumnRenamed("id", "k")
    b = spark.range(2000, 5000).withColumnRenamed("id", "k")
    merged = (hll_portable_registers(a, "k")
              .unionByName(hll_portable_registers(b, "k"))
              .groupBy("j").agg(F.max("rho").alias("rho")))
    whole = hll_portable_registers(a.unionByName(b), "k")
    assert sorted(map(tuple, merged.collect())) == \
        sorted(map(tuple, whole.collect()))       # merge-by-max contract
    est = hll_portable_estimate(whole).first()["est_raw"]
    assert abs(est - 5000) / 5000 < 0.15          # ~6.5% std error at m=256


def test_bloom_probe_survives_caller_bits_column(spark):
    from ethereum2_etl_airflow_spark.functions.bloom import (
        bloom_build, bloom_probe)

    big = spark.range(0, 100).selectExpr("id AS k", "array(id) AS bits")
    small = spark.range(0, 100, 10).withColumnRenamed("id", "k")
    out = bloom_probe(big, "k", bloom_build(small, "k"))
    assert "bits" in out.columns          # the caller's column survives
    assert out.count() >= 10


def test_negative_sample_rejects_unknown_anchor(spark, sf_dir):
    import pytest as _pytest

    from ethereum2_etl_airflow_spark.operators.sampling import (
        negative_sample)

    emb = load_table(spark, sf_dir, "embeddings")
    with _pytest.raises(ValueError, match="not present"):
        negative_sample(emb, [99_999_999], k=3)


def test_hll_portable_ignores_nulls(spark):
    from ethereum2_etl_airflow_spark.operators.quality import (
        hll_portable_estimate, hll_portable_registers)

    df = spark.createDataFrame([(1,), (2,), (None,)], "k long")
    regs = hll_portable_registers(df, "k")
    assert regs.where(F.col("j").isNull()).count() == 0
    est = hll_portable_estimate(regs).first()
    assert est["n_zero"] == 256 - 2


def test_retrieval_topk_recall_vs_exact(spark, sf_dir):
    """PQ distances over the synthetic near-orthogonal vectors are
    coarse, so the contract is: far above the random baseline (10/500 =
    2%) and monotone in the shortlist size (a bigger shortlist can only
    help the exact reranker)."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = {(r["query_id"], r["vec_id"])
             for r in S.topk_cosine_bruteforce(emb, [1, 2, 3], k=10)
             .collect()}

    def recall(sl):
        two = {(r["query_id"], r["vec_id"]) for r in
               S.retrieval_topk(emb, [1, 2, 3], k=10, shortlist=sl)
               .collect()}
        return len(exact & two) / len(exact)

    r50, r200 = recall(50), recall(200)
    assert r50 >= 0.2          # 10x the random baseline
    assert r200 >= r50         # shortlist growth never hurts


def test_ppm_decode_end_to_end_through_arrow_stage(spark):
    """X5 with a REAL decode: binary-PPM payloads flow through the
    mapInPandas feature stage and produce the exact luminance features
    the pure-Python reference computes — no external codec involved."""
    from ethereum2_etl_airflow_spark.operators.multimodal import (
        decode_stub, extract_features, make_ppm)

    rows = [(i, make_ppm(16, 16, seed=i),
             ("image/x-portable-pixmap", 16 * 16 * 3 + 15, 16, 16))
            for i in range(5)]
    media = spark.createDataFrame(
        rows,
        "doc_id long, payload binary, "
        "meta struct<mime:string,n_bytes:bigint,width:int,height:int>")
    got = {r["doc_id"]: r for r in extract_features(media).collect()}
    assert len(got) == 5
    for i in range(5):
        ref = decode_stub(make_ppm(16, 16, seed=i),
                          "image/x-portable-pixmap")
        assert got[i]["feature_sum"] == ref["feature_sum"]
        assert got[i]["n_frames"] == 1


def test_wav_decode_end_to_end_through_arrow_stage(spark):
    """X5's audio tier with a REAL decode: PCM16 WAV payloads flow
    through the mapInPandas audio stage (pure-stdlib wave parse) and
    produce exact integer stats — duration from the header, full-clip
    peak, 256-sample energy."""
    from ethereum2_etl_airflow_spark.operators.multimodal import (
        extract_audio_features, make_wav)

    rows = [(i, make_wav(400, seed=i)) for i in range(5)]
    media = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in extract_audio_features(media).collect()}
    assert len(got) == 5
    for i in range(5):
        samples = [((k * 2029 + i * 151) % 65536) - 32768
                   for k in range(400)]
        r = got[i]
        assert r["n_frames"] == 400 and r["framerate"] == 8000
        assert r["duration_ms"] == 50
        assert r["n_bytes"] == 44 + 800
        assert r["peak_abs"] == max(abs(s) for s in samples)
        assert r["sumsq_256"] == sum(s * s for s in samples[:256])


def test_wav_decode_stub_route_and_rejects_non_pcm16():
    import io
    import struct
    import wave

    import pytest as _pytest

    from ethereum2_etl_airflow_spark.operators.multimodal import (
        _decode_wav, decode_stub, make_wav)

    # decode_stub routes audio/wav to the real decoder with the
    # 256-sample |s| cap convention
    feat = decode_stub(make_wav(300, seed=3), "audio/wav")
    samples = [((k * 2029 + 3 * 151) % 65536) - 32768 for k in range(300)]
    assert feat["n_frames"] == 300
    assert feat["feature_sum"] == sum(abs(s) for s in samples[:256])
    # compressed audio and video remain honestly stubbed
    with _pytest.raises(NotImplementedError):
        decode_stub(b"\xff\xfb...", "audio/mpeg")
    with _pytest.raises(NotImplementedError):
        decode_stub(b"\x00...", "video/mp4")
    # non-PCM16 rejected with a typed error
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(8000)
        w.writeframes(b"\x00" * 10)
    with _pytest.raises(ValueError, match="PCM16"):
        _decode_wav(buf.getvalue())
    # stereo: n_frames counts frames, samples interleave both channels
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack("<8h", *([1000, -2000] * 4)))
    fr, nf, samples = _decode_wav(buf.getvalue())
    assert (fr, nf, len(samples)) == (8000, 4, 8)
    assert samples[:2] == [1000, -2000]


def test_ppm_parser_rejects_malformed(spark):
    import pytest as _pytest

    from ethereum2_etl_airflow_spark.operators.multimodal import (
        _decode_ppm, make_ppm)

    w, h, rgb = _decode_ppm(make_ppm(4, 3, seed=1))
    assert (w, h, len(rgb)) == (4, 3, 36)
    with _pytest.raises(ValueError, match="truncated"):
        _decode_ppm(make_ppm(4, 3)[:-5])
    with _pytest.raises(ValueError, match="not a P6"):
        _decode_ppm(b"JPEG....")


def test_hashed_linear_score_weights_table_matches_closed_form(spark, docs):
    """The broadcast (bucket, weight) model path must reproduce the
    closed-form demo model exactly — same hashing, same scores."""
    from ethereum2_etl_airflow_spark.operators.scoring import (
        demo_weights, hashed_linear_score)

    sub = docs.limit(40)
    a = hashed_linear_score(sub).orderBy("doc_id").collect()
    b = hashed_linear_score(sub, weights=demo_weights(spark)) \
        .orderBy("doc_id").collect()
    assert a == b
    assert all(r["keep"] == (r["score"] > 0) for r in a)


def test_hashed_linear_score_plan_jvm_only_broadcast(spark, docs):
    """Inference is pure codegen: no Python eval in either path, and
    the model join is broadcast (never a shuffle of the token stream
    against a 4096-row table)."""
    from ethereum2_etl_airflow_spark.operators.scoring import (
        demo_weights, hashed_linear_score)
    from ethereum2_etl_airflow_spark.plans.explain import plan_string

    plan = plan_string(
        hashed_linear_score(docs, weights=demo_weights(spark)), "simple")
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan
    assert "BroadcastHashJoin" in plan


def test_bernoulli_keep_clamps_and_is_deterministic(spark, docs):
    from ethereum2_etl_airflow_spark.operators import scoring
    from ethereum2_etl_airflow_spark.operators.scoring import (
        bernoulli_keep)

    # the pre-round-11 name survives as a deprecated alias
    assert scoring.weighted_sample is bernoulli_keep

    sub = docs.limit(100)
    # score >= 1 keeps everything; score <= 0 keeps nothing
    assert bernoulli_keep(sub, F.lit(5.0)).count() == 100
    assert bernoulli_keep(sub, F.lit(-1.0)).count() == 0
    half = bernoulli_keep(sub, F.lit(0.5), seed="s1")
    ids1 = sorted(r["doc_id"] for r in half.collect())
    ids2 = sorted(r["doc_id"] for r in
                  bernoulli_keep(sub, F.lit(0.5), seed="s1").collect())
    assert ids1 == ids2                       # reproducible
    assert 20 <= len(ids1) <= 80              # ~Binomial(100, .5)
    ids3 = sorted(r["doc_id"] for r in
                  bernoulli_keep(sub, F.lit(0.5), seed="s2").collect())
    assert ids1 != ids3                       # new seed, new sample


def test_random_projection_embed_shape_and_range(spark, docs):
    from ethereum2_etl_airflow_spark.operators.scoring import (
        random_projection_embed)
    from ethereum2_etl_airflow_spark.operators.text import token_count

    sub = docs.limit(20)
    out = random_projection_embed(sub, dims=4)
    rows = out.collect()
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], set()).add(r["dim"])
    assert all(dims == {0, 1, 2, 3} for dims in per_doc.values())
    # |component| <= token count (sum of +-1 per token)
    nt = {r["doc_id"]: r["n"] for r in
          sub.select("doc_id", token_count("text").alias("n")).collect()}
    assert all(abs(r["component"]) <= nt[r["doc_id"]] for r in rows)


def _reference_bpe(word_freqs: dict, n_merges: int):
    """Textbook BPE trainer (Sennrich et al.) — the ground truth the
    distributed trainer must match EXACTLY, tie-break and all."""
    vocab = {tuple(w): f for w, f in word_freqs.items()}
    merges = []
    for _ in range(n_merges):
        counts = {}
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < 2:
            break
        (a, b) = best[0]
        merges.append((a, b))
        new_vocab = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    return merges


def test_bpe_train_matches_reference_exactly(spark):
    from ethereum2_etl_airflow_spark.operators.tokenizer import (
        bpe_train, word_freqs)

    texts = ["low lower lowest", "new newer newest news",
             "low low new new new", "wide wider widest lowly"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    wf = {r["word"]: r["freq"] for r in word_freqs(docs).collect()}
    want = _reference_bpe(wf, 10)
    got = bpe_train(docs, n_merges=10)
    assert got == want
    assert len(got) >= 5          # the corpus supports several merges


def test_bpe_train_batch_invariant_on_tie_heavy_counts(spark):
    """The fresh-concat gain-cap batching (round-7) must stay
    BIT-IDENTICAL to the sequential trainer on adversarially tied
    counts — equal-count symbol-disjoint pairs, equal-count
    symbol-sharing pairs, and pairs whose counts tie exactly with a
    later merge's gain channel — for every batch size (batch=1 is the
    no-batching control)."""
    from ethereum2_etl_airflow_spark.operators.tokenizer import (
        bpe_train, word_freqs)

    texts = [
        # exact ties across disjoint pairs: er/in/st all tie at 6
        "erx erx erx inx inx inx stx stx stx " * 2,
        # symbol-sharing ties: ab vs ba chains
        "abab abab baba baba aabb bbaa",
        # gain-channel tie: 'x e r' occurrences make (x, er) reach the
        # count of the next disjoint candidate after (e, r) merges
        "xer xer xer xer qi qi qi qi",
        "lower newer wider " * 3,
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    wf = {r["word"]: r["freq"] for r in word_freqs(docs).collect()}
    want = _reference_bpe(wf, 12)
    for batch in (1, 3, 12):
        assert bpe_train(docs, n_merges=12, batch=batch) == want, batch


def test_bpe_train_batch_invariant_on_self_merge_runs(spark):
    """A self-merge (a,a) is its OWN gain channel: merging (a,a) over
    runs like 'aaaa' creates (aa,aa) pairs with post-count up to the
    merge's own count, so a batch accepting [(a,a), (b,c)] with the
    round-7 cap (which excluded acc's own row) could diverge from the
    sequential trainer whose next argmax is (aa,aa).  The adversarial
    corpus: 'aaaa'×10 makes (a,a) count 30 and post-merge (aa,aa)
    count 10, while 'bc'×5 gives the disjoint (b,c) count 5 < 10 —
    the sequential order is (a,a), (aa,aa), (b,c)."""
    from ethereum2_etl_airflow_spark.operators.tokenizer import (
        bpe_train, word_freqs)

    texts = ["aaaa " * 10, "bc " * 5, "aaaa aaaa bc"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    wf = {r["word"]: r["freq"] for r in word_freqs(docs).collect()}
    want = _reference_bpe(wf, 8)
    assert ("aa", "aa") in want or ("a", "a") in want  # corpus is adversarial
    for batch in (1, 2, 4, 8):
        assert bpe_train(docs, n_merges=8, batch=batch) == want, batch


def test_bpe_encode_applies_merges_and_roundtrips(spark):
    from ethereum2_etl_airflow_spark.operators.tokenizer import (
        bpe_encode, bpe_train)

    texts = ["low lower lowest", "new newer newest news",
             "low low new new new", "wide wider widest lowly"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    merges = bpe_train(docs, n_merges=8)
    out = {r["doc_id"]: r for r in bpe_encode(docs, merges).collect()}
    for i, t in enumerate(texts):
        words = t.split()
        r = out[i]
        assert r["n_tokens"] == len(words)
        # pieces concatenate back to the exact character stream
        assert "".join(r["pieces"]) == "".join(words)
        # merging only shrinks: pieces <= total characters
        assert r["n_pieces"] <= sum(len(w) for w in words)
    # with zero merges every piece is a single character
    zero = bpe_encode(docs, []).collect()
    assert all(r["n_pieces"] == sum(len(w) for w in texts[r["doc_id"]].split())
               for r in zero)


def test_bpe_train_early_stop_on_unique_text(spark):
    from ethereum2_etl_airflow_spark.operators.tokenizer import bpe_train

    docs = spark.createDataFrame([(0, "ab cd ef")], "doc_id long, text string")
    # every pair occurs once -> cnt < 2 -> no merges learned
    assert bpe_train(docs, n_merges=5) == []


def test_repeated_spans_find_planted_boilerplate(spark):
    from ethereum2_etl_airflow_spark.operators.dedup import (
        repeated_ngram_spans, repeated_span_hits)

    boiler = "all rights reserved by the example corporation"
    texts = [f"unique document {i} alpha beta gamma delta {boiler}"
             for i in range(6)] + ["totally different content here today"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    spans = repeated_ngram_spans(docs, n=5, min_docs=4)
    got = {r["span"]: r for r in spans.collect()}
    key = "all rights reserved by the"
    assert key in got
    assert got[key]["n_docs"] == 6 and got[key]["n_occurrences"] == 6
    # the unique preambles never repeat across >= 4 docs
    assert not any("unique document" in s for s in got)
    hits = {r["doc_id"]: r for r in
            repeated_span_hits(docs, n=5, min_docs=4).collect()}
    assert hits[6]["n_repeated"] == 0           # the clean doc
    assert all(hits[i]["n_repeated"] > 0 for i in range(6))
    assert all(0 <= hits[i]["repeated_pct"] <= 100 for i in range(7))


def test_bm25_planted_relevance(spark):
    """BM25 ranks a planted corpus the way the model says it must:
    rarer terms dominate (idf), more mentions beat fewer (tf,
    saturating), and at equal tf the shorter document wins (length
    normalization).  Also pins the stopword floor (df > N/2 → idf 0 →
    no score) and the deterministic (score desc, id asc) tiebreak."""
    from ethereum2_etl_airflow_spark.operators.text import bm25_topk

    filler = "the quick brown fox jumps over the lazy dog again"
    texts = {
        0: "zebra " + filler,                       # rare term, long doc
        1: "zebra zebra zebra " + filler,           # rare term x3
        2: "zebra",                                 # rare term, tiny doc
        3: filler + " " + filler,                   # no rare term
        4: "zebra " + filler,                       # tie with doc 0
    }
    # pad the corpus so 'zebra' stays rare (df=4 of 12 < N/2) and the
    # filler words stay stopword-frequent (df > N/2)
    for i in range(5, 12):
        texts[i] = filler
    docs = spark.createDataFrame(sorted(texts.items()),
                                 "doc_id long, text string")
    out = bm25_topk(docs, {7: ["zebra", "the"]}, k=10)
    rows = sorted(out.collect(), key=lambda r: r["rank"])
    ranked = [r["doc_id"] for r in rows]
    # only zebra docs score ('the' has df 12/12 -> idf 0)
    assert set(ranked) == {0, 1, 2, 4}
    # tf=3 beats tf=1 at same length; tiny doc beats long at same tf;
    # the 0-vs-4 tie breaks by doc id
    assert ranked[0] in (1, 2)  # both dominate the tf=1 long docs
    assert ranked[2:] == [0, 4]
    s = {r["doc_id"]: r["score_milli"] for r in rows}
    assert s[1] > s[0] and s[2] > s[0] and s[0] == s[4]
    assert all(r["score_milli"] > 0 for r in rows)


def test_rrf_fuse_semantics(spark):
    """RRF on two hand-built lists: consensus docs (ranked by both
    arms) beat single-arm docs, the integer micros match the
    closed-form sum, and ties break by doc id."""
    from ethereum2_etl_airflow_spark.operators.similarity import rrf_fuse

    a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)],
        "query_id long, doc_id long, rank long")
    b = spark.createDataFrame(
        [(1, 11, 1), (1, 13, 2), (1, 10, 3)],
        "query_id long, doc_id long, rank long")
    rows = {r["doc_id"]: r for r in rrf_fuse([a, b], k_const=60).collect()}
    micro = lambda *ranks: sum(1_000_000 // (60 + r) for r in ranks)
    assert rows[10]["rrf_micro"] == micro(1, 3)
    assert rows[11]["rrf_micro"] == micro(2, 1)
    assert rows[12]["rrf_micro"] == micro(3)
    assert rows[13]["rrf_micro"] == micro(2)
    # consensus (both arms) outranks single-arm regardless of raw rank
    order = sorted(rows.values(), key=lambda r: r["rank"])
    assert [r["doc_id"] for r in order] == [11, 10, 13, 12]


def test_mmr_demotes_near_duplicate(spark):
    """MMR on a planted geometry: the two most relevant candidates are
    near-duplicates of each other, so after picking the first, MMR
    (λ=0.3) promotes the diverse-but-less-relevant candidate over the
    duplicate — the diversification pure relevance ranking cannot do."""
    from ethereum2_etl_airflow_spark.operators.similarity import (
        mmr_topk, topk_cosine_bruteforce)

    rows = [(0, [1.0, 0.0, 0.0, 0.0]),    # the query vector
            (1, [1.0, 0.01, 0.0, 0.0]),   # most relevant
            (2, [1.0, 0.02, 0.0, 0.0]),   # near-dup of 1
            (3, [0.6, 0.8, 0.0, 0.0])]    # diverse, moderately relevant
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = [r["vec_id"] for r in
           mmr_topk(emb, [0], k=3, lambda_milli=300, shortlist=8)
           .orderBy("rank").collect()]
    assert got == [1, 3, 2]
    # contrast: pure relevance ranks the duplicate second
    rel = [r["vec_id"] for r in
           topk_cosine_bruteforce(emb, [0], k=3).orderBy("rank").collect()]
    assert rel == [1, 2, 3]


def test_ranking_eval_closed_form(spark):
    """ranking_eval on hand-built lists matches the closed-form metric
    values: perfect prediction → all metrics 10⁶; a prediction whose
    first relevant hit is at rank 2 with 1 of 2 truths found → recall
    500000, MRR 500000, NDCG = disc[2]·10⁶ // (disc[1]+disc[2]); a
    query with no hits → zeros (but still one output row)."""
    import math

    from ethereum2_etl_airflow_spark.operators.similarity import (
        ranking_eval)

    disc = [int(1_000_000 / math.log2(i + 1)) for i in range(1, 11)]
    pred = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2),          # q1: perfect (both truths)
         (2, 99, 1), (2, 20, 2),          # q2: hit at rank 2, 1 of 2
         (3, 98, 1), (3, 97, 2)],         # q3: no hits
        "query_id long, doc_id long, rank long")
    truth = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21), (3, 30)],
        "query_id long, doc_id long")
    rows = {r["query_id"]: r for r in ranking_eval(pred, truth).collect()}
    assert rows[1]["recall_micro"] == 1_000_000
    assert rows[1]["mrr_micro"] == 1_000_000
    assert rows[1]["ndcg_micro"] == (disc[0] + disc[1]) * 1_000_000 \
        // (disc[0] + disc[1])
    assert rows[2]["recall_micro"] == 500_000
    assert rows[2]["mrr_micro"] == 500_000
    assert rows[2]["ndcg_micro"] == disc[1] * 1_000_000 \
        // (disc[0] + disc[1])
    assert (rows[3]["hits"], rows[3]["recall_micro"],
            rows[3]["mrr_micro"], rows[3]["ndcg_micro"]) == (0, 0, 0, 0)


def test_ranking_eval_dedups_prediction(spark):
    """Duplicate (query, doc) prediction rows must not double-count hits
    and DCG (round-9 advice): the operator dedups the prediction keeping
    the MIN rank, so a triplicated perfect hit still scores exactly 10⁶
    across all metrics instead of recall 1.5·10⁶."""
    from ethereum2_etl_airflow_spark.operators.similarity import (
        ranking_eval)

    pred = spark.createDataFrame(
        [(1, 10, 1), (1, 10, 2), (1, 10, 3), (1, 11, 2)],
        "query_id long, doc_id long, rank long")
    truth = spark.createDataFrame(
        [(1, 10), (1, 11)], "query_id long, doc_id long")
    r = ranking_eval(pred, truth, k=10).collect()[0]
    assert r["hits"] == 2
    assert r["recall_micro"] == 1_000_000
    assert r["mrr_micro"] == 1_000_000
    assert r["ndcg_micro"] == 1_000_000


def test_bm25_ord_pack_overflow_guard(spark):
    """Doc ids outside the packed-order-key contract ([0, 10^12)) raise
    in-plan instead of silently overflowing int64 and corrupting the
    top-k order (round-9 advice; same guard covers impact_postings via
    the shared _packed_ord helper)."""
    import pytest

    from ethereum2_etl_airflow_spark.operators.text import bm25_topk

    docs = spark.createDataFrame(
        [(10**12, "zebra"), (1, "filler stuff"), (2, "filler stuff")],
        "doc_id long, text string")
    with pytest.raises(Exception, match="pack overflow"):
        bm25_topk(docs, {1: ["zebra"]}, k=2).collect()


def test_impact_postings_order_and_math(spark):
    """Impact postings rank a term's postings by the BM25 contribution:
    with equal tf, the SHORTER document carries the higher impact
    (length normalization), and stopword-frequent terms (df > N/2)
    carry zero impact."""
    from ethereum2_etl_airflow_spark.operators.text import impact_postings

    filler = "common words everywhere " * 3
    docs = spark.createDataFrame(
        [(0, "zebra " + filler),           # long doc, tf=1
         (1, "zebra"),                     # short doc, tf=1
         (2, filler), (3, filler), (4, filler)],
        "doc_id long, text string")
    out = {r["term"]: r for r in impact_postings(docs, k=8).collect()}
    z = out["zebra"]
    assert z["df"] == 2
    ids = [p.split(":")[0] for p in z["postings"].split(",")]
    imps = [int(p.split(":")[1]) for p in z["postings"].split(",")]
    assert ids == ["1", "0"] and imps[0] > imps[1] > 0
    assert all(int(p.split(":")[1]) == 0
               for p in out["common"]["postings"].split(","))


def test_bm25_from_index_agrees_with_direct(spark, sf_dir, tmp_path):
    """Serving from the impact index reproduces the direct BM25 ranking
    BIT-FOR-BIT when every query term's postings survive the per-term
    cap (cap ≥ |corpus| → no truncation; both paths sum the identical
    exact-integer contributions).  The index round-trips through
    parquet first — the build-once/serve-many artifact contract."""
    from ethereum2_etl_airflow_spark.operators.text import (
        bm25_topk, bm25_topk_from_index, impact_postings)

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    queries = {1: ["dup", "document"], 2: ["dup"], 3: ["text", "sample"]}
    path = str(tmp_path / "impact_idx")
    impact_postings(docs, k=n_docs).write.mode("overwrite").parquet(path)
    idx = spark.read.parquet(path)
    served = sorted(
        tuple(r) for r in
        bm25_topk_from_index(idx, queries, k=10).collect())
    direct = sorted(
        tuple(r) for r in bm25_topk(docs, queries, k=10).collect())
    assert served == direct and len(direct) > 0


def test_best_passages_closed_form(spark):
    """Window selection is exact and ties break to the EARLIEST window:
    a doc with query hits clustered at a known offset yields that
    offset and hit count; a doc shorter than the window yields offset 1
    over whatever exists."""
    from ethereum2_etl_airflow_spark.operators.text import best_passages

    # tokens 1..12; query terms at positions 6,7,9 -> best w=4 window
    # starts at 6 (covers 6,7,9 -> 3 hits); window 7 covers 7,9 -> 2
    docs = spark.createDataFrame(
        [(1, "a b c d e q1 q2 f q3 g h i"),
         (2, "q1 q2")],                      # shorter than the window
        "doc_id long, text string")
    ranking = spark.createDataFrame(
        [(7, 1), (7, 2)], "query_id long, doc_id long")
    out = {r["doc_id"]: r for r in
           best_passages(docs, ranking, {7: ["q1", "q2", "q3"]},
                         w=4).collect()}
    assert out[1]["offset"] == 6 and out[1]["n_hits"] == 3
    assert out[1]["passage"] == "q1 q2 f q3"
    assert out[2]["offset"] == 1 and out[2]["n_hits"] == 2
    assert out[2]["passage"] == "q1 q2"
    # all-tie (no hits anywhere) -> earliest window (offset 1)
    out0 = best_passages(docs, ranking, {7: ["zzz"]}, w=4).collect()
    assert all(r["offset"] == 1 and r["n_hits"] == 0 for r in out0)


def test_best_passages_strategies_bit_identical(spark):
    """The O(tokens·w) scan and the O(tokens + hits²) hit-positions
    strategies are bit-identical (round-10 large-w escape hatch),
    including the edge shapes: empty doc, NULL text (behaves as empty
    — offset 1, 0 hits, '' passage, never NULL columns), doc shorter
    than the window, dense all-hit docs, and w far beyond doc length.
    'auto' picks scan at w ≤ 64 and hits above."""
    from ethereum2_etl_airflow_spark.operators.text import best_passages

    docs = spark.createDataFrame(
        [(1, "a b c d e q1 q2 f q3 g h i"),
         (2, "q1 q2"), (3, None), (4, ""),
         (5, " ".join(["x"] * 200 + ["q1"] + ["y"] * 50 + ["q1", "q3"])),
         (6, "q1 " * 300)],
        "doc_id long, text string")
    ranking = spark.createDataFrame(
        [(7, d) for d in (1, 2, 3, 4, 5, 6)], "query_id long, doc_id long")
    qs = {7: ["q1", "q2", "q3"]}
    for w in (1, 4, 16, 128, 512):
        scan = sorted(map(tuple, best_passages(
            docs, ranking, qs, w=w, strategy="scan").collect()))
        hits = sorted(map(tuple, best_passages(
            docs, ranking, qs, w=w, strategy="hits").collect()))
        assert scan == hits, (w, scan, hits)
    # NULL text behaves exactly like the empty doc on the default path
    null_row = {r["doc_id"]: r for r in best_passages(
        docs, ranking, qs, w=16).collect()}
    for d in (3, 4):
        assert (null_row[d]["offset"], null_row[d]["n_hits"],
                null_row[d]["passage"]) == (1, 0, "")


def test_expand_queries_recovers_synonym(spark):
    """The PRF loop's recall claim: docs about the query term co-mention
    a synonym; a relevant doc using ONLY the synonym is invisible to
    the original query but retrieved after expansion — and the synonym
    is the top expansion term."""
    from ethereum2_etl_airflow_spark.operators.text import (
        bm25_topk, expand_queries)

    filler = "lorem ipsum dolor sit amet consectetur"
    docs = spark.createDataFrame(
        [(1, "blockchain ledger " + filler),
         (2, "blockchain ledger " + filler),
         (3, "blockchain ledger " + filler),
         (4, "ledger only here " + filler),          # synonym-only doc
         (5, filler), (6, filler), (7, filler), (8, filler),
         (9, filler), (10, filler)],  # 10 docs: ledger df=4 < N/2 so
        "doc_id long, text string")   # its idf stays positive
    q = {1: ["blockchain"]}
    base_docs = {r["doc_id"] for r in bm25_topk(docs, q, k=10).collect()}
    assert 4 not in base_docs
    terms = expand_queries(docs, q, k_fb=3, m_exp=1,
                           return_terms=True).collect()
    assert [r["term"] for r in terms] == ["ledger"]
    exp_docs = {r["doc_id"] for r in
                expand_queries(docs, q, k_fb=3, m_exp=1, k=10).collect()}
    assert 4 in exp_docs and base_docs <= exp_docs


def test_mdq_sketch_mergeable_and_accurate(spark, sf_dir):
    """The md5-reservoir quantile sketch merges associatively (sketch of
    a union == re-sketch of the union of shard sketches) and its
    estimates land within the order-statistic rank tolerance of the
    exact quantiles."""
    from ethereum2_etl_airflow_spark.operators.quality import (
        mdq_quantiles, mdq_sample)

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    a = ev.where(F.col("event_id") % 2 == 0)
    b = ev.where(F.col("event_id") % 2 == 1)
    n = 128
    merged = (mdq_sample(a, "value", n, "event_id")
              .unionByName(mdq_sample(b, "value", n, "event_id"))
              .orderBy("rk").limit(n))
    whole = mdq_sample(ev, "value", n, "event_id")
    assert sorted(map(tuple, merged.collect())) == \
        sorted(map(tuple, whole.collect()))      # merge contract
    # rank accuracy: the q-estimate's true rank is within ~4/sqrt(n)
    vals = sorted(r["value"] for r in ev.where(F.col("value").isNotNull())
                  .select("value").collect())
    est = {r["q"]: r["value"]
           for r in mdq_quantiles(whole, [0.25, 0.5, 0.75]).collect()}
    import bisect

    for q, v in est.items():
        true_rank = bisect.bisect_left(vals, v) / len(vals)
        assert abs(true_rank - q) < 4 / (n ** 0.5), (q, true_rank)


def test_mdq_sketch_empty_input(spark):
    from ethereum2_etl_airflow_spark.operators.quality import (
        mdq_quantiles, mdq_sample)

    empty = spark.createDataFrame([], "doc_id long, value double")
    s = mdq_sample(empty, "value", 16)
    assert s.count() == 0
    assert mdq_quantiles(s, [0.5]).count() == 0   # empty, not an error


def test_mdq_bucket_registers_merge_by_min(spark, sf_dir):
    """Shard registers merged by min(struct) equal the whole-input
    registers — the mergeability contract that makes the streaming
    complete-mode maintenance exact."""
    from ethereum2_etl_airflow_spark.operators.quality import (
        mdq_bucket_registers)

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    a = ev.where(F.col("event_id") % 2 == 0)
    b = ev.where(F.col("event_id") % 2 == 1)
    merged = (mdq_bucket_registers(a, "value", 32, "event_id")
              .unionByName(mdq_bucket_registers(b, "value", 32,
                                                "event_id"))
              .groupBy("bucket")
              .agg(F.min(F.struct("rk", "v")).alias("m"))
              .select("bucket", "m.rk", "m.v"))
    whole = mdq_bucket_registers(ev, "value", 32, "event_id")
    assert sorted(map(tuple, merged.collect())) == \
        sorted(map(tuple, whole.collect()))


def test_bpe_encode_string_ids_and_renamed_column(spark):
    """bpe_encode's output id field takes id_col's NAME and TYPE from
    the input — string ids under a renamed column must round-trip."""
    from ethereum2_etl_airflow_spark.operators.tokenizer import (
        bpe_encode, bpe_train)

    docs = spark.createDataFrame(
        [("u-1", "low lower lowest"), ("u-2", "low low")],
        "uid string, text string")
    merges = bpe_train(docs, n_merges=4)
    out = {r["uid"]: r for r in
           bpe_encode(docs, merges, id_col="uid").collect()}
    assert set(out) == {"u-1", "u-2"}
    assert out["u-2"]["n_tokens"] == 2
    assert "".join(out["u-1"]["pieces"]) == "lowlowerlowest"


def test_extract_audio_features_empty_input(spark):
    """A zero-row input must yield an empty typed frame, not a
    KeyError from selecting columns off pd.DataFrame([])."""
    from ethereum2_etl_airflow_spark.operators.multimodal import (
        extract_audio_features)

    empty = spark.createDataFrame([], "doc_id long, payload binary")
    out = extract_audio_features(empty)
    assert out.collect() == []
    assert out.columns[:3] == ["doc_id", "n_bytes", "n_frames"]


def test_y4m_roundtrip_and_decode_stub():
    """make_y4m -> _decode_y4m roundtrip; the video mime decodes for
    REAL in decode_stub; 4:2:0 chroma planes are skipped correctly;
    malformed input raises ValueError (not a crash downstream)."""
    from ethereum2_etl_airflow_spark.operators import multimodal as M2

    clip = M2.make_y4m(8, 4, n_frames=3, seed=5)
    w, h, frames = M2._decode_y4m(clip)
    assert (w, h, len(frames)) == (8, 4, 3)
    # closed form: frame t pixel (x, y) = (x + 3y + 7t + 5) % 256
    assert frames[2][0] == (0 + 0 + 14 + 5) % 256
    assert frames[1][8 * 3 + 7] == (7 + 9 + 7 + 5) % 256
    out = M2.decode_stub(clip, "video/x-yuv4mpeg")
    assert out["n_frames"] == 3
    assert out["feature_sum"] == sum(frames[0][:256])
    # C420: frame advance must skip the two half-res chroma planes
    y_plane = bytes(range(32))
    c420 = (b"YUV4MPEG2 W8 H4 F25:1 Ip A1:1 C420jpeg\n"
            + b"FRAME\n" + y_plane + bytes(16)      # 2 x (4x2) chroma
            + b"FRAME\n" + y_plane[::-1] + bytes(16))
    w2, h2, fs2 = M2._decode_y4m(c420)
    assert (w2, h2, len(fs2)) == (8, 4, 2)
    assert fs2[0] == y_plane and fs2[1] == y_plane[::-1]
    for bad in (b"nope", b"YUV4MPEG2 W8 H4 Cmono\nFRAME\n" + bytes(10),
                b"YUV4MPEG2 W8 H4 Cfoo\nFRAME\n" + bytes(32)):
        with pytest.raises(ValueError):
            M2._decode_y4m(bad)
    # compressed codecs stay honestly stubbed
    with pytest.raises(NotImplementedError):
        M2.decode_stub(b"\x00", "video/mp4")


def test_sample_y4m_frames_stride_and_stats(spark):
    """Container-boundary frame sampling: ceil(n/target) stride, frame 0
    always included, exact luma sums; empty input yields a typed empty
    frame."""
    import pandas as pd

    from ethereum2_etl_airflow_spark.operators import multimodal as M2

    rows = [(1, M2.make_y4m(32, 16, 5, seed=1)),
            (2, M2.make_y4m(32, 16, 1, seed=2))]
    media = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {}
    for r in M2.sample_y4m_frames(media, target=4).collect():
        got.setdefault(r["doc_id"], []).append(r)
    # n=5 -> stride 2 -> frames 0, 2, 4
    assert [r["frame_idx"] for r in sorted(got[1],
                                           key=lambda r: r["frame_idx"])] \
        == [0, 2, 4]
    assert [r["frame_idx"] for r in got[2]] == [0]
    f0 = next(r for r in got[1] if r["frame_idx"] == 0)
    want = sum((x + 3 * y + 1) % 256 for y in range(16) for x in range(32))
    assert f0["luma_sum"] == want and f0["width"] == 32
    empty = spark.createDataFrame([], "doc_id long, payload binary")
    out = M2.sample_y4m_frames(empty)
    assert out.collect() == [] and out.columns[0] == "doc_id"


def test_semantic_dedup_prunes_planted_copies(spark, sf_dir):
    """Every 1.01-scaled copy (same direction -> same cell, cosine 1.0)
    is pruned; every original survives; survivor ids are the id_a side
    of each epsilon-chain."""
    corpus = _emb_corpus(spark, sf_dir).drop("label")
    n = corpus.count() // 2
    out = D.semantic_dedup(corpus, n_cells=8, threshold_millis=950)
    rows = out.collect()
    ids = {r["vec_id"] for r in rows}
    assert not any(i >= 1000000 for i in ids)      # all copies pruned
    assert len(ids) == n                            # all originals kept
    # cells cover the advertised range
    assert all(0 <= r["cell"] < 8 for r in rows)


def test_mulaw_wav_decode_and_stub():
    """Hand-parsed G.711 RIFF: expansion matches the ITU-T table's
    closed form (peak 32124 at code 0x80's complement), the stub mime
    decodes for real, PCM WAVs still take the stdlib path, and
    malformed RIFFs raise ValueError."""
    from ethereum2_etl_airflow_spark.operators import multimodal as M2

    assert M2._mulaw_expand(0xFF) == 0       # positive silence code
    assert M2._mulaw_expand(0x7F) == 0       # negative silence code
    assert M2._mulaw_expand(0x00) == -32124  # max negative
    assert M2._mulaw_expand(0x80) == 32124   # max positive
    p = M2.make_mulaw_wav(80, seed=3)
    fr, nf, samples = M2._decode_mulaw_wav(p)
    assert (fr, nf, len(samples)) == (8000, 80, 80)
    out = M2.decode_stub(p, "audio/basic")
    assert out["n_frames"] == 80
    assert out["feature_sum"] == sum(abs(s) for s in samples)
    with pytest.raises(ValueError):
        M2._decode_mulaw_wav(b"RIFFxxxxNOPE")
    with pytest.raises(ValueError):   # PCM fmt through the mulaw path
        M2._decode_mulaw_wav(M2.make_wav(10))
    # perceptual codecs remain honestly stubbed
    with pytest.raises(NotImplementedError):
        M2.decode_stub(b"\x00", "audio/mpeg")


def test_extract_audio_features_mulaw_dispatch(spark):
    """extract_audio_features transparently handles both PCM and µ-law
    RIFFs in one batch (stdlib wave path + hand-parsed fallback)."""
    from ethereum2_etl_airflow_spark.operators import multimodal as M2

    rows = [(1, M2.make_wav(100, seed=1)),
            (2, M2.make_mulaw_wav(60, seed=2))]
    media = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in M2.extract_audio_features(media).collect()}
    assert got[1]["n_frames"] == 100 and got[2]["n_frames"] == 60
    assert got[2]["n_bytes"] == 44 + 60
    _, _, s2 = M2._decode_mulaw_wav(rows[1][1])
    assert got[2]["peak_abs"] == max(abs(x) for x in s2)


def test_semantic_dedup_assignment_paths_agree(spark, sf_dir):
    """The literal-argmin and broadcast-join cell assignments are the
    same function: identical (vec_id, cell) survivor sets (ties -> lower
    anchor rank in both)."""
    corpus = _emb_corpus(spark, sf_dir).drop("label").limit(300)
    lit_path = {(r["vec_id"], r["cell"]) for r in
                D.semantic_dedup(corpus, n_cells=8,
                                 assign_via_join=False).collect()}
    join_path = {(r["vec_id"], r["cell"]) for r in
                 D.semantic_dedup(corpus, n_cells=8,
                                  assign_via_join=True).collect()}
    assert lit_path == join_path and lit_path


def test_semantic_dedup_incremental_rules(spark, sf_dir):
    """Batch docs matching history drop; genuinely new directions
    survive; intra-batch epsilon-chains keep the lowest id; history is
    never returned."""
    from pyspark.sql import functions as F2

    hist = load_table(spark, sf_dir, "embeddings") \
        .select("vec_id", "embedding").limit(200)
    n = hist.count()
    scaled = hist.select((F2.col("vec_id") + 1000000).alias("vec_id"),
                         F2.transform("embedding",
                                      lambda x: x.cast("double") * 1.01)
                         .alias("embedding"))
    # two identical batch copies of a rotated (novel) vector: one must
    # survive (the smaller id), the other drop intra-batch
    rot = hist.limit(1).select(
        (F2.col("vec_id") + 2000000).alias("vec_id"),
        F2.concat(F2.slice(F2.transform("embedding",
                                        lambda x: x.cast("double")), 2, 63),
                  F2.slice(F2.transform("embedding",
                                        lambda x: x.cast("double")), 1, 1))
        .alias("embedding"))
    rot2 = rot.select((F2.col("vec_id") + 1).alias("vec_id"), "embedding")
    batch = scaled.unionByName(rot).unionByName(rot2)
    out = {r["vec_id"] for r in
           D.semantic_dedup_incremental(batch, hist, n_cells=4).collect()}
    assert not any(1000000 <= i < 2000000 for i in out)   # matched history
    rot_id = rot.first()["vec_id"]
    assert rot_id in out and rot_id + 1 not in out        # intra-batch rule
    assert all(i >= 1000000 for i in out)                 # no history rows


def test_pq_index_roundtrip_matches_in_session(spark, sf_dir, tmp_path):
    """build_pq_index -> query_pq_index returns the identical ranking
    to pq_topk: parquet round-trip + driver-side query quantization
    lose nothing.  exclude_self=True because these query ids ARE
    corpus rows (pq_topk's contract); the external-id default is
    exercised below."""
    emb = load_table(spark, sf_dir, "embeddings")
    want = [(r["query_id"], r["vec_id"], r["rank"], r["approx_dist"])
            for r in S.pq_topk(emb, [1, 2], k=5)
            .orderBy("query_id", "rank").collect()]
    S.build_pq_index(emb, str(tmp_path / "pqidx"))
    qv = {int(r["vec_id"]): [float(x) for x in r["embedding"]]
          for r in emb.where(F.col("vec_id").isin([1, 2])).collect()}
    got = [(r["query_id"], r["vec_id"], r["rank"], r["approx_dist"])
           for r in S.query_pq_index(spark, str(tmp_path / "pqidx"), qv,
                                     k=5, exclude_self=True)
           .orderBy("query_id", "rank").collect()]
    assert got == want and len(got) == 10
    # external-query default: an id-space collision must NOT drop the
    # corpus row — query id 1 here is EXTERNAL, so corpus row 1 is a
    # legitimate (rank-1: identical vector) neighbor
    dflt = S.query_pq_index(spark, str(tmp_path / "pqidx"), qv, k=5) \
        .where(F.col("query_id") == 1).orderBy("rank").collect()
    # ADC dist is query->anchor, so even the identical vector scores
    # nonzero — but it shares the query's codes, so it ranks first
    assert dflt[0]["vec_id"] == 1


def test_pq_index_dim_mismatch_fails_fast(spark, sf_dir, tmp_path):
    """dim mismatches raise instead of silently scoring a prefix."""
    import pytest

    emb = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="dim=32"):
        S.build_pq_index(emb, str(tmp_path / "pqbad"), dim=32, m_sub=4)
    S.build_pq_index(emb, str(tmp_path / "pqidx2"))
    qv = {int(r["vec_id"]): [float(x) for x in r["embedding"]]
          for r in emb.where(F.col("vec_id").isin([1])).collect()}
    with pytest.raises(ValueError, match="codebook"):
        S.query_pq_index(spark, str(tmp_path / "pqidx2"), qv,
                         k=5, dim=32, m_sub=2)
    with pytest.raises(ValueError, match="components"):
        S.query_pq_index(spark, str(tmp_path / "pqidx2"),
                         {7: [1.0, 2.0]}, k=5)
    with pytest.raises(ValueError, match="dim=32"):
        D.semantic_dedup(emb, n_cells=4, dim=32)


def test_extract_features_on_error_policies(spark):
    """fail raises through the stage; skip drops exactly the corrupt
    rows; mark keeps every row with byte metadata + the error string."""
    from ethereum2_etl_airflow_spark.operators import multimodal as M2

    rows = [(1, M2.make_ppm(4, 4, seed=9)), (2, b"P6\n4 4\n255\nxx")]
    flat = spark.createDataFrame(rows, "doc_id long, payload binary")
    media = flat.select(
        "doc_id", "payload",
        F.struct(F.lit("image/x-portable-pixmap").alias("mime"),
                 F.octet_length("payload").cast("long").alias("n_bytes"),
                 F.lit(4).alias("width"), F.lit(4).alias("height"))
        .alias("meta"))
    with pytest.raises(Exception, match="truncated PPM raster"):
        M2.extract_features(media, on_error="fail").collect()
    kept = M2.extract_features(media, on_error="skip").collect()
    assert [r["doc_id"] for r in kept] == [1]
    marked = {r["doc_id"]: r for r in
              M2.extract_features(media, on_error="mark").collect()}
    assert marked[1]["error"] is None and marked[1]["n_frames"] == 1
    assert marked[2]["error"] is not None
    assert marked[2]["n_frames"] is None
    assert marked[2]["n_bytes"] == len(rows[1][1])   # metadata survives
    with pytest.raises(ValueError):
        M2.extract_features(media, on_error="quarantine")


def test_extract_features_arrow_matches_pandas(spark, docs):
    """The mapInArrow decode stage is the same function as the
    mapInPandas one: identical rows on the same media."""
    from ethereum2_etl_airflow_spark.operators import multimodal as M2

    media = M2.attach_binary_payload(docs.limit(40))
    key = lambda r: (r["doc_id"], r["n_bytes"], r["head_hex"],  # noqa: E731
                     r["n_frames"], r["feature_sum"])
    a = sorted(map(key, M2.extract_features(media).collect()))
    b = sorted(map(key, M2.extract_features_arrow(media).collect()))
    assert a == b and len(a) == 40


def test_decontaminate_semantic_only_history_disqualifies(spark, sf_dir):
    """intra_batch=False: a train doc near a benchmark doc drops; two
    identical train docs BOTH survive (batch-internal similarity is not
    leakage)."""
    from pyspark.sql import functions as F2

    train = load_table(spark, sf_dir, "embeddings") \
        .select("vec_id", "embedding").limit(100)
    dup = train.limit(1).select((F2.col("vec_id") + 500000).alias("vec_id"),
                                "embedding")
    train2 = train.unionByName(dup)
    bench = (train.where(F2.col("vec_id") % 10 == 0)
             .select((F2.col("vec_id") + 1000000).alias("vec_id"),
                     F2.transform("embedding",
                                  lambda x: x.cast("double") * 1.01)
                     .alias("embedding")))
    out = {r["vec_id"] for r in
           D.semantic_dedup_incremental(train2, bench, n_cells=4,
                                        intra_batch=False).collect()}
    leaked = {r["vec_id"] for r in
              train.where(F2.col("vec_id") % 10 == 0).collect()}
    assert leaked.isdisjoint(out)           # every leak pruned
    dup_id = dup.first()["vec_id"]
    orig_id = train.first()["vec_id"]
    if orig_id not in leaked:
        # identical twins both survive without the intra-batch rule
        assert orig_id in out and dup_id in out


def test_hard_negatives_excludes_self_and_positive(spark, sf_dir):
    """X85: every returned negative differs from the query AND its
    labeled positive; ranks are dense 1..k per query; and the negative
    list equals the brute-force ranking with those two ids removed."""
    from ethereum2_etl_airflow_spark.operators.similarity import (
        hard_negatives, topk_cosine_bruteforce)

    emb = load_table(spark, sf_dir, "embeddings")
    positives = {0: 1, 1: 2, 2: 3}
    out = hard_negatives(emb, positives, k=5).collect()
    assert len(out) == 15
    by_q = {}
    for r in out:
        assert r["neg_id"] != r["query_id"]
        assert r["neg_id"] != r["pos_id"]
        assert r["pos_id"] == positives[r["query_id"]]
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        assert sorted(r["neg_rank"] for r in rows) == [1, 2, 3, 4, 5]
        # equals bruteforce top-6 minus the positive, first five
        bf = [r["vec_id"] for r in
              topk_cosine_bruteforce(emb, [q], k=6).collect()
              if r["vec_id"] != positives[q]][:5]
        got = [r["neg_id"] for r in
               sorted(rows, key=lambda r: r["neg_rank"])]
        assert got == bf


def test_quality_prune_drops_exact_quarter_per_group(spark):
    """X86: with frac_millis=250 exactly floor(n/4) rows drop per
    group, and the dropped ones are the (score, id)-smallest."""
    from ethereum2_etl_airflow_spark.operators.curation import (
        prune_bottom_quantile)

    rows = [("a", i, i * 10) for i in range(10)] + \
           [("b", i, 5) for i in range(100, 108)]  # all-tie group, n=8
    df = spark.createDataFrame(rows, "source string, doc_id long, score long")
    out = prune_bottom_quantile(df, "source", "score").collect()
    a = sorted(r["doc_id"] for r in out if r["source"] == "a")
    b = sorted(r["doc_id"] for r in out if r["source"] == "b")
    assert a == [2, 3, 4, 5, 6, 7, 8, 9]    # floor(10/4)=2 dropped
    assert b == [102, 103, 104, 105, 106, 107]  # ties -> lowest ids drop


def test_weighted_sample_deterministic_and_weight_sensitive(spark, sf_dir):
    """X87: the sample is layout-invariant (same 200 ids under a
    different partitioning) and weight-sensitive — weight-10 docs are
    over-represented vs weight-1 docs relative to their population
    share."""
    from ethereum2_etl_airflow_spark.operators.curation import (
        weighted_sample)

    d = (load_table(spark, sf_dir, "documents")
         .select("doc_id", (F.col("doc_id") % 10 + 1).alias("w")))
    s1 = sorted(r["doc_id"] for r in
                weighted_sample(d, n=200, weight_col="w").collect())
    s2 = sorted(r["doc_id"] for r in
                weighted_sample(d.repartition(7), n=200,
                                weight_col="w").collect())
    assert s1 == s2 and len(s1) == 200
    picked_w = [(x % 10) + 1 for x in s1]
    n_hi = sum(1 for w in picked_w if w >= 8)
    n_lo = sum(1 for w in picked_w if w <= 3)
    assert n_hi > n_lo  # selection odds track weight
    # non-positive / NULL weights carry no sampling mass
    z = spark.createDataFrame(
        [(1, 0), (2, -3), (3, None), (4, 5)],
        "doc_id long, w int")
    picked = weighted_sample(z, n=10, weight_col="w").collect()
    assert [r["doc_id"] for r in picked] == [4]


# --- X89 fim_split / X90 script_mix / X91 dedup_url (round 11) -------------

def test_fim_split_reconstructs_and_handles_empty(spark):
    from ethereum2_etl_airflow_spark.operators.curation import fim_split

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, ""), (3, None), (4, "solo")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in fim_split(docs).collect()}
    assert set(rows) == {1, 2, 3, 4}
    for r in rows.values():
        # partition property: the three parts concatenate to the full
        # token stream, whatever the split points are
        parts = " ".join(p for p in
                         (r["prefix"], r["middle"], r["suffix"]) if p)
        assert 0 <= r["lo"] <= r["hi"] <= r["n_tokens"]
        assert r["fmt"] in ("psm", "spm")
    full = rows[1]
    assert " ".join([full["prefix"], full["middle"], full["suffix"]]) \
        .split() == "alpha beta gamma delta epsilon zeta".split()
    for empty_id in (2, 3):
        e = rows[empty_id]
        assert (e["n_tokens"], e["lo"], e["hi"]) == (0, 0, 0)
        assert e["prefix"] == e["middle"] == e["suffix"] == ""
    # determinism + seed sensitivity
    again = {r["doc_id"]: r for r in fim_split(docs).collect()}
    assert again == rows
    other = {r["doc_id"]: r for r in
             fim_split(docs, seed="other").collect()}
    assert any(other[i] != rows[i] for i in rows)


def test_fim_split_spm_ratio_tracks_knob(spark):
    from ethereum2_etl_airflow_spark.operators.curation import fim_split

    docs = spark.range(400).selectExpr("id AS doc_id",
                                       "'a b c d e' AS text")
    n_spm = fim_split(docs, spm_permille=250).where(
        "fmt = 'spm'").count()
    assert 50 <= n_spm <= 150  # ~100 expected at 25%
    assert fim_split(docs, spm_permille=0).where(
        "fmt = 'spm'").count() == 0
    assert fim_split(docs, spm_permille=1000).where(
        "fmt = 'psm'").count() == 0


def test_script_mix_classes_and_dominant(spark):
    from ethereum2_etl_airflow_spark.operators.text import script_mix

    docs = spark.createDataFrame(
        [(1, "hello world 42"),
         (2, "Привет мир"),
         (3, "你好世界"),
         (4, "مرحبا"),
         (5, ""), (6, None),
         (7, "abc Привет")],   # latin 3 vs cyrillic 6 → cyrillic
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in script_mix(docs).collect()}
    assert rows[1]["main_script"] == "latin"
    assert rows[1]["n_digit"] == 2 and rows[1]["n_space"] == 2
    assert rows[2]["main_script"] == "cyrillic"
    assert rows[3]["main_script"] == "cjk" and rows[3]["n_cjk"] == 4
    assert rows[4]["main_script"] == "arabic"
    assert rows[5]["main_script"] == "none"
    assert rows[6]["main_script"] == "none" and rows[6]["n_chars"] == 0
    assert rows[7]["main_script"] == "cyrillic"
    for r in rows.values():
        total = sum(r[f"n_{c}"] for c in
                    ("latin", "digit", "cyrillic", "greek", "arabic",
                     "cjk", "space")) + r["n_other"]
        assert total == r["n_chars"]


def test_canonical_url_normalizations(spark):
    from ethereum2_etl_airflow_spark.operators.curation import (
        canonical_url, dedup_by_url)

    cases = [
        # (raw, expected canonical)
        ("HTTPS://WWW.Ex.COM:443/A/B/?b=2&a=1#f",
         "https://www.ex.com/A/B?a=1&b=2"),
        ("http://ex.com:80/", "http://ex.com/"),
        ("http://ex.com", "http://ex.com/"),
        ("https://ex.com/p?utm_source=x&utm_medium=y&fbclid=1",
         "https://ex.com/p"),
        ("https://ex.com/p?z=1&ref=abc&a=2",
         "https://ex.com/p?a=2&z=1"),
        ("https://ex.com/CaseSensitive/Path",
         "https://ex.com/CaseSensitive/Path"),
    ]
    df = spark.createDataFrame(
        [(i, raw) for i, (raw, _) in enumerate(cases)],
        "doc_id long, url string")
    from pyspark.sql import functions as F2
    got = [r["c"] for r in
           df.orderBy("doc_id")
           .select(canonical_url(F2.col("url")).alias("c")).collect()]
    assert got == [exp for _, exp in cases]
    # collapse: same resource fetched 3 ways → one row, min id survives
    dups = spark.createDataFrame(
        [(10, "https://ex.com/p?b=2&a=1"),
         (11, "HTTPS://EX.COM:443/p/?a=1&b=2#x"),
         (12, "https://ex.com/p?utm_source=t&a=1&b=2")],
        "doc_id long, url string")
    out = dedup_by_url(dups).collect()
    assert len(out) == 1
    assert (out[0]["doc_id"], out[0]["n_variants"]) == (10, 3)
    assert out[0]["canonical_url"] == "https://ex.com/p?a=1&b=2"


def test_html_extract_edges(spark):
    from ethereum2_etl_airflow_spark.operators.text import html_extract

    pages = spark.createDataFrame([
        (1, "<p>hello <b>world</b></p>"),
        (2, "<script>ignore<p>this</p></script>kept"),
        (3, "<style a=b>p{}</style>x<!-- <p>no</p> -->y"),
        (4, "&amp;lt; stays-lt &lt; becomes-angle &#39;q&#39;"),
        (5, None),
        (6, '<a href="u1">1</a><a href="u2">2</a>'),
        (7, "plain text, no markup"),
    ], "doc_id long, html string")
    rows = {r["doc_id"]: r for r in html_extract(pages).collect()}
    assert rows[1]["text"] == "hello world"
    assert rows[2]["text"] == "kept"            # script CONTENT dropped
    assert rows[3]["text"] == "x y"             # style + comment dropped
    # &amp;lt; is the literal string '&lt;' (no double decode);
    # bare &lt; decodes to '<'; &#39; decodes to apostrophe
    assert rows[4]["text"] == "&lt; stays-lt < becomes-angle 'q'"
    assert rows[5]["text"] == "" and rows[5]["n_links"] == 0
    assert rows[6]["n_links"] == 2
    assert list(rows[6]["links"]) == ["u1", "u2"]
    assert rows[7]["text"] == "plain text, no markup"
    # no Python in the plan
    plan = html_extract(pages)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Python" not in plan


def test_markdown_extract_edges(spark):
    from ethereum2_etl_airflow_spark.operators.text import markdown_extract

    pages = spark.createDataFrame([
        (1, "# Title\n\nbody *em* `code` text"),
        (2, "```\nsecret code\n```\nvisible"),
        (3, "[anchor](http://u/1) and [two](u2)"),
        (4, None),
        (5, "## A\n### B\nplain"),
        (6, "no markup at all"),
    ], "doc_id long, md string")
    rows = {r["doc_id"]: r for r in markdown_extract(pages).collect()}
    assert rows[1]["text"] == "Title body em code text"
    assert rows[1]["n_headers"] == 1
    assert list(rows[1]["headers"]) == ["Title"]
    # fenced code content never reaches text, but is accounted for
    assert "secret" not in rows[2]["text"]
    assert rows[2]["n_code_blocks"] == 1
    assert rows[2]["code_chars"] == len("\nsecret code\n")
    # link syntax collapses to anchor text; targets harvested
    assert rows[3]["text"] == "anchor and two"
    assert list(rows[3]["links"]) == ["http://u/1", "u2"]
    assert rows[4]["text"] == "" and rows[4]["n_headers"] == 0
    assert list(rows[5]["headers"]) == ["A", "B"]
    assert rows[6]["text"] == "no markup at all"
    plan = markdown_extract(pages)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Python" not in plan


def test_plan_shards_balance_and_rank(spark, sf_dir):
    import pyspark.sql.functions as F

    from ethereum2_etl_airflow_spark.operators.curation import plan_shards
    from ethereum2_etl_airflow_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    out = plan_shards(docs, n_shards=4).cache()
    rows = out.collect()
    # dense 0..n-1 rank, every doc exactly once
    assert sorted(r["rank"] for r in rows) == list(range(n))
    assert len({r["doc_id"] for r in rows}) == n
    # rank order is (size desc, id asc)
    by_rank = sorted(rows, key=lambda r: r["rank"])
    keys = [(-r["n_chars"], r["doc_id"]) for r in by_rank]
    assert keys == sorted(keys)
    # snake balance: per-shard size totals spread ≤ the largest doc
    sums = {}
    for r in rows:
        sums[r["shard"]] = sums.get(r["shard"], 0) + r["n_chars"]
    assert set(sums) <= set(range(4))
    biggest = max(r["n_chars"] for r in rows)
    assert max(sums.values()) - min(sums.values()) <= biggest
    # determinism under a different input layout
    again = {(r["doc_id"], r["rank"], r["shard"])
             for r in plan_shards(docs.repartition(3), n_shards=4).collect()}
    assert again == {(r["doc_id"], r["rank"], r["shard"]) for r in rows}
    out.unpersist()


def test_allocate_budget_sums_exactly(spark, sf_dir):
    from ethereum2_etl_airflow_spark.operators.curation import allocate_budget
    from ethereum2_etl_airflow_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    for budget in (7, 999, 1_000_000):
        rows = allocate_budget(docs, budget=budget).collect()
        assert sum(r["quota"] for r in rows) == budget
        # monotone: a strictly larger inventory never gets a smaller base
        # entitlement than a smaller one by more than the +1 remainder unit
        by_sz = sorted(rows, key=lambda r: r["size_sum"])
        for a, b in zip(by_sz, by_sz[1:]):
            assert b["quota"] >= a["quota"] - 1


def test_dialogue_turns_micro(spark):
    from ethereum2_etl_airflow_spark.operators.curation import dialogue_turns

    ev = spark.createDataFrame([
        # user 7: 3 events, then a 2h gap, then 1 more
        (1, "2024-01-01 10:00:00", 7, "ask"),
        (2, "2024-01-01 10:05:00", 7, "answer"),
        (3, "2024-01-01 10:10:00", 7, "ask"),
        (4, "2024-01-01 12:30:00", 7, "bye"),
        # user 9: single event
        (5, "2024-01-01 00:00:00", 9, "ping"),
    ], "event_id long, ts string, user_id long, event_type string") \
        .selectExpr("event_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts",
                    "user_id", "event_type")
    rows = {(r["user_id"], r["session_id"]): r
            for r in dialogue_turns(ev, gap_minutes=30).collect()}
    assert set(rows) == {(7, 0), (7, 1), (9, 0)}
    assert rows[(7, 0)]["n_turns"] == 3
    assert rows[(7, 0)]["transcript"] == \
        "user: ask\nassistant: answer\nuser: ask"
    assert rows[(7, 1)]["transcript"] == "user: bye"
    assert rows[(9, 0)]["transcript"] == "user: ping"


def test_calibration_bins_clamps_and_bounds(spark):
    import pyspark.sql.functions as F

    from ethereum2_etl_airflow_spark.operators.scoring import calibration_bins

    df = spark.createDataFrame(
        [(-50, 1), (0, 0), (999, 1), (1500, 0), (450, 1), (450, 0)],
        "score long, label int")
    rows = {r["bin"]: r for r in
            calibration_bins(df, "score", F.col("label") == 1,
                             n_bins=10).collect()}
    # out-of-range scores clamp into edge bins instead of vanishing
    assert rows[0]["n"] == 2          # -50 and 0
    assert rows[9]["n"] == 2          # 999 and 1500
    assert rows[4]["n"] == 2 and rows[4]["rate_millis"] == 500
    assert sum(r["n"] for r in rows.values()) == 6
    for r in rows.values():
        assert 0 <= r["rate_millis"] <= 1000


def test_span_corrupt_reconstructs(spark, sf_dir):
    import pyspark.sql.functions as F

    from ethereum2_etl_airflow_spark.operators.curation import span_corrupt
    from ethereum2_etl_airflow_spark.operators.text import tokens
    from ethereum2_etl_airflow_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents").limit(40)
    orig = {r["doc_id"]: r["toks"] for r in
            docs.select("doc_id", tokens(F.col("text")).alias("toks"))
            .collect()}
    for r in span_corrupt(docs).collect():
        toks = list(orig[r["doc_id"]])
        assert r["n_tokens"] == len(toks)
        inp, tgt = r["input"].split(" "), r["target"].split(" ")
        # splice every sentinel's target span back into the input
        spans = {}
        cur = None
        for piece in tgt:
            if piece.startswith("<extra_id_"):
                cur = piece
                spans[cur] = []
            elif cur is not None:
                spans[cur].append(piece)
        rebuilt = []
        for piece in inp:
            if piece.startswith("<extra_id_"):
                rebuilt.extend(spans[piece])
            else:
                rebuilt.append(piece)
        assert rebuilt == toks, r["doc_id"]
        assert r["n_masked_spans"] == len(spans)
        # masked spans never adjacent: numbering is strictly ordered
        sent_ids = [int(p[len("<extra_id_"):-1]) for p in inp
                    if p.startswith("<extra_id_")]
        assert sent_ids == sorted(set(sent_ids))


def test_cms_build_counts_equals_stream_build(spark, sf_dir):
    import pyspark.sql.functions as F

    from ethereum2_etl_airflow_spark.operators.quality import (
        cms_build_counts, cms_build_tokens)
    from ethereum2_etl_airflow_spark.operators.text import tokens
    from ethereum2_etl_airflow_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("t"))
    from_stream = {(r["row"], r["bucket"]): r["c"]
                   for r in cms_build_tokens(toks).collect()}
    counts = toks.groupBy("t").agg(F.count("*").alias("n"))
    from_counts = {(r["row"], r["bucket"]): r["c"]
                   for r in cms_build_counts(counts).collect()}
    # same sketch by definition: vocab-width hashing, stream-width mass
    assert from_stream == from_counts and from_stream


def test_paragraph_dedup_first_occurrence_and_reassembly(spark):
    from ethereum2_etl_airflow_spark.operators.dedup import paragraph_dedup

    docs = spark.createDataFrame([
        (1, "alpha\n\nshared banner\n\nbeta"),
        (2, "SHARED   BANNER\n\ngamma"),     # normalizes onto doc 1's
        (3, "shared banner"),                # whole doc is the dup
        (4, "alpha\n\n\n\ndelta"),           # blank paragraph dropped
    ], "doc_id long, text string")
    rows = {r["doc_id"]: r for r in paragraph_dedup(docs).collect()}
    assert rows[1]["text"] == "alpha\n\nshared banner\n\nbeta"
    assert rows[1]["n_paras"] == 3 and rows[1]["n_kept"] == 3
    # later copies cut, case/whitespace-insensitively
    assert rows[2]["text"] == "gamma"
    assert rows[2]["n_kept"] == 1
    # a doc that was ONLY boilerplate survives as an empty row
    assert rows[3]["text"] == "" and rows[3]["n_kept"] == 0
    # doc 4: 'alpha' already seen in doc 1 -> cut; blank para ignored
    assert rows[4]["text"] == "delta"
    assert rows[4]["n_paras"] == 2 and rows[4]["n_kept"] == 1


def test_blocklist_filter_suffix_semantics(spark):
    from ethereum2_etl_airflow_spark.operators.curation import (
        blocklist_filter)

    docs = spark.createDataFrame([
        (1, "https://spam.example.com/a?x=1"),     # subdomain -> drop
        (2, "https://example.com/b"),              # exact -> drop
        (3, "http://deep.sub.spam.example.com:8080/c"),  # deep -> drop
        (4, "https://notexample.com/d"),           # suffix-STRING only
        (5, "https://user:pw@example.org/e#f"),    # userinfo+cased bl
        (6, "https://good.site/f"),
        (7, None),
    ], "doc_id long, url string")
    bl = spark.createDataFrame([("example.com",), ("EXAMPLE.ORG",)],
                               "domain string")
    out = sorted(r["doc_id"] for r in blocklist_filter(docs, bl).collect())
    # notexample.com shares the 'example.com' string suffix but NOT the
    # dot-boundary — it must survive; NULL url has no host — survives
    assert out == [4, 6, 7]


def test_template_clusters_folds_entities(spark):
    from ethereum2_etl_airflow_spark.operators.dedup import (
        template_clusters)

    docs = spark.createDataFrame([
        (1, "Error 500 at 0xdead in https://a.io/x for bob@x.io"),
        (2, "error 9 at 0xBEEF in https://b.io/y?z=1 for a.c@y.org"),
        (3, "Totally different content here"),
        (4, "totally  DIFFERENT content here"),   # ws/case fold only
        (5, "singleton row"),
    ], "doc_id long, text string")
    rows = template_clusters(docs).collect()
    by_members = {(r["min_id"], r["max_id"]): r for r in rows}
    assert set(by_members) == {(1, 2), (3, 4)}
    tpl = by_members[(1, 2)]["sample"]
    assert tpl == "error <num> at <hex> in <url> for <email>"
    assert by_members[(1, 2)]["n_docs"] == 2


def test_embedding_outliers_finds_planted_outlier(spark):
    from ethereum2_etl_airflow_spark.operators.curation import (
        embedding_outliers)

    near = [1.0] * 64
    far = [1.0] * 32 + [-1.0] * 32
    rows = [(i, near, 0) for i in range(10)] + [(99, far, 0)] \
        + [(200, [0.5] * 64, 1), (201, None, 0), (202, near, None)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long")
    out = embedding_outliers(emb, k=2).collect()
    by_label = {}
    for r in out:
        by_label.setdefault(r["label"], []).append(r)
    # the planted far vector is label 0's rank-1 outlier, by a margin
    assert by_label[0][0]["vec_id"] == 99
    assert by_label[0][0]["rank"] == 1
    assert by_label[0][0]["dist"] > by_label[0][1]["dist"] * 10
    # singleton label: its only member IS the centroid, dist 0
    assert by_label[1][0]["vec_id"] == 200
    assert by_label[1][0]["dist"] == 0
    # NULL embedding / NULL label rows dropped
    ids = {r["vec_id"] for r in out}
    assert 201 not in ids and 202 not in ids
