"""Physical-plan assertions: the scale properties (pushdown, pruning,
broadcast, codegen) are tested, not assumed (SURVEY §4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ethereum2_etl_airflow_spark.operators.load import derive_block_date
from ethereum2_etl_airflow_spark.plans.explain import (
    has_broadcast_join, partition_filters, plan_string, pushed_filters,
    read_schema_columns,
)
from ethereum2_etl_airflow_spark.sources.testdata import load_table


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    q = li.where(F.col("l_quantity") > 30.0).select("l_orderkey")
    pf = pushed_filters(q)
    assert any("l_quantity" in f for f in pf), pf


def test_column_pruning(spark, sf_dir):
    """A 2-column projection must not scan all 11 lineitem columns."""
    li = load_table(spark, sf_dir, "lineitem")
    q = li.select("l_orderkey", "l_quantity")
    cols = read_schema_columns(q)
    assert set(cols) == {"l_orderkey", "l_quantity"}, cols


def test_q1_reads_only_needed_columns(spark, sf_dir):
    from ethereum2_etl_airflow_spark.plans.checks_relational import q_q1_pricing

    cols = set(read_schema_columns(q_q1_pricing(spark, sf_dir)))
    assert "l_partkey" not in cols and "l_suppkey" not in cols
    assert {"l_returnflag", "l_linestatus", "l_shipdate"} <= cols


def test_broadcast_join_chosen_for_small_dim(spark, sf_dir):
    from ethereum2_etl_airflow_spark.plans.checks_relational import (
        q_join_broadcast, q_join_inner,
    )

    assert has_broadcast_join(q_join_broadcast(spark, sf_dir))
    # and even without the hint, stats pick broadcast for a small dim
    assert has_broadcast_join(q_join_inner(spark, sf_dir))


def test_partition_pruning_on_block_date(spark, sf_dir, tmp_path):
    """The load-stage contract (SURVEY §4 R1): a block_date predicate
    lands in the scan's PartitionFilters (pruned at planning time), and
    the pruned scan reads only that partition's rows."""
    ev = derive_block_date(load_table(spark, sf_dir, "events"), "ts")
    dest = str(tmp_path / "ev")
    ev.write.partitionBy("block_date").parquet(dest)
    back = spark.read.parquet(dest)
    one = back.where(F.col("block_date") == "2024-01-03")
    pf = partition_filters(one)
    assert any("block_date" in f and "2024-01-03" in f for f in pf), pf
    # row counts confirm the filter semantics on the partition column
    expected = ev.where(F.col("block_date") == "2024-01-03").count()
    assert one.count() == expected > 0


def test_verify_sql_prunes_partitions(spark, sf_dir, tmp_path):
    """The ported verify SQL filters on the partition column, so the scan
    is pruned (the reference's DATE(ts) predicate would not prune —
    contrast asserted below)."""
    ev = derive_block_date(load_table(spark, sf_dir, "events"), "ts")
    dest = str(tmp_path / "bb")
    ev.withColumnRenamed("event_id", "block_slot") \
        .write.partitionBy("block_date").parquet(dest)
    spark.read.parquet(dest).createOrReplaceTempView("beacon_blocks")
    q = spark.sql("""SELECT MAX(block_slot) FROM beacon_blocks
                     WHERE block_date <= DATE'2024-01-05'""")
    assert any("block_date" in f for f in partition_filters(q))
    # the anti-pattern: filtering DATE(ts) (non-partition expression)
    # yields NO partition filter — documents why block_date exists
    bad = spark.sql("""SELECT MAX(block_slot) FROM beacon_blocks
                       WHERE CAST(ts AS DATE) <= DATE'2024-01-05'""")
    assert not any("block_date" in f for f in partition_filters(bad))


def test_topk_avoids_global_sort(spark, sf_dir):
    from ethereum2_etl_airflow_spark.plans.checks_relational import q_sort_limit
    from ethereum2_etl_airflow_spark.plans.explain import plan_string

    plan = plan_string(q_sort_limit(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, "global sort for a LIMIT query"

def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path):
    """Bucketing (bucketBy + sortBy saveAsTable) co-locates both join
    sides: the sort-merge join runs with NO Exchange on either side —
    the pre-shuffled layout that makes repeated large-x-large joins
    affordable at 100 TB."""
    from ethereum2_etl_airflow_spark.plans.explain import plan_string

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = load_table(spark, sf_dir, "orders")
        li = load_table(spark, sf_dir, "lineitem")
        (o.write.mode("overwrite").format("parquet")
         .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
         .option("path", str(tmp_path / "orders_b"))
         .saveAsTable("orders_bucketed"))
        (li.write.mode("overwrite").format("parquet")
         .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
         .option("path", str(tmp_path / "lineitem_b"))
         .saveAsTable("lineitem_bucketed"))
        j = (spark.table("orders_bucketed")
             .join(spark.table("lineitem_bucketed"),
                   F.col("o_orderkey") == F.col("l_orderkey")))
        plan = plan_string(j)
        assert "Exchange" not in plan, plan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
        spark.sql("DROP TABLE IF EXISTS orders_bucketed")
        spark.sql("DROP TABLE IF EXISTS lineitem_bucketed")


def test_aqe_skew_join_splits_hot_key(spark, sf_dir):
    """AQE skew-join: a pathologically hot key in a sort-merge join is
    split at runtime (SortMergeJoin(skew=true) + AQEShuffleRead skewed)
    — the automatic tier of skew handling; functions/skew.py::salted_join
    is the explicit fallback."""
    from ethereum2_etl_airflow_spark.plans.explain import plan_string

    saved = {k: spark.conf.get(k) for k in [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor"]}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16kb")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32kb")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
        hot = spark.range(0, 300000).select(
            F.when(F.col("id") % 10 == 0, 7).otherwise(F.col("id") % 1000)
            .alias("k"), F.col("id").alias("payload"))
        dim = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("d"))
        j = hot.join(dim, "k")
        # collect() executes THIS DataFrame's QueryExecution (count()
        # would execute a different one and leave j's plan un-finalized)
        assert len(j.collect()) == 300000
        plan = plan_string(j, "simple")
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_pii_scrub_prunes_columns(spark, sf_dir):
    """The scrub plan must read only (doc_id, text) — a scan shipping all
    five document columns for a 2-column projection is wrong at 100 TB."""
    from ethereum2_etl_airflow_spark.operators.curation import pii_scrub
    from ethereum2_etl_airflow_spark.plans.explain import read_schema_columns
    from ethereum2_etl_airflow_spark.sources.testdata import load_table

    # plan inspection needs a pristine cache: a cached raw-table scan
    # from another test would substitute a full-column InMemoryRelation
    spark.catalog.clearCache()
    out = pii_scrub(load_table(spark, sf_dir, "documents"))
    assert set(read_schema_columns(out)) == {"doc_id", "text"}


def test_bin_quantile_broadcasts_cutpoints(spark, sf_dir):
    from ethereum2_etl_airflow_spark.operators.curation import bin_by_quantile
    from ethereum2_etl_airflow_spark.plans.explain import (
        has_broadcast_join, plan_string)
    from ethereum2_etl_airflow_spark.sources.testdata import load_table

    out = bin_by_quantile(load_table(spark, sf_dir, "documents"), "n_chars")
    assert has_broadcast_join(out)
    # and no window over the full table — the point of the design
    assert "Window" not in plan_string(out, "simple")


def test_term_salience_stays_jvm_side(spark, sf_dir):
    """No Python evaluation anywhere in the salience plan (explode, aggs,
    join, window are all JVM operators)."""
    from ethereum2_etl_airflow_spark.operators.curation import term_salience
    from ethereum2_etl_airflow_spark.plans.explain import plan_string
    from ethereum2_etl_airflow_spark.sources.testdata import load_table

    plan = plan_string(
        term_salience(load_table(spark, sf_dir, "documents")), "simple")
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                   "FlatMapGroupsInPandas"):
        assert marker not in plan


def test_sim_ivf_plan_has_no_python_assignment(spark, sf_dir):
    """IVF cell assignment is JVM column math; the only Python stage in
    the whole ANN plan is the sanctioned partial-topk Arrow pass, which
    runs AFTER scoring.  Assert on the pre-checkpoint scored stage (the
    plan that actually distributes), not the checkpointed result."""
    from ethereum2_etl_airflow_spark.operators.similarity import _ivf_scored
    from ethereum2_etl_airflow_spark.plans.explain import plan_string
    from ethereum2_etl_airflow_spark.sources.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    scored, nv = _ivf_scored(emb, [1, 2, 3], n_lists=8, n_probe=2,
                             seed=42, id_col="vec_id",
                             vec_col="embedding")
    try:
        plan = plan_string(scored, "simple")
        for marker in ("ArrowEvalPython", "BatchEvalPython",
                       "MapInPandas", "FlatMapGroupsInPandas"):
            assert marker not in plan
    finally:
        nv.unpersist()


def test_sample_exact_n_avoids_global_sort(spark, sf_dir):
    from ethereum2_etl_airflow_spark.operators.sampling import sample_exact_n
    from ethereum2_etl_airflow_spark.plans.explain import plan_string
    from ethereum2_etl_airflow_spark.sources.testdata import load_table

    plan = plan_string(sample_exact_n(load_table(spark, sf_dir, "documents"),
                                      100), "simple")
    assert "TakeOrderedAndProject" in plan, "global sort for exact-n sample"


def test_weighted_mix_is_narrow(spark, sf_dir):
    """The mixing filter must stay a scan-side predicate: no Exchange,
    no Python workers."""
    from ethereum2_etl_airflow_spark.operators.sampling import weighted_mix
    from ethereum2_etl_airflow_spark.plans.explain import plan_string
    from ethereum2_etl_airflow_spark.sources.testdata import load_table

    plan = plan_string(weighted_mix(load_table(spark, sf_dir, "documents"),
                                    {"en": 0.5}, group_col="lang"), "simple")
    for marker in ("Exchange", "BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan


def test_tpch_top_k_shapes_avoid_global_sort(spark, sf_dir):
    """Q10 (top-20 customers) and Q18 (top-100 orders) must compile their
    ORDER BY ... LIMIT to TakeOrderedAndProject — per-partition heaps,
    not a global sort-exchange."""
    from ethereum2_etl_airflow_spark.plans.checks_tpch import (
        q_q10_returns, q_q18_bigorders,
    )

    for q in (q_q10_returns, q_q18_bigorders):
        assert "TakeOrderedAndProject" in plan_string(q(spark, sf_dir),
                                                      "simple"), q.__name__


def test_tpch_dims_broadcast(spark, sf_dir):
    """The multi-way join composites must broadcast every dimension —
    at 100 TB the only shuffles allowed are lineitem⋈orders legs."""
    from ethereum2_etl_airflow_spark.plans.checks_tpch import (
        q_q5_local, q_q8_share, q_q9_profit,
    )

    for q in (q_q5_local, q_q8_share, q_q9_profit):
        assert has_broadcast_join(q(spark, sf_dir)), q.__name__


def test_tpch_date_filters_push_to_scan(spark, sf_dir):
    """Q4/Q5's order-date range predicates must reach the parquet scan
    (row-group stats pruning at scale)."""
    from ethereum2_etl_airflow_spark.plans.checks_tpch import (
        q_q4_priority, q_q5_local,
    )

    for q in (q_q4_priority, q_q5_local):
        pf = pushed_filters(q(spark, sf_dir))
        assert any("o_orderdate" in f for f in pf), (q.__name__, pf)


def test_q21_self_joins_stay_equi_hash(spark, sf_dir):
    """Q21's semi+anti self-join legs must join hash-equi on l_orderkey
    with the <> conjunct as a residual — never a CartesianProduct (the
    nested-loop fallback would be quadratic in lines-per-order at
    scale)."""
    from ethereum2_etl_airflow_spark.plans.checks_tpch import q_q21_waiting

    plan = plan_string(q_q21_waiting(spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan, plan


def test_dedup_chunks_two_logical_shuffles(spark, sf_dir):
    """Segmentation is narrow (array HOFs, no explode-then-regroup):
    the whole operator plans at most 3 hash exchanges (chunk key,
    survivor regroup, totals join) — a regression to the explode+
    groupBy segmentation would add a fourth."""
    import re

    from ethereum2_etl_airflow_spark.operators.dedup import dedup_chunks

    df = dedup_chunks(load_table(spark, sf_dir, "documents")
                      .select("doc_id", "text"))
    plan = plan_string(df, "simple")
    n_hash = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_hash <= 3, plan


def test_portable_hash_dedup_stays_jvm_side(spark, sf_dir):
    """The md5-family MinHash/SimHash and sparse-cosine pipelines must be
    pure JVM plans (codegen md5/substring/aggregates — no Python workers),
    with map-side partial aggregation on the signature/groupBy stages."""
    from ethereum2_etl_airflow_spark.operators.dedup import (
        _simhash_exact_build, minhash_exact_pairs)
    from ethereum2_etl_airflow_spark.operators.similarity import (
        _sparse_cosine_build)
    from ethereum2_etl_airflow_spark.plans.explain import plan_string
    from ethereum2_etl_airflow_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    # pre-checkpoint builders: the public entries localCheckpoint, which
    # would collapse the plan to Scan ExistingRDD and make this vacuous
    sc_res, sc_tc = _sparse_cosine_build(docs, "source", 650,
                                         "text", "doc_id")
    for df in (minhash_exact_pairs(docs),
               _simhash_exact_build(docs, 32, 3, "text", "doc_id")[0],
               sc_res):
        plan = plan_string(df, "simple")
        for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                       "FlatMapGroupsInPandas"):
            assert marker not in plan
        # the groupBys run partial-then-final (map-side combine)
        assert "partial_" in plan.lower() or "HashAggregate" in plan
    # drop the build's cached index: it was planned at SESSION width,
    # and a later pinned-width test rebuilding the same pipeline would
    # silently reuse it (CacheManager matches by plan) and see the
    # stale layout
    sc_tc.unpersist()


def test_sparse_cosine_pinned_width_and_join_shape(spark, sf_dir):
    """sparse_cosine's exchanges all run at the pinned stats width
    (round-6 verdict item: unpinned session-width exchanges on a
    few-MB index were the largest remaining batch gap), and the
    self-join is a sort-free shuffled-hash probe of the cached index
    already partitioned on the join key — no sort-merge, no
    join-added exchange."""
    import re

    from ethereum2_etl_airflow_spark.functions.layout import pinned_shuffle
    from ethereum2_etl_airflow_spark.operators.similarity import (
        _sparse_cosine_build)
    from ethereum2_etl_airflow_spark.plans.explain import plan_string
    from ethereum2_etl_airflow_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    with pinned_shuffle(spark, 7):
        res, tc = _sparse_cosine_build(docs, "source", 650,
                                       "text", "doc_id", width=7)
        plan = plan_string(res, "simple")
    widths = {int(n) for n in
              re.findall(r"hashpartitioning\([^)]*?, (\d+)\)", plan)}
    # pin width everywhere except the (blk, tok) join layout, which
    # runs at 2× the pin (the quadratic-output stage — see
    # _sparse_cosine_build's selective-sweep comment)
    assert widths == {7, 14}, plan[:1500]
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan
    tc.unpersist()


def test_sparse_cosine_gemm_plan_shape(spark, sf_dir):
    """The blocked-GEMM default (round-11): exactly ONE exchange — the
    block grouping that feeds the one sanctioned Arrow stage
    (FlatMapGroupsInPandas); counts form inside the block kernel, so
    no combining groupBy barrier precedes it, and no row-at-a-time
    Python evaluator appears."""
    import re

    from ethereum2_etl_airflow_spark.functions.layout import pinned_shuffle
    from ethereum2_etl_airflow_spark.operators.similarity import (
        _sparse_cosine_gemm_build)
    from ethereum2_etl_airflow_spark.plans.explain import plan_string
    from ethereum2_etl_airflow_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    with pinned_shuffle(spark, 7):
        res = _sparse_cosine_gemm_build(docs, "source", 650,
                                        "text", "doc_id")
        plan = plan_string(res, "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan[:1500]
    widths = {int(n) for n in
              re.findall(r"hashpartitioning\([^)]*?, (\d+)\)", plan)}
    assert widths == {7}, plan[:1500]
    assert "FlatMapGroupsInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_bm25_plan_shape(spark, sf_dir):
    """BM25's plan stays JVM-side up to the sanctioned two-phase cap:
    the query-term filter applies BEFORE any exchange (pruning the
    fan-out), the corpus stats ride a broadcast, and no row-at-a-time
    Python evaluator appears anywhere (the only Python is the cap's
    Arrow mapInPandas local-cap pass)."""
    from ethereum2_etl_airflow_spark.functions.layout import (
        pinned_shuffle, plan_width)
    from ethereum2_etl_airflow_spark.operators.text import _bm25_build
    from ethereum2_etl_airflow_spark.plans.explain import plan_string
    from ethereum2_etl_airflow_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    w = plan_width(docs, floor=8)
    with pinned_shuffle(spark, w):
        df = _bm25_build(docs, {1: ["dup", "hash"]}, 5, 1200, 750,
                         "text", "doc_id")
        plan = plan_string(df, "simple")
        # round-9: every exchange runs at the stats-sized pinned width
        import re
        widths = {int(m) for m in
                  re.findall(r"hashpartitioning\([^)]*?, (\d+)\)", plan)}
        assert widths <= {w}, (w, widths, plan[:1500])
    assert "BatchEvalPython" not in plan
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan
    # the isin(query terms) filter sits below the tf aggregation —
    # i.e. the full-corpus (doc, term) table never forms
    assert "dup" in plan and "hash" in plan


def test_impact_postings_plan_no_python_scoring(spark, sf_dir):
    """The impact computation (idf/norm/contribution) is pure codegen:
    no Python evaluator outside the sanctioned Arrow cap pass, and the
    corpus N/T aggregate broadcasts rather than shuffling the corpus."""
    from ethereum2_etl_airflow_spark.functions.layout import (
        pinned_shuffle, plan_width)
    from ethereum2_etl_airflow_spark.operators.text import _impact_build
    from ethereum2_etl_airflow_spark.plans.explain import plan_string
    from ethereum2_etl_airflow_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    w = plan_width(docs, floor=8)
    with pinned_shuffle(spark, w):
        df = _impact_build(docs, 4, 1200, 750, "text", "doc_id")
        plan = plan_string(df, "simple")
        import re
        widths = {int(m) for m in
                  re.findall(r"hashpartitioning\([^)]*?, (\d+)\)", plan)}
        assert widths <= {w}, (w, widths, plan[:1500])
    assert "BatchEvalPython" not in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_rrf_and_ranking_eval_pure_jvm(spark):
    """The fusion and evaluation combiners are pure JVM plans — no
    Python workers at all (their inputs are bounded ranked lists)."""
    from ethereum2_etl_airflow_spark.operators.similarity import (
        ranking_eval, rrf_fuse)
    from ethereum2_etl_airflow_spark.plans.explain import plan_string

    a = spark.createDataFrame([(1, 10, 1), (1, 11, 2)],
                              "query_id long, doc_id long, rank long")
    b = spark.createDataFrame([(1, 11, 1), (1, 12, 2)],
                              "query_id long, doc_id long, rank long")
    for df in (rrf_fuse([a, b]), ranking_eval(a, b.select("query_id",
                                                          "doc_id"))):
        plan = plan_string(df, "simple")
        for marker in ("BatchEvalPython", "ArrowEvalPython",
                       "MapInPandas"):
            assert marker not in plan


def test_cohort_retention_plan_shape(spark, sf_dir):
    """Cohort retention: pure JVM, and the tiny cohort-size side joins
    without a shuffle of the big side beyond the matrix agg (broadcast
    or AQE-converted)."""
    from ethereum2_etl_airflow_spark.operators.curation import (
        cohort_retention)
    from ethereum2_etl_airflow_spark.plans.explain import plan_string
    from ethereum2_etl_airflow_spark.sources.testdata import load_table

    df = cohort_retention(load_table(spark, sf_dir, "events"))
    plan = plan_string(df, "simple")
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan


def test_triangle_count_adjacency_close_plan(spark, sf_dir):
    """The adjacency-intersection close must never sort or re-shuffle
    the quadratic side: the adjacency self-join is shuffle_hash (or
    broadcast under the bounded-graph contract), never SortMergeJoin,
    and no Python eval node appears anywhere — the triangle close is a
    pure codegen ``array_intersect``."""
    from pyspark.sql import functions as F

    from ethereum2_etl_airflow_spark.operators.graph import triangle_counts
    from ethereum2_etl_airflow_spark.plans.explain import plan_string
    from ethereum2_etl_airflow_spark.sources.testdata import load_table

    li = load_table(spark, sf_dir, "lineitem").limit(5000)
    pairs = (li.alias("x").join(
        li.alias("y"),
        (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
        & (F.col("x.l_partkey") < F.col("y.l_partkey")))
        .select(F.col("x.l_partkey").alias("id_a"),
                F.col("y.l_partkey").alias("id_b")).distinct())
    # probe plan with the operator's hints but no finalize checkpoint:
    # the shuffle_hash-hinted adjacency join must plan ShuffledHashJoin
    adj = pairs.groupBy("id_a").agg(F.collect_list("id_b").alias("nbrs"))
    e_u = adj.select("id_a", F.col("nbrs").alias("nbrs_u"),
                     F.explode("nbrs").alias("id_b"))
    adj_v = adj.select(F.col("id_a").alias("id_b"),
                       F.col("nbrs").alias("nbrs_v")).hint("shuffle_hash")
    probe = e_u.join(adj_v, "id_b").select(
        F.size(F.array_intersect("nbrs_u", "nbrs_v")).alias("c"))
    plan = plan_string(probe, "simple")
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan
    out = triangle_counts(pairs)
    assert out.columns == ["node", "n_triangles"]


def test_bloom_build_bounded_and_dense(spark):
    from ethereum2_etl_airflow_spark.functions.bloom import bloom_build

    small = spark.range(0, 5000).withColumnRenamed("id", "k")
    row = bloom_build(small, "k", m_bits=1 << 16).collect()
    assert len(row) == 1
    bits = row[0]["bits"]
    assert len(bits) == (1 << 16) // 64          # dense, constant-bounded
    assert any(b != 0 for b in bits)


def test_pq_code_table_is_narrow_int_codes(spark, sf_dir):
    """PQ's stored representation is m_sub small ints per vector — the
    64x memory reduction claim, checked structurally."""
    from ethereum2_etl_airflow_spark.operators.similarity import pq_topk
    from ethereum2_etl_airflow_spark.sources.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(100)
    out = pq_topk(emb, query_ids=[1], k=5)
    assert out.columns == ["query_id", "vec_id", "rank", "approx_dist"]
    rows = out.collect()
    assert len(rows) == 5
    assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]


def test_pq_index_serve_plan_is_single_codes_scan(spark, sf_dir, tmp_path):
    """The PQ SERVE path (query_pq_index) is the shape that matters at
    100 TB: per query branch one columnar scan of the stored codes
    table with the LUTs baked as literals — no join, no Python
    operator, and no exchange before the bounded per-branch top-k
    (TakeOrderedAndProject)."""
    from ethereum2_etl_airflow_spark.operators.similarity import (
        build_pq_index, query_pq_index)
    from ethereum2_etl_airflow_spark.plans.explain import plan_string
    from ethereum2_etl_airflow_spark.sources.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    build_pq_index(emb, str(tmp_path / "pqsrv"))
    qv = {int(r["vec_id"]): [float(x) for x in r["embedding"]]
          for r in emb.where(F.col("vec_id").isin([1])).collect()}
    out = query_pq_index(spark, str(tmp_path / "pqsrv"), qv, k=5)
    plan = plan_string(out, "simple")
    assert plan.count("FileScan parquet") == 1          # codes only
    assert "embedding" not in plan                      # raw vectors untouched
    for marker in ("BatchEvalPython", "ArrowEvalPython", "Join"):
        assert marker not in plan
    assert "TakeOrderedAndProject" in plan


def test_round4_text_ops_stay_jvm_side(spark, sf_dir):
    """The round-4 corpus operators (BPE pair stats, repeated spans,
    random-projection embed) are pure column algebra: no Python eval
    operator anywhere in their plans — the 100 TB hot path stays inside
    codegen."""
    from ethereum2_etl_airflow_spark.operators.dedup import (
        _repeated_spans_build)
    from ethereum2_etl_airflow_spark.operators.scoring import (
        random_projection_embed)
    from ethereum2_etl_airflow_spark.operators.tokenizer import (
        bpe_pair_counts)
    from ethereum2_etl_airflow_spark.plans.explain import plan_string
    from ethereum2_etl_airflow_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    for df in (bpe_pair_counts(docs),
               _repeated_spans_build(docs, 5, 2, "text", "doc_id"),
               random_projection_embed(docs, dims=4)):
        plan = plan_string(df, "simple")
        for marker in ("BatchEvalPython", "ArrowEvalPython"):
            assert marker not in plan


def test_repeated_spans_single_aggregation_no_join(spark, sf_dir):
    """The memorization-span statistic has NO candidate-pair stage:
    its plan carries zero join operators — span identity is the
    aggregation key."""
    from ethereum2_etl_airflow_spark.operators.dedup import (
        _repeated_spans_build)
    from ethereum2_etl_airflow_spark.plans.explain import plan_string
    from ethereum2_etl_airflow_spark.sources.testdata import load_table

    plan = plan_string(
        _repeated_spans_build(load_table(spark, sf_dir, "documents"),
                              5, 2, "text", "doc_id"),
        "simple")
    assert "Join" not in plan


def test_representative_checks_survive_ansi_mode(spark, sf_dir):
    """Spark 4 defaults to ANSI SQL in many deployments; the engine's
    core query surface must not depend on permissive-cast behavior.
    Runs a representative slice (scans, TPC-H aggs, date math, chain
    time, windows, joins, the round-4 corpus ops) with
    spark.sql.ansi.enabled=true — runtime-settable, restored after."""
    from ethereum2_etl_airflow_spark.plans.registry import spark_queries

    qs = spark_queries()
    names = ["q1_pricing", "q6_forecast", "date_fns", "chain_slot_epoch",
             "str_fns", "agg_cube", "dedup_exact", "filter_date_le",
             "json_extract", "window_rank", "join_inner",
             "scoring_linear", "bpe_pairs", "text_stats", "url_parse",
             "sample_weighted"]
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        for n in names:
            qs[n](spark, sf_dir).write.mode("overwrite") \
                .format("noop").save()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_lm_scoring_plan_prunes_and_stays_jvm(spark, sf_dir):
    """X69: the scorer reads only (doc_id, text) from parquet, the model
    joins resolve as broadcasts at this scale (vocab-sized build
    sides), and no Python stage appears anywhere in the plan."""
    from ethereum2_etl_airflow_spark.plans.checks_extension import (
        q_lm_perplexity)

    q = q_lm_perplexity(spark, sf_dir)
    cols = set(read_schema_columns(q))
    assert cols <= {"doc_id", "text"}, cols
    assert has_broadcast_join(q)
    plan = plan_string(q, "simple")
    assert "Python" not in plan and "Arrow" not in plan, plan[:500]


def test_kmeans_assignment_is_narrow_literal_scan(spark, sf_dir):
    """X70 (round-10 shape): the final assignment is a pure narrow map
    over the corpus scan — centroids folded into ONE array literal,
    argmin in-plan via array_min(transform(...)) — with NO exchange,
    NO join, and NO Python in the plan.  Probes the assignment
    fragment directly (kmeans_int's result is checkpoint-materialized,
    which would collapse the plan to Scan ExistingRDD and make the
    assertion vacuous)."""
    from ethereum2_etl_airflow_spark.operators.clustering import (
        _assign_literal, _quantized)

    emb = load_table(spark, sf_dir, "embeddings")
    # width=0: skip _quantized's (deliberate) fan-out exchange — this
    # test asserts the ASSIGNMENT fragment stays a narrow literal map
    qdf = _quantized(emb, "vec_id", "embedding", width=0)
    cents = [[r] * 64 for r in range(4)]
    probe = _assign_literal(qdf, cents, "vec_id")
    plan = plan_string(probe, "simple")
    for marker in ("Exchange", "Join", "CartesianProduct",
                   "BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan, (marker, plan[:800])
    # the centroid matrix constant-folded into a single array literal
    # (no per-evaluation CreateArray rebuild inside the lambda)
    assert "array_min(transform([[0,0" in plan.replace(" ", ""), plan[:800]
    out = {r["vec_id"]: r for r in probe.limit(5).collect()}
    assert all(r["cluster"] is not None for r in out.values())


def test_plan_width_scales_with_stats_and_clamps(spark, sf_dir):
    """plan_width sizes iteration layouts from Catalyst's plan-time
    estimate: tiny tables hit the floor, the session width is the cap,
    and the estimate survives a localCheckpoint (LogicalRDD preserves
    stats) — the property pagerank/kmeans/bpe loop widths rely on."""
    from ethereum2_etl_airflow_spark.functions.layout import plan_width

    conf = max(int(spark.conf.get("spark.sql.shuffle.partitions")),
               spark.sparkContext.defaultParallelism)
    small = spark.range(100).selectExpr("id AS a", "id AS b")
    assert plan_width(small, floor=3) == 3                 # floor
    assert plan_width(small, floor=1, target_bytes=128) \
        <= conf                                            # cap
    ck = small.localCheckpoint(eager=True)
    assert plan_width(ck, floor=3) == 3                    # stats survive
    # a deliberately tiny per-partition target forces the cap
    assert plan_width(spark.range(1_000_000), floor=1,
                      target_bytes=64) == conf


def test_source_divergence_pinned_width(spark, sf_dir):
    """source_unigram_divergence's exchanges all run at the pinned
    stats width (round-7: same unpinned-session-width disease
    sparse_cosine had — a few-MB (source, token) index paying
    session-wide per-partition fixed costs × four exchanges)."""
    import re

    from ethereum2_etl_airflow_spark.functions.layout import pinned_shuffle
    from ethereum2_etl_airflow_spark.operators.lm import (
        _source_divergence_build)
    from ethereum2_etl_airflow_spark.plans.explain import plan_string
    from ethereum2_etl_airflow_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    with pinned_shuffle(spark, 7):
        res, counts = _source_divergence_build(docs, "source", "text",
                                               None)
        plan = plan_string(res, "simple")
    widths = {int(n) for n in
              re.findall(r"hashpartitioning\([^)]*?, (\d+)\)", plan)}
    assert widths == {7}, plan[:1500]
    counts.unpersist()


def test_inverted_postings_pinned_width(spark, sf_dir):
    """inverted_postings' exchanges all run at the pinned stats width
    (round-7, same discipline), and the top-k cap stays a narrow
    Arrow stage + bounded window — no corpus-wide sort appears."""
    import re

    from ethereum2_etl_airflow_spark.functions.layout import pinned_shuffle
    from ethereum2_etl_airflow_spark.operators.text import (
        _inverted_postings_build)
    from ethereum2_etl_airflow_spark.plans.explain import plan_string
    from ethereum2_etl_airflow_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    with pinned_shuffle(spark, 7):
        res, tf = _inverted_postings_build(docs, 8, "text", "doc_id")
        plan = plan_string(res, "simple")
    widths = {int(n) for n in
              re.findall(r"hashpartitioning\([^)]*?, (\d+)\)", plan)}
    assert widths == {7}, plan[:1500]
    tf.unpersist()


def test_literal_query_frames_stay_broadcast(spark, sf_dir):
    """Round-12 regression pin: the literal query-term table must join
    the corpus-side tf table as a BROADCAST build.  A `.coalesce(1)`
    on the literal frame inserts a Repartition node that silently
    drops the `F.broadcast()` hint — the tf side then shuffles per
    consumer re-execution (measured: bm25_topk 1.4 → 5 s,
    passage_extract 1.9 → 10 s).  `layout.local_frame` (1-slice
    parallelize, no Repartition) is the sanctioned shape; this test
    fails if the hint is ever lost again."""
    from ethereum2_etl_airflow_spark.operators.text import _bm25_build
    from ethereum2_etl_airflow_spark.plans.explain import plan_string
    from ethereum2_etl_airflow_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_string(_bm25_build(docs, {1: ["beacon", "block"]}, 10,
                                   1200, 750, "text", "doc_id"))
    # two BroadcastHashJoins (df_t and qt) — no SortMergeJoin anywhere
    # in the scoring subtree, and no Repartition/Coalesce over the
    # literal frame
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Coalesce 1" not in plan, plan
