"""Relational-breadth check queries (SURVEY.md §2.8) over the TPC-H-ish
driver testdata, with DuckDB oracle SQL.

These cover the categories the reference itself never exercises (no join,
GROUP BY, window, sort or set-op exists anywhere in its 22 files —
SURVEY §2.8) but which its delegated engine (BigQuery Standard SQL)
offers every consumer of the published dataset.  Each is a declarative
DataFrame plan; Catalyst picks the physical strategy, and the broadcast /
shuffle choices are asserted in tests/test_plans.py.

Scale notes per query are inline: which side broadcasts, where the
shuffle lands, and what AQE is expected to do at 1000 executors.

Determinism: double sums are routed through DECIMAL(18,2) (exact,
order-independent addition; both engines round the same binary double to
decimal — ties are impossible for binary floats at any decimal scale) and
surfaced as DOUBLE so the output schema is engine-neutral.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..sources.testdata import load_table

__all__ = ["RELATIONAL_CHECKS"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _dec_sum(col: str, alias: str) -> F.Column:
    """Order-independent double sum: double → DECIMAL(18,2) → sum → DOUBLE."""
    return F.sum(F.col(col).cast("decimal(18,2)")).cast("double").alias(alias)


_DEC_SUM_SQL = "CAST(SUM(CAST({col} AS DECIMAL(18,2))) AS DOUBLE) AS {alias}"


# --- flagship: TPC-H Q1-style pricing summary -----------------------------

def q_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship scan-heavy aggregate (the classic pricing summary).  One
    wide scan → partial hash agg per partition → single shuffle on the
    2-value grouping key.  Column pruning matters: reads 7 of 11 columns;
    predicate on l_shipdate pushes to parquet row-group stats."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum("l_quantity", "sum_qty"),
            _dec_sum("l_extendedprice", "sum_base_price"),
            F.sum(
                (F.col("l_extendedprice").cast("decimal(18,2)")
                 * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")))
            ).cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


ORACLE_Q1 = f"""
SELECT l_returnflag, l_linestatus,
       {_DEC_SUM_SQL.format(col="l_quantity", alias="sum_qty")},
       {_DEC_SUM_SQL.format(col="l_extendedprice", alias="sum_base_price")},
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS sum_disc_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# --- joins ----------------------------------------------------------------

def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join orders⋈customer.  customer is the small side —
    Catalyst broadcasts it under the 64 MB threshold; at 100 TB the same
    plan holds as long as the dim stays broadcastable, else AQE falls back
    to shuffled hash join on o_custkey."""
    o, c = _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "customer")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"], "inner")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_orders"),
             _dec_sum("o_totalprice", "revenue"))
        .orderBy("c_mktsegment")
    )


ORACLE_JOIN_INNER = f"""
SELECT c_mktsegment, COUNT(*) AS n_orders,
       {_DEC_SUM_SQL.format(col="o_totalprice", alias="revenue")}
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with zero orders."""
    o, c = _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "customer")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .orderBy("c_custkey")
    )


ORACLE_JOIN_LEFT = """
SELECT c_custkey, COUNT(o_orderkey) AS n_orders
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey ORDER BY c_custkey
"""


def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers having at least one high-value order.
    Semi joins never duplicate the left side — cheaper than join+distinct."""
    o, c = _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "customer")
    big = o.where(F.col("o_totalprice") > 400000.0)
    return (
        c.join(big, c["c_custkey"] == big["o_custkey"], "left_semi")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    )


ORACLE_JOIN_SEMI = """
SELECT c_custkey, c_mktsegment FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
ORDER BY c_custkey
"""


def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no orders at all."""
    o, c = _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "customer")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


ORACLE_JOIN_ANTI = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY c_custkey
"""


def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast join: fact lineitem ⋈ broadcast(part).  The
    F.broadcast hint pins the strategy regardless of stats — the right
    call whenever the dim fits in executor memory; avoids shuffling the
    100 TB fact side entirely."""
    li, p = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"], "inner")
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_items"),
             _dec_sum("l_extendedprice", "revenue"))
        .orderBy("p_brand")
    )


ORACLE_JOIN_BROADCAST = f"""
SELECT p_brand, COUNT(*) AS n_items,
       {_DEC_SUM_SQL.format(col="l_extendedprice", alias="revenue")}
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand ORDER BY p_brand
"""


def q_join_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way dim chain region⋈nation⋈customer — both dims broadcast; the
    join tree collapses into one stage over customer."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name")
        .agg(F.count("*").alias("n_customers"),
             _dec_sum("c_acctbal", "total_acctbal"))
        .orderBy("r_name")
    )


ORACLE_JOIN_MULTI = f"""
SELECT r_name, COUNT(*) AS n_customers,
       {_DEC_SUM_SQL.format(col="c_acctbal", alias="total_acctbal")}
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
"""


# --- grouped aggregation / rollup / cube ----------------------------------

def q_agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.count("*").alias("n"),
             F.countDistinct("user_id").alias("n_users"),
             F.sum(F.floor(F.col("value") * 1000).cast("long")).alias("value_millis"))
        .orderBy("event_type")
    )


ORACLE_AGG_GROUPBY = """
SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT) AS value_millis
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over the region→nation hierarchy (subtotals + grand total).
    Spark plans this as Expand + one hash agg — no extra shuffles vs the
    plain groupBy."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    j = (c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
         .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]))
    return (
        j.rollup("r_name", "n_name")
        .agg(F.count("*").alias("n_customers"))
        .orderBy(F.col("r_name").asc_nulls_first(), F.col("n_name").asc_nulls_first())
    )


ORACLE_AGG_ROLLUP = """
SELECT r_name, n_name, COUNT(*) AS n_customers
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
ORDER BY r_name NULLS FIRST, n_name NULLS FIRST
"""


def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), _dec_sum("l_quantity", "sum_qty"))
        .orderBy(F.col("l_returnflag").asc_nulls_first(),
                 F.col("l_linestatus").asc_nulls_first())
    )


ORACLE_AGG_CUBE = f"""
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       {_DEC_SUM_SQL.format(col="l_quantity", alias="sum_qty")}
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""


# --- window functions -----------------------------------------------------

def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number per customer ordered by price (unique tie-break on
    orderkey → fully deterministic).  One shuffle on the partition key;
    skewed customers would be AQE-salted at scale."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (o.select("o_custkey", "o_orderkey",
                     F.row_number().over(w).alias("rn"))
            .orderBy("o_custkey", "rn"))


ORACLE_WINDOW_RANK = """
SELECT o_custkey, o_orderkey,
       ROW_NUMBER() OVER (PARTITION BY o_custkey
                          ORDER BY o_totalprice DESC, o_orderkey) AS rn
FROM orders ORDER BY o_custkey, rn
"""


def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() — inter-event gap in seconds per user (sessionization
    primitive)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    small = ev.where(F.to_date("ts") <= F.lit("2024-01-03").cast("date"))
    return (
        small.select(
            "user_id", "event_id",
            (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)))
            .cast("long").alias("gap_s"))
        .orderBy("user_id", "event_id")
    )


ORACLE_WINDOW_LAG = """
SELECT user_id, event_id,
       CAST(FLOOR(EPOCH(ts)) AS BIGINT)
       - CAST(FLOOR(EPOCH(LAG(ts) OVER (PARTITION BY user_id ORDER BY event_id)))
              AS BIGINT) AS gap_s
FROM events WHERE CAST(ts AS DATE) <= DATE '2024-01-03'
ORDER BY user_id, event_id
"""


def q_window_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit frame: running sum (ROWS UNBOUNDED PRECEDING) — bigint
    domain so the in-frame accumulation order can't change the hash."""
    ev = _t(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    small = ev.where(F.to_date("ts") <= F.lit("2024-01-03").cast("date"))
    return (
        small.select(
            "user_id", "event_id",
            F.sum(F.floor(F.col("value") * 1000).cast("long")).over(w)
            .alias("running_millis"))
        .orderBy("user_id", "event_id")
    )


ORACLE_WINDOW_FRAME = """
SELECT user_id, event_id,
       CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT))
            OVER (PARTITION BY user_id ORDER BY event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS running_millis
FROM events WHERE CAST(ts AS DATE) <= DATE '2024-01-03'
ORDER BY user_id, event_id
"""


# --- sort / limit / top-k -------------------------------------------------

def q_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-100 — Spark plans TakeOrderedAndProject: per-partition
    top-100 then a single-driver merge; never a full global sort."""
    o = _t(spark, sf_dir, "orders")
    return (o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
            .select("o_orderkey", "o_custkey", "o_totalprice")
            .limit(100))


ORACLE_SORT_LIMIT = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
"""


def q_topk_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 per group via row_number ≤ k — the scalable top-k-per-key
    idiom (no per-group collect)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.select("o_custkey", "o_orderkey", "o_totalprice",
                 F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    )


ORACLE_TOPK_GROUP = """
SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders) t
WHERE rn <= 3 ORDER BY o_custkey, rn
"""


# --- set operations -------------------------------------------------------

def q_set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION DISTINCT of two key domains."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    return c.union(s).distinct().orderBy("k")


ORACLE_SET_UNION = """
SELECT c_nationkey AS k FROM customer
UNION
SELECT s_nationkey AS k FROM supplier
ORDER BY k
"""


def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: users who never purchased."""
    ev = _t(spark, sf_dir, "events")
    all_u = ev.select("user_id").distinct()
    buyers = ev.where(F.col("event_type") == "purchase").select("user_id")
    return all_u.exceptAll(buyers.distinct()).orderBy("user_id")


ORACLE_SET_EXCEPT = """
SELECT DISTINCT user_id FROM events
EXCEPT
SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
ORDER BY user_id
"""


def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: users who both clicked and purchased."""
    ev = _t(spark, sf_dir, "events")
    a = ev.where(F.col("event_type") == "click").select("user_id").distinct()
    b = ev.where(F.col("event_type") == "purchase").select("user_id").distinct()
    return a.intersect(b).orderBy("user_id")


ORACLE_SET_INTERSECT = """
SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
INTERSECT
SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
ORDER BY user_id
"""


# --- array / string scalar functions --------------------------------------

def q_array_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode over the embedding arrays (the model stores arrays —
    `beacon_blocks.json:72-336` — and dataset-typical queries unnest them).
    posexplode keeps the dimension index."""
    emb = _t(spark, sf_dir, "embeddings")
    ex = emb.select("vec_id", F.posexplode("embedding").alias("dim", "x"))
    return (
        ex.groupBy("vec_id")
        .agg(F.count("*").alias("n_dims"),
             F.sum(F.floor(F.col("x").cast("double") * 1000).cast("long"))
             .alias("sum_millis"))
        .orderBy("vec_id")
    )


ORACLE_ARRAY_EXPLODE = """
SELECT vec_id, COUNT(*) AS n_dims,
       CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT)
           AS sum_millis
FROM (SELECT vec_id, UNNEST(embedding) AS x FROM embeddings) t
GROUP BY vec_id ORDER BY vec_id
"""


def q_str_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar surface: substr/upper/length/concat/replace."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            F.upper(F.substring("text", 1, 12)).alias("head"),
            F.length("text").alias("n_chars_computed"),
            F.concat_ws("-", "lang", "source").alias("tag"),
            F.length(F.regexp_replace("text", " ", "")).alias("n_nonspace"))
        .orderBy("doc_id")
    )


ORACLE_STR_FNS = """
SELECT doc_id,
       UPPER(SUBSTR(text, 1, 12)) AS head,
       LENGTH(text) AS n_chars_computed,
       lang || '-' || source AS tag,
       LENGTH(REPLACE(text, ' ', '')) AS n_nonspace
FROM documents ORDER BY doc_id
"""


# --- skew handling --------------------------------------------------------

def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join (explicit hot-key mitigation, functions/skew.py):
    semantically identical to the plain join — the oracle is the unsalted
    SQL — while the fact side spreads each key over 16 salt buckets."""
    from ..functions.skew import salted_join

    ev = _t(spark, sf_dir, "events")
    dim = ev.groupBy("user_id").agg(F.min("event_id").alias("first_event"))
    joined = salted_join(ev.select("user_id", "event_id", "event_type"),
                         dim, on="user_id", salt=16)
    return (joined.groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("event_id") - F.col("first_event")).alias("id_delta_sum"))
            .orderBy("event_type"))


ORACLE_JOIN_SALTED = """
WITH dim AS (SELECT user_id, MIN(event_id) AS first_event
             FROM events GROUP BY user_id)
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(event_id - first_event) AS BIGINT) AS id_delta_sum
FROM events JOIN dim USING (user_id)
GROUP BY event_type ORDER BY event_type
"""


def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (functions/asof.py union-marker formulation): each
    purchase event picks up the user's most recent click at-or-before it.
    Oracle: DuckDB's native ASOF JOIN — independent implementation, same
    semantics."""
    from ..functions.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = (ev.where(F.col("event_type") == "purchase")
                 .select("user_id", "event_id", "ts"))
    clicks = (ev.where(F.col("event_type") == "click")
              .select("user_id", F.col("ts").alias("click_ts"),
                      F.col("event_id").alias("click_id")))
    out = asof_join(purchases, clicks, on="user_id",
                    left_ts="ts", right_ts="click_ts")
    return (out.select("user_id", "event_id",
                       F.col("asof_click_id").alias("click_id"))
            .orderBy("event_id"))


ORACLE_JOIN_ASOF = """
WITH purchases AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
clicks AS (
  SELECT user_id, ts AS click_ts, event_id AS click_id
  FROM events WHERE event_type = 'click')
SELECT p.user_id, p.event_id, c.click_id
FROM purchases p
ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.click_ts
ORDER BY p.event_id
"""


def q_agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide aggregation): per-user event counts, one column per
    event type.  The explicit value list keeps the plan a single pass
    (no extra distinct-values job) and the schema deterministic."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (ev.groupBy("user_id").pivot("event_type", types).count()
            .na.fill(0, types)
            .orderBy("user_id"))


ORACLE_AGG_PIVOT = """
SELECT user_id,
       COUNT(*) FILTER (event_type = 'click') AS click,
       COUNT(*) FILTER (event_type = 'error') AS error,
       COUNT(*) FILTER (event_type = 'purchase') AS purchase,
       COUNT(*) FILTER (event_type = 'signup') AS signup,
       COUNT(*) FILTER (event_type = 'view') AS view
FROM events GROUP BY user_id ORDER BY user_id
"""


def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (theta) join: price-band dimension × orders on an interval
    predicate.  The band table is tiny → BroadcastNestedLoopJoin, which
    is the right plan for a non-equi join with a broadcastable side; for
    two large sides the scale pattern is banding the range into equi-join
    buckets (as done for SimHash)."""
    o = _t(spark, sf_dir, "orders")
    from ..functions.layout import local_frame
    bands = local_frame(
        spark,
        [(i, float(i * 100000), float((i + 1) * 100000)) for i in range(7)],
        "band int, lo double, hi double")
    j = o.join(F.broadcast(bands),
               (o["o_totalprice"] >= bands["lo"])
               & (o["o_totalprice"] < bands["hi"]), "inner")
    return (j.groupBy("band")
            .agg(F.count("*").alias("n"),
                 _dec_sum("o_totalprice", "band_revenue"))
            .orderBy("band"))


ORACLE_JOIN_RANGE = f"""
WITH bands AS (
  SELECT i AS band, i * 100000.0 AS lo, (i + 1) * 100000.0 AS hi
  FROM range(7) t(i))
SELECT band, COUNT(*) AS n,
       {_DEC_SUM_SQL.format(col="o_totalprice", alias="band_revenue")}
FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY band ORDER BY band
"""


def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup/cube): per-segment, per-status
    and grand-total order counts in one pass (Expand + single agg)."""
    o, c = _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "customer")
    j = o.join(c, o["o_custkey"] == c["c_custkey"])
    j.createOrReplaceTempView("gs_oc")
    return spark.sql("""
        SELECT c_mktsegment, o_orderstatus, COUNT(*) AS n
        FROM gs_oc
        GROUP BY GROUPING SETS ((c_mktsegment), (o_orderstatus), ())
        ORDER BY c_mktsegment NULLS FIRST, o_orderstatus NULLS FIRST
    """)


ORACLE_AGG_GROUPING_SETS = """
SELECT c_mktsegment, o_orderstatus, COUNT(*) AS n
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY GROUPING SETS ((c_mktsegment), (o_orderstatus), ())
ORDER BY c_mktsegment NULLS FIRST, o_orderstatus NULLS FIRST
"""


def q_agg_count_distinct_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct — the scale path for A3 when
    exactness isn't required (sketches merge map-side; no expand).

    Oracle-checkable form (round-9): the HLL++ ESTIMATE is
    engine-specific, so instead of exporting it the check returns the
    EXACT distinct count alongside an in-plan boolean asserting the
    estimate landed within tolerance of it (rsd 0.02 → assert relative
    error ≤ 0.10, a 5σ band; HLL++ is deterministic for fixed data, so
    the boolean is stable).  The oracle returns the same exact count
    and literal ``true`` — both columns hash-comparable.  The HLL
    sketch still executes in the Spark plan (same partial-merge path as
    before); only its value is consumed in-plan rather than exported."""
    ev = _t(spark, sf_dir, "events")
    exact = F.countDistinct("user_id").cast("long")
    approx = F.approx_count_distinct("user_id", 0.02).cast("double")
    return ev.agg(
        exact.alias("exact_users"),
        (F.abs(approx / exact.cast("double") - F.lit(1.0)) <= 0.10)
        .alias("approx_within_tol"))


ORACLE_AGG_COUNT_DISTINCT_APPROX = """
SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       true AS approx_within_tol
FROM events
"""


# --- full outer join ------------------------------------------------------

def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join customer⟗orders (on custkey), reduced to the
    side-coverage counts: total joined rows, customers with no orders,
    (hypothetical) orders with no customer.  The outer join shuffles both
    sides on the key; AQE handles the skewed-null bucket."""
    o, c = _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "customer")
    j = c.join(o, c["c_custkey"] == o["o_custkey"], "full_outer")
    return j.agg(
        F.count("*").alias("n_rows"),
        F.count(F.when(F.col("o_orderkey").isNull(), 1)).alias("n_no_order"),
        F.count(F.when(F.col("c_custkey").isNull(), 1)).alias("n_no_cust"))


ORACLE_JOIN_FULL = """
SELECT COUNT(*) AS n_rows,
       COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END) AS n_no_order,
       COUNT(CASE WHEN c_custkey IS NULL THEN 1 END) AS n_no_cust
FROM customer FULL OUTER JOIN orders ON c_custkey = o_custkey
"""


# --- ordered list aggregation ---------------------------------------------

def q_agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic list aggregation: nations per region, sorted then
    joined — ``collect_list`` alone is order-nondeterministic across
    partitionings, so the sort inside the row is what makes the result
    (and its hash) stable."""
    n, r = _t(spark, sf_dir, "nation"), _t(spark, sf_dir, "region")
    return (n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
            .groupBy("r_name")
            .agg(F.array_join(F.array_sort(F.collect_list("n_name")), ",")
                 .alias("nations"))
            .orderBy("r_name"))


ORACLE_AGG_LISTAGG = """
SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
"""


# --- grouped ntile --------------------------------------------------------

def q_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language size quartiles over documents: ntile(4) within each
    lang partition (keyed window — parallel across languages, unlike a
    global ntile which would serialize on one task)."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    return (d.select("doc_id", "lang", "n_chars",
                     F.ntile(4).over(w).alias("quartile"))
            .orderBy("doc_id"))


ORACLE_WINDOW_NTILE = """
SELECT doc_id, lang, n_chars,
       NTILE(4) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS quartile
FROM documents ORDER BY doc_id
"""


# --- subqueries -----------------------------------------------------------

def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery in a filter: orders above the global average price.
    Catalyst plans the subquery once and broadcasts the scalar; the outer
    scan stays a pushed-filter parquet scan.  The average is computed in
    DECIMAL so the comparison threshold is bit-identical cross-engine."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("sq_orders_v")
    return spark.sql("""
        SELECT o_orderkey, o_totalprice FROM sq_orders_v
        WHERE o_totalprice > (SELECT AVG(CAST(o_totalprice AS DECIMAL(18,2)))
                              FROM sq_orders_v)
        ORDER BY o_orderkey""")


ORACLE_SUBQUERY_SCALAR = """
SELECT o_orderkey, o_totalprice FROM orders
WHERE o_totalprice > (SELECT AVG(CAST(o_totalprice AS DECIMAL(18,2)))
                      FROM orders)
ORDER BY o_orderkey
"""


def q_subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS: customers with at least one high-value order.
    Catalyst rewrites to a left-semi hash join — the subquery never
    executes per-row."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("ex_customer_v")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("ex_orders_v")
    return spark.sql("""
        SELECT c_custkey, c_name FROM ex_customer_v c
        WHERE EXISTS (SELECT 1 FROM ex_orders_v o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 100000)
        ORDER BY c_custkey""")


ORACLE_SUBQUERY_EXISTS = """
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
ORDER BY c_custkey
"""


# --- rank-family windows --------------------------------------------------

def q_window_percent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist / dense_rank over per-lang doc sizes —
    the remaining rank-family window functions.  Doubles here are exact
    ratios of small integers (identical cross-engine)."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    return (d.select("doc_id", "lang",
                     F.percent_rank().over(w).alias("pr"),
                     F.cume_dist().over(w).alias("cd"),
                     F.dense_rank().over(w).alias("dr"))
            .orderBy("doc_id"))


ORACLE_WINDOW_PERCENT = """
SELECT doc_id, lang,
       PERCENT_RANK() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS pr,
       CUME_DIST()    OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS cd,
       DENSE_RANK()   OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS dr
FROM documents ORDER BY doc_id
"""


# --- null-handling scalar functions ---------------------------------------

def q_null_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COALESCE / NULLIF / GREATEST / LEAST with NULL operands over the
    orders table (o_comment nullable-ish surface built from predicates)."""
    o = _t(spark, sf_dir, "orders")
    return (o.select(
        "o_orderkey",
        F.coalesce(F.nullif(F.col("o_orderpriority"), F.lit("3-MEDIUM")),
                   F.lit("<default>")).alias("prio_or_default"),
        F.greatest(F.col("o_totalprice"),
                   F.lit(100000.0)).alias("floor_price"),
        F.least(F.col("o_custkey"), F.lit(100)).alias("min_cust"),
        F.when(F.col("o_totalprice") > 200000, None)
        .otherwise(F.col("o_totalprice")).alias("capped"))
        .orderBy("o_orderkey"))


ORACLE_NULL_FNS = """
SELECT o_orderkey,
       COALESCE(NULLIF(o_orderpriority, '3-MEDIUM'), '<default>')
           AS prio_or_default,
       GREATEST(o_totalprice, 100000.0) AS floor_price,
       LEAST(o_custkey, 100) AS min_cust,
       CASE WHEN o_totalprice > 200000 THEN NULL ELSE o_totalprice END
           AS capped
FROM orders ORDER BY o_orderkey
"""


# --- flagship composites: TPC-H Q3/Q6 shapes ------------------------------

def q_q3_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shape: 3-way fact join + filtered agg + top-10 by revenue.
    customer broadcast; orders⋈lineitem shuffles on orderkey; the final
    top-10 is a TakeOrdered, not a global sort."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp_ntz"))
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp_ntz"))
    return (li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
            .groupBy("l_orderkey", F.col("o_orderdate").cast("date")
                     .cast("string").alias("o_date"))
            .agg(F.sum((F.col("l_extendedprice").cast("decimal(18,2)")
                        * (F.lit(1).cast("decimal(18,2)")
                           - F.col("l_discount").cast("decimal(18,2)"))))
                 .cast("double").alias("revenue"))
            .orderBy(F.col("revenue").desc(), "l_orderkey")
            .limit(10))


ORACLE_Q3 = """
SELECT l_orderkey,
       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_date,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS revenue
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l_orderkey, o_date
ORDER BY revenue DESC, l_orderkey LIMIT 10
"""


def q_q6_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 shape: highly selective scan-filter-agg — the pushdown
    showcase (every predicate reaches the parquet scan; one row out)."""
    li = _t(spark, sf_dir, "lineitem")
    sel = li.where(
        (F.col("l_shipdate") >= F.lit("1994-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24))
    return sel.agg(
        F.sum((F.col("l_extendedprice").cast("decimal(18,2)")
               * F.col("l_discount").cast("decimal(18,4)")))
        .cast("double").alias("revenue"),
        F.count("*").alias("n_items"))


ORACLE_Q6 = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
              * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1995-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


# --- boolean / conditional aggregates -------------------------------------

def q_bool_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bool_and / bool_or / count_if / any_value per event_type —
    any_value made deterministic by taking it over a min-reduced value."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.bool_and(F.col("value") > 0).alias("all_pos"),
                 F.bool_or(F.col("value") > 99).alias("any_big"),
                 F.count_if(F.col("user_id") % 2 == 0).alias("n_even_user"),
                 F.min("event_id").alias("first_event"))
            .orderBy("event_type"))


ORACLE_BOOL_AGGS = """
SELECT event_type,
       bool_and(value > 0) AS all_pos,
       bool_or(value > 99) AS any_big,
       CAST(count_if(user_id % 2 = 0) AS BIGINT) AS n_even_user,
       MIN(event_id) AS first_event
FROM events GROUP BY event_type ORDER BY event_type
"""


# --- fixed-width histogram ------------------------------------------------

def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order prices — the profiling primitive.
    Bucket assignment is explicit FLOOR math (identical expression both
    engines; DuckDB lacks width_bucket): below-range → 0, at-or-above
    max → 13, else 1 + floor(x / width).  Pure narrow map + one
    partial-aggregating groupBy."""
    o = _t(spark, sf_dir, "orders")
    x = F.col("o_totalprice")
    bucket = (F.when(x < 0.0, 0)
              .when(x >= 600000.0, 13)
              .otherwise(F.floor(x / 50000.0) + 1)).cast("int")
    return (o.select(bucket.alias("bucket"))
            .groupBy("bucket").agg(F.count("*").alias("n"))
            .orderBy("bucket"))


ORACLE_HISTOGRAM = """
SELECT CAST(CASE WHEN o_totalprice < 0.0 THEN 0
                 WHEN o_totalprice >= 600000.0 THEN 13
                 ELSE FLOOR(o_totalprice / 50000.0) + 1 END AS INT) AS bucket,
       COUNT(*) AS n
FROM orders GROUP BY bucket ORDER BY bucket
"""


# --- first/last/nth window values -----------------------------------------

def q_window_firstlast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value over a full-partition frame
    per user (frame pinned to the whole partition so last/nth are
    well-defined)."""
    ev = _t(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    return (ev.select("event_id", "user_id",
                      F.first("event_type").over(w).alias("first_type"),
                      F.last("event_type").over(w).alias("last_type"),
                      F.nth_value("event_type", 2).over(w).alias("second_type"))
            .orderBy("event_id"))


ORACLE_WINDOW_FIRSTLAST = """
SELECT event_id, user_id,
       FIRST_VALUE(event_type) OVER w AS first_type,
       LAST_VALUE(event_type) OVER w AS last_type,
       NTH_VALUE(event_type, 2) OVER w AS second_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
ORDER BY event_id
"""


# --- array higher-order functions -----------------------------------------

def q_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions over the embedding column: filter
    (positive-component count), transform+array_max (max |x| as exact
    FLOOR-scaled integer), exists (any component > 0.9).  All lambda
    expressions evaluate JVM-side."""
    e = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    return (e.select(
        "vec_id",
        F.size(v).alias("dim"),
        F.size(F.filter(v, lambda x: x > 0)).alias("n_pos"),
        F.floor(F.array_max(F.transform(
            v, lambda x: F.abs(x.cast("double")))) * 1000000)
        .cast("long").alias("maxabs_micros"),
        F.exists(v, lambda x: x > 0.9).alias("has_big"))
        .orderBy("vec_id"))


ORACLE_ARRAY_HOF = """
SELECT vec_id,
       len(embedding) AS dim,
       len(list_filter(embedding, x -> x > 0)) AS n_pos,
       CAST(FLOOR(list_max(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE)))) * 1000000) AS BIGINT)
           AS maxabs_micros,
       len(list_filter(embedding, x -> x > 0.9)) > 0 AS has_big
FROM embeddings ORDER BY vec_id
"""


# --- TPC-H Q13 shape: outer-join count distribution ------------------------

def q_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13's two-level aggregation: per-customer order counts through a
    filtered LEFT join (customers with no qualifying order count 0),
    then the distribution of those counts.  Exercises outer join with an
    ON-clause filter (NOT a WHERE — that would drop the zeros) feeding a
    second aggregation.  Both groupBys partial-aggregate; the second
    input is |customers| rows, the distribution output is tiny."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (c.join(o, (c["c_custkey"] == o["o_custkey"])
                       & (o["o_orderpriority"] != "1-URGENT"), "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count("*").alias("custdist"))
            .orderBy(F.col("custdist").desc(), F.col("c_count").desc()))


ORACLE_Q13 = """
SELECT c_count, COUNT(*) AS custdist FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey) t
GROUP BY c_count ORDER BY custdist DESC, c_count DESC
"""


RELATIONAL_CHECKS: dict[str, tuple] = {
    "q13_custdist": (q_q13_custdist, ORACLE_Q13),
    "window_firstlast": (q_window_firstlast, ORACLE_WINDOW_FIRSTLAST),
    "array_hof": (q_array_hof, ORACLE_ARRAY_HOF),
    "histogram": (q_histogram, ORACLE_HISTOGRAM),
    "bool_aggs": (q_bool_aggs, ORACLE_BOOL_AGGS),
    "q3_shipping": (q_q3_shipping, ORACLE_Q3),
    "q6_forecast": (q_q6_forecast, ORACLE_Q6),
    "window_percent": (q_window_percent, ORACLE_WINDOW_PERCENT),
    "null_fns": (q_null_fns, ORACLE_NULL_FNS),
    "join_full": (q_join_full, ORACLE_JOIN_FULL),
    "agg_listagg": (q_agg_listagg, ORACLE_AGG_LISTAGG),
    "window_ntile": (q_window_ntile, ORACLE_WINDOW_NTILE),
    "subquery_scalar": (q_subquery_scalar, ORACLE_SUBQUERY_SCALAR),
    "subquery_exists": (q_subquery_exists, ORACLE_SUBQUERY_EXISTS),
    "join_salted": (q_join_salted, ORACLE_JOIN_SALTED),
    "join_asof": (q_join_asof, ORACLE_JOIN_ASOF),
    "join_range": (q_join_range, ORACLE_JOIN_RANGE),
    "agg_pivot": (q_agg_pivot, ORACLE_AGG_PIVOT),
    "agg_grouping_sets": (q_agg_grouping_sets, ORACLE_AGG_GROUPING_SETS),
    "agg_count_distinct_approx": (q_agg_count_distinct_approx,
                                  ORACLE_AGG_COUNT_DISTINCT_APPROX),
    "q1_pricing": (q_q1_pricing, ORACLE_Q1),
    "join_inner": (q_join_inner, ORACLE_JOIN_INNER),
    "join_left": (q_join_left, ORACLE_JOIN_LEFT),
    "join_semi": (q_join_semi, ORACLE_JOIN_SEMI),
    "join_anti": (q_join_anti, ORACLE_JOIN_ANTI),
    "join_broadcast": (q_join_broadcast, ORACLE_JOIN_BROADCAST),
    "join_multi": (q_join_multi, ORACLE_JOIN_MULTI),
    "agg_groupby": (q_agg_groupby, ORACLE_AGG_GROUPBY),
    "agg_rollup": (q_agg_rollup, ORACLE_AGG_ROLLUP),
    "agg_cube": (q_agg_cube, ORACLE_AGG_CUBE),
    "window_rank": (q_window_rank, ORACLE_WINDOW_RANK),
    "window_lag": (q_window_lag, ORACLE_WINDOW_LAG),
    "window_frame": (q_window_frame, ORACLE_WINDOW_FRAME),
    "sort_limit": (q_sort_limit, ORACLE_SORT_LIMIT),
    "topk_group": (q_topk_group, ORACLE_TOPK_GROUP),
    "set_union": (q_set_union, ORACLE_SET_UNION),
    "set_except": (q_set_except, ORACLE_SET_EXCEPT),
    "set_intersect": (q_set_intersect, ORACLE_SET_INTERSECT),
    "array_explode": (q_array_explode, ORACLE_ARRAY_EXPLODE),
    "str_fns": (q_str_fns, ORACLE_STR_FNS),
}


# --- hypertable-style multi-resolution time rollup ------------------------

def q_rollup_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate shape: daily AND hourly
    event rollups in one pass via GROUPING SETS over two date_trunc
    resolutions (one Expand + one shuffle — not two scans).  At scale
    this is the materialized-rollup build: partial aggregation happens
    map-side at the finest grain and the Expand only doubles the
    aggregate input, never the scan."""
    ev = _t(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        "value")
    ev.createOrReplaceTempView("rt_events")
    return spark.sql("""
        SELECT day, hour, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM rt_events
        GROUP BY GROUPING SETS ((day), (day, hour))
        ORDER BY day, hour NULLS FIRST
    """)


ORACLE_ROLLUP_TIME = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY GROUPING SETS ((CAST(date_trunc('day', ts) AS TIMESTAMP)),
                        (CAST(date_trunc('day', ts) AS TIMESTAMP),
                         CAST(date_trunc('hour', ts) AS TIMESTAMP)))
ORDER BY day, hour NULLS FIRST
"""


# --- time-range window frame (RANGE BETWEEN INTERVAL) ---------------------

def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling 1-hour sum — the RANGE (time-interval) frame,
    complementing window_frame's ROWS frame.  Ordered by epoch
    microseconds so the frame boundary is exact at µs resolution in
    both engines; peers (equal timestamps) are included identically.
    One shuffle on user_id; the running sum is a single in-partition
    sort + streaming frame scan."""
    ev = _t(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id")
         .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
         .rangeBetween(-3_600_000_000, 0))
    return (ev.select(
        "event_id", "user_id", "ts",
        F.sum(F.col("value").cast("decimal(18,2)")).over(w)
        .cast("double").alias("rolling_1h"))
        .orderBy("user_id", "ts", "event_id"))


ORACLE_WINDOW_RANGE_FRAME = """
SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
            PARTITION BY user_id ORDER BY epoch_us(ts)
            RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS rolling_1h
FROM events
ORDER BY user_id, ts, event_id
"""


RELATIONAL_CHECKS.update({
    "rollup_time": (q_rollup_time, ORACLE_ROLLUP_TIME),
    "window_range_frame": (q_window_range_frame, ORACLE_WINDOW_RANGE_FRAME),
})


# --- mergeable HLL sketches (incremental distinct) ------------------------

def q_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day HLL sketches unioned into a running distinct-user
    estimate — the mergeable-sketch pattern that replaces exact
    COUNT(DISTINCT) at 100 TB (per-partition sketches build map-side,
    merge is a tiny binary union; an incremental pipeline stores the
    per-day sketch and unions without rescanning history).

    Oracle-checkable form (round-9, the agg_count_distinct_approx
    recipe): the union ESTIMATE is engine-specific, so instead of
    exporting it the check consumes it in-plan — an exact global
    distinct count plus a boolean asserting the unioned estimate lands
    within 10% of it (default lgConfigK=12 → rsd ≈ 1.6%, so the band
    is ~6σ; sketches are deterministic for fixed data).  The
    sketch-build/union/estimate path still executes in full; the
    recall pytest additionally bounds the error at a tighter 5%."""
    ev = _t(spark, sf_dir, "events")
    daily = (ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
             .agg(F.hll_sketch_agg("user_id").alias("sketch"),
                  F.countDistinct("user_id").alias("exact_day")))
    exact = (ev.agg(F.countDistinct("user_id").cast("long")
                    .alias("exact_total_users")))
    merged = (daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch"))
        .cast("double").alias("__approx"),
        F.sum("exact_day").cast("long").alias("sum_daily_exact"),
        F.count("*").cast("long").alias("n_days")))
    return (merged.crossJoin(exact)
            .select("exact_total_users", "sum_daily_exact", "n_days",
                    (F.abs(F.col("__approx")
                           / F.col("exact_total_users").cast("double")
                           - F.lit(1.0)) <= 0.10)
                    .alias("union_within_tol")))


ORACLE_HLL_UNION = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS day,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_day
  FROM events GROUP BY day)
SELECT (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events)
         AS exact_total_users,
       CAST(SUM(exact_day) AS BIGINT) AS sum_daily_exact,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       true AS union_within_tol
FROM daily
"""


RELATIONAL_CHECKS.update({
    "hll_union": (q_hll_union, ORACLE_HLL_UNION),
})


# --- argmax/argmin aggregates (canonical-document pick) -------------------

def q_agg_maxby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative selection per group with max_by/min_by:
    for each document source, the longest doc (ties broken by smaller
    doc_id — the composite integer key is injective, so the pick is
    total-ordered and both engines agree).  The argmax is a single
    map-side-combining aggregate — no per-group sort, no window."""
    docs = _t(spark, sf_dir, "documents")
    big_key = F.col("n_chars") * F.lit(10_000_000) - F.col("doc_id")
    small_key = F.col("n_chars") * F.lit(10_000_000) + F.col("doc_id")
    return (docs.groupBy("source")
            .agg(F.max_by(F.col("doc_id"), big_key).alias("longest_doc"),
                 F.min_by(F.col("doc_id"), small_key).alias("shortest_doc"),
                 F.max("n_chars").alias("max_chars"))
            .orderBy("source"))


ORACLE_AGG_MAXBY = """
SELECT source,
       arg_max(doc_id, n_chars * 10000000 - doc_id) AS longest_doc,
       arg_min(doc_id, n_chars * 10000000 + doc_id) AS shortest_doc,
       MAX(n_chars) AS max_chars
FROM documents GROUP BY source ORDER BY source
"""


RELATIONAL_CHECKS.update({
    "agg_maxby": (q_agg_maxby, ORACLE_AGG_MAXBY),
})


# --- recursive CTE (Spark 4 native recursion) -----------------------------

def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native WITH RECURSIVE (Spark 4): minimum-hop reachability from one
    supplier over the bipartite supplier-part graph derived from
    lineitem.  Each recursion level is one planned join — Catalyst
    unrolls the fixpoint; the iterative label-propagation operator in
    operators/graph.py remains the scale path for deep/unbounded
    closures, this check covers the declarative surface.

    Round-7 remedy for the 23×-vs-oracle RATIOS gap (3.4-4.0 s →
    ~1.1-1.4 s at sf0.1):

    - the frontier side of each recursion level carries a BROADCAST
      hint — the level join used to SHUFFLE the 1.2 M-row edge list
      at session width PER LEVEL while the frontier is 1 → ~60 →
      ~1.5 k rows; broadcasting the frontier leaves the edge side a
      narrow column-pruned scan (the right plan at any scale while
      the frontier is hop-bounded; unbounded closures stay on the
      iterative operators/graph.py path);
    - no DISTINCT on the edge projection: the final GROUP BY node
      collapses path multiplicity anyway, and dropping it removes
      two full-width exchanges (supplier-part duplication in
      lineitem is ~1×, so the level fan-out is unchanged);
    - the whole query runs under a stats-pinned shuffle width with
      AQE off and is eagerly materialized INSIDE the pin (the
      pagerank remedy — Catalyst stages every recursion level, so an
      unpinned run pays session width × levels in fixed costs)."""
    from ..functions.layout import pinned_shuffle, plan_width

    li = _t(spark, sf_dir, "lineitem")
    edges = (li.select((F.col("l_suppkey") + 10_000_000).alias("src"),
                       F.col("l_partkey").alias("dst"))
             .unionByName(
                 li.select(F.col("l_partkey").alias("src"),
                           (F.col("l_suppkey") + 10_000_000).alias("dst"))))
    edges.createOrReplaceTempView("rc_edges_v")
    with pinned_shuffle(spark, plan_width(edges, floor=8)):
        return spark.sql("""
            WITH RECURSIVE reach(node, depth) AS (
              SELECT CAST(10000001 AS BIGINT) AS node, 0 AS depth
              UNION ALL
              SELECT /*+ BROADCAST(r) */ e.dst, r.depth + 1
              FROM reach r JOIN rc_edges_v e ON e.src = r.node
              WHERE r.depth < 2)
            SELECT node, CAST(MIN(depth) AS BIGINT) AS depth
            FROM reach GROUP BY node ORDER BY node""").localCheckpoint(
                eager=True)


ORACLE_RECURSIVE_CTE = """
WITH RECURSIVE pairs AS (
  SELECT DISTINCT l_suppkey + 10000000 AS s, l_partkey AS p FROM lineitem),
edges AS (SELECT s AS src, p AS dst FROM pairs
          UNION ALL SELECT p, s FROM pairs),
reach(node, depth) AS (
  SELECT CAST(10000001 AS BIGINT) AS node, 0 AS depth
  UNION ALL
  SELECT e.dst, r.depth + 1
  FROM reach r JOIN edges e ON e.src = r.node
  WHERE r.depth < 2)
SELECT node, CAST(MIN(depth) AS BIGINT) AS depth
FROM reach GROUP BY node ORDER BY node
"""


# --- VARIANT semi-structured type (Spark 4) -------------------------------

def q_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse_json → VARIANT → typed variant_get extraction + aggregate.
    VARIANT keeps the shredded binary form through the scan, so repeated
    path access avoids per-row string re-parsing (the get_json_object
    cost model)."""
    ev = _t(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.expr("variant_get(parse_json(props), '$.k', 'int')").alias("k"))
    return (v.groupBy("event_type")
            .agg(F.count("k").alias("n"),
                 F.sum("k").alias("sum_k"),
                 F.max("k").alias("max_k"))
            .orderBy("event_type"))


ORACLE_VARIANT_JSON = """
SELECT event_type,
       CAST(COUNT(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
         AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
         AS sum_k,
       MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
FROM events GROUP BY event_type ORDER BY event_type
"""


# --- UNPIVOT / melt -------------------------------------------------------

def q_unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt of three lineitem measures via the native unpivot
    operator (Generate-based — one pass, no self-union of the scan)."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 1000)
    return (li.select("l_orderkey", "l_linenumber",
                      F.col("l_quantity").cast("double").alias("quantity"),
                      F.col("l_extendedprice").cast("double")
                      .alias("extendedprice"),
                      F.col("l_discount").cast("double").alias("discount"))
            .unpivot(["l_orderkey", "l_linenumber"],
                     ["quantity", "extendedprice", "discount"],
                     "metric", "value")
            .orderBy("l_orderkey", "l_linenumber", "metric"))


ORACLE_UNPIVOT_MELT = """
WITH base AS (
  SELECT l_orderkey, l_linenumber,
         CAST(l_quantity AS DOUBLE) AS quantity,
         CAST(l_extendedprice AS DOUBLE) AS extendedprice,
         CAST(l_discount AS DOUBLE) AS discount
  FROM lineitem WHERE l_orderkey < 1000)
SELECT l_orderkey, l_linenumber, 'quantity' AS metric, quantity AS value
FROM base
UNION ALL
SELECT l_orderkey, l_linenumber, 'extendedprice', extendedprice FROM base
UNION ALL
SELECT l_orderkey, l_linenumber, 'discount', discount FROM base
ORDER BY l_orderkey, l_linenumber, metric
"""


RELATIONAL_CHECKS.update({
    "recursive_cte": (q_recursive_cte, ORACLE_RECURSIVE_CTE),
    "variant_json": (q_variant_json, ORACLE_VARIANT_JSON),
    "unpivot_melt": (q_unpivot_melt, ORACLE_UNPIVOT_MELT),
})


# --- SQL-defined functions (Spark 4 CREATE FUNCTION) ----------------------

def q_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar SQL UDF: the discounted-price expression factored into a
    catalog function.  Being SQL-defined, Catalyst INLINES the body into
    the plan — unlike Python UDFs there is no serialization boundary, so
    pushdown/codegen behave exactly as the hand-inlined expression (the
    oracle is that inlined form)."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("udf_lineitem_v")
    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION disc_price(
            p DECIMAL(12,2), d DECIMAL(12,2))
        RETURNS DECIMAL(25,4)
        RETURN p * (1 - d)""")
    return spark.sql("""
        SELECT l_returnflag,
               CAST(CAST(SUM(disc_price(l_extendedprice, l_discount))
                         AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM udf_lineitem_v
        WHERE l_shipdate <= DATE '1998-09-02'
        GROUP BY l_returnflag ORDER BY l_returnflag""")


ORACLE_SQL_UDF = """
SELECT l_returnflag,
       CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                          AS DECIMAL(25,4))) AS DECIMAL(38,4)) AS DOUBLE)
         AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_sql_tvf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL table function + correlated LATERAL: the chaintime
    epoch→slot-range expansion (functions/chaintime.py) expressed as a
    catalog TVF, applied per input row.  Catalyst plans the lateral as a
    Generate — no per-row re-invocation."""
    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION epoch_slots(e BIGINT)
        RETURNS TABLE(slot BIGINT)
        RETURN SELECT explode(sequence(e * 32, e * 32 + 31))""")
    _t(spark, sf_dir, "events").createOrReplaceTempView("tvf_events_v")
    return spark.sql("""
        WITH epochs AS (
          SELECT DISTINCT CAST(event_id % 50 AS BIGINT) AS e
          FROM tvf_events_v WHERE event_id < 500)
        SELECT ep.e, CAST(COUNT(*) AS BIGINT) AS n_slots,
               MIN(s.slot) AS lo_slot, MAX(s.slot) AS hi_slot
        FROM epochs ep, LATERAL epoch_slots(ep.e) s
        GROUP BY ep.e ORDER BY ep.e""")


ORACLE_SQL_TVF = """
WITH epochs AS (
  SELECT DISTINCT CAST(event_id % 50 AS BIGINT) AS e
  FROM events WHERE event_id < 500),
ex AS (
  SELECT e, UNNEST(range(e * 32, e * 32 + 32)) AS slot FROM epochs)
SELECT e, CAST(COUNT(*) AS BIGINT) AS n_slots,
       CAST(MIN(slot) AS BIGINT) AS lo_slot,
       CAST(MAX(slot) AS BIGINT) AS hi_slot
FROM ex GROUP BY e ORDER BY e
"""


RELATIONAL_CHECKS.update({
    "sql_udf": (q_sql_udf, ORACLE_SQL_UDF),
    "sql_tvf": (q_sql_tvf, ORACLE_SQL_TVF),
})


# --- GROUP BY ALL / ORDER BY ALL (analyst-SQL surface) --------------------

def q_sql_groupby_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's GROUP BY ALL / ORDER BY ALL sugar: every non-aggregate
    select item becomes a grouping key, the sort covers the whole select
    list — the analyst-facing shorthand both engines resolve to the
    identical explicit plan (which is the oracle)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("gba_orders_v")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n,
               CAST(SUM(FLOOR(o_totalprice * 100)) AS BIGINT)
                 AS cents
        FROM gba_orders_v
        GROUP BY ALL
        ORDER BY ALL
    """)


ORACLE_SQL_GROUPBY_ALL = """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
FROM orders
GROUP BY o_orderstatus, o_orderpriority
ORDER BY o_orderstatus, o_orderpriority, n, cents
"""


RELATIONAL_CHECKS.update({
    "sql_groupby_all": (q_sql_groupby_all, ORACLE_SQL_GROUPBY_ALL),
})
