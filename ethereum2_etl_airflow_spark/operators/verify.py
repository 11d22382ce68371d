"""Verify stage: post-load SQL data-quality invariants.

Spark port of the reference's verify queries
(`dags/ethereum2etl_resources/stages/verify/sqls/*.sql`, wired at
`build_load_dag.py:109-132`).  The reference encodes *fail-as-error* by
casting an error-message string to INT64 when the invariant is false —
a workaround because ``BigQueryCheckOperator`` couldn't run Standard SQL
(comment at `build_load_dag.py:110-112`).  The Spark-idiomatic equivalent
is ``raise_error()`` inside the false branch — no ANSI-mode blast radius
(SURVEY §7.4.6); ``ansi_cast=True`` reproduces the CAST trick verbatim for
parity testing (requires ``spark.sql.ansi.enabled=true``).

The four invariants (SQL authored here; semantics per SURVEY §5):

- ``blocks_count``      — gapless slots: MAX(block_slot)+1 = COUNT(*)
  cumulative to ds (slots are dense 0-based incl. ``skipped`` placeholder
  rows) — `verify/sqls/blocks_count.sql:1-11`.
- ``blocks_have_latest``— freshness: ≥1 block dated ds —
  `verify/sqls/blocks_have_latest.sql:1-6`.
- ``committees_count``  — gapless epochs: MAX(epoch)+1 = COUNT(DISTINCT
  epoch) — `verify/sqls/committees_count.sql:1-11`.
- ``validators_count``  — same invariant for validators (present but
  unwired in the reference, `build_hourly_load_dag.py:153-154`).  It is
  not wired into the daily DAG here either: a daily ``only_last_date``
  snapshot holds one epoch, so it can only pass at epoch 0.

Each check is one ungrouped aggregate over its table
(``SELECT IF(<aggregate condition>, 1, <error>) FROM t WHERE …``): one
scan, where comparing two scalar subqueries would scan twice and cost a
Spark job more.  Queries filter on the materialized ``block_date``
partition column (not ``DATE(ts)``) so Catalyst partition-prunes the scan
— at 100 TB the check touches only partitions ≤ ds (SURVEY §4 R1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

__all__ = ["CHECKS", "render_check", "run_check", "run_all_checks"]


def _guard(cond_sql: str, table: str, where: str, message: str,
           ansi_cast: bool) -> str:
    """IF(invariant, 1, <error>) — P3/P5 projection shape
    (`blocks_count.sql:1-11`) — over one aggregate scan of ``table``.

    ``cond_sql`` is an aggregate condition.  On an empty range ``MAX`` is
    NULL, the comparison is NULL (not true), and the error branch fires
    as in the reference."""
    if ansi_cast:
        err = f"CAST('{message}' AS BIGINT)"  # errors only under ANSI mode
    else:
        err = f"raise_error('{message}')"
    return f"SELECT IF({cond_sql}, 1, {err}) AS ok FROM {table} WHERE {where}"


def _checks(table_prefix: str, ds: str, ansi_cast: bool) -> dict[str, str]:
    b = f"{table_prefix}beacon_blocks"
    c = f"{table_prefix}beacon_committees"
    v = f"{table_prefix}beacon_validators"
    upto = f"block_date <= DATE'{ds}'"
    return {
        # gapless slots cumulative to ds (blocks_count.sql:1-11)
        "blocks_count": _guard(
            "MAX(block_slot) + 1 = COUNT(*)", b, upto,
            f"Total number of blocks is not equal to last slot number as of {ds}",
            ansi_cast,
        ),
        # freshness (blocks_have_latest.sql:1-6)
        "blocks_have_latest": _guard(
            "COUNT(*) > 0", b, f"block_date = DATE'{ds}'",
            f"There are no blocks on {ds}",
            ansi_cast,
        ),
        # gapless epochs (committees_count.sql:1-11)
        "committees_count": _guard(
            "MAX(epoch) + 1 = COUNT(DISTINCT epoch)", c, upto,
            f"Epoch count mismatch in committees as of {ds}",
            ansi_cast,
        ),
        # validators_count.sql:1-11 (unwired in the reference and in the
        # daily DAG here)
        "validators_count": _guard(
            "MAX(epoch) + 1 = COUNT(DISTINCT epoch)", v, upto,
            f"Epoch count mismatch in validators as of {ds}",
            ansi_cast,
        ),
    }


CHECKS = ("blocks_count", "blocks_have_latest", "committees_count", "validators_count")


def render_check(name: str, ds: str, table_prefix: str = "",
                 ansi_cast: bool = False) -> str:
    """Render one check's SQL for execution date ``ds`` (Airflow ``{{ds}}``
    templating, `build_load_dag.py:113-120`, done as plain parameters)."""
    return _checks(table_prefix, ds, ansi_cast)[name]


def run_check(spark: SparkSession, name: str, ds: str,
              table_prefix: str = "", ansi_cast: bool = False) -> DataFrame:
    """Execute one verify query; raises on violated invariant (the Spark
    analog of a failed BigQuery job failing the Airflow task)."""
    df = spark.sql(render_check(name, ds, table_prefix, ansi_cast))
    df.collect()  # force evaluation so the raise_error fires here
    return df


def run_all_checks(spark: SparkSession, ds: str, table_prefix: str = "") -> None:
    """Daily-load verify chain (`build_load_dag.py:126-132`) + the
    validators check the DAGs leave unwired."""
    for name in CHECKS:
        run_check(spark, name, ds, table_prefix)
