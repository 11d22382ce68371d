"""Unified check-query registry — the driver contract's backing store.

Each entry: name → (spark_callable(spark, sf_dir) -> DataFrame,
oracle_sql | None).  ``oracle_sql=None`` marks genuinely
non-SQL-expressible operators (MLlib LSH, streaming) — the driver records
a weaker rows-only check for those.
"""

from __future__ import annotations

from .checks_curation import CURATION_CHECKS
from .checks_extension import EXTENSION_CHECKS
from .checks_reference import REFERENCE_CHECKS
from .checks_relational import RELATIONAL_CHECKS
from .checks_tpch import TPCH_CHECKS

__all__ = ["all_checks", "spark_queries", "oracle_sqls", "ensure_all"]


def all_checks() -> dict[str, tuple]:
    # No import guards: if an extension module fails to import, the whole
    # contract must crash loudly — a silently shrunk queries() once cost a
    # round of driver correctness rows for 18 checks.
    out: dict[str, tuple] = {}
    out.update(REFERENCE_CHECKS)
    out.update(RELATIONAL_CHECKS)
    out.update(TPCH_CHECKS)
    out.update(EXTENSION_CHECKS)
    out.update(CURATION_CHECKS)
    return out


def spark_queries():
    return {name: fn for name, (fn, _sql) in all_checks().items()}


def oracle_sqls() -> dict[str, str]:
    return {name: sql for name, (_fn, sql) in all_checks().items()
            if sql is not None}


def ensure_all(spark, sf_dir: str) -> list[str]:
    """Materialize every staged fixture the checks read for ``sf_dir``:
    stream sources, served index artifacts and staged files in other
    formats.  Each ``ensure_*`` builds its fixture once per ``sf_dir``
    through ``sources.testdata.fixture_dir``, so callers run this once
    before timing checks and keep one-off fixture writes out of the
    timed window.  A failing fixture does not stop the
    others; the result holds one ``"<fixture>: <first error line>"``
    per failure."""
    from .checks_extension import (
        ensure_dedup_stream_source, ensure_ivf_append_index,
        ensure_ivf_compact_index, ensure_ivf_index, ensure_pq_index,
        ensure_sessionize_source, ensure_stream_join_outer_source)
    from .checks_reference import (
        ensure_avro_staged, ensure_csv_staged, ensure_evolved_staged,
        ensure_ndjson_staged, ensure_orc_staged, ensure_overwrite_sink,
        ensure_partition_staged, ensure_xml_staged)

    errors = []
    for fix in (ensure_sessionize_source, ensure_stream_join_outer_source,
                ensure_dedup_stream_source, ensure_pq_index,
                ensure_ivf_index, ensure_ivf_append_index,
                ensure_ivf_compact_index, ensure_ndjson_staged,
                ensure_csv_staged, ensure_orc_staged, ensure_evolved_staged,
                ensure_partition_staged, ensure_overwrite_sink,
                ensure_xml_staged, ensure_avro_staged):
        try:
            fix(spark, sf_dir)
        except Exception as ex:  # noqa: BLE001 — reported to the caller
            errors.append(f"{fix.__name__}: "
                          f"{(str(ex).splitlines() or [''])[0][:120]}")
    return errors
