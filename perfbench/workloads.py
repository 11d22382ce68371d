"""The three benchmark workloads.

Each workload is a closed loop driven by one client: the next op starts
when the previous one returns.  A workload provides

- ``prepare(spark, root, seed)``: generate and stage its inputs under
  ``root`` (the ``sources`` layer's share of set-up);
- ``ops``: the op order of every pass, the same for every seed, and
  ``pass_s``, the nominal seconds of a warm pass on a 4-core box, which
  sets how many passes ``--seconds`` buys;
- ``run(spark, op, spans, collect)``: one op, with a child span around
  each layer call; with ``collect`` the op's output comes back for the
  correctness check;
- ``check(spark, outputs)``: the list of wrong outputs (run outside any
  timed region);
- ``cleanup()``: remove what the package wrote outside the run directory;
- ``rows_per_pass(cold)`` / ``stored_bytes_per_row(cold)``: rows a pass
  moves and bytes stored per row, from the workload's own inputs or from
  the Spark counters of its cold pass.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession, functions as F

# Every third TPC-H check from q1, and four of the eight curation checks
# named for this workload: the full lists do not fit the run budget
# (perfbench/NOTES.md).
TPCH = ["q1_pricing", "q4_priority", "q7_volume", "q10_returns",
        "q13_custdist", "q16_partsupp", "q19_disjunct", "q22_global"]
TPCH_TABLES = ("region", "nation", "supplier", "customer", "part", "orders",
               "lineitem")

CURATION = ["pipeline_pretrain", "dedup_clusters", "triangle_count",
            "sessionize_stream"]
CURATION_TABLES = ("documents", "events", "lineitem")

BEACON = {"beacon_blocks": "block_timestamp",
          "beacon_committees": "epoch_timestamp",
          "beacon_validators": "timestamp"}
VERIFY = ("blocks_count", "blocks_have_latest", "committees_count")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class _Checks:
    """Registry checks ``queries()[name](spark, sf_dir)`` over generated
    testdata-shaped tables, compared once per run against their DuckDB
    oracles with the parity tool's ``normalize``."""

    ops: list[str] = []
    tables: tuple[str, ...] = ()
    sf = 0.01

    def __init__(self) -> None:
        #: paths the package wrote outside the run directory
        self.outside: list[str] = []

    def prepare(self, spark: SparkSession, root: str, seed: int) -> None:
        from datagen import write_tables
        from ethereum2_etl_airflow_spark.plans.registry import all_checks

        self.sf_dir = os.path.join(root, "sf")
        self.rows = write_tables(self.sf_dir, self.sf, seed, self.tables)
        checks = all_checks()
        self.queries = {n: checks[n][0] for n in self.ops}
        self.oracles = {n: checks[n][1] for n in self.ops}

    def cleanup(self) -> None:
        for path in self.outside:
            shutil.rmtree(path, ignore_errors=True)
        self.outside.clear()

    def run(self, spark: SparkSession, op: str, spans, collect: bool):
        with spans.child("plans.build"):
            df = self.queries[op](spark, self.sf_dir)
        with spans.child("exec"):
            if collect:
                return df.toPandas()
            _noop(df)
        return None

    def rows_per_pass(self, cold: dict) -> float:
        return cold["input_records"]

    def stored_bytes_per_row(self, cold: dict) -> float:
        """Bytes scanned from storage per input row read."""
        return cold["input_bytes"] / max(cold["input_records"], 1)

    def check(self, spark: SparkSession, outputs: dict) -> list[str]:
        import duckdb
        from tools.parity import normalize

        con = duckdb.connect()
        con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
        for t in self.rows:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.sf_dir}/{t}.parquet'")
        wrong = []
        for name, got in outputs.items():
            sql = self.oracles[name]
            if sql is None:  # rows-only check: must produce rows
                if len(got) == 0:
                    wrong.append(f"{name}: no rows")
                continue
            if normalize(got) != normalize(con.execute(sql).fetchdf()):
                wrong.append(f"{name}: differs from its DuckDB oracle")
        con.close()
        return wrong


class SqlAnalytics(_Checks):
    """TPC-H checks to the noop sink: pure Catalyst planning, joins, AQE
    and shuffles; no Python workers, eager jobs or writes."""

    ops = TPCH
    tables = TPCH_TABLES
    sf = 0.01
    pass_s = 5.0


class CurationJobs(_Checks):
    """Extension-operator checks whose builders submit eager jobs, loop
    on the driver, checkpoint, call Python UDFs or run micro-batches."""

    ops = CURATION
    tables = CURATION_TABLES
    sf = 0.003
    pass_s = 12.0

    def prepare(self, spark: SparkSession, root: str, seed: int) -> None:
        super().prepare(spark, root, seed)
        from ethereum2_etl_airflow_spark.plans import checks_extension as cx

        # Stage the sessionize stream source here, outside the timed
        # passes; the package writes it under /tmp, keyed by sf_dir.
        self.outside.append(cx.ensure_sessionize_source(spark, self.sf_dir))


class EtlTick:
    """The daily load-DAG tick for one date ``ds``: schema-enforced NDJSON
    load of that date's blocks and committees (dynamic partition
    overwrite), the validators snapshot reload (``only_last_date``), the
    ``compute_meta`` table, then the wired verify invariants as of ``ds``
    over the cumulative history."""

    days = 3
    # The fixtures build 4 committees per epoch, 1/512 of mainnet's 2048
    # (64 per slot x 32 slots); the snapshot is scaled by the same 1/512
    # from about 2**20 mainnet validators (the 2024 count).  Blocks are at
    # full mainnet cadence, so they weigh more in a tick than on mainnet.
    n_validators = 2048
    pass_s = 6.0

    def prepare(self, spark: SparkSession, root: str, seed: int) -> None:
        from datagen import stage_beacon_chain

        self.root = root
        self.wh = os.path.join(root, "warehouse")
        chain = stage_beacon_chain(root, self.days, self.n_validators, seed)
        self.dates, self.counts = chain["dates"], chain["counts"]

    @property
    def ops(self) -> list[str]:
        # chronological: verify as of ds needs every earlier date loaded
        return self.dates

    def rows_per_pass(self, cold: dict) -> float:
        """Rows written per pass: each date's blocks and committees plus
        the validator snapshot once per tick."""
        return sum(c["beacon_blocks"] + c["beacon_committees"] + self.n_validators
                   for c in self.counts.values())

    def run(self, spark: SparkSession, ds: str, spans, collect: bool):
        from ethereum2_etl_airflow_spark.operators.load import (
            compute_meta, load_table, write_partitioned)
        from ethereum2_etl_airflow_spark.operators.verify import run_check
        from ethereum2_etl_airflow_spark.sources.ndjson import (
            read_ndjson, staging_path)
        from ethereum2_etl_airflow_spark.sources.schemas import beacon_schema

        for table in ("beacon_blocks", "beacon_committees"):
            with spans.child(f"load.{table}"):
                df = read_ndjson(spark, staging_path(self.root, table, ds),
                                 beacon_schema(table))
                out = load_table(spark, df, f"{self.wh}/{table}", BEACON[table])
            if table == "beacon_blocks":
                with spans.child("load.blocks_meta"):
                    write_partitioned(compute_meta(out, "block_slot"),
                                      f"{self.wh}/blocks_meta")
        with spans.child("load.beacon_validators"):
            df = read_ndjson(
                spark, staging_path(self.root, "beacon_validators") + "/*/*.json",
                beacon_schema("beacon_validators"))
            load_table(spark, df, f"{self.wh}/beacon_validators",
                       BEACON["beacon_validators"], only_last_date=True)
        for table in BEACON:
            spark.read.parquet(f"{self.wh}/{table}").createOrReplaceTempView(table)
        # validators_count is left out: it raises on every only_last_date
        # snapshot whose epoch is above 0 (see perfbench/NOTES.md)
        for name in VERIFY:
            with spans.child(f"verify.{name}"):
                run_check(spark, name, ds)
        return None

    def check(self, spark: SparkSession, outputs: dict) -> list[str]:
        """Loaded rows per table and date equal the generated rows."""
        wrong = []
        for table in ("beacon_blocks", "beacon_committees"):
            got = {str(r["block_date"]): r["n"] for r in
                   spark.read.parquet(f"{self.wh}/{table}")
                   .groupBy("block_date").agg(F.count("*").alias("n")).collect()}
            want = {d: c[table] for d, c in self.counts.items()}
            if got != want:
                wrong.append(f"{table}: loaded {got} != generated {want}")
        n = spark.read.parquet(f"{self.wh}/beacon_validators").count()
        if n != self.n_validators:
            wrong.append(f"beacon_validators: {n} != {self.n_validators}")
        return wrong

    def cleanup(self) -> None:
        """The tick writes nothing outside the run directory."""

    def stored_bytes_per_row(self, cold: dict) -> float:
        """Warehouse parquet bytes on disk per row held."""
        size = sum(os.path.getsize(os.path.join(d, f))
                   for t in BEACON
                   for d, _, fs in os.walk(os.path.join(self.wh, t))
                   for f in fs if f.endswith(".parquet"))
        rows = (sum(c["beacon_blocks"] + c["beacon_committees"]
                    for c in self.counts.values()) + self.n_validators)
        return size / rows


WORKLOADS = {"etl_tick": EtlTick, "sql_analytics": SqlAnalytics,
             "curation_jobs": CurationJobs}
