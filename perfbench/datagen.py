"""Seeded input generators for the benchmark workloads.

Everything the program reads is written here from ``--seed``; the same
seed gives byte-identical inputs.  Two families:

- ``write_tables``: the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings`` as one parquet file per table, with the
  column names, types and value domains the registry's checks and their
  DuckDB oracles expect (``sources.testdata.TABLES``).  Sizes scale with
  ``sf`` like the reference test data (lineitem = 6M x sf rows); the seed
  changes values, never row counts, so seeds are comparable runs.
- ``stage_beacon_chain``: a D-day beacon chain at mainnet cadence (7200
  slots and 225 epochs per UTC day) built from ``sources.fixtures`` row
  builders and staged as NDJSON in the export layout
  ``export/{table}/block_date=YYYY-MM-DD/{table}.json`` by
  ``sources.fixtures.write_staging_ndjson``.  The seed picks the genesis
  day.

The value domains, the documents' text (31-word vocabulary, 10-99 words,
5% planted near-duplicates ending in " dup") and the row counts per
``sf`` were compared with the reference test data at sf 0.001, 0.01 and
0.1; ``perfbench/NOTES.md`` lists what differs.
"""

from __future__ import annotations

import os
import types
from datetime import date, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PADJ = ["small", "large", "red", "blue", "hot", "old", "new", "green"]
_PNOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "gizmo", "pipe"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _days(rng, start: date, end: date, n: int) -> np.ndarray:
    """``n`` random midnights in [start, end] as datetime64[us]."""
    span = (end - start).days
    d = rng.integers(0, span + 1, n)
    return (np.datetime64(start.isoformat(), "D") + d).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _docs(rng, n: int) -> dict:
    texts: list[str] = []
    for _ in range(n):
        if texts and rng.random() < 0.05:
            # planted near-duplicate: an earlier text plus a marker token
            texts.append(texts[rng.integers(0, len(texts))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), k)))
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, n, _LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(size=(10, dim))
    v = centers[labels] + 1.5 * rng.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), dim).cast(
        pa.list_(pa.float32()))
    return pa.table({"vec_id": np.arange(n, dtype=np.int64),
                     "embedding": emb, "label": labels})


def _events(rng, n: int, n_users: int) -> dict:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 24 * 3600 * 10**6
    ts = start + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": _pick(rng, _EVENT_TYPES, n),
        "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "region": 5, "nation": 25,
        "supplier": max(10, int(10_000 * sf)),
        "customer": max(150, int(150_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1500, int(1_500_000 * sf)),
        "lineitem": max(6000, int(6_000_000 * sf)),
        "events": max(1000, int(1_000_000 * sf)),
        "documents": max(100, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def write_tables(out_dir: str, sf: float, seed: int,
                 tables: tuple[str, ...] | None = None) -> dict[str, int]:
    """Write the testdata-shaped tables to ``out_dir/{name}.parquet``;
    returns name -> row count.  Each table draws from its own seeded
    stream, so a subset writes the same bytes as the full set."""
    os.makedirs(out_dir, exist_ok=True)
    n = table_sizes(sf)
    names = tables or tuple(n)

    def rng(name: str):
        return np.random.default_rng([seed, sorted(n).index(name)])

    def build(name: str) -> pa.Table:
        r = rng(name)
        k = n[name]
        ids = np.arange(k, dtype=np.int64)
        if name == "region":
            return pa.table({"r_regionkey": np.arange(5, dtype=np.int32),
                             "r_name": _REGIONS})
        if name == "nation":
            keys = np.arange(25, dtype=np.int32)
            return pa.table({"n_nationkey": keys,
                             "n_name": [f"NATION_{i}" for i in keys],
                             "n_regionkey": keys % 5})
        if name == "supplier":
            return pa.table({"s_suppkey": ids,
                             "s_name": [f"Supplier#{i:09d}" for i in ids],
                             "s_nationkey": r.integers(0, 25, k).astype(np.int32),
                             "s_acctbal": _money(r, -999.99, 9999.99, k)})
        if name == "customer":
            return pa.table({"c_custkey": ids,
                             "c_name": [f"Customer#{i:09d}" for i in ids],
                             "c_nationkey": r.integers(0, 25, k).astype(np.int32),
                             "c_acctbal": _money(r, -999.99, 9999.99, k),
                             "c_mktsegment": _pick(r, _SEGMENTS, k)})
        if name == "part":
            names_ = [f"{a} {b}" for a in _PADJ for b in _PNOUN]
            return pa.table({"p_partkey": ids,
                             "p_name": _pick(r, names_, k),
                             "p_brand": _pick(r, [f"Brand#{i}" for i in range(1, 26)], k),
                             "p_type": _pick(r, _PTYPES, k),
                             "p_size": r.integers(1, 51, k).astype(np.int32),
                             "p_retailprice": 900.0 + (ids % 1000) / 10.0})
        if name == "orders":
            return pa.table({"o_orderkey": ids,
                             "o_custkey": r.integers(0, n["customer"], k),
                             "o_orderstatus": _pick(r, ["F", "O", "P"], k),
                             "o_totalprice": _money(r, 1000.0, 500_000.0, k),
                             "o_orderdate": _days(r, date(1995, 1, 1), date(2001, 8, 1), k),
                             "o_orderpriority": _pick(r, _PRIORITIES, k)})
        if name == "lineitem":
            return pa.table({"l_orderkey": r.integers(0, n["orders"], k),
                             "l_partkey": r.integers(0, n["part"], k),
                             "l_suppkey": r.integers(0, n["supplier"], k),
                             "l_linenumber": r.integers(1, 8, k).astype(np.int32),
                             "l_quantity": r.integers(1, 51, k).astype(np.float64),
                             "l_extendedprice": _money(r, 900.0, 105_000.0, k),
                             "l_discount": r.integers(0, 11, k) / 100.0,
                             "l_tax": r.integers(0, 9, k) / 100.0,
                             "l_returnflag": _pick(r, ["A", "N", "R"], k),
                             "l_linestatus": _pick(r, ["F", "O"], k),
                             "l_shipdate": _days(r, date(1995, 1, 2), date(2001, 11, 4), k)})
        if name == "events":
            return pa.table(_events(r, k, max(50, int(15_000 * sf))))
        if name == "documents":
            return pa.table(_docs(r, k))
        if name == "embeddings":
            return _embeddings(r, k)
        raise ValueError(f"unknown table {name!r}")

    rows = {}
    for name in names:
        t = build(name)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows


# --- beacon chain -----------------------------------------------------------

SLOTS_PER_DAY = 7200
EPOCHS_PER_DAY = 225


class _Row(dict):
    def asDict(self, recursive: bool = False) -> dict:
        return self


def _stage(root: str, table: str, ts_col: str, rows: list[dict]) -> None:
    """Stage plain row dicts with the package's own NDJSON writer, which
    reads only ``df.collect()`` and ``row.asDict()``: no Spark job."""
    from ethereum2_etl_airflow_spark.sources.fixtures import write_staging_ndjson

    df = types.SimpleNamespace(collect=lambda: [_Row(r) for r in rows])
    write_staging_ndjson(df, root, table, ts_col)


def genesis_for_seed(seed: int) -> int:
    """UTC midnight of a seed-chosen 2024 day, so each chain day holds
    exactly 7200 slots."""
    d = date(2024, 1, 1) + timedelta(days=seed % 300)
    return (d - date(1970, 1, 1)).days * 86400


def stage_beacon_chain(root: str, days: int, n_validators: int,
                       seed: int) -> dict:
    """Stage ``days`` days of blocks and committees plus one validator
    snapshot per day (taken at the day's last epoch).  Returns the dates
    and the per-date staged row counts."""
    from ethereum2_etl_airflow_spark.sources.fixtures import (
        block_row, committee_rows, validator_row)

    genesis = genesis_for_seed(seed)
    dates, counts = [], {}
    for d in range(days):
        day = (date(1970, 1, 1) + timedelta(seconds=genesis) + timedelta(days=d)).isoformat()
        blocks = [block_row(s, genesis)
                  for s in range(d * SLOTS_PER_DAY, (d + 1) * SLOTS_PER_DAY)]
        committees = [r for e in range(d * EPOCHS_PER_DAY, (d + 1) * EPOCHS_PER_DAY)
                      for r in committee_rows(e, genesis)]
        last_epoch = (d + 1) * EPOCHS_PER_DAY - 1
        validators = [validator_row(i, last_epoch, genesis)
                      for i in range(n_validators)]
        _stage(root, "beacon_blocks", "block_timestamp", blocks)
        _stage(root, "beacon_committees", "epoch_timestamp", committees)
        _stage(root, "beacon_validators", "timestamp", validators)
        dates.append(day)
        counts[day] = {"beacon_blocks": len(blocks),
                       "beacon_committees": len(committees),
                       "beacon_validators": len(validators)}
    return {"dates": dates, "counts": counts, "genesis": genesis}
