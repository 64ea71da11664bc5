"""Seeded input generators. Only numpy and pyarrow run here: no package
code touches the inputs before the benchmark hands them over.

* :func:`write_batch_tables` writes a seeded stand-in for the 0.1 scale
  factor tables: the TPC-H-like star schema plus ``events``, ``documents``
  and ``embeddings``, one parquet file per table, with that scale's row
  counts and the column types of FIXTURES.md §3 (dates in milliseconds,
  ``events.ts`` in nanoseconds). The values are the benchmark's own.
* :func:`write_event_log` writes a Delta table of event commits by hand:
  version 0 holds ``protocol`` and ``metaData``, each later version one
  ``add`` of one parquet file.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: row counts of the 0.1 scale factor
BATCH_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
_WORDS = (
    "a the data spark stream batch table row column key value query join "
    "group sort filter scan hash window order part line customer vector "
    "merge agg fast slow big small"
).split()
_DAY_US = 86_400 * 1_000_000


def _us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def _cents(rng, lo: int, hi: int, n: int) -> np.ndarray:
    return rng.integers(lo, hi, n) / 100.0


def _ts(us: np.ndarray, unit: str = "us", tz=None) -> pa.Array:
    """A timestamp column in ``unit`` from microseconds since the epoch."""
    us = us.astype(np.int64)
    vals = us // 1000 if unit == "ms" else us * 1000 if unit == "ns" else us
    return pa.array(vals, type=pa.timestamp(unit, tz=tz))


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def _documents(rng, n: int):
    lengths = rng.integers(10, 80, n)
    texts = []
    for i in range(n):
        if i >= 50 and rng.random() < 0.1:
            # near duplicate of an earlier document: one word replaced, so
            # the MinHash pair query has real candidates to verify
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = [_WORDS[j] for j in rng.integers(0, len(_WORDS), lengths[i])]
        texts.append(" ".join(words))
    langs = np.where(rng.random(n) < 0.9, "en", rng.choice(["de", "fr", "es"], n))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def write_batch_tables(out_dir: str, seed: int) -> dict:
    """Write the headline tables under ``out_dir``; returns row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    r = BATCH_ROWS
    p = lambda name: os.path.join(out_dir, f"{name}.parquet")  # noqa: E731

    _write(p("region"), {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(_REGIONS),
    })
    _write(p("nation"), {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    n = r["customer"]
    _write(p("customer"), {
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(_cents(rng, -99_999, 999_999, n)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n)),
    })
    n = r["supplier"]
    _write(p("supplier"), {
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": pa.array(_cents(rng, -99_999, 999_999, n)),
    })
    n = r["part"]
    _write(p("part"), {
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": pa.array([" ".join(w) for w in rng.choice(_WORDS, (n, 3))]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(11, 56, n)]),
        "p_type": pa.array(rng.choice(_SEGMENTS, n)),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(_cents(rng, 90_000, 210_000, n)),
    })
    n = r["orders"]
    odate = _us("1995-01-01") + rng.integers(0, 2404, n) * _DAY_US
    _write(p("orders"), {
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, r["customer"], n)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
        "o_totalprice": pa.array(_cents(rng, 100_000, 50_000_000, n)),
        "o_orderdate": _ts(odate, "ms"),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n)),
    })
    n = r["lineitem"]
    okey = rng.integers(0, r["orders"], n)
    _write(p("lineitem"), {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, r["part"], n)),
        "l_suppkey": pa.array(rng.integers(0, r["supplier"], n)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_cents(rng, 90_000, 10_500_000, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": _ts(odate[okey] + rng.integers(1, 122, n) * _DAY_US, "ms"),
    })
    n = r["events"]
    _write(p("events"), {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(np.sort(_us("2024-01-01") + rng.integers(0, 30 * _DAY_US, n)), "ns"),
        "user_id": pa.array(rng.integers(0, 1_500, n)),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n)),
        "value": pa.array(_cents(rng, 0, 50_000, n)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    _write(p("documents"), _documents(rng, r["documents"]))
    n = r["embeddings"]
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.35, (n, 64))).astype(np.float32)
    _write(p("embeddings"), {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return {name: n for name, n in r.items()} | {"region": 5, "nation": 25}


# -- streaming inputs ---------------------------------------------------------

#: Spark schema of the event log, as the Delta ``metaData`` carries it
EVENT_FIELDS = [
    ("event_id", "long"),
    ("ts", "timestamp"),
    ("user_id", "long"),
    ("event_type", "string"),
    ("value", "double"),
]


@dataclass(frozen=True)
class EventLogShape:
    """One streaming input: ``versions`` commits of ``rows_per_version``
    events. Event time advances ``seconds_per_version`` per commit; each
    event is moved back by up to ``jitter_s`` (out of order within and
    across commits, always by less than the consumer's watermark delay).
    User ids are Zipf(``zipf_a``)-skewed over ``users`` keys."""

    versions: int
    rows_per_version: int
    users: int
    zipf_a: float
    seconds_per_version: float
    jitter_s: float

    @property
    def rows(self) -> int:
        return self.versions * self.rows_per_version


def _commit(log_dir: str, version: int, actions: list) -> None:
    with open(os.path.join(log_dir, f"{version:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a, separators=(",", ":")) + "\n")


def write_event_log(table_dir: str, shape: EventLogShape, seed: int) -> None:
    rng = np.random.default_rng(seed)
    log_dir = os.path.join(table_dir, "_delta_log")
    os.makedirs(log_dir)
    schema = {
        "type": "struct",
        "fields": [
            {"name": n, "type": t, "nullable": True, "metadata": {}}
            for n, t in EVENT_FIELDS
        ],
    }
    _commit(log_dir, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {
            "id": f"perfbench-{seed}",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema, separators=(",", ":")),
            "partitionColumns": [],
            "configuration": {},
            "createdTime": 0,
        }},
    ])
    n = shape.rows_per_version
    step_us = shape.seconds_per_version * 1e6 / n
    t0 = _us("2024-01-01")
    for v in range(1, shape.versions + 1):
        first = (v - 1) * n
        base = t0 + ((first + np.arange(n)) * step_us).astype(np.int64)
        ts = base - rng.integers(0, int(shape.jitter_s * 1e6), n)
        order = rng.permutation(n)
        users = (rng.zipf(shape.zipf_a, n) - 1) % shape.users
        name = f"part-{v:05d}.parquet"
        path = os.path.join(table_dir, name)
        pq.write_table(pa.table({
            "event_id": pa.array(first + np.arange(n, dtype=np.int64)[order]),
            "ts": _ts(ts[order], tz="UTC"),
            "user_id": pa.array(users.astype(np.int64)),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, n)),
            "value": pa.array(rng.integers(1, 1000, n).astype(np.float64)),
        }), path)
        _commit(log_dir, v, [{"add": {
            "path": name,
            "partitionValues": {},
            "size": os.path.getsize(path),
            "modificationTime": 0,
            "dataChange": True,
        }}])
