"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: it draws from one
``numpy.random.Generator`` and writes parquet through pyarrow, so one
seed gives byte-identical files and another seed gives different ones
(``perfbench/tests/test_gen.py``).  The program under test only ever sees
the files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

AGG_APP = "bench"
AGG_TYPE = "acct"
AGG_FULL = f"{AGG_APP}-{AGG_TYPE}"

# the aggregate part under test: put is validated (a negative value is
# rejected to a reply), bump runs a reducer pipeline, patch is built in
AGG_COMMANDS_SPEC = {
    "put": {"validator": {"conditions": [{"value": {"$gte": 0}}]}},
    "bump": {"reducer": [{"$replaceWith": {"$mergeObjects": [
        "$state",
        {"value": {"$add": [{"$ifNull": ["$state.value", 0]},
                            "$command.delta"]}},
    ]}}]},
}

AGG_SPEC = {
    "application": AGG_APP,
    "parts": [{"type": "aggregate", "aggregateType": AGG_TYPE,
               "orderBy": "seq_in", "commands": AGG_COMMANDS_SPEC}],
}

COMMAND_SCHEMA = pa.schema([
    ("_id", pa.string()),
    ("_command", pa.string()),
    ("seq_in", pa.int64()),
    ("value", pa.int64()),
    ("tag", pa.string()),
    ("delta", pa.int64()),
    ("_ops", pa.list_(pa.struct([("op", pa.string()),
                                 ("path", pa.string()),
                                 ("value", pa.string())]))),
    ("_jwt", pa.map_(pa.string(), pa.string())),
])
COMMAND_DDL = (
    "_id string, _command string, seq_in bigint, value bigint, "
    "tag string, delta bigint, "
    "_ops array<struct<op:string,path:string,value:string>>, "
    "_jwt map<string,string>"
)

EVENT_TYPES = ("view", "click", "cart", "buy", "share", "scroll")
EVENT_SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
])
EVENT_DDL = "event_id bigint, user_id bigint, event_type string, value double"

# two parts: a stateless transform into a topic, then a grouped count
# over that part's stream -- two sinks, so two streaming queries
STREAM_SPEC = {
    "application": "bench-drain",
    "parts": [
        {"type": "stream", "name": "clean", "fromTopic": "events",
         "toTopic": "clean", "pipeline": [
             {"$match": {"value": {"$gte": 0}}},
             {"$addFields": {"bucket": {"$toInt": {"$divide":
                                                   ["$value", 10]}},
                             "kind": {"$toUpper": "$event_type"}}},
             {"$project": {"event_id": 1, "user_id": 1, "bucket": 1,
                           "kind": 1}},
         ]},
        {"type": "stream", "name": "stats", "fromStream": "clean",
         "toTopic": "stats", "pipeline": [
             {"$group": {"_id": "$kind", "n": {"$sum": 1},
                         "buckets": {"$sum": "$bucket"}}},
         ]},
    ],
}

TAGS = ("red", "green", "blue", "amber", "teal")


def zipf_keys(rng: np.random.Generator, n: int, n_keys: int,
              s: float = 0.9) -> np.ndarray:
    """``n`` draws from ``range(n_keys)`` with P(k) proportional to
    1/(k+1)^s.  Key k has the same rank for every seed: which keys are
    hot, and so how unevenly they spread over hash partitions, belongs
    to the workload; the seed draws the sample."""
    p = 1.0 / np.arange(1, n_keys + 1) ** s
    return rng.choice(n_keys, size=n, p=p / p.sum())


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def write_commands(seed: int, out_dir: str, n: int, n_files: int,
                   n_keys: int, reject_share: float) -> None:
    """Aggregate commands in ``n_files`` parquet files, ``seq_in``
    ascending across files: 60% put (``reject_share`` of all commands
    are puts with a negative value, which the validator rejects), 25%
    bump (reducer pipeline), the rest patch.  ``_id`` is Zipf-skewed."""
    rng = np.random.default_rng(seed)
    keys = zipf_keys(rng, n, n_keys)
    u = rng.random(n)
    kind = np.where(u < 0.6, "put", np.where(u < 0.85, "bump", "patch"))
    rejected = rng.random(n) < reject_share / 0.6
    values = rng.integers(0, 1000, n)
    deltas = rng.integers(1, 10, n)
    tags = rng.integers(0, len(TAGS), n)
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for f in range(n_files):
        rows = {c: [] for c in COMMAND_SCHEMA.names}
        for i in range(bounds[f], bounds[f + 1]):
            k = kind[i]
            rows["_id"].append(f"k{keys[i]}")
            rows["_command"].append(str(k))
            rows["seq_in"].append(i)
            rows["value"].append(
                (-1 - int(values[i]) if rejected[i] else int(values[i]))
                if k == "put" else None)
            rows["tag"].append(TAGS[tags[i]] if k == "put" else None)
            rows["delta"].append(int(deltas[i]) if k == "bump" else None)
            rows["_ops"].append(
                [{"op": "add", "path": "/tag", "value": TAGS[tags[i]]}]
                if k == "patch" else None)
            rows["_jwt"].append([("sub", "bench")])
        _write(pa.table(rows, schema=COMMAND_SCHEMA),
               os.path.join(out_dir, f"part-{f:05d}.parquet"))


def write_events(seed: int, out_dir: str, n: int, n_files: int,
                 n_users: int = 50_000) -> None:
    """A backlog of ``n`` events in ``n_files`` files, ids ascending;
    about 5% carry a negative value, which the stream part's $match
    drops."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for f in range(n_files):
        lo, hi = int(bounds[f]), int(bounds[f + 1])
        _write(pa.table({
            "event_id": np.arange(lo, hi, dtype=np.int64),
            "user_id": zipf_keys(rng, hi - lo, n_users).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[
                rng.integers(0, len(EVENT_TYPES), hi - lo)],
            "value": np.round(rng.normal(300.0, 150.0, hi - lo), 2),
        }, schema=EVENT_SCHEMA),
            os.path.join(out_dir, f"part-{f:05d}.parquet"))


# ---------------------------------------------------------------------------
# batch tables (the column sets the batch_kernels queries read)
# ---------------------------------------------------------------------------

WORDS = (
    "spark stream batch query table column row key value group join "
    "merge filter sort hash scan window order part line data fast slow "
    "big small agg vector customer the a of event state commit offset "
    "trigger plan node stage task shuffle spill cache"
).split()
LANGS = ("en", "de", "fr", "es", "zh")
_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-bag documents; a quarter are near-copies of an earlier
    original with a few words replaced, so the dedup kernels find
    clusters.  Copies are never copied again: clusters are stars, so
    the connected-components rounds do not depend on the seed."""
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        if originals and rng.random() < 0.25:
            words = texts[originals[int(rng.integers(0, len(originals)))]] \
                .split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            originals.append(i)
            words = [WORDS[j] for j in
                     rng.integers(0, len(WORDS), int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 5}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_batch_tables(seed: int, out_dir: str, n_orders: int,
                       n_docs: int) -> None:
    """documents, lineitem, orders, customer and supplier with the
    testdata schemas, ``n_orders`` orders of 1-7 line items each."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(10, n_orders // 10)
    n_supp = max(5, n_orders // 150)
    n_part = max(20, n_orders // 7)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    tables = {
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders),
            "o_orderstatus": np.array(["F", "O", "P"])[
                rng.integers(0, 3, n_orders)],
            "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders),
                                     2),
            "o_orderdate": pa.array(
                _EPOCH_1995_US + rng.integers(0, 2400, n_orders) * _DAY_US,
                pa.timestamp("us")),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                 "5-LOW"])[rng.integers(0, 5, n_orders)],
        }),
    }
    per_order = rng.integers(1, 8, n_orders)
    n_li = int(per_order.sum())
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": np.repeat(np.arange(n_orders, dtype=np.int64),
                                per_order),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": np.concatenate(
            [np.arange(1, k + 1) for k in per_order]).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(
            _EPOCH_1995_US + rng.integers(0, 2500, n_li) * _DAY_US,
            pa.timestamp("us")),
    })
    tables["documents"] = _documents(rng, n_docs)
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
