"""Seeded input generator for the restructure-cycle benchmark.

Everything here is plain Python + numpy/pyarrow and runs before the timed
region. Two kinds of input:

* RADAR-shaped Kafka-sink trees: three topics keyed by an ObservationKey,
  written as deflate Avro containers through the package's own
  ``avro_io.write_container`` and named ``<topic>+<partition>+<from>+<to>.avro``
  under ``<root>/<topic>/partition=<p>/``. Alongside the files the generator
  predicts the restructured output: every target path and its row count,
  with exact duplicates collapsed when the workload enables keep-last dedup.
* TPC-H-like and corpus tables (parquet) for the query mix, in the shape the
  registered queries and their DuckDB oracles read.

The same seed gives the same records. Container sync markers come from
``os.urandom`` inside ``write_container``, so file bytes differ between two
generations while every decoded record is identical.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import random
from dataclasses import dataclass, field

import numpy as np

from radar_output_restructure_spark.sources import avro_io
from radar_output_restructure_spark.sources.kafka_tree import parse_offset_filename

# 2024-03-04T00:00:00Z, the first hourly bin of every generated tree
EPOCH0 = 1709510400

KEY_SCHEMA = {
    "type": "record",
    "name": "ObservationKey",
    "namespace": "org.radarcns.kafka",
    "fields": [
        {"name": "projectId", "type": ["null", "string"]},
        {"name": "userId", "type": "string"},
        {"name": "sourceId", "type": "string"},
    ],
}

_VALUE_FIELDS = {
    "android_phone_acceleration": (
        "org.radarcns.passive.phone.PhoneAcceleration",
        [
            {"name": "time", "type": "double"},
            {"name": "timeReceived", "type": "double"},
            {"name": "x", "type": "float"},
            {"name": "y", "type": "float"},
            {"name": "z", "type": "float"},
        ],
    ),
    "android_phone_light": (
        "org.radarcns.passive.phone.PhoneLight",
        [
            {"name": "time", "type": "double"},
            {"name": "timeReceived", "type": "double"},
            {"name": "light", "type": "float"},
        ],
    ),
    "application_server_status": (
        "org.radarcns.monitor.application.ApplicationServerStatus",
        [
            {"name": "time", "type": "double"},
            {
                "name": "serverStatus",
                "type": {
                    "type": "enum",
                    "name": "ServerStatus",
                    "symbols": ["CONNECTED", "DISCONNECTED", "UNKNOWN"],
                },
            },
            {"name": "ipAddress", "type": ["null", "string"]},
        ],
    ),
}

TOPICS = tuple(_VALUE_FIELDS)


def topic_schema(topic: str) -> dict:
    full_name, fields = _VALUE_FIELDS[topic]
    namespace, name = full_name.rsplit(".", 1)
    return {
        "type": "record",
        "name": topic,
        "fields": [
            {"name": "key", "type": KEY_SCHEMA},
            {
                "name": "value",
                "type": {
                    "type": "record",
                    "name": name,
                    "namespace": namespace,
                    "fields": fields,
                },
            },
        ],
    }


@dataclass(frozen=True)
class User:
    project: str
    user: str
    partition: int


def users(n_users: int = 8, n_projects: int = 2) -> list[User]:
    per = n_users // n_projects
    return [
        User(f"radar-p{i // per}", f"user-{i:02d}", i % 2) for i in range(n_users)
    ]


def _bin_name(t: float) -> str:
    return dt.datetime.fromtimestamp(t, dt.timezone.utc).strftime("%Y%m%d_%H00")


def _hour_records(
    rng: random.Random, topic: str, u: User, hour: int, n: int
) -> list[dict]:
    """`n` records of one user-hour, strictly increasing distinct times."""
    base = EPOCH0 + hour * 3600
    step = 3598.0 / n
    key = {"projectId": u.project, "userId": u.user, "sourceId": f"src-{u.user}"}
    out = []
    for i in range(n):
        t = base + 1.0 + i * step + rng.random() * step * 0.5
        t = round(t, 3)
        if topic == "android_phone_acceleration":
            value = {
                "time": t,
                "timeReceived": round(t + 0.25 + rng.random(), 3),
                "x": rng.uniform(-2.0, 2.0),
                "y": rng.uniform(-2.0, 2.0),
                "z": rng.uniform(8.0, 11.0),
            }
        elif topic == "android_phone_light":
            value = {
                "time": t,
                "timeReceived": round(t + 0.25 + rng.random(), 3),
                "light": rng.uniform(0.0, 900.0),
            }
        else:
            value = {
                "time": t,
                "serverStatus": rng.choice(("CONNECTED", "CONNECTED", "DISCONNECTED")),
                "ipAddress": None if rng.random() < 0.2 else f"10.0.{hour % 250}.{i % 250}",
            }
        out.append({"key": dict(key), "value": value})
    return out


@dataclass
class TreeState:
    """Predicted content of one input tree and the output it restructures to.

    `expected` maps output path (relative to the output root, without the
    compression extension) to the list of record identities (topic, user,
    time) that land in it; `files` lists the written containers."""

    files: list[str] = field(default_factory=list)
    records: int = 0
    expected: dict[str, list[tuple]] = field(default_factory=dict)
    # next Kafka offset per (topic, partition)
    offsets: dict[tuple[str, int], int] = field(default_factory=dict)
    # per topic: committed container -> its records (for replays)
    written: dict[str, list[tuple[str, list[dict]]]] = field(default_factory=dict)

    def add_records(self, topic: str, recs: list[dict]) -> None:
        for r in recs:
            k, v = r["key"], r["value"]
            path = f"{k['projectId']}/{k['userId']}/{topic}/{_bin_name(v['time'])}.csv"
            self.expected.setdefault(path, []).append((topic, k["userId"], v["time"]))
        self.records += len(recs)

    def expected_rows(self, dedup: bool) -> dict[str, int]:
        return {
            p: len(set(ids)) if dedup else len(ids)
            for p, ids in self.expected.items()
        }


def _write(
    state: TreeState, root: str, topic: str, partition: int, recs: list[dict]
) -> str:
    off = state.offsets.get((topic, partition), 0)
    d = os.path.join(root, topic, f"partition={partition}")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{topic}+{partition}+{off}+{off + len(recs) - 1}.avro")
    avro_io.write_container(path, topic_schema(topic), recs, codec="deflate")
    state.offsets[(topic, partition)] = off + len(recs)
    state.files.append(path)
    state.written.setdefault(topic, []).append((path, recs))
    state.add_records(topic, recs)
    return path


def write_hours(
    state: TreeState,
    root: str,
    rng: random.Random,
    hours: list[int],
    rate: dict[str, int],
    files_per_partition: int,
    user_list: list[User],
) -> None:
    """Write `hours` of every user and topic, split per Kafka partition into
    `files_per_partition` consecutive-offset containers in time order."""
    for topic in TOPICS:
        for partition in (0, 1):
            part_users = [u for u in user_list if u.partition == partition]
            recs: list[dict] = []
            for h in hours:
                for u in part_users:
                    n = max(1, int(rate[topic] * rng.uniform(0.85, 1.15)))
                    recs.extend(_hour_records(rng, topic, u, h, n))
            recs.sort(key=lambda r: r["value"]["time"])
            chunk = -(-len(recs) // files_per_partition)
            for start in range(0, len(recs), chunk):
                _write(state, root, topic, partition, recs[start : start + chunk])


def tiny_tree(root: str, seed: int) -> TreeState:
    """Warm-up input: a one-topic tree holding one container of one
    user-hour. The first restructure in a process pays the JVM, codegen and
    Python-worker start-up; further topics mostly repeat fixed job cost."""
    state = TreeState()
    topic = TOPICS[0]
    _write(
        state, root, topic, users()[0].partition,
        _hour_records(random.Random(seed), topic, users()[0], 0, 20),
    )
    return state


#: `cycle_append_gzip` sizing: priming hours, records per user-hour, and
#: containers per Kafka partition for the priming tree
CYCLE_PRIME_HOURS = 12
CYCLE_RATE = {
    "android_phone_acceleration": 120,
    "android_phone_light": 40,
    "application_server_status": 16,
}
CYCLE_PRIME_FILES = 10


def cycle_trees(prime_root: str, arrival_root: str, seed: int) -> TreeState:
    """`cycle_append_gzip` input.

    The priming tree (written to `prime_root`) holds CYCLE_PRIME_HOURS hours
    in CYCLE_PRIME_FILES containers per partition. The arrival batch (written
    to `arrival_root`, same tree layout, offsets continuing the priming ones)
    adds per topic: late data for the last 3 primed hours (appends to
    existing bins), 3 new hours, and one container that replays an
    already-committed priming container record for record (exact duplicates
    the keep-last dedup must drop). Returns the combined state; the arrival
    containers are the files under `arrival_root`."""
    rng = random.Random(seed)
    state = TreeState()
    ulist = users()
    last = CYCLE_PRIME_HOURS - 1
    write_hours(
        state, prime_root, rng, list(range(CYCLE_PRIME_HOURS)), CYCLE_RATE,
        CYCLE_PRIME_FILES, ulist,
    )
    late_rate = {t: max(1, r // 4) for t, r in CYCLE_RATE.items()}
    for topic in TOPICS:
        primed = list(state.written[topic])
        for partition in (0, 1):
            part_users = [u for u in ulist if u.partition == partition]
            # per partition: late rows for the last primed hours, then the
            # next hours in two containers
            late: list[dict] = []
            for h in (last - 2, last - 1, last):
                for u in part_users:
                    # late records sit between the primed ones: offset the
                    # times by a prime step so no record collides with one
                    # already written
                    for r in _hour_records(rng, topic, u, h, late_rate[topic]):
                        r["value"]["time"] = round(r["value"]["time"] + 0.0007, 4)
                        late.append(r)
            late.sort(key=lambda r: r["value"]["time"])
            _write(state, arrival_root, topic, partition, late)
            fresh: list[dict] = []
            for h in (last + 1, last + 2, last + 3):
                for u in part_users:
                    fresh.extend(_hour_records(rng, topic, u, h, CYCLE_RATE[topic]))
            fresh.sort(key=lambda r: r["value"]["time"])
            half = len(fresh) // 2
            _write(state, arrival_root, topic, partition, fresh[:half])
            _write(state, arrival_root, topic, partition, fresh[half:])
            if partition == 1:
                # the replay: the first committed partition-1 container, re-sent
                replay = next(recs for p, recs in primed if "partition=1" in p)
                _write(
                    state, arrival_root, topic, partition,
                    [{"key": dict(r["key"]), "value": dict(r["value"])} for r in replay],
                )
    return state


# ---------------------------------------------------------------------------
# query-mix tables
# ---------------------------------------------------------------------------

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ("en", "en", "en", "zh", "es", "fr", "de")

#: table scale of the query mix (1.0 = 1.5M orders; the repository's sf0.1
#: testdata is 0.1). At 0.02 every query is still dominated by its plan
#: build and fixed job cost, and the twelve DuckDB oracles take ~6 s on two
#: threads.
QUERY_SCALE = 0.02


def query_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write the query mix's tables in the repository testdata's shapes at
    QUERY_SCALE. Returns row counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rs = np.random.default_rng(seed)
    scale = QUERY_SCALE
    n_orders = int(1_500_000 * scale)
    n_cust = int(150_000 * scale)
    n_supp = max(50, int(10_000 * scale))
    n_part = int(200_000 * scale)
    n_docs = int(50_000 * scale)
    n_vecs = int(20_000 * scale)
    counts: dict[str, int] = {}

    def put(name: str, cols: dict) -> None:
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows

    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rs.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": np.round(rs.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rs.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ).tolist(),
    })
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rs.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": np.round(rs.uniform(-999.99, 9999.99, n_supp), 2),
    })
    put("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"part {i % 64}" for i in range(n_part)],
        "p_brand": [f"Brand#{i}" for i in rs.integers(10, 35, n_part)],
        "p_type": rs.choice(
            ["LARGE", "SMALL", "MEDIUM", "ECONOMY", "STANDARD", "PROMO"], n_part
        ).tolist(),
        "p_size": pa.array(rs.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    day = np.int64(86_400_000_000)
    t0 = np.int64(788_918_400_000_000)  # 1995-01-01 in micros
    odate = t0 + rs.integers(0, 2555, n_orders) * day
    put("orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rs.integers(0, n_cust, n_orders, dtype=np.int64),
        "o_orderstatus": rs.choice(["F", "O", "P"], n_orders).tolist(),
        "o_totalprice": np.round(rs.uniform(1000.0, 500000.0, n_orders), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": rs.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders
        ).tolist(),
    })
    lines = rs.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    n_li = len(okey)
    linenumber = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    qty = rs.integers(1, 51, n_li).astype(np.float64)
    put("lineitem", {
        "l_orderkey": okey,
        "l_partkey": rs.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rs.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": pa.array(linenumber.astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rs.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rs.integers(0, 11, n_li) / 100.0,
        "l_tax": rs.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rs.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rs.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": pa.array(
            odate[okey] + rs.integers(1, 61, n_li) * day, pa.timestamp("us")
        ),
    })
    # corpus: random word sequences plus near- and exact duplicates
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rs.random() < 0.04:
            words = texts[int(rs.integers(0, i))].split()
            if rs.random() < 0.8:
                words[int(rs.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        else:
            n = int(rs.integers(10, 101))
            texts.append(" ".join(rs.choice(_WORDS, n).tolist()))
    put("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rs.choice(_LANGS, n_docs).tolist(),
        "source": [f"src{i}" for i in rs.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    # embeddings: 64-d unit vectors around 10 label centroids, a few near-copies
    centroids = rs.normal(size=(10, 64))
    labels = rs.integers(0, 10, n_vecs)
    vecs = centroids[labels] * 0.35 + rs.normal(size=(n_vecs, 64))
    copies = rs.random(n_vecs) < 0.03
    src_idx = rs.integers(0, n_vecs, n_vecs)
    vecs[copies] = vecs[src_idx[copies]] + rs.normal(scale=0.01, size=(int(copies.sum()), 64))
    labels[copies] = labels[src_idx[copies]]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    put("embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return counts


# ---------------------------------------------------------------------------
# command line: build one input set into a directory, with its expectations
# ---------------------------------------------------------------------------


def _newest_per_partition(files: list[str]) -> set[str]:
    """The container with the highest offset of each (topic, partition):
    the cleaner never deletes it."""
    newest: dict[tuple[str, int], tuple[int, str]] = {}
    for f in files:
        topic, part, off, _to = parse_offset_filename(f)
        if (topic, part) not in newest or off > newest[(topic, part)][0]:
            newest[(topic, part)] = (off, f)
    return {f for _, f in newest.values()}


def build(kind: str, seed: int, out: str) -> dict:
    """Write input set `kind` under `out` and return its expectations."""
    if kind == "tiny":
        st = tiny_tree(os.path.join(out, "tree"), seed)
        return {"records": st.records, "rows": st.expected_rows(dedup=False)}
    if kind == "cycle":
        prime, arrival = os.path.join(out, "prime"), os.path.join(out, "arrival")
        st = cycle_trees(prime, arrival, seed)
        prime_state = TreeState()
        for path, recs in (
            (p, r) for t in TOPICS for p, r in st.written[t] if p.startswith(prime)
        ):
            prime_state.add_records(path.split(os.sep)[-3], recs)
        rel = [
            os.path.relpath(f, prime if f.startswith(prime) else arrival)
            for f in st.files
        ]
        keep = _newest_per_partition(rel)
        return {
            "arrival_records": st.records - prime_state.records,
            "prime_rows": prime_state.expected_rows(dedup=True),
            "rows": st.expected_rows(dedup=True),
            "deleted": sorted(f for f in rel if f not in keep),
        }
    if kind == "qmix":
        return {"tables": query_tables(os.path.join(out, "tables"), seed)}
    raise ValueError(f"unknown input kind {kind!r}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--kind", required=True, choices=["tiny", "cycle", "qmix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    expect = build(args.kind, args.seed, args.out)
    with open(os.path.join(args.out, "expect.json"), "w") as fh:
        json.dump(expect, fh)


if __name__ == "__main__":
    main()
