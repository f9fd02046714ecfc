"""Seeded input generator for the benchmark.

Everything the program receives comes from here, as a pure function of the
seed: the ten parquet tables the query registry reads (the TPC-H-ish star
schema, the ``events`` stream table, ``documents`` and ``embeddings``), the
taxi-schema CSV uploads posted to the serving path, the synthetic trips the
serving model is trained on, and the order in which every workload issues
its operations.

Table shapes follow the reference test corpus at its 0.01 scale factor
(row counts, key ranges, value domains, 5% near-duplicate documents), so
every registered query sees the inputs it was written for. Trip rows
follow the ``trips_raw`` fixture schema: string ids, ISO timestamps, and
the edge cases the serving path must survive (null and zero passengers,
zero distance, dropoff before pickup).
"""

from __future__ import annotations

import io
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the generated corpus (the reference corpus at sf0.01).
CORPUS_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
EVENT_USERS = 150
EMBED_DIM = 64

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "green", "shiny"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "rod", "anvil"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_US_PER_DAY = 86_400_000_000


def _day_us(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _dates(rng: np.random.Generator, lo: int, hi: int, n: int) -> pa.Array:
    days = rng.integers(0, (hi - lo) // _US_PER_DAY + 1, n)
    return _ts(lo + days * _US_PER_DAY)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [_LANGS[j] for j in rng.choice(len(_LANGS), n, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = 0.15 * centers[labels] + rng.normal(0.0, 1.0, (n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def corpus_tables(seed: int) -> dict[str, pa.Table]:
    """The ten registry tables, deterministic in ``seed``."""
    rng = np.random.default_rng([seed % 2**32, 1])
    r = CORPUS_ROWS
    n_cust, n_supp, n_part, n_ord, n_li, n_ev = (
        r["customer"], r["supplier"], r["part"], r["orders"], r["lineitem"], r["events"]
    )
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": [_SEGMENTS[j] for j in rng.integers(0, 5, n_cust)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": [
                    f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                    for a, b in rng.integers(0, 8, (n_part, 2))
                ],
                "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
                "p_type": [_PART_TYPES[j] for j in rng.integers(0, 6, n_part)],
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)],
                "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
                "o_orderdate": _dates(rng, _day_us(1995, 1, 1), _day_us(2001, 8, 1), n_ord),
                "o_orderpriority": [_PRIORITIES[j] for j in rng.integers(0, 5, n_ord)],
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_li)],
                "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_li)],
                "l_shipdate": _dates(rng, _day_us(1995, 1, 2), _day_us(2001, 11, 4), n_li),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_ev), pa.int64()),
                "ts": _ts(
                    np.sort(rng.integers(_day_us(2024, 1, 1), _day_us(2024, 1, 31), n_ev))
                ),
                "user_id": pa.array(rng.integers(0, EVENT_USERS, n_ev), pa.int64()),
                "event_type": [_EVENT_TYPES[j] for j in rng.integers(0, 5, n_ev)],
                "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
                "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_ev)],
            }
        ),
        "documents": _documents(rng, r["documents"]),
        "embeddings": _embeddings(rng, r["embeddings"]),
    }
    return tables


def write_corpus(out_dir: str, seed: int) -> None:
    """Write ``{table}.parquet`` files for every registry table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in corpus_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


TRIP_COLUMNS = (
    "VendorID,tpep_pickup_datetime,tpep_dropoff_datetime,passenger_count,"
    "trip_distance,RatecodeID,store_and_fwd_flag,PULocationID,DOLocationID,"
    "payment_type,fare_amount,extra,mta_tax,tip_amount,tolls_amount,"
    "improvement_surcharge,total_amount"
)


def trips_csv(rng: random.Random, n: int) -> str:
    """``n`` taxi trips in the reference upload format (``trips_raw``
    schema, header included). Fares follow distance and duration, so a
    model trained on one call's output predicts another's."""
    out = io.StringIO()
    out.write(TRIP_COLUMNS + "\n")
    for _ in range(n):
        day = rng.randint(1, 31)
        sec = rng.randint(0, 86_399)
        minutes = rng.randint(1, 90)
        if rng.random() < 0.03:
            minutes = -rng.randint(0, 30)  # dropoff at or before pickup
        distance = 0.0 if rng.random() < 0.03 else round(rng.uniform(0.1, 30.0), 2)
        pax = rng.choice(["", "0", "1", "1", "1", "2", "3", "4", "5", "6"])
        fare = round(3.0 + 2.5 * distance + 0.4 * max(minutes, 0), 2)
        tip = round(rng.uniform(0.0, 0.25) * fare, 2)
        extra = rng.choice([0.0, 0.5, 1.0, 2.5])
        toll = rng.choice([0.0, 0.0, 0.0, 6.55, 17.0])
        pickup = f"2024-05-{day:02d}T{sec // 3600:02d}:{sec // 60 % 60:02d}:{sec % 60:02d}"
        drop_s = day * 86_400 + sec + minutes * 60
        drop_day, drop_sec = divmod(drop_s, 86_400)
        drop_day = min(drop_day, 31)
        dropoff = (
            f"2024-05-{drop_day:02d}T{drop_sec // 3600:02d}:"
            f"{drop_sec // 60 % 60:02d}:{drop_sec % 60:02d}"
        )
        total = round(fare + tip + extra + 0.5 + toll + 1.0, 2)
        out.write(
            f"{rng.choice('12')},{pickup},{dropoff},{pax},{distance},"
            f"{rng.choice(['1', '2', '3', '4', '5', '6', ''])},"
            f"{rng.choice(['Y', 'N', ''])},{rng.randint(1, 265)},"
            f"{rng.randint(1, 265)},{rng.randint(0, 6)},{fare},{extra},0.5,"
            f"{tip},{toll},1.0,{total}\n"
        )
    return out.getvalue()


def upload_sizes(seed: int, n_files: int) -> list[int]:
    """Upload row counts spread log-uniformly over 1..1000."""
    rng = random.Random(seed * 7919 + 3)
    return [max(1, min(1000, round(10 ** rng.uniform(0.0, 3.0)))) for _ in range(n_files)]


def write_uploads(out_dir: str, seed: int, n_files: int) -> list[str]:
    """Seeded CSV uploads for the serving workload; returns their paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, rows in enumerate(upload_sizes(seed, n_files)):
        path = os.path.join(out_dir, f"upload_{i:03d}.csv")
        with open(path, "w") as f:
            f.write(trips_csv(random.Random(f"{seed}/upload/{i}"), rows))
        paths.append(path)
    return paths


def write_training_trips(path: str, seed: int, n: int) -> str:
    """Synthetic trips the serving model is trained on."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(trips_csv(random.Random(f"{seed}/train"), n))
    return path


def op_order(seed: int, names: list[str]):
    """Endless per-pass request order: each pass is a seeded permutation
    of ``names``, so every pass runs every operation exactly once."""
    rng = random.Random(f"{seed}/order")
    while True:
        perm = list(names)
        rng.shuffle(perm)
        yield perm
