"""Seeded synthetic lake for the benchmark, plus its DuckDB oracle.

The tables mirror the schemas of the engine's TPC-H-ish test lake (column
names, Arrow types, one Parquet row group per table) at fixed sizes, so the
registered queries and the ``Engine`` pipeline run on them unchanged. The
seed changes the values, never the row counts: the same seed always writes
the same bytes.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Rows per table. Fixed for every seed (see BENCHMARK.json).
SIZES = {
    "region": 5,
    "nation": 25,
    "supplier": 100,
    "part": 2_000,
    "customer": 1_500,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 1_050,  # 1,000 originals and NEAR_DUPES copies
    "embeddings": 2_000,
}
#: Documents ``doc_id < NEAR_DUPES`` get a copy with id ``doc_id + DUP_OFFSET``,
#: as in the repository's test lake: even ids an exact copy, odd ids the
#: text with one word appended (Jaccard m/(m+1) on its m distinct 3-word
#: shingles, at least 0.85 for these 10-100-word texts, so
#: ``dedup_near(0.7)`` must cluster it with its original).
NEAR_DUPES = 50
DUP_OFFSET = 100_000
N_USERS = 150
EMB_DIM = 64
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

_US_PER_DAY = 86_400_000_000


def _epoch_us(year: int, month: int, day: int) -> int:
    delta = dt.datetime(year, month, day) - dt.datetime(1970, 1, 1)
    return delta // dt.timedelta(microseconds=1)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_s, n_p = SIZES["supplier"], SIZES["part"]
    n_c, n_o, n_l = SIZES["customer"], SIZES["orders"], SIZES["lineitem"]
    n_e, n_d, n_v = SIZES["events"], SIZES["documents"], SIZES["embeddings"]

    region = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION{i:02d}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_s, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_s, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_s)),
    })
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_p, dtype=np.int64)),
        "p_name": pa.array([f"part {i}" for i in range(n_p)]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(11, 56, n_p)]),
        "p_type": pa.array(rng.choice(("STANDARD", "SMALL", "MEDIUM", "LARGE"), n_p)),
        "p_size": pa.array(rng.integers(1, 51, n_p, dtype=np.int32)),
        "p_retailprice": pa.array(_money(rng, 900.0, 2100.0, n_p)),
    })

    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_c, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_c, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_c)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_c)),
    })

    day0 = _epoch_us(1995, 1, 1)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), n_o)),
        "o_totalprice": pa.array(_money(rng, 900.0, 500_000.0, n_o)),
        "o_orderdate": _ts(day0 + rng.integers(0, 2404, n_o) * _US_PER_DAY),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_o)),
    })

    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_o, n_l, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_p, n_l, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_l).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_l)),
        "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
        "l_returnflag": pa.array(rng.choice(("A", "N", "R"), n_l)),
        "l_linestatus": pa.array(rng.choice(("F", "O"), n_l)),
        "l_shipdate": _ts(day0 + rng.integers(1, 2500, n_l) * _US_PER_DAY),
    })

    ev0 = _epoch_us(2024, 1, 1)
    events = pa.table({
        "event_id": pa.array(np.arange(n_e, dtype=np.int64)),
        "ts": _ts(np.sort(ev0 + rng.integers(0, 30 * _US_PER_DAY, n_e))),
        "user_id": pa.array(rng.integers(0, N_USERS, n_e, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_e)),
        "value": pa.array(np.round(rng.exponential(100.0, n_e), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]),
    })

    n_orig = n_d - NEAR_DUPES
    texts = []
    for i in range(n_orig):
        words = list(rng.choice(VOCAB, int(rng.integers(10, 101))))
        # One document in twenty carries an email or a phone number, so the
        # PII pass rewrites real matches.
        if i % 20 == 7:
            words.insert(len(words) // 2, f"user{i}@example.com")
        elif i % 20 == 13:
            words.insert(len(words) // 2, f"555-{i % 1000:03d}-{i % 10000:04d}")
        texts.append(" ".join(words))
    texts += [t if i % 2 == 0 else f"{t} revised" for i, t in enumerate(texts[:NEAR_DUPES])]
    copies = np.r_[np.arange(n_orig), np.arange(NEAR_DUPES)]
    ids = np.r_[np.arange(n_orig), DUP_OFFSET + np.arange(NEAR_DUPES)]
    documents = pa.table({
        "doc_id": pa.array(ids.astype(np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_orig, p=LANG_P)[copies]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_orig)[copies]]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })

    labels = rng.integers(0, 10, n_v, dtype=np.int32)
    centroids = rng.normal(size=(10, EMB_DIM))
    vecs = centroids[labels] + 0.7 * rng.normal(size=(n_v, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_v, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })

    return {
        "region": region,
        "nation": nation,
        "supplier": supplier,
        "part": part,
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": documents,
        "embeddings": embeddings,
    }


def build(seed: int, out: str) -> str:
    """Write the lake for ``seed`` into the directory ``out``."""
    os.makedirs(out, exist_ok=True)
    for name, table in _tables(seed).items():
        pq.write_table(
            table,
            os.path.join(out, f"{name}.parquet"),
            compression="snappy",
            row_group_size=table.num_rows,
        )
    return out


def input_bytes(lake_dir: str, names) -> int:
    return sum(os.path.getsize(os.path.join(lake_dir, f"{n}.parquet")) for n in names)


def canon_digest(cols, rows) -> tuple[int, str]:
    """(row count, sha256 of the order-insensitive canonical rows), with the
    canonicalisation the repository's oracle gate uses."""
    from tools.check_oracle import canon_rows

    canon = canon_rows(list(cols), [tuple(r) for r in rows])
    return len(canon), hashlib.sha256("\n".join(canon).encode()).hexdigest()


class Oracle:
    """DuckDB over the lake's Parquet files, one view per table."""

    def __init__(self, lake_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for name in SIZES:
            path = os.path.join(lake_dir, f"{name}.parquet")
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )

    def digest(self, sql: str) -> tuple[int, str]:
        rel = self.con.sql(sql)
        return canon_digest([str(c).lower() for c in rel.columns], rel.fetchall())

    def close(self) -> None:
        self.con.close()
