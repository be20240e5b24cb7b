"""Seeded synthetic inputs for the benchmark.

``write_tables`` draws the engine's ten test tables (the TPC-H-shaped
star schema plus ``events``, ``documents`` and ``embeddings``) with the
row counts of its sf0.001 or sf0.01 fixtures and from the same
distribution family: Poisson(4) lines per order, Exp(mean 50) event
values, a 30-word document vocabulary with ~0.2 % exact and ~1 % near
duplicates, and 10-centroid unit-norm 64-d embeddings.

``write_pipeline_csvs`` derives the reference pipeline's CSV drops
(snapshot order log, increment with status, activity log, research
aggregate, headerless price log) from those tables with DuckDB, in the
layout ``tools/pipeline_bench.py`` uses. Its seed picks the increment
cut date and the refunded subset.
"""

from __future__ import annotations

import json
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCALES: dict[str, dict[str, int]] = {
    "sf0.001": dict(customer=150, supplier=10, part=200, orders=1_500,
                    events=1_000, users=15, documents=500, embeddings=500),
    "sf0.01": dict(customer=1_500, supplier=100, part=2_000, orders=15_000,
                   events=10_000, users=150, documents=500, embeddings=500),
}
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
PIPELINE_TABLES = ("customer", "orders", "events")

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast the row "
    "agg key query a scan batch"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["MEDIUM", "SMALL", "PROMO", "LARGE", "STANDARD", "ECONOMY"]
PNOUNS = ["ring", "bolt", "screw", "plate", "tube", "washer", "gear", "pin"]
PADJS = ["large", "hot", "blue", "red", "small", "dim", "cold", "pale"]
LANGS = ["en", "fr", "de", "es", "zh"]
DAY_US = 86_400_000_000
ORDER_DAYS = ("1995-01-01", "2001-08-02")
EVENT_START = "2024-01-01"


def _days(date: str) -> int:
    return int((np.datetime64(date) - np.datetime64("1970-01-01")).astype(int))


def _ts_us(values_us) -> pa.Array:
    return pa.array(np.asarray(values_us, dtype=np.int64), type=pa.timestamp("us"))


def write_tables(out_dir: str, scale: str, seed: int,
                 tables: tuple[str, ...] = TABLES) -> dict[str, int]:
    """Write ``tables`` as ``<out_dir>/<name>.parquet``; returns row counts.

    Every table is drawn from one RNG stream in a fixed order, so a
    subset holds exactly the rows the full corpus would.
    """
    n = SCALES[scale]
    rng = np.random.Generator(np.random.PCG64(seed))
    os.makedirs(out_dir, exist_ok=True)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], type=pa.int32()),
    })

    keys = np.arange(n["customer"], dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, len(keys)).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-1000, 10_000, len(keys)), 2),
        "c_mktsegment": rng.choice(SEGMENTS, len(keys)),
    })

    keys = np.arange(n["supplier"], dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": keys,
        "s_name": [f"Supplier#{k:09d}" for k in keys],
        "s_nationkey": rng.integers(0, 25, len(keys)).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-1000, 10_000, len(keys)), 2),
    })

    keys = np.arange(n["part"], dtype=np.int64)
    adj, noun = rng.choice(PADJS, len(keys)), rng.choice(PNOUNS, len(keys))
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, len(keys))],
        "p_type": rng.choice(PTYPES, len(keys)),
        "p_size": rng.integers(1, 51, len(keys)).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2),
    })

    n_orders = n["orders"]
    order_days = rng.integers(_days(ORDER_DAYS[0]), _days(ORDER_DAYS[1]), n_orders)
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n_orders),
        "o_orderstatus": rng.choice(["O", "P", "F"], n_orders),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
        "o_orderdate": _ts_us(order_days * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    })

    n_lines = rng.poisson(4.0, n_orders)
    okeys = np.repeat(np.arange(n_orders, dtype=np.int64), n_lines)
    m = len(okeys)
    out["lineitem"] = pa.table({
        "l_orderkey": okeys,
        "l_partkey": rng.integers(0, n["part"], m),
        "l_suppkey": rng.integers(0, n["supplier"], m),
        "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, m), 2),
        "l_discount": np.round(rng.integers(0, 11, m) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, m) / 100.0, 2),
        "l_returnflag": rng.choice(["R", "N", "A"], m),
        "l_linestatus": rng.choice(["O", "F"], m),
        "l_shipdate": _ts_us((np.repeat(order_days, n_lines) + rng.integers(1, 96, m)) * DAY_US),
    })

    n_ev = n["events"]
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts_us(_days(EVENT_START) * DAY_US + rng.integers(0, 30 * DAY_US, n_ev)),
        "user_id": rng.integers(0, n["users"], n_ev),
        "event_type": rng.choice(["purchase", "signup", "click", "error", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 4),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })

    n_docs = n["documents"]
    texts = [" ".join(rng.choice(VOCAB, k)) for k in rng.integers(10, 101, n_docs)]
    for i in rng.choice(n_docs, max(1, n_docs // 500), replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))]
    for i in rng.choice(n_docs, max(1, n_docs // 100), replace=False):
        words = texts[int(rng.integers(0, n_docs))].split()
        for j in rng.integers(0, len(words), 3):
            words[int(j)] = "dup"
        texts[i] = " ".join(words)
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    n_vec, dim, k = n["embeddings"], 64, 10
    cents = rng.normal(size=(k, dim))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    labels = rng.integers(0, k, n_vec)
    vecs = cents[labels] + 0.5 * rng.normal(size=(n_vec, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })

    for name in tables:
        pq.write_table(out[name], os.path.join(out_dir, f"{name}.parquet"))
    return {name: out[name].num_rows for name in tables}


def write_pipeline_csvs(sf_dir: str, src_dir: str, seed: int) -> dict[str, int]:
    """Derive the pipeline's CSV inputs from ``sf_dir``'s orders, customer
    and events tables; returns the row count of each CSV.

    The seed moves the increment cut between 85 % and 95 % of the order
    date range and picks which 1-in-19 residue class of order ids is
    refunded.
    """
    rng = np.random.Generator(np.random.PCG64(seed))
    cut_share = 0.85 + 0.10 * float(rng.random())
    refund_residue = int(rng.integers(0, 19))
    os.makedirs(src_dir, exist_ok=True)
    con = duckdb.connect()
    try:
        for t in PIPELINE_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')")
        con.sql("""
CREATE VIEW base AS
SELECT o.o_orderkey AS id,
       'u' || CAST(o.o_orderkey AS VARCHAR) AS uniq_id,
       CAST(o.o_orderdate AS TIMESTAMP)
         + (o.o_orderkey % 86400) * INTERVAL 1 SECOND AS date_time,
       CAST(o.o_custkey % 100 AS INT) AS city_id,
       'city_' || CAST(o.o_custkey % 100 AS VARCHAR) AS city_name,
       o.o_custkey AS customer_id,
       split_part(c.c_name, '#', 1) AS first_name,
       split_part(c.c_name, '#', 2) AS last_name,
       CAST(o.o_orderkey % 1000 AS INT) AS item_id,
       'item_' || CAST(o.o_orderkey % 1000 AS VARCHAR) AS item_name,
       CAST(o.o_orderkey % 5 + 1 AS BIGINT) AS quantity,
       o.o_totalprice AS payment_amount,
       CAST(o.o_orderdate AS DATE) AS od
FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
""")
        cutoff = con.sql(
            f"SELECT min(od) + CAST(FLOOR({cut_share} * date_diff('day', min(od), max(od)))"
            " AS INT) FROM base").fetchone()[0]
        cols = ("id, uniq_id, date_time, city_id, city_name, customer_id, "
                "first_name, last_name, item_id, item_name, quantity, payment_amount")
        queries = {
            "user_order_log": (
                f"SELECT {cols} FROM base WHERE od < DATE '{cutoff}' ORDER BY id", True),
            "user_order_log_inc": (
                f"SELECT {cols}, CASE WHEN id % 19 = {refund_residue} THEN 'refunded' "
                f"ELSE 'shipped' END AS status FROM base "
                f"WHERE od >= DATE '{cutoff}' ORDER BY id", True),
            "user_activity_log": ("""
SELECT ROW_NUMBER() OVER (ORDER BY event_id) AS id,
       'a' || CAST(event_id AS VARCHAR) AS uniq_id,
       ts AS date_time,
       CAST(hash(event_type) % 7 AS INT) AS action_id,
       user_id AS customer_id,
       CAST(1 AS BIGINT) AS quantity
FROM events ORDER BY id""", True),
            "customer_research": ("""
SELECT ROW_NUMBER() OVER (ORDER BY od) AS id,
       CAST(od AS TIMESTAMP) AS date_id,
       CAST(1 AS INT) AS category_id,
       CAST(1 AS INT) AS geo_id,
       CAST(SUM(quantity) AS BIGINT) AS sales_qty,
       SUM(payment_amount) AS sales_amt
FROM base GROUP BY od ORDER BY od""", True),
            "price_log": ("""
SELECT DISTINCT item_name, CAST(item_id * 10 + 5 AS BIGINT) AS price
FROM base ORDER BY item_name""", False),
        }
        counts = {}
        for name, (sql, header) in queries.items():
            path = os.path.join(src_dir, f"{name}.csv")
            con.sql(f"COPY ({sql}) TO '{path}' (HEADER {str(header).upper()})")
            counts[name] = con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        return counts
    finally:
        con.close()
