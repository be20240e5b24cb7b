"""Drift defense: every registered query must ANALYZE against the
current fixtures.

Round 2 post-mortem: the driver regenerated the testdata between rounds
and `events.parquet`'s `ts` column changed physical type (int64 nanos ->
timestamp[us]); every query touching events then died in ANALYSIS
(`AnalysisException` on `ts DIV 1000`) during the driver's correctness
run — an entire round of red for a break that plan analysis alone would
have caught locally. This module is that local tripwire:

- `test_all_queries_analyze`: build every `queries()` plan against
  sf0.001 and force analysis (`df.schema`). Pure driver-side work, no
  jobs — ~cheap even for 80+ queries — and catches type-mismatch /
  missing-column / unresolvable-expression drift in-round.
- `test_representative_queries_execute`: one query per base-table decode
  path actually EXECUTES (runtime scan errors, e.g. parquet rebase or
  nanos rejection, only surface at execution).
- `test_oracle_keys_subset`: every oracle key must have a query (an
  orphan oracle would crash the driver's loop).
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"

_QUERIES = entry_mod.queries()

# one per distinct base-table/decode path:
#   events (adaptive ts decode), documents (+mutant corpus), embeddings
#   (array column), orders+lineitem (relational core), full star join,
#   media (binary synthesis), binaryFile source
_REPRESENTATIVE = [
    "events_windowed_agg",
    "text_quality",
    "exact_dedup",
    "ann_bruteforce_topk",
    "status_counts",
    "tpch_q5_local_supplier_volume",
    "media_features",
    "media_from_files",
    "calendar_dim",
]


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_all_queries_analyze(spark, name):
    df = _QUERIES[name](spark, SF)
    assert df.schema.fields, f"{name} produced an empty schema"


@pytest.mark.parametrize("name", _REPRESENTATIVE)
def test_representative_queries_execute(spark, name):
    assert name in _QUERIES, f"representative query {name} not registered"
    # limit(1) keeps the job tiny while still forcing a real scan+exec
    _QUERIES[name](spark, SF).limit(1).collect()


def test_oracle_keys_subset():
    orphans = set(entry_mod.oracle_sql()) - set(_QUERIES)
    assert not orphans, f"oracle entries without queries: {orphans}"


def test_oracle_columns_match_spark_columns(spark):
    """Bidirectional column-name parity, analysis-only: the driver's
    compare sorts columns BY NAME before hashing values, so a Spark
    alias drifting from its oracle alias hash-mismatches even with
    identical values. DuckDB binds each oracle with LIMIT 0 (no
    execution) and Spark analyzes each plan (no jobs) — the whole
    sweep is seconds, vs minutes for the value-level differential."""
    import duckdb

    from de_project_sprint_etl_spark.schemas import TESTDATA_TABLES

    con = duckdb.connect()
    for tname in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {tname} AS "
            f"SELECT * FROM read_parquet('{SF}/{tname}.parquet')"
        )
    oracles = entry_mod.oracle_sql()
    mismatches = []
    for name, sql in sorted(oracles.items()):
        spark_cols = sorted(_QUERIES[name](spark, SF).columns)
        rel = con.execute(f"SELECT * FROM ({sql}) q LIMIT 0")
        duck_cols = sorted(d[0] for d in rel.description)
        if spark_cols != duck_cols:
            mismatches.append((name, spark_cols, duck_cols))
    assert not mismatches, mismatches


def test_events_ts_decode_adapts_to_physical_type(spark, tmp_path):
    """events_df must yield identical wall-clock timestamps whichever
    physical form a testdata regeneration serializes: int64
    epoch-nanos, timestamp[us] (TIMESTAMP_NTZ), or tz-aware
    timestamp[us, UTC]. This is the drift class that broke round 2."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from de_project_sprint_etl_spark.plans import testdata as td

    base = {
        "event_id": [1, 2],
        "user_id": [10, 11],
        "event_type": ["click", "view"],
        "value": [1.5, 2.5],
        "props": ['{"k":1}', '{"k":2}'],
    }
    micros = [1_704_067_200_000_000, 1_704_070_800_000_000]  # 2024-01-01 UTC

    variants = {
        "nanos_long": pa.array([m * 1000 for m in micros], pa.int64()),
        "micros_long": pa.array(micros, pa.int64()),
        "millis_long": pa.array([m // 1000 for m in micros], pa.int64()),
        "seconds_long": pa.array([m // 1_000_000 for m in micros], pa.int64()),
        "ts_ntz": pa.array(micros, pa.timestamp("us")),
        "ts_utc": pa.array(micros, pa.timestamp("us", tz="UTC")),
    }
    seen = {}
    for vname, arr in variants.items():
        d = tmp_path / vname
        d.mkdir()
        tbl = pa.table({**{k: pa.array(v) for k, v in base.items()}, "ts": arr})
        pq.write_table(tbl, str(d / "events.parquet"))
        ev = td.events_df(spark, str(d))
        assert ev.schema["ts"].dataType.typeName() == "timestamp", vname
        seen[vname] = sorted(
            (r.event_id, r.ts.isoformat()) for r in ev.select("event_id", "ts").collect()
        )
    assert len({tuple(v) for v in seen.values()}) == 1, seen


def test_drifted_fixture_keeps_gate_green(spark, tmp_path):
    """End-to-end drift-proofing for BOTH sides of the correctness gate.

    Round 2 was zeroed by a fixture-generator physical-type change
    (events.ts int64-nanos → timestamp[us]). The Spark scan layer now
    coerces drift (tests above) and ``oracle_sql()`` routes every
    oracle through ``plans.oracle_canon.canonicalize``. This test
    regenerates that scenario deliberately: a fixture dir whose
    physical types are ALL plausibly drifted (epoch-nanos events,
    int32 keys, decimal money, DATE dates) must still produce
    value-identical Spark-vs-DuckDB results through the same compare
    the driver uses (columns sorted by name, rows sorted, stringified
    values)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = "/root/testdata/sf0.001"

    ev = pq.read_table(f"{src}/events.parquet")
    ts = ev.column("ts")
    if not pa.types.is_timestamp(ts.type):
        ts = pc.cast(ts, pa.timestamp("us"))
    nanos = pc.multiply(pc.cast(ts, pa.int64()), pa.scalar(1000, pa.int64()))
    ev = ev.set_column(ev.schema.get_field_index("ts"), "ts", nanos)
    pq.write_table(ev, str(tmp_path / "events.parquet"))

    li = pq.read_table(f"{src}/lineitem.parquet")

    def recast(tbl, col, typ):
        i = tbl.schema.get_field_index(col)
        return tbl.set_column(i, col, pc.cast(tbl.column(col), typ))

    li = recast(li, "l_orderkey", pa.int32())
    li = recast(li, "l_quantity", pa.decimal128(14, 2))
    li = recast(li, "l_extendedprice", pa.decimal128(14, 2))
    li = recast(li, "l_discount", pa.decimal128(14, 4))
    li = recast(li, "l_tax", pa.decimal128(14, 4))
    li = recast(li, "l_shipdate", pa.date32())
    pq.write_table(li, str(tmp_path / "lineitem.parquet"))

    docs = pq.read_table(f"{src}/documents.parquet")
    docs = recast(docs, "doc_id", pa.int32())
    docs = recast(docs, "n_chars", pa.int32())
    pq.write_table(docs, str(tmp_path / "documents.parquet"))

    embt = pq.read_table(f"{src}/embeddings.parquet")
    embt = recast(embt, "vec_id", pa.int32())
    embt = recast(embt, "embedding", pa.list_(pa.float64()))  # float->double
    pq.write_table(embt, str(tmp_path / "embeddings.parquet"))

    con = duckdb.connect()
    for tname in ("events", "lineitem", "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {tname} AS "
            f"SELECT * FROM read_parquet('{tmp_path}/{tname}.parquet')"
        )
    oracles = entry_mod.oracle_sql()
    for name in (
        "events_windowed_agg",
        "tpch_q1_pricing_summary",
        "text_quality",
        "embedding_normalize",
    ):
        sdf = _QUERIES[name](spark, str(tmp_path))
        scols = sorted(sdf.columns)
        srows = sorted(
            tuple(str(r[c]) for c in scols) for r in sdf.collect()
        )
        rel = con.execute(f"SELECT * FROM ({oracles[name]}) q")
        dcols = [d[0] for d in rel.description]
        order = sorted(range(len(dcols)), key=lambda i: dcols[i])
        drows = sorted(
            tuple(str(row[i]) for i in order) for row in rel.fetchall()
        )
        assert scols == sorted(dcols), name
        assert srows == drows, (
            name,
            srows[:3],
            drows[:3],
        )
        assert srows, f"{name} returned no rows on the drifted fixture"


def test_oracle_canonicalize_rewrite_shapes():
    """The rewrite must catch FROM/JOIN refs with and without aliases,
    comma-list refs (TPC-H Q21 style), and must NOT touch qualified
    column refs, CTE names, or other identifiers containing a table
    name."""
    from de_project_sprint_etl_spark.plans.oracle_canon import canonicalize

    out = canonicalize("SELECT * FROM events WHERE user_id = 1")
    assert "FROM (SELECT" in out and out.count("AS events") == 1

    out = canonicalize("SELECT e.ts FROM events e JOIN orders o ON 1=1")
    assert " AS e JOIN (SELECT" in out and " AS o ON 1=1" in out

    out = canonicalize("FROM supplier, lineitem l1, orders, nation WHERE x")
    for frag in (" AS supplier,", " AS l1,", " AS orders,", " AS nation WHERE"):
        assert frag in out, (frag, out)

    # alias-position keywords are not aliases
    out = canonicalize("SELECT 1 FROM events\nWHERE value > 0")
    assert "AS events" in out and "WHERE value > 0" in out
    out = canonicalize("SELECT user_id FROM events GROUP BY user_id")
    assert "AS events GROUP BY user_id" in out

    # unaliased ref followed by JOIN must not eat the keyword — BOTH
    # tables get wrapped (review finding: the keyword was consumed as a
    # pseudo-alias, leaving the next table unprotected)
    out = canonicalize("SELECT 1 FROM lineitem JOIN orders ON a = b")
    assert out.count("(SELECT") == 2, out
    assert " AS lineitem JOIN (SELECT" in out and " AS orders ON a = b" in out

    # untouched: CTE self-names, qualified refs, function-call lookalikes
    sql = "WITH my_events AS (SELECT events.ts FROM events) SELECT * FROM my_events"
    out = canonicalize(sql)
    assert "FROM my_events" in out and "events.ts" in out
    assert out.count("FROM (SELECT") == 1
