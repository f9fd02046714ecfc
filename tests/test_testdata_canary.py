"""Canary for driver-testdata drift.

Round 5 was broken by a silent regeneration of the shipped parquet
(events.ts changed encoding) that no fixture-based test could see. This
canary loads every table through the engine's readers at sf0.001 and
pins the COLUMN SET and the semantic dtypes the engine depends on, so
the next regeneration that changes shape fails here first, with a
message naming the drift.
"""

from __future__ import annotations

import os

import pytest

from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import (
    TESTDATA_TABLES,
    read_table,
)

SF_DIR = "/root/testdata/sf0.001"

EXPECTED_COLUMNS = {
    "region": {"r_regionkey", "r_name"},
    "nation": {"n_nationkey", "n_name", "n_regionkey"},
    "customer": {"c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"},
    "supplier": {"s_suppkey", "s_name", "s_nationkey", "s_acctbal"},
    "part": {"p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"},
    "orders": {
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    },
    "lineitem": {
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    },
    "events": {"event_id", "ts", "user_id", "event_type", "value", "props"},
    "documents": {"doc_id", "text", "lang", "source", "n_chars"},
    "embeddings": {"vec_id", "label", "embedding"},
}


@pytest.mark.parametrize("table", TESTDATA_TABLES)
def test_table_loads_with_expected_shape(spark, table):
    if not os.path.exists(os.path.join(SF_DIR, f"{table}.parquet")):
        pytest.skip("testdata not present")
    df = read_table(spark, SF_DIR, table)
    assert set(df.columns) == EXPECTED_COLUMNS[table], (
        f"{table} columns drifted: {sorted(df.columns)}"
    )
    assert df.count() > 0


def test_semantic_dtypes_pinned(spark):
    """The dtypes engine semantics depend on: event time must surface as
    plain timestamp (watermarks reject NTZ), embeddings as array<float>,
    document text as string."""
    ev = dict(read_table(spark, SF_DIR, "events").dtypes)
    assert ev["ts"] == "timestamp", f"events.ts drifted to {ev['ts']}"
    assert ev["value"] == "double"
    emb = dict(read_table(spark, SF_DIR, "embeddings").dtypes)
    assert emb["embedding"].startswith("array<"), emb["embedding"]
    docs = dict(read_table(spark, SF_DIR, "documents").dtypes)
    assert docs["text"] == "string"
    li = dict(read_table(spark, SF_DIR, "lineitem").dtypes)
    assert li["l_shipdate"] == "timestamp", li["l_shipdate"]
    orders = dict(read_table(spark, SF_DIR, "orders").dtypes)
    assert orders["o_orderdate"] == "timestamp", orders["o_orderdate"]


def test_read_table_stream_multifile_directory(spark, tmp_path):
    """A multi-file table directory (the only shape that exists at real
    scale) must stream ALL its rows — the pathGlobFilter form silently
    streamed zero (the glob never matches leaf part files)."""
    from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import (
        read_table,
        read_table_stream,
    )
    from nyc_yellow_taxi_trip_data_pipeline_spark.streaming.pipeline import (
        replay_to_memory,
    )

    sf = str(tmp_path)
    src = read_table(spark, "/root/testdata/sf0.001", "events")
    src.repartition(3).write.parquet(f"{sf}/events.parquet")
    n_expected = src.count()

    stream = read_table_stream(spark, sf, "events")
    out = replay_to_memory(stream, "canary_multifile", "append", 4)
    assert out.count() == n_expected
