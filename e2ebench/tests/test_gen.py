"""The generator is deterministic and decode reads back what it encoded."""

from __future__ import annotations

import io

import numpy as np
import pyarrow.parquet as pq
import pytest

import gen


def _bytes(table) -> bytes:
    buf = io.BytesIO()
    pq.write_table(table, buf)
    return buf.getvalue()


def test_same_seed_gives_byte_identical_logs():
    a, b = gen.raw_logs(5, 3_000), gen.raw_logs(5, 3_000)
    assert _bytes(a.table) == _bytes(b.table)
    assert a.oversold == b.oversold and a.tallies == b.tallies
    assert _bytes(gen.raw_logs(6, 3_000).table) != _bytes(a.table)
    assert _bytes(gen.events_table(5, 1_000)) == _bytes(gen.events_table(5, 1_000))


def test_logs_are_block_ordered_and_tallied():
    logs = gen.raw_logs(3, 4_000)
    t = logs.table
    key = t.column("block_number").to_numpy() * 10_000 + t.column("log_index").to_numpy()
    assert (np.diff(key) > 0).all()
    assert logs.tallies["fills"] == len(logs.fills)
    assert logs.tallies["transfers"] == len(logs.transfers)
    assert t.num_rows == len(logs.fills) + len(logs.transfers)
    parts = gen.split_by_block(t, 4)
    assert sum(p.num_rows for p in parts) == t.num_rows
    last = [p.column("block_number")[-1].as_py() for p in parts[:-1]]
    first = [p.column("block_number")[0].as_py() for p in parts[1:]]
    assert all(a < b for a, b in zip(last, first))


@pytest.fixture(scope="module")
def spark():
    from neomarket_clickhouse_indexer_spark.session import get_spark

    s = get_spark("e2ebench-tests", cores=2, extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_decode_round_trips_every_emitted_event_type(spark, tmp_path):
    from neomarket_clickhouse_indexer_spark.sources import ingest

    logs = gen.raw_logs(9, 3_000)
    pq.write_table(logs.table, tmp_path / "logs.parquet")
    raw = spark.read.schema(ingest.RAW_LOG_SCHEMA).parquet(str(tmp_path))
    topics = {r[0] for r in raw.selectExpr("topics[0]").distinct().collect()}
    assert topics == {ingest.SIG_ORDER_FILLED, ingest.SIG_TRANSFER_SINGLE}

    fills = ingest.decode_order_filled(raw).toPandas()
    want = logs.fills.sort_values("tx_hash").reset_index(drop=True)
    got = fills.sort_values("tx_hash").reset_index(drop=True)
    for c in ("tx_hash", "maker", "taker", "token_id", "is_maker_buy"):
        assert (got[c] == want[c]).all(), c
    for c in ("usdc_amount", "token_amount", "fee"):
        assert (got[c].astype(int) == want[c]).all(), c

    xfers = ingest.decode_transfer_single(raw).toPandas()
    order = ["tx_hash", "log_index"]
    want = logs.transfers.sort_values(order).reset_index(drop=True)
    got = xfers.sort_values(order).reset_index(drop=True)
    for c in ("tx_hash", "log_index", "operator", "from", "to", "token_id"):
        assert (got[c] == want[c]).all(), c
    assert (got["value"].astype(int) == want["value"]).all()
