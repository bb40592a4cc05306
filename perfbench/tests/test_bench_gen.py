"""Generators: same seed -> byte-identical files; the ground truth they
report matches the records they write."""

import io
import json

import pyarrow.parquet as pq

import gen


def _bytes(table) -> bytes:
    buf = io.BytesIO()
    pq.write_table(table, buf, compression="snappy", row_group_size=max(1, table.num_rows))
    return buf.getvalue()


def test_tick_files_are_byte_identical_per_seed():
    a = gen.tick_file(7, 3, 2_000, 1_704_067_200_000_000, 60_000_000)
    b = gen.tick_file(7, 3, 2_000, 1_704_067_200_000_000, 60_000_000)
    c = gen.tick_file(8, 3, 2_000, 1_704_067_200_000_000, 60_000_000)
    assert _bytes(a.records) == _bytes(b.records)
    assert _bytes(a.records) != _bytes(c.records)


def test_events_table_is_byte_identical_per_seed():
    assert _bytes(gen.events_table(5, rows=3_000)) == _bytes(gen.events_table(5, rows=3_000))
    assert _bytes(gen.events_table(5, rows=3_000)) != _bytes(gen.events_table(6, rows=3_000))


def test_ground_truth_is_the_valid_ticker_records():
    f = gen.tick_file(1, 2, 5_000, 1_704_067_200_000_000, 600_000_000)
    parsed = []
    malformed = heartbeat = 0
    for rec in f.records.column("value").to_pylist():
        try:
            msg = json.loads(rec)
        except json.JSONDecodeError:
            malformed += 1
            continue
        if msg["type"] == "heartbeat":
            heartbeat += 1
        else:
            parsed.append(msg)
    assert 0 < malformed < 150 and 0 < heartbeat < 150
    truth = f.ticks.to_pylist()
    assert len(truth) == len(parsed)
    for msg, t in zip(parsed, truth):
        assert msg["trade_id"] == t["trade_id"] and msg["product_id"] == t["symbol"]
        assert msg["price"] == t["price"] and msg["last_size"] == t["size"]
    # every trade_id names its file
    assert {t["trade_id"] // gen.TRADE_ID_STRIDE for t in truth} == {2}


def test_some_ticks_arrive_out_of_order_within_the_watermark():
    f = gen.tick_file(1, 0, 5_000, 1_704_067_200_000_000, 60_000_000)
    ts = f.ticks.column("ts_us").to_pylist()
    back = [a - b for a, b in zip(ts, ts[1:]) if b < a]
    assert len(back) > 50
    assert max(back) <= gen.LATE_MAX_US
