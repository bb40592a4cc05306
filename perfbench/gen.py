"""Seeded, vectorized input generators.

Two inputs, both a pure function of (seed, shape):

- Kafka-shaped tick files (``key`` binary venue, ``value`` binary JSON
  ticker payload, ``timestamp``), the bronze hop's input. Each file also
  yields the generator's ground truth: the valid ticks it holds, which is
  what the correctness gates and the freshness counts are computed from.
- A testdata-schema ``events`` table (event_id, ts, user_id, event_type,
  value, props), the input of the registered dashboard panels.

No per-row Python: payloads are assembled column-wise with Arrow compute
kernels, so the same seed gives byte-identical parquet files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SYMBOLS = ("BTC-USD", "ETH-USD", "SOL-USD")
#: BTC-heavy key skew, as on a real venue feed
SYMBOL_SHARES = (0.6, 0.3, 0.1)
BASE_CENTS = (6_000_000, 300_000, 15_000)
VENUES = ("coinbase", "binance")
#: trade_id = file seq * stride + row, so any output row names its file
TRADE_ID_STRIDE = 1_000_000
MALFORMED_SHARE = 0.01
HEARTBEAT_SHARE = 0.01
LATE_SHARE = 0.03
#: late ticks move back by up to this much event time (well inside the
#: pipeline's 10-minute watermark, so no tick is ever dropped as too late)
LATE_MAX_US = 120_000_000

KAFKA_SCHEMA = pa.schema(
    [("key", pa.binary()), ("value", pa.binary()), ("timestamp", pa.timestamp("us", tz="UTC"))]
)


@dataclass(frozen=True)
class TickFile:
    """One generated Kafka-shaped file and the valid ticks it carries."""

    seq: int
    records: pa.Table  # KAFKA_SCHEMA
    #: valid ticks: symbol, venue, trade_id, ts_us, price (str), size (str)
    ticks: pa.Table


def _fixed_point(units: np.ndarray, scale: int) -> pa.Array:
    """Non-negative integers in units of 10**-scale -> decimal strings."""
    step = 10**scale
    whole = pc.cast(pa.array(units // step), pa.string())
    frac = pc.utf8_lpad(pc.cast(pa.array(units % step), pa.string()), width=scale, padding="0")
    return pc.binary_join_element_wise(whole, frac, ".")


def tick_file(seed: int, seq: int, n: int, t0_us: int, span_us: int) -> TickFile:
    """``n`` records whose event times fall in [t0_us, t0_us + span_us).

    About 1 % of records are malformed JSON and 1 % heartbeats (both are
    dropped by the silver gate); about 3 % of ticks carry an event time up
    to two minutes earlier than their neighbours (out of order, never
    later than the watermark allows).
    """
    rng = np.random.default_rng([seed, seq])
    ts = np.sort(t0_us + rng.integers(0, span_us, n))
    late = rng.random(n) < LATE_SHARE
    ts = ts - late * rng.integers(0, LATE_MAX_US, n)
    sym = rng.choice(len(SYMBOLS), n, p=SYMBOL_SHARES)
    base = np.asarray(BASE_CENTS)[sym]
    # slow drift plus noise; integer cents so price * size is exact at scale 10
    drift = (np.sin(ts / 3.6e9 + sym) * base // 50).astype(np.int64)
    price = base + drift + rng.integers(-base // 1000, base // 1000 + 1, n)
    size = rng.integers(100_000, 500_000_000, n)  # 0.001 .. 5 units, scale 8
    trade_id = seq * TRADE_ID_STRIDE + np.arange(n)
    venue = rng.integers(0, len(VENUES), n)
    kind = rng.random(n)
    malformed = kind < MALFORMED_SHARE
    heartbeat = (kind >= MALFORMED_SHARE) & (kind < MALFORMED_SHARE + HEARTBEAT_SHARE)
    valid = ~(malformed | heartbeat)

    ts_arr = pa.array(ts.astype("datetime64[us]"))
    time_s = pc.strftime(ts_arr, format="%Y-%m-%dT%H:%M:%SZ")
    sym_s = pa.array(np.asarray(SYMBOLS, dtype=object)[sym], pa.string())
    price_s = _fixed_point(price, 2)
    size_s = _fixed_point(size, 8)
    id_s = pc.cast(pa.array(trade_id), pa.string())
    side_s = pa.array(np.where(rng.random(n) < 0.5, "buy", "sell"), pa.string())
    ticker = pc.binary_join_element_wise(
        '{"type":"ticker","sequence":', id_s,
        ',"product_id":"', sym_s,
        '","price":"', price_s,
        '","time":"', time_s,
        '","trade_id":', id_s,
        ',"last_size":"', size_s,
        '","side":"', side_s, '"}', "",
    )
    beat = pc.binary_join_element_wise(
        '{"type":"heartbeat","sequence":', id_s, ',"time":"', time_s, '"}', ""
    )
    broken = pc.utf8_slice_codeunits(ticker, 0, -9)  # truncated mid-payload
    value = pc.if_else(pa.array(heartbeat), beat, pc.if_else(pa.array(malformed), broken, ticker))
    venue_s = pa.array(np.asarray(VENUES, dtype=object)[venue], pa.string())
    records = pa.table(
        {
            "key": pc.cast(venue_s, pa.binary()),
            "value": pc.cast(value, pa.binary()),
            "timestamp": pc.cast(ts_arr, pa.timestamp("us", tz="UTC")),
        },
        schema=KAFKA_SCHEMA,
    )
    mask = pa.array(valid)
    ticks = pa.table(
        {
            "symbol": sym_s.filter(mask),
            "venue": venue_s.filter(mask),
            "trade_id": pa.array(trade_id).filter(mask),
            "ts_us": pa.array(ts).filter(mask),
            "price": price_s.filter(mask),
            "size": size_s.filter(mask),
        }
    )
    return TickFile(seq, records, ticks)


def write_parquet(table: pa.Table, path: str) -> None:
    """Deterministic single-row-group parquet (same table -> same bytes)."""
    pq.write_table(table, path, compression="snappy", row_group_size=max(1, table.num_rows))


def backlog(seed: int, *, files: int, ticks_per_file: int, hours: float, t0_us: int) -> list[TickFile]:
    """A replay backlog: ``files`` consecutive slices of ``hours`` of event time."""
    span = int(hours * 3.6e9) // files
    return [tick_file(seed, k, ticks_per_file, t0_us + k * span, span) for k in range(files)]


def write_backlog(tick_files: list[TickFile], raw_dir: str) -> None:
    os.makedirs(raw_dir, exist_ok=True)
    for f in tick_files:
        write_parquet(f.records, os.path.join(raw_dir, f"ticks-{f.seq:06d}.parquet"))


EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
EVENT_TYPE_SHARES = (0.4, 0.3, 0.1, 0.1, 0.1)


def events_table(seed: int, *, rows: int, days: int = 30, users: int = 1500) -> pa.Table:
    """A testdata-schema ``events`` table: event times over ``days`` days
    from 2024-01-01, ``users`` users, prices with two decimals and a
    ``{"k": N}`` props payload (the tick mapping's size)."""
    rng = np.random.default_rng([seed, 0xE7])
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, days * 86_400_000_000, rows))
    etype = rng.choice(len(EVENT_TYPES), rows, p=EVENT_TYPE_SHARES)
    value = np.round(rng.gamma(2.0, 30.0, rows), 2)
    k = pc.cast(pa.array(rng.integers(0, 100, rows)), pa.string())
    return pa.table(
        {
            "event_id": pa.array(np.arange(rows, dtype=np.int64)),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, users, rows)),
            "event_type": pa.array(np.asarray(EVENT_TYPES, dtype=object)[etype], pa.string()),
            "value": pa.array(value),
            "props": pc.binary_join_element_wise('{"k": ', k, "}", ""),
        }
    )
