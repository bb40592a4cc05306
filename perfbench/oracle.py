"""Reference results the correctness gates compare the engine against.

Candles are recomputed in DuckDB from the generator's ground truth (the
valid ticks, with the same price/size strings the JSON payload carries),
so the engine's JSON parse, message gate, decimal casts and aggregation
are all checked end to end. Panels are compared with their registered
DuckDB oracle over the generated ``events`` table.
"""

from __future__ import annotations

from decimal import Decimal

import duckdb
import pandas as pd
import pyarrow as pa

#: mirrors operators.gold.candles: open/close by (event time, trade_id),
#: exact decimal(25,10) sums (price has 2 decimals and size 8, so each
#: price * size term is exact at scale 10 and no rounding rule matters)
_CANDLES_SQL = """
WITH t AS (
  SELECT symbol, trade_id, make_timestamp(ts_us) AS ts,
         CAST(price AS DECIMAL(18,8)) AS price, CAST(size AS DECIMAL(18,8)) AS size
  FROM ticks
), g AS (
  SELECT date_trunc('minute', ts) AS ws, symbol,
         arg_min(price, epoch_us(ts)::HUGEINT * 1000000000000 + trade_id) AS open,
         max(price) AS high, min(price) AS low,
         arg_max(price, epoch_us(ts)::HUGEINT * 1000000000000 + trade_id) AS close,
         count(*) AS trade_count,
         SUM(CAST(CAST(price AS DECIMAL(38,8)) * size AS DECIMAL(25,10))) AS sum_pv,
         SUM(CAST(size AS DECIMAL(25,10))) AS sum_volume
  FROM t GROUP BY 1, 2
)
SELECT epoch_us(ws) AS window_start_us, symbol, CAST(open AS VARCHAR) AS open,
       CAST(high AS VARCHAR) AS high, CAST(low AS VARCHAR) AS low,
       CAST(close AS VARCHAR) AS close, trade_count,
       CAST(sum_pv AS VARCHAR) AS sum_pv, CAST(sum_volume AS VARCHAR) AS sum_volume
FROM g {where}
"""

CANDLE_COLUMNS = [
    "window_start_us", "symbol", "open", "high", "low", "close",
    "trade_count", "sum_pv", "sum_volume", "vwap",
]


def _norm_dec(v) -> str:
    d = Decimal(str(v)).normalize()
    return format(d, "f")


def _canon_candles(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    for c in ("open", "high", "low", "close", "sum_pv", "sum_volume"):
        df[c] = [_norm_dec(v) for v in df[c]]
    if "vwap" not in df:
        # as the engine derives it: each exact sum rounded once to double,
        # then one IEEE division
        df["vwap"] = [
            float(Decimal(a)) / float(Decimal(b)) for a, b in zip(df["sum_pv"], df["sum_volume"])
        ]
    df["trade_count"] = df["trade_count"].astype("int64")
    df["window_start_us"] = df["window_start_us"].astype("int64")
    return df[CANDLE_COLUMNS].sort_values(["window_start_us", "symbol"], ignore_index=True)


def oracle_candles(ticks: pa.Table, *, finalized_by_watermark_us: int | None = None) -> pd.DataFrame:
    """Batch candles over ``ticks``; with ``finalized_by_watermark_us``,
    only the windows an append-mode stream has emitted once its watermark
    (max event time minus the delay) passed their end — the predicate of
    the registered ``streaming_gold_candles_availablenow`` oracle."""
    where = ""
    if finalized_by_watermark_us is not None:
        where = (
            "WHERE epoch_us(ws) + 60000000 <= "
            f"(SELECT max(ts_us) FROM ticks) - {int(finalized_by_watermark_us)}"
        )
    con = duckdb.connect()
    try:
        con.register("ticks", ticks)
        df = con.execute(_CANDLES_SQL.format(where=where)).df()
    finally:
        con.close()
    return _canon_candles(df)


def engine_candles(df: pd.DataFrame) -> pd.DataFrame:
    """Canonical form of an engine candle frame (operators.gold.candles
    columns, as read back from parquet or Delta), keeping its own vwap."""
    ws = df["window_start"]
    if getattr(ws.dt, "tz", None) is not None:
        ws = ws.dt.tz_convert("UTC").dt.tz_localize(None)
    out = df[["symbol", "open", "high", "low", "close", "trade_count", "sum_pv", "sum_volume"]].copy()
    out["window_start_us"] = ws.astype("datetime64[us]").astype("int64")
    out["vwap"] = df["vwap"].astype(float)
    return _canon_candles(out)


def diff_frames(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal, else a one-line description of the first mismatch."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)} expected"
    for c in got.columns:
        a, b = got[c].reset_index(drop=True), want[c].reset_index(drop=True)
        bad = ~((a == b) | (a.isna() & b.isna()))
        if bad.any():
            i = int(bad.idxmax())
            return f"column {c} row {i}: {a[i]!r} != {b[i]!r}"
    return None


def canon_panel(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive canonical form of a panel result (columns sorted
    by name, timestamps as naive UTC micros, rows sorted)."""
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dtype, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]")
        elif s.dtype == object and any(isinstance(v, Decimal) for v in s.dropna().head(1)):
            # Spark hands decimals over as Decimal, DuckDB as double
            df[c] = s.map(lambda v: None if v is None else float(v))
    return df.sort_values(list(df.columns), ignore_index=True)


def registry_oracle(sql: str, events_path: str) -> pd.DataFrame:
    """Run a registered DuckDB oracle over the generated events file."""
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_path}')")
        return canon_panel(con.execute(sql).df())
    finally:
        con.close()
