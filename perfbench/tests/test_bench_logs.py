"""Post-run log readers: percentiles, streaming metadata logs and
freshness reconstructed from a hand-built Delta commit log."""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import logs


def test_tail_percentile_needs_ten_samples_beyond():
    assert logs.beyond(100, 0.9) == 10
    assert logs.tail_percentile(list(range(1, 101)), 0.9) == 90.0
    with pytest.raises(ValueError):
        logs.tail_percentile(list(range(1, 100)), 0.9)
    assert logs.tail_percentile(list(range(40)), 0.75) == 29.0
    with pytest.raises(ValueError):
        logs.tail_percentile(list(range(39)), 0.75)


def test_median_is_nearest_rank():
    assert logs.median([3.0, 1.0, 2.0]) == 2.0
    assert logs.median([4.0, 1.0, 3.0, 2.0]) == 2.0


def _write_log(d, name, entries, mtime):
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, name)
    with open(path, "w") as fh:
        fh.write("v1\n" + "\n".join(json.dumps(e) for e in entries) + "\n")
    os.utime(path, (mtime, mtime))


def test_silver_commit_follows_raw_to_bronze_to_silver(tmp_path):
    ck = {h: str(tmp_path / "ck" / h) for h in ("bronze", "silver")}
    paths = {h: str(tmp_path / h) for h in ("bronze", "silver")}
    src = lambda f, b: {"path": f"file:///x/{f}", "timestamp": 0, "batchId": b}  # noqa: E731
    sink = lambda f: {"path": f"file:///y/{f}", "size": 1, "action": "add"}  # noqa: E731
    _write_log(ck["bronze"] + "/sources/0", "0", [src("r0", 0), src("r1", 0)], 10.0)
    _write_log(ck["bronze"] + "/sources/0", "1", [src("r2", 1)], 11.0)
    _write_log(paths["bronze"] + "/_spark_metadata", "0", [sink("b0")], 10.5)
    _write_log(paths["bronze"] + "/_spark_metadata", "1.compact", [sink("b0"), sink("b1")], 11.5)
    _write_log(ck["silver"] + "/sources/0", "0", [src("b0", 0)], 12.0)
    _write_log(ck["silver"] + "/sources/0", "1", [src("b1", 1)], 13.0)
    _write_log(paths["silver"] + "/_spark_metadata", "0", [sink("s0")], 12.5)
    _write_log(paths["silver"] + "/_spark_metadata", "1", [sink("s1")], 13.5)
    assert logs.silver_commit_by_raw(ck, paths) == {"r0": 12.5, "r1": 12.5, "r2": 13.5}


def _commit(table, version, ts_ms, rows):
    name = f"part-{version}.parquet"
    pq.write_table(
        pa.table(
            {
                "window_start": pa.array([w for w, _s, _n in rows], pa.timestamp("us", tz="UTC")),
                "symbol": [s for _w, s, _n in rows],
                "trade_count": pa.array([n for _w, _s, n in rows], pa.int64()),
            }
        ),
        os.path.join(table, name),
    )
    log = os.path.join(table, "_delta_log")
    os.makedirs(log, exist_ok=True)
    with open(os.path.join(log, f"{version:020d}.json"), "w") as fh:
        fh.write(json.dumps({"commitInfo": {"timestamp": ts_ms}}) + "\n")
        fh.write(json.dumps({"add": {"path": name, "size": 1, "dataChange": True}}) + "\n")


def test_candle_freshness_from_a_hand_built_commit_log(tmp_path):
    table = str(tmp_path / "gold")
    os.makedirs(table)
    w0, w1 = 0, 60_000_000
    # file 0 (published at 100 s): 3 ticks of (w0, A); file 1 (101 s): 2 of (w0, A), 1 of (w1, B)
    publish = [(100.0, {(w0, "A"): 3}), (101.0, {(w0, "A"): 2, (w1, "B"): 1})]
    _commit(table, 0, 100_500, [(w0, "A", 3)])  # file 0 lands
    _commit(table, 1, 102_000, [(w1, "B", 1)])  # half of file 1
    _commit(table, 2, 103_250, [(w0, "A", 5), (w1, "B", 1)])  # the rest
    commits = logs.delta_commits(table)
    got = logs.candle_freshness(publish, logs.candle_counts_by_version(table, commits))
    assert sorted(got) == sorted([500.0, 1000.0, 2250.0])
    watch = logs.CandleWatch(table)
    assert watch.holds({(w0, "A"): 5, (w1, "B"): 1})
    assert not watch.holds({(w0, "A"): 6})


def test_candle_freshness_refuses_ticks_that_never_landed(tmp_path):
    table = str(tmp_path / "gold")
    os.makedirs(table)
    _commit(table, 0, 1_000, [(0, "A", 1)])
    with pytest.raises(ValueError):
        logs.candle_freshness(
            [(0.0, {(0, "A"): 2})], logs.candle_counts_by_version(table, logs.delta_commits(table))
        )
