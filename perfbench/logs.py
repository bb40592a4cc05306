"""Post-run readers for the logs the engine writes anyway, and the
latency figures computed from them.

Nothing here runs during a timed window: freshness is reconstructed after
the run from the generator's publish log, the streaming sinks' and
checkpoints' metadata logs, and the Delta ``_delta_log``. So measuring it
costs the pipeline nothing.
"""

from __future__ import annotations

import glob
import json
import math
import os
import time
from collections import defaultdict

import pyarrow as pa
import pyarrow.parquet as pq

# ------------------------------------------------------------ percentiles


def percentile(values, q: float) -> float:
    """Nearest-rank ``q``-quantile (0 < q <= 1) of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    return float(xs[max(0, math.ceil(q * len(xs)) - 1)])


def beyond(n: int, q: float) -> int:
    """Samples strictly above the nearest-rank ``q``-quantile of ``n``."""
    return n - max(1, math.ceil(q * n))


def tail_percentile(values, q: float, min_beyond: int = 10) -> float:
    """The ``q``-quantile, refused unless at least ``min_beyond`` samples
    lie beyond it: a tail figure resting on fewer samples does not repeat."""
    if beyond(len(values), q) < min_beyond:
        raise ValueError(
            f"p{round(q * 100)} of {len(values)} samples has only "
            f"{beyond(len(values), q)} beyond it (need {min_beyond})"
        )
    return percentile(values, q)


def median(values) -> float:
    return percentile(values, 0.5)


# ------------------------------------------------------- structured streaming


def _name(uri: str) -> str:
    return uri.rsplit("/", 1)[-1]


def _metadata_log(log_dir: str) -> list[tuple[int, float, list[dict]]]:
    """(batch id, commit time s, entries) per file of a streaming metadata
    log (a sink's ``_spark_metadata`` or a checkpoint's ``sources/0``).
    Compacted files (``<id>.compact``) hold every entry up to their batch."""
    out = []
    for path in glob.glob(os.path.join(log_dir, "*")):
        base = os.path.basename(path)
        stem = base[: -len(".compact")] if base.endswith(".compact") else base
        if not stem.isdigit():
            continue
        with open(path, encoding="utf-8") as fh:
            lines = fh.read().splitlines()[1:]  # first line is the "v1" header
        out.append((int(stem), os.stat(path).st_mtime, [json.loads(x) for x in lines if x]))
    return sorted(out, key=lambda t: t[0])


def sink_batches(table_dir: str) -> list[tuple[int, float, set[str]]]:
    """(batch id, commit time s, data files first listed by it) for a
    parquet streaming sink."""
    seen: set[str] = set()
    out = []
    for batch, mtime, entries in _metadata_log(os.path.join(table_dir, "_spark_metadata")):
        files = {_name(e["path"]) for e in entries} - seen
        seen |= files
        out.append((batch, mtime, files))
    return out


def source_batches(checkpoint: str) -> dict[str, int]:
    """Input file name -> id of the micro-batch that consumed it, from a
    file-source checkpoint log."""
    return {
        _name(e["path"]): int(e["batchId"])
        for _b, _m, entries in _metadata_log(os.path.join(checkpoint, "sources", "0"))
        for e in entries
    }


def sink_commit_of(table_dir: str) -> dict[str, float]:
    """Data file name -> commit time of the sink batch that published it."""
    return {f: mtime for _b, mtime, files in sink_batches(table_dir) for f in files}


def hop_commit_by_input(checkpoint: str, table_dir: str) -> dict[str, float]:
    """Input file -> commit time of the batch of this hop that consumed it.

    A file source consumes each input file whole in one batch, and that
    batch's output is committed once; so every row of an input file is
    visible downstream from that one commit on."""
    consumed = source_batches(checkpoint)
    commit = {b: mtime for b, mtime, _f in sink_batches(table_dir)}
    return {f: commit[b] for f, b in consumed.items() if b in commit}


def silver_commit_by_raw(ckpt: dict[str, str], paths: dict[str, str]) -> dict[str, float]:
    """Raw tick file -> commit time of the silver batch holding its rows.

    Follows raw file -> bronze batch -> bronze output files -> silver
    batch through the checkpoint and sink logs."""
    bronze_src = source_batches(ckpt["bronze"])
    bronze_out = {b: files for b, _m, files in sink_batches(paths["bronze"])}
    silver_commit = hop_commit_by_input(ckpt["silver"], paths["silver"])
    out = {}
    for raw, b in bronze_src.items():
        times = [silver_commit[f] for f in bronze_out.get(b, ()) if f in silver_commit]
        if times:
            out[raw] = max(times)
    return out


# ------------------------------------------------------------------- delta


def delta_commits(table_dir: str, since: int = 0) -> list[dict]:
    """Every commit of a Delta table from version ``since`` on: version,
    commitInfo timestamp (ms), the adds and removes."""
    out = []
    for path in sorted(glob.glob(os.path.join(table_dir, "_delta_log", "*.json"))):
        stem = os.path.basename(path)[:-5]
        if not stem.isdigit() or int(stem) < since:
            continue
        with open(path, encoding="utf-8") as fh:
            actions = [json.loads(x) for x in fh if x.strip()]
        info = next(a["commitInfo"] for a in actions if "commitInfo" in a)
        out.append(
            {
                "version": int(stem),
                "ts_ms": int(info["timestamp"]),
                "adds": [a["add"] for a in actions if "add" in a],
                "removes": [a["remove"] for a in actions if "remove" in a],
            }
        )
    return sorted(out, key=lambda c: c["version"])


def candle_counts_by_version(table_dir: str, commits: list[dict]):
    """Yield (commit, {(window_start_us, symbol): trade_count}) for the
    rows each commit adds. A row in an added file is live at that version,
    so its count is the candle's count as of that commit."""
    for c in commits:
        counts = {}
        for a in c["adds"]:
            if a.get("deletionVector"):
                raise ValueError("freshness reconstruction needs DV-free adds")
            t = pq.read_table(
                os.path.join(table_dir, a["path"]),
                columns=["window_start", "symbol", "trade_count"],
            )
            ws_col = t.column("window_start")
            ws = ws_col.cast(pa.timestamp("us", tz=ws_col.type.tz)).cast(pa.int64()).to_pylist()
            for w, s, n in zip(ws, t.column("symbol").to_pylist(), t.column("trade_count").to_pylist()):
                counts[(w, s)] = n
        yield c, counts


class CandleWatch:
    """Follows a Delta candle table's log and keeps each candle's latest
    trade_count, to tell when given tick counts have all landed."""

    def __init__(self, table_dir: str) -> None:
        self.table_dir = table_dir
        self.next_version = 0
        self.counts: dict[tuple[int, str], int] = {}

    def holds(self, totals: dict[tuple[int, str], int]) -> bool:
        commits = delta_commits(self.table_dir, since=self.next_version)
        for c, counts in candle_counts_by_version(self.table_dir, commits):
            self.counts.update(counts)
            self.next_version = c["version"] + 1
        return all(self.counts.get(k, 0) >= n for k, n in totals.items())

    def wait(self, totals: dict[tuple[int, str], int], timeout_s: float, poll_s: float = 0.1) -> None:
        deadline = time.time() + timeout_s
        while not self.holds(totals):
            if time.time() > deadline:
                raise TimeoutError(f"candles did not reach the Delta table within {timeout_s} s")
            time.sleep(poll_s)


def candle_freshness(
    publish: list[tuple[float, dict[tuple[int, str], int]]],
    versions,
) -> list[float]:
    """Milliseconds from each file's publish to the first Delta version
    whose candle holds that file's ticks, one sample per (file, window,
    symbol) the file touches.

    ``publish`` is the generator's log in publish order: (publish time s,
    {(window_start_us, symbol): ticks in the file}). Files are consumed in
    publish order, so a candle holds file k's ticks once its trade_count
    reaches the running count over files 0..k. ``versions`` is what
    `candle_counts_by_version` yields, in version order."""
    pending: dict = defaultdict(list)  # key -> [(running count, file index)], ascending
    cum: dict = defaultdict(int)
    for i, (_t, per_key) in enumerate(publish):
        for key, n in per_key.items():
            cum[key] += n
            pending[key].append((cum[key], i))
    out = {}
    for commit, counts in versions:
        for key, n in counts.items():
            lst = pending.get(key)
            while lst and lst[0][0] <= n:
                _n, i = lst.pop(0)
                out[(i, key)] = commit["ts_ms"] / 1000.0 - publish[i][0]
    missing = sum(len(v) for v in pending.values())
    if missing:
        raise ValueError(f"{missing} (file, candle) pairs never reached the Delta table")
    return [1000.0 * v for v in out.values()]


# --------------------------------------------------------------- event log


def _events(paths: list[str]):
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            for line in fh:
                yield json.loads(line)


def executor_totals(event_log_dir: str, hop_of_query: dict[str, str], since_s: float = 0.0) -> dict[str, float]:
    """Totals over the tasks that finished from ``since_s`` on, from the
    newest Spark event log in ``event_log_dir``; and executor CPU per
    streaming hop (a job's ``sql.streaming.queryId`` property names its
    query; ``hop_of_query`` maps query ids to hops)."""
    apps = glob.glob(os.path.join(event_log_dir, "*"))
    if not apps:
        return {}
    app = max(apps, key=os.path.getmtime)
    # Spark 4 writes a rolling log: a directory of events_<n>_<app id> files
    parts = (
        sorted(glob.glob(os.path.join(app, "events_*")), key=lambda p: int(os.path.basename(p).split("_")[1]))
        if os.path.isdir(app)
        else [app]
    )
    stage_hop: dict[int, str] = {}
    tot: dict[str, float] = defaultdict(float)
    for ev in _events(parts):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            hop = hop_of_query.get((ev.get("Properties") or {}).get("sql.streaming.queryId"))
            if hop is not None:
                for s in ev.get("Stage IDs", []):
                    stage_hop[s] = hop
        elif kind == "SparkListenerTaskEnd":
            if (ev.get("Task Info") or {}).get("Finish Time", 0) < 1000.0 * since_s:
                continue
            m = ev.get("Task Metrics") or {}
            cpu_ms = m.get("Executor CPU Time", 0) / 1e6
            sr = m.get("Shuffle Read Metrics") or {}
            tot["tasks"] += 1
            tot["run_ms"] += m.get("Executor Run Time", 0)
            tot["cpu_ms"] += cpu_ms
            tot["gc_ms"] += m.get("JVM GC Time", 0)
            tot["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            tot["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            tot["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            hop = stage_hop.get(ev.get("Stage ID"))
            if hop is not None:
                tot[f"{hop}.cpu_ms"] += cpu_ms
    return dict(tot)
