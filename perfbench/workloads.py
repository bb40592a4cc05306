"""The two workloads. Each drives the engine only through its public
functions, checks the engine's outputs, and returns its metrics.

- ``tick_pipeline``: two phases in one session. Replay: a seeded backlog
  drained bronze -> silver -> gold with ``run_medallion_available_now``,
  bound by data volume. Live: an open-loop generator publishes tick files
  on a fixed schedule while bronze, silver and a Delta-MERGE gold run
  concurrently and one closed-loop reader snapshots the Delta table,
  bound by the fixed cost per trigger.
- ``dashboard_reads``: one closed-loop user refreshes the dashboard and
  its panels over a seeded ``events`` table; the batch read path only.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import threading
import time
import traceback
from collections import Counter, defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds

import gen
import logs
import oracle
from cpu import CpuClock
from spans import ProgressListener, Tracer, trigger_spans

from cryptopulse_real_time_arbitrage_detection_lakehouse_spark import plans, streaming
from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.dashboard import dashboard_payload
from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.schemas import (
    BRONZE_SCHEMA,
    KAFKA_SHAPED_SCHEMA,
    SILVER_SCHEMA,
)
from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.session import get_spark
from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.delta import DeltaTable

HOPS = ("bronze", "silver", "gold")
WATERMARK_US = 10 * 60 * 1_000_000  # streaming.jobs.DEFAULT_WATERMARK
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

REPLAY = {"files": 10, "ticks_per_file": 10_000, "hours": 5.0}
#: at 3-4 s of wall time a drain, six of them take about as long as a run
#: measures, so nearly every run takes its median over the same six
MIN_DRAINS = 6
#: share of ``--seconds`` a traced run spends draining the backlog; its
#: live phase runs for the rest
REPLAY_SHARE = 1 / 2

#: 1,000 ticks/s. At 2,000 ticks/s the gold MERGE hop was busy about 90 %
#: of the time on 2 worker threads, so freshness measured queueing on a
#: saturated hop rather than the per-trigger cost. Four files a second give
#: silver freshness (one sample per file) enough samples for its p75.
LIVE_FILES_PER_S = 4
LIVE_TICKS_PER_FILE = 250
LIVE_WARM_FILES = 2
LIVE_DRAIN_TIMEOUT_S = 90

DASH_ROWS = 30_000
DASH_WARM_REFRESHES = 3
#: CPU time per refresh still falls as the JIT compiles more of the code;
#: six refreshes take about as long as a run measures, so nearly every run
#: takes its median over the same six, whatever the host's speed
MIN_REFRESHES = 6
#: panel order of one refresh. arbitrage_spreads_1m, tick_running_vwap and
#: candle_rsi (together ~4 s of a ~7 s refresh on 4 cores) are left out so
#: that a run, set-up included, stays within its time budget.
PANELS = (
    "gold_latest_candles",
    "candle_close_delta",
    "tick_dedup_first_per_minute",
    "tick_new_high_alerts",  # pandas kernel
    "candle_macd",  # Arrow kernel
)
KERNEL_PANELS = ("tick_new_high_alerts", "candle_macd")
#: recursive-CTE oracle (minutes at this size): checked in the benchmark's
#: own tests at a small size; here each refresh must repeat the first
UNCHECKED_ORACLE = ("candle_macd",)


def per_layer_names() -> list[str]:
    """Every per-layer metric, in a fixed order. A workload that does not
    exercise a layer reports 0 for it."""
    names = ["session.get_spark_s", "session.jvm_peak_rss_mb", "session.py_peak_rss_mb"]
    for hop in HOPS:
        p = f"streaming.{hop}."
        names += [p + f"{ph}_ms_p50" for ph in ("trigger", "addBatch", "latestOffset", "queryPlanning", "walCommit", "commitOffsets")]
        names += [p + x for x in ("batches", "nodata_batches", "rows_in", "busy_share", "wait_ms_p50", "rows_per_s", "cpu_ms")]
    names += [
        "streaming.gold.state_commit_ms_p50", "streaming.gold.state_rows",
        "streaming.gold.state_mem_bytes", "streaming.gold.rows_dropped_by_watermark",
        "streaming.silver.fresh_p50_ms", "streaming.silver.fresh_p75_ms", "streaming.silver.fresh_samples",
        "streaming.gold.fresh_p50_ms", "streaming.gold.fresh_p90_ms", "streaming.gold.fresh_samples",
        "replay.drain_ms_p50", "replay.ticks_per_s", "live.cpu_s",
        "sources.delta.merge_ms_p50", "sources.delta.versions", "sources.delta.files_added",
        "sources.delta.files_removed", "sources.delta.bytes_written_per_row",
        "sources.delta.read_plan_ms_p50", "sources.delta.read_exec_ms_p50",
        "sources.delta.files_scanned_p50", "sources.delta.reads",
    ]
    for q in PANELS:
        names += [f"plans.{q}.fn_ms_p50", f"plans.{q}.catalyst_ms_p50", f"plans.{q}.exec_ms_p50"]
    names += [f"plans.{q}.python_ms" for q in KERNEL_PANELS]
    names += ["plans.gold_build_s", "plans.cover_ratio_min"]
    names += ["dashboard.payload_ms_p50", "dashboard.panel_ms_p50", "dashboard.refresh_ms_p50"]
    names += [f"executor.{x}" for x in ("tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")]
    names += ["gen.late_ms_max", "gen.backlog_files_max", "gen.drain_s", "tmp.dirs_left"]
    names += ["trace.cpu_s_per_op", "trace.record_ms", "trace.spans"]
    names += [f"self_ms.{s}" for s in SELF_SPANS]
    return names


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    leaf = name.rsplit(".", 1)[-1]
    if name.startswith("self_ms.") or "_ms" in leaf:
        return "ms"
    for suffix, unit in (("_per_s", "1/s"), ("_s_per_op", "s"), ("_per_row", "bytes/row"), ("_s", "s"), ("_mb", "MB"),
                         ("_bytes", "bytes"), ("_share", "ratio"), ("_min", "ratio")):
        if leaf.endswith(suffix):
            return unit
    return "count"


SELF_SPANS = (
    "replay.drain", "gen.publish", "streaming.bronze.trigger", "streaming.silver.trigger",
    "streaming.gold.trigger", "sources.delta.read", "sources.delta.collect",
    "plans.fn", "plans.exec", "dashboard.payload",
)


class Run:
    """One benchmark run: scratch dirs, the session, tracing and the
    operation tally."""

    def __init__(self, *, seed: int, seconds: int, trace: bool, scratch: str) -> None:
        self.seed, self.seconds, self.scratch = seed, seconds, scratch
        self.tracer = Tracer(trace)
        self.spark = None
        self.attempted = self.failed = 0
        self.layer: dict[str, float] = {}
        self.listener: ProgressListener | None = None
        self.event_log = os.path.join(scratch, "eventlog")
        self.measure_start = 0.0  # end of set-up
        self.drain_cpu: list[float] = []
        self.cpu = CpuClock()

    # -- operations
    def note(self, what: str) -> None:
        """Progress line on stderr (stdout carries only the result)."""
        print(f"perfbench: {what}", file=sys.stderr, flush=True)

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: FAILED {what}", file=sys.stderr)

    def path(self, *parts: str) -> str:
        return os.path.join(self.scratch, *parts)

    # -- session
    def _start_session(self) -> float:
        conf = None
        if self.tracer.enabled:
            os.makedirs(self.event_log, exist_ok=True)
            conf = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_log,
                "spark.eventLog.compress": "false",
            }
        t = time.time()
        self.spark = get_spark("perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.time() - t

    def setup(self, warm_pass) -> float:
        """Session start (the JVM launch included) plus the workload's
        warm-up pass and one-time builds, in seconds. A cold JVM start
        happens once per process, so set-up is measured once per run."""
        t = time.time()
        self.layer["session.get_spark_s"] = self._start_session()
        warm_pass()
        setup_s = time.time() - t
        self.note(f"set-up: {setup_s:.2f} s")
        if self.tracer.enabled:
            self.listener = ProgressListener()
            self.spark.streams.addListener(self.listener)
        self.measure_start = time.time()
        return setup_s

    def close(self) -> None:
        """Stop the session and the CPU poller, and wait for the JVM to
        exit."""
        self.cpu.close()
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            self.layer["session.jvm_peak_rss_mb"] = _peak_rss_mb(proc.pid)
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # -- traced-run extras
    def streaming_layers(self, window_s: float, *, files_of=None, parent_of=None) -> None:
        """Per-hop trigger figures from the progress events (traced run)."""
        if self.listener is None:
            return
        # progress events arrive on the listener bus after the batch ends
        seen, deadline = -1, time.time() + 5.0
        while len(self.listener.progress) != seen and time.time() < deadline:
            seen = len(self.listener.progress)
            time.sleep(0.5)
        prog = list(self.listener.progress)
        trigger_spans(self.tracer, prog, _hop, files_of, parent_of)
        for hop in HOPS:
            ps = [p for p in prog if _hop(p["name"]) == hop]
            if not ps:
                continue
            pre = f"streaming.{hop}."
            trig = [p["ms"].get("triggerExecution", 0) for p in ps]
            self.layer[pre + "trigger_ms_p50"] = logs.median(trig)
            for ph in ("addBatch", "latestOffset", "queryPlanning", "walCommit", "commitOffsets"):
                vals = [p["ms"][ph] for p in ps if ph in p["ms"]]
                self.layer[pre + f"{ph}_ms_p50"] = logs.median(vals) if vals else 0.0
            data = [p for p in ps if p["rows"] > 0]
            self.layer[pre + "batches"] = len(data)
            self.layer[pre + "nodata_batches"] = len(ps) - len(data)
            rows = sum(p["rows"] for p in ps)
            self.layer[pre + "rows_in"] = rows
            self.layer[pre + "busy_share"] = sum(trig) / 1000.0 / window_s
            busy = sum(p["ms"].get("triggerExecution", 0) for p in data) / 1000.0
            self.layer[pre + "rows_per_s"] = rows / busy if busy else 0.0
            if hop == "gold":
                st = [s for p in ps for s in p["state"]]
                if st:
                    self.layer[pre + "state_commit_ms_p50"] = logs.median([s["commit_ms"] for s in st])
                    self.layer[pre + "state_rows"] = max(s["rows"] for s in st)
                    self.layer[pre + "state_mem_bytes"] = max(s["mem_bytes"] for s in st)
                    self.layer[pre + "rows_dropped_by_watermark"] = sum(s["dropped"] for s in st)

    def finish_layers(self, cpu_s_per_op: float) -> dict[str, float]:
        """Every per-layer metric (0 where this workload has no such layer)."""
        qids = dict(self.listener.ids) if self.listener else {}
        self.close()
        hop_ids = {qid: _hop(name) for qid, name in qids.items() if _hop(name)}
        ex = logs.executor_totals(self.event_log, hop_ids, since_s=self.measure_start)
        for k, v in ex.items():
            if "." in k:
                hop, _ = k.split(".", 1)
                self.layer[f"streaming.{hop}.cpu_ms"] = v
            else:
                self.layer[f"executor.{k}"] = v
        self.layer["session.py_peak_rss_mb"] = _peak_rss_mb(os.getpid())
        # the engine names its temp dirs cp<kind>_ (cpgold_, cpstream_, ...)
        self.layer["tmp.dirs_left"] = sum(1 for n in os.listdir(self.path("tmp")) if n.startswith("cp"))
        self.layer["trace.cpu_s_per_op"] = cpu_s_per_op
        for name, ms in self.tracer.self_ms().items():
            if name in SELF_SPANS:
                self.layer[f"self_ms.{name}"] = ms
        self.layer["trace.spans"] = len(self.tracer.spans)
        self.layer["trace.record_ms"] = 1000.0 * self.tracer.record_s
        return {n: float(self.layer.get(n, 0.0)) for n in per_layer_names()}


def _hop(query_name: str | None) -> str | None:
    """Query name -> medallion hop (queries are named after their hop)."""
    return next((hop for hop in HOPS if query_name and query_name.startswith(hop)), None)


def _peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _concat_ticks(files) -> pa.Table:
    return pa.concat_tables([f.ticks for f in files])


def _read_gold_parquet(path: str):
    return ds.dataset(path, format="parquet").to_table().to_pandas()


# ---------------------------------------------------- tick_pipeline: replay


def tick_pipeline(run: Run) -> dict:
    """Replay a backlog; a traced run replays for ``REPLAY_SHARE`` of the
    run and then runs live for the rest. ``cpu_s_per_op`` is the median CPU
    time of one drain of the backlog.

    The live figures are per-layer only, so an untraced run, which reports
    the end-to-end ones, spends all of its time on drains."""
    backlog = gen.backlog(run.seed, t0_us=T0_US, **REPLAY)
    raw = run.path("raw")
    gen.write_backlog(backlog, raw)
    n_ticks = sum(f.records.num_rows for f in backlog)
    want = oracle.oracle_candles(_concat_ticks(backlog), finalized_by_watermark_us=WATERMARK_US)

    def warm_pass() -> None:
        # a full-size drain: a smaller one leaves the first timed drain
        # half again as slow as the rest
        out = run.path("warm")
        streaming.run_medallion_available_now(run.spark, raw_dir=raw, out_root=out)
        shutil.rmtree(out)
        if run.tracer.enabled:
            _live_warm(run)

    setup_s = run.setup(warm_pass)
    if not run.tracer.enabled:
        _replay(run, raw, want, run.seconds)
        run.close()
        return {"setup_s": setup_s, "cpu_s_per_op": logs.median(run.drain_cpu)}
    replay_s = REPLAY_SHARE * run.seconds
    drains = _replay(run, raw, want, replay_s)
    replay = {k: v for k, v in run.layer.items() if k.endswith(".rows_per_s")}
    replay["replay.drain_ms_p50"] = 1000.0 * logs.median(drains)
    replay["replay.ticks_per_s"] = n_ticks / logs.median(drains)
    run.listener.progress.clear()
    _live(run, run.seconds - replay_s)
    # rows per second of busy time is the replay's: live batches are small
    run.layer.update(replay)
    return run.finish_layers(logs.median(run.drain_cpu))


def _replay(run: Run, raw: str, want, seconds: float) -> list[float]:
    """Drain the backlog into fresh output, at least ``MIN_DRAINS`` times
    and more while they fit in ``seconds``; each gold is checked against
    the oracle. Returns the drain times in seconds."""
    drains: list[float] = []
    t_begin = time.time()
    while len(drains) < MIN_DRAINS or sum(drains) + drains[-1] <= seconds:
        out = run.path(f"drain{len(drains)}")
        c = run.cpu.seconds()
        t = time.time()
        paths = streaming.run_medallion_available_now(run.spark, raw_dir=raw, out_root=out)
        drains.append(time.time() - t)
        run.drain_cpu.append(run.cpu.seconds() - c)
        run.tracer.add("replay.drain", t, t + drains[-1], drain=len(drains) - 1)
        run.note(f"drain {len(drains) - 1}: {drains[-1]:.2f} s, {run.drain_cpu[-1]:.2f} CPU s")
        err = oracle.diff_frames(oracle.engine_candles(_read_gold_parquet(paths["gold"])), want)
        run.op(err is None, f"drain {len(drains) - 1}: gold != oracle ({err})")
        shutil.rmtree(out)
    if run.tracer.enabled:
        drain_spans = [s for s in run.tracer.spans if s["name"] == "replay.drain"]

        def parent_of(start: float):
            for s in drain_spans:
                if s["start"] <= start <= s["end"]:
                    return s["id"]
            return None

        run.streaming_layers(time.time() - t_begin, parent_of=parent_of)
    return drains


# ------------------------------------------------------ tick_pipeline: live


class _LiveDirs:
    def __init__(self, root: str) -> None:
        self.raw = os.path.join(root, "raw")
        self.stage = os.path.join(root, "stage")
        self.delta = os.path.join(root, "gold_delta")
        self.paths = {h: os.path.join(root, h) for h in ("bronze", "silver")}
        self.ckpt = {h: os.path.join(root, "_checkpoints", h) for h in HOPS}
        for d in (self.raw, self.stage, *self.paths.values()):
            os.makedirs(d, exist_ok=True)


def _live_jobs(spark, d: _LiveDirs) -> list:
    def bronze():
        src = streaming.read_parquet_stream(spark, d.raw, KAFKA_SHAPED_SCHEMA)
        return streaming.start_parquet_stream(
            streaming.bronze_ingest(src), path=d.paths["bronze"], checkpoint=d.ckpt["bronze"],
            available_now=False, query_name="bronze_live",
        )

    def silver():
        src = streaming.read_parquet_stream(spark, d.paths["bronze"], BRONZE_SCHEMA)
        return streaming.start_parquet_stream(
            streaming.silver_stream(src), path=d.paths["silver"], checkpoint=d.ckpt["silver"],
            available_now=False, query_name="silver_live",
        )

    def gold():
        src = streaming.read_parquet_stream(spark, d.paths["silver"], SILVER_SCHEMA)
        return streaming.start_merge_stream(
            streaming.gold_stream(src), table_path=d.delta, keys=("window_start", "symbol"),
            checkpoint=d.ckpt["gold"], available_now=False, query_name="gold_live",
        )

    return [streaming.JobSpec("bronze_live", bronze), streaming.JobSpec("silver_live", silver), streaming.JobSpec("gold_live", gold)]


def _live_file(seed: int, seq: int) -> gen.TickFile:
    span = 1_000_000 // LIVE_FILES_PER_S
    return gen.tick_file(seed, seq, LIVE_TICKS_PER_FILE, T0_US + seq * span, span)


def _publish(f: gen.TickFile, d: _LiveDirs) -> float:
    name = f"ticks-{f.seq:06d}.parquet"
    staged = os.path.join(d.stage, name)
    gen.write_parquet(f.records, staged)
    os.replace(staged, os.path.join(d.raw, name))  # atomic: the source never sees a partial file
    return time.time()


def _candle_keys(ticks: pa.Table) -> dict:
    ws = (np.asarray(ticks.column("ts_us")) // 60_000_000) * 60_000_000
    return dict(Counter(zip(ws.tolist(), ticks.column("symbol").to_pylist())))


def _live_warm(run: Run) -> None:
    """Files one at a time, each once the previous has landed: the gold hop
    runs its table-creating append and then MERGEs."""
    symbols = gen.SYMBOLS
    d = _LiveDirs(run.path("live-warm"))
    watch = logs.CandleWatch(d.delta)
    totals: Counter = Counter()
    with streaming.MedallionOrchestrator(run.spark, _live_jobs(run.spark, d)):
        for k in range(LIVE_WARM_FILES):
            f = _live_file(run.seed + 1, k)
            _publish(f, d)
            totals.update(_candle_keys(f.ticks))
            watch.wait(totals, LIVE_DRAIN_TIMEOUT_S)
            DeltaTable(d.delta).read(run.spark, where=f"symbol = '{symbols[k % len(symbols)]}'").collect()


def _live(run: Run, seconds: float) -> None:
    """Publish tick files for ``seconds`` while the three hops and the
    reader run, drain, check the Delta table, and fill the live layers."""
    symbols = gen.SYMBOLS
    d = _LiveDirs(run.path("live"))
    n_files = round(seconds * LIVE_FILES_PER_S)
    published: list[tuple[float, float, gen.TickFile]] = []  # (due, publish time, file)
    reads: list[tuple[float, float, float]] = []  # (start, read() done, collect done)
    files_scanned: list[int] = []
    stop_reader = threading.Event()
    errors: list[str] = []

    def generator(t0: float) -> None:
        for k in range(n_files):
            f = _live_file(run.seed, k)
            due = t0 + k / LIVE_FILES_PER_S
            time.sleep(max(0.0, due - time.time()))
            t = time.time()
            published.append((due, _publish(f, d), f))
            run.tracer.add("gen.publish", t, published[-1][1], seq=k)

    def reader() -> None:
        table = DeltaTable(d.delta)
        i = 0
        while table.latest_version() is None and not stop_reader.is_set():
            time.sleep(0.05)
        while not stop_reader.is_set():
            sym = symbols[i % len(symbols)]
            i += 1
            t0 = time.time()
            try:
                df = table.read(run.spark, where=f"symbol = '{sym}'")
                t1 = time.time()
                rows = df.collect()
                t2 = time.time()
                if run.tracer.enabled:
                    files_scanned.append(len(df.inputFiles()))
            except Exception:
                errors.append(traceback.format_exc())
                run.op(False, "delta read raised")
                continue
            run.tracer.add("sources.delta.read", t0, t1, symbol=sym)
            run.tracer.add("sources.delta.collect", t1, t2, symbol=sym)
            ok = bool(rows) and all(r.symbol == sym for r in rows)
            run.op(ok, f"delta read of {sym} returned other symbols or nothing")
            reads.append((t0, t1, t2))

    orch = streaming.MedallionOrchestrator(run.spark, _live_jobs(run.spark, d))
    c_begin = run.cpu.seconds()
    t_begin = time.time()
    with orch:
        gen_thread = threading.Thread(target=generator, args=(time.time() + 0.2,), name="perfbench-gen")
        read_thread = threading.Thread(target=reader, name="perfbench-reader")
        gen_thread.start()
        read_thread.start()
        try:
            gen_thread.join()
        finally:
            stop_reader.set()
            read_thread.join()
        run.note(f"published {len(published)} files in {time.time() - t_begin:.2f} s, {len(reads)} reads")
        t_drain = time.time()
        totals: Counter = Counter()
        for _d, _p, f in published:
            totals.update(_candle_keys(f.ticks))
        logs.CandleWatch(d.delta).wait(totals, LIVE_DRAIN_TIMEOUT_S)
        run.note(f"drained in {time.time() - t_drain:.2f} s")
    window_s = time.time() - t_begin
    live_cpu_s = run.cpu.seconds() - c_begin
    for e in errors:
        print(e, file=sys.stderr)

    # freshness and backlog, from the logs the run left behind
    raw_names = {f"ticks-{f.seq:06d}.parquet": i for i, (_d, _p, f) in enumerate(published)}
    silver_at = logs.silver_commit_by_raw(d.ckpt, d.paths)
    silver_fresh = [1000.0 * (silver_at[n] - published[i][1]) for n, i in raw_names.items() if n in silver_at]
    commits = logs.delta_commits(d.delta)
    fresh = logs.candle_freshness(
        [(p, _candle_keys(f.ticks)) for _d, p, f in published],
        logs.candle_counts_by_version(d.delta, commits),
    )
    got = oracle.engine_candles(DeltaTable(d.delta).read(run.spark).toPandas())
    err = oracle.diff_frames(got, oracle.oracle_candles(_concat_ticks([f for _d, _p, f in published])))
    run.op(err is None and len(silver_fresh) == len(published), f"live gold != batch candles ({err})")
    run.note(f"checked in {time.time() - t_begin - window_s:.2f} s")
    L = run.layer
    bronze_by_raw = logs.hop_commit_by_input(d.ckpt["bronze"], d.paths["bronze"])
    consumed = sorted(bronze_by_raw.values())
    L["gen.backlog_files_max"] = max(
        i + 1 - sum(1 for c in consumed if c <= p) for i, (_d, p, _f) in enumerate(published)
    )
    L["gen.late_ms_max"] = max(1000.0 * (p - due) for due, p, _f in published)
    L["gen.drain_s"] = commits[-1]["ts_ms"] / 1000.0 - published[-1][1]
    L["live.cpu_s"] = live_cpu_s
    L["streaming.gold.fresh_p50_ms"] = logs.median(fresh)
    L["streaming.silver.fresh_p50_ms"] = logs.median(silver_fresh)
    L["streaming.silver.fresh_p75_ms"] = logs.tail_percentile(silver_fresh, 0.75)
    L["streaming.silver.fresh_samples"] = len(silver_fresh)
    L["streaming.gold.fresh_p90_ms"] = logs.tail_percentile(fresh, 0.9)
    L["streaming.gold.fresh_samples"] = len(fresh)
    adds = [a for c in commits for a in c["adds"]]
    L["sources.delta.versions"] = len(commits)
    L["sources.delta.files_added"] = len(adds)
    L["sources.delta.files_removed"] = sum(len(c["removes"]) for c in commits)
    L["sources.delta.bytes_written_per_row"] = sum(a["size"] for a in adds) / max(1, _stat_rows(adds))
    if reads:
        L["sources.delta.reads"] = len(reads)
        L["sources.delta.read_plan_ms_p50"] = logs.median([1000.0 * (r - s) for s, r, _c in reads])
        L["sources.delta.read_exec_ms_p50"] = logs.median([1000.0 * (c - r) for _s, r, c in reads])
    if files_scanned:
        L["sources.delta.files_scanned_p50"] = logs.median(files_scanned)
    gold_data = [p["ms"]["addBatch"] for p in run.listener.progress if _hop(p["name"]) == "gold" and p["rows"] > 0 and "addBatch" in p["ms"]]
    if gold_data:
        L["sources.delta.merge_ms_p50"] = logs.median(gold_data)
    _live_waits(run, d, published)
    run.streaming_layers(window_s, files_of=_tick_files_of(d))


def _stat_rows(adds: list[dict]) -> int:
    return sum(int(json.loads(a["stats"]).get("numRecords", 0)) for a in adds if a.get("stats"))


def _tick_files_of(d: _LiveDirs):
    """(query name, batch id) -> sequence ids of the tick files whose rows
    the batch carried, followed back hop by hop through the logs; so the
    trigger spans of one tick file share its id with its publish span."""
    inputs = {h: defaultdict(list) for h in HOPS}
    for h in HOPS:
        for f, b in logs.source_batches(d.ckpt[h]).items():
            inputs[h][b].append(f)
    made_by = {h: {f: b for b, _m, files in logs.sink_batches(d.paths[h]) for f in files} for h in d.paths}

    def seqs(hop: str, batch: int) -> set[int]:
        if hop == "bronze":
            return {int(f[len("ticks-"):-len(".parquet")]) for f in inputs[hop][batch]}
        up = HOPS[HOPS.index(hop) - 1]
        return set().union(*(seqs(up, made_by[up][f]) for f in inputs[hop][batch] if f in made_by[up]))

    return lambda name, batch: sorted(seqs(_hop(name), batch))


def _live_waits(run: Run, d: _LiveDirs, published) -> None:
    """Per hop, input ready -> start of the trigger that consumed it."""
    starts = defaultdict(dict)
    for p in run.listener.progress:
        hop = _hop(p["name"])
        if hop:
            starts[hop][p["batch"]] = p["start"]
    ready = {"bronze": {f"ticks-{f.seq:06d}.parquet": t for _d, t, f in published}}
    ready["silver"] = logs.sink_commit_of(d.paths["bronze"])
    ready["gold"] = logs.sink_commit_of(d.paths["silver"])
    for hop in HOPS:
        waits = [
            1000.0 * (starts[hop][b] - ready[hop][f])
            for f, b in logs.source_batches(d.ckpt[hop]).items()
            if f in ready[hop] and b in starts[hop]
        ]
        if waits:
            run.layer[f"streaming.{hop}.wait_ms_p50"] = logs.median(waits)


# ---------------------------------------------------------- dashboard_reads


def dashboard_reads(run: Run) -> dict:
    sf_dir = run.path("sf")
    os.makedirs(sf_dir)
    events_path = os.path.join(sf_dir, "events.parquet")
    gen.write_parquet(gen.events_table(run.seed, rows=DASH_ROWS), events_path)
    want = {q: oracle.registry_oracle(plans.get(q).oracle, events_path) for q in PANELS if q not in UNCHECKED_ORACLE}
    first: dict = {}
    timings = defaultdict(lambda: defaultdict(list))  # panel -> part -> [ms]
    python_ms = defaultdict(float)
    payload_ms: list[float] = []
    refresh_ms: list[float] = []
    refresh_cpu: list[float] = []
    profile = run.tracer.enabled

    def refresh(measure: bool) -> None:
        spark = run.spark
        c = run.cpu.seconds()
        t = time.time()
        payload = dashboard_payload(spark, sf_dir)
        t_payload = time.time()
        run.tracer.add("dashboard.payload", t, t_payload)
        results = {}
        for q in PANELS:
            if profile and q in KERNEL_PANELS:
                spark.profile.clear()
            t0 = time.time()
            df = plans.get(q).fn(spark, sf_dir)
            t1 = time.time()
            pdf = df.toPandas()
            t2 = time.time()
            run.tracer.add("plans.fn", t0, t1, q=q)
            run.tracer.add("plans.exec", t1, t2, q=q)
            results[q] = pdf
            if measure:
                timings[q]["fn"].append(1000.0 * (t1 - t0))
                timings[q]["exec"].append(1000.0 * (t2 - t1))
                if profile:
                    timings[q]["catalyst"].append(_catalyst_ms(df))
                    if q in KERNEL_PANELS:
                        python_ms[q] += sum(
                            st.total_tt for st in spark._profiler_collector._perf_profile_results.values()
                        ) * 1000.0
        t_end = time.time()
        cpu = run.cpu.seconds() - c
        run.note(f"refresh: {t_end - t:.2f} s, {cpu:.2f} CPU s")
        if measure:
            refresh_cpu.append(cpu)
            payload_ms.append(1000.0 * (t_payload - t))
            refresh_ms.append(1000.0 * (t_end - t))
        run.op(set(payload["kpis"]) == {"S0", "S1", "S2"}, "dashboard payload lacks a symbol's KPI")
        for q, pdf in results.items():
            got = oracle.canon_panel(pdf)
            ref = want.get(q)
            if ref is None:
                ref = first.setdefault(q, got)
            ok = len(got) > 0 and got.shape == ref.shape and got.equals(ref)
            run.op(ok, f"panel {q} != its oracle")

    def warm_pass() -> None:
        if profile:
            run.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        t = time.time()
        plans.get("gold_candles_1m").fn(run.spark, sf_dir)
        run.layer["plans.gold_build_s"] = time.time() - t
        # refresh time after a cold start falls by half over the first few
        # refreshes (JIT warm-up of the driver-side planning code), then
        # levels off
        for _ in range(DASH_WARM_REFRESHES):
            refresh(measure=False)

    setup_s = run.setup(warm_pass)
    while len(refresh_ms) < MIN_REFRESHES or sum(refresh_ms) < 1000.0 * run.seconds:
        refresh(measure=True)
    cpu_s_per_op = logs.median(refresh_cpu)
    if not run.tracer.enabled:
        run.close()
        return {"setup_s": setup_s, "cpu_s_per_op": cpu_s_per_op}
    panel_ms = [v for q in PANELS for v in np.add(timings[q]["fn"], timings[q]["exec"])]
    L = run.layer
    cover = []
    for q in PANELS:
        for part in ("fn", "catalyst", "exec"):
            L[f"plans.{q}.{part}_ms_p50"] = logs.median(timings[q][part])
        cover.append((L[f"plans.{q}.fn_ms_p50"] + L[f"plans.{q}.exec_ms_p50"]) / logs.median(np.add(timings[q]["fn"], timings[q]["exec"])))
    for q in KERNEL_PANELS:
        L[f"plans.{q}.python_ms"] = python_ms[q] / len(refresh_ms)
    L["plans.cover_ratio_min"] = min(cover)
    L["dashboard.payload_ms_p50"] = logs.median(payload_ms)
    L["dashboard.panel_ms_p50"] = logs.median(panel_ms)
    L["dashboard.refresh_ms_p50"] = logs.median(refresh_ms)
    return run.finish_layers(cpu_s_per_op)


def _catalyst_ms(df) -> float:
    """Analysis + optimization + planning time of the frame's query."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total


WORKLOADS = {
    "tick_pipeline": tick_pipeline,
    "dashboard_reads": dashboard_reads,
}
