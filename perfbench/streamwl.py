"""Open-loop stream workload.

A generator thread drops small parquet files on a wall-clock schedule;
the engine reads them through ``GearContext.from_stream_parquet`` and runs

    with_watermark -> key_by(user).windowed(tumbling) -> count, sum, max(created_ms)

into an update-mode ``foreachBatch`` sink. Phases: set-up (session, DAG,
first triggers), steady state at a fixed rate, backlog drains, stop and
restart on the same checkpoint, drain to the end, exactness check.
"""

from __future__ import annotations

import datetime as dt
import os
import threading
import time
import traceback

import pandas as pd

from perfbench import eventlog
from perfbench.gen import TICK_MS, EventSchedule, write_events
from perfbench.measure import Outcome, Tracer, add_child_span, median, percentile
from perfbench.oracle import fold_emissions, pane_mismatches, reference_panes

RATE = 20_000  # events per second in the steady phase
WINDOW = "1 second"
WINDOW_MS = 1_000
WATERMARK = "2 seconds"  # above gen.MAX_DISORDER_MS, so nothing is late
BACKLOG_ROWS = 1_000_000
BACKLOG_FILES = 8
BACKLOG_STREAM = 1 << 40  # sub-streams of the seed above every tick index
DRAINS = 4
RESTARTS = 4
WARM_TRIGGERS = 3
TIMEOUT_S = 30.0

# durationMs phases of one trigger, in the order a micro-batch runs them
TRIGGER_PHASES = ("latestOffset", "walCommit", "queryPlanning", "addBatch", "commitOffsets")


def _now_ms() -> int:
    return time.time_ns() // 1_000_000


class Generator(threading.Thread):
    """Writes the events due in each tick as one file, at the tick's end.
    ``late_ms`` records how far behind schedule each write finished."""

    def __init__(self, sched: EventSchedule, src: str, origin_ms: int):
        super().__init__(name="event-generator", daemon=True)
        self.sched, self.src, self.origin_ms = sched, src, origin_ms
        self.ticks: list[int] = []
        self.rows = 0
        self.late_ms: list[float] = []
        self.error: str | None = None
        self._stop_ev = threading.Event()
        self._running = threading.Event()
        self._running.set()
        self._idle = threading.Event()
        self._lock = threading.Lock()

    def run(self) -> None:
        try:
            self._loop()
        except Exception:
            self.error = traceback.format_exc()

    def _loop(self) -> None:
        tick = TICK_MS
        k = 0
        while not self._stop_ev.is_set():
            if not self._running.is_set():
                self._idle.set()
                self._running.wait(0.05)
                # resume on the tick now due: paused ticks are skipped
                k = max(k, (_now_ms() - self.origin_ms) // tick)
                continue
            self._idle.clear()
            due = self.origin_ms + (k + 1) * tick
            wait = (due - _now_ms()) / 1000
            if wait > 0 and self._stop_ev.wait(wait):
                break
            df = self.sched.tick(k, self.origin_ms)
            write_events(df, os.path.join(self.src, f"t{k:08d}.parquet"))
            with self._lock:
                self.ticks.append(k)
                self.rows += len(df)
                self.late_ms.append(float(_now_ms() - due))
            k += 1
        self._idle.set()

    def pause(self) -> None:
        self._idle.clear()
        self._running.clear()
        self._idle.wait(TIMEOUT_S)

    def resume(self) -> None:
        self._running.set()

    def stop(self) -> None:
        self._stop_ev.set()
        self._running.set()
        self.join(TIMEOUT_S)

    def written(self) -> int:
        with self._lock:
            return self.rows


class PaneSink:
    """The update-mode sink: keeps every emitted row with the wall-clock
    time it was handed over."""

    def __init__(self) -> None:
        self.frames: list[pd.DataFrame] = []

    def __call__(self, df, batch_id: int) -> None:
        from pyspark.sql import functions as F

        rows = df.select(
            F.unix_millis("window.start").alias("window_start"),
            "user", "n", "total", "max_created_ms",
        ).collect()
        handoff = time.time_ns() / 1e6
        if rows:
            f = pd.DataFrame(rows, columns=["window_start", "user", "n", "total", "max_created_ms"])
            f["handoff_ms"] = handoff
            self.frames.append(f)

    def emitted(self) -> pd.DataFrame:
        return pd.concat(self.frames, ignore_index=True)


class StreamRun:
    def __init__(self, seed: int, seconds: int, tracer: Tracer, work: str):
        self.seconds = seconds
        self.tracer = tracer
        self.sched = EventSchedule(seed=seed, rate=RATE)
        self.src = f"{work}/src"
        self.ckpt = f"{work}/checkpoint"
        self.staging = f"{work}/staging"
        for d in (self.src, self.staging):
            os.makedirs(d, exist_ok=True)
        self.outcome = Outcome()
        self.sink = PaneSink()
        self.progress: dict[int, dict] = {}  # batchId -> last progress seen
        self.backlogs: list[tuple[int, int]] = []  # (sub-stream, creation ms)
        self.drain_s: list[float] = []
        self.recovery: list[float] = []
        self.backlog_rows: list[int] = []
        # perf_counter = wall time - offset, for spans built from progress
        self._offset = time.time() - time.perf_counter()

    def _backlog(self, stream: int, created_ms: int) -> pd.DataFrame:
        return self.sched.block(BACKLOG_ROWS, created_ms, 0, stream)

    # -- engine calls ---------------------------------------------------------
    def _build(self, spark):
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, StructField, StructType, TimestampType

        from gearpump_spark.stream import GearContext

        schema = StructType(
            [
                StructField("ts", TimestampType()),
                StructField("user", LongType()),
                StructField("value", LongType()),
                StructField("created_ms", LongType()),
            ]
        )
        return (
            GearContext(spark)
            .from_stream_parquet(self.src, schema, ts_col="ts")
            .with_watermark(WATERMARK)
            .key_by("user")
            .windowed(WINDOW)
            .agg(
                F.count("*").alias("n"),
                F.sum("value").alias("total"),
                F.max("created_ms").alias("max_created_ms"),
            )
            .to_df()
        )

    def _start(self, spark):
        df = self._build(spark)
        return (
            df.writeStream.outputMode("update")
            .foreachBatch(self.sink)
            .option("checkpointLocation", self.ckpt)
            .start()
        )

    # -- progress bookkeeping -------------------------------------------------
    def _poll(self, q, full: bool = True) -> None:
        """Record progress events. ``full=False`` reads only the latest one,
        which is cheap; callers poll faster than triggers complete and make
        a full read at the end of every phase."""
        for p in q.recentProgress if full else [q.lastProgress]:
            if p is not None:
                self.progress[p["batchId"]] = p

    def processed(self) -> int:
        return sum(p["numInputRows"] for p in self.progress.values())

    def _wait(self, q, done, what: str) -> None:
        deadline = time.monotonic() + TIMEOUT_S
        polls = 0
        while True:
            if q.exception() is not None:
                raise RuntimeError(f"stream failed while waiting for {what}: {q.exception()}")
            self._poll(q, full=polls % 25 == 0)
            if done():
                return
            if time.monotonic() > deadline:
                raise TimeoutError(f"timed out waiting for {what}")
            polls += 1
            time.sleep(0.02)

    def _caught_up(self, q, gen: Generator) -> float:
        """Wait until every row written so far is processed; return the
        wall-clock end (ms) of the trigger that processed the last one."""
        target = gen.written() + BACKLOG_ROWS * len(self.backlogs)
        self._wait(q, lambda: self.processed() >= target, "catch-up")
        done = 0
        for _, p in sorted(self.progress.items()):
            done += p["numInputRows"]
            if done >= target:
                return self._end_ms(p)
        raise AssertionError("processed rows fell below the target")

    @staticmethod
    def _end_ms(p: dict) -> float:
        start = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
        return start.timestamp() * 1000 + p["durationMs"].get("triggerExecution", 0)

    # -- the run ----------------------------------------------------------------
    def run(self) -> None:
        from gearpump_spark.session import get_spark

        tr = self.tracer
        with tr.span("run", "run"):
            t0 = time.perf_counter()
            with tr.span("setup", "phase"):
                with tr.span("get_spark", "session") as s:
                    spark = get_spark()
                self.get_spark_s = s.seconds
                # keep every progress event of the run, not the last 100
                spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
                with tr.span("build", "stream") as s:
                    self._build(spark)
                self.build_s = s.seconds
                gen = Generator(self.sched, self.src, _now_ms())
                gen.start()
                q = self._start(spark)
                self._wait(q, lambda: len(self.progress) >= WARM_TRIGGERS, "first triggers")
            self.setup_s = time.perf_counter() - t0
            self.gen = gen
            try:
                q = self._phases(spark, q, gen)
            finally:
                gen.stop()
                q.stop()
                spark.stop()  # also completes the event log

    def _phases(self, spark, q, gen: Generator):
        tr = self.tracer
        with tr.span("steady", "phase") as steady:
            self.steady_ms = (_now_ms(), _now_ms() + self.seconds * 1000)
            while _now_ms() < self.steady_ms[1]:
                self._poll(q, full=False)
                self.backlog_rows.append(gen.written() - self.processed())
                time.sleep(0.1)
            self.steady_ms = (self.steady_ms[0], _now_ms())
            self._poll(q)
        self._trigger_spans(steady)

        for i in range(DRAINS):
            with tr.span(f"drain{i}", "phase"):
                gen.pause()
                self._caught_up(q, gen)
                # every event of a backlog is created now, so none can fall
                # behind the watermark the steady phase left
                backlog = (BACKLOG_STREAM + i, _now_ms())
                names = []
                for j, part in enumerate(_split(self._backlog(*backlog), BACKLOG_FILES)):
                    name = f"b{i}_{j}.parquet"
                    write_events(part, os.path.join(self.staging, name))
                    names.append(name)
                self.backlogs.append(backlog)
                start_ms = time.time() * 1000
                for name in names:
                    os.replace(os.path.join(self.staging, name), os.path.join(self.src, name))
                self.drain_s.append((self._caught_up(q, gen) - start_ms) / 1000)
                gen.resume()

        for i in range(RESTARTS):
            with tr.span(f"restart{i}", "phase"):
                time.sleep(0.5)  # let the generator add a few files first
                stop_ms = time.time() * 1000
                q.stop()
                self._poll(q)
                before = max(self.progress)
                q = self._start(spark)
                self._wait(q, lambda: max(self.progress) > before, "first batch after restart")
                first = self.progress[min(b for b in self.progress if b > before)]
                self.recovery.append((self._end_ms(first) - stop_ms) / 1000)

        with tr.span("final", "phase"):
            gen.stop()
            self._caught_up(q, gen)
        return q

    def _trigger_spans(self, phase) -> None:
        """The steady phase's triggers as spans, with the durationMs phases
        laid out in execution order as their children."""
        if not self.tracer.enabled:
            return
        for p in self.steady_progress():
            end = self._end_ms(p) / 1000 - self._offset
            d = p["durationMs"]
            t = end - d.get("triggerExecution", 0) / 1000
            trigger = add_child_span(
                self.tracer, phase.index, f"trigger{p['batchId']}", "streaming", t, end
            )
            for name in TRIGGER_PHASES:
                dur = d.get(name, 0) / 1000
                add_child_span(self.tracer, trigger, name, "streaming.phase", t, t + dur)
                t += dur

    def steady_progress(self) -> list[dict]:
        lo, hi = self.steady_ms
        return [p for b, p in sorted(self.progress.items()) if lo <= self._end_ms(p) <= hi]

    # -- correctness ------------------------------------------------------------
    def check(self) -> None:
        """Untimed: fold the emissions and compare with the reference."""
        try:
            events = pd.concat(
                [self.sched.tick(k, self.gen.origin_ms) for k in self.gen.ticks]
                + [self._backlog(*b) for b in self.backlogs],
                ignore_index=True,
            )
            ref = reference_panes(events, WINDOW_MS)
            bad = pane_mismatches(fold_emissions(self.sink.emitted()), ref)
        except Exception:
            self.outcome.fail(f"stream check: {traceback.format_exc(limit=3)}")
            return
        for _ in range(len(ref) - bad):
            self.outcome.ok()
        for _ in range(bad):
            self.outcome.fail("stream pane missing or wrong")
        if self.gen.error:
            self.outcome.fail(f"generator: {self.gen.error}")

    # -- reports ----------------------------------------------------------------
    def latencies_ms(self) -> list[float]:
        e = self.sink.emitted()
        lo, hi = self.steady_ms
        e = e[(e["max_created_ms"] >= lo) & (e["max_created_ms"] < hi)]
        return (e["handoff_ms"] - e["max_created_ms"]).astype(float).tolist()

    def end_to_end(self, peak_rss_mb: float) -> dict:
        lat = self.latencies_ms()
        return {
            "setup_s": self.setup_s,
            "pass_s": median(self.drain_s),
            "latency_p50_ms": median(lat),
            "latency_p99_ms": percentile(lat, 99),
            "recovery_s": median(self.recovery),
            "peak_rss_mb": peak_rss_mb,
        }

    def samples(self) -> dict:
        return {
            "latencies": len(self.latencies_ms()),
            "drain_s": [round(x, 3) for x in self.drain_s],
            "recovery_s": [round(x, 3) for x in self.recovery],
            "drain_rows_per_s": BACKLOG_ROWS / median(self.drain_s),
            "rate_per_s": RATE,
        }

    def per_layer(self, log_dir: str) -> dict:
        steady = self.steady_progress()
        lo, hi = self.steady_ms
        total = eventlog.JobCounters()
        for _, c in eventlog.read_jobs(log_dir):
            if c.submit_ms and lo <= c.submit_ms[0] <= hi:
                total.add(c)
        n = max(1, len(steady))
        ops = {f"operators.{k}": getattr(total, k) / n for k in eventlog.COUNTERS}

        def dur(name):
            return median([p["durationMs"].get(name, 0) for p in steady])

        def state(name):
            return median([sum(o.get(name, 0) for o in p.get("stateOperators", [])) for p in steady])

        dropped = sum(
            o.get("numRowsDroppedByWatermark", 0)
            for p in self.progress.values() for o in p.get("stateOperators", [])
        )
        return {
            "session.get_spark_s": self.get_spark_s,
            "stream.build_s": self.build_s,
            "streaming.trigger_ms": dur("triggerExecution"),
            "streaming.latest_offset_ms": dur("latestOffset"),
            "streaming.query_planning_ms": dur("queryPlanning"),
            "streaming.add_batch_ms": dur("addBatch"),
            "streaming.wal_commit_ms": dur("walCommit"),
            "streaming.commit_offsets_ms": dur("commitOffsets"),
            "streaming.rows_per_trigger": median([p["numInputRows"] for p in steady]),
            "streaming.state_rows": state("numRowsTotal"),
            "streaming.state_memory_mb": state("memoryUsedBytes") / 2**20,
            "streaming.state_commit_ms": state("commitTimeMs"),
            "streaming.rows_dropped_by_watermark": dropped,
            "streaming.backlog_rows": max(self.backlog_rows, default=0),
            "gen.late_ms": percentile(self.gen.late_ms, 99),
            "gen.rows": self.gen.rows + BACKLOG_ROWS * len(self.backlogs),
            "trace.pass_s": median(self.drain_s),
            **ops,  # per steady-phase trigger
        }


def _split(df: pd.DataFrame, n: int) -> list[pd.DataFrame]:
    step = -(-len(df) // n)
    return [df.iloc[i:i + step] for i in range(0, len(df), step)]
