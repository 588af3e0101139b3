"""Streaming half: a numaflow pipeline compiled with
``compiler.compile_streaming`` and ending in a ``streaming.sinks.ReliableSink``.

Two pipeline shapes, one per workload:

* ``window`` (open loop): a feed thread writes the events scheduled in each
  tick to a parquet file at the tick's end, on a wall-clock schedule that
  does not slow when the engine does; the engine's replay source reads
  them. A map vertex keys and values each event from its id and the seed,
  a keyed 1 s fixed window counts and sums them, and the sink pulls each
  closed window to the driver. Latency runs from the scheduled time of the
  last event that contributed to a window until the sink holds it.
* ``dedup`` (closed loop): ``generator_stream`` emits a fixed number of rows
  per micro-batch as fast as the engine takes them; a map vertex turns a
  fixed share of events into redeliveries of recent ids, and
  ``streaming.dedup.dedup_within_watermark`` drops them against an evicting
  state store. The sink pulls every surviving id. Latency runs from the
  start of a micro-batch until the sink holds its result.
"""

from __future__ import annotations

import datetime
import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from numaflow_spark.compiler import compile_streaming
from numaflow_spark.pipeline import MapUDF, Pipeline, ReduceUDF, Sink, Source, Vertex
from numaflow_spark.scale import streaming_state_partitions
from numaflow_spark.sources.file_source import replay_stream
from numaflow_spark.sources.generator import generator_stream
from numaflow_spark.streaming.dedup import dedup_within_watermark
from numaflow_spark.streaming.sinks import ReliableSink

from probes import Tracer, median

WINDOW_KEYS = 32
REDELIVERY_EVERY = 10  # one event in ten is a redelivery of a recent id


# ------------------------------------------------------------ seeded values

def window_key_value(ids, seed: int):
    """Key and value of each open-loop event (Spark columns or numpy arrays)."""
    return (ids * 2654435761 + seed) % WINDOW_KEYS, (ids * 40503 + seed * 7) % 1000


def dedup_ids(offsets, seed: int, reach: int, where):
    """Message id of each closed-loop event, and the offset of the original
    it repeats. Every REDELIVERY_EVERY-th event repeats the id of an original
    event at most ``reach`` rows earlier; an original's id is unique to it.
    ``where`` is ``F.when``-style or numpy."""
    redelivered = (offsets + seed) % REDELIVERY_EVERY == 0
    # the distance never is a multiple of REDELIVERY_EVERY, so the event it
    # points back to is an original, never another redelivery
    back = 1 + (offsets * 7 + seed) % (REDELIVERY_EVERY - 1) \
        + REDELIVERY_EVERY * ((offsets * 13 + seed) % (reach // REDELIVERY_EVERY))
    src = where(redelivered & (offsets - back >= 0), offsets - back, offsets)
    return src * 7919 + seed, src


def _spark_where(cond, a, b):
    return F.when(cond, a).otherwise(b)


def _stream_only(spark):
    raise NotImplementedError("the benchmark's generator source only streams")


# --------------------------------------------------------------- the sink

class Collector:
    """The ReliableSink's primary write: pulls each micro-batch's result to
    the driver as Arrow and stamps when the sink holds it."""

    def __init__(self, tracer: Tracer, columns: list[str]):
        self.tracer = tracer
        self.columns = columns
        self.batches: dict[int, tuple[float, pa.Table, float]] = {}

    def write(self, df, epoch_id: int) -> None:
        t0 = time.perf_counter()
        table = df.select(*self.columns).toArrow()
        t1 = time.perf_counter()
        # a retried epoch replaces the earlier attempt
        self.batches[epoch_id] = (time.time(), table, (t1 - t0) * 1e3)
        self.tracer.record("sinks.write", t0, t1, epoch=epoch_id)


# ------------------------------------------------------------ open loop feed

class OpenLoopFeed(threading.Thread):
    """Writes, at the end of every tick, one parquet file holding the events
    scheduled during that tick: event ``i`` is due at ``t0 + i / rate``.

    Files older than ``KEEP_S`` are deleted: the file source lists the whole
    directory on every trigger, so a growing directory would make each
    micro-batch slower the longer a run lasts. A pipeline more than
    ``KEEP_S`` behind the schedule fails the run on a missing file."""

    KEEP_S = 8.0

    def __init__(self, directory: str, rate: int, tick_s: float):
        super().__init__(daemon=True)
        tick_us = round(tick_s * 1e6)
        if 1_000_000 % rate or abs(rate * tick_s - round(rate * tick_s)) > 1e-9 \
                or 1_000_000 % tick_us:
            raise ValueError("rate must divide 1e6 and fill whole ticks; ticks must divide 1 s")
        self.directory, self.rate, self.tick_s = directory, rate, tick_s
        self.per_tick = round(rate * tick_s)
        self.us_per_event = 1_000_000 // rate
        # Start on the tick grid, so each window's last event is written at
        # the window's end: a random tick phase would add a constant of up
        # to one tick to every latency sample of a run.
        self.t0_us = -(-int(time.time() * 1e6) // tick_us) * tick_us
        self.lateness_s: list[float] = []
        self._stop_evt = threading.Event()
        os.makedirs(directory, exist_ok=True)

    def due_us(self, ids):
        return self.t0_us + ids * self.us_per_event

    def run(self) -> None:
        k = 0
        while not self._stop_evt.is_set():
            due = (self.t0_us / 1e6) + (k + 1) * self.tick_s
            if self._stop_evt.wait(max(0.0, due - time.time())):
                break
            ids = np.arange(k * self.per_tick, (k + 1) * self.per_tick, dtype=np.int64)
            table = pa.table({
                "id": ids,
                "ts": pa.array(self.due_us(ids), pa.timestamp("us", tz="UTC")),
            })
            # hidden name while writing: the file source skips dot files
            tmp = os.path.join(self.directory, f".part-{k:06d}.parquet")
            pq.write_table(table, tmp)
            os.rename(tmp, os.path.join(self.directory, f"part-{k:06d}.parquet"))
            self.lateness_s.append(time.time() - due)
            old = k - round(self.KEEP_S / self.tick_s)
            if old >= 0:
                os.remove(os.path.join(self.directory, f"part-{old:06d}.parquet"))
            k += 1

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=10)


SCHEMA = "id long, ts timestamp"


# ---------------------------------------------------------------- pipelines

class StreamRun:
    """One compiled pipeline: start, wait, stop, then summarise and check."""

    def __init__(self, spark, cfg: dict, seed: int, work_dir: str, cores: int, tracer: Tracer):
        self.spark, self.cfg, self.seed, self.tracer = spark, cfg, seed, tracer
        self.work_dir = work_dir
        self.cores = cores
        self.feed: OpenLoopFeed | None = None
        self.collector: Collector | None = None
        self.query = None

    # -- pipeline specs

    def _window_pipeline(self) -> Pipeline:
        cfg, seed = self.cfg, self.seed
        self.feed = OpenLoopFeed(os.path.join(self.work_dir, "feed"), cfg["rate"], cfg["tick_s"])
        feed_dir = self.feed.directory

        def keyed(df):
            key, value = window_key_value(F.col("id"), seed)
            return df.select(F.col("ts").alias("event_time"),
                             F.concat(F.lit("k"), key.cast("string")).alias("key"),
                             value.alias("v"))

        self.collector = Collector(self.tracer, ["window_start", "key", "n", "s", "last_ts"])
        p = Pipeline("floor-window")
        p.add(Vertex("in", source=Source(
            reader=lambda s: s.read.schema(SCHEMA).parquet(feed_dir),
            stream_reader=lambda s: replay_stream(s, feed_dir, schema=SCHEMA,
                                                  max_files_per_trigger=100_000))))
        p.add(Vertex("keyed", udf=MapUDF(keyed)))
        p.add(Vertex("window", udf=ReduceUDF(
            window={"fixed": "1 second"}, keys=["key"],
            aggs=[F.count("*").alias("n"), F.sum("v").alias("s"),
                  F.max("event_time").alias("last_ts")])))
        p.add(Vertex("out", sink=Sink(writer=ReliableSink(primary=self.collector.write))))
        p.connect("in", "keyed").connect("keyed", "window").connect("window", "out")
        return p

    def _dedup_pipeline(self) -> Pipeline:
        cfg, seed = self.cfg, self.seed

        # Source transformer (numaflow's event-time assignment): one second
        # of event time per generator batch, counted from the run's start.
        # The generator's own stamps start at the epoch, where Spark's
        # initial watermark already treats the first micro-batch as late.
        base = int(time.time())
        rows = cfg["rows_per_batch"]

        def redeliver(df):
            msg_id, src = dedup_ids(F.col("offset"), seed, cfg["reach"], _spark_where)
            # a redelivery is the original message again: same id, same event time
            return df.select(msg_id.alias("msg_id"),
                             F.timestamp_seconds(F.floor(src / rows) + base).alias("event_time"))

        self.collector = Collector(self.tracer, ["msg_id"])
        p = Pipeline("tail-dedup")
        p.add(Vertex("gen", source=Source(
            reader=_stream_only,
            stream_reader=lambda s: generator_stream(
                s, rows_per_batch=cfg["rows_per_batch"], key_count=8))))
        p.add(Vertex("redeliver", udf=MapUDF(redeliver)))
        p.add(Vertex("dedup", udf=MapUDF(lambda df: dedup_within_watermark(
            df, ["msg_id"], "event_time", cfg["dedup_window"]))))
        p.add(Vertex("out", sink=Sink(writer=ReliableSink(primary=self.collector.write))))
        p.connect("gen", "redeliver").connect("redeliver", "dedup").connect("dedup", "out")
        return p

    # -- lifecycle

    def start(self) -> None:
        """Compile and start the pipeline (the stateful width follows the
        engine's own rule), then wait until the first micro-batch commits."""
        shape = self.cfg["shape"]
        keys = WINDOW_KEYS if shape == "window" else self.cfg["rows_per_batch"]
        prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions",
                            str(streaming_state_partitions(keys, self.cores)))
        try:
            with self.tracer.span("compiler.compile_streaming"):
                p = self._window_pipeline() if shape == "window" else self._dedup_pipeline()
                if self.feed is not None:
                    self.feed.start()
                dep = compile_streaming(p, self.spark, trigger={"processingTime": "0 seconds"},
                                        checkpoint_root=os.path.join(self.work_dir, "ckpt"))
        finally:
            self.spark.conf.set("spark.sql.shuffle.partitions", prev)
        (self.query,) = dep.queries.values()
        with self.tracer.span("stream.first_batch"):
            self.wait_batches(1, timeout_s=120)

    def executed(self) -> list[dict]:
        """Progress of every executed micro-batch (idle polls excluded)."""
        seen = {}
        for p in self.query.recentProgress:
            if "addBatch" in p["durationMs"]:
                seen[p["batchId"]] = p
        return [seen[b] for b in sorted(seen)]

    def wait_batches(self, n: int, timeout_s: float) -> None:
        """Wait until ``n`` micro-batches have executed. Polls the one-entry
        ``lastProgress`` and reads the whole progress list only once that
        shows batch ``n - 1``: parsing every progress 100 times a second
        would load the driver while the pipeline warms up."""
        deadline = time.perf_counter() + timeout_s
        while True:
            last = self.query.lastProgress
            if last is not None and last["batchId"] >= n - 1 and len(self.executed()) >= n:
                return
            if self.query.exception() is not None:
                raise RuntimeError(f"stream failed: {self.query.exception()}")
            if time.perf_counter() > deadline:
                raise TimeoutError(f"fewer than {n} micro-batches in {timeout_s}s")
            time.sleep(0.01)

    def stop(self) -> None:
        if self.query is not None:
            try:
                self.query.stop()
            finally:
                if self.feed is not None:
                    self.feed.stop()

    # -- results

    def feed_lateness_ms(self) -> dict | None:
        """How late the open-loop feed wrote its files (None: closed loop)."""
        if self.feed is None:
            return None
        late = [x * 1e3 for x in self.feed.lateness_s]
        return {"median": median(late), "max": max(late, default=0.0), "files": len(late)}

    def samples(self, t_from: float, t_to: float) -> dict:
        """End-to-end stream figures over results that landed in (t_from, t_to].

        One latency sample per window (open loop) or micro-batch (closed loop)."""
        progress = {p["batchId"]: p for p in self.executed()}
        landed = sorted((t, e, tbl) for e, (t, tbl, _) in self.collector.batches.items()
                        if e in progress and tbl.num_rows)
        if self.cfg["shape"] == "window":
            lat, events = [], []
            for t, _, tbl in landed:
                per_window: dict[int, tuple[int, int]] = {}
                for ws, n, last in zip(tbl.column("window_start").to_pylist(),
                                       tbl.column("n").to_pylist(),
                                       tbl.column("last_ts").to_pylist()):
                    tot, mx = per_window.get(ws, (0, 0))
                    per_window[ws] = (tot + n, max(mx, int(last.timestamp() * 1e6)))
                for tot, last_us in per_window.values():
                    lat.append((t, (t - last_us / 1e6) * 1e3))
                events.append((t, sum(tot for tot, _ in per_window.values())))
        else:
            lat = [(t, (t - _epoch(progress[e]["timestamp"])) * 1e3) for t, e, _ in landed]
            events = [(t, tbl.num_rows) for t, _, tbl in landed]
        inside = [(t, n) for t, n in events if t_from < t <= t_to]
        span = inside[-1][0] - inside[0][0] if len(inside) > 1 else 0.0
        lats = [ms for t, ms in lat if t_from < t <= t_to]
        return {
            "stream_eps": sum(n for _, n in inside[1:]) / span if span else 0.0,
            "stream_p50_ms": median(lats),
            "latency_samples": len(lats),
            "latencies_ms": lats,
        }

    def phases(self, first_batch: int) -> dict:
        """Per-batch phase durations and state figures (medians) of the
        executed micro-batches from ``first_batch`` on."""
        ps = [p for p in self.executed() if p["batchId"] >= first_batch]
        d = lambda k: median(p["durationMs"].get(k, 0) for p in ps)
        st = lambda k: median(sum(o.get(k, 0) for o in p.get("stateOperators", [])) for p in ps)
        data = [p for p in ps if p["numInputRows"]]
        if self.cfg["shape"] == "window":
            backlog = median((_epoch(p["timestamp"]) - _epoch(p["eventTime"]["min"])) for p in data)
        else:
            backlog = 0.0  # closed loop: the source never runs ahead of the engine
        writes = [w for e, (_, _, w) in self.collector.batches.items() if e >= first_batch]
        return {
            "stream.batches": len(ps),
            "stream.trigger_ms": d("triggerExecution"),
            "stream.add_batch_ms": d("addBatch"),
            "stream.wal_commit_ms": d("walCommit"),
            "stream.commit_offsets_ms": d("commitOffsets"),
            "stream.latest_offset_ms": d("latestOffset"),
            "stream.query_planning_ms": d("queryPlanning"),
            "state.rows_total": st("numRowsTotal"),
            "state.memory_mb": st("memoryUsedBytes") / 1e6,
            "state.commit_ms": st("commitTimeMs"),
            "state.rows_removed": st("numRowsRemoved"),
            "sinks.write_ms": median(writes),
            "source.rows_per_batch": median(p["numInputRows"] for p in data),
            "source.backlog_s": backlog,
        }

    def check(self) -> tuple[int, int, dict]:
        """Recompute the expected results from the seeded schedule.

        Returns (attempted, failed, detail). Only micro-batches whose
        progress was posted (committed) are checked."""
        done = self.executed()
        last = done[-1]["batchId"]
        got = [self.collector.batches[e][1] for e in sorted(self.collector.batches) if e <= last]
        missing_epochs = [p["batchId"] for p in done if p["batchId"] not in self.collector.batches]
        if self.cfg["shape"] == "window":
            return self._check_window(got, done[-1], missing_epochs)
        return self._check_dedup(got, sum(p["numInputRows"] for p in done), missing_epochs)

    def _check_window(self, got, last_progress, missing_epochs):
        wm = _epoch(last_progress["eventTime"]["watermark"])
        feed = self.feed
        n_events = int(((wm * 1e6) - feed.t0_us) // feed.us_per_event) + 1
        ids = np.arange(0, max(n_events, 0), dtype=np.int64)
        due_s = feed.due_us(ids) // 1_000_000
        key, value = window_key_value(ids, self.seed)
        expected: dict[tuple[int, str], tuple[int, int]] = {}
        for ws in np.unique(due_s):
            if ws + 1 > wm:  # the watermark has not closed this window yet
                continue
            sel = due_s == ws
            for k in np.unique(key[sel]):
                m = sel & (key == k)
                expected[(int(ws), f"k{k}")] = (int(m.sum()), int(value[m].sum()))
        seen: dict[tuple[int, str], tuple[int, int]] = {}
        dup = 0
        for tbl in got:
            for ws, k, n, s in zip(*(tbl.column(c).to_pylist() for c in ("window_start", "key", "n", "s"))):
                dup += (ws, k) in seen
                seen[(ws, k)] = (n, s)
        wrong = sum(1 for k, v in expected.items() if seen.get(k) != v)
        extra = sum(1 for k in seen if k not in expected)
        detail = {"expected": len(expected), "wrong_or_missing": wrong, "unexpected": extra,
                  "duplicate": dup, "missing_epochs": missing_epochs}
        return len(expected), wrong + extra + dup + len(missing_epochs), detail

    def _check_dedup(self, got, n_input: int, missing_epochs):
        offsets = np.arange(n_input, dtype=np.int64)
        expected = np.unique(dedup_ids(offsets, self.seed, self.cfg["reach"], np.where)[0])
        ids = np.concatenate([t.column("msg_id").to_numpy() for t in got]) if got else \
            np.array([], dtype=np.int64)
        uniq, counts = np.unique(ids, return_counts=True)
        dup = int((counts - 1).sum())
        missing = int(np.setdiff1d(expected, uniq, assume_unique=True).size)
        extra = int(np.setdiff1d(uniq, expected, assume_unique=True).size)
        detail = {"expected": int(expected.size), "missing": missing, "unexpected": extra,
                  "duplicate": dup, "missing_epochs": missing_epochs}
        return int(expected.size), missing + extra + dup + len(missing_epochs), detail


def _epoch(iso: str) -> float:
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()
