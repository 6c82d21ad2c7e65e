"""live_topk: the reference's own job, open loop.

Spark's `rate` source sends rows on a wall-clock schedule that does not
slow when the engine does; `tweetgen` turns each row into tweet JSON.
The chain is built from the package's public functions in the order
`streaming/live.py:start_live_topk` uses (`parse_hashtags` ->
`blacklist_filter` -> `windowed_counts` -> update mode -> foreachBatch
`TopKFileSink`, processingTime trigger); only the source differs.
Timing keeps the reference's proportions, compressed: trigger = slide
= 5 s (the reference: 10 s), window = 90 slides, watermark = 6 slides.

Per-trigger numbers come from Spark's own `StreamingQueryProgress`
(through a listener attached here) and from timing the sink call, in
which the whole micro-batch plan executes.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import Counter
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from mrtweety_analytic_spark.streaming.pipeline import (
    TOP_K,
    WORD_BLACKLIST,
    blacklist_filter,
    parse_hashtags,
    windowed_counts,
)
from mrtweety_analytic_spark.streaming.sink import make_topk_file_sink

from tracing import SparkStats, Tracer
from tweetgen import tweet_json

WINDOW_SLIDES = 90
WATERMARK_SLIDES = 6
SLIDE_MS = 5000
# 1000 / RATE must be whole: the source then stamps row v at exactly
# start + v * 1000 / RATE ms, which the recount relies on.
RATE = 40
# The trigger after start-up is still warming up (JIT); the window
# opens at this document.
WARMUP_DOCS = 2

_EXEC_KEYS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


class ProgressLog(StreamingQueryListener):
    """Keeps every progress report of the run, keyed by batch id."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._by_batch: dict[int, dict] = {}

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        with self._lock:
            self._by_batch[p["batchId"]] = p

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def get(self, batch_id: int) -> dict | None:
        with self._lock:
            return self._by_batch.get(batch_id)


class TimedSink:
    """Wraps the package's foreachBatch sink: times each call, keeps
    each document it writes, and on traced epochs reads the Spark jobs
    the call ran. Odd epochs are traced and even ones run bare, so the
    latency gap between the halves is the tracing overhead."""

    def __init__(self, path: str, stats: SparkStats, trace: bool) -> None:
        self.path = path
        self.sink = make_topk_file_sink(path, k=TOP_K)
        self.stats, self.trace = stats, trace
        self.calls: dict[int, dict] = {}  # written by Spark's callback thread
        self._lock = threading.Lock()
        self._last_file = None

    def __call__(self, batch_df: DataFrame, epoch: int) -> None:
        traced = self.trace and epoch % 2 == 1
        j0 = self.stats.job_count() if traced else 0
        start = time.time()
        self.sink(batch_df, epoch)
        end = time.time()
        rec = {"start": start, "end": end, "traced": traced, "doc": None}
        if os.path.exists(self.path):
            st = os.stat(self.path)
            if (st.st_ino, st.st_mtime_ns) != self._last_file:
                self._last_file = (st.st_ino, st.st_mtime_ns)
                with open(self.path) as f:
                    rec["doc"] = json.load(f)
        if traced:
            rec["jobs"] = self.stats.jobs(j0, self.stats.job_count())
        with self._lock:
            self.calls[epoch] = rec

    def docs(self) -> list[int]:
        with self._lock:
            return sorted(e for e, c in self.calls.items() if c["doc"] is not None)


def topk_counts(tweets: DataFrame) -> DataFrame:
    """The reference chain on a (value: tweet JSON, ts) frame."""
    return windowed_counts(
        blacklist_filter(parse_hashtags(tweets)),
        window=f"{WINDOW_SLIDES * SLIDE_MS} milliseconds",
        slide=f"{SLIDE_MS} milliseconds",
        watermark=f"{WATERMARK_SLIDES * SLIDE_MS} milliseconds",
    )


def _wait(cond, timeout: float, what: str) -> None:
    deadline = time.time() + timeout
    while not cond():
        if time.time() > deadline:
            raise RuntimeError(f"timed out waiting for {what}")
        time.sleep(0.05)


def _iso_s(stamp: str) -> float:
    return datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


class StreamRun:
    """One streaming query from start to stop. Start-up runs to the
    first document (`startup_s`); the window opens at document
    WARMUP_DOCS and closes `seconds` later, or at the first document
    after that if none landed inside it."""

    def __init__(self, spark, tweets, ckpt, doc, seconds, stats, trace) -> None:
        self.log = ProgressLog()
        self.sink = TimedSink(doc, stats, trace)
        spark.streams.addListener(self.log)
        writer = (
            topk_counts(tweets).writeStream.outputMode("update")
            .foreachBatch(self.sink).option("checkpointLocation", ckpt)
            .trigger(processingTime=f"{SLIDE_MS} milliseconds")
        )
        t0 = time.time()
        q = writer.start()
        try:
            self._await(q, t0, seconds)
        finally:
            q.stop()
            spark.streams.removeListener(self.log)

    def _await(self, q, t0: float, seconds: float) -> None:
        def failed():
            if q.exception():
                raise RuntimeError(f"stream failed: {q.exception()}")

        def docs_after(t):
            failed()
            return [e for e in self.sink.docs() if self.sink.calls[e]["end"] > t]

        _wait(lambda: docs_after(0), 150, "the first document")
        self.startup_s = self.sink.calls[self.sink.docs()[0]]["end"] - t0
        _wait(lambda: len(docs_after(0)) >= WARMUP_DOCS, 150, "the warm-up documents")
        self.window_start = self.sink.calls[self.sink.docs()[WARMUP_DOCS - 1]]["end"]
        time.sleep(max(0.0, self.window_start + seconds - time.time()))
        end = max(time.time(), self.window_start + seconds)
        _wait(lambda: docs_after(self.window_start), 150, "a measured document")
        self.epochs = [e for e in docs_after(self.window_start)
                       if self.sink.calls[e]["end"] <= end] or docs_after(self.window_start)[:1]
        _wait(lambda: all(self.log.get(e) for e in self.epochs), 30, "progress reports")

    def progress(self, e: int) -> dict:
        return self.log.get(e)

    def doc(self, e: int) -> list[dict]:
        return self.sink.calls[e]["doc"]["items"]

    def rows_per_s(self) -> float:
        rows = sum(self.progress(e)["numInputRows"] for e in self.epochs)
        return rows / (self.sink.calls[self.epochs[-1]]["end"] - self.window_start)

    def layers(self, tracer: Tracer, name: str, latency_ms: list[float]) -> dict:
        """Per-layer medians over the measured triggers; spans for the
        traced ones."""
        rows = []
        for e, lat in zip(self.epochs, latency_ms):
            p, call = self.progress(e), self.sink.calls[e]
            row = _progress_row(p)
            row["sink.call_ms"] = (call["end"] - call["start"]) * 1e3
            row["latency_ms"] = lat
            if call["traced"]:
                j = call["jobs"]
                row["sink.job_ms"] = j["job_s"] * 1e3
                row["sink.driver_ms"] = row["sink.call_ms"] - j["covered_s"] * 1e3
                row["pipeline.jobs_per_trigger"] = j["jobs"]
                row["pipeline.tasks_per_trigger"] = j["tasks"]
                row.update({f"exec.{k}": j[k] for k in _EXEC_KEYS})
                row["exec.driver_gap_s"] = (call["end"] - call["start"]) - j["covered_s"]
                trace_id = f"{name}/{e}"
                t_start = _iso_s(p["timestamp"])
                tracer.add("trigger", trace_id, t_start,
                           t_start + p["durationMs"]["triggerExecution"] / 1e3,
                           rows=p["numInputRows"])
                parent = tracer.spans[-1]["id"]
                tracer.add("sink.call", trace_id, call["start"], call["end"],
                           parent, jobs=j["jobs"], tasks=j["tasks"])
            rows.append(row)
        out = {k: statistics.median(r[k] for r in rows if k in r)
               for k in {k for r in rows for k in r}}
        traced = [r["latency_ms"] for r in rows if "sink.job_ms" in r]
        bare = [r["latency_ms"] for r in rows if "sink.job_ms" not in r]
        if traced and bare:
            out["trace.overhead_frac"] = statistics.median(traced) / statistics.median(bare) - 1
        out["stream.startup_s"] = self.startup_s
        out["sink.docs_written"] = len(self.epochs)
        return out


def _progress_row(p: dict) -> dict:
    d = p.get("durationMs", {})
    st = (p.get("stateOperators") or [{}])[0]
    return {
        "source.latest_offset_ms": d.get("latestOffset", 0),
        "source.get_batch_ms": d.get("getBatch", 0),
        "pipeline.planning_ms": d.get("queryPlanning", 0),
        "commit.wal_ms": d.get("walCommit", 0),
        "commit.offsets_ms": d.get("commitOffsets", 0),
        "trigger.execution_ms": d.get("triggerExecution", 0),
        "trigger.add_batch_ms": d.get("addBatch", 0),
        "state.stores": st.get("numStateStoreInstances", 0),
        "state.rows_total": st.get("numRowsTotal", 0),
        "state.rows_updated": st.get("numRowsUpdated", 0),
        "state.rows_removed": st.get("numRowsRemoved", 0),
        "state.rows_dropped_late": st.get("numRowsDroppedByWatermark", 0),
        "state.memory_bytes": st.get("memoryUsedBytes", 0),
        "state.update_ms": st.get("allUpdatesTimeMs", 0),
        "state.removal_ms": st.get("allRemovalsTimeMs", 0),
        "state.commit_ms": st.get("commitTimeMs", 0),
        # Update mode emits exactly the state rows this trigger updated.
        "sink.rows_in": st.get("numRowsUpdated", 0),
    }


def _tags_by_value(spark: SparkSession, seed: int, n: int) -> list[list[str]]:
    rows = spark.range(n).select("id", tweet_json(seed, F.col("id")).alias("j")).collect()
    out: list[list[str]] = [[] for _ in range(n)]
    for r in rows:
        ent = json.loads(r["j"]).get("entities") or {}
        out[r["id"]] = [h["text"] for h in ent.get("hashtags") or []]
    return out


def expected_items(tags: list[list[str]], ts_ms, n_rows: int) -> list[dict]:
    """Exact recount of the document after rows [0, n_rows): the
    trailing complete window, count desc then key asc, display casing
    min(), blacklisted keys dropped."""
    newest = ts_ms(n_rows - 1)
    boundary = newest - newest % SLIDE_MS + SLIDE_MS
    lo = boundary - WINDOW_SLIDES * SLIDE_MS
    counts: Counter = Counter()
    display: dict[str, str] = {}
    for v in range(n_rows):
        if not lo <= ts_ms(v) < boundary:
            continue
        for tag in tags[v]:
            key = tag.lower()
            if key in WORD_BLACKLIST:
                continue
            counts[key] += 1
            display[key] = min(display.get(key, tag), tag)
    top = sorted(counts, key=lambda k: (-counts[k], k))[:TOP_K]
    return [{"count": counts[k], "hashtag": display[k]} for k in top]


def gen_busy_ms(spark: SparkSession, seed: int, rows: int) -> float:
    """Generator-only pass (tweet JSON -> noop) over one trigger's rows:
    the load generator's own cost, apart from the system under test."""
    times = []
    for _ in range(3):
        t = time.time()
        spark.range(rows).select(tweet_json(seed, F.col("id"))).write \
            .format("noop").mode("overwrite").save()
        times.append((time.time() - t) * 1e3)
    return statistics.median(times)


def run_live(spark, seed, seconds, workdir, tracer, stats) -> dict:
    raw = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", RATE)
        .option("numPartitions", min(os.cpu_count() or 1, 4))
        .load()
    )
    tweets = raw.select(tweet_json(seed, F.col("value")).alias("value"),
                        F.col("timestamp").alias("ts"))
    ckpt = os.path.join(workdir, f"ckpt-{time.time_ns()}")
    run = StreamRun(spark, tweets, ckpt, os.path.join(workdir, "live.json"),
                    seconds, stats, tracer.enabled)
    with open(os.path.join(ckpt, "sources", "0", "0")) as f:
        src_start_ms = int(f.read().split()[-1])  # the source's own start
    src_start_s = src_start_ms / 1e3

    latency, backlog, misses = [], [], 0
    for e in run.epochs:
        p, doc_at = run.progress(e), run.sink.calls[e]["end"]
        latency.append((doc_at - _iso_s(p["timestamp"])) * 1e3)
        misses += doc_at - _iso_s(p["eventTime"]["max"]) > SLIDE_MS / 1e3
        # Rows the generator had created, minus rows already read, when
        # the trigger started. Rate offsets count whole seconds.
        read = int(p["sources"][0]["startOffset"] or 0) * RATE
        backlog.append(RATE * (_iso_s(p["timestamp"]) - src_start_s) - read)
    # Keeping up, a trigger finds about one slide (plus the source's
    # whole-second rounding) of rows waiting; growing past twice that
    # over the last triggers means the job has fallen behind.
    tail3 = backlog[-3:]
    if (len(tail3) == 3 and tail3[0] < tail3[1] < tail3[2]
            and tail3[2] > 2 * RATE * (SLIDE_MS / 1e3 + 1)):
        raise RuntimeError(f"live_topk backlog keeps growing: {[int(b) for b in backlog]}")

    last = run.epochs[-1]
    n = int(run.progress(last)["sources"][0]["endOffset"]) * RATE
    want = expected_items(_tags_by_value(spark, seed, n),
                          lambda v: src_start_ms + v * 1000 // RATE, n)
    got = run.doc(last)
    layers = run.layers(tracer, "live", latency) if tracer.enabled else {}
    layers["source.backlog_rows"] = statistics.median(backlog)
    return {
        "latency_ms": latency,
        "rows_per_s": run.rows_per_s(),
        "attempted": len(latency),
        "failed": misses,
        "correct": got == want,
        "mismatch": None if got == want else {"epoch": last, "got": got, "want": want},
        "layers": layers,
        "startup_s": run.startup_s,
        "trigger_rows": RATE * SLIDE_MS // 1000,
    }
