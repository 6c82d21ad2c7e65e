"""The top-k JSON document sink — the reference's R10 output contract.

Per trigger, serialize the current top-k as
    {"items": [{"hashtag": str, "count": int}, ...], "datetime": ISO}
and atomically overwrite ONE result file
(≙ SparkApplication.scala:109-130 and the committed sample
web/analytic.json: at most 5 items, counts descending, datetime is the
batch wall-clock as an ISO-8601 offset string).

Driver-side by design: the payload is ≤ k rows — the only part of the
pipeline that is *supposed* to collect.
"""

from __future__ import annotations

import json
import os
import tempfile
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def render_document(rows, now: datetime | None = None) -> str:
    """Serialize the reference's result document (web/analytic.json:
    items with count+hashtag keys, then an ISO-8601 offset datetime;
    UTC renders with the sample's millisecond+Z shape, matching Java's
    ISO_OFFSET_DATE_TIME at SparkApplication.scala:122)."""
    now = now or datetime.now(timezone.utc)
    if now.utcoffset() is not None and not now.utcoffset():
        stamp = (
            now.strftime("%Y-%m-%dT%H:%M:%S.")
            + f"{now.microsecond // 1000:03d}Z"
        )
    else:
        stamp = now.isoformat()
    items = [
        {"count": int(r["count"]), "hashtag": r["hashtag"]} for r in rows
    ]
    return json.dumps(
        {"items": items, "datetime": stamp}, ensure_ascii=False
    )


def write_result_file(path: str, payload: str) -> None:
    """Atomic overwrite: write-to-temp + rename (the reference's
    FileUtils.write at :125 is a plain overwrite; rename removes the
    torn-read window its 5 s web poller could hit).
    """
    d = os.path.dirname(os.path.abspath(path)) or "."
    fd, tmp = tempfile.mkstemp(dir=d, prefix=".analytic-", suffix=".json")
    try:
        with os.fdopen(fd, "w") as f:
            f.write(payload)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


class TopKFileSink:
    """foreachBatch hook writing the top-k of the trailing window,
    rolled up from `windowed_counts` pane rows (pipeline.py).

    * **Trailing window.** The pane width is ``w.end − w.start`` and
      the window length ``window_ms``, both read from the data. With
      boundary ``max(pane start) + pane width``, the document covers
      ``[boundary − window, boundary)`` — the trailing 15 minutes of
      ``reduceByKeyAndWindow(Minutes(15))`` (SparkApplication.scala:88):
      per key the sum of those panes' counts and the min of their casing.
    * **Delta merge.** In update output mode a micro-batch carries only
      the changed (pane, key) rows, each with its full pane count; the
      cache replaces those entries, so a key with no new events keeps
      its count.

    Scale envelope: the cache holds O(window/slide × distinct keys per
    pane); panes starting before ``boundary − window`` are evicted.
    Per-trigger driver traffic is the pane delta, and the rollup a plain
    sum over at most window/slide dicts. The cache lives in driver
    memory only: after a restart from a checkpoint it starts empty, so
    the document undercounts until one full window has passed.
    """

    def __init__(self, path: str, k: int = 5):
        self.path = path
        self.k = k
        # pane_start -> {key -> (count, display_hashtag)}
        self._panes: dict[datetime, dict[str, tuple[int, str]]] = {}
        self._width = self._window = None

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        rows = batch_df.select(
            F.col("w.start").alias("ps"), F.col("w.end").alias("pe"),
            "window_ms", "key", "count", "hashtag",
        ).collect()
        for r in rows:
            self._panes.setdefault(r["ps"], {})[r["key"]] = (
                int(r["count"]), r["hashtag"])
        if rows:
            self._width = rows[0]["pe"] - rows[0]["ps"]
            self._window = timedelta(milliseconds=rows[0]["window_ms"])
        if not self._panes:
            return
        lo = max(self._panes) + self._width - self._window
        self._panes = {p: c for p, c in self._panes.items() if p >= lo}
        counts: dict[str, tuple[int, str]] = {}
        for pane in self._panes.values():
            for key, (n, disp) in pane.items():
                m, d = counts.get(key, (0, disp))
                counts[key] = (m + n, min(d, disp))
        top = sorted(counts.items(), key=lambda kv: (-kv[1][0], kv[0]))
        write_result_file(self.path, render_document(
            {"count": n, "hashtag": disp} for _key, (n, disp) in top[: self.k]
        ))


def make_topk_file_sink(path: str, k: int = 5):
    """foreachBatch hook: emit the top-k of the trailing window each
    trigger ≙ the reference's per-batch foreachRDD(save)
    (SparkApplication.scala:92-95). See TopKFileSink for semantics."""
    return TopKFileSink(path, k=k)


class IdempotentParquetSink:
    """Exactly-once foreachBatch parquet sink via a batch-id
    transaction log.

    foreachBatch gives at-least-once delivery: after a crash between
    the write and the checkpoint commit, the SAME (epoch_id, data) is
    redelivered on restart. The standard fix (Structured Streaming
    docs' "use the batchId to deduplicate") is made concrete here:
    each batch lands in a `batch=<epoch>` subdirectory, written to a
    temp path first and promoted with an atomic rename, and an
    already-present directory means the batch committed previously —
    the redelivery is skipped, making the write path idempotent and
    the sink exactly-once end-to-end. At 100 TB the same pattern
    holds with a cloud-atomic commit (rename on HDFS, copy+manifest
    on object stores).
    """

    def __init__(self, path: str) -> None:
        self.path = path

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        import os
        import shutil
        import uuid

        final = os.path.join(self.path, f"batch={epoch_id}")
        if os.path.exists(final):
            # Redelivered batch after a sink-side commit: drop it.
            return
        tmp = os.path.join(self.path, f".tmp-{epoch_id}-{uuid.uuid4().hex[:8]}")
        batch_df.write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, final)
        except OSError:
            if os.path.exists(final):
                # Lost the promotion race to a concurrent redelivery
                # — that attempt committed the identical data.
                shutil.rmtree(tmp, ignore_errors=True)
            else:
                # Genuine rename failure (permissions, missing parent,
                # …): swallowing it would let the checkpoint commit a
                # batch whose data was never promoted — the silent
                # data-loss case. Surface it so the query fails and
                # the batch is redelivered.
                raise
