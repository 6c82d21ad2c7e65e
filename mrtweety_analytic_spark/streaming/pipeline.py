"""The reference dataflow as a pure DataFrame transformation.

Reference pipeline (SparkApplication.scala:63-95):
  Kafka value -> JSON parse -> explode entities.hashtags[].text ->
  blacklist filter -> case-insensitive count over a 15-min window
  sliding every 10 s -> sort desc -> top 5 -> JSON file overwrite.

Everything here is expressed as functions DataFrame -> DataFrame so
the SAME code runs in batch (tests, oracle comparison) and streaming
(readStream + writeStream) — the batch/stream equivalence strategy of
SURVEY.md §7.4.

Time semantics: the reference's DStream windows are processing-time.
This engine uses event-time + watermark (a documented upgrade); for
exact reference parity `stamp_processing_time` substitutes ingest
wall-clock as the event time.

Pane contract ("No pane, no gain", Li et al. 2005): `windowed_counts`
keeps one state row per (slide-sized pane, key), window/slide (90 for
the reference) times fewer than per (window, key). Rows carry the pane
as `w` and the window length as `window_ms`; consumers sum a window's
panes (`top_k_per_window` in batch, `sink.TopKFileSink` per trigger).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources import TWEET_SCHEMA

# ≙ reference WORD_BLACKLIST (SparkApplication.scala:29): terms the
# producer tracks and the analytic job therefore suppresses.
WORD_BLACKLIST = ("europe", "europa", "eu", "euro")

WINDOW_DURATION = "15 minutes"   # ≙ Minutes(15), SparkApplication.scala:88
SLIDE_DURATION = "10 seconds"    # ≙ batch interval, SparkApplication.scala:37
TOP_K = 5                        # ≙ take(5), SparkApplication.scala:93


def parse_hashtags(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """value (JSON string) -> one row per hashtag text.

    ≙ the flatMap at SparkApplication.scala:66-85: from_json yields a
    null struct for malformed/absent entities and explode drops
    null/empty arrays, so such records contribute no rows (:82-84).
    Passes through every other column (e.g. the event-time stamp).
    """
    passthrough = [c for c in raw.columns if c != value_col]
    return (
        raw.withColumn("_tweet", F.from_json(F.col(value_col), TWEET_SCHEMA))
        .select(
            *passthrough,
            F.explode(F.col("_tweet.entities.hashtags.text")).alias("hashtag"),
        )
        .filter(F.col("hashtag").isNotNull())
    )


def blacklist_filter(
    df: DataFrame, col: str = "hashtag", blacklist: tuple = WORD_BLACKLIST
) -> DataFrame:
    """Case-insensitive NOT-IN ≙ SparkApplication.scala:29,77."""
    return df.filter(~F.lower(F.col(col)).isin(*blacklist))


_UNIT_MS = dict(week=604_800_000, day=86_400_000, hour=3_600_000,
                minute=60_000, second=1000, millisecond=1, microsecond=1e-3)


def _duration_ms(duration: str) -> float:
    """'15 minutes', '1 hour 30 minutes', '5000 milliseconds' -> ms."""
    parts = duration.lower().split()
    units = [u.removesuffix("s") for u in parts[1::2]]
    if not parts or len(parts) % 2 or not set(units) <= _UNIT_MS.keys():
        raise ValueError(f"unsupported duration {duration!r}")
    return sum(float(n) * _UNIT_MS[u] for n, u in zip(parts[::2], units))


def windowed_counts(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "hashtag",
    window: str = WINDOW_DURATION,
    slide: str = SLIDE_DURATION,
    watermark: str | None = "1 minute",
) -> DataFrame:
    """Case-folded counts per slide-sized pane of a sliding window.

    ≙ reduceByKeyAndWindow(_+_, Minutes(15)) with the Hashtag
    case-insensitive key (SparkApplication.scala:88, Hashtag.scala:
    11-17), kept incrementally in the state store per pane (module
    docstring): `w` is the tumbling pane [start, start + slide) and
    `window_ms` the window length, a whole number of slides. Display
    casing: min() (deterministic), not the reference's first-seen race.

    The streaming watermark delay is widened to `watermark + window −
    slide`. Spark drops late rows and evicts state by the group's window
    end, so a sliding window counts a row older than the watermark in
    every later window containing it; a pane ends window − slide
    earlier and needs that much more delay to keep the same rows.
    """
    window_ms, slide_ms = _duration_ms(window), _duration_ms(slide)
    if window_ms % slide_ms:
        raise ValueError(f"window {window!r} is not a multiple of slide {slide!r}")
    if watermark is not None and df.isStreaming:
        delay = _duration_ms(watermark) + window_ms - slide_ms
        df = df.withWatermark(ts_col, f"{round(delay * 1000)} microseconds")
    return (
        df.groupBy(
            F.window(F.col(ts_col), slide).alias("w"),
            F.lower(F.col(key_col)).alias("key"),
        )
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.min(key_col).alias("hashtag"),
        )
        .withColumn("window_ms", F.lit(int(window_ms)))
    )


def top_k_per_window(counts: DataFrame, k: int = TOP_K) -> DataFrame:
    """Per-window top-k of `windowed_counts` output with deterministic
    tiebreak (count desc, key asc) ≙ sortByKey(desc) + take(5)
    (SparkApplication.scala:90-93), planned as WindowGroupLimit instead
    of a full sort. Each pane first rolls up into the window_ms/slide
    windows containing it, so `w` here is the window, not the pane.
    """
    from pyspark.sql import Window as W

    start, end = (F.unix_micros(F.col(f"w.{c}")) for c in ("start", "end"))
    span, ws = F.col("window_ms") * 1000, F.col("ws")
    starts = F.sequence(start, end - span, start - end)  # windows holding the pane
    windows = (
        counts.select("*", F.explode(starts).alias("ws"))
        .groupBy(
            F.struct(
                F.timestamp_micros(ws).alias("start"),
                F.timestamp_micros(ws + span).alias("end"),
            ).alias("w"),
            "key",
            "window_ms",
        )
        .agg(F.sum("count").alias("count"), F.min("hashtag").alias("hashtag"))
    )
    w = W.partitionBy("w").orderBy(F.desc("count"), F.asc("key"))
    return (
        windows.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def stamp_processing_time(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Processing-time mode for exact reference parity (DStream windows
    are wall-clock): stamp arrival time as the event time.
    """
    return df.withColumn(ts_col, F.current_timestamp())
