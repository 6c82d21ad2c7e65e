"""Golden test for the end-to-end reference pipeline (s_topk_sink):
tweet JSON → parse → explode → blacklist → sliding window count →
top-5 → {items, datetime} JSON file (FIXTURES.md §B), run BOTH as a
real Structured Streaming query and as the identical batch plan
(batch/stream equivalence, SURVEY.md §7.4).
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import functions as F

from mrtweety_analytic_spark.streaming.pipeline import (
    blacklist_filter,
    parse_hashtags,
    top_k_per_window,
    windowed_counts,
)
from mrtweety_analytic_spark.streaming.sink import (
    make_topk_file_sink,
    render_document,
    write_result_file,
)

# Fixture rows per FIXTURES.md §B1: multiple hashtags per record,
# absent entities, empty hashtags array, case variants, blacklisted
# terms in mixed case.
TWEETS = [
    '{"entities": {"hashtags": [{"text": "Spark"}, {"text": "flink"}]}}',
    '{"entities": {"hashtags": [{"text": "SPARK"}]}}',
    '{"entities": {"hashtags": [{"text": "spark"}]}}',
    '{"entities": {"hashtags": [{"text": "Europe"}, {"text": "EU"}]}}',  # blacklisted
    '{"entities": {"hashtags": []}}',                                    # empty array
    '{"no_entities_here": 1}',                                           # absent entities
    "not json at all",                                                   # malformed
    '{"entities": {"hashtags": [{"text": "kafka"}, {"text": "Flink"}]}}',
]
BASE_TS = "2024-01-01 00:00:"


def _tweet_df(spark):
    rows = [(TWEETS[i], f"{BASE_TS}{i:02d}") for i in range(len(TWEETS))]
    return spark.createDataFrame(rows, "value string, ts_str string").select(
        "value", F.col("ts_str").cast("timestamp").alias("ts")
    )


def _batch_result(spark):
    parsed = parse_hashtags(_tweet_df(spark))
    filtered = blacklist_filter(parsed)
    counts = windowed_counts(
        filtered, window="15 minutes", slide="15 minutes", watermark=None
    )
    return top_k_per_window(counts)


def test_parse_tolerates_absent_and_malformed(spark):
    parsed = parse_hashtags(_tweet_df(spark))
    # 8 records -> 8 hashtag rows: 2+1+1+2+0+0+0+2 (blacklisted terms
    # still parse — filtering is a separate operator; absent entities,
    # empty arrays and malformed JSON contribute nothing).
    assert parsed.count() == 8


def test_batch_pipeline_golden(spark):
    rows = _batch_result(spark).orderBy(F.desc("count"), "key").collect()
    got = [(r["key"], r["count"]) for r in rows]
    # spark×3 (case-merged), flink×2 (case-merged), kafka×1;
    # europe/eu blacklisted regardless of casing.
    assert got == [("spark", 3), ("flink", 2), ("kafka", 1)]
    # display casing = min() deterministic choice
    display = {r["key"]: r["hashtag"] for r in rows}
    assert display["spark"] == "SPARK"  # min of {Spark, SPARK, spark}


def test_batch_sliding_window_rolls_up_panes(spark):
    """window = 3 x slide: top_k_per_window must sum each window's
    three panes, not rank the panes themselves. Tweets sit at seconds
    0-7, so panes [0,5) and [5,10) feed windows starting -10, -5, 0, 5."""
    counts = windowed_counts(
        blacklist_filter(parse_hashtags(_tweet_df(spark))),
        window="15 seconds",
        slide="5 seconds",
        watermark=None,
    )
    got: dict[str, list] = {}
    for r in top_k_per_window(counts, k=2).select(
        F.date_format("w.start", "HH:mm:ss").alias("ws"),
        (F.unix_seconds("w.end") - F.unix_seconds("w.start")).alias("span"),
        "key", "count", "hashtag",
    ).collect():
        assert r["span"] == 15
        got.setdefault(r["ws"], []).append((r["count"], r["key"], r["hashtag"]))
    full = [(3, "spark", "SPARK"), (2, "flink", "Flink")]
    assert {ws: sorted(v, key=lambda t: (-t[0], t[1])) for ws, v in got.items()} == {
        "23:59:50": [(3, "spark", "SPARK"), (1, "flink", "flink")],
        "23:59:55": full,
        "00:00:00": full,
        "00:00:05": [(1, "flink", "Flink"), (1, "kafka", "kafka")],
    }


def test_stream_equals_batch(spark, tmp_path):
    src = tmp_path / "tweets"
    src.mkdir()
    pdf = _tweet_df(spark).toPandas()
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(str(src / "p"))

    raw = (
        spark.readStream.schema("value string, ts timestamp")
        .parquet(str(src / "p"))
    )
    counts = windowed_counts(
        blacklist_filter(parse_hashtags(raw)),
        window="15 minutes",
        slide="15 minutes",
        watermark=None,
    )
    q = (
        counts.writeStream.outputMode("complete")
        .format("memory")
        .queryName("golden_stream")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    stream_rows = {
        (r["key"], r["count"])
        for r in spark.table("golden_stream").collect()
    }
    batch_rows = {
        (r["key"], r["count"]) for r in _batch_result(spark).collect()
    }
    assert stream_rows == batch_rows
    spark.catalog.dropTempView("golden_stream")


def test_json_document_contract(spark, tmp_path):
    """Output must match the reference result document shape
    (≙ web/analytic.json: items[{hashtag,count}] + ISO datetime)."""
    from datetime import datetime

    out = tmp_path / "analytic.json"
    emit = make_topk_file_sink(str(out), k=5)
    emit(_batch_result(spark), epoch_id=0)
    doc = json.loads(out.read_text())
    assert set(doc) == {"items", "datetime"}
    assert len(doc["items"]) <= 5
    counts = [i["count"] for i in doc["items"]]
    assert counts == sorted(counts, reverse=True)
    assert {"europe", "eu"}.isdisjoint(
        {i["hashtag"].lower() for i in doc["items"]}
    )
    datetime.fromisoformat(doc["datetime"])  # parseable ISO-8601
    # overwrite semantics: emitting again fully replaces the file
    emit(_batch_result(spark), epoch_id=1)
    assert json.loads(out.read_text())["items"] == doc["items"]


def _pane_rows(spark, rows):
    """rows: (pane_start_str, pane_end_str, key, count, hashtag) — the
    `windowed_counts` pane contract, for a 15-minute window."""
    df = spark.createDataFrame(
        rows, "ps string, pe string, key string, count long, hashtag string"
    )
    return df.select(
        F.struct(
            F.col("ps").cast("timestamp").alias("start"),
            F.col("pe").cast("timestamp").alias("end"),
        ).alias("w"),
        "key",
        "count",
        "hashtag",
        F.lit(15 * 60_000).cast("long").alias("window_ms"),
    )


def test_sink_selects_trailing_window_not_newest(spark, tmp_path):
    """ADVICE r1 (high): with window=15m slide=5m the newest pane holds
    only the last ~5 min of events. The document must carry the
    TRAILING window [boundary - 15m, boundary), boundary = newest pane
    start + pane width — exactly what reduceByKeyAndWindow(Minutes(15))
    reports: the sum of its three panes, casing the min over them."""
    out = tmp_path / "analytic.json"
    emit = make_topk_file_sink(str(out), k=5)
    # Newest event at ~12:14 → boundary 12:15, trailing window
    # [12:00, 12:15); the 11:55 pane lies outside it.
    d = "2024-01-01 "
    emit(
        _pane_rows(
            spark,
            [
                (d + "11:55:00", d + "12:00:00", "old", 9, "old"),
                (d + "12:00:00", d + "12:05:00", "spark", 3, "Spark"),
                (d + "12:00:00", d + "12:05:00", "kafka", 4, "kafka"),
                (d + "12:05:00", d + "12:10:00", "spark", 3, "Spark"),
                (d + "12:10:00", d + "12:15:00", "spark", 1, "SPARK"),
            ],
        ),
        epoch_id=0,
    )
    doc = json.loads(out.read_text())
    assert doc["items"] == [
        {"count": 7, "hashtag": "SPARK"},
        {"count": 4, "hashtag": "kafka"},
    ]


def test_sink_merges_update_mode_deltas_across_triggers(spark, tmp_path):
    """ADVICE r1 (medium): update mode delivers only changed (pane,
    key) rows per trigger, each with its full pane count; keys untouched
    this trigger must keep their cached counts in the written top-k,
    and a re-emitted pane count replaces (not adds to) the cached one."""
    out = tmp_path / "analytic.json"
    emit = make_topk_file_sink(str(out), k=5)
    d = "2024-01-01 "
    # Trigger 1: spark/kafka events between 11:56 and 12:04.
    emit(
        _pane_rows(
            spark,
            [
                (d + "11:55:00", d + "12:00:00", "spark", 2, "Spark"),
                (d + "11:55:00", d + "12:00:00", "kafka", 1, "kafka"),
                (d + "12:00:00", d + "12:05:00", "spark", 3, "Spark"),
                (d + "12:00:00", d + "12:05:00", "kafka", 2, "kafka"),
            ],
        ),
        epoch_id=0,
    )
    assert json.loads(out.read_text())["items"] == [
        {"count": 5, "hashtag": "Spark"},
        {"count": 3, "hashtag": "kafka"},
    ]
    # Trigger 2: flink events at ~12:06 and one more kafka event in the
    # 12:00 pane — spark sends NO delta rows, yet must keep its cached
    # counts in the trailing window [11:55, 12:10).
    emit(
        _pane_rows(
            spark,
            [
                (d + "12:00:00", d + "12:05:00", "kafka", 3, "kafka"),
                (d + "12:05:00", d + "12:10:00", "flink", 6, "flink"),
            ],
        ),
        epoch_id=1,
    )
    doc = json.loads(out.read_text())
    assert doc["items"] == [
        {"count": 6, "hashtag": "flink"},
        {"count": 5, "hashtag": "Spark"},
        {"count": 4, "hashtag": "kafka"},
    ]


def test_sink_empty_batch_keeps_last_document(spark, tmp_path):
    out = tmp_path / "analytic.json"
    emit = make_topk_file_sink(str(out), k=5)
    pane = ("2024-01-01 12:00:00", "2024-01-01 12:05:00")
    emit(_pane_rows(spark, [(*pane, "spark", 5, "Spark")]), epoch_id=0)
    first = json.loads(out.read_text())["items"]
    emit(_pane_rows(spark, []), epoch_id=1)  # trailing empty batch
    assert json.loads(out.read_text())["items"] == first


def test_sliding_stream_keeps_late_rows_and_pane_state(spark, tmp_path):
    """Four micro-batches (one parquet file each), window = 4 slides,
    watermark = 1 slide. The last file carries a row at 14 s, older than
    the 25 s watermark that max event time 35 s set two triggers before
    (Spark drops rows by the previous trigger's watermark), but inside
    the trailing window [0 s, 40 s): the document must count it, as the
    per-window plan did — which needs the pane watermark widened by
    window - slide. Each trigger must also update at most one state row
    per distinct (pane, key) of its input, not one per covering window."""
    import time
    from datetime import datetime, timedelta, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mrtweety_analytic_spark.streaming import telemetry

    slide, window = 10, 40
    files = [
        [(5, ["a", "B", "EU"]), (12, ["a"])],
        [(31, ["b"]), (35, ["c", "A"])],
        [(38, ["a"])],
        [(14, ["b"])],
    ]
    t0 = datetime(2024, 1, 1, 12, tzinfo=timezone.utc)
    src = tmp_path / "tweets"
    src.mkdir()
    for i, rows in enumerate(files):
        path = str(src / f"part-{i}.parquet")
        pq.write_table(pa.table({
            "value": [
                json.dumps({"entities": {"hashtags": [{"text": t} for t in tags]}})
                for _, tags in rows
            ],
            "ts": pa.array([t0 + timedelta(seconds=sec) for sec, _ in rows],
                           pa.timestamp("us", tz="UTC")),
        }), path)
        os.utime(path, (time.time() - 100 + i, time.time() - 100 + i))

    def tags_of(rows):
        return [(sec, t) for sec, tags in rows for t in tags if t.lower() != "eu"]

    # Python recount of the trailing window after every file.
    all_tags = [x for rows in files for x in tags_of(rows)]
    boundary = max(sec for sec, _ in all_tags) // slide * slide + slide
    recount: dict[str, list] = {}
    for sec, t in all_tags:
        if boundary - window <= sec < boundary:
            c = recount.setdefault(t.lower(), [0, t])
            c[0], c[1] = c[0] + 1, min(c[1], t)
    ranked = sorted(recount.items(), key=lambda kv: (-kv[1][0], kv[0]))
    want = [{"count": n, "hashtag": d} for _k, (n, d) in ranked]
    assert want == [{"count": 4, "hashtag": "A"}, {"count": 3, "hashtag": "B"},
                    {"count": 1, "hashtag": "c"}]

    raw = (
        spark.readStream.schema("value string, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    counts = windowed_counts(
        blacklist_filter(parse_hashtags(raw)),
        window=f"{window} seconds",
        slide=f"{slide} seconds",
        watermark=f"{slide} seconds",
    )
    out = tmp_path / "analytic.json"
    rec = telemetry.attach(spark)
    try:
        q = (
            counts.writeStream.outputMode("update")
            .foreachBatch(make_topk_file_sink(str(out), k=5))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(timeout=300)
        deadline = time.time() + 30
        while rec.summary()["total_input_rows"] < 6 and time.time() < deadline:
            time.sleep(0.2)
        data = [r for r in sorted(rec.records, key=lambda r: r["batch_id"])
                if r["input_rows"]]
    finally:
        telemetry.detach(spark, rec)
    assert json.loads(out.read_text())["items"] == want
    assert len(data) == len(files)
    for r, rows in zip(data, files):
        pairs = {(sec // slide, t.lower()) for sec, t in tags_of(rows)}
        assert 0 < r["state_rows_updated"] <= len(pairs), (r, pairs)


def test_stream_state_stores_one_per_core(spark, sf_dir):
    """Streaming half of the session's shuffle-width rule: AQE is off
    inside micro-batches, so the windowed aggregate's state-store count
    is `spark.sql.shuffle.partitions`, which the session sets to one per
    core — not the batch shuffle width."""
    from mrtweety_analytic_spark.session import stream_shuffle_partitions
    from mrtweety_analytic_spark.sources import load_events_stream

    events = load_events_stream(spark, sf_dir).select(
        "ts", F.col("event_type").alias("hashtag")
    )
    counts = windowed_counts(
        events, window="1 day", slide="6 hours", watermark="1 minute"
    )
    q = (
        counts.writeStream.outputMode("update")
        .format("noop")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(timeout=300)
    stores = {
        s.numStateStoreInstances
        for p in q.recentProgress
        for s in p.stateOperators
    }
    assert stores == {stream_shuffle_partitions(spark)}


def test_batch_shuffle_keeps_initial_partition_num(spark, sf_dir):
    """Batch half of the rule: with AQE coalescing on, a batch exchange
    is planned at `initialPartitionNum` (32) whatever
    `spark.sql.shuffle.partitions` says, and AQE coalesces it at run
    time."""
    from mrtweety_analytic_spark.sources import load_table

    df = load_table(spark, sf_dir, "events").groupBy("event_type").count()
    initial = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=false" in initial
    assert re.search(r"Exchange hashpartitioning\(event_type#\d+, 32\)", initial)
    assert len(df.collect()) == 5
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final and "AQEShuffleRead coalesced" in final


def test_document_byte_shape_matches_reference_sample():
    """Pin the serialized shape against the reference's committed
    sample (web/analytic.json): item keys count+hashtag, top-level
    items+datetime, UTC datetime with millisecond precision + Z."""
    from datetime import datetime, timezone

    doc = render_document(
        [{"hashtag": "#test1", "count": 1}],
        now=datetime(2000, 1, 1, tzinfo=timezone.utc),
    )
    assert doc == (
        '{"items": [{"count": 1, "hashtag": "#test1"}], '
        '"datetime": "2000-01-01T00:00:00.000Z"}'
    )


def test_write_result_file_atomic(tmp_path):
    p = tmp_path / "r.json"
    write_result_file(str(p), render_document([]))
    first = p.read_text()
    write_result_file(str(p), render_document([{"hashtag": "x", "count": 2}]))
    second = json.loads(p.read_text())
    assert json.loads(first)["items"] == []
    assert second["items"] == [{"hashtag": "x", "count": 2}]
    assert len(list(os.listdir(tmp_path))) == 1  # no temp litter


def test_kafka_source_options_reference_parity():
    """R1 parity: topic and offset semantics match the reference's
    direct-stream config (SparkApplication.scala:45-61)."""
    from mrtweety_analytic_spark.streaming.kafka import (
        kafka_source_options,
    )

    opts = kafka_source_options("broker:9092")
    assert opts["subscribe"] == "tweet"
    assert opts["startingOffsets"] == "latest"
    assert opts["kafka.bootstrap.servers"] == "broker:9092"


def test_kafka_sink_serializes_all_columns(spark):
    """The sink payload must be ONE `value` column whose JSON parses
    back to every input column (the serialization contract, testable
    without a broker on a batch DataFrame)."""
    import json

    from mrtweety_analytic_spark.streaming.kafka import kafka_payload

    df = spark.createDataFrame(
        [(1, "a", 2.5), (2, "b", 3.0)], "n int, tag string, x double"
    )
    out = kafka_payload(df)
    assert out.columns == ["value"]
    rows = [json.loads(r.value) for r in out.collect()]
    assert sorted(rows, key=lambda r: r["n"]) == [
        {"n": 1, "tag": "a", "x": 2.5},
        {"n": 2, "tag": "b", "x": 3.0},
    ]


def test_custom_stream_source_incremental_offsets(spark):
    """The Python streaming source must deliver every row exactly once
    across multiple microbatches (offset bookkeeping + chunked
    drain)."""
    import time

    from mrtweety_analytic_spark.sources_python_ds import (
        register_tweetgen_stream,
    )

    register_tweetgen_stream(spark)
    df = (
        spark.readStream.format("tweetgen_stream")
        .option("rows", "500")
        .option("chunk", "100")
        .load()
    )
    q = (
        df.writeStream.format("memory")
        .queryName("tg_stream_test")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.table("tg_stream_test").count() >= 500:
                break
            time.sleep(1)
    finally:
        q.stop()
    rows = spark.table("tg_stream_test").select("id").collect()
    ids = sorted(r.id for r in rows)
    assert ids == list(range(500))  # every row once, none duplicated


def test_live_processing_time_trigger(spark, tmp_path):
    """The reference's actual operating mode (SparkApplication.scala:
    37, 97-102): a live processingTime trigger over the tweet stream
    source, document re-emitted per trigger. Bounded: start, wait for
    two result-file generations (distinct `datetime` stamps), stop.
    Trigger/window shrunk from the reference's 10 s/15 min so the
    test completes in seconds — the MODE (processing-time trigger +
    awaitTermination lifecycle) is what's under test."""
    import json
    import time

    from mrtweety_analytic_spark.streaming.live import start_live_topk

    out = str(tmp_path / "analytic.json")
    q = start_live_topk(
        spark,
        out,
        trigger="1 seconds",
        window="4 seconds",
        slide="2 seconds",
        rows=1_000_000,
        chunk=50,
        checkpoint=str(tmp_path / "ckpt"),
    )
    try:
        assert q.isActive
        stamps: set[str] = set()
        deadline = time.time() + 60
        while len(stamps) < 2 and time.time() < deadline:
            time.sleep(0.5)
            try:
                with open(out) as f:
                    doc = json.load(f)
            except (FileNotFoundError, json.JSONDecodeError):
                continue  # not yet written / racing the writer
            stamps.add(doc["datetime"])
            assert isinstance(doc["items"], list)
            for item in doc["items"]:
                assert set(item) == {"count", "hashtag"}
        assert len(stamps) >= 2, (
            f"expected 2 result-file generations within 60s, saw {stamps}"
        )
    finally:
        q.stop()
        q.awaitTermination(timeout=30)
