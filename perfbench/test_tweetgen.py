"""Self-test of the tweet generator: determinism and the shape that
tweetgen.py declares.

    python3 -m pytest perfbench/test_tweetgen.py -q
"""

from __future__ import annotations

import json
import math
import os
import sys
from collections import Counter

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import tweetgen  # noqa: E402

N = 20000


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]").appName("tweetgen-test")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def _tweets(spark, seed: int, partitions: int) -> list[str]:
    from pyspark.sql import functions as F

    rows = (
        spark.range(0, N, numPartitions=partitions)
        .select("id", tweetgen.tweet_json(seed, F.col("id")).alias("j"))
        .collect()
    )
    return [r["j"] for r in sorted(rows, key=lambda r: r["id"])]


@pytest.fixture(scope="module")
def tweets(spark):
    return _tweets(spark, 7, 4)


def test_same_seed_same_tweets_on_any_partitioning(spark, tweets):
    assert _tweets(spark, 7, 1) == tweets
    assert _tweets(spark, 8, 4) != tweets


def test_declared_shares(tweets):
    kinds, per_tweet, slots = Counter(), Counter(), []
    for j in tweets:
        ent = json.loads(j).get("entities")
        if ent is None:
            kinds["none"] += 1
            continue
        tags = [h["text"] for h in ent["hashtags"]]
        kinds["tagged" if tags else "empty"] += 1
        per_tweet[len(tags)] += 1
        slots.extend(tags)
    assert kinds["tagged"] / N == pytest.approx(tweetgen.TAGGED_SHARE, abs=0.015)
    assert kinds["none"] == pytest.approx(kinds["empty"], rel=0.1)
    for n in range(1, tweetgen.MAX_TAGS + 1):
        assert per_tweet[n] / kinds["tagged"] == pytest.approx(1 / 3, abs=0.02)

    black = [t for t in slots if t.lower() in tweetgen.BLACKLIST_TERMS]
    assert len(black) / len(slots) == pytest.approx(tweetgen.BLACKLIST_SHARE, abs=0.006)
    assert {t.lower() for t in black} == set(tweetgen.BLACKLIST_TERMS)

    lower = sum(t == t.lower() for t in slots)
    upper = sum(t == t.upper() and t != t.lower() for t in slots)
    assert lower / len(slots) == pytest.approx(0.5, abs=0.015)
    assert upper / len(slots) == pytest.approx(0.25, abs=0.015)
    # Each key reaches the stream in several display forms.
    assert {"EU", "eu"} <= {t for t in black if t.lower() == "eu"}


def test_zipf_skew(tweets):
    ranks = Counter()
    for j in tweets:
        for h in (json.loads(j).get("entities") or {}).get("hashtags", []):
            text = h["text"].lower()
            if text not in tweetgen.BLACKLIST_TERMS:
                ranks[int(text[1:text.index("x")])] += 1
    total = sum(ranks.values())
    top = math.log(2) / math.log(tweetgen.VOCAB + 1)  # P(rank 0), s = 1
    assert ranks[0] / total == pytest.approx(top, rel=0.08)
    # Rank 0 vs rank 9 under s = 1: ln 2 / ln(11/10) = 7.27.
    assert ranks[0] / ranks[9] == pytest.approx(math.log(2) / math.log(1.1), rel=0.25)
    assert len(ranks) > tweetgen.VOCAB // 2  # a long tail is reached
