"""Deterministic tweet-JSON generator, as one Spark column expression.

A tweet is a pure function of (seed, row value): every random draw is
an `xxhash64` of the seed, the value and a slot tag, so the same seed
always yields byte-identical tweets, in batch and in streaming, on any
partitioning. The generator runs inside Spark (no Python UDF), so in a
live run it costs the engine as little as a real ingest would.

Declared shape (checked by `test_tweetgen.py`):

* `TAGGED_SHARE` of tweets carry 1-3 hashtags (uniform count); the
  rest have no `entities` or an empty `hashtags` array, half each.
* Each tag slot is a blacklisted term with probability
  `BLACKLIST_SHARE`; otherwise it draws a rank from `VOCAB` tags with
  P(rank k) = ln((k+2)/(k+1)) / ln(VOCAB+1), a continuous Zipf (s=1).
* Casing per slot: lower 1/2, UPPER 1/4, Capitalised 1/4, so the same
  key arrives in up to three display forms.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

VOCAB = 2000
TAGGED_SHARE = 0.75
BLACKLIST_SHARE = 1 / 16
BLACKLIST_TERMS = ("europe", "europa", "eu", "euro")
MAX_TAGS = 3

_U53 = float(1 << 53)


def _unit(seed: int, value: Column, slot: str) -> Column:
    """A uniform double in [0, 1) drawn from (seed, value, slot)."""
    h = F.xxhash64(F.lit(seed), value, F.lit(slot))
    return F.shiftrightunsigned(h, 11) / F.lit(_U53)


def _cased(name: Column, u: Column) -> Column:
    return (
        F.when(u < 0.5, name)
        .when(u < 0.75, F.upper(name))
        .otherwise(F.initcap(name))
    )


def tag_name(seed: int, rank: Column) -> Column:
    """Lower-case tag text for a vocabulary rank; the rank keeps names
    distinct, the seeded hash makes vocabularies differ across seeds."""
    r = rank.cast("string")
    return F.concat(
        F.lit("h"), r, F.lit("x"),
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), r)), 1, 3),
    )


def _tag(seed: int, value: Column, slot: int) -> Column:
    u_rank = _unit(seed, value, f"rank{slot}")
    rank = F.least(
        F.floor(F.exp(u_rank * F.log(F.lit(VOCAB + 1.0)))) - 1,
        F.lit(VOCAB - 1),
    ).cast("int")
    black = F.element_at(
        F.array(*[F.lit(t) for t in BLACKLIST_TERMS]),
        (F.floor(_unit(seed, value, f"bterm{slot}") * len(BLACKLIST_TERMS)) + 1).cast("int"),
    )
    name = F.when(
        _unit(seed, value, f"black{slot}") < BLACKLIST_SHARE, black
    ).otherwise(tag_name(seed, rank))
    return F.struct(_cased(name, _unit(seed, value, f"case{slot}")).alias("text"))


def tweet_json(seed: int, value: Column) -> Column:
    """Tweet JSON for one row value: `{"id", "text", "entities":
    {"hashtags": [{"text"}...]}}`, the reference's input contract."""
    u_kind = _unit(seed, value, "kind")
    n_tags = F.when(
        u_kind < TAGGED_SHARE,
        F.floor(u_kind / (TAGGED_SHARE / MAX_TAGS)).cast("int") + 1,
    ).otherwise(F.lit(0))
    tags = F.slice(
        F.array(*[_tag(seed, value, s) for s in range(MAX_TAGS)]), 1, n_tags
    )
    entities = F.when(
        u_kind < TAGGED_SHARE + (1 - TAGGED_SHARE) / 2,
        F.struct(tags.alias("hashtags")),
    )
    return F.to_json(
        F.struct(
            value.alias("id"),
            F.concat(F.lit("status "), value.cast("string")).alias("text"),
            entities.alias("entities"),
        )
    )
