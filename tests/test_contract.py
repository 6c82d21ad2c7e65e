"""Driver-contract tests: entry/queries/oracle_sql shape, plus a
fast oracle differential sample at sf0.001 (the full sweep lives in
tools/verify_oracle.py).
"""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entrymod
from mrtweety_analytic_spark.sources import TABLES
from tools.verify_oracle import compare

SAMPLE = [
    "q_text_trending",
    "q_agg_multi",
    "q_join_asof",
    "q_win_topk_per_group",
    "q_sim_knn_cosine",
    "q_dedup_exact",
    "q_fn_date",
    "q_basket_pairs",   # mining wave: support-pruned pair join
    "q_ts_ewma",        # mining wave: window-algebra EWMA
]


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["term", "cnt"]


def test_registry_shape():
    qs = entrymod.queries()
    osql = entrymod.oracle_sql()
    assert len(qs) >= 60
    assert set(osql) <= set(qs)
    # every query is callable
    assert all(callable(f) for f in qs.values())


def test_priority_window():
    """Round 5+: the 50-slot driver window rotates onto queries the
    driver has never sampled (VERDICT r04 item 1) — rounds 1-4 pinned
    the engine-defining names here and they now carry driver-green
    rows. Assert the window's structural contract: exactly 50 unique
    registered names leading the ordering, including this round's
    mandatory re-checks (the stale r01 rows and the operators whose
    oracles changed this round)."""
    names = list(entrymod.queries())
    prio = entrymod.PRIORITY
    assert len(prio) == 50
    assert len(set(prio)) == 50
    assert names[:50] == prio
    # Round-12 freshness rotation (pre-committed in r11): the 3
    # oracled round-12 births lead, then the 2 plan-changed
    # re-checks (broadcast-explicit crossJoin), then the full
    # 45-name r01 cohort — zero no_oracle slots, and the stalest
    # driver row advances r01 -> r03.
    assert prio[:5] == [
        "s_schema_drift", "q_training_export_full", "s_decontaminate",
        "q_dq_chi2", "q_ts_crosscorr",
    ]
    assert prio[5] == "q_scan_parquet"
    assert prio[49] == "q_set_union_all"
    oracled = set(entrymod.oracle_sql())
    assert all(n in oracled for n in prio), (
        "window contains a rows-only name; a no_oracle row certifies "
        "nothing"
    )


def test_batch_outputs_are_atomic(spark, sf_dir):
    """The driver's hasher cannot hash array/map/struct cells — every
    batch query must emit only atomic columns (CORRECTNESS_r01
    q_agg_collect failure class). Streaming queries are covered by
    tools/audit_schemas.py (they execute on call, too slow here)."""
    from pyspark.sql import types as T

    atomic = (
        T.StringType, T.IntegerType, T.LongType, T.ShortType, T.ByteType,
        T.DoubleType, T.FloatType, T.DecimalType, T.BooleanType,
        T.DateType, T.TimestampType, T.TimestampNTZType, T.BinaryType,
        T.NullType,
    )
    offenders = []
    for name, fn in entrymod.queries().items():
        if name.startswith("s_"):
            continue
        df = fn(spark, sf_dir)
        offenders.extend(
            (name, f.name, f.dataType.simpleString())
            for f in df.schema.fields
            if not isinstance(f.dataType, atomic)
        )
    assert not offenders, offenders


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", SAMPLE)
def test_oracle_sample(spark, duck, sf_dir, name):
    status, detail = compare(spark, duck, name, sf_dir)
    assert status == "OK", f"{name}: {status} {detail}"


def test_no_oracle_gate_is_trivially_empty():
    """Every DuckDB oracle must return rows at the driver's gate
    scale (sf0.01): a gate where both engines agree on the EMPTY SET
    certifies nothing (caught live twice — customer-minus-supplier
    nations and customers-without-orders are both empty on the dense
    synthetic corpus). Re-run after every corpus regeneration: a gate
    going empty means the operator needs non-degenerate operands, not
    that the engine is correct. Pure DuckDB — ~5 s, no Spark."""
    import duckdb

    from mrtweety_analytic_spark.queries import ORACLES
    from mrtweety_analytic_spark.sources import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('/root/testdata/sf0.01/{t}.parquet')"
        )
    empty = [
        name
        for name, sql in ORACLES.items()
        if not con.execute(sql).fetchall()
    ]
    assert not empty, f"trivially-empty oracle gates: {empty}"


def test_cli_sql_subcommand(spark, tmp_path, capsys):
    """Ad-hoc SQL entry point: corpus tables registered as views,
    result written as parquet."""
    from mrtweety_analytic_spark.__main__ import main as cli_main

    out = str(tmp_path / "sql_out.parquet")
    rc = cli_main(
        [
            "sql",
            "SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY 1",
            "--sf-dir",
            "/root/testdata/sf0.001",
            "--out",
            out,
        ]
    )
    assert rc == 0
    got = {
        r.o_orderpriority: r.n for r in spark.read.parquet(out).collect()
    }
    import duckdb

    expect = dict(
        duckdb.connect()
        .execute(
            "SELECT o_orderpriority, count(*) FROM "
            "'/root/testdata/sf0.001/orders.parquet' GROUP BY 1"
        )
        .fetchall()
    )
    assert got == expect


def test_pipeline_spec_matches_manual_composition(spark, sf_dir):
    """The spec runner's fold must equal composing the same stages by
    hand — and an unknown stage must fail before any job runs."""
    import pytest as _pytest
    from pyspark.sql import functions as F2

    from mrtweety_analytic_spark.operators.dedup import dedup_corpus
    from mrtweety_analytic_spark.pipeline_spec import compile_pipeline
    from mrtweety_analytic_spark.sources import load_table

    spec = [
        {"stage": "filter_lang", "lang": "en"},
        {"stage": "min_chars", "min": 50},
        {"stage": "dedup_exact"},
        {"stage": "dedup_near"},
    ]
    got = compile_pipeline(spark, sf_dir, spec)
    docs = load_table(spark, sf_dir, "documents").where(
        (F2.col("lang") == "en") & (F2.col("n_chars") >= 50)
    )
    _, expect = dedup_corpus(docs)
    assert got.count() == expect.count()
    assert (
        got.select("doc_id").exceptAll(expect.select("doc_id")).count() == 0
    )
    with _pytest.raises(ValueError, match="unknown pipeline stage"):
        compile_pipeline(spark, sf_dir, [{"stage": "nope"}])


def test_pipeline_semantic_stage_drops_pair_larger_id(spark):
    """dedup_semantic drops exactly the larger doc_id of each
    cos>=0.5 embedding pair (one such pair exists at sf0.01)."""
    from mrtweety_analytic_spark.pipeline_spec import compile_pipeline
    from mrtweety_analytic_spark.queries import QUERIES

    sf = "/root/testdata/sf0.01"
    pairs = QUERIES["q_dedup_embedding"](spark, sf).collect()
    assert len(pairs) >= 1  # fixture contract for this test
    dropped_expect = {r.vec_b for r in pairs}
    out = compile_pipeline(spark, sf, [{"stage": "dedup_semantic"}])
    kept = {r.doc_id for r in out.select("doc_id").collect()}
    assert kept.isdisjoint(dropped_expect)
    assert len(kept) == 500 - len(dropped_expect)


def test_cli_export_subcommand(spark, tmp_path):
    """`export` writes the shard-partitioned curated corpus plus a
    manifest whose per-shard counts reconcile with the written
    parquet and with q_training_export's certified aggregate."""
    import json

    from mrtweety_analytic_spark.__main__ import main as cli_main
    from mrtweety_analytic_spark.queries import QUERIES

    out = str(tmp_path / "texport")
    rc = cli_main(
        ["export", "--sf-dir", "/root/testdata/sf0.001", "--out", out]
    )
    assert rc == 0
    manifest = json.load(open(f"{out}/manifest.json"))["shards"]
    want = {
        r.shard: (r.n_docs, r.sum_chars)
        for r in QUERIES["q_training_export"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert {m["shard"]: (m["n_docs"], m["sum_chars"]) for m in manifest} == want
    data = spark.read.parquet(f"{out}/data")
    per_shard = {
        r.shard: r.n for r in data.groupBy("shard").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert per_shard == {m["shard"]: m["n_docs"] for m in manifest}


def test_only_session_sets_shuffle_partitions():
    """`session.tune` owns `spark.sql.shuffle.partitions` (state stores
    per core for streaming; batch plans start at AQE's
    initialPartitionNum). A module that sets it at runtime overrides
    the rule process-wide and races any other query on the session,
    so no package module but session.py may set it: no `conf.set(...)`,
    builder `.config(...)`, conf-dict entry or SQL `SET` of that key.
    Prose that only mentions the conf is fine."""
    import pathlib
    import re

    import mrtweety_analytic_spark as pkg

    key = r"""["']?spark\.sql\.shuffle\.partitions"""
    setter = re.compile(
        rf"""\.(?:set|config)\(\s*{key}|{key}["']\s*:|\bSET\s+{key}""",
        re.IGNORECASE,
    )
    root = pathlib.Path(pkg.__file__).parent
    offenders = [
        f"{path.relative_to(root)}:{i}"
        for path in sorted(root.rglob("*.py"))
        if path.name != "session.py" or path.parent != root
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if setter.search(line)
    ]
    assert not offenders, offenders


def test_stream_shuffle_partitions_caps_local_master_at_host_cores():
    """The default session is `local[32]` whatever the host; its state
    stores must not outnumber the cores that run them. A non-local
    master keeps its default parallelism."""
    import os
    from types import SimpleNamespace

    from mrtweety_analytic_spark.session import stream_shuffle_partitions

    def fake(master, parallelism):
        return SimpleNamespace(sparkContext=SimpleNamespace(
            master=master, defaultParallelism=parallelism))

    cores = os.cpu_count()
    assert stream_shuffle_partitions(fake("local[1]", 1)) == 1
    assert stream_shuffle_partitions(fake(f"local[{cores}]", cores)) == cores
    assert stream_shuffle_partitions(
        fake(f"local[{4 * cores}]", 4 * cores)) == cores
    assert stream_shuffle_partitions(
        fake("spark://head:7077", 4 * cores)) == 4 * cores
