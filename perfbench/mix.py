"""batch_llm_mix: registry queries one at a time over a seeded corpus,
each checked against its DuckDB oracle.

One query per operator module that registers LLM-pipeline operators,
preferring `bench.py`'s frozen-r5 core; README.md says why the list is
this short.
"""

from __future__ import annotations

import os
import time

import duckdb

from mrtweety_analytic_spark.queries import ORACLES, QUERIES

import corpus
import verify_oracle
from tracing import SparkStats, Tracer

MIX = (
    "q_text_trending",        # textops
    "q_dedup_pipeline",       # dedup
    "q_sim_knn_batch",        # similarity
    "q_text_passage_dedup",   # lifecycle
    "q_multimodal_dedup",     # multimodal
    "q_dq_gopher_rules",      # quality
    "q_basket_pairs",         # mining
    "q_graph_pagerank",       # graph
)
# Sized like the sf0.001 fixture: at this size every mix query is
# dominated by per-stage driver cost, as it is up to sf0.01 on 4 cores.
CORPUS = {"docs": 500, "vecs": 500, "orders": 1500}


def module_of(name: str) -> str:
    fn = QUERIES[name]
    return getattr(fn, "__wrapped__", fn).__module__.rsplit(".", 1)[-1]


def prepare(seed: int, workdir: str) -> tuple[str, int]:
    """Write the corpus; returns (its directory, its total row count)."""
    sf = os.path.join(workdir, "corpus")
    corpus.write_corpus(sf, seed, **CORPUS)
    con = duckdb.connect()
    rows = sum(
        con.execute(f"SELECT count(*) FROM '{sf}/{t}.parquet'").fetchone()[0]
        for t in corpus.TABLES
    )
    con.close()
    return sf, rows


def run_mix(spark, sf: str, corpus_rows: int, tracer: Tracer,
            stats: SparkStats) -> dict:
    """One pass over the mix in a fresh application, every query timed
    from its registry call to its collected result, then checked."""
    records = [_one(spark, sf, name, f"mix/{name}", tracer, stats, collect=True)
               for name in MIX]
    mismatch = _check(sf, records)
    layers = {}
    if tracer.enabled:
        layers = _layers(records)
        layers["trace.overhead_frac"] = _overhead(spark, sf, tracer, stats)
    mix_s = sum(r["total_s"] for r in records)
    return {
        "latency_ms": [r["total_s"] * 1e3 for r in records],
        "rows_per_s": corpus_rows / mix_s,
        "attempted": len(records),
        "failed": 0,
        "correct": mismatch is None,
        "mismatch": mismatch,
        "layers": layers,
    }


def _one(spark, sf, name, trace_id, tracer, stats, collect) -> dict:
    rec = {"name": name}
    j0 = stats.job_count() if tracer.enabled else 0
    with tracer.span(f"query.{name}", trace_id) as top:
        t0 = time.time()
        with tracer.span("registry.build", trace_id, top and top["id"]):
            df = QUERIES[name](spark, sf)
        t1 = time.time()
        j1 = stats.job_count() if tracer.enabled else 0
        with tracer.span("exec", trace_id, top and top["id"]):
            if collect:  # the checked result is the timed one
                rec["rows"], rec["cols"] = df.collect(), list(df.columns)
            else:
                df.write.format("noop").mode("overwrite").save()
        t2 = time.time()
    rec.update({"registry.build_s": t1 - t0, "exec_s": t2 - t1, "total_s": t2 - t0})
    if tracer.enabled:
        jobs = stats.jobs(j0, stats.job_count())
        rec.update({f"exec.{k}": v for k, v in jobs.items()})
        rec["exec.driver_gap_s"] = rec["total_s"] - jobs["covered_s"]
        rec["registry.build_jobs"] = j1 - j0
        rec["mem.pinned_bytes"], rec["mem.pinned_rdds"] = stats.pinned()
        top.update(jobs=jobs["jobs"], build_jobs=j1 - j0)
    return rec


def _check(sf: str, records: list[dict]) -> dict | None:
    """Each result against its DuckDB oracle: same columns, same row
    count, same rows under tools/verify_oracle.py's normalisation."""
    con = duckdb.connect()
    try:
        for t in corpus.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
        for r in records:
            cur = con.execute(ORACLES[r["name"]])
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
            got = verify_oracle._rows_key([tuple(x) for x in r.pop("rows")], r["cols"])
            if sorted(r["cols"]) != sorted(dcols) or got != verify_oracle._rows_key(drows, dcols):
                return {"query": r["name"], "columns": [r["cols"], dcols],
                        "rows": [len(got), len(drows)]}
    finally:
        con.close()
    return None


_SUMMED = ("exec.jobs", "exec.stages", "exec.tasks", "exec.executor_run_s",
           "exec.executor_cpu_s", "exec.shuffle_read_bytes",
           "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.driver_gap_s",
           "registry.build_jobs", "registry.build_s")


def _layers(records: list[dict]) -> dict:
    """Totals over the pass, per-module execution time, peak pins."""
    out = {k: sum(r[k] for r in records) for k in _SUMMED}
    for r in records:
        key = f"operators.{module_of(r['name'])}.exec_s"
        out[key] = out.get(key, 0.0) + r["exec_s"]
    for k in ("mem.pinned_bytes", "mem.pinned_rdds"):
        out[k] = max(r[k] for r in records)
    return out


def _overhead(spark, sf, tracer, stats) -> float:
    """Two more passes, now warm, each query traced in one and bare in
    the other: traced over bare time, minus one."""
    bare = Tracer(False)
    t = {True: 0.0, False: 0.0}
    for p in (0, 1):
        for i, name in enumerate(MIX):
            traced = (p + i) % 2 == 0
            rec = _one(spark, sf, name, f"warm{p}/{name}",
                       tracer if traced else bare, stats, collect=False)
            t[traced] += rec["total_s"]
    return t[True] / t[False] - 1
