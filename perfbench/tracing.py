"""Spans and Spark-reported counts, read from outside the program.

`Tracer` keeps spans (name, start, end, parent, trace id, counts) in
memory and writes them as JSON lines when the run ends; a disabled
tracer records nothing, so untraced runs pay only a branch per call.

The Spark readers use what the driver already keeps: the DAG
scheduler's job counter, the application status store (jobs, stages,
task metrics) and the block manager's RDD storage info. They work
with the UI disabled.
"""

from __future__ import annotations

import itertools
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, trace_id: str, parent: int | None = None):
        """Yield a dict the caller may fill with counts; its `id` is
        the parent for nested spans. Yields None when disabled."""
        if not self.enabled:
            yield None
            return
        rec = {"id": next(self._ids), "name": name, "trace": trace_id,
               "parent": parent, "start": time.time()}
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.spans.append(rec)

    def add(self, name: str, trace_id: str, start: float, end: float,
            parent: int | None = None, **counts) -> None:
        """Record a span whose bounds were measured elsewhere (e.g. by
        Spark's own progress report)."""
        if self.enabled:
            self.spans.append({"id": next(self._ids), "name": name,
                               "trace": trace_id, "parent": parent,
                               "start": start, "end": end, **counts})

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


def _ms(opt_date) -> float | None:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else None


class SparkStats:
    """Reads job, stage and storage counts from the driver's status
    store. Job ids are dense, so a half-open id range names exactly the
    jobs submitted between two `job_count()` calls."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        gw = spark.sparkContext._gateway
        self._no_status = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def job_count(self) -> int:
        return self._sc.dagScheduler().numTotalJobs()

    def jobs(self, first: int, last: int) -> dict:
        """Totals over jobs [first, last): counts, executor time,
        shuffle and spill bytes, and the wall time some job was
        running (`covered_s`)."""
        out = dict(jobs=0, stages=0, tasks=0, executor_run_s=0.0,
                   executor_cpu_s=0.0, shuffle_read_bytes=0,
                   shuffle_write_bytes=0, spill_bytes=0, job_s=0.0,
                   covered_s=0.0)
        spans, seen = [], set()
        for jid in range(first, last):
            try:
                job = self._store.job(jid)
            except Exception:  # noqa: BLE001 - evicted or still unknown
                continue
            out["jobs"] += 1
            start, end = _ms(job.submissionTime()), _ms(job.completionTime())
            if start is not None and end is not None:
                spans.append((start, end))
                out["job_s"] += end - start
            ids = job.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                self._add_stage(out, sid)
        out["covered_s"] = _union(spans)
        return out

    def _add_stage(self, out: dict, sid: int) -> None:
        attempts = self._store.stageData(
            sid, False, self._no_status, False, self._no_quantiles
        )
        for a in range(attempts.size()):
            st = attempts.apply(a)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()

    def pinned(self) -> tuple[int, int]:
        """(bytes, RDD count) held by cached or locally checkpointed RDDs."""
        infos = self._sc.getRDDStorageInfo()
        total = 0
        for info in infos:
            total += info.memSize() + info.diskSize()
        return total, len(infos)


def _union(spans: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def reset_peak_rss(jvm_pid: int) -> None:
    """Restart the peak-RSS count (VmHWM) of both driver processes."""
    for pid in ("self", str(jvm_pid)):
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def peak_rss_mb(jvm_pid: int) -> float:
    """Driver Python plus driver JVM peak resident set (VmHWM)."""
    total_kb = 0
    for pid in ("self", str(jvm_pid)):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0
