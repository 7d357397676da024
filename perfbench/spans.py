"""In-memory spans and Spark stage metrics for the traced run.

A span is recorded around each call the benchmark makes into a layer of
the engine. While a span is open its Spark jobs carry a job group of
their own, so after the operation the stages each span ran can be read
back from Spark's status store (which works with the web UI disabled).
Spans and stage records are kept in memory and written out once, when
the run ends.

With tracing off, `span`, `begin_op` and `end_op` return at once: no
job group is set and no status-store read is made.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

MB = 1024 * 1024


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.on = enabled
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[dict] = []
        self._op: dict | None = None
        self._groups: dict[str, int | None] = {}  # job group -> span id
        self._seq = 0

    def _set_group(self, group: str, desc: str) -> None:
        self.spark.sparkContext.setJobGroup(group, desc, False)

    @contextmanager
    def span(self, name: str):
        """Time a call into layer `name`. Nested spans name their parent,
        so a layer's self time is its span minus its children."""
        if not self.on:
            yield None
            return
        self._seq += 1
        rec = {"id": self._seq, "name": name, "parent": self._stack[-1]["id"] if self._stack else None,
               "op": self._op["op"] if self._op else None}
        group = f"bench-span-{self._seq}"
        self._groups[group] = self._seq
        self._set_group(group, name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            outer = self._stack[-1]["id"] if self._stack else None
            self._set_group(f"bench-span-{outer}" if outer else self._op_group(), "benchmark")
            self.spans.append(rec)

    def _op_group(self) -> str:
        return f"bench-op-{self._op['op']}" if self._op else "bench-idle"

    def begin_op(self, op: int, kind: str) -> None:
        if not self.on:
            return
        self._groups = {}
        self._op = {"op": op, "kind": kind, "start": time.perf_counter(), "wall_start_ms": time.time() * 1000}
        self._groups[self._op_group()] = None
        self._set_group(self._op_group(), kind)

    def end_op(self, extra_groups=()) -> None:
        """Close the operation and attach the Spark jobs and stages it
        ran: those of its own job groups plus `extra_groups` (a streaming
        query's run id), submitted inside its wall-clock window."""
        if not self.on or self._op is None:
            return
        op = self._op
        op["end"] = time.perf_counter()
        op["wall_end_ms"] = time.time() * 1000
        groups = dict(self._groups)
        groups.update({g: None for g in extra_groups})
        op["jobs"], op["stages"] = self._read_store(groups, op["wall_start_ms"], op["wall_end_ms"])
        self.ops.append(op)
        self._op = None
        self._set_group("bench-idle", "benchmark")

    def _read_store(self, groups: dict, t0_ms: float, t1_ms: float):
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()

        def inside(opt_date) -> bool:
            # 1 ms of slack for the store's millisecond clock
            return opt_date.isDefined() and t0_ms - 1 <= opt_date.get().getTime() <= t1_ms + 1

        job_span = sorted(
            (j, span_id) for group, span_id in groups.items() for j in tracker.getJobIdsForGroup(group)
        )
        jobs = 0
        stage_span: dict[int, int | None] = {}
        # A stage shared by several jobs runs in the earliest of them.
        for j, span_id in job_span:
            if not inside(store.job(j).submissionTime()):
                continue
            jobs += 1
            for sid in tracker.getJobInfo(j).stageIds:
                stage_span.setdefault(sid, span_id)
        stages = []
        for sid, span_id in sorted(stage_span.items()):
            sd = store.lastStageAttempt(sid)
            if not inside(sd.submissionTime()):
                continue  # skipped in this job, or an earlier run of a shared stage
            done = sd.completionTime()
            stages.append({
                "stage": sid, "span": span_id, "tasks": sd.numTasks(),
                "start_ms": sd.submissionTime().get().getTime(),
                "end_ms": done.get().getTime() if done.isDefined() else t1_ms,
                "cpu_s": sd.executorCpuTime() / 1e9,
                "shuffle_write_mb": sd.shuffleWriteBytes() / MB,
                "spill_mb": (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB,
            })
        return jobs, stages

    # -- summaries ------------------------------------------------------------
    def layer_times(self, name: str) -> list[float]:
        """Wall seconds of every span called `name`, leaving out the
        warm-up operation (op 0)."""
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["op"] != 0]

    def layer_stage_sum(self, name: str, key: str) -> float:
        """A stage metric summed over the stages the `name` spans ran,
        divided by the number of those spans."""
        ids = {s["id"] for s in self.spans if s["name"] == name and s["op"] != 0}
        if not ids:
            return 0.0
        total = sum(st[key] for op in self.ops for st in op["stages"] if st["span"] in ids)
        return total / len(ids)

    def op_summary(self) -> dict:
        """Per-operation means: Spark jobs, tasks, executor CPU, shuffle
        write and spill; the driver gap (wall time not covered by any
        stage's run interval); and the share of wall time covered by
        the operation's top-level spans."""
        rows = []
        for op in self.ops:
            if op["op"] == 0:
                continue  # warm-up
            wall = op["end"] - op["start"]
            st = op["stages"]
            top = [(s["start"] * 1000, s["end"] * 1000) for s in self.spans
                   if s["op"] == op["op"] and s["parent"] is None]
            rows.append({
                "jobs": op["jobs"],
                "tasks": sum(s["tasks"] for s in st),
                "cpu_s": sum(s["cpu_s"] for s in st),
                "shuffle_write_mb": sum(s["shuffle_write_mb"] for s in st),
                "spill_mb": sum(s["spill_mb"] for s in st),
                "gap_s": max(0.0, wall - union_seconds([(s["start_ms"], s["end_ms"]) for s in st])),
                "coverage": min(1.0, union_seconds(top) / wall) if wall > 0 else 0.0,
                "wall_s": wall,
            })
        if not rows:
            return {}
        return {k: statistics.fmean(r[k] for r in rows) for k in rows[0]}

    def dump(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": self.spans, "ops": self.ops, **extra}, indent=1))


def union_seconds(intervals_ms) -> float:
    """Length in seconds of the union of [start, end] millisecond intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals_ms):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0
