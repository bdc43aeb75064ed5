"""Measurement helpers: spans, Spark job-group counters, plan leaf
counts, process-tree memory, output hashes and summary statistics.

Nothing here changes what the program under test does. Counters and
plans are read through Spark's public status tracker, status store and
query execution after an operation's timer has stopped.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import statistics
import time
from contextlib import contextmanager
from datetime import date, datetime
from decimal import Decimal

# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent). Disabled tracers keep
    nothing, so untraced runs pay one generator frame per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.perf_counter(), "end": None, "parent": parent}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_seconds(self) -> dict[str, float]:
        """Self time per layer (the span name's first dotted part): each
        span's duration minus the durations of its direct children."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, kids in zip(self.spans, child_time):
            layer = s["name"].split(".")[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - kids
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# --------------------------------------------------------------------------
# Spark counters by job group
# --------------------------------------------------------------------------

_COUNTER_KEYS = ("jobs", "stages", "tasks", "failed_tasks", "executor_run_s", "shuffle_write_mb", "spill_mb")


def zero_counters() -> dict[str, float]:
    return dict.fromkeys(_COUNTER_KEYS, 0.0)


def group_counters(spark, group: str, settle_s: float = 5.0) -> dict[str, float]:
    """Jobs, stages, tasks, failed tasks, executor run time, shuffle
    write and spill of every job fired under ``group``. Waits (briefly)
    for the listener bus to mark each job finished, so late events are
    not lost. Skipped stages are not counted."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    deadline = time.perf_counter() + settle_s
    while True:
        infos = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
        if all(i is not None and i.status != "RUNNING" for i in infos) or time.perf_counter() > deadline:
            break
        time.sleep(0.005)
    store = sc._jsc.sc().statusStore()
    out = zero_counters()
    out["jobs"] = float(len(infos))
    for info in infos:
        if info is None:
            continue
        for sid in info.stageIds:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # stage evicted from the status store
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1000.0
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
            out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6
    return out


def read_leaf_fields(df) -> int:
    """Leaf columns in the ReadSchema of every file scan of ``df``'s
    physical plan (before adaptive execution): the nested-pruning count."""
    from pyspark.sql.types import StructType

    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    total = 0
    for i in range(leaves.length()):
        node = leaves.apply(i)
        if node.getClass().getSimpleName() == "FileSourceScanExec":
            total += _count_leaves(StructType.fromJson(json.loads(node.requiredSchema().json())))
    return total


def _count_leaves(dtype) -> int:
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dtype, StructType):
        return sum(_count_leaves(f.dataType) for f in dtype.fields)
    if isinstance(dtype, ArrayType):
        return _count_leaves(dtype.elementType)
    if isinstance(dtype, MapType):
        return _count_leaves(dtype.keyType) + _count_leaves(dtype.valueType)
    return 1


def sweep_persisted_rdds(spark) -> None:
    """Unpersist every RDD still pinned (localCheckpoint/persist blocks
    that catalog.clearCache never touches)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for k in list(jmap.keys()):
        jmap[k].unpersist()


# --------------------------------------------------------------------------
# process-tree memory
# --------------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(entry))
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def tree_peak_rss_mb(pid: int | None = None) -> float:
    """Sum over the process and its live descendants (the JVM and its
    Python workers) of each one's peak resident set (VmHWM)."""
    pid = pid or os.getpid()
    total_kb = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


# --------------------------------------------------------------------------
# output hashes
# --------------------------------------------------------------------------


def frame_hash(df) -> tuple[str, int, int, int]:
    """(schema, rows, xor, sum mod p) of an order-free row hash computed
    in Spark with xxhash64. Top-level maps are hashed as sorted entry
    arrays, so key order inside a map does not matter; the schema string
    carries the field names and types the hash does not see."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    cols = [
        F.array_sort(F.map_entries(F.col(f"`{f.name}`"))).alias(f.name)
        if isinstance(f.dataType, MapType)
        else F.col(f"`{f.name}`")
        for f in df.schema.fields
    ]
    row = df.select(F.xxhash64(*cols).alias("h")).agg(
        F.count(F.lit(1)), F.bit_xor("h"), F.sum(F.col("h") % 1_000_003)
    ).collect()[0]
    return df.schema.simpleString(), int(row[0]), int(row[1] or 0), int(row[2] or 0)


def _normal(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else float(f"{v:.6g}")
    if isinstance(v, Decimal):
        return str(v.normalize())
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, dict):
        return sorted((str(k), _normal(x)) for k, x in v.items())
    if isinstance(v, (list, tuple)):
        return [_normal(x) for x in v]
    return v


def rows_hash(rows) -> str:
    """sha256 of the sorted rows, floats rounded to 6 significant digits
    so a change in summation order cannot flip the hash."""
    canon = sorted(json.dumps(_normal(list(r)), default=str) for r in rows)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def mean(values: list[float]) -> float:
    return sum(values) / len(values) if values else 0.0
