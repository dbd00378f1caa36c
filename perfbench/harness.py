"""Measurement plumbing shared by the workloads: spans with Spark job-group
tagging, the status-store counter reader (with its self-check), a
process-tree memory sampler, and fingerprinting noop sinks."""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

# stage fields summed per span; executorRunTime/jvmGcTime are in ms
STAGE_SUMS = (
    "numTasks",
    "inputBytes",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "executorRunTime",
    "jvmGcTime",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


class CounterError(RuntimeError):
    """The status store stopped reporting a counter the benchmark relies on."""


class Tracer:
    """Spans (name, start, end, parent) kept in memory.

    With ``enabled`` each span also runs its Spark jobs under a job group of
    its own, and ``stage_totals`` reads the stages of those jobs from the
    in-process status store (works with the UI disabled).  Disabled, a span
    is two clock reads."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._stage_cache: dict[int, dict] = {}

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if self.enabled:
            rec["group"] = f"perfbench-{rec['id']}"
            self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                if parent is not None:
                    self.sc.setJobGroup(parent["group"], parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                self._attach_stages(rec)

    @staticmethod
    def wall(rec: dict) -> float:
        return rec["end"] - rec["start"]

    def _attach_stages(self, rec: dict) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        tracker = self.sc.statusTracker()
        jobs = sorted(tracker.getJobIdsForGroup(rec["group"]))
        stages: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is None:
                raise CounterError(f"job {j} of span {rec['name']!r} left the status store")
            stages.update(info.stageIds)
        rec["jobs"] = jobs
        rec["stage_ids"] = sorted(stages)
        self._load_stages(rec["stage_ids"])

    def _load_stages(self, wanted: list[int]) -> None:
        missing = set(wanted) - set(self._stage_cache)
        if not missing:
            return
        jvm, gw = self.sc._jvm, self.sc._gateway
        store = self.sc._jsc.sc().statusStore()
        seq = store.stageList(
            jvm.java.util.ArrayList(), False, False,
            gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        q = gw.new_array(jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        lo = min(missing)
        # newest stage first; stop once below the oldest stage still wanted
        for i in range(seq.size()):
            s = seq.apply(i)
            sid = s.stageId()
            if sid < lo:
                break
            if sid not in missing or s.status().toString() == "SKIPPED":
                continue
            row = {k: getattr(s, k)() for k in STAGE_SUMS}
            dist = store.taskSummary(sid, s.attemptId(), q)
            if dist.isDefined():
                ert = dist.get().executorRunTime()
                row["task_median_ms"], row["task_max_ms"] = ert.apply(0), ert.apply(1)
            else:
                row["task_median_ms"] = row["task_max_ms"] = 0.0
            self._stage_cache[sid] = row

    def subtree(self, rec: dict) -> list[dict]:
        ids = {rec["id"]}
        out = [rec]
        for s in self.spans[rec["id"] + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out

    def stages_of(self, rec: dict) -> list[dict]:
        """Stage rows of every job run under ``rec`` or its children."""
        sids = sorted({sid for s in self.subtree(rec) for sid in s.get("stage_ids", ())})
        return [self._stage_cache[sid] for sid in sids if sid in self._stage_cache]

    def jobs_of(self, rec: dict) -> int:
        return len({j for s in self.subtree(rec) for j in s.get("jobs", ())})

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "stages": self._stage_cache}, f)


def stage_totals(stages: list[dict]) -> dict:
    tot = {k: sum(s[k] for s in stages) for k in STAGE_SUMS}
    tot["stages"] = len(stages)
    return tot


def task_skew(stages: list[dict]) -> float:
    """max/median task time of the stage with the most executor time."""
    if not stages:
        return 0.0
    top = max(stages, key=lambda s: s["executorRunTime"])
    return top["task_max_ms"] / top["task_median_ms"] if top["task_median_ms"] else 1.0


def counter_self_check(spark, tracer: Tracer, work_dir: str) -> None:
    """A full scan of a known parquet table must report (nearly) its size in
    input bytes and a known groupBy must report shuffle bytes, so a Spark
    API or I/O-path change fails the run instead of quietly reporting
    zeros."""
    path = os.path.join(work_dir, "selfcheck.parquet")
    spark.range(20_000).selectExpr("id", "id % 97 AS k").write.mode("overwrite").parquet(path)
    with tracer.span("selfcheck.scan") as scan:
        force(spark.read.parquet(path))
    with tracer.span("selfcheck.groupby") as grp:
        force(spark.read.parquet(path).groupBy("k").count())
    on_disk = sum(os.path.getsize(f) for f in parquet_files(path))
    read = stage_totals(tracer.stages_of(scan))["inputBytes"]
    if read < 0.9 * on_disk:
        raise CounterError(
            f"status store reports {read} inputBytes for a full scan of {on_disk} parquet bytes"
        )
    if stage_totals(tracer.stages_of(grp))["shuffleWriteBytes"] <= 0:
        raise CounterError("status store reports no shuffleWriteBytes for a groupBy")


def parquet_files(path: str) -> list[str]:
    """The data files of a parquet directory written by Spark, sorted."""
    return sorted(os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet"))


def force(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _hashable(df: DataFrame) -> list:
    """Columns as hash inputs; doubles as 9 significant digits so partial
    aggregates merged in another order still hash alike."""
    out = []
    for f in df.schema.fields:
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            out.append(F.format_string("%.9g", F.col(f.name)))
        else:
            out.append(F.col(f.name))
    return out


def sink(df: DataFrame, **sums) -> dict:
    """Force ``df`` to the noop sink and observe, in the same job, its row
    count, an order-free fingerprint of its rows and ``sum(expr)`` for each
    named expression in ``sums``."""
    obs = Observation()
    aggs = [
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.pmod(F.xxhash64(*_hashable(df)), F.lit(2147483647))).alias("fingerprint"),
    ] + [F.sum(e).alias(k) for k, e in sums.items()]
    force(df.observe(obs, *aggs))
    return {k: (v if v is not None else 0) for k, v in obs.get.items()}


def fingerprint_py(obj) -> str:
    """Stable text of a driver-side result (floats to 9 significant digits)."""

    def norm(x):
        if isinstance(x, float):
            return float(f"{x:.9g}")
        if isinstance(x, dict):
            return {k: norm(v) for k, v in x.items()}
        if isinstance(x, (list, tuple)):
            return [norm(v) for v in x]
        return x

    return json.dumps(norm(obj), sort_keys=True)


class RssSampler:
    """Peak summed memory of this process and all its descendants (the JVM
    is a child, Python workers are children of the JVM), sampled from /proc.
    Each process counts its proportional set size: resident pages, with
    pages shared between processes (forked Python workers share most of
    theirs) split among the sharers instead of counted once per process.
    ``peak_parts`` splits the peak into driver, JVM and the rest."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self.peak_parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        if self._pss(os.getpid()) is None:
            raise OSError("/proc/<pid>/smaps_rollup is not readable; cannot sample memory")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @staticmethod
    def _pss(pid: int) -> int | None:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except (OSError, ValueError):
            return None
        return None

    @staticmethod
    def _procs() -> dict[int, tuple[int, str]]:
        """pid -> (ppid, command name) for every visible process."""
        out = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    head, tail = f.read().rsplit(")", 1)
                out[int(name)] = (int(tail.split()[1]), head.split("(", 1)[1])
            except (OSError, IndexError, ValueError):
                continue
        return out

    def tree(self, procs: dict | None = None) -> set[int]:
        children: dict[int, list[int]] = {}
        for pid, (ppid, _) in (procs or self._procs()).items():
            children.setdefault(ppid, []).append(pid)
        out, todo = set(), [os.getpid()]
        while todo:
            p = todo.pop()
            out.add(p)
            todo.extend(children.get(p, ()))
        return out

    def sample(self) -> dict[str, int]:
        procs = self._procs()
        parts = {"driver": 0, "jvm": 0, "workers": 0}
        for p in self.tree(procs):
            pss = self._pss(p)
            if pss is None:  # exited since the listing
                continue
            kind = "driver" if p == os.getpid() else "jvm" if procs[p][1] == "java" else "workers"
            parts[kind] += pss
        return parts

    def _loop(self) -> None:
        while not self._stop.is_set():
            parts = self.sample()
            if sum(parts.values()) > self.peak_bytes:
                self.peak_bytes, self.peak_parts = sum(parts.values()), parts
            self._stop.wait(self.interval)
