"""Spans, Spark event-log accounting and the UDF perf profile for the traced run.

Every layer is timed from outside the package: a span wraps the call into a
layer's public function plus a ``noop`` write that forces its
(checkpointed) output, under a Spark job group named after the span. Spans stay in memory
and are written out when the run ends. Task time, shuffle bytes and failed
tasks per span come from Spark's JSON event log, read after the session
stops; Python worker time comes from Spark's ``perf`` UDF profiler.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Job groups of the benchmark's own bookkeeping jobs (output checks, row
# counts, partition shares) and of the profile passes; never attributed to
# a span.
AUX_GROUP = "perfbench.aux"
PROFILE_GROUP = "perfbench.profile"
# Prefix of the untimed-loop iterations' job groups, "<prefix>.<n>".
UNTRACED_GROUP = "perfbench.untraced"


def force(df: DataFrame) -> None:
    """Execute every partition of df and discard the rows."""
    df.write.format("noop").mode("overwrite").save()


class Tracer:
    """In-memory span recorder for one traced pass."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: dict[str, dict] = {}
        self.calls: dict[str, tuple] = {}
        self._outputs: dict[str, DataFrame] = {}
        self._stack: list[str] = []

    def _group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"run_id": self.run_id, "name": name, "parent": parent}
        self._stack.append(name)
        self._group(name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)
            self._group(parent or AUX_GROUP)

    @contextmanager
    def aux(self, group: str = AUX_GROUP):
        """Bookkeeping jobs outside any span."""
        self._group(group)
        try:
            yield
        finally:
            self._group(self._stack[-1] if self._stack else AUX_GROUP)

    def layer(self, name: str, fn) -> DataFrame:
        """Span over fn() plus a noop write that materializes its output.

        The output is kept with a lazy localCheckpoint, which the noop write
        fills, so later spans read it without recomputing it. persist would
        keep each output's full lineage in every later plan: with fifteen
        persisted frames the late graph spans measured Spark planning over
        that lineage (seconds per span) rather than the layer. Row counts
        are taken later by count_outputs, so no bookkeeping job runs inside
        an enclosing span."""
        with self.span(name):
            df = fn().localCheckpoint(eager=False)
            force(df)
        self._outputs[name] = df
        return df

    def wrap(self, name: str, fn):
        """fn with every call run as layer(name, ...); the last call's
        arguments are kept in calls[name] for re-runs outside the spans."""

        def traced_call(*args, **kwargs):
            self.calls[name] = (fn, args, kwargs)
            return self.layer(name, lambda: fn(*args, **kwargs))

        return traced_call

    def count_outputs(self) -> None:
        """Row count and largest-partition share of every layer output."""
        with self.aux():
            for name, df in self._outputs.items():
                parts = [
                    r["count"]
                    for r in df.groupBy(F.spark_partition_id()).count().collect()
                ]
                rows = sum(parts)
                self.counts[name] = {
                    "rows": rows,
                    "max_part_share": max(parts) / rows if rows else 0.0,
                }

    def self_seconds(self) -> dict[str, float]:
        """Span duration minus the time its (sequential) children cover."""
        out = {s["name"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def tree(self, roots) -> set[str]:
        """Names of the spans under (and including) the named root spans."""
        parent = {s["name"]: s["parent"] for s in self.spans}

        def root(name):
            while parent.get(name) is not None:
                name = parent[name]
            return name

        return {name for name in parent if root(name) in roots}

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans, indent=1))


def event_log_conf(log_dir: Path) -> dict:
    """Session settings for the traced run: an uncompressed JSON event log
    (the UI stays off, as build_session sets it)."""
    log_dir.mkdir(parents=True, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.resolve().as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def group_stats(log_dir: Path) -> dict[str, dict]:
    """Per job group: jobs, summed executor run time (s), shuffle MB written
    and failed tasks, from the single event log under log_dir. Read after
    the SparkContext stops, when the log is complete."""
    (log_file,) = [p for p in log_dir.iterdir() if p.is_file()]
    stats: dict[str, dict] = {}
    stage_group: dict[int, str] = {}

    def entry(group: str) -> dict:
        return stats.setdefault(
            group, {"jobs": 0, "task_s": 0.0, "shuffle_mb": 0.0, "failed_tasks": 0}
        )

    with log_file.open() as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                entry(group)["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                stage_group[ev["Stage Info"]["Stage ID"]] = group
            elif kind == "SparkListenerTaskEnd":
                e = entry(stage_group.get(ev["Stage ID"], ""))
                if ev["Task End Reason"]["Reason"] != "Success":
                    e["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                e["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                w = m.get("Shuffle Write Metrics") or {}
                e["shuffle_mb"] += w.get("Shuffle Bytes Written", 0) / 1e6
    return stats


def python_seconds(spark, tracer: Tracer, call: tuple) -> float:
    """Worker-side Python time of the UDFs a layer call runs: re-executes
    call = (fn, args, kwargs), as kept in Tracer.calls, over its
    (checkpointed) inputs with spark.sql.pyspark.udf.profiler=perf and sums
    the cProfile totals. The profiled region is the UDF's own iterator, so
    it covers the user function and the Arrow-to-pandas conversion of its
    input batches, not the conversion of its output."""
    fn, args, kwargs = call
    collector = spark.profile.profiler_collector
    collector.clear_perf_profiles()
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    try:
        with tracer.aux(PROFILE_GROUP):
            force(fn(*args, **kwargs))
    finally:
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
    total = sum(st.total_tt for st in collector._perf_profile_results.values())
    collector.clear_perf_profiles()
    return total
