#!/usr/bin/env python3
"""KG-engine benchmark: one seeded workload per run, closed loop, pinned CPUs.

    python3 perfbench/run.py --workload kg_crawl --seed 42 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from --seed,
sets up a Spark session and an untimed warm-up, then runs the workload's job
back to back for --seconds (and at least twice), checking every output.
The last line of stdout is one JSON object {"correct", "attempted",
"failed", "metrics"}: with --trace 0 the end-to-end metrics of
BENCHMARK.json, with --trace 1 its per-layer metrics from a traced pass
(layers a workload does not run read 0). Scratch files go under
.perfbench_work/ in the working directory; the traced run's spans are kept
in .perfbench_work/spans/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from pathlib import Path

import tracing

PINNED_ENV = "PERFBENCH_PINNED"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_cpus() -> int:
    """Re-exec under taskset on exactly the CPUs this process may use, so
    the JVM's shuffle, GC and Arrow threads stay inside the slot count."""
    cpus = sorted(os.sched_getaffinity(0))
    taskset = shutil.which("taskset")
    if os.environ.get(PINNED_ENV) != "1" and taskset:
        env = dict(os.environ, **{PINNED_ENV: "1"})
        cpu_list = ",".join(map(str, cpus))
        os.execve(taskset, [taskset, "-c", cpu_list, sys.executable, *sys.argv], env)
    return len(cpus)


class TreeRss:
    """Samples the resident memory of this process and all its descendants
    (the Spark JVM and the Python workers) and keeps the peak. Each
    process counts its proportional set size, so pages that forked Python
    workers share are counted once."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> float:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        kb, stack = 0, [os.getpid()]
        while stack:
            pid = stack.pop()
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    kb += next(int(line.split()[1]) for line in fh
                               if line.startswith("Pss:"))
            except (OSError, StopIteration, ValueError):
                continue
            stack.extend(children.get(pid, ()))
        return kb / 1024

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, self._sample())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and the Spark JVM, and wait for the JVM to exit
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        proc.wait(timeout=120)


def main(argv) -> int:
    args = parse_args(argv)
    root = Path.cwd()
    spec_path = root / "BENCHMARK.json"
    if not (root / "finance_sc_relations_spark").is_dir() or not spec_path.is_file():
        print("perfbench: run from the repository root (the "
              "finance_sc_relations_spark package or BENCHMARK.json is "
              "missing)", file=sys.stderr)
        return 2
    spec = json.loads(spec_path.read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    n_cpus = pin_cpus()

    work_root = root / ".perfbench_work"
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = work_root / run_id
    if work.exists():
        shutil.rmtree(work)
    (work / "tmp").mkdir(parents=True)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(root), os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "SPARK_GRAFT_CPUS": str(n_cpus),
        "TMPDIR": str(work / "tmp"),
    })
    sys.path.insert(0, str(root))
    try:
        return measure(args, spec, work, work_root, run_id, n_cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, spec, work: Path, work_root: Path, run_id: str, n_cpus: int) -> int:
    from finance_sc_relations_spark.session import build_session
    from workloads import WORKLOADS

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'}",
    }
    if args.trace:
        conf.update(tracing.event_log_conf(work / "eventlog"))

    t0 = time.perf_counter()
    spark = build_session(master=f"local[{n_cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        # set-up: generation runs three times (median reported) and must be
        # deterministic; writing the inputs and the warm-up run once
        gens = [timed(wl.generate) for _ in range(3)]
        inputs = gens[0][0]
        deterministic = all(wl.same_inputs(inputs, g[0]) for g in gens[1:])
        gen_s = statistics.median(g[1] for g in gens)
        del gens
        _, load_s = timed(lambda: wl.load(inputs))
        _, warm_s = timed(wl.warmup)
        setup_s = session_s + gen_s + load_s + warm_s
        print(f"perfbench: setup session {session_s:.2f}s generate {gen_s:.2f}s "
              f"load {load_s:.2f}s warm-up {warm_s:.2f}s", file=sys.stderr)
        wl.expect()

        runs = []  # (wall_s, check) per successful iteration
        attempted = failed = 0
        deadline = time.perf_counter() + args.seconds
        with TreeRss() as rss:
            while len(runs) < 2 or time.perf_counter() < deadline:
                attempted += 1
                # one job group per iteration, so the traced run can read
                # the program's own plan for one iteration off the event log
                group = f"{tracing.UNTRACED_GROUP}.{attempted}"
                spark.sparkContext.setJobGroup(group, group)
                try:
                    result, wall = timed(wl.run)
                    spark.sparkContext.setJobGroup(tracing.AUX_GROUP, "checks")
                    check = wl.check(result)
                    wl.cleanup(result)
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    spark.catalog.clearCache()
                    failed += 1
                    if failed >= 3:
                        break
                    continue
                failed += 0 if check["ok"] else 1
                runs.append((wall, check))

        traced = None
        if args.trace and runs:
            tracer = tracing.Tracer(spark, run_id)
            traced = wl.traced(tracer)
    finally:
        stop_spark(spark)

    print("perfbench: iteration walls " + " ".join(f"{w:.2f}" for w, _ in runs),
          file=sys.stderr)
    correct = bool(runs) and deterministic and failed == 0
    if not runs:
        metrics = {}
    elif traced is None:
        metrics = end_to_end(spec, wl, runs, attempted, failed, setup_s)
    else:
        correct = correct and traced.pop("ok")
        traced["peak_rss_mb"] = rss.peak_mb
        wall_s = statistics.median(w for w, _ in runs)
        metrics = per_layer(spec, tracer, traced, work / "eventlog", wall_s,
                            wl.job_spans, f"{tracing.UNTRACED_GROUP}.{attempted}")
        tracer.write(work_root / "spans" / f"{run_id}.json")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


def end_to_end(spec, wl, runs, attempted, failed, setup_s) -> dict:
    walls = [w for w, _ in runs]
    checks = [c for _, c in runs]
    values = {
        "setup_s": setup_s,
        "wall_s": statistics.median(walls),
        "records_per_s": statistics.median(wl.n_records / w for w in walls),
        "outputs_per_s": statistics.median(c["outputs"] / w for w, c in runs),
        "gold_precision": min(c["precision"] for c in checks),
        "gold_recall": min(c["recall"] for c in checks),
        "success_rate": 1.0 - failed / attempted,
    }
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in spec["end_to_end"]}


def per_layer(spec, tracer, traced: dict, log_dir: Path, wall_s: float,
              job_spans: tuple, untraced_group: str) -> dict:
    """Span self time, row counts and event-log accounting per span; every
    per-layer metric of BENCHMARK.json is printed, 0 where a layer did not
    run on this workload.

    The traced job is the spans under job_spans. Its executor time is
    compared with the last untraced iteration's (untraced_group): the
    difference is work the program's own plan does that no layer span sees,
    such as a subtree recomputed because the checkpointed outputs of the
    traced pass are not persisted in the program."""
    groups = tracing.group_stats(log_dir)
    values = dict(traced)
    span_names = [s["name"] for s in tracer.spans]
    for name, self_s in tracer.self_seconds().items():
        g = groups.get(name, {})
        values[f"{name}.self_s"] = self_s
        for key in ("jobs", "task_s", "shuffle_mb"):
            values[f"{name}.{key}"] = g.get(key, 0)
        if name in tracer.counts:
            values[f"{name}.rows"] = tracer.counts[name]["rows"]
    job = tracer.tree(job_spans)
    untraced = groups.get(untraced_group, {"jobs": 0, "task_s": 0.0})
    total_s = sum(s["end"] - s["start"] for s in tracer.spans if s["name"] in job_spans)
    values.update({
        "spark.jobs": sum(groups.get(n, {}).get("jobs", 0) for n in span_names),
        "spark.failed_tasks": sum(g["failed_tasks"] for g in groups.values()),
        "untraced.jobs": untraced["jobs"],
        "untraced.task_s": untraced["task_s"],
        "trace.unattributed_task_s": untraced["task_s"] - sum(
            groups.get(n, {}).get("task_s", 0) for n in job),
        "trace.total_s": total_s,
        "trace.overhead_s": total_s - wall_s,
    })
    return {m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]}
            for m in spec["per_layer"]}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
