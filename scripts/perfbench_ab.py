#!/usr/bin/env python3
"""Interleaved A/B of two git revisions on one perfbench workload.

    python3 scripts/perfbench_ab.py --base main~1 --head main \\
        --scratch /tmp/ab --workload kg_crawl --seeds 921 922 923

Each revision is `git archive`d into its own directory under --scratch, so
both sides run from the same kind of directory (identical code reads
measurably slower from a repository root than from a fresh copy). Pair i
runs `perfbench/run.py --seed <seeds[i]> --trace 0` once per side, at
perfbench's own run length, base first on even pairs and head first on odd
ones. Prints each pair's wall_s,
each end-to-end metric's median per side, each side's wall_s quartiles and
the head's win count, then one verdict line per end-to-end metric of
BENCHMARK.json; the last line is the same summary as JSON.

A verdict applies the metric's `better` direction and `bound` (a share of
the base median):
- wins: pairs where the head reads better; ties count for neither side;
- gain: the head wins at least nine tenths of the pairs and the medians
  differ, in the head's favour, by more than the base's interquartile
  range;
- bound: "worse" when the head median is worse than the base median by
  more than the bound; "unresolved" when the base's own spread (IQR over
  median) is wider than the bound, unless every head run reads better
  than every base run; "within" otherwise;
- spread: "too wide" when either side's interquartile range is wider than
  the bound, both taken as a share of the base median (a faster head
  reads a larger throughput, so the same relative noise spreads it
  further), since such runs cannot tell a change from noise; "steady"
  otherwise.
"""

from __future__ import annotations

import argparse
import io
import json
import statistics
import subprocess
import sys
import tarfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
# seconds allowed per perfbench run (a kg_crawl run takes about a minute)
RUN_TIMEOUT_S = 900


def checkout(rev: str, dest: Path) -> Path:
    """Extract `git archive rev` into an empty dest."""
    if dest.exists():
        raise SystemExit(f"perfbench_ab: {dest} exists; pick an empty --scratch")
    tar = subprocess.run(["git", "-C", str(REPO), "archive", "--format=tar", rev],
                         check=True, capture_output=True).stdout
    dest.mkdir(parents=True)
    with tarfile.open(fileobj=io.BytesIO(tar)) as tf:
        tf.extractall(dest, filter="data")
    return dest


def run_once(root: Path, workload: str, seed: int) -> dict:
    """One untraced perfbench run from root; its final JSON line."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--trace", "0"],
        cwd=root, capture_output=True, text=True, timeout=RUN_TIMEOUT_S,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"perfbench_ab: run failed in {root} (seed {seed}):\n"
                         f"{proc.stderr[-2000:]}")
    return json.loads(lines[-1])


def value(result: dict, metric: str) -> float:
    return result["metrics"][metric]["value"]


def quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q3


def verdict(base: list[float], head: list[float], better: str,
            bound: float) -> dict:
    """Acceptance verdict for one end-to-end metric over paired runs
    (base[i] and head[i] ran as pair i)."""
    sign = 1.0 if better == "higher" else -1.0
    wins = sum(sign * (h - b) > 0 for b, h in zip(base, head))
    med_base, med_head = statistics.median(base), statistics.median(head)
    iqr, head_iqr = (q3 - q1 for q1, q3 in (quartiles(base), quartiles(head)))
    gap = sign * (med_head - med_base)  # > 0: the head is better
    scale = abs(med_base)
    if min(sign * h for h in head) > max(sign * b for b in base):
        status = "within"
    elif iqr > bound * scale:
        status = "unresolved"
    elif -gap > bound * scale:
        status = "worse"
    else:
        status = "within"
    return {
        "wins": wins, "pairs": len(base),
        "gain": 10 * wins >= 9 * len(base) and gap > iqr,
        "median_base": med_base, "median_head": med_head, "base_iqr": iqr,
        "head_iqr": head_iqr, "bound": status,
        "spread": "too wide" if max(iqr, head_iqr) > bound * scale else "steady",
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", required=True, help="parent revision")
    ap.add_argument("--head", required=True, help="changed revision")
    ap.add_argument("--scratch", required=True, type=Path,
                    help="new directory for the two checkouts")
    ap.add_argument("--workload", default="kg_crawl")
    ap.add_argument("--seeds", required=True, type=int, nargs="+",
                    help="one pair of runs per seed")
    args = ap.parse_args(argv)

    roots = {side: checkout(rev, args.scratch / side)
             for side, rev in (("base", args.base), ("head", args.head))}
    results: dict[str, list[dict]] = {"base": [], "head": []}
    wins = 0
    for i, seed in enumerate(args.seeds):
        order = ("base", "head") if i % 2 == 0 else ("head", "base")
        pair = {side: run_once(roots[side], args.workload, seed)
                for side in order}
        for side in order:
            results[side].append(pair[side])
        base_wall = value(pair["base"], "wall_s")
        head_wall = value(pair["head"], "wall_s")
        wins += head_wall < base_wall
        print(f"pair {i + 1} seed {seed} first={order[0]} "
              f"base {base_wall:.2f}s head {head_wall:.2f}s "
              f"correct {pair['base']['correct']}/{pair['head']['correct']}",
              flush=True)

    metrics = sorted(results["base"][0]["metrics"])
    medians = {side: {m: statistics.median(value(r, m) for r in runs)
                      for m in metrics}
               for side, runs in results.items()}
    for m in metrics:
        print(f"median {m}: base {medians['base'][m]:.4g} "
              f"head {medians['head'][m]:.4g}")
    summary = {
        "workload": args.workload, "pairs": len(args.seeds), "head_wins": wins,
        "medians": medians,
        "all_correct": all(r["correct"] for runs in results.values() for r in runs),
        "wall_s": {side: [value(r, "wall_s") for r in runs]
                   for side, runs in results.items()},
    }
    if len(args.seeds) >= 2:
        summary["wall_s_quartiles"] = {
            side: quartiles(walls) for side, walls in summary["wall_s"].items()}
        for side, (q1, q3) in summary["wall_s_quartiles"].items():
            print(f"{side} wall_s quartiles {q1:.2f} .. {q3:.2f} (IQR {q3 - q1:.3f})")
    print(f"head wins {wins}/{len(args.seeds)}")
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    summary["verdict"] = {}
    for metric in spec["end_to_end"]:
        name = metric["name"]
        v = verdict([value(r, name) for r in results["base"]],
                    [value(r, name) for r in results["head"]],
                    metric["better"], metric["bound"])
        summary["verdict"][name] = v
        print(f"verdict {name}: head wins {v['wins']}/{v['pairs']}, "
              f"gain {'met' if v['gain'] else 'not met'}, "
              f"bound {v['bound']}, spread {v['spread']} (medians "
              f"{v['median_base']:.4g} -> {v['median_head']:.4g}, IQR "
              f"{v['base_iqr']:.3g} -> {v['head_iqr']:.3g})")
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
