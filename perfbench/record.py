"""Steadiness record: run the benchmark on several seeds per workload and
report the median and quartiles of every end-to-end metric.

    python3 perfbench/record.py --seeds 1-10 --out perfbench/steadiness.json

Runs go one after the other, each in its own process, exactly as the
benchmark command runs them (``BENCHMARK.json``). ``--traced`` adds one
traced run per workload. The JSON holds every raw result; a Markdown
table of the quartiles goes beside it (same name, ``.md``) and to stdout. ``spread`` is (q3 - q1) / median
with the quartiles of ``statistics.quantiles(values, n=4)``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py"),
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.perf_counter() - t0
    if p.returncode != 0:
        return {"workload": workload, "seed": seed, "trace": trace, "wall_s": wall, "exit": p.returncode}
    result = json.loads(p.stdout.strip().splitlines()[-1])
    return {"workload": workload, "seed": seed, "trace": trace, "wall_s": wall, "result": result}


def summarize(runs: list[dict]) -> dict:
    """metric → {median, q1, q3, spread}; spread = (q3 - q1) / median."""
    values: dict[str, list[float]] = {}
    for r in runs:
        for k, v in r["result"]["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    out = {}
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        out[k] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "n": len(vs)}
    return out


def parse_seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--traced", action="store_true", help="add one traced run per workload")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    runs = []
    for w in args.workloads:
        for seed in parse_seeds(args.seeds):
            runs.append(run_once(w, seed, bench["run_seconds"], 0))
            print(f"{w} seed {seed}: {runs[-1]['wall_s']:.1f} s", file=sys.stderr, flush=True)
        if args.traced:
            runs.append(run_once(w, parse_seeds(args.seeds)[0], bench["run_seconds"], 1))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    summary = {
        w: summarize([r for r in runs if r["workload"] == w and r["trace"] == 0 and "result" in r])
        for w in args.workloads
    }
    doc = {
        "host": {"cpus": len(os.sched_getaffinity(0)), "machine": platform.machine()},
        "run_seconds": bench["run_seconds"],
        "summary": summary,
        "runs": runs,
    }
    with open(args.out, "w") as fh:
        json.dump(doc, fh, indent=1)

    lines = [
        "# Steadiness record",
        "",
        f"{time.strftime('%Y-%m-%d', time.gmtime())}, {doc['host']['cpus']} CPUs "
        f"({doc['host']['machine']}), `run_seconds` {bench['run_seconds']}, "
        f"seeds {args.seeds}, one run after the other. Written by "
        f"`python3 perfbench/record.py --seeds {args.seeds}{' --traced' if args.traced else ''} "
        f"--out {os.path.relpath(args.out, ROOT)}`; raw results in the JSON beside this file.",
        "",
        "spread = (q3 - q1) / median, quartiles from `statistics.quantiles(values, n=4)`.",
        "",
        "| workload | metric | median | q1 | q3 | spread | bound |",
        "|---|---|---|---|---|---|---|",
    ]
    for w, metrics in summary.items():
        for k, s in metrics.items():
            lines.append(
                f"| {w} | {k} | {s['median']:.4g} | {s['q1']:.4g} | {s['q3']:.4g} "
                f"| {s['spread']:.3f} | {bounds.get(k, '')} |"
            )
    lines += ["", "| run | seed | wall s | correct | attempted | failed |", "|---|---|---|---|---|---|"]
    for r in runs:
        res = r.get("result", {"correct": False, "attempted": "", "failed": f"exit {r.get('exit')}"})
        kind = r["workload"] + (" traced" if r["trace"] else "")
        lines.append(
            f"| {kind} | {r['seed']} | {r['wall_s']:.1f} | {res['correct']} "
            f"| {res['attempted']} | {res['failed']} |"
        )
    md = os.path.splitext(args.out)[0] + ".md"
    with open(md, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
