"""Run-to-run steadiness of the end-to-end metrics.

Runs the benchmark ``--runs`` times per workload in each of ``--sets``
sets, every run on its own seed, workloads interleaved, and records for
each set and metric the median, the quartiles and the spread
(Q3 - Q1) / median, plus how far each later set's median moved from the
first set's. From the root of a checkout:

    python3 perfbench/steadiness.py --runs 10 --sets 2 \\
        --out perfbench/STEADINESS.json
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def summarize(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None,
            "values": values}


def context(r: dict) -> dict:
    """The per-run facts that explain an outlier."""
    ctx = json.loads(r["context"].split(" ", 1)[1])
    return {"seed": r["seed"], "wall_s": round(r["wall_s"], 1),
            "failed": r["result"]["failed"],
            "pass_walls_s": ctx["pass_walls_s"],
            "setup_parts_s": [ctx["session_s"], ctx["open_s"]]
            + ctx["warmup_walls_s"],
            "steal_s_in_window": ctx["steal_s_in_window"]}


def run_once(workload: str, seed: int, seconds: int, trace: int = 0
             ) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace",
         str(trace)],
        capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited "
                           f"{proc.returncode}: {proc.stderr[-2000:]}")
    return {"result": json.loads(lines[-1]), "wall_s": wall,
            "context": lines[-2] if len(lines) > 1 else ""}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    names = [m["name"] for m in bench["end_to_end"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    record = {"run_seconds": bench["run_seconds"], "cores": os.cpu_count(),
              "sets": []}
    seed = args.first_seed
    for s in range(args.sets):
        runs = {w: [] for w in workloads}
        for _ in range(args.runs):
            for w in workloads:
                r = run_once(w, seed, bench["run_seconds"])
                r["seed"] = seed
                runs[w].append(r)
                print(f"set {s} {w} seed {seed}: wall {r['wall_s']:.1f}s "
                      f"{json.dumps(r['result'])}", flush=True)
            seed += 1
        summary = {}
        for w in workloads:
            res = [r["result"] for r in runs[w]]
            summary[w] = {
                "attempted": sum(r["attempted"] for r in res),
                "failed": sum(r["failed"] for r in res),
                "seeds": [r["seed"] for r in runs[w]],
                "run_wall_s": summarize([r["wall_s"] for r in runs[w]]),
                "runs": [context(r) for r in runs[w]],
                "metrics": {n: summarize([r["metrics"][n]["value"]
                                          for r in res]) for n in names},
            }
        record["sets"].append(summary)

    first = record["sets"][0]
    record["median_shift"] = [
        {w: {n: s[w]["metrics"][n]["median"]
             / first[w]["metrics"][n]["median"] - 1 for n in names}
         for w in workloads} for s in record["sets"][1:]]
    record["bounds"] = bounds
    # one traced run per workload: tracing overhead across invocations
    # (its runner.job_s against the untraced median pass wall), and the
    # share of a pass the isolated payload-local decode accounts for
    record["traced"] = {}
    for w in workloads:
        r = run_once(w, seed, bench["run_seconds"], trace=1)
        r["seed"] = seed
        seed += 1
        layer = {k: v["value"] for k, v in r["result"]["metrics"].items()}
        job_s = layer["runner.job_s"]
        rows = json.loads(r["context"].split(" ", 1)[1])["rows"]
        untraced = rows / first[w]["metrics"]["rows_per_s"]["median"]
        record["traced"][w] = {
            **context(r), "job_s": job_s, "untraced_median_s": untraced,
            "overhead_s": job_s - untraced,
            "files_decode_share": layer["audio.files_decode_s"] / job_s,
            "metrics": layer}
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1)
    for k, s in enumerate(record["sets"]):
        for w in workloads:
            print(f"set {k} {w}: " + ", ".join(
                f"{n} median {s[w]['metrics'][n]['median']:.4g} spread "
                f"{s[w]['metrics'][n]['spread']:.3f}" for n in names))
    return 0


if __name__ == "__main__":
    sys.exit(main())
