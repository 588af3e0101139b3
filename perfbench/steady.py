"""Steadiness mode: one workload, N runs with distinct seeds, untraced and
traced, one JVM per run (each run is its own process, started only after
the previous one has exited). The first K seeds also run traced, each
right after its untraced run, so host drift between the two stays small.

    python3 perfbench/steady.py --workload floor --runs 10 --seconds 26 --traced 3

For every end-to-end metric the report gives the values, their median,
quartiles (``statistics.quantiles(values, n=4)``) and the inter-quartile
range as a share of the median, plus the tracing overhead: the median over
the K seeds of the traced minus the untraced value. It also lists each seed's work counts
(table rows, result rows, stream rows per batch, state rows; jobs, stages
and tasks from the traced runs), so a seed that changes the amount of work
shows. The report is written to
``perfbench/results/steady_<workload>_runs<N>_seed<first>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(HERE, "results", f"{workload}_seed{seed}_trace{trace}.json")) as f:
        record = json.load(f)
    return {"summary": summary, "record": record}


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"values": values, "median": med, "q1": q1, "q3": q3,
            "iqr_over_median": (q3 - q1) / med if med else None}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--traced", type=int, default=3, help="number of traced runs")
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    from run import END_TO_END

    seeds = list(range(args.first_seed, args.first_seed + args.runs))
    untraced, traced = [], []
    for i, s in enumerate(seeds):
        untraced.append(run_once(args.workload, s, args.seconds, 0))
        if i < args.traced:
            traced.append(run_once(args.workload, s, args.seconds, 1))

    report = {"workload": args.workload, "seconds": args.seconds, "seeds": seeds,
              "provenance": untraced[0]["record"]["provenance"], "metrics": {}}
    for name in END_TO_END:
        plain = [r["record"]["metrics"][name] for r in untraced]
        entry = spread(plain)
        if traced:
            with_trace = [r["record"]["metrics"][name] for r in traced]
            entry["traced_median"] = statistics.median(with_trace)
            entry["tracing_overhead"] = statistics.median(
                t - u for t, u in zip(with_trace, plain))
        report["metrics"][name] = entry
    report["runs"] = [
        {"seed": r["record"]["seed"], "trace": r["record"]["trace"],
         "attempted": r["summary"]["attempted"], "failed": r["summary"]["failed"],
         "work": r["record"]["work"], "host": r["record"]["host"],
         "passes_s": r["record"]["passes_s"]}
        for r in untraced + traced
    ]
    out = os.path.join(HERE, "results",
                       f"steady_{args.workload}_runs{args.runs}_seed{args.first_seed}.json")
    with open(out, "w") as f:
        json.dump(report, f, indent=1)
    for name, m in report["metrics"].items():
        extra = f"  trace overhead {m['tracing_overhead']:+.4g}" if "tracing_overhead" in m else ""
        print(f"{name:16s} median {m['median']:.4g}  IQR/median {m['iqr_over_median']:.3f}{extra}")
    print(f"failed runs: {sum(1 for r in report['runs'] if r['failed'])} of {len(report['runs'])}")
    print(f"wrote {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
