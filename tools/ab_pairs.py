#!/usr/bin/env python3
"""Alternating A/B pairs of one benchmark workload in two checkouts.

    python3 tools/ab_pairs.py A_DIR B_DIR --workload NAME --pairs N \
        --first-seed S [--trace 0|1] [--metric NAME ...]

Reads the benchmark `command` and `run_seconds` from BENCHMARK.json at the
root of this checkout and runs that command (pizzabench/run.py) in A_DIR and
in B_DIR, with the same seed on both sides of a pair. Pair i uses seed S + i;
A runs first in even pairs and B in odd ones, so a drift of the machine over
the session does not favour one side. A_DIR is the baseline (say, a
`git archive` of the parent commit) and B_DIR the change.

Prints, for each pair, both sides' values of every reported metric; then per
side the median and Q1/Q3 of each metric, B's wins out of the pairs (by the
metric's `better` direction in BENCHMARK.json), and the failed ops. By
default the metrics are the end-to-end ones. A traced run (--trace 1)
reports only the per-layer metrics and an untraced one only the end-to-end
ones, so a --metric the chosen mode does not report is rejected before any
run; a metric still missing from a run's result is reported for that pair
and left out of its statistics. Every `pizzabench: failed op:`
line a run writes to stderr is echoed, tagged with its side and seed, so a
drain past the budget can be told from a wrong result table.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(side, checkout, command, workload, seed, seconds, trace):
    """One benchmark run; returns its JSON result, or None if it produced none."""
    cmd = command + ["--workload", workload, "--seed", str(seed),
                     "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    for line in p.stderr.splitlines():
        if line.startswith("pizzabench: failed op:"):
            print("  %s seed %d: %s" % (side, seed, line), flush=True)
    lines = p.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        tail = "\n".join(p.stderr.strip().splitlines()[-15:])
        print("  run in %s seed %d gave no result (rc %d):\n%s"
              % (checkout, seed, p.returncode, tail), file=sys.stderr)
        return None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("a_dir", help="baseline checkout")
    ap.add_argument("b_dir", help="changed checkout")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", required=True, type=int)
    ap.add_argument("--first-seed", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--metric", action="append", default=[],
                    help="metric to compare (repeatable; default: the end-to-end ones)")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}
    metrics = a.metric or [m["name"] for m in bench["end_to_end"]]
    unknown = [m for m in metrics if m not in better]
    if unknown:
        sys.exit("unknown metric(s): %s" % ", ".join(unknown))
    reported = {m["name"] for m in bench["per_layer" if a.trace else "end_to_end"]}
    unreported = [m for m in metrics if m not in reported]
    if unreported:
        sys.exit("--trace %d runs do not report: %s (they report the %s metrics)"
                 % (a.trace, ", ".join(unreported),
                    "per-layer" if a.trace else "end-to-end"))
    sides = {"A": os.path.abspath(a.a_dir), "B": os.path.abspath(a.b_dir)}
    for d in sides.values():
        if not os.path.isfile(os.path.join(d, "pizzabench", "run.py")):
            sys.exit("%s is not a checkout with pizzabench/run.py" % d)

    values = {s: {m: [] for m in metrics} for s in sides}
    failed = {s: [0, 0, 0] for s in sides}  # failed ops, attempted ops, runs without result
    wins = {m: 0 for m in metrics}
    decided = {m: 0 for m in metrics}
    for i in range(a.pairs):
        seed = a.first_seed + i
        order = ("A", "B") if i % 2 == 0 else ("B", "A")
        got = {}
        for s in order:
            got[s] = run_once(s, sides[s], bench["command"], a.workload, seed,
                              bench["run_seconds"], a.trace)
        for s in sides:
            if got[s] is None:
                failed[s][2] += 1
            else:
                failed[s][0] += got[s]["failed"]
                failed[s][1] += got[s]["attempted"]
        if got["A"] is None or got["B"] is None:
            print("pair %d seed %d (%s first): incomplete" % (i, seed, order[0]))
            continue
        cells = []
        for m in metrics:
            missing = [s for s in sides if m not in got[s]["metrics"]]
            if missing:
                cells.append("%s missing in %s" % (m, " and ".join(missing)))
                continue
            va, vb = got["A"]["metrics"][m]["value"], got["B"]["metrics"][m]["value"]
            decided[m] += 1
            values["A"][m].append(va)
            values["B"][m].append(vb)
            if (vb < va) if better[m] == "lower" else (vb > va):
                wins[m] += 1
            cells.append("%s A %.4g B %.4g (%+.1f%%)"
                         % (m, va, vb, 100.0 * (vb - va) / va if va else 0.0))
        print("pair %d seed %d (%s first): %s" % (i, seed, order[0], "; ".join(cells)),
              flush=True)

    if not any(decided.values()):
        sys.exit("no complete pair")
    print()
    for m in metrics:
        if not decided[m]:
            print("%-20s no pair reported it" % m)
            continue
        (a1, am, a3), (b1, bm, b3) = quartiles(values["A"][m]), quartiles(values["B"][m])
        print("%-20s A median %.4g [Q1 %.4g, Q3 %.4g]  B median %.4g [Q1 %.4g, Q3 %.4g]"
              "  B-A %+.4g (%+.1f%%), A Q3-Q1 %.4g; B better in %d of %d pairs"
              % (m, am, a1, a3, bm, b1, b3, bm - am,
                 100.0 * (bm - am) / am if am else 0.0, a3 - a1, wins[m], decided[m]))
    for s in sides:
        print("%s failed ops %d of %d; runs without a result %d"
              % (s, failed[s][0], failed[s][1], failed[s][2]))


if __name__ == "__main__":
    main()
