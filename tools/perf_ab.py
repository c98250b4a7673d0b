#!/usr/bin/env python3
"""Paired A/B of two checkouts on one benchmark workload.

Usage: perf_ab.py <parent-checkout> <change-checkout> <workload> <pairs>
                  [first-seed]

Runs `python3 perfbench/run.py --workload W --seed S --seconds 5
--trace 0` in each checkout in turn, `pairs` times. Pair i uses seed
first-seed + i (default first seed 1) on both sides, and the side that
runs first alternates from pair to pair. Each run's result line is
printed as it arrives. At the end, for every end-to-end metric of the
change's BENCHMARK.json, it prints each side's median and quartiles,
how many pairs the change won (ties count for neither side), the
parent's interquartile range, and whether a gain is shown: the change
won at least nine tenths of the pairs and its median beats the
parent's by more than the parent's interquartile range. It also prints
the change's median relative to the parent's beside the metric's
regression bound, and names every run that was incorrect, had failed
operations or did not finish.

The script only reads the checkouts; run.py keeps its own build cache
(.bench_build/) in each.
"""
import json
import pathlib
import statistics
import subprocess
import sys

RUN_TIMEOUT_S = 900  # the first run in a checkout also builds it


def run_once(checkout, workload, seed):
    """One benchmark run: (result dict or None, error text)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "5", "--trace", "0"]
    try:
        p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                           stderr=subprocess.PIPE, text=True,
                           timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return None, f"no result within {RUN_TIMEOUT_S} s"
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        tail = p.stderr.strip().splitlines()[-1:] or ["no output"]
        return None, f"exit {p.returncode}: {tail[0]}"
    try:
        return json.loads(lines[-1]), ""
    except json.JSONDecodeError:
        return None, f"unparsable result line: {lines[-1][:200]}"


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def main(argv):
    if len(argv) not in (4, 5):
        print(__doc__, file=sys.stderr)
        return 2
    parent, change = (str(pathlib.Path(p).resolve()) for p in argv[:2])
    workload, pairs = argv[2], int(argv[3])
    first_seed = int(argv[4]) if len(argv) == 5 else 1
    spec = json.loads((pathlib.Path(change) / "BENCHMARK.json").read_text())
    metrics = spec["end_to_end"]

    runs = {"parent": [], "change": []}  # per pair: result or None
    problems = []
    for i in range(pairs):
        seed = first_seed + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            res, err = run_once(parent if side == "parent" else change,
                                workload, seed)
            runs[side].append(res)
            if res is None:
                problems.append(f"pair {i + 1} {side} seed {seed}: {err}")
            elif not res["correct"] or res["failed"]:
                problems.append(f"pair {i + 1} {side} seed {seed}: correct="
                                f"{res['correct']} failed={res['failed']}/"
                                f"{res['attempted']}")
            values = {k: v["value"] for k, v in res["metrics"].items()} \
                if res else None
            print(json.dumps({"pair": i + 1, "seed": seed, "side": side,
                              "metrics": values}), flush=True)

    print(f"\n{workload}: {pairs} pairs, seeds {first_seed}.."
          f"{first_seed + pairs - 1}, parent {parent}, change {change}")
    print("| metric | parent median [q1, q3] | change median [q1, q3] "
          "| change wins | parent IQR | gain shown | change/parent "
          "(bound) |")
    print("|---|---|---|---|---|---|---|")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        both = [(p["metrics"][name]["value"], c["metrics"][name]["value"])
                for p, c in zip(runs["parent"], runs["change"])
                if p is not None and c is not None]
        if not both:
            print(f"| {name} | - | - | - | - | no | - |")
            continue
        pv, cv = [b[0] for b in both], [b[1] for b in both]
        wins = sum(1 for p, c in both if (c < p if lower else c > p))
        p1, pm, p3 = quartiles(pv)
        c1, cm, c3 = quartiles(cv)
        iqr = p3 - p1
        gap = (pm - cm) if lower else (cm - pm)
        gain = wins * 10 >= 9 * pairs and gap > iqr
        ratio = cm / pm if pm else float("nan")
        print(f"| {name} ({m['unit']}) | {pm:.4g} [{p1:.4g}, {p3:.4g}] "
              f"| {cm:.4g} [{c1:.4g}, {c3:.4g}] | {wins}/{pairs} "
              f"| {iqr:.4g} | {'yes' if gain else 'no'} "
              f"| {ratio:.3f} ({m['bound']:+.2f}) |")
    print("\nincorrect, failed or missing runs: " +
          ("none" if not problems else ""))
    for p in problems:
        print(f"  {p}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
