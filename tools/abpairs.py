#!/usr/bin/env python3
"""Alternating A/B pairs of one perfbench workload on two checkouts.

    python3 tools/abpairs.py <parentDir> <changeDir> <workload> <pairs> [firstSeed]

Pair i runs `python3 perfbench/run.py --workload <workload> --seed
firstSeed+i --seconds <run_seconds> --trace 0` once in each checkout, the
parent first in even pairs and the change first in odd ones, so a drift in
the host's load falls on both sides alike. `firstSeed` defaults to 0; give
a final A/B seeds not used while developing the change (e.g. 10). `run_seconds` and the gated end-to-end
metrics (name, direction, bound) come from the change's BENCHMARK.json.
Each checkout builds its own `.bench_build/` on its first run.

Prints one line per run (pair, side, seed, correct, metrics, and the
`perfbench:` notes of the run's log, such as the search recall), then one
line per gated metric:

    metric  parent-median  change-median  delta  parent-IQR  wins  verdict  claim

`wins` counts the pairs where the change was better; a tie counts for
neither side. The verdict is `unresolved` when the parent's interquartile
spread alone exceeds the bound, else `worse` when the change's median is
worse than the parent's by more than the bound, and `ok` otherwise. The
claim reads `shown` when the change wins at least nine tenths of the pairs
and its median is better than the parent's by more than the parent's
interquartile range, else `not shown` (the rule of a claimed gain). A run
that fails or reports `correct: false` is listed and left out of the
statistics.
"""
import json
import os
import statistics
import subprocess
import sys
import time


def run(checkout, workload, seed, seconds):
    """One untraced run; returns (result or None, perfbench notes)."""
    t0 = time.time()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    log = os.path.join(checkout, ".bench_build", "last-run.log")
    fresh = os.path.exists(log) and os.path.getmtime(log) >= t0
    notes = [l.strip() for l in open(log) if l.startswith("perfbench:")] if fresh else []
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        return None, notes + p.stderr.strip().splitlines()[-3:]
    return json.loads(lines[-1]), notes


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    if len(sys.argv) not in (5, 6):
        sys.exit(__doc__)
    parent, change, workload, pairs = sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4])
    first_seed = int(sys.argv[5]) if len(sys.argv) == 6 else 0
    with open(os.path.join(change, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    gated = bench["end_to_end"]
    seconds = bench.get("run_seconds", 10)
    sides = {"parent": parent, "change": change}
    values = {s: {m["name"]: [] for m in gated} for s in sides}
    wins = {m["name"]: 0 for m in gated}
    paired = 0
    for i in range(pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        got = {}
        seed = first_seed + i
        for side in order:
            res, notes = run(sides[side], workload, seed, seconds)
            ok = res is not None and res["correct"]
            metrics = {k: v["value"] for k, v in res["metrics"].items()} if res else {}
            print(json.dumps({"pair": i, "side": side, "seed": seed, "correct": ok, "metrics": metrics,
                              "notes": notes}), flush=True)
            if ok:
                got[side] = metrics
        paired += len(got) == 2
        for m in gated:
            name = m["name"]
            for side, metrics in got.items():
                values[side][name].append(metrics[name])
            if len(got) == 2:
                a, b = got["parent"][name], got["change"][name]
                wins[name] += (b < a) if m["better"] == "lower" else (b > a)
    print(f"{'metric':<18}{'parent':>12}{'change':>12}{'delta':>9}{'parent IQR':>16}{'wins':>8}  verdict     claim")
    for m in gated:
        name, lower = m["name"], m["better"] == "lower"
        pv, cv = values["parent"][name], values["change"][name]
        if not pv or not cv:
            print(f"{name:<18}{'no successful runs':>53}")
            continue
        pm, cm = statistics.median(pv), statistics.median(cv)
        q1, q3 = quartiles(pv)
        delta = (cm - pm) / pm if pm else 0.0
        spread = (q3 - q1) / pm if pm else 0.0
        worse = delta > m["bound"] if lower else -delta > m["bound"]
        verdict = "unresolved" if spread > m["bound"] else "worse" if worse else "ok"
        gain = pm - cm if lower else cm - pm
        claim = "shown" if paired and 10 * wins[name] >= 9 * paired and gain > q3 - q1 else "not shown"
        print(f"{name:<18}{pm:>12.4g}{cm:>12.4g}{delta:>+9.1%}{q3 - q1:>10.3g} ({spread:>3.0%})"
              f"{wins[name]:>5}/{paired:<3} {verdict:<11} {claim}")


if __name__ == "__main__":
    main()
