#!/usr/bin/env python3
"""Self-test of the benchmark: runs every workload at tiny scale, untraced
and traced, and checks what the benchmark promises.

Run from the root of a checkout (takes about seven minutes on four cores):

    python3 perfbench/selftest.py

The output of each run is kept in .bench_build/selftest/.

Checks, for each workload:
  * the run is correct, no operation failed (failed_frac is 0), and the
    result was compared with a reference digest (recorded for seed 1 at
    tiny scale, or for stream_ingest the batch run's); a
    traced run is correct only if every span lies within its parent and
    has a self time >= 0, which the benchmark checks itself;
  * the report prints every metric with a unit and a sample count, and the
    result line carries exactly the metrics BENCHMARK.json names;
  * the traced run wrote its spans, and the layer self times plus the
    uncovered time add up to the traced run time.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("match_valuation", "corpus_curation", "vaep_train", "stream_ingest")
SEED = 1
STREAM_ONLY = ("stream_lag_p50_s", "stream_lag_p95_s", "stream_backlog_files",
               "gen_late_max_s", "offered_files_per_s")


def run(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "2", "--trace", str(trace), "--scale", "tiny"]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
    os.makedirs(os.path.join(".bench_build", "selftest"), exist_ok=True)
    with open(os.path.join(".bench_build", "selftest", f"{workload}-trace{trace}.txt"), "w") as fh:
        fh.write(out)
    lines = out.strip().splitlines()
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


def main():
    bench = json.load(open("BENCHMARK.json"))
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    gated = {w["name"] for w in bench["workloads"]}
    problems = []
    for w in WORKLOADS:
        for trace in (0, 1):
            report, result = run(w, trace)
            tag = f"{w} trace={trace}"
            if not result["correct"] or result["failed"] != 0:
                problems.append(f"{tag}: not correct: {result}")
            if not report["digest_checked"]:
                problems.append(f"{tag}: the result was not compared with a reference digest")
            if report["inputs"]["rows"] <= 0 or report["inputs"]["bytes"] <= 0:
                problems.append(f"{tag}: inputs {report['inputs']}")
            metrics = report["metrics"]
            if metrics["failed_frac"]["value"] != 0:
                problems.append(f"{tag}: failed_frac {metrics['failed_frac']}")
            wanted = set(e2e) | {"failed_frac"} | (set(STREAM_ONLY) if w == "stream_ingest" else set())
            for name in sorted(wanted - set(metrics)):
                problems.append(f"{tag}: report lacks {name}")
            for name, m in metrics.items():
                if not m.get("unit") or not isinstance(m.get("n"), int):
                    problems.append(f"{tag}: {name} lacks a unit or sample count")
            names = e2e if trace == 0 else layers
            if w in gated and set(result["metrics"]) != set(names):
                problems.append(f"{tag}: result metrics differ from BENCHMARK.json: "
                                f"{sorted(set(result['metrics']) ^ set(names))}")
            for name, m in result["metrics"].items():
                if name in names and m["unit"] != names[name]:
                    problems.append(f"{tag}: {name} unit {m['unit']} != {names[name]}")
            if trace == 0:
                continue
            with open(os.path.join(".bench_build", "trace", f"{w}-seed{SEED}.jsonl")) as fh:
                spans = [l for l in fh if '"span"' in l]
            if not spans:
                problems.append(f"{tag}: the trace holds no spans")
            rm = result["metrics"]
            total = sum(v["value"] for k, v in rm.items() if k.endswith(".self_s"))
            total += rm["trace.uncovered_s"]["value"]
            if abs(total - rm["trace.run_s"]["value"]) > 1e-6:
                problems.append(f"{tag}: self times + uncovered {total} != run {rm['trace.run_s']['value']}")
            print(f"{tag}: checked {len(spans)} spans", flush=True)
    for p in problems:
        print("FAIL", p)
    print(f"{len(problems)} problems")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
