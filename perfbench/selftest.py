#!/usr/bin/env python3
"""Self-test of the benchmark itself, on tiny inputs (scale 0.001).

    python3 perfbench/selftest.py

Checks that
  1. the input digest is the same for two generations with one seed and
     differs for another seed, for every workload;
  2. a tiny untraced run of every workload prints every end-to-end metric
     of BENCHMARK.json with its unit, plus the workload's named metrics
     and failed_frac;
  3. a tiny traced run of every workload prints every per-layer metric
     with its unit, and the metrics of the layers that workload drives
     are not 0;
  4. a planted wrong expectation makes the run report a failed op, a
     non-zero failed_frac and a non-zero exit code.
Exits non-zero on the first check that does not hold.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = ["scan", "index"]
NAMED = {"scan": ["v1_query_p50_ms", "v2_read_p50_ms", "read_selectivity"],
         "index": ["probe_p50_ms", "serve_p50_ms", "append_p50_ms", "write_amp", "space_amp"]}
# per-layer metrics each workload's ops must move off 0
LAYERS = {"scan": ["operators.build_ms", "driver.jobs", "driver.tasks", "scan.files", "scan.records_read",
                   "scan.records_frac", "exec.run_ms", "planner.plan_ms", "planner.groups_kept_frac",
                   "planner.planned_mb", "reader.read_ms", "reader.ranges", "reader.read_mb"],
          "index": ["operators.build_ms", "driver.jobs", "driver.stages", "scan.files", "exec.run_ms",
                    "shuffle.write_mb", "shuffle.read_mb", "shuffle.exchanges", "layouts.build_ms",
                    "layouts.append_ms", "layouts.retract_ms", "layouts.manage_ms", "layouts.compact_ms",
                    "layouts.files_written", "layouts.written_mb", "layouts.index_mb", "layouts.index_files",
                    "stream.start_ms", "stream.trigger_ms", "stream.add_batch_ms"]}
TINY = ["--scale", "0.001", "--seconds", "0"]


def run(*args):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       capture_output=True, text=True, cwd=ROOT)
    return r.returncode, [l for l in r.stdout.splitlines() if l.strip()], r.stderr


def summary_of(lines):
    return next(json.loads(l) for l in lines if l.startswith('{"workload"'))


def check(ok, what):
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        sys.exit(1)


def digest(workload, seed):
    code, lines, _ = run("--workload", workload, "--seed", str(seed), "--digest-only")
    check(code == 0 and lines, f"{workload} seed {seed}: digest printed")
    return json.loads(lines[0])["inputs"]["digest"]


def has_metrics(got, spec, what):
    missing = [m["name"] for m in spec if got.get(m["name"], {}).get("unit") != m["unit"]]
    check(not missing, f"{what}: every metric with its unit" + (f" (missing {missing})" if missing else ""))


def main():
    for w in WORKLOADS:
        a, b, c = digest(w, 1), digest(w, 1), digest(w, 2)
        check(a == b, f"{w}: one seed, one digest ({a})")
        check(a != c, f"{w}: two seeds, two digests ({a} / {c})")

    for w in WORKLOADS:
        code, lines, err = run("--workload", w, "--seed", "1", "--trace", "0", *TINY)
        check(code == 0 and len(lines) >= 2, f"{w}: tiny run exits 0" + ("" if code == 0 else err[-800:]))
        result, summary = json.loads(lines[-1]), summary_of(lines)
        check(result["correct"] and result["failed"] == 0 and result["attempted"] >= 1,
              f"{w}: every op correct ({result['attempted']} attempted)")
        has_metrics(result["metrics"], SPEC["end_to_end"], f"{w}: end-to-end")
        named = summary["named"]
        has_metrics(named, [{"name": n, "unit": named.get(n, {}).get("unit", "?")}
                            for n in ["setup_s", "failed_frac"] + NAMED[w]], f"{w}: named metrics")
        check(named["failed_frac"]["value"] == 0, f"{w}: failed_frac is 0")

    for w in WORKLOADS:
        code, lines, err = run("--workload", w, "--seed", "1", "--trace", "1", *TINY)
        check(code == 0, f"{w}: tiny traced run exits 0" + ("" if code == 0 else err[-800:]))
        got = json.loads(lines[-1])["metrics"]
        has_metrics(got, SPEC["per_layer"], f"{w}: per-layer")
        zero = [m for m in LAYERS[w] if not got[m]["value"]]
        check(not zero, f"{w}: its layers' metrics are not 0" + (f" (0: {zero})" if zero else ""))

    for w in WORKLOADS:
        code, lines, _ = run("--workload", w, "--seed", "1", "--trace", "0", "--plant-wrong", *TINY)
        result = json.loads(lines[-1]) if lines else {}
        frac = summary_of(lines)["named"]["failed_frac"]["value"] if len(lines) >= 2 else 0
        check(code != 0 and result.get("failed", 0) >= 1 and not result.get("correct", True) and frac > 0,
              f"{w}: planted wrong expectation fails the run (exit {code}, failed_frac {frac:.3f})")
    print("selftest passed")


if __name__ == "__main__":
    main()
