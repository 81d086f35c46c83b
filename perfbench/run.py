#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload scan --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark if their sources changed (see
build.py), then runs one JVM: seeded inputs, timed set-up, warm-up, a
closed loop of one client thread for --seconds, correctness checks on
every op. With --trace 0 the result carries the end-to-end metrics; with
--trace 1 the per-layer metrics, and the spans go to
perfbench/.work/traces/. The exit code is 0 only when every op was correct.

Extra options, for the self-test: --scale, --plant-wrong, --digest-only.
All files a run writes stay under perfbench/.work and perfbench/.build.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, ".work")
TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["scan", "index"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=0.1)
    ap.add_argument("--plant-wrong", action="store_true")
    ap.add_argument("--digest-only", action="store_true")
    a = ap.parse_args()

    cp = build.ensure()
    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    trace_out = os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}.json")
    log = os.path.join(WORK, "logs", f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    cmd = (["java", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(cp), "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--trace-out", trace_out,
              "--scale", str(a.scale)]
           + (["--plant-wrong"] if a.plant_wrong else [])
           + (["--digest-only"] if a.digest_only else []))
    lines = []
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, cwd=work)
        try:
            out, _ = p.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(f"perfbench: run exceeded {TIMEOUT_S} s; log: {log}")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if a.digest_only:
        print("\n".join(lines))
        sys.exit(p.returncode)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if not isinstance(result, dict) or set(result) != RESULT_KEYS:
        print("\n".join(lines[-5:]), file=sys.stderr)
        sys.exit(f"perfbench: no result line (exit {p.returncode}); log: {log}")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    sys.exit(0 if p.returncode == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
