#!/usr/bin/env python3
"""CDC-to-query benchmark: one seeded workload per run.

    python3 cdcbench/run.py --workload <cdc_ingest|es_serving|cdc_live|llm_prep>
                            --seed <n> --seconds <s> --trace <0|1>
    python3 cdcbench/run.py --selftest

Run from the repository root. Builds the program and the harness from source
(cdcbench/build.py) on first use, then runs the workload in one JVM and prints
its JSON result as the last line of stdout. Exits non-zero when the build or
the run fails or no result was printed.
"""
import argparse
import json
import os
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# Spark on JDK 17 outside spark-submit needs these module openings
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "3g"
RUN_TIMEOUT_S = 170


def select(result, workload, trace):
    """Keep the metrics BENCHMARK.json names for a gated workload.

    The run reports every metric it measured, each with the unit set where
    it was measured. For a workload BENCHMARK.json lists, the result keeps
    exactly its end_to_end metrics (trace 0) or per_layer metrics (trace 1):
    a missing end-to-end metric or a unit that disagrees is an error, and a
    per-layer metric of a layer this workload does not run reads 0. Other
    workloads keep everything they measured.
    """
    spec_path = os.path.join(build.ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        return result
    with open(spec_path) as fh:
        spec = json.load(fh)
    if workload not in {w["name"] for w in spec["workloads"]}:
        return result
    measured = result["metrics"]
    picked = {}
    for m in spec["per_layer" if trace else "end_to_end"]:
        got = measured.get(m["name"])
        if got is None:
            if not trace:
                raise SystemExit(f"cdcbench: {workload} did not measure {m['name']}")
            got = {"value": 0, "unit": m["unit"]}
        if got["unit"] != m["unit"]:
            raise SystemExit(f"cdcbench: {m['name']} measured in {got['unit']}, BENCHMARK.json says {m['unit']}")
        picked[m["name"]] = got
    result["metrics"] = picked
    return result


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    if not a.selftest and not a.workload:
        p.error("--workload is required")

    classes, jars, digest = build.build()
    tmp = os.path.join(build.BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={tmp}",
            f"-Dcdcbench.sourceHash={digest}",
            "-cp", os.pathsep.join([classes] + jars), "cdcbench.Main"]
    if a.selftest:
        cmd.append("--selftest")
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--workdir", build.BUILD]

    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"cdcbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 2
    lines = out.splitlines()
    result = [ln for ln in lines if ln.startswith('{"correct"')]
    for ln in lines:
        if not ln.startswith('{"correct"'):
            print(ln)
    if proc.returncode != 0:
        return proc.returncode
    if a.selftest:
        return 0
    if not result:
        print("cdcbench: the run printed no result", file=sys.stderr)
        return 1
    print(json.dumps(select(json.loads(result[-1]), a.workload, a.trace), separators=(",", ":")), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
