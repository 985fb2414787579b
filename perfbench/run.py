"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--smoke]

Builds the program if needed (perfbench/build.py), runs the workload
in one JVM on local[4], and prints one JSON object: `correct`,
`attempted`, `failed` and `metrics` — every end-to-end metric of
BENCHMARK.json with --trace 0, every per-layer metric with --trace 1.
A per-layer metric that does not apply to the workload reads 0. The
full result (every metric, the set-up times, failure messages, span
self times) and the JVM log land in .bench_build/results/.

--smoke runs on the sf0.001 fixture, for the benchmark's own test.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

BENCH = build.BENCH
ROOT = build.ROOT
RESULTS = build.OUT / "results"
# one run's JVM, after the build
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--smoke", action="store_true")
    a = p.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        sys.exit(f"run: unknown workload {a.workload}")
    classpath = build.build()

    data = BENCH / "data" / ("sf0.001" if a.smoke else "sf0.01")
    RESULTS.mkdir(parents=True, exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}{'-smoke' if a.smoke else ''}"
    out = RESULTS / f"{tag}.json"
    out.unlink(missing_ok=True)
    work = build.OUT / "work" / f"{tag}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-Xss8m"]
    cmd += [f"--add-opens=java.base/{m}=ALL-UNNAMED" for m in ADD_OPENS]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Duser.timezone=UTC", "-Dfile.encoding=UTF-8",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={work / 'spark-warehouse'}",
            "-cp", classpath, "perfbench.Main",
            a.workload, str(a.seed), str(a.seconds), str(a.trace),
            str(data), str(BENCH / "expected"), str(work), str(out)]
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", LC_ALL="C.utf8", LANG="C.utf8")
    log = RESULTS / f"{tag}.log"
    try:
        with open(log, "w") as f:
            rc = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, env=env, cwd=work,
                                timeout=JVM_TIMEOUT_S).returncode
    except subprocess.TimeoutExpired:
        rc = "timeout"
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not out.exists():
        sys.stderr.write(log.read_text()[-4000:])
        sys.exit(f"run: benchmark JVM failed ({rc}); log in {log}")

    res = json.loads(out.read_text())
    got = res["layers"] if a.trace else res["e2e"]
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] not in got and not a.trace:
            sys.exit(f"run: end-to-end metric {m['name']} missing from the result")
        metrics[m["name"]] = {"value": got.get(m["name"], 0.0), "unit": m["unit"]}
    failed = res["failed"]
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
