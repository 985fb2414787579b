"""The benchmark's own test: every workload on the sf0.001 fixture.

    python3 perfbench/test_smoke.py

Checks the output contract of perfbench/run.py in both modes, that the
checks pass on the current program, that each workload reports the
per-layer metrics that apply to it, and that the benchmark refuses to
run without the program's sources.
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())

# per-layer metric prefixes each workload must report as non-zero
APPLIES = {
    "etl_pipeline": ["jobs.", "exec.jobs", "plan.", "io.stageWrite.writeJob_s", "io.bytes_written",
                     "floor.", "stream.drain_ms"],
    "curation_queries": ["family.", "kernel.graft_minhash.", "exec.tasks", "plan.", "floor."],
}


def run(workload, trace, cwd=ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


class SmokeTest(unittest.TestCase):
    def check(self, workload, trace):
        p = run(workload, trace)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        res = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], res)
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
        self.assertEqual(set(res["metrics"]), {m["name"] for m in wanted})
        values = {k: v["value"] for k, v in res["metrics"].items()}
        if trace:
            for prefix in APPLIES[workload]:
                hit = {k: v for k, v in values.items() if k.startswith(prefix)}
                self.assertTrue(hit and all(v != 0 for v in hit.values()), (prefix, hit))
        else:
            self.assertTrue(all(v > 0 for v in values.values()), values)

    def test_etl_pipeline(self):
        self.check("etl_pipeline", 0)
        self.check("etl_pipeline", 1)

    def test_curation_queries(self):
        self.check("curation_queries", 0)
        self.check("curation_queries", 1)

    def test_refuses_without_program_sources(self):
        bare = ROOT / ".bench_build" / "bare"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(BENCH, bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
        try:
            p = run("etl_pipeline", 0, cwd=bare)
            self.assertNotEqual(p.returncode, 0)
            self.assertFalse(p.stdout.strip())
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
