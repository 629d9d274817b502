"""Self-tests of the pipeline benchmark.

    python3 pipebench/tests/test_pipebench.py        (from the repository root)

Runs each workload once for real (the first run builds, so allow a few
minutes), then checks that:
- a clean run passes its correctness check;
- corrupting one row of one output makes the check fail and name it;
- BENCHMARK.json lists exactly the metrics pipebench/run.py prints.
"""
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

import pandas as pd

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEED = 7


def load(name, path):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


run = load("pipebench_run", os.path.join(HERE, "run.py"))
check = load("pipebench_check", os.path.join(HERE, "check.py"))
canon = load("check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")).canon
RUNS = {}


def bench(workload):
    """Run `workload` once; returns (result line, data dir, copy of its work dir)."""
    if workload not in RUNS:
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(SEED), "--seconds", "1", "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, check=True, text=True).stdout
        work = scratch(workload)
        shutil.copytree(os.path.join(run.BUILD, "work", workload), work, dirs_exist_ok=True)
        data = os.path.join(run.BUILD, "data", workload, f"seed{SEED}")
        RUNS[workload] = (json.loads(out.strip().splitlines()[-1]), data, work)
    return RUNS[workload]


TESTS_DIR = os.path.join(run.BUILD, "tests")


def scratch(prefix):
    os.makedirs(TESTS_DIR, exist_ok=True)
    return tempfile.mkdtemp(prefix=f"{prefix}-", dir=TESTS_DIR)


def write_jsonl(path, rows):
    with open(path, "w") as f:
        f.write("".join(json.dumps(r) + "\n" for r in rows))


def corrupt_one_row(work, key, column):
    """Rewrite `key`'s output with one value of `column` changed."""
    d = os.path.join(work, "outputs", key)
    df = pd.concat([pd.read_parquet(os.path.join(d, f)) for f in sorted(os.listdir(d))
                    if f.endswith(".parquet")], ignore_index=True)
    v = df.loc[len(df) // 2, column]
    df.loc[len(df) // 2, column] = v + "x" if isinstance(v, str) else v + 1
    shutil.rmtree(d)
    os.makedirs(d)
    df.to_parquet(os.path.join(d, "part-0.parquet"), index=False)


class WeatherPipelineTest(unittest.TestCase):
    def setUp(self):
        self.result, self.data, self.work = bench("weather_pipeline")

    def fails(self, work):
        r = check.read_json(os.path.join(work, "result.json"))
        return check.check("weather_pipeline", self.data, work, canon,
                           r["per_layer"].get("ml.holdout_rmse"))

    def copy(self):
        work = scratch("corrupt")
        shutil.copytree(self.work, work, dirs_exist_ok=True)
        return work

    def test_clean_run_passes(self):
        self.assertTrue(self.result["correct"])
        self.assertEqual(self.result["failed"], 0)
        self.assertEqual(self.fails(self.work), [])

    def test_corrupt_step_output_fails(self):
        work = self.copy()
        corrupt_one_row(work, "q_feature_pipeline", "value")
        self.assertTrue(any(f.startswith("q_feature_pipeline") for f in self.fails(work)))

    def test_corrupt_read_fails(self):
        work = self.copy()
        path = os.path.join(work, "reads.jsonl")
        reads = check.read_jsonl(path)
        reads[0]["digest"] = "0" * 64
        write_jsonl(path, reads)
        self.assertTrue(any(f.startswith(f"read {reads[0]['key']}") for f in self.fails(work)))

    def test_miscounted_append_fails(self):
        work = self.copy()
        path = os.path.join(work, "appends.jsonl")
        appends = check.read_jsonl(path)
        appends[0]["quarantined"] += 1
        write_jsonl(path, appends)
        self.assertTrue(any(f.startswith("append") for f in self.fails(work)))


class CorpusCurationTest(unittest.TestCase):
    def test_clean_then_corrupt(self):
        result, data, work = bench("corpus_curation")
        self.assertTrue(result["correct"])
        self.assertEqual(check.check("corpus_curation", data, work, canon), [])
        corrupt_one_row(work, "q_curate", "text")
        fails = check.check("corpus_curation", data, work, canon)
        self.assertTrue(any(f.startswith("q_curate") for f in fails))


class BenchmarkJsonTest(unittest.TestCase):
    def test_metric_lists_match_the_runner(self):
        b = check.read_json(os.path.join(ROOT, "BENCHMARK.json"))
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]], run.PER_LAYER)
        self.assertEqual([w["name"] for w in b["workloads"]], run.WORKLOADS)


if __name__ == "__main__":
    shutil.rmtree(TESTS_DIR, ignore_errors=True)
    unittest.main()
