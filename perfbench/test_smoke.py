"""The benchmark's own tests: each workload once in smoke mode.

Smoke mode runs the real calls at sf0.001 with tiny sizes, so a changed
operator signature, a renamed span or a broken output pin fails here in
minutes instead of during a measurement. Run from the repository root:
    python3 -m unittest perfbench/test_smoke.py
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

# spans each workload must time; vacuum lists directories and runs no job
SPANS = {
    "warehouse_refresh": ["pipelines.medallion.run", "pipelines.reference.run",
                          "queries.read"],
    "corpus_select": ["operators.learn.train", "operators.learn.score",
                      "operators.dedup.minhash", "operators.dedup.cc",
                      "operators.textops.export"],
    "vector_store": ["streaming.ann_build", "sources.state.load",
                     "operators.similarity.search", "streaming.fold",
                     "operators.similarity.promote",
                     "operators.similarity.maintain", "sources.state.vacuum"],
}
JOBLESS = {"sources.state.vacuum"}


def run(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=REPO, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"{workload} exited {p.returncode}:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines


class SmokeTest(unittest.TestCase):
    spec = json.load(open(os.path.join(REPO, "BENCHMARK.json")))

    def check(self, workload):
        res, lines = run(workload, trace=1)
        self.assertEqual(sorted(res), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(res["correct"], "\n".join(lines[-20:]))
        self.assertEqual(res["failed"], 0)
        self.assertEqual(sorted(res["metrics"]),
                         sorted(m["name"] for m in self.spec["per_layer"]))
        m = res["metrics"]
        for span in SPANS[workload]:
            self.assertGreater(m[f"{span}.wall_s"]["value"], 0, span)
            if span not in JOBLESS:
                self.assertGreater(m[f"{span}.jobs"]["value"], 0, span)
        others = {s for w, ss in SPANS.items() if w != workload for s in ss}
        for span in others:
            self.assertEqual(m[f"{span}.wall_s"]["value"], 0, span)
        # the untraced run reports every end-to-end metric, none of them 0
        res, _ = run(workload, trace=0)
        self.assertTrue(res["correct"])
        self.assertEqual(sorted(res["metrics"]),
                         sorted(m["name"] for m in self.spec["end_to_end"]))
        for name, v in res["metrics"].items():
            self.assertGreater(v["value"], 0, name)

    def test_warehouse_refresh(self):
        self.check("warehouse_refresh")

    def test_corpus_select(self):
        self.check("corpus_select")

    def test_vector_store(self):
        self.check("vector_store")


if __name__ == "__main__":
    unittest.main()
