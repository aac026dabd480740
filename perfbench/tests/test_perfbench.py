"""Self-tests of the benchmark's own code (no Spark, no build):

    python3 -m unittest discover perfbench/tests
"""
import filecmp
import os
import re
import sys
import tempfile
import unittest
from pathlib import Path

import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import gen  # noqa: E402
import run  # noqa: E402
from oracle_check import canon  # noqa: E402  (run puts scripts/ on the path)

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files,
                                           shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d))
        for d in cmp.common_dirs)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_identical_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            for name in ("a", "b"):
                gen.write_corpus(f"{t}/{name}", seed=7, n_files=60,
                                 words_per_file=50, vocab_size=300)
                gen.write_fixture(f"{t}/{name}-fx", seed=7, n_docs=80)
            gen.write_corpus(f"{t}/c", seed=8, n_files=60, words_per_file=50,
                             vocab_size=300)
            self.assertTrue(same_tree(f"{t}/a", f"{t}/b"))
            self.assertTrue(same_tree(f"{t}/a-fx", f"{t}/b-fx"))
            self.assertFalse(same_tree(f"{t}/a", f"{t}/c"))

    def test_corpus_has_edge_files_and_a_parquet_twin(self):
        with tempfile.TemporaryDirectory() as t:
            gen.write_corpus(t + "/c", seed=3, n_files=60, words_per_file=50,
                             vocab_size=300)
            files = {p.name: p.read_text(encoding="utf-8")
                     for p in Path(t, "c", "files").iterdir()}
            twin = pd.read_parquet(t + "/c/documents.parquet")
            self.assertEqual(len(files), 60)
            self.assertIn("", files.values())
            self.assertTrue(any(v and not re.search(r"[^\W\d_]", v)
                                for v in files.values()))
            self.assertTrue(any(re.search(r"[^\x00-\x7f]", v)
                                for v in files.values()))
            self.assertEqual({f"doc_{i}": s for i, s in
                              zip(twin.doc_id, twin.text)}, files)


class MetricNamesTest(unittest.TestCase):
    def test_names_and_units_are_well_formed(self):
        for kind in ("end_to_end", "per_layer"):
            for name, unit in run.declared(kind).items():
                self.assertRegex(name, NAME)
                self.assertRegex(unit, UNIT)

    def test_every_gate_has_its_per_gate_metrics(self):
        names = run.declared("per_layer")
        for w in run.WORKLOADS.values():
            for gate in w["gates"]:
                for suffix in run.GATE_SUFFIXES:
                    self.assertIn(f"{gate}.{suffix}", names)


class SelfTimeTest(unittest.TestCase):
    def test_children_overlap_and_clipping(self):
        spans = [
            {"id": 1, "parent": 0, "start": 0.0, "end": 10.0},
            {"id": 2, "parent": 1, "start": 1.0, "end": 3.0},
            {"id": 3, "parent": 1, "start": 2.0, "end": 5.0},   # overlaps 2
            {"id": 4, "parent": 1, "start": 8.0, "end": 12.0},  # past parent
            {"id": 5, "parent": 3, "start": 2.5, "end": 4.0},   # grandchild
        ]
        selfs = run.self_times(spans)
        self.assertAlmostEqual(selfs[1], 10 - (4 + 2))
        self.assertAlmostEqual(selfs[2], 2.0)
        self.assertAlmostEqual(selfs[3], 3 - 1.5)
        self.assertAlmostEqual(selfs[4], 4.0)
        self.assertAlmostEqual(selfs[5], 1.5)

    def test_union_length(self):
        self.assertEqual(run.union_length([]), 0.0)
        self.assertAlmostEqual(
            run.union_length([(0, 2), (1, 3), (5, 6)], 0.5, 5.5), 3.0)


class FailureAccountingTest(unittest.TestCase):
    def test_throw_and_wrong_output_count_as_failed(self):
        good = pd.DataFrame({"doc_id": [1, 2, 3], "cluster_id": [1, 1, 3]})
        want = {"dedup_cc": [3, ["cluster_id", "doc_id"], canon(good)]}
        with tempfile.TemporaryDirectory() as t:
            for name, df in (("ok", good),
                             ("bad", good.assign(cluster_id=[1, 2, 3]))):
                os.makedirs(f"{t}/{name}")
                df.to_parquet(f"{t}/{name}/part-0.parquet")

            def run_pass(k, wall, path, error=None):
                return {"pass": k, "traced": False,
                        "wall_s": wall, "cpu_s": wall,
                        "gates": [{"gate": "dedup_cc", "path": f"{t}/{path}",
                                   "error": error, "wall_s": wall}]}
            passes = [
                run_pass(0, 9.0, "ok"),
                run_pass(1, 1.0, "ok", "java.lang.RuntimeException: boom"),
                run_pass(2, 2.0, "bad"),
                run_pass(3, 3.0, "ok"),
            ]
            attempted, failed = run.check_passes(passes, want)
        self.assertEqual((attempted, failed), (4, 2))
        self.assertEqual(run.failed_frac(passes), 0.5)
        # the fast failing executions are charged the gate's slowest one
        record = {"passes": passes, "setup_s": 1.0, "peak_rss_mb": 1.0}
        e2e = run.end_to_end(record, mb=6.0)
        self.assertEqual(e2e["wall_s"], 9.0 + 9.0 + 9.0 + 3.0)
        self.assertEqual(e2e["query_max_s"], 30.0)
        self.assertEqual(e2e["mb_per_s"], 6.0 * 4 / 30.0)


if __name__ == "__main__":
    unittest.main()
