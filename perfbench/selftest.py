#!/usr/bin/env python3
"""Self-tests of the benchmark. Run from the repository root:

    python3 perfbench/selftest.py

The two pipeline tests build the harness the way run.py does and start a
JVM each; the rest are pure Python.
"""
import json
import os
import re
import shutil
import tempfile
import time
import unittest

import fixtures
import run

BUNDLED_PAGES = os.path.join(run.ROOT, "src", "test", "resources", "pages")


def bundled_pages():
    texts = []
    for i in range(5):
        with open(os.path.join(BUNDLED_PAGES, "page-%d.json" % i)) as f:
            texts.append(f.read())
    return texts


def read_tree(root):
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), root)] = fh.read()
    return out


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_identical_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self.assertEqual(fixtures.batch_fixtures(7, a), fixtures.batch_fixtures(7, b))
            self.assertEqual(read_tree(a), read_tree(b))

    def test_other_seed_gives_other_pages(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            fixtures.batch_fixtures(7, a)
            fixtures.batch_fixtures(8, b)
            self.assertNotEqual(read_tree(a), read_tree(b))

    def test_fixture_covers_every_input_shape(self):
        with tempfile.TemporaryDirectory() as d:
            fixtures.batch_fixtures(7, d)
            fx = os.path.join(d, "fx-0")
            roots = []
            for p in range(fixtures.BATCH_PAGES):
                with open(os.path.join(fx, "page-%d.json" % p)) as f:
                    roots.append(json.load(f))
        shapes = {"array" if isinstance(r, list) else next(iter(r)) for r in roots}
        self.assertTrue({"results", "pulses", "array"} <= shapes)
        pages = [fixtures.extract_items(r) for r in roots]
        self.assertEqual(sum(1 for p in pages if not p), 1, "exactly one empty page")
        items = [it for p in pages for it in p]
        self.assertTrue(any(not isinstance(it, dict) for it in items), "malformed items")
        keyed = [it for it in items if isinstance(it, dict)]
        key = lambda it: (it.get("pulse_info") or {}).get("id", it.get("id"))
        self.assertTrue(any(key(it) is None for it in keyed), "keyless items")
        self.assertTrue(any("pulse_info" not in it and key(it) is not None for it in keyed))
        self.assertTrue(any(isinstance(it.get("pulse_info"), dict) and "id" not in it["pulse_info"]
                            and it.get("id") is not None for it in keyed))
        in_page = [[key(it) for it in p if isinstance(it, dict) and key(it) is not None] for p in pages]
        self.assertTrue(any(len(k) != len(set(k)) for k in in_page), "duplicate key within a page")
        per_page = [set(k) for k in in_page]
        self.assertTrue(any(per_page[i] & per_page[j] for i in range(5) for j in range(i + 1, 50)),
                        "duplicate key across pages")

    def test_board_tables_are_the_corpus(self):
        """The board's tables hold the sf0.1 test corpus's rows exactly."""
        with open(os.path.join(run.HERE, "corpus_sf0.1.json")) as f:
            corpus = json.load(f)
        with tempfile.TemporaryDirectory() as d:
            fixtures.board_tables(d)
            self.assertEqual(sorted(os.listdir(d)), sorted(t + ".parquet" for t in fixtures.TABLES))
            self.assertEqual(fixtures.table_digests(d), corpus)

    def test_table_digests_see_one_changed_value(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            fixtures.board_tables(d, sf=0.001)
            before = fixtures.table_digests(d)
            path = os.path.join(d, "nation.parquet")
            t = pq.read_table(path)
            keys = t.column("n_regionkey").to_pylist()
            keys[7] = (keys[7] + 1) % 5
            pq.write_table(t.set_column(2, "n_regionkey", pa.array(keys, pa.int32())), path)
            after = fixtures.table_digests(d)
            self.assertNotEqual(before["nation"], after["nation"])
            self.assertEqual({k: v for k, v in before.items() if k != "nation"},
                             {k: v for k, v in after.items() if k != "nation"})


class OracleTest(unittest.TestCase):
    def test_bundled_pages_replay(self):
        state = fixtures.EtlState().apply(bundled_pages())
        self.assertEqual(sorted(state.keyed), [3, 101, 102, 104, 106])
        self.assertEqual(state.keyed[106][1], "Pulse Six v2")  # the later page wins
        self.assertEqual(state.keyless, [(None, None, 7)])
        self.assertEqual(state.quarantined, 0)

    def test_row_hash_is_order_independent(self):
        rows = [(1, "a", None), (None, None, 7), (2, "b", 3)]
        self.assertEqual(fixtures.row_hash(rows), fixtures.row_hash(rows[::-1]))
        self.assertNotEqual(fixtures.row_hash(rows), fixtures.row_hash(rows[:2]))


class GateTest(unittest.TestCase):
    def setUp(self):
        self.expected = {"fx-0": {"rows": 3, "hash": "17", "keyless": 1, "quarantined": 2, "valid": 5}}
        self.res = {"ops": [dict(self.expected["fx-0"], fixture="fx-0", s=1.0, cpu_s=1.0)] * 2}

    def test_right_answers_pass(self):
        self.assertEqual(run.check("etl_batch", self.res, self.expected, None), (2, 0))

    def test_corrupted_expected_state_fails_the_gate(self):
        for field, value in [("hash", "18"), ("rows", 4), ("quarantined", 3), ("keyless", 0)]:
            bad = {"fx-0": dict(self.expected["fx-0"], **{field: value})}
            self.assertEqual(run.check("etl_batch", self.res, bad, None), (2, 2), field)

    def test_board_result_differing_from_oracle_fails(self):
        with tempfile.TemporaryDirectory() as work:
            import pyarrow as pa
            import pyarrow.parquet as pq
            os.makedirs(os.path.join(work, "results", "q01_count"))
            pq.write_table(pa.table({"n": pa.array([5], pa.int64())}),
                           os.path.join(work, "results", "q01_count", "part-0.parquet"))
            good = fixtures.canonical(pa.table({"n": pa.array([5], pa.int32())}))
            res = {"ops": [{"counts": {"q01_count": 1}}]}
            self.assertEqual(run.check("board_core", res, {"q01_count": good}, work), (1, 0))
            for bad in (pa.table({"n": pa.array([6], pa.int64())}),
                        pa.table({"n": pa.array([5.0], pa.float64())})):
                self.assertEqual(run.check("board_core", res, {"q01_count": fixtures.canonical(bad)},
                                           work), (1, 1))
            wrong_count = {"ops": [{"counts": {"q01_count": 2}}]}
            self.assertEqual(run.check("board_core", wrong_count, {"q01_count": good}, work), (1, 1))


class MetricsTest(unittest.TestCase):
    NAME = re.compile(r"[A-Za-z0-9_.-]+\Z")

    def test_names_and_counts(self):
        for name in list(run.END_TO_END) + list(run.PER_LAYER):
            self.assertRegex(name, self.NAME)
            self.assertLessEqual(len(name), 64)
        self.assertEqual(len(set(run.END_TO_END) | set(run.PER_LAYER)),
                         len(run.END_TO_END) + len(run.PER_LAYER))
        self.assertLessEqual(len(run.END_TO_END), 16)
        self.assertLessEqual(len(run.PER_LAYER), 128)
        self.assertIn("setup_s", run.END_TO_END)

    def test_benchmark_json_matches_the_harness(self):
        path = os.path.join(run.ROOT, "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json beside the benchmark")
        with open(path) as f:
            spec = json.load(f)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]},
                         run.PER_LAYER)


class PipelineTest(unittest.TestCase):
    """`Pipeline.run` on the engine must produce the oracle's state."""

    @classmethod
    def setUpClass(cls):
        cls.out = run.out_dir()
        os.makedirs(cls.out, exist_ok=True)
        cls.classpath = run.build(cls.out)

    def pipeline(self, pages_dir):
        work = os.path.join(self.out, "selftest")
        shutil.rmtree(work, ignore_errors=True)
        shutil.copytree(pages_dir, os.path.join(work, "fixture"))
        try:
            res = run.run_jvm(self.classpath, work, "pipeline_check", 0, 0, time.time() + 170)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        return res["check"]

    def assert_matches(self, check, expected):
        """`Pipeline.run` and the traced run's layered calls both give the
        oracle's state, with the same number of jobs."""
        for name in ("run", "layered"):
            got = {k: v for k, v in check[name].items() if k != "jobs"}
            self.assertEqual(got, expected, name)
        self.assertEqual(check["run"]["jobs"], check["layered"]["jobs"])

    def test_bundled_fixture(self):
        self.assert_matches(self.pipeline(BUNDLED_PAGES),
                            fixtures.EtlState().apply(bundled_pages()).summary())

    def test_generated_fixture(self):
        with tempfile.TemporaryDirectory() as d:
            expected = fixtures.batch_fixtures(5, d, pages=20)
            self.assert_matches(self.pipeline(os.path.join(d, "fx-0")), expected["fx-0"])


if __name__ == "__main__":
    unittest.main()
