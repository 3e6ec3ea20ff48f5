"""Smoke test of the benchmark: every workload end to end on tiny inputs
(a 1k-row car table, test data sf0.001).

    python3 perfbench/test_smoke.py

Each case starts one JVM, so the whole file takes about four minutes;
the first case also builds the harness if the sources changed.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402


def bench(workload, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


class SmokeTest(unittest.TestCase):
    contract = run.load_contract()

    def check_result(self, report, result, trace):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], report["checks"])
        self.assertGreaterEqual(result["attempted"], 1)
        # the only failures allowed are reads across a compaction swap, a
        # known defect of Maintenance.compactParquet (see README.md)
        for cls, sample in report["figures"]["error_samples"].items():
            self.assertTrue(any(k in sample for k in ("FILE_NOT_EXIST", "FileNotFound",
                                                      "NoSuchFile", "PATH_NOT_FOUND")), sample)
            self.assertEqual(report["workload"], "ingest_mixed")
        names = [m["name"] for m in self.contract["per_layer" if trace else "end_to_end"]]
        self.assertEqual(sorted(result["metrics"]), sorted(names))
        for m in result["metrics"].values():
            self.assertIsInstance(m["value"], float)
        self.assertFalse(report["checks_failed"])
        for key in ("seed", "nproc", "jvm_flags", "load_avg_before", "load_avg_after",
                    "inputs", "source_hash"):
            self.assertIn(key, report)

    def test_llm_pipeline(self):
        report, result = bench("llm_pipeline", 0)
        self.check_result(report, result, 0)
        for m in ("latency_p50_s", "pass_s", "setup_s", "heap_peak_mb"):
            self.assertGreater(result["metrics"][m]["value"], 0)

    def test_ingest_mixed_traced(self):
        report, result = bench("ingest_mixed", 1)
        self.check_result(report, result, 1)
        fig = report["figures"]
        self.assertGreater(fig["ingest.append_s"], 0)
        self.assertGreater(fig["envelope.read_s"], 0)
        self.assertGreater(fig["trace.paired_keys"], 0)
        # the layer spans and the unattributed rest make up each op
        self.assertGreater(fig["trace.span_coverage"], 0.5)
        # every pass's compaction runs inside one read (the swap read)
        self.assertEqual(fig["maintenance.reads_overlapped"], fig["passes"])
        self.assertGreater(fig["maintenance.compact_s"], 0)

    def test_dashboard(self):
        report, result = bench("dashboard", 0)
        self.check_result(report, result, 0)
        self.assertEqual(len(report["checks"]), 11)


class CheckTest(unittest.TestCase):
    """The answer checks reject a wrong answer."""

    def test_canonical_key_orders_map_entries(self):
        import check
        a = {"city_license_plates": {"b": 2, "a": 1}}
        b = {"city_license_plates": {"a": 1, "b": 2}}
        self.assertEqual(check.canon_key(a, ["city_license_plates"]),
                         check.canon_key(b, ["city_license_plates"]))

    def test_exact_check_finds_a_wrong_count(self):
        import check
        con = check.connect()
        con.execute("CREATE TABLE car_data AS SELECT * FROM (VALUES ('a'), ('a'), ('b')) "
                    "t(car_brand)")
        good = [{"brand": "a", "n": 2}, {"brand": "b", "n": 1}]
        bad = [{"brand": "a", "n": 2}, {"brand": "b", "n": 2}]
        self.assertIsNone(check.check_request(con, "popularBrands", {}, good))
        self.assertIsNotNone(check.check_request(con, "popularBrands", {}, bad))

    def test_llm_check_follows_check_parity(self):
        import shutil
        import check
        corpus = os.path.join(run.TESTDATA, "sf0.001")
        d = os.path.join(ROOT, ".bench_run", f"check-test-{os.getpid()}")
        os.makedirs(d)
        try:
            oracles = {"same": "SELECT 1::BIGINT AS x", "differs": "SELECT 2::BIGINT AS x",
                       "huge": "SELECT 1::HUGEINT AS x"}
            with open(os.path.join(d, "oracle_sql.json"), "w") as f:
                json.dump(oracles, f)
            con = check.connect()
            for q in oracles:
                os.makedirs(os.path.join(d, "answers", q))
                con.execute(f"COPY (SELECT 1::BIGINT AS x) TO "
                            f"'{d}/answers/{q}/part-0.parquet' (FORMAT parquet)")
            out = check.check_llm(corpus, os.path.join(d, "answers"),
                                  os.path.join(d, "oracle_sql.json"), os.path.join(d, "cache"))
            self.assertIsNone(out["same"])
            self.assertIn("first diff", out["differs"])
            self.assertIn("HUGEINT", out["huge"])
        finally:
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
