"""Smoke test of the benchmark at a tiny scale (sf0.001 tables, a two-copy
curation corpus, one warm-up op, a two-second window).

    python3 -m unittest discover -s e2ebench/tests -v

Checks that each workload runs, passes its DuckDB oracle and prints the
contract's last line, and that a planted wrong digest on one timed op is
counted as a failed op (ok_frac < 1, correct false) rather than dropped.
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
RUN = ROOT / "e2ebench" / "run.py"


def bench(workload: str, *extra: str, trace: int = 0) -> dict:
    r = subprocess.run([sys.executable, str(RUN), "--workload", workload, "--seed", "7",
                        "--seconds", "2", "--trace", str(trace), "--smoke", *extra],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    if r.returncode != 0:
        raise AssertionError(f"{workload} exited {r.returncode}:\n{r.stderr[-3000:]}")
    lines = r.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}, out
    out["detail"] = json.loads(lines[-2])["detail"]
    return out


_runs = {}


def bench_once(workload: str, trace: int) -> dict:
    if (workload, trace) not in _runs:
        _runs[workload, trace] = bench(workload, trace=trace)
    return _runs[workload, trace]


class SmokeTest(unittest.TestCase):
    def test_curate_ckpt_is_correct(self):
        out = bench("curate_ckpt")
        self.assertTrue(out["correct"])
        self.assertEqual(out["failed"], 0)
        self.assertEqual(out["metrics"]["ok_frac"]["value"], 1.0)
        for name in ("setup_s", "ops_per_s", "op_s.p50"):
            self.assertGreater(out["metrics"][name]["value"], 0)

    def test_planted_wrong_digest_lowers_ok_frac(self):
        out = bench("curate_ckpt", "--plant-bad-op", "0")
        self.assertFalse(out["correct"])
        self.assertEqual(out["failed"], 1)
        self.assertLess(out["metrics"]["ok_frac"]["value"], 1.0)
        self.assertAlmostEqual(out["metrics"]["ok_frac"]["value"],
                               (out["attempted"] - 1) / out["attempted"])

    def test_registry_mix_traced(self):
        out = bench_once("registry_mix", 1)
        self.assertEqual(out["failed"] == 0, out["detail"]["oracle_failed"] == [])
        m = out["metrics"]
        self.assertGreater(m["q.q_dedup_clusters.jobs"]["value"], 0)
        self.assertGreater(m["stream.batches"]["value"], 0)
        self.assertGreater(m["spark.tasks"]["value"], 0)

    # Known library defect at this scale: with 20 embeddings an IVF query
    # whose probed cells hold fewer than 4 vectors gets kernel_ok = false
    # from q_ann_ivf_kernel, while its DuckDB oracle says true. The
    # benchmark's own scale (sf0.005, ~10 vectors per cell) does not reach
    # it. This test starts passing once the library is fixed.
    @unittest.expectedFailure
    def test_registry_mix_oracle_at_sf0001(self):
        self.assertEqual(bench_once("registry_mix", 1)["detail"]["oracle_failed"], [])

    def test_registry_mix_only_known_oracle_failure(self):
        self.assertLessEqual(set(bench_once("registry_mix", 1)["detail"]["oracle_failed"]),
                             {"q_ann_ivf_kernel"})

    def test_curate_replay_traced(self):
        out = bench("curate_replay", trace=1)
        self.assertTrue(out["correct"])
        m = out["metrics"]
        # replay from exact_dedup runs the last three stages only
        self.assertEqual(m["runner.stage_s.quality_gate"]["value"], 0)
        self.assertGreater(m["runner.stage_s.exact_dedup"]["value"], 0)
        self.assertEqual(m["runlog.jobs"]["value"], 6)


if __name__ == "__main__":
    unittest.main()
