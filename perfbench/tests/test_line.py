import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, ".."))
import run  # noqa: E402

# a harness that runs the benchmark keeps the last 2,000 characters of stdout
CAPTURE = 2000
# the longest repr a float can take (17 significant digits and an exponent)
WIDEST = 1.2345678901234567e-100
# the largest ratio of two 17-digit integers, printed at full length
LONG = 2 / 3 * 1e3


def benchmark():
    with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
        return json.load(f)


def record(workload):
    """A raw record as perfbench.Main writes it, every timing a float
    that prints with all 17 digits."""
    samples = {"pass.ms": [LONG], "ingest.ms": [LONG], "epoch.ms": [LONG] * 5,
               "drain.ms": [LONG], "drain.rows": [750.0], "copy.ms": [LONG],
               "bm25.ms": [LONG] * 2, "ann.ms": [LONG] * 2}
    samples.update({f"q.{q}.ms": [LONG] for q in run.CURATE_QUERIES})
    layers = {"copy.rows_landed": [20100.0]}
    layers.update({k: [LONG] for k in (
        "pipeline.parse_ms", "pipeline.compile_ms", "sources.copy_scan_s",
        "streaming.getbatch_ms", "streaming.addbatch_ms",
        "streaming.maint_epoch_ms", "sinks.db.call_ms", "sinks.idx.call_ms",
        "sinks.lake.call_ms", "sinks.hot.call_ms",
        "functions.lake.copy_transform_s", "functions.hot.copy_transform_s",
        "streaming.bm25_exec_ms", "streaming.ann_exec_ms")})
    return {"setup_s": LONG, "held_peak_mb": LONG, "cpus": 4,
            "samples": samples, "layers": layers, "spans": [],
            "runtime": {"jobs": 1e9, "tasks": 1e9, "task_cpu_s": LONG,
                        "gc_s": LONG, "shuffle_mb": LONG, "spill_mb": LONG,
                        "wall_s": LONG, "window_ms": [0.0, LONG],
                        "stages_ms": [[0.0, LONG / 3]]}}


class PrintedLine(unittest.TestCase):
    """Both lines fit the capture, with room to spare, even when every
    value prints at the widest a float can."""

    def test_names_match_benchmark_json(self):
        b = benchmark()
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]],
                         list(run.PER_LAYER))
        for w in ("sync", "probe-curate"):
            e2e, _ = run.end_to_end(w, record(w))
            self.assertEqual({k: u for k, (_, u) in e2e.items()},
                             {m["name"]: m["unit"] for m in b["end_to_end"]})
            self.assertTrue(set(run.per_layer(w, record(w))).issuperset(
                n for n, _ in run.PER_LAYER))

    def test_lines_fit_capture_at_widest_values(self):
        b = benchmark()
        big = 10 ** 12
        for key in ("end_to_end", "per_layer"):
            line = run.result_line(True, big, big, {
                m["name"]: (WIDEST, m["unit"]) for m in b[key]})
            with self.subTest(line=key):
                self.assertLess(len(line) + 1, CAPTURE * 0.95)

    def test_lines_from_records_fit_capture(self):
        for w in ("sync", "probe-curate"):
            rec = record(w)
            e2e, _ = run.end_to_end(w, rec)
            layers = run.per_layer(w, rec)
            traced = {n: (layers[n], u) for n, u in run.PER_LAYER}
            for shown in (e2e, traced):
                line = run.result_line(True, 10 ** 12, 0, shown)
                self.assertEqual(json.loads(line)["metrics"].keys(),
                                 shown.keys())
                self.assertLess(len(line) + 1, CAPTURE * 0.95)


if __name__ == "__main__":
    unittest.main()
