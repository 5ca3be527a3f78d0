"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests -v

Run from the root of a checkout. The emulator test compiles the program
and the benchmark first (as run.py does) and needs Spark's jars.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import metrics  # noqa: E402
import weathergen  # noqa: E402


class CallSiteMapping(unittest.TestCase):
    def test_frame_parsing(self):
        self.assertEqual(
            metrics.frame_class_method("graft.sources.TableStore$.appendFacts(TableStore.scala:61)"),
            ("graft.sources.TableStore", "appendFacts"))
        self.assertEqual(
            metrics.frame_class_method("graft.weather.LocationRefresh$$anonfun$1.apply(LocationRefresh.scala:9)"),
            ("graft.weather.LocationRefresh", "apply"))

    def test_weather_phases(self):
        run = "graft.weather.WeatherMain$.run(WeatherMain.scala:180)"
        cases = {
            "diff": ["graft.weather.LocationDiff$.hasChanges(LocationDiff.scala:38)", run],
            "refresh": ["graft.sources.TableStore$.overwriteSnapshot(TableStore.scala:54)",
                        "graft.sources.TableStore$.replaceSnapshot(TableStore.scala:83)", run],
            "ingest": ["graft.sources.TableStore$.appendFacts(TableStore.scala:61)", run],
            "report": [run],
        }
        for phase, frames in cases.items():
            self.assertEqual(metrics.weather_phase(frames), phase)
        self.assertIsNone(metrics.weather_phase(["graft.queries.Dedup$.x(Dedup.scala:1)"]))
        self.assertIsNone(metrics.weather_phase([]))

    def test_module_and_index_family(self):
        frames = ["graft.sources.AtomicSwap$.writeGen(AtomicSwap.scala:90)",
                  "graft.sources.IvfIndex$.write(IvfIndex.scala:40)",
                  "graft.streaming.IvfIngest$.processBatch(IvfIngest.scala:50)"]
        self.assertEqual(metrics.module_of(frames), "sources.AtomicSwap")
        self.assertEqual(metrics.index_family(frames), "ivf")
        self.assertIsNone(metrics.index_family(frames[:1]))
        self.assertIsNone(metrics.module_of([]))


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 100 samples: 10 lie above the 90th
        value, pct, n = metrics.tail(xs)
        self.assertEqual((value, pct, n), (90, 90, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_order_does_not_matter(self):
        xs = [float(i % 37) + i / 1000 for i in range(50)]
        self.assertEqual(metrics.tail(xs), metrics.tail(list(reversed(xs))))

    def test_small_samples_report_the_maximum(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 100, 3))
        self.assertEqual(metrics.tail(list(range(21))), (20, 100, 21))
        # from 22 samples on, the rule's percentile lies above the median
        value, pct, _ = metrics.tail(list(range(22)))
        self.assertEqual(value, 11)
        self.assertGreater(pct, 50)


class Generator(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        a = json.dumps(weathergen.generate(7, locations=300, epochs=5))
        b = json.dumps(weathergen.generate(7, locations=300, epochs=5))
        self.assertEqual(a, b)
        c = json.dumps(weathergen.generate(8, locations=300, epochs=5))
        self.assertNotEqual(a, c)

    def test_every_case_and_matcher_branch(self):
        d = weathergen.generate(3)
        cases = d["truth"]["cases"]
        self.assertTrue(all(v > 0 for v in cases.values()), cases)
        t = d["geocode"]
        states = [c.get("state") for cands in t.values() for c in cands]
        self.assertIn(None, states)        # branch 1
        self.assertIn("Basilan", states)   # branch 2
        self.assertIn("nan", states)       # branch 5
        tries = [weathergen.resolve(r["name"], None, t)[0] for r in d["cities"]]
        self.assertEqual(set(tries) & {1, 2, 3}, {1, 2, 3})  # every name variant

    def test_ground_truth(self):
        d = weathergen.generate(5, locations=400, epochs=6)
        truth = d["truth"]
        self.assertEqual(truth["locations"], len(d["cities"]))
        self.assertEqual(truth["geocode_resolved"][0], truth["resolved"])
        self.assertLess(truth["resolved"], truth["locations"])  # some never resolve
        self.assertEqual(len(truth["geocode_requests"]), len(d["epochs"]) + 1)
        keys = {(r["name"], r["provinceCode"]) for r in d["cities"]}
        self.assertEqual(len(keys), len(d["cities"]))
        # the matcher port agrees with the cases the generator built
        provinces = {p["code"]: p["name"] for p in d["provinces"]}
        resolved = sum(weathergen.resolve(r["name"], provinces.get(r["provinceCode"]), d["geocode"])[1]
                       for r in d["cities"])
        self.assertEqual(resolved, truth["resolved"])

    def test_name_variants_port(self):
        self.assertEqual(weathergen.name_variants("City of Naga City"),
                         ["Naga City", "City of Naga City", "City of Naga"])
        self.assertEqual(weathergen.name_variants("Bogo City"), ["Bogo City", "Bogo"])
        self.assertEqual(weathergen.name_variants("Town of Ba"), ["Ba", "Town of Ba"])


class EmulatorAccounting(unittest.TestCase):
    def test_self_test_main(self):
        import run
        jars = run.spark_jars()
        classes = run.build(ROOT, jars)
        r = subprocess.run(["java", "-XX:-UsePerfData", "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
                            "perfbench.SelfTest"], capture_output=True, text=True, timeout=120)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)
        self.assertIn("SelfTest OK", r.stdout)


class Contract(unittest.TestCase):
    def test_benchmark_json_lists_every_metric(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            b = json.load(fh)
        self.assertEqual([m["name"] for m in b["per_layer"]], metrics.PER_LAYER)
        self.assertEqual({m["name"] for m in b["end_to_end"]},
                         {"setup_s", "wall_s", "op_p50_s", "op_tail_s", "peak_heap_mb"})
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]},
                         {n: metrics.unit_of(n) for n in metrics.PER_LAYER})


if __name__ == "__main__":
    unittest.main()
