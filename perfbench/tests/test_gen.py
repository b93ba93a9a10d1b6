import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402

TINY = {
    "mortar_read": dict(streams=9, readings=2500, ops=24),
    "wide_store_lookup": dict(streams=30, readings=60, ops=16),
    "mortar_ingest": dict(streams=6, readings=50, batch_streams=3, batch_readings=20,
                          batches=10),
}


def tree(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


class SeededInputs(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.addCleanup(self.tmp.cleanup)

    def gen(self, workload, seed, name):
        out = os.path.join(self.tmp.name, name)
        gen.generate(workload, seed, out, TINY.get(workload))
        return out

    def test_same_seed_gives_byte_identical_inputs(self):
        for w in gen.SIZES:
            a, b = self.gen(w, 7, w + "-a"), self.gen(w, 7, w + "-b")
            files = tree(a)
            self.assertEqual(files, tree(b))
            # spec.json holds absolute paths, so compare it with them masked
            for f in files:
                if f == "spec.json":
                    with open(os.path.join(a, f)) as fa, open(os.path.join(b, f)) as fb:
                        self.assertEqual(fa.read().replace(a, ""), fb.read().replace(b, ""))
                else:
                    self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                                shallow=False), f"{w}: {f} differs")

    def test_different_seed_gives_different_inputs(self):
        for w in ("mortar_read", "wide_store_lookup", "mortar_ingest"):
            a, b = self.gen(w, 7, w + "-a"), self.gen(w, 8, w + "-b")
            self.assertNotEqual(tree(a), tree(b), w)  # stream UUIDs differ
        a, b = self.gen("operator_mix", 7, "op-a"), self.gen("operator_mix", 8, "op-b")
        with open(os.path.join(a, "spec.json")) as fa, open(os.path.join(b, "spec.json")) as fb:
            self.assertNotEqual(fa.read().replace(a, ""), fb.read().replace(b, ""))


class ExpectedAnswers(unittest.TestCase):
    """The closed-form expected answer agrees with a brute-force scan of the
    generated CSVs."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.addCleanup(self.tmp.cleanup)

    def check_reads(self, workload):
        spec = gen.generate(workload, 3, self.tmp.name, TINY[workload])
        for op in spec["ops"]:
            paths = [os.path.join(spec["csv"], u + ".csv") for u in op["ids"]]
            start = gen.parse_iso(op["start"]) if op["start"] else None
            end = gen.parse_iso(op["end"]) if op["end"] else None
            self.assertEqual(gen.brute_force(paths, start, end),
                             (op["rows"], op["vsum"], op["tsum"]), op["template"])
        self.assertTrue(any(op["rows"] > 0 for op in spec["ops"]))

    def test_mortar_read(self):
        self.check_reads("mortar_read")

    def test_wide_store_lookup(self):
        self.check_reads("wide_store_lookup")
        spec = gen.generate("wide_store_lookup", 4, os.path.join(self.tmp.name, "w"),
                            TINY["wide_store_lookup"])
        self.assertTrue(all(1 <= len(op["ids"]) <= 10 for op in spec["ops"]))

    def test_mortar_ingest(self):
        spec = gen.generate("mortar_ingest", 3, self.tmp.name, TINY["mortar_ingest"])
        files = {}  # uuid -> CSVs holding its readings so far
        for d in [spec["csv"]] + [op["dir"] for op in spec["ops"]]:
            for f in os.listdir(d):
                files.setdefault(f[:-4], []).append(os.path.join(d, f))
        seen = {u: [p for p in ps if p.startswith(spec["csv"])] for u, ps in files.items()}
        for op in spec["ops"]:
            for u in op["ids"]:
                seen.setdefault(u, []).append(os.path.join(op["dir"], u + ".csv"))
            got = gen.brute_force([p for u in op["ids"] for p in seen[u]],
                                  gen.parse_iso(op["start"]), gen.parse_iso(op["end"]))
            self.assertEqual(got, (op["rows"], op["vsum"], op["tsum"]), op["dir"])
            self.assertEqual(op["rows"], op["csv_rows"])
        self.assertIn("append", {op["template"] for op in spec["ops"]})

    def test_window_edges_are_inclusive(self):
        step = 300
        t = gen.T0 + 10 * step
        self.assertEqual(gen.index_range(step, 100, t, t), (10, 11))
        self.assertEqual(gen.index_range(step, 100, t + 1, t + step - 1), (11, 11))
        self.assertEqual(gen.index_range(step, 100, None, None), (0, 100))
        self.assertEqual(gen.index_range(step, 100, gen.T0 - 5, gen.T0 + 10 ** 9), (0, 100))


if __name__ == "__main__":
    unittest.main()
