"""Self-tests of the benchmark.

    python3 perfbench/test_perfbench.py          # from the checkout root

* the generator is deterministic: one seed gives byte-identical inputs,
  another seed gives different ones;
* the output digest ignores row order and the order inside set-valued
  fields;
* the digests of generate-index-files do not change with the
  shuffle-partition count (builds the program on first use).
"""

import glob
import hashlib
import os
import random
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

WORK = os.path.join(run.BUILD, "selftest")
SMALL = {
    "assay_chain": {"fractions": 2, "spectra_per_fraction": 150, "peptides": 120, "proteins": 40},
    "project_many_files": {"runs": 3, "spectra_per_run": 80, "files_per_run": 3,
                           "peptides": 100, "proteins": 30},
}


def tree_hash(root):
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(root, "**"), recursive=True)):
        if os.path.isfile(path):
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        for workload, make in gen.GENERATORS.items():
            hashes = []
            for i, seed in enumerate((7, 7, 8)):
                d = os.path.join(WORK, "gen", "%s-%d" % (workload, i))
                shutil.rmtree(d, ignore_errors=True)
                make(seed, d, SMALL[workload])
                hashes.append(tree_hash(d))
            self.assertEqual(hashes[0], hashes[1], workload)
            self.assertNotEqual(hashes[0], hashes[2], workload)

    def test_facts(self):
        d = os.path.join(WORK, "gen", "facts")
        shutil.rmtree(d, ignore_errors=True)
        f = gen.project_many_files(3, d, SMALL["project_many_files"])
        self.assertEqual(len(f["mzid"]), 9)
        self.assertGreater(f["shared_spectra"], 0)
        self.assertEqual(f["psms"], f["psm_sets"] + f["shared_spectra"])


class DigestTest(unittest.TestCase):
    def test_order_independent(self):
        rows = [{"usi": "u%d" % i, "proteinAccessions": ["b", "a", "c%d" % i], "x": i * 0.5}
                for i in range(20)]
        shuffled = [dict(r, proteinAccessions=list(reversed(r["proteinAccessions"]))) for r in rows]
        random.Random(1).shuffle(shuffled)
        self.assertEqual(checks.digest(rows), checks.digest(shuffled))
        self.assertNotEqual(checks.digest(rows), checks.digest(rows[1:]))


class PartitioningTest(unittest.TestCase):
    """generate-index-files output is the same under 3 and 7 shuffle
    partitions (multi-file input, so the PSM-set merge runs too)."""

    def test_index_digests_ignore_shuffle_partitions(self):
        classpath = run.build()
        d = os.path.join(WORK, "partitions")
        shutil.rmtree(d, ignore_errors=True)
        facts = gen.project_many_files(5, os.path.join(d, "inputs"), SMALL["project_many_files"])
        digests = []
        for parts in ("3", "7"):
            out = os.path.join(d, "out" + parts)
            (_, args), = run.commands("project_many_files", facts, out)
            _, _, _, rc, _ = run.run_process(run.jvm_cmd(classpath, "graft.Cli") + args, d,
                                             "index" + parts, {"SPARK_GRAFT_CPUS": parts})
            self.assertEqual(rc, 0)
            digests.append({t: checks.summarize(checks.read_rows(os.path.join(out, "idx", t)))
                            for t in ("archive_spectra", "psm_summaries", "protein_evidence")})
        self.assertEqual(digests[0], digests[1])


if __name__ == "__main__":
    unittest.main()
