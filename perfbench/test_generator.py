#!/usr/bin/env python3
"""Determinism checks for the benchmark's input generators.

    python3 perfbench/test_generator.py

- the message generator gives a byte-identical stream for a seed: twice in
  two JVMs, and equal to the digest pinned below (a change to the stream
  changes what every later run measures, so it must be deliberate);
- another seed gives another stream;
- the analytics table generator gives identical tables for a seed.
"""
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

import build  # noqa: E402
import gen_tables  # noqa: E402

# SHA-256 of seed 7: 300 keyed batches of 10 bodies
PINNED_SEED7 = "8c9dfcf2b6766eaef157f1da9ba48cb495f5fecba7cb1b462d2d17ef04e9b996"


def stream_digest(seed, batches=300, per_batch=10):
    classes = build.build()
    out = subprocess.run(["java", "-cp", build.classpath(classes), "graft.perfbench.MessageGen",
                          str(seed), str(batches), str(per_batch)],
                         check=True, stdout=subprocess.PIPE, text=True).stdout
    return out.strip().splitlines()[-1]


class GeneratorTest(unittest.TestCase):
    def test_message_stream_is_byte_identical_per_seed(self):
        first = stream_digest(7)
        self.assertEqual(first, stream_digest(7))
        self.assertEqual(first, PINNED_SEED7)

    def test_other_seed_gives_other_stream(self):
        self.assertNotEqual(stream_digest(7), stream_digest(8))

    def test_tables_are_identical_per_seed(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory(dir=build.build_dir()) as tmp:
            a, b = Path(tmp) / "a", Path(tmp) / "b"
            gen_tables.generate(a, 5, 0.001)
            gen_tables.generate(b, 5, 0.001)
            for t in gen_tables.TABLES:
                self.assertTrue(pq.read_table(a / f"{t}.parquet").equals(
                    pq.read_table(b / f"{t}.parquet")), t)


if __name__ == "__main__":
    unittest.main()
