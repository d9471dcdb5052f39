"""Tests of the benchmark's Python side: the query tables, their
statistics and the result checksum. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The Scala side (ETL generator, its row-loop oracle against the engine,
metric names against BENCHMARK.json) is tested with `sbt test` in
perfbench/.
"""
import hashlib
import json
import os
import random
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb  # noqa: E402
import gen_tables  # noqa: E402
import qcheck  # noqa: E402
import run  # noqa: E402
import table_stats  # noqa: E402


def file_hashes(d):
    return {f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
            for f in sorted(os.listdir(d))}


class TablesTest(unittest.TestCase):
    def test_tables_are_byte_identical_across_generations(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen_tables.write(a)
            gen_tables.write(b)
            self.assertEqual(file_hashes(a), file_hashes(b))
            self.assertEqual(len(file_hashes(a)), len(qcheck.TABLES))


class TableStatsTest(unittest.TestCase):
    """The generated tables have the measured statistics they are drawn from."""

    def close(self, got, want, path):
        kind = want["kind"]
        self.assertEqual(got["kind"], kind, path)
        if kind == "shares":
            self.assertEqual(got["values"], want["values"], path)
            for a, b in zip(got["shares"], want["shares"]):
                self.assertAlmostEqual(a, b, delta=0.02, msg=path)
        elif kind == "quantiles":
            span = want["q"][-1] - want["q"][0]
            for a, b in zip(got["q"], want["q"]):
                self.assertAlmostEqual(a, b, delta=0.03 * span, msg=path)
            self.assertEqual((got["decimals"], got["rising"]),
                             (want["decimals"], want["rising"]), path)
        elif kind == "text":
            self.assertEqual(got["words"], want["words"], path)
            for a, b in zip(got["shares"], want["shares"]):
                self.assertAlmostEqual(a, b, delta=0.01, msg=path)
            self.assertAlmostEqual(got["near_dup_share"], want["near_dup_share"], delta=0.005)
            self.close(got["words_per_row"], want["words_per_row"], path + ".words_per_row")
        elif kind == "pattern":
            self.assertEqual((got["pattern"], got["width"]), (want["pattern"], want["width"]))
            self.close(got["number"], want["number"], path + ".number")
        elif kind == "vectors":
            self.assertEqual(got["dim"], want["dim"], path)
            for k in ("norm_mean", "cos_to_centre", "centre_cos"):
                self.assertAlmostEqual(got[k], want[k], delta=0.02, msg=f"{path}.{k}")
        else:
            self.assertEqual(got, want, path)

    def test_generated_tables_match_the_committed_statistics(self):
        with open(gen_tables.STATS) as f:
            want = json.load(f)
        with tempfile.TemporaryDirectory() as d:
            gen_tables.write(d)
            got = table_stats.measure(d)
        for name, t in want.items():
            self.assertEqual((got[name]["rows"], got[name]["types"]), (t["rows"], t["types"]), name)
            for col, spec in t["columns"].items():
                self.close(got[name]["columns"][col], spec, f"{name}.{col}")


# dd_jaccard_ppjoin's DuckDB oracle, as the engine's SparkEntry.oracleSql gives it
JACCARD_ORACLE = (
    "WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS tokens FROM documents), "
    "s AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, "
    "greatest(len(tokens) - 2, 0)), i -> tokens[i] || ' ' || tokens[i+1] || ' ' || "
    "tokens[i+2])) AS sh FROM t) SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
    "len(list_intersect(a.sh, b.sh)) / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) "
    "AS jaccard FROM s a JOIN s b ON a.doc_id < b.doc_id WHERE len(a.sh) > 0 AND "
    "len(b.sh) > 0 AND len(list_intersect(a.sh, b.sh)) / "
    "CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) >= 0.8")


class ChecksumTest(unittest.TestCase):
    def test_jaccard_pairs_equals_the_sql_oracle(self):
        words = "a b c d e f g h i j k l".split()
        rng = random.Random(5)
        texts = [" ".join(rng.choice(words) for _ in range(rng.randint(2, 14)))
                 for _ in range(60)]
        texts += [t + " dup" for t in texts[:20]] + [t + " x y" for t in texts[20:30]]
        con = duckdb.connect()
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR, n_chars BIGINT)")
        con.executemany("INSERT INTO documents VALUES (?, ?, ?)",
                        [(i, t, len(t)) for i, t in enumerate(texts)])
        want = qcheck.digest(con.sql(JACCARD_ORACLE))
        self.assertGreater(want["rows"], 10)
        self.assertEqual(qcheck.jaccard_pairs(con), want)

    def test_digest_ignores_row_order_and_int_double_spelling(self):
        con = duckdb.connect()
        a = qcheck.digest(con.sql("SELECT * FROM (VALUES (1, 2.5), (2, 3.0)) t(k, v)"))
        b = qcheck.digest(con.sql("SELECT * FROM (VALUES (2, 3), (1, 2.5)) t(k, v)"))
        self.assertEqual(a, b)
        c = qcheck.digest(con.sql("SELECT * FROM (VALUES (1, 2.5), (2, 3.5)) t(k, v)"))
        self.assertNotEqual(a["checksum"], c["checksum"])


class SpecTest(unittest.TestCase):
    def test_every_query_has_an_expected_result(self):
        expected = json.load(open(os.path.join(run.HERE, "expected_query_mix.json")))
        self.assertEqual(sorted(expected), sorted(run.QUERIES))
        self.assertEqual([w["name"] for w in run.SPEC["workloads"]], run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
