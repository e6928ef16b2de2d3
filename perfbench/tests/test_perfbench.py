"""Tests of the benchmark's own helpers.

Run from the root of a checkout: python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import os
import pathlib
import sys
import tempfile
import unittest

import duckdb
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402


def digests(d):
    return {f.name: hashlib.sha256(f.read_bytes()).hexdigest()
            for f in sorted(pathlib.Path(d).iterdir())}


def shape(d):
    """Row count and per-row string lengths of every generated table."""
    out = {}
    for f in sorted(os.listdir(d)):
        t = pq.read_table(os.path.join(d, f))
        lens = [len(v) for c in t.column_names if t.schema.field(c).type == "string"
                for v in t.column(c).to_pylist()]
        out[f] = (t.num_rows, lens)
    return out


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_same_sizes(self):
        for w in ["llm_mapreduce", "warehouse"]:
            with tempfile.TemporaryDirectory() as tmp:
                a, b, c = (os.path.join(tmp, x) for x in "abc")
                gen.generate(w, 11, a)
                gen.generate(w, 11, b)
                gen.generate(w, 12, c)
                self.assertEqual(digests(a), digests(b), w)
                self.assertEqual(shape(a), shape(c), w)
                changed = [f for f, h in digests(a).items() if digests(c)[f] != h]
                self.assertTrue(changed, f"{w}: another seed changed no file")

    def test_llm_documents_carry_their_pass_key(self):
        with tempfile.TemporaryDirectory() as tmp:
            gen.generate("llm_mapreduce", 3, tmp)
            qa = pq.read_table(os.path.join(tmp, "qa.parquet")).to_pylist()
            s = gen.spec("llm_mapreduce")
            for r in qa:
                self.assertEqual(r["text"].count(f"ANSWER[{r['passkey']}]"),
                                 s["needles_per_doc"])
            self.assertEqual(len({r["request_id"] for r in qa}), s["qa_requests"])


class PercentileTest(unittest.TestCase):
    def test_reports_n_and_requires_ten_samples_above(self):
        few = stats.percentile([float(i) for i in range(1, 51)], 0.9)
        self.assertEqual(few["n"], 50)
        self.assertEqual(few["value"], 45.0)
        self.assertEqual(few["above"], 5)
        self.assertFalse(few["rule_met"])
        many = stats.percentile([float(i) for i in range(1, 101)], 0.9)
        self.assertEqual((many["n"], many["value"], many["above"]), (100, 90.0, 10))
        self.assertTrue(many["rule_met"])

    def test_ties_at_the_percentile_are_not_above_it(self):
        p = stats.percentile([1.0] * 95 + [2.0] * 5 + [3.0] * 10, 0.5)
        self.assertEqual((p["value"], p["above"]), (1.0, 15))

    def test_self_time_subtracts_covered_child_time(self):
        spans = [
            {"id": 1, "kind": "job", "start": 0, "end": 10_000_000, "parent": 0},
            {"id": 2, "kind": "spark_job", "start": 1_000_000, "end": 4_000_000, "parent": 1},
            {"id": 3, "kind": "spark_job", "start": 3_000_000, "end": 6_000_000, "parent": 1},
            {"id": 4, "kind": "stage", "start": 1_000_000, "end": 2_000_000, "parent": 2},
        ]
        self.assertEqual(stats.self_times(spans),
                         {"job": 5.0, "spark_job": 5.0, "stage": 1.0})


class OracleCheckTest(unittest.TestCase):
    SQL = ("SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total "
           "FROM orders GROUP BY o_orderstatus")

    def test_accepts_the_oracle_result_and_rejects_a_perturbed_one(self):
        with tempfile.TemporaryDirectory() as tmp:
            data, out = os.path.join(tmp, "data"), os.path.join(tmp, "out")
            gen.generate("warehouse", 5, data)
            con = duckdb.connect()
            con.execute(f"CREATE VIEW orders AS SELECT * FROM '{data}/orders.parquet'")
            os.makedirs(os.path.join(out, "good"))
            os.makedirs(os.path.join(out, "bad"))
            # the engine writes n as a 32-bit int: the check compares values
            con.execute(f"COPY (SELECT o_orderstatus, n::INTEGER AS n, total FROM ({self.SQL})) "
                        f"TO '{out}/good/part-0.parquet' (FORMAT parquet)")
            con.execute(f"COPY (SELECT o_orderstatus, n + (o_orderstatus = 'F')::INT AS n, total "
                        f"FROM ({self.SQL})) TO '{out}/bad/part-0.parquet' (FORMAT parquet)")
            # a fractional count would round to the oracle's value if the
            # check cast it to the oracle's integer type
            os.makedirs(os.path.join(out, "fraction"))
            con.execute(f"COPY (SELECT o_orderstatus, n + (o_orderstatus = 'F')::INT * 0.3 AS n, "
                        f"total FROM ({self.SQL})) TO '{out}/fraction/part-0.parquet' (FORMAT parquet)")
            verdicts = check.check_outputs(
                out, data, {"good": self.SQL, "bad": self.SQL, "fraction": self.SQL,
                            "missing": self.SQL})
            self.assertIsNone(verdicts["good"])
            self.assertIn("mismatch", verdicts["bad"])
            self.assertIn("mismatch", verdicts["fraction"])
            self.assertEqual(verdicts["missing"], "no output written")


if __name__ == "__main__":
    unittest.main()
