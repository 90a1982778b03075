"""Tests of the benchmark's own checks and arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import fixtures  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(checks.percentile(xs, 0), 1.0)
        self.assertEqual(checks.percentile(xs, 100), 4.0)
        self.assertAlmostEqual(checks.percentile(xs, 50), 2.5)
        self.assertAlmostEqual(checks.percentile(xs, 90), 3.7)

    def test_median_of_odd_count_is_the_middle_value(self):
        self.assertEqual(checks.median([9.0, 1.0, 5.0]), 5.0)
        self.assertEqual(checks.median([7.0]), 7.0)

    def test_no_values_is_an_error(self):
        with self.assertRaises(ValueError):
            checks.percentile([], 50)


class AnswersTest(unittest.TestCase):
    def test_answers_come_from_the_text(self):
        a = checks.answers("the spark theme other ")
        self.assertEqual(a, {"the_count": 3.0, "mentions_spark": True,
                             "first_word": "the", "invoice_total": None})

    def test_no_mention(self):
        a = checks.answers("batch sort ")
        self.assertEqual(a["mentions_spark"], False)
        self.assertEqual(a["the_count"], 0.0)

    def test_types_must_match(self):
        self.assertTrue(checks.same(2, 2.0))
        self.assertFalse(checks.same(True, 1.0))
        self.assertFalse(checks.same(1, True))
        self.assertFalse(checks.same("x", None))
        self.assertTrue(checks.same(None, None))


def _row(name, text):
    a = checks.answers(text)
    r = {"file_name": name, "status": "SUCCESS"}
    r.update({k: v for k, v in a.items() if v is not None})
    return r


class RowCheckTest(unittest.TestCase):
    texts = {"a.txt": "the spark the ", "b.txt": "sort batch "}

    def test_correct_rows_pass(self):
        rows = [_row(n, t) for n, t in self.texts.items()]
        self.assertEqual(checks.check_rows(rows, self.texts, set(self.texts)), 0)

    def test_corrupted_answer_fails(self):
        rows = [_row(n, t) for n, t in self.texts.items()]
        rows[0]["the_count"] = 3.0
        self.assertEqual(checks.check_rows(rows, self.texts, set(self.texts)), 1)

    def test_answer_to_the_unanswerable_question_fails(self):
        rows = [_row(n, t) for n, t in self.texts.items()]
        rows[1]["invoice_total"] = "12"
        self.assertEqual(checks.check_rows(rows, self.texts, set(self.texts)), 1)

    def test_missing_duplicated_and_extra_rows_fail(self):
        a, b = (_row(n, t) for n, t in self.texts.items())
        self.assertEqual(checks.check_rows([a], self.texts, set(self.texts)), 1)
        self.assertEqual(checks.check_rows([a, a, b], self.texts, set(self.texts)), 1)
        extra = dict(b, file_name="c.txt")
        self.assertEqual(checks.check_rows([a, b, extra], self.texts, set(self.texts)), 1)


class EtlPassCheckTest(unittest.TestCase):
    texts = {"a.txt": "the spark ", "b.txt": "sort the "}

    def _pass(self, out_dir, **kw):
        p = {"pass": 0, "listed": 2, "after_dedup": 2, "extracted": 2, "failed": 0,
             "llm_calls": 8, "out_dir": out_dir}
        p.update(kw)
        return p

    def _write(self, d, rows):
        with open(os.path.join(d, "part-00000.json"), "w") as fh:
            fh.write("".join(json.dumps(r) + "\n" for r in rows))

    def test_good_pass(self):
        with tempfile.TemporaryDirectory() as d:
            self._write(d, [_row(n, t) for n, t in self.texts.items()])
            failed, problems = checks.check_etl_pass(
                self._pass(d), self.texts, set(self.texts))
            self.assertEqual((failed, problems), (0, []))

    def test_double_billing_fails_every_file(self):
        with tempfile.TemporaryDirectory() as d:
            self._write(d, [_row(n, t) for n, t in self.texts.items()])
            failed, problems = checks.check_etl_pass(
                self._pass(d, llm_calls=16), self.texts, set(self.texts))
            self.assertEqual(failed, 2)
            self.assertEqual(len(problems), 1)

    def test_wrong_summary_fails_every_file(self):
        with tempfile.TemporaryDirectory() as d:
            self._write(d, [_row(n, t) for n, t in self.texts.items()])
            failed, _ = checks.check_etl_pass(
                self._pass(d, after_dedup=1), self.texts, set(self.texts))
            self.assertEqual(failed, 2)

    def test_wrong_row_fails_that_file(self):
        with tempfile.TemporaryDirectory() as d:
            rows = [_row(n, t) for n, t in self.texts.items()]
            rows[1]["first_word"] = "the"
            self._write(d, rows)
            failed, _ = checks.check_etl_pass(
                self._pass(d), self.texts, set(self.texts))
            self.assertEqual(failed, 1)


class FingerprintTest(unittest.TestCase):
    def test_changed_missing_and_new_queries_are_named(self):
        rec = {"q1": {"rows": 3, "hash": "10"}, "q2": {"rows": 1, "hash": "5"},
               "q3": {"rows": 0, "hash": "0"}}
        got = {"q1": {"rows": 3, "hash": "10"}, "q2": {"rows": 1, "hash": "6"},
               "q4": {"rows": 2, "hash": "7"}}
        self.assertEqual(checks.check_fingerprints(got, rec), ["q2", "q3", "q4"])
        self.assertEqual(checks.check_fingerprints(rec, rec), [])


class FixturesTest(unittest.TestCase):
    docs = [(str(i), f"word{i % 7} the spark " * (1 + i % 3)) for i in range(300)]

    def _listing(self, d):
        out = {}
        for dirpath, _, names in os.walk(d):
            for n in names:
                p = os.path.join(dirpath, n)
                with open(p) as fh:
                    out[os.path.relpath(p, d)] = (fh.read(), int(os.stat(p).st_mtime))
        return out

    def test_same_seed_same_inputs_other_seed_other_placement(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            ta = fixtures.generate(self.docs, 7, a, "etl_cold")
            tb = fixtures.generate(self.docs, 7, b, "etl_cold")
            fixtures.generate(self.docs, 8, c, "etl_cold")
            self.assertEqual(ta, tb)
            self.assertEqual(self._listing(a), self._listing(b))
            self.assertNotEqual(self._listing(a), self._listing(c))
            self.assertEqual(sum(n.startswith("doc_") for n in ta), len(self.docs))


if __name__ == "__main__":
    unittest.main()
