"""Self-tests of the benchmark's own code (no JVM needed).

Run from the repository root:  python3 -m unittest discover -s perfbench
"""
import datetime as dt
import hashlib
import os
import tempfile
import unittest

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import metrics
import oracle


def _files(root):
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _us(s):
    return int(dt.datetime.fromisoformat(s).replace(tzinfo=dt.timezone.utc)
               .timestamp() * 1_000_000)


class SeedTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            ea = gen.write_epoch(7, 1, 2, a)
            gen.write_epoch(7, 1, 2, b)
            gen.write_epoch(8, 1, 2, c)
            fa, fb, fc = _files(a), _files(b), _files(c)
            self.assertEqual(sorted(fa), ["r0/c1.parquet", "r0/lims.parquet",
                                          "r0/sap-pru.parquet", "r1/c1.parquet",
                                          "r1/lims.parquet", "r1/sap-pru.parquet"])
            self.assertEqual(fa, fb)
            for k in fa:
                self.assertNotEqual(fa[k], fc[k], k)
            self.assertTrue(all(sum(e["counts"]) > 0 for e in ea.values()))

    def test_registry_tables_repeat_per_seed(self):
        with tempfile.TemporaryDirectory() as t:
            for d, seed in (("a", 3), ("b", 3), ("c", 4)):
                gen.write_registry(seed, os.path.join(t, d))
            fa, fb, fc = (_files(os.path.join(t, d)) for d in "abc")
            self.assertEqual(fa, fb)
            self.assertNotEqual(fa["lineitem.parquet"], fc["lineitem.parquet"])

    def test_increment_sizes_are_stratified_log_uniform(self):
        s = gen.increment_sizes(5, 1, 0, 4)
        self.assertEqual(sorted(s.tolist()), [1778, 5623, 17783, 56234])
        orders = {tuple(gen.increment_sizes(x, 1, 0, 4)) for x in range(20)}
        self.assertGreater(len(orders), 1)


class IngestOracleTest(unittest.TestCase):
    """A hand-worked step: watermark 2020-01-01 12:00."""

    def test_late_null_and_equal_rows_are_not_committed(self):
        wm = _us("2020-01-01 12:00:00")
        ref = np.array([
            _us("2020-01-01 13:00:00"),   # fresh: committed
            _us("2019-12-31 08:00:00"),   # late: dropped
            -1,                           # null ref: dropped
            wm,                           # equal to the watermark: dropped
            _us("2020-01-02 00:00:01"),   # fresh, the new maximum
        ])
        mask, new_wm = gen.admit(ref, wm)
        self.assertEqual(mask.tolist(), [True, False, False, False, True])
        self.assertEqual(new_wm, _us("2020-01-02 00:00:01"))
        self.assertEqual(gen.format_sync(new_wm), "2020-01-02T00:00:01.000000Z")

    def test_nothing_new_keeps_the_watermark(self):
        wm = _us("2020-01-01 12:00:00")
        mask, new_wm = gen.admit(np.array([wm, -1, wm - 1]), wm)
        self.assertFalse(mask.any())
        self.assertEqual(new_wm, wm)

    def test_committed_columns(self):
        ref = np.array([_us("2021-01-01 10:00:00"), _us("2020-12-28 00:00:00")])
        c1 = pa.table({"ID": [1, 2], "EMAIL__C": ["a@b.c", None],
                       "IS_PRO__C": [True, False]})
        rows = gen.committed_rows("c1", c1, ref)
        self.assertEqual(rows["EMAIL__C"].tolist(),
                         [hashlib.sha256(b"a@b.c").hexdigest(), None])
        self.assertEqual(rows["IS_PRO__C"].tolist(), ["true", "false"])
        self.assertEqual(rows["WEEK"].tolist(), ["53", "53"])  # ISO week
        sap = gen.committed_rows("sap-pru", pa.table({"ID": [3]}),
                                 np.array([_us("2020-04-30 23:59:59")]))
        self.assertEqual((sap["YEAR"].tolist(), sap["MONTH"].tolist()),
                         (["2020"], ["4"]))  # unpadded month

    def test_generated_epoch_mixes_every_row_kind(self):
        with tempfile.TemporaryDirectory() as t:
            expect = gen.write_epoch(2, 1, 2, t)
            for system, e in expect.items():
                table = pq.read_table(os.path.join(t, "r1", f"{system}.parquet"))
                self.assertGreater(len(table), e["counts"][1])  # some dropped
                self.assertEqual(len(e["rows"]["ID"]), sum(e["counts"]))


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        v, pct, n = metrics.tail(list(range(100, 0, -1)))
        self.assertEqual((v, n), (90, 100))   # 91..100 lie beyond it
        self.assertAlmostEqual(pct, 90.0)
        v, pct, n = metrics.tail([float(x) for x in range(11)])
        self.assertEqual((v, n), (0.0, 11))
        self.assertAlmostEqual(pct, 100 / 11)

    def test_too_few_samples_have_no_tail(self):
        self.assertEqual(metrics.tail([1.0] * 10), (None, None, 10))


class OverheadTest(unittest.TestCase):
    def test_warm_up_trend_cancels(self):
        # untraced passes speed up 10 -> 8 -> 6; traced ones cost 5 % more
        walls = [10.0, 9.0 * 1.05, 8.0, 7.0 * 1.05, 6.0]
        passes = [{"index": k, "traced": k % 2 == 1, "wall_s": w}
                  for k, w in enumerate(walls)]
        self.assertAlmostEqual(metrics.overhead(passes), 0.05)


class FailureAccountingTest(unittest.TestCase):
    def test_planted_wrong_result_fails_and_is_not_timed(self):
        ops = [{"name": "q1", "pass": -1, "traced": False, "wall_s": 3.0},
               {"name": "q2", "pass": -1, "traced": False, "wall_s": 3.0},
               {"name": "q1", "pass": 0, "traced": False, "wall_s": 1.0},
               {"name": "q2", "pass": 0, "traced": False, "wall_s": 0.001},
               {"name": "q3", "pass": 0, "traced": False, "wall_s": 2.0,
                "error": "boom"}]
        good = pd.DataFrame({"a": [1, 2], "b": ["x", "y"]})
        planted = good.copy()
        planted.loc[1, "a"] = 3
        self.assertIsNone(oracle.frames_match(good, good.iloc[::-1]))
        why = oracle.frames_match(planted, good)
        self.assertIn("VALUE_MISMATCH", why)
        attempted, failed, timed = metrics.account(ops, {"q2": why})
        self.assertEqual((attempted, failed), (5, 3))
        self.assertEqual([o["name"] for o in timed], ["q1"])
        e2e, _ = metrics.end_to_end(
            1.0, [{"traced": False, "wall_s": 3.0}], timed, lambda o: 10, 1.0)
        self.assertEqual(e2e["op_s.p50"], 1.0)  # the fast wrong q2 is out

    def test_type_strict_comparison(self):
        self.assertIn("DTYPE_MISMATCH", oracle.frames_match(
            pd.DataFrame({"a": [86]}), pd.DataFrame({"a": [86.0]})))


if __name__ == "__main__":
    unittest.main()
