"""Self-test of scale.py's replica rules and arithmetic and of the shared
oracle compare.

    python3 scripts/test_scale.py
"""
import json
import os
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check_oracle  # noqa: E402
import scale  # noqa: E402


class RotationTest(unittest.TestCase):
    def test_bijections_pairwise_distinct(self):
        for replicas in (10, 100):
            rots = [scale.rotation(r) for r in range(replicas)]
            self.assertEqual(rots[0], scale.FROM)
            for rot in rots:
                # a permutation within each band: the map is invertible
                # and never moves a character across bands
                i = 0
                for band, _ in scale.BANDS:
                    self.assertEqual(sorted(rot[i:i + len(band)]), sorted(band))
                    i += len(band)
            # one b-n and one p-z consonant already tell every replica apart
            images = {"bp".translate(str.maketrans(scale.FROM, rot)) for rot in rots}
            self.assertEqual(len(images), replicas)

    def test_first_ten_replicas_ignore_the_extra_turn(self):
        # below 10 replicas the p-z bands turn like the b-n bands
        for r in range(10):
            rot = scale.rotation(r)
            self.assertEqual(rot.index("b", 10) - 10, rot.index("p", 30) - 30)


class DecadeTest(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(scale.ratio(2.0, 21.0), 10.5)
        self.assertEqual(scale.ratio(3.0, 1.0), 0.33)
        self.assertIsNone(scale.ratio(None, 5.0))
        self.assertIsNone(scale.ratio(5.0, None))
        self.assertIsNone(scale.ratio(0.0, 5.0))

    def test_decades_with_missing_walls(self):
        order = ["sf0.1", "sf1", "sf10"]
        row = {"sf0.1_serve_sec": 2.0, "sf1_serve_sec": 8.0, "sf10_serve_sec": 120.0}
        self.assertEqual(scale.decades(row, order),
                         {"decade1_ratio": 4.0, "decade2_ratio": 15.0})
        del row["sf10_serve_sec"]
        self.assertEqual(scale.decades(row, order),
                         {"decade1_ratio": 4.0, "decade2_ratio": None})
        self.assertEqual(scale.decades({"sf1_serve_sec": 8.0}, order),
                         {"decade1_ratio": None, "decade2_ratio": None})
        self.assertEqual(scale.decades(row, ["sf0.1"]), {})


class CompareTest(unittest.TestCase):
    """check_oracle.compare on one-file engine outputs written by DuckDB."""

    def setUp(self):
        self.out = self.enterContext(tempfile.TemporaryDirectory())
        self.con = duckdb.connect()
        self.addCleanup(self.con.close)

    def check(self, engine_sql, oracle_sql):
        os.makedirs(f"{self.out}/q", exist_ok=True)
        self.con.execute(f"COPY ({engine_sql}) TO '{self.out}/q/part-0.parquet'")
        return check_oracle.compare(self.con, self.out, "q", oracle_sql)

    def test_match(self):
        rows = "SELECT * FROM (VALUES (1::BIGINT, 'a'), (2::BIGINT, 'b')) t(k, v)"
        self.assertEqual(self.check(rows, f"SELECT v, k FROM ({rows}) ORDER BY k DESC"),
                         (True, "(2 rows)"))

    def test_row_diff(self):
        ok, why = self.check("SELECT 1::BIGINT AS k, 0.5::DOUBLE AS x",
                             "SELECT 1::BIGINT AS k, 0.25::DOUBLE AS x")
        self.assertFalse(ok)
        self.assertIn("1 vs 1 rows; first diffs", why)

    def test_hugeint_sum_vs_bigint(self):
        engine = "SELECT 3::BIGINT AS s"
        ok, why = self.check(engine, "SELECT sum(x) AS s FROM range(3) r(x)")
        self.assertFalse(ok)
        self.assertIn("dtype mismatch", why)
        self.assertIn("HUGEINT", why)
        self.assertEqual(self.check(engine, "SELECT CAST(sum(x) AS BIGINT) AS s "
                                            "FROM range(3) r(x)"), (True, "(1 rows)"))

    def test_list_typed_column(self):
        ok, why = self.check("SELECT [1, 2] AS xs", "SELECT [1, 2] AS xs")
        self.assertFalse(ok)
        self.assertIn("list-typed columns ['xs']", why)


class RefuseTest(unittest.TestCase):
    def manifests(self, data, outputs):
        dirs = [self.enterContext(tempfile.TemporaryDirectory()) for _ in range(2)]
        for d, m in zip(dirs, (data, outputs)):
            if m is not None:
                with open(f"{d}/MANIFEST.json", "w") as fh:
                    json.dump(m, fh)
        return dirs

    def test_refusals(self):
        good = {"checks_ok": True, "tables": {"orders": {"rows": 10, "hash": "7"}}}
        self.assertEqual(scale.refuse_stale(*self.manifests(good, good)), good)
        tampered = {"checks_ok": True, "tables": {"orders": {"rows": 10, "hash": "8"}}}
        failed = {"checks_ok": False, "failed_checks": ["doc_id unique"]}
        for data, outputs in [(good, tampered), (failed, failed), (good, None)]:
            with self.assertRaises(SystemExit):
                scale.refuse_stale(*self.manifests(data, outputs))


if __name__ == "__main__":
    unittest.main()
