"""Run: python3 perfbench/test_fingerprint.py. The same vectors are checked
on the Scala side in FingerprintSpec."""
import unittest
import decimal

from fingerprint import canon, fingerprint


class FingerprintTest(unittest.TestCase):
    def test_canonical_values(self):
        self.assertEqual(canon(None), "\\N")
        self.assertEqual(canon(3), "3")
        self.assertEqual(canon(1.5), "3ff8000000000000")
        self.assertEqual(canon(-0.0), canon(0.0))
        self.assertEqual(canon(decimal.Decimal("12.500")), "12.5")
        self.assertEqual(canon([1.0, "a"]), "[3ff0000000000000,a]")

    def test_matches_scala(self):
        self.assertEqual(fingerprint(["b", "a"], [(1, "x"), (2.5, None)]),
                         (2, "4cd13b9de117b438"))

    def test_order_independent(self):
        self.assertEqual(fingerprint(["x"], [(1,), (2,)]), fingerprint(["x"], [(2,), (1,)]))
        self.assertNotEqual(fingerprint(["x"], [(1,), (2,)]), fingerprint(["x"], [(1,), (1,)]))


if __name__ == "__main__":
    unittest.main()
