"""Unit tests for scalar expression helpers (SURVEY §2.8 G-series)."""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

from tomasz_weight_tracker_spark import functions as FN


class TestMd5Long:
    def test_matches_hashlib(self, spark):
        df = spark.createDataFrame([("hello",), ("",), ("日本語",)], "s string")
        got = [r.h for r in df.select(FN.md5_long("s").alias("h")).collect()]
        expected = [
            int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
            for s in ("hello", "", "日本語")
        ]
        assert got == expected

    def test_fits_signed_bigint(self):
        # 15 hex chars = 60 bits < 63.
        assert int("f" * 15, 16) < 2**63


class TestValuesClose:
    """np.isclose semantics standardized per SURVEY §7.4.1: the pandas
    and polars reference variants disagree; we adopt the pandas one."""

    def rows(self, spark, pairs):
        df = spark.createDataFrame(pairs, "a double, b double")
        return [r.c for r in df.select(FN.values_close(F.col("a"), F.col("b")).alias("c")).collect()]

    def test_both_null_equal(self, spark):
        assert self.rows(spark, [(None, None)]) == [True]

    def test_one_null_unequal(self, spark):
        assert self.rows(spark, [(1.0, None), (None, 1.0)]) == [False, False]

    def test_tolerance_edge(self, spark):
        import numpy as np

        cases = [(1.0, 1.0 + 9e-6), (1.0, 1.0 + 2e-5), (0.0, 1e-10), (0.0, 1e-8)]
        got = self.rows(spark, cases)
        expected = [bool(np.isclose(a, b, rtol=1e-5, atol=1e-9)) for a, b in cases]
        assert got == expected


class TestConflictTag:
    def test_base26_sequence(self):
        tags = [FN.conflict_tag(i) for i in range(29)]
        assert tags[0] == "!A!"
        assert tags[25] == "!Z!"
        assert tags[26] == "!AA!"
        assert tags[27] == "!AB!"
        assert len(set(FN.conflict_tag(i) for i in range(1000))) == 1000


class TestTokens:
    def test_empty_and_whitespace(self, spark):
        df = spark.createDataFrame([("",), ("   ",), ("a  b\tc",)], "s string")
        got = [r.t for r in df.select(FN.tokens("s").alias("t")).collect()]
        assert got == [[], [], ["a", "b", "c"]]


class TestCoercion:
    def test_try_double(self, spark):
        df = spark.createDataFrame([("1.5",), ("90.4",), ("x",), ("",)], "s string")
        got = [r.d for r in df.select(FN.try_double("s").alias("d")).collect()]
        assert got == [1.5, 90.4, None, None]

    def test_strip_units(self, spark):
        df = spark.createDataFrame([("90.4kg",), ("22%",), ("1680kcal",)], "s string")
        got = [r.v for r in df.select(FN.strip_units("s").alias("v")).collect()]
        assert got == ["90.4", "22", "1680"]


class TestSanitizeFilename:
    def test_strips_illegal(self):
        assert FN.sanitize_filename('a/b\\c:d*e?f"g<h>i|j') == "a_b_c_d_e_f_g_h_i_j"
