"""Unit tests for the column-level primitives (harmonic fold, vector
math, grounding keys) against hand-computed values and hypothesis
properties."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from platform_etl_literature_spark.functions import (
    array_cosine,
    array_norm,
    harmonic_sorted,
    harmonic_value,
    max_harmonic,
)
from platform_etl_literature_spark.functions.text import (
    normalise_sentence,
    with_keys_column,
)


def _eval(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def test_harmonic_value_positional(spark):
    # 4/1 + 2/4 + 8/9
    got = _eval(
        spark, harmonic_value(F.array(F.lit(4.0), F.lit(2.0), F.lit(8.0)))
    )
    assert got == pytest.approx(4.0 + 2.0 / 4 + 8.0 / 9)


def test_harmonic_sorted_desc(spark):
    # sorted desc: 8/1 + 4/4 + 2/9
    got = _eval(
        spark, harmonic_sorted(F.array(F.lit(4.0), F.lit(2.0), F.lit(8.0)))
    )
    assert got == pytest.approx(8.0 + 4.0 / 4 + 2.0 / 9)


def test_harmonic_empty_and_single(spark):
    assert _eval(spark, harmonic_value(F.array().cast("array<double>"))) == 0.0
    assert _eval(spark, harmonic_sorted(F.array(F.lit(3.5)))) == pytest.approx(3.5)


def test_max_harmonic(spark):
    got = _eval(spark, max_harmonic(F.lit(3)))
    assert got == pytest.approx(1 + 1 / 4 + 1 / 9)


def test_harmonic_sorted_permutation_invariant(spark):
    a = _eval(spark, harmonic_sorted(F.array(*[F.lit(x) for x in [1.0, 5.0, 3.0]])))
    b = _eval(spark, harmonic_sorted(F.array(*[F.lit(x) for x in [5.0, 3.0, 1.0]])))
    assert a == b


def test_array_norm_and_cosine(spark):
    v1 = F.array(F.lit(3.0), F.lit(4.0))
    v2 = F.array(F.lit(4.0), F.lit(3.0))
    zero = F.array(F.lit(0.0), F.lit(0.0))
    assert _eval(spark, array_norm(v1)) == pytest.approx(5.0)
    assert _eval(spark, array_cosine(v1, v1)) == pytest.approx(1.0)
    assert _eval(spark, array_cosine(v1, v2)) == pytest.approx(24.0 / 25.0)
    # zero-norm guard (Helpers.scala:82-92 semantics)
    assert _eval(spark, array_cosine(v1, zero)) == 0.0


def test_cosine_orthogonal(spark):
    v1 = F.array(F.lit(1.0), F.lit(0.0))
    v2 = F.array(F.lit(0.0), F.lit(1.0))
    assert _eval(spark, array_cosine(v1, v2)) == pytest.approx(0.0)


def test_harmonic_monotone_in_extra_terms(spark):
    # adding a positive term can only increase the harmonic sum
    base = _eval(spark, harmonic_sorted(F.array(F.lit(2.0), F.lit(1.0))))
    more = _eval(
        spark, harmonic_sorted(F.array(F.lit(2.0), F.lit(1.0), F.lit(0.5)))
    )
    assert more > base


def test_math_identity_against_python():
    # spec check of the formula itself
    vals = [9.0, 7.0, 5.0, 1.0]
    expected = sum(v / (i + 1) ** 2 for i, v in enumerate(sorted(vals, reverse=True)))
    assert expected == pytest.approx(9.0 + 7.0 / 4 + 5.0 / 9 + 1.0 / 16)


def test_grounding_keys_case_punctuation_stopwords_stems(spark):
    # LT splits on - / too, drops the capitalised stopword "Aren't",
    # stems, and keys on the sorted distinct tokens; TT keeps token
    # order and only strips punctuation.  "cell-running" and "Running
    # Cells" share an LT key: the collision the stemmer creates.
    texts = ["Aren't BRCA-1/alpha: x,y;z", "Running Cells", "cell-running"]
    df = spark.createDataFrame(
        [(t, k) for t in texts for k in ("TT", "LT")], "text STRING, keyType STRING"
    )
    rows = with_keys_column(normalise_sentence(df, "text", "k"), "k", "key").collect()
    keys = {(r.text, r.keyType): r.key for r in rows}
    tokens = {r.text: (r.k_TT, r.k_LT) for r in rows}

    assert keys == {
        ("Aren't BRCA-1/alpha: x,y;z", "TT"): "arentbrca1alphaxyz",
        ("Aren't BRCA-1/alpha: x,y;z", "LT"): "1alphabrcaxyz",
        ("Running Cells", "TT"): "runningcells",
        ("Running Cells", "LT"): "cellrun",
        ("cell-running", "TT"): "cellrunning",
        ("cell-running", "LT"): "cellrun",
    }
    assert tokens["Aren't BRCA-1/alpha: x,y;z"] == (
        ["arent", "brca1alpha", "x", "y", "z"],
        ["brca", "1", "alpha", "x", "y", "z"],
    )
    assert tokens["Running Cells"][1] == ["run", "cell"]
