"""Data-quality expectations (#100): report counts and column profiles."""

import pytest
from pyspark.sql import functions as F

from aws_big_data_blog_dmscdc_walkthrough_spark.operators import expectations


def _df(spark):
    return spark.createDataFrame(
        [
            (1, 10.0, "F", 100),
            (2, -5.0, "F", 100),    # range violation
            (3, 7.0, "Z", 100),     # isin violation
            (4, 1.0, "F", 999),     # FK violation
            (4, 2.0, "F", 100),     # unique violation (with the row above)
            (None, 3.0, "F", 100),  # not_null violation
            (5, None, "F", None),   # null price/fk: NOT violations
        ],
        "id long, price double, status string, fk long",
    )


def _dim(spark):
    return spark.createDataFrame([(100,), (101,)], "ck long")


RULES = dict(
    not_null=["id"],
    ranges={"price": (0, None)},
    isin={"status": ["F", "O"]},
    unique=[["id"]],
    references={"fk": ("DIM", "ck")},
)


def _rules(spark):
    r = dict(RULES)
    r["references"] = {"fk": (_dim(spark), "ck")}
    return r


def test_expectations_report_counts(spark):
    rep = {
        r.rule: (r.n_violations, r.n_rows)
        for r in expectations.expectations_report(_df(spark), **_rules(spark)).collect()
    }
    assert rep == {
        "not_null:id": (1, 7),
        "range:price": (1, 7),
        "isin:status": (1, 7),
        "unique:id": (2, 7),       # BOTH rows of the duplicated key
        "references:fk": (1, 7),
    }


def test_profile_columns_counts(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None), (None, "b")],
        "id long, s string",
    )
    prof = {r.col_name: r for r in expectations.profile_columns(df).collect()}
    assert prof["id"].n_rows == 4
    assert prof["id"].n_nulls == 1 and prof["id"].n_distinct == 3
    assert prof["s"].n_nulls == 1 and prof["s"].n_distinct == 2
    sub = expectations.profile_columns(df, ["s"]).collect()
    assert len(sub) == 1 and sub[0].col_name == "s"


@pytest.mark.slow
def test_profile_columns_wide_table_batches(spark):
    """A 200-column table profiles in one call: the internal batching
    caps each pass's expand factor, and the unioned output matches a
    per-column recount exactly."""
    from pyspark.sql import functions as F

    n_cols = 200
    df = spark.range(50).select(
        *[
            F.when(F.col("id") % (i % 7 + 2) != 0, F.col("id") % (i + 1))
            .alias(f"c{i}")
            for i in range(n_cols)
        ]
    )
    prof = {r.col_name: r for r in expectations.profile_columns(df).collect()}
    assert len(prof) == n_cols
    for i in (0, 15, 16, 99, 199):  # batch boundaries + ends
        c = f"c{i}"
        want_nulls = df.where(F.col(c).isNull()).count()
        want_distinct = df.select(c).where(F.col(c).isNotNull()).distinct().count()
        assert prof[c].n_rows == 50
        assert prof[c].n_nulls == want_nulls, c
        assert prof[c].n_distinct == want_distinct, c
