"""Parameterized table-function tests (reference functions/ surface)."""

import pytest

from etl_schema_spark import functions as tf

from .conftest import assert_matches_oracle


@pytest.mark.parametrize("direction", ["download", "upload", None])
@pytest.mark.parametrize("fleet", ["best", "2021", "complete"])
def test_pdf_all_instantiations(spark, sf_dir, duck, direction, fleet):
    assert_matches_oracle(
        tf.metric_pdf(spark, sf_dir, direction, fleet),
        duck,
        tf.metric_pdf_oracle(direction, fleet),
    )


@pytest.mark.parametrize("direction", ["download", "upload", None])
@pytest.mark.parametrize("fleet", ["best", "2021", "complete"])
def test_geomean_all_instantiations(spark, sf_dir, duck, direction, fleet):
    assert_matches_oracle(
        tf.metric_geomean(spark, sf_dir, direction, fleet),
        duck,
        tf.metric_geomean_oracle(direction, fleet),
    )


@pytest.mark.parametrize("direction", ["download", "upload", None])
def test_pdf_is_normalized(spark, sf_dir, direction):
    out = (
        tf.metric_pdf(spark, sf_dir, direction)
        .groupBy("event_type")
        .agg({"pdf": "sum", "cdf": "max"})
        .collect()
    )
    assert out
    for r in out:
        assert abs(r["sum(pdf)"] - 1.0) < 1e-3
        assert abs(r["max(cdf)"] - 1.0) < 1e-4


def test_bad_params_raise(spark, sf_dir):
    with pytest.raises(ValueError):
        tf.metric_pdf(spark, sf_dir, direction="sideways")
    with pytest.raises(ValueError):
        tf.metric_geomean(spark, sf_dir, fleet="agile")
