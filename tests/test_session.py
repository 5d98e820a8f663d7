"""Session contract: settings the storage layer relies on are pinned."""

import pytest

from epstein_pipeline_spark.session import get_spark


def test_speculation_pinned_off(spark):
    # the v2 output committer lets every task attempt commit straight
    # into a snapshot, so a speculative duplicate would land twice
    assert spark.sparkContext.getConf().get("spark.speculation") == "false"


@pytest.mark.parametrize("value", ["true", "TRUE", " True "])
def test_get_spark_refuses_speculation(spark, value):
    with pytest.raises(ValueError, match="speculation"):
        get_spark("tests", cores=4, extra_conf={"spark.speculation": value})


def test_get_spark_accepts_speculation_off(spark):
    assert get_spark("tests", cores=4, extra_conf={"spark.speculation": "false"}) is spark
