"""Session contracts ``get_spark`` pins rather than inherits."""

import pytest

from dragnet_spark.session import get_spark


def test_get_spark_pins_ansi_overflow(spark):
    """ANSI mode is an explicit contract: a session that had it turned
    off gets it back from ``get_spark``, so a long SUM that overflows
    raises instead of silently wrapping."""
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        s = get_spark(app_name="dragnet_spark_tests", shuffle_partitions=8)
        assert s.conf.get("spark.sql.ansi.enabled") == "true"
        df = s.createDataFrame(
            [(9_200_000_000_000_000_000,), (9_200_000_000_000_000_000,)],
            "x long",
        )
        with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
            df.agg({"x": "sum"}).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "true")
