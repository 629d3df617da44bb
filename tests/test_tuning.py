"""small_batch_tuning: the width decision is made on entry, and a conf
write that fails cannot leave the ownership flag set."""

import pytest

from hbase_indexer_spark.functions.tuning import _ACTIVE_ATTR, small_batch_tuning

PARTS = "spark.sql.shuffle.partitions"


def test_tuning_reads_session_width_on_enter(spark):
    """A block created while the session is narrow and entered after it
    widened must still tune: the width is read in ``__enter__``."""
    sess = spark.conf.get(PARTS)
    block = small_batch_tuning(spark, 1)
    spark.conf.set(PARTS, "16")
    try:
        with block:
            assert spark.conf.get(PARTS) == "4"
        assert spark.conf.get(PARTS) == "16"
    finally:
        spark.conf.set(PARTS, sess)


class _Conf:
    def __init__(self, fail_on: str | None):
        self.vals = {PARTS: "200", "spark.sql.adaptive.enabled": "true"}
        self.fail_on = fail_on

    def get(self, k, d=None):
        return self.vals.get(k, d)

    def set(self, k, v):
        if k == self.fail_on:
            raise RuntimeError(f"cannot set {k}")
        self.vals[k] = v


class _Context:
    pass


class _Spark:
    def __init__(self, fail_on=None):
        self.conf = _Conf(fail_on)
        self.sparkContext = _Context()


def test_tuning_failed_conf_set_releases_ownership():
    spark = _Spark(fail_on=PARTS)
    with pytest.raises(RuntimeError):
        with small_batch_tuning(spark, 1):
            pass  # pragma: no cover - entry fails
    assert not spark.sparkContext.__dict__.get(_ACTIVE_ATTR)
    # the AQE switch that did go through is restored
    assert spark.conf.vals["spark.sql.adaptive.enabled"] == "true"
    # and the next block on this context owns and tunes the width again
    spark.conf.fail_on = None
    with small_batch_tuning(spark, 1):
        assert spark.conf.vals[PARTS] == "4"
    assert spark.conf.vals[PARTS] == "200"
