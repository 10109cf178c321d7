"""session.prepare() is the only writer of the engine's runtime confs and
runs once per session: a conf the caller sets afterwards must still be in
effect after keys run through io.load_table."""

from __future__ import annotations

from contextlib import contextmanager

import pytest

from kafkastreaming_spark.all import QUERIES
from kafkastreaming_spark.session import get_session, prepare
from tools.verify_local import CONF_AXES, axis_readback


@contextmanager
def _caller_confs(spark, confs: dict[str, str]):
    """Set ``confs`` the way a caller would; restore the old values after."""
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def _run_key(spark, sf_dir: str) -> None:
    QUERIES["agg_group"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()


def test_caller_confs_survive_load_table(spark, sf_dir):
    prepare(spark)
    confs = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "3",
    }
    with _caller_confs(spark, confs):
        _run_key(spark, sf_dir)
        prepare(spark)
        assert {k: spark.conf.get(k) for k in confs} == confs


@pytest.mark.parametrize("axis", sorted(CONF_AXES))
def test_conf_axis_reads_back_after_a_key(spark, sf_dir, axis):
    with _caller_confs(spark, CONF_AXES[axis]):
        _run_key(spark, sf_dir)
        assert axis_readback(spark, axis) == CONF_AXES[axis]


def test_get_session_shuffle_partitions_are_session_cores(spark):
    s = get_session("tests", master="local[8]")
    cores = s.sparkContext.defaultParallelism
    assert cores == 8
    assert s.conf.get("spark.sql.shuffle.partitions") == str(cores)
