"""session.scoped_conf: a session-conf change is scoped to its block,
restored on exception, and serialised across threads."""

from __future__ import annotations

import threading

import pytest

from data_pipeline_foundations_spark.session import scoped_conf

KEY = "spark.sql.adaptive.enabled"


def test_scoped_conf_restores_after_raise(spark):
    before = spark.conf.get(KEY)
    with pytest.raises(RuntimeError, match="boom"):
        with scoped_conf(spark, KEY, "false"):
            assert spark.conf.get(KEY) == "false"
            raise RuntimeError("boom")
    assert spark.conf.get(KEY) == before


def test_scoped_conf_unsets_a_key_that_was_unset(spark):
    key = "spark.graft.test.scoped"
    with scoped_conf(spark, key, "1"):
        assert spark.conf.get(key) == "1"
    assert spark.conf.get(key, None) is None


def test_scoped_conf_second_thread_waits(spark):
    before = spark.conf.get(KEY)
    inside, release = threading.Event(), threading.Event()
    seen: list[str] = []

    def first():
        with scoped_conf(spark, KEY, "false"):
            inside.set()
            release.wait(30)

    def second():
        with scoped_conf(spark, KEY, "false"):
            seen.append("second")

    t1 = threading.Thread(target=first)
    t1.start()
    assert inside.wait(30)
    t2 = threading.Thread(target=second)
    t2.start()
    t2.join(0.5)
    assert t2.is_alive() and seen == []  # blocked while the first is inside
    release.set()
    t1.join(30), t2.join(30)
    assert seen == ["second"]
    assert spark.conf.get(KEY) == before
