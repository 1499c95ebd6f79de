"""Session helpers: running work from pool threads against one session."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pytest

from featurestore_for_joycastle_java_spark.session import thread_target


def _property_in_thread(spark, key: str):
    def read(_):
        return spark.sparkContext.getLocalProperty(key)

    with ThreadPoolExecutor(1) as pool:
        return pool.submit(thread_target(spark, read), None).result()


def test_thread_target_carries_local_properties_when_pinned(spark):
    """The default (pinned-thread) mode: the wrapped target sees the local
    properties the caller had set when it was wrapped."""
    sc = spark.sparkContext
    sc.setLocalProperty("fs.test.prop", "from-caller")
    try:
        assert _property_in_thread(spark, "fs.test.prop") == "from-caller"
    finally:
        sc.setLocalProperty("fs.test.prop", None)


def test_thread_target_with_pinning_off(spark, monkeypatch):
    """With PYSPARK_PIN_THREAD=false the gateway is not a ClientServer and
    ``inheritable_thread_target(session)`` hands the session back
    unchanged: calling that result, as ``(session)(fn)`` does, raises. The
    helper runs ``fn`` as it is."""
    import py4j.clientserver
    from pyspark import inheritable_thread_target

    class NotTheGateway:
        pass

    monkeypatch.setattr(py4j.clientserver, "ClientServer", NotTheGateway)
    assert inheritable_thread_target(spark) is spark
    with pytest.raises(TypeError):
        inheritable_thread_target(spark)(len)

    def fn(x):
        return x + 1

    assert thread_target(spark, fn) is fn
    with ThreadPoolExecutor(2) as pool:
        assert list(pool.map(thread_target(spark, fn), range(3))) == [1, 2, 3]
