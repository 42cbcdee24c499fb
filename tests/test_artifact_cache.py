"""The package's one artifact cache (functions/exprmemo.py): a value is
built once per (Spark application, key), and a different application
never sees a value built under an earlier one."""

from __future__ import annotations

import pytest

from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions import (
    exprmemo,
)


def test_cached_builds_once_per_scope(monkeypatch):
    scope = [object()]
    monkeypatch.setattr(exprmemo, "_CACHE", {})
    monkeypatch.setattr(exprmemo, "_owner", exprmemo._owner)
    monkeypatch.setattr(exprmemo, "_scope", lambda: scope[0])
    builds = []

    def build():
        builds.append(1)
        return len(builds)

    assert exprmemo.cached(("test", "a"), build) == 1
    assert exprmemo.cached(("test", "a"), build) == 1
    assert len(builds) == 1
    # a second key builds its own value; the first stays cached
    assert exprmemo.cached(("test", "b"), build) == 2
    assert exprmemo.cached(("test", "a"), build) == 1
    # a new SparkContext (a stopped session replaced) empties the
    # cache: the next call builds again instead of returning a value
    # that belongs to the old application
    scope[0] = object()
    assert exprmemo.cached(("test", "a"), build) == 3
    assert exprmemo.cached(("test", "a"), build) == 3
    assert len(builds) == 3
    exprmemo.clear()
    assert exprmemo.cached(("test", "a"), build) == 4

    def build_raises():
        raise RuntimeError("boom")

    # a build that raises leaves nothing behind
    with pytest.raises(RuntimeError):
        exprmemo.cached(("test", "raises"), build_raises)
    assert ("test", "raises") not in exprmemo._CACHE
