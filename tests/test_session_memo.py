"""catalog.session_memo: the one rule for keying, hitting and
re-arming per-session state."""

from __future__ import annotations


def _counting_memo(result):
    """A fresh memoized ``f(spark, name, n=0)`` that returns
    ``result(name, n)`` and records every build in ``f.builds``."""
    from wd2duckdb_spark.catalog import session_memo

    builds = []

    @session_memo
    def f(spark, name, n=0):
        builds.append((name, n))
        return result(name, n)

    f.builds = builds
    return f


def test_none_result_is_a_hit(spark):
    f = _counting_memo(lambda name, n: None)
    assert f(spark, "a") is None
    assert f(spark, "a") is None
    assert f.builds == [("a", 0)]


def test_defaulted_and_explicit_argument_share_one_key(spark):
    from wd2duckdb_spark.catalog import session_key

    f = _counting_memo(lambda name, n: [name, n])
    first = f(spark, "a")
    assert f(spark, "a", 0) is first
    assert f(spark, "a", n=0) is first
    assert f.builds == [("a", 0)]
    assert set(f.cache) == {(session_key(spark), "a", 0)}
    f(spark, "a", 1)
    assert f.builds == [("a", 0), ("a", 1)]


def test_persisted_value_rearmed_after_clear_cache(spark):
    """A persisted frame (alone or in a tuple) whose blocks a
    clearCache() dropped is persisted again on the next hit; a lazy
    frame that was never persisted stays uncached."""
    from wd2duckdb_spark.catalog import clear_memos

    f = _counting_memo(
        lambda name, n: (spark.range(3).persist(), spark.range(4), n)
    )
    cached, lazy, _ = f(spark, "a")
    assert cached.storageLevel.useMemory
    spark.catalog.clearCache()
    assert not cached.storageLevel.useMemory
    again = f(spark, "a")
    assert again[0] is cached and f.builds == [("a", 0)]
    assert cached.storageLevel.useMemory  # re-armed
    assert not lazy.is_cached
    clear_memos()  # unpersists the memoized frame and drops the entry
    assert not f.cache
    assert not cached.storageLevel.useMemory
