"""The per-session plan cache (plans/session.cached_plan).

Cached values are lazy DataFrames, and a DataFrame holds its session, so
the fake sessions here get fake DataFrames that point back at them: the
cache must still let a dropped session be collected.
"""

import gc
import os
import weakref
from types import SimpleNamespace

import __spark_entry__ as entrymod
from hex2vec_spark.plans import session as ps
from hex2vec_spark.sources.synth import images_cache_path, images_table_cached

class _FakeDF:
    def __init__(self, session):
        self.sparkSession = session  # the back-reference a real DataFrame has


class _FakeSession:
    def __init__(self):
        self.sparkContext = SimpleNamespace(_jsc=object())
        self.read = SimpleNamespace(parquet=lambda path: _FakeDF(self))


def _counting(session):
    built = []

    def get(key):
        return ps.cached_plan(session, key, lambda: built.append(key) or f"plan{key}")

    return get, built


class TestPlanCache:
    def test_lru_cap_and_refresh(self):
        get, built = _counting(_FakeSession())
        for i in range(ps.PLAN_CACHE_CAP):
            assert get(i) == f"plan{i}"
        get(0)                         # refresh: 0 is now the newest
        get(ps.PLAN_CACHE_CAP)         # one over the cap evicts 1, not 0
        built.clear()
        assert get(0) == "plan0" and built == []
        assert get(1) == "plan1" and built == [1]

    def test_stopped_session_misses_and_drops_entries(self):
        s = _FakeSession()
        get, built = _counting(s)
        get("k")
        s.sparkContext._jsc = None     # stopped but still referenced
        assert get("k") == "plank" and built == ["k", "k"]
        s.sparkContext._jsc = object()
        get("k")                       # nothing kept from before the stop
        assert built == ["k", "k", "k"]

    def test_clear_empties_the_session(self):
        s = _FakeSession()
        get, built = _counting(s)
        other_get, other_built = _counting(_FakeSession())
        get("k")
        other_get("k")
        ps.clear(s)
        get("k")
        other_get("k")
        assert built == ["k", "k"] and other_built == ["k"]

    def test_scans_reused_until_clear(self, spark, tmp_path):
        spark.range(3).write.parquet(str(tmp_path / "t.parquet"))
        a = entrymod._load(spark, str(tmp_path), "t")
        assert entrymod._load(spark, str(tmp_path), "t") is a
        b = images_table_cached(spark, 20, base_dir=str(tmp_path))
        assert images_table_cached(spark, 20, base_dir=str(tmp_path)) is b
        assert b.count() == 20
        ps.clear(spark)
        assert entrymod._load(spark, str(tmp_path), "t") is not a
        assert images_table_cached(spark, 20, base_dir=str(tmp_path)) is not b

    def test_cached_scans_do_not_pin_their_session(self, tmp_path):
        s = _FakeSession()
        img_dir = images_cache_path(20, str(tmp_path))
        os.makedirs(img_dir)
        open(os.path.join(img_dir, "_SUCCESS"), "w").close()  # already written
        df = entrymod._load(s, str(tmp_path), "t")
        assert entrymod._load(s, str(tmp_path), "t") is df
        img = images_table_cached(s, 20, base_dir=str(tmp_path))
        assert images_table_cached(s, 20, base_dir=str(tmp_path)) is img
        ref = weakref.ref(s)
        del s, df, img
        gc.collect()
        assert ref() is None
