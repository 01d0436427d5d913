"""Result cache TTL/read-through semantics + the PulseEngine facade."""

from __future__ import annotations

import datetime as dt

from currency_market_pulse_spark.plans.cache import ResultCache


def test_ttl_expiry_and_readthrough():
    t = [0.0]
    cache = ResultCache(ttl_s=60.0, clock=lambda: t[0])
    calls = []

    def compute():
        calls.append(1)
        return ["result"]

    key = ResultCache.key(1, 2, "EUR", "GBP")
    assert key == "1-2-EUR-GBP"
    assert cache.get_or_compute(key, compute) == ["result"]
    assert cache.get_or_compute(key, compute) == ["result"]
    assert len(calls) == 1          # second call served from cache
    t[0] = 61.0
    assert cache.get_or_compute(key, compute) == ["result"]
    assert len(calls) == 2          # TTL expired -> recomputed


def test_lru_bound():
    cache = ResultCache(ttl_s=60.0, max_entries=2)
    cache.put("a", 1); cache.put("b", 2); cache.put("c", 3)
    assert cache.get("a") is None   # evicted
    assert cache.get("b") == 2 and cache.get("c") == 3


def test_engine_trends_cached(spark):
    from currency_market_pulse_spark.api import PulseEngine
    from currency_market_pulse_spark.sources.catalog import events_as_trades
    from tests.conftest import SF_DIR

    eng = PulseEngine(spark, events_as_trades(spark, SF_DIR))
    args = (dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 31), "PUR", "USD")
    r1 = eng.trends(*args)
    r2 = eng.trends(*args)
    assert r1 is r2                  # second call is the cached object
    assert eng.cache.hits == 1 and len(r1) > 0
    try:
        eng.trends(None, *args[1:])
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "date_from" in str(e)


def _app(app_id: str):
    """A stand-in session: the store reads only its applicationId."""
    from types import SimpleNamespace

    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def _persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_store_keys_by_application():
    """A new applicationId never sees another application's entries."""
    from currency_market_pulse_spark.plans.cache import SessionStore

    store = SessionStore()
    assert store.get(_app("a"), "/d", "n", lambda: 1) == 1
    assert store.get(_app("a"), "/d", "n", lambda: 99) == 1
    assert store.get(_app("b"), "/d", "n", lambda: 2) == 2


def test_store_concurrent_miss_builds_once():
    """Two callers that miss one (entry, name) together share ONE
    build; the second waits for it.  A failed build is retried by the
    next caller rather than cached."""
    import threading
    import time

    from currency_market_pulse_spark.plans.cache import SessionStore

    store, calls, second_in = SessionStore(), [], threading.Event()

    def build():
        calls.append(1)
        second_in.wait(5)
        time.sleep(0.2)          # the second caller is now waiting
        return object()

    got = []
    first = threading.Thread(
        target=lambda: got.append(store.get(_app("a"), "/d", "x", build)))
    first.start()
    while not calls:
        time.sleep(0.01)
    second_in.set()
    got.append(store.get(_app("a"), "/d", "x", build))
    first.join()
    assert len(calls) == 1 and got[0] is got[1]

    def fail():
        raise RuntimeError("boom")

    try:
        store.get(_app("a"), "/d", "y", fail)
        raise AssertionError("expected RuntimeError")
    except RuntimeError:
        pass
    assert store.get(_app("a"), "/d", "y", lambda: 3) == 3


def test_store_eviction_unpersists_dataframes(spark):
    """Evicting an sf_dir — explicitly or as the LRU entry past
    capacity — unpersists its DataFrames (a tuple's too) and drops its
    plain values."""
    from currency_market_pulse_spark.plans.cache import SessionStore

    store = SessionStore(capacity=2)

    def fill(sf_dir):
        df = store.get(spark, sf_dir, "df", lambda: spark.range(3).persist())
        tup = store.get(spark, sf_dir, "tup",
                        lambda: (1, spark.range(4).persist()))
        store.get(spark, sf_dir, "n", lambda: df.count())
        return df, tup[1]

    a = fill("/a")
    b = fill("/b")
    assert all(df.is_cached for df in a + b)
    store.evict(spark, "/b")
    assert not any(df.is_cached for df in b) and all(df.is_cached for df in a)
    fill("/c")
    fill("/d")                       # capacity 2: /a is the LRU entry
    assert not any(df.is_cached for df in a)
    assert store.get(spark, "/a", "n", lambda: "rebuilt") == "rebuilt"
    for sf_dir in ("/a", "/c", "/d"):
        store.evict(spark, sf_dir)


def test_ivf_index_concurrent_miss_trains_once(spark, monkeypatch):
    """Two queries that miss the trained IVF index together train it
    once and leave ONE persisted index relation."""
    import threading

    from currency_market_pulse_spark.plans import prepare
    from currency_market_pulse_spark.plans.cache import SESSION
    from tests.conftest import SF_DIR

    SESSION.evict(spark, SF_DIR)
    builds, build = [], prepare.BUILDS["ivf_index"]

    def counted(spark, sf_dir):
        builds.append(1)
        return build(spark, sf_dir)

    monkeypatch.setitem(prepare.BUILDS, "ivf_index", counted)
    before = _persisted_rdds(spark)
    got = [None, None]

    def run(i):
        got[i] = prepare.index(spark, SF_DIR, "ivf_index")

    threads = [threading.Thread(target=run, args=(i,)) for i in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(builds) == 1
    assert got[0] is got[1]
    assert _persisted_rdds(spark) - before == 1


def test_prepare_indexes_repeat_call_runs_no_job(spark):
    """Each build materializes what it persists, and the unpersisted
    small-corpus token relation is not counted at all: a cold prepare
    on sf0.001 runs exactly 29 jobs, overlapped or not, and a repeat
    call is a store hit that runs no Spark job."""
    from currency_market_pulse_spark.plans.cache import SESSION
    from currency_market_pulse_spark.plans.prepare import prepare_indexes
    from tests.conftest import SF_DIR

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    SESSION.evict(spark, SF_DIR)
    try:
        j0 = dag.numTotalJobs()
        first = prepare_indexes(spark, SF_DIR)
        j1 = dag.numTotalJobs()
        again = prepare_indexes(spark, SF_DIR)
        j2 = dag.numTotalJobs()
    finally:
        SESSION.evict(spark, SF_DIR)
    assert set(first) == set(again) == {
        "coarse_quantizer", "ivfpq_index", "token_relation",
        "jaccard_pairs", "minhash_bands", "simhash_sigs", "total"}
    assert j1 - j0 == 29
    assert j2 - j1 == 0


def _index_rows(spark, sf_dir) -> dict[str, list]:
    """Sorted rows of each structure prepare_indexes builds."""
    from currency_market_pulse_spark.plans.prepare import index

    return {name: sorted(map(tuple, df.collect())) for name, df in (
        ("jaccard_pairs", index(spark, sf_dir, "jaccard_pairs")),
        ("minhash_pairs", index(spark, sf_dir, "minhash_pairs")),
        ("simhash60_sigs", index(spark, sf_dir, "simhash60_sigs")),
        ("ivf_encoded", index(spark, sf_dir, "ivf_index")[2]))}


def test_prepare_indexes_equals_each_build_alone(spark):
    """The overlapped cold build yields the same rows as building each
    structure on its own, one after another, in a fresh store entry."""
    from currency_market_pulse_spark.plans.cache import SESSION
    from currency_market_pulse_spark.plans.prepare import prepare_indexes
    from tests.conftest import SF_DIR

    SESSION.evict(spark, SF_DIR)
    try:
        prepare_indexes(spark, SF_DIR)
        together = _index_rows(spark, SF_DIR)
        SESSION.evict(spark, SF_DIR)
        alone = _index_rows(spark, SF_DIR)
    finally:
        SESSION.evict(spark, SF_DIR)
    assert all(together.values())
    assert together == alone


def test_prepare_indexes_jobs_carry_caller_group(spark):
    """The builds run on worker threads, yet every job of a cold
    prepare belongs to the job group the caller set."""
    from currency_market_pulse_spark.plans.cache import SESSION
    from currency_market_pulse_spark.plans.prepare import prepare_indexes
    from tests.conftest import SF_DIR

    sc = spark.sparkContext
    dag = sc._jsc.sc().dagScheduler()
    SESSION.evict(spark, SF_DIR)
    sc.setJobGroup("prepare-group", "prepare-group")
    try:
        j0 = dag.numTotalJobs()
        prepare_indexes(spark, SF_DIR)
        j1 = dag.numTotalJobs()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        SESSION.evict(spark, SF_DIR)
    grouped = sc.statusTracker().getJobIdsForGroup("prepare-group")
    assert j1 - j0 > 0
    assert len(grouped) == j1 - j0


def test_prepare_indexes_failed_build_raises_and_retries(spark, monkeypatch):
    """A build that raises makes prepare_indexes raise once the other
    builds have finished; the next call rebuilds only what failed."""
    import pytest

    from currency_market_pulse_spark.plans import prepare
    from currency_market_pulse_spark.plans.cache import SESSION
    from tests.conftest import SF_DIR

    calls: list[str] = []
    fail_once = {"minhash_pairs"}

    def counted(name):
        build = prepare.BUILDS[name]

        def run(spark, sf_dir):
            calls.append(name)
            if name in fail_once:
                fail_once.discard(name)
                raise RuntimeError("boom")
            return build(spark, sf_dir)
        return run

    for name in ("ivf_index", "jaccard_pairs", "minhash_pairs",
                 "simhash60_n"):
        monkeypatch.setitem(prepare.BUILDS, name, counted(name))
    SESSION.evict(spark, SF_DIR)
    try:
        with pytest.raises(RuntimeError, match="boom"):
            prepare.prepare_indexes(spark, SF_DIR)
        assert sorted(calls) == ["ivf_index", "jaccard_pairs",
                                 "minhash_pairs", "simhash60_n"]
        calls.clear()
        times = prepare.prepare_indexes(spark, SF_DIR)
        assert calls == ["minhash_pairs"]
    finally:
        SESSION.evict(spark, SF_DIR)
    assert times["total"] > 0
