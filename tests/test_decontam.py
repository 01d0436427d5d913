"""Decontamination: n-gram overlap flags planted leaks, respects the
min_overlap threshold, and the anti-join drops exactly the flagged
train docs."""

from __future__ import annotations

from pyspark.sql import Row

from currency_market_pulse_spark.operators import decontam as C

_EVAL_PHRASE = "the quick brown fox jumps over the lazy dog tonight"


def _docs(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])


def test_planted_leak_is_flagged(spark):
    train = _docs(spark, [
        (1, "completely unrelated words about currency markets here"),
        (2, f"prefix copied {_EVAL_PHRASE} suffix appended"),
    ])
    ev = _docs(spark, [(100, _EVAL_PHRASE)])
    pairs = {(r.train_doc_id, r.eval_doc_id): r.n_overlap
             for r in C.contamination_pairs(train, ev, n=5).collect()}
    assert (2, 100) in pairs
    assert (1, 100) not in pairs
    # the copied 10-token phrase yields 6 distinct 5-grams
    assert pairs[(2, 100)] == 6


def test_min_overlap_threshold(spark):
    # doc 2 shares exactly one 5-gram window's worth: first 5 tokens
    train = _docs(spark, [
        (2, "the quick brown fox jumps elsewhere entirely different tail"),
    ])
    ev = _docs(spark, [(100, _EVAL_PHRASE)])
    assert C.contamination_pairs(train, ev, n=5, min_overlap=1).count() == 1
    assert C.contamination_pairs(train, ev, n=5, min_overlap=2).count() == 0


def test_short_docs_never_match(spark):
    train = _docs(spark, [(1, "the quick brown fox")])  # < n tokens
    ev = _docs(spark, [(100, _EVAL_PHRASE)])
    assert C.contamination_pairs(train, ev, n=5).count() == 0


def test_decontaminate_drops_only_flagged(spark):
    train = _docs(spark, [
        (1, "clean document with no overlap at all in any window"),
        (2, f"{_EVAL_PHRASE} plus some extra context"),
        (3, "another clean one still safely disjoint from benchmarks"),
    ])
    ev = _docs(spark, [(100, _EVAL_PHRASE)])
    kept = sorted(r.doc_id for r in C.decontaminate(train, ev, n=5).collect())
    assert kept == [1, 3]
    ids = {r.train_doc_id: (r.max_overlap, r.n_eval_docs)
           for r in C.contaminated_ids(train, ev, n=5).collect()}
    assert set(ids) == {2}


def test_join_strategy_is_left_to_the_planner(spark):
    """Neither join carries a forced broadcast: with auto-broadcast
    disabled, contamination_pairs and decontaminate plan no
    BroadcastHashJoin and still return the default conf's rows."""
    train = _docs(spark, [
        (1, "clean document with no overlap at all in any window"),
        (2, f"{_EVAL_PHRASE} plus some extra context"),
    ])
    ev = _docs(spark, [(100, _EVAL_PHRASE)])

    def run():
        dfs = (C.contamination_pairs(train, ev, n=5),
               C.decontaminate(train, ev, n=5))
        rows = [sorted(tuple(r) for r in df.collect()) for df in dfs]
        # read after the collect: the final adaptive plan
        plans = [df._jdf.queryExecution().executedPlan().toString()
                 for df in dfs]
        return rows[0], rows[1], plans

    default_pairs, default_kept, _ = run()
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        pairs, kept, plans = run()
    finally:
        spark.conf.set(key, old)
    assert all("BroadcastHashJoin" not in p for p in plans)
    assert (pairs, kept) == (default_pairs, default_kept)
    assert [p[:2] for p in pairs] == [(2, 100)]
