"""Physical-plan audit: assert the scale-critical plan properties the
engine's docstrings claim.

Checks per query (where applicable):
- predicate pushdown reached the parquet scan (PushedFilters)
- column pruning (ReadSchema column count vs table width)
- dimension joins are broadcast, fact-fact joins are not
- top-k compiles to TakeOrderedAndProject (no global sort)
- whole-stage codegen spans of the final adaptive plan (reported, not
  asserted: the count of WholeStageCodegen stages after one ``noop``
  write of the query)

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

import __spark_entry__ as entrymod
from currency_market_pulse_spark.session import get_spark

#: query -> list of (description, regex that must match the plan)
EXPECTATIONS = {
    "events_filter_project": [
        ("filters pushed to scan",
         r"PushedFilters: \[.*(In\(event_type|GreaterThan\(value).*\]"),
        ("schema pruned (no props col)", r"ReadSchema: (?!.*props)"),
    ],
    "trends_10min": [
        # currency_from is DERIVED from event_type in the events-proxy
        # view, so parquet pushdown is impossible by construction; the
        # requirement is that the filter still runs scan-adjacent
        # (pre-shuffle).  On real trades storage (the write-once txn
        # sink's tree) the pair columns are physical and do push down.
        ("pair filter pre-shuffle", r"Filter.*PUR"),
        ("partial+final agg", r"HashAggregate.*\n(.|\n)*HashAggregate"),
    ],
    "q1_pricing_summary": [
        ("shipdate pushed", r"PushedFilters: \[.*LessThanOrEqual\(l_shipdate.*\]"),
        ("two-phase agg", r"partial_sum"),
    ],
    "q3_top_unshipped_revenue": [
        ("customer broadcast", r"BroadcastHashJoin"),
        ("top-k not full sort", r"TakeOrderedAndProject"),
        ("segment filter pushed", r"PushedFilters: \[.*EqualTo\(c_mktsegment,BUILDING\).*\]"),
    ],
    "region_customer_rollup": [
        ("dims broadcast", r"BroadcastHashJoin"),
        ("rollup via expand", r"Expand"),
    ],
    "customers_without_orders": [
        ("anti join", r"BroadcastHashJoin LeftAnti|SortMergeJoin LeftAnti"),
    ],
    "top10_parts_by_price": [
        ("top-k", r"TakeOrderedAndProject"),
    ],
    "top3_orders_per_customer": [
        ("single shuffle for window", r"Exchange hashpartitioning\(o_custkey"),
        ("rank-limit pushdown", r"WindowGroupLimit"),
    ],
    "shipments_within_60d": [
        ("equi join on orderkey (band as filter, no cartesian)",
         r"(SortMergeJoin|BroadcastHashJoin).*l_orderkey"),
    ],
    "asof_last_click_before_purchase": [
        ("no join at all (union+window)", r"^(?!.*Join)(.|\n)*$"),
        ("type filter pushed", r"PushedFilters: \[.*In\(event_type"),
    ],
    "dedup_exact": [
        ("partial agg before shuffle", r"partial_min|partial_count"),
    ],
    "sim_topk_bruteforce": [
        ("queries broadcast", r"BroadcastNestedLoopJoin|BroadcastHashJoin"),
    ],
    "dedup_embedding_cosine": [
        # round-2 de-collect: the BLAS kernel runs executor-side per
        # block-pair group; nothing is materialized on the driver
        ("kernel is grouped applyInPandas", r"FlatMapGroupsInPandas"),
        # round-3: block-pair replication is a broadcast join against
        # spark.range(B), not a B-element literal array (plan size O(1))
        ("block replication via broadcast range join",
         r"BroadcastNestedLoopJoin"),
    ],
    "dedup_ngram_jaccard": [
        ("df cap is a window count on the join key", r"Window \[count"),
    ],
    "dedup_minhash_lsh": [
        # the 12 min-hash aggregates combine map-side before the one
        # signature shuffle
        ("signature agg partially combined", r"partial_min"),
        # bands come from ONE explode of a struct array, not a per-band
        # union re-running the signature aggregation
        ("no per-band union", r"^(?!(.|\n)*Union)(.|\n)*$"),
    ],
    "dedup_simhash": [
        # one conditional-sum hash-aggregate over (doc, token) rows,
        # partially combined map-side (the tokens-x-bits explode
        # formulation lives only in the oracle)
        ("vote agg partially combined", r"partial_sum"),
        ("no bit explode (the only Generates are token explodes)",
         r"^(?!(.|\n)*explode\(sequence)(.|\n)*$"),
    ],
    "dedup_simhash_bucket16": [
        ("vote agg partially combined", r"partial_sum"),
        ("no bit explode (the only Generates are token explodes)",
         r"^(?!(.|\n)*explode\(sequence)(.|\n)*$"),
    ],
    "sim_topk_numpy": [
        # round-3 de-collect: cogrouped BLAS kernel, queries replicated
        # per block by a broadcast range join — no driver collect
        ("kernel is cogrouped applyInPandas", r"FlatMapCoGroupsInPandas"),
        ("query replication broadcast", r"BroadcastNestedLoopJoin"),
    ],
    "documents_stratified_sample": [
        ("deterministic filter fuses into the scan stage",
         r"Filter.*md5|Filter \(.*\n.*md5"),
    ],
    "documents_hash_split": [
        ("partial agg before the split-key shuffle", r"partial_count"),
    ],
    "events_per_user_cap": [
        ("single shuffle on the group key",
         r"Exchange hashpartitioning\(user_id"),
        ("rank-limit pushdown", r"WindowGroupLimit"),
    ],
    "documents_chunk_pack_stats": [
        ("window cumsum shuffles once on the shard key",
         r"Exchange hashpartitioning\(source"),
        ("no Python in the chunk path", r"^(?!(.|\n)*InPandas)(.|\n)*$"),
    ],
    "documents_greedy_pack_stats": [
        ("fold kernel is grouped applyInPandas", r"FlatMapGroupsInPandas"),
    ],
    "sim_kmeans_cells": [
        # assignment is the BLAS kernel (codebook in the task closure —
        # operators/kmeans.py encode_blas), not a crossJoin: one Arrow
        # stage, no n*k relation.  Lloyd iterations run on the driver
        # over the bounded training sample, so no update stage exists.
        ("centroid assignment is the Arrow BLAS kernel",
         r"MapInPandas"),
        ("no n*k centroid join anywhere",
         r"^(?!(.|\n)*BroadcastNestedLoopJoin)(.|\n)*$"),
    ],
    "dedup_containment": [
        ("df cap is a window count on the join key", r"Window \[count"),
    ],
    "orders_zorder_locality": [
        ("pure codegen bit math — no Python anywhere",
         r"^(?!(.|\n)*InPandas)(.|\n)*$"),
    ],
    "text_unigram_nll": [
        ("vocabulary aggregate partially combined", r"partial_count"),
    ],
    "semdedup_cell_stats": [
        ("centroid assignment is the Arrow BLAS kernel",
         r"MapInPandas"),
        ("cell stats partially aggregated", r"partial_count"),
    ],
    "sim_pq_adc_topk": [
        ("codebook / distance-table joins broadcast",
         r"BroadcastHashJoin"),
        # r6: TRAINING runs the BLAS assignment kernel; the SEARCH
        # side still reads only the 4-int code relation (assertion
        # below: the ADC distance is one projection summing the
        # per-query table lookups of the four code columns, i.e. the
        # corpus vectors never re-enter the plan after encoding —
        # operators/pq.py _adc_topk).
        ("ADC scoring is a code-relation projection",
         r"element_at\(_tab#\d+, c0#.*c1#.*c2#.*c3#"),
    ],
    "documents_token_budget": [
        # the ONE range shuffle runs inside the lazily checkpointed
        # relation (EXECUTION_NODES below), so this plan reads it as
        # Scan ExistingRDD
        ("per-partition offsets broadcast back", r"BroadcastExchange"),
    ],
    "text_bigram_nll": [
        ("bigram count aggregate partially combined", r"partial_count"),
    ],
    "documents_data_card": [
        ("one-scan card: aggregate partially combined", r"partial_count"),
    ],
    "dedup_incremental": [
        ("verify stage aggregate partially combined", r"partial_count"),
    ],
    "text_chunk_dedup": [
        # the first-owner relation is a hash AGGREGATE on md5(chunk)
        # joined back — not a row_number window, so a hot boilerplate
        # chunk costs one agg buffer, never a per-partition sort
        ("chunk owner is a partial-combined hash aggregate",
         r"partial_min"),
        ("no Python in the chunk path", r"^(?!(.|\n)*InPandas)(.|\n)*$"),
    ],
    "documents_dsir_weights": [
        # both histograms and the per-bucket log-ratio relation are
        # broadcast back onto the token stream — the corpus-sized side
        # never shuffles for the scoring join
        ("log-ratio table broadcast onto the token stream",
         r"BroadcastHashJoin"),
        ("histograms partially combined", r"partial_sum"),
    ],
}

#: query -> (description, max number of plan lines containing an
#: Exchange).  Regexes can assert presence; shuffle-COUNT claims
#: ("zero-shuffle", "one shuffle") need counting.  Counted on the
#: physical plan tree string (one node per line).
MAX_EXCHANGES = {
    # split/sample assignment is a pure projection/filter: the only
    # exchanges allowed are the output aggregate/sort of the query
    "documents_stratified_sample": ("scan-fused filter, zero shuffles", 0),
    "documents_hash_split": ("one agg + one sort exchange only", 2),
    "events_per_user_cap": ("one window shuffle only", 1),
    # chunk_pack: window and the (source, pack_id) agg share the
    # source-key partitioning (ClusteredDistribution subset rule), so
    # one hash exchange + the final sort
    "documents_chunk_pack_stats": ("window exchange reused by agg", 2),
    # z-key is a projection: one agg exchange + one output sort only
    "orders_zorder_locality": ("zero shuffles before the bucket agg", 2),
    # scan-fused explode: replication happens where the row lives
    "documents_mixture_upsample": ("zero-shuffle up-sampling", 0),
    # one hash shuffle on the shard key + the output sort
    "documents_train_shards": ("one shard shuffle + output sort", 2),
    # one hash shuffle on lang (window) + the output ordering
    "documents_budget_per_lang": ("one group shuffle only", 2),
}

#: query -> (description, plan node, exact number of plan lines naming
#: it).  Counted on the physical plan tree string, like MAX_EXCHANGES.
EXACT_NODES = {
    # the rolling-hash kernel runs once per document
    "text_substring_dedup": ("kernel crosses the Python boundary once",
                             "MapInPandas", 1),
}

#: query -> (description, regex on a plan node's description, exact
#: number of matching nodes) across EVERY SQL execution the query
#: starts: its construction plus one ``noop`` write, final adaptive
#: plans.  For shuffles that a lazily checkpointed intermediate
#: (materialize.py ``shared``) runs in an execution of its own, which
#: the consumer's plan only shows as ``Scan ExistingRDD``.
EXECUTION_NODES = {
    "documents_token_budget": ("prefix sum starts with ONE range shuffle",
                               r"^Exchange rangepartitioning", 1),
}

# round-5 wave: the new operators' declared scale shapes
EXPECTATIONS.update({
    "text_substring_dedup": [
        # owner stats are ONE window pass over the rolling fingerprint,
        # not a groupBy + join-back that re-runs the kernel per side
        ("owner stats are a window on the fingerprint",
         r"Window \[.*\], \[fp#"),
        ("no md5 window hash", r"^(?!(.|\n)*md5)(.|\n)*$"),
    ],
    "documents_alpha_sampling": [
        # per-stratum rates join back to the corpus as a broadcast —
        # the corpus side must not shuffle for the join
        ("rates broadcast to corpus", r"BroadcastHashJoin"),
        ("partial final lang agg", r"partial_count"),
    ],
    "sim_hard_negatives": [
        ("query set broadcast", r"BroadcastNestedLoopJoin"),
    ],
    "documents_ngram_diversity": [
        # countDistinct partials dedup n-grams map-side before the
        # lang shuffle
        ("two-phase distinct agg", r"partial_count\(distinct"),
    ],
    "documents_curriculum_buckets": [
        # the quartile thresholds are a single broadcast row
        ("thresholds broadcast", r"BroadcastNestedLoopJoin"),
        ("partial bucket agg", r"partial_count"),
    ],
    "dedup_cross_source": [
        # (chunk-hash, source) dedups map-side before the hash shuffle
        ("distinct partial agg", r"partial_"),
    ],
    "sim_knn_graph": [
        # the corpus-x-corpus candidate join is the BUCKET equi-join,
        # never a nested-loop / broadcast of the corpus
        ("bucket self-join is hash equi-join",
         r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin).*bucket"),
    ],
    "embedding_covariance": [
        # partial outer products reduce in a two-phase hash aggregate:
        # the shuffle carries d^2 rows per task, not per vector
        ("partial sum of outer products", r"partial_sum"),
        ("only the vector column read", r"ReadSchema: (?!.*vec_id)"),
    ],
    "sim_kmeans_silhouette": [
        # r6: ONE BLAS pass emits own- and min-other-distance; no n*k
        # relation, no crossJoin — the corpus is touched once.
        ("distances from the Arrow BLAS kernel", r"MapInPandas"),
        ("no n*k centroid join anywhere",
         r"^(?!(.|\n)*BroadcastNestedLoopJoin)(.|\n)*$"),
    ],
    "text_zipf_fit": [
        # top-R head via TakeOrdered, never a global vocabulary sort
        ("head is TakeOrdered", r"TakeOrderedAndProject"),
        ("two-phase vocab count", r"partial_count"),
    ],
    "sim_ann_multiprobe_topk": [
        # the exploded query-probe side broadcasts into the bucketed
        # candidate scan — the corpus never shuffles per query
        ("probe side broadcast", r"BroadcastHashJoin"),
    ],
    "text_cms_heavy_hitters": [
        # the ~2k-row sketch broadcasts into the distinct-token probe;
        # cell counts partial-aggregate map-side; top-20 is TakeOrdered
        ("sketch broadcast into probes", r"BroadcastHashJoin"),
        ("map-side partial cell counts", r"partial_count"),
        ("top-20 is TakeOrdered not sort", r"TakeOrderedAndProject"),
    ],
    "documents_decontaminate_bloom": [
        # one exact shingle join, strategy left to the planner: at
        # fixture scale the small eval side broadcasts, so the training
        # corpus never shuffles for the contamination join
        ("contamination join broadcasts the eval side",
         r"BroadcastHashJoin"),
        ("no Python in the plan",
         r"^(?!(.|\n)*(ArrowEvalPython|InPandas))(.|\n)*$"),
        ("no bitmap aggregate", r"^(?!(.|\n)*bit_or)(.|\n)*$"),
    ],
    "sim_sq_topk": [
        # the int8-code query side broadcasts over the codes scan; the
        # rerank's candidate list and query vectors broadcast too
        ("query codes broadcast", r"BroadcastNestedLoopJoin"),
        ("rerank joins broadcast", r"BroadcastHashJoin"),
    ],
})

#: checks that must run against the POST-EXECUTION adaptive plan
#: (AQE decides these at runtime).  All four dedup self-joins are
#: audited through FRESH_BUILDERS: the operator contract is that both
#: self-join sides share ONE exchange (the signature/shingle map side
#: computes once).  The registered queries instead serve from the
#: persisted shared-token cache, which AQE does not canonicalize
#: across (each side gets its own TableCacheQueryStage, so the
#: exchange materializes twice) — measured, the cross-QUERY cache
#: sharing beats the intra-query reuse at family level, but the
#: operator-level reuse property must keep holding for standalone
#: (100 TB, uncached) use.
RUNTIME_EXPECTATIONS = {
    # the df-cap window and both self-join sides shuffle on `sh`; AQE
    # must reuse that exchange rather than computing it twice
    "dedup_ngram_jaccard": [
        ("shingle exchange reused across self-join", r"ReusedExchange"),
    ],
    "dedup_minhash_lsh": [
        ("signature exchange reused across band self-join",
         r"ReusedExchange"),
    ],
    "dedup_simhash": [
        # banded variant: the (band, band_val) exploded relation is
        # shuffled once and both self-join sides read that exchange
        ("band exchange reused across self-join", r"ReusedExchange"),
    ],
    "dedup_simhash_bucket16": [
        ("vote-agg exchange reused across signature self-join",
         r"ReusedExchange"),
    ],
    "dedup_containment": [
        ("shingle exchange reused across self-join", r"ReusedExchange"),
    ],
}


def _fresh(op_name, **kw):
    # bypass the query layer's persisted token/pair caches: the audit
    # asserts properties of the underlying operator plan, which
    # InMemoryTableScan stages would hide (and whose presence disables
    # AQE exchange reuse — see RUNTIME_EXPECTATIONS note)
    def build(spark, sf_dir):
        from currency_market_pulse_spark.operators import dedup as D
        from currency_market_pulse_spark.sources.catalog import load_table
        return getattr(D, op_name)(
            load_table(spark, sf_dir, "documents"), **kw)
    return build


#: plan-builder overrides: audit the uncached operator plan where the
#: registered query serves from a persisted relation
def _fresh_simhash_banded(spark, sf_dir):
    from currency_market_pulse_spark.operators import dedup as D
    from currency_market_pulse_spark.sources.catalog import load_table
    sigs = D.simhash(load_table(spark, sf_dir, "documents"),
                     bits=D.SIMHASH64_BITS)
    return D.simhash_hamming_pairs(sigs, k=3, bits=D.SIMHASH64_BITS)


FRESH_BUILDERS = {
    "dedup_ngram_jaccard": _fresh("ngram_jaccard_pairs", n=3, threshold=0.5),
    "dedup_minhash_lsh": _fresh("minhash_lsh_candidates"),
    "dedup_simhash": _fresh_simhash_banded,
    "dedup_simhash_bucket16": _fresh("simhash_bucket_pairs"),
    "dedup_containment": _fresh("containment_pairs", n=3, threshold=0.5),
}


def _executions(spark) -> list:
    """The SQL UI's retained executions, once the listener has caught
    up with every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore() \
        .executionsList()
    return [execs.apply(i) for i in range(execs.size())]


def _last_execution_id(spark) -> int:
    return max((e.executionId() for e in _executions(spark)), default=-1)


def _plan_nodes_after(spark, last_id: int) -> list[tuple[str, str]]:
    """(name, description) of every node in the plan graphs of the SQL
    executions after ``last_id`` (AQE replaces each graph with its
    final plan)."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for e in _executions(spark):
        if e.executionId() > last_id:
            nodes = store.planGraph(e.executionId()).allNodes()
            out += [(nodes.apply(j).name(), nodes.apply(j).desc())
                    for j in range(nodes.size())]
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(shuffle_partitions=8)
    from currency_market_pulse_spark.queries.registry import EXTRA_QUERIES
    queries = dict(entrymod.queries())
    queries.update(EXTRA_QUERIES)  # library tier is plan-audited too
    queries.update(FRESH_BUILDERS)
    failures = 0
    for name, checks in EXPECTATIONS.items():
        import io
        from contextlib import redirect_stdout

        df = queries[name](spark, sf_dir)
        qe = df._jdf.queryExecution()
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")   # scans: PushedFilters / ReadSchema
        full = qe.executedPlan().toString() + "\n" + buf.getvalue()
        for desc, rx in checks:
            if re.search(rx, full):
                print(f"ok    {name}: {desc}")
            else:
                print(f"FAIL  {name}: {desc}  (pattern {rx!r} not found)")
                failures += 1
        # codegen spans exist only in the final adaptive plan: the
        # unexecuted AQE plan carries no '*(n)' markers
        last_id = _last_execution_id(spark)
        df.write.format("noop").mode("overwrite").save()
        wsc = sum(node.startswith("WholeStageCodegen")
                  for node, _ in _plan_nodes_after(spark, last_id))
        print(f"      {name}: WholeStageCodegen spans={wsc}")
    for name, (desc, max_n) in MAX_EXCHANGES.items():
        tree = queries[name](spark, sf_dir)._jdf.queryExecution() \
            .executedPlan().toString()
        n = sum("Exchange" in line for line in tree.splitlines())
        if n <= max_n:
            print(f"ok    {name}: {desc} ({n} <= {max_n})")
        else:
            print(f"FAIL  {name}: {desc}  ({n} exchanges > {max_n})")
            failures += 1
    for name, (desc, node, want) in EXACT_NODES.items():
        tree = queries[name](spark, sf_dir)._jdf.queryExecution() \
            .executedPlan().toString()
        n = sum(node in line for line in tree.splitlines())
        if n == want:
            print(f"ok    {name}: {desc} ({n} {node})")
        else:
            print(f"FAIL  {name}: {desc}  ({n} {node} != {want})")
            failures += 1
    for name, (desc, rx, want) in EXECUTION_NODES.items():
        last_id = _last_execution_id(spark)
        queries[name](spark, sf_dir).write.format("noop") \
            .mode("overwrite").save()
        n = sum(bool(re.search(rx, d))
                for _, d in _plan_nodes_after(spark, last_id))
        if n == want:
            print(f"ok    {name} [runtime]: {desc} ({n} {rx!r})")
        else:
            print(f"FAIL  {name} [runtime]: {desc}  ({n} {rx!r} != {want})")
            failures += 1
    # VERDICT r9 item 5: after the offline index phase has built the
    # simhash signatures, the registered query's SEARCH PATH must
    # trigger zero Spark jobs (the adaptive-band count happens at
    # build time, not per invocation).  Job-group bracketing makes the
    # assertion exact: any action inside the builder lands in the
    # group.
    from currency_market_pulse_spark.plans.prepare import index
    index(spark, sf_dir, "simhash60_n")          # offline build/warm
    sc = spark.sparkContext
    sc.setJobGroup("simhash_path_audit", "search path must be lazy")
    queries["dedup_simhash"](spark, sf_dir)      # build plan only
    sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup("simhash_path_audit")
    if not jobs:
        print("ok    dedup_simhash [runtime]: search path action-free "
              "after prepare (0 jobs)")
    else:
        print(f"FAIL  dedup_simhash [runtime]: search path ran "
              f"{len(jobs)} job(s) after prepare")
        failures += 1
    for name, checks in RUNTIME_EXPECTATIONS.items():
        df = queries[name](spark, sf_dir)
        df.collect()  # drive AQE to the final plan
        plan = df._jdf.queryExecution().executedPlan().toString()
        for desc, rx in checks:
            if re.search(rx, plan):
                print(f"ok    {name} [runtime]: {desc}")
            else:
                print(f"FAIL  {name} [runtime]: {desc}  (pattern {rx!r} not found)")
                failures += 1
    spark.stop()
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
