"""Benchmark decontamination: flag training documents that share
word-n-gram shingles with a held-out / evaluation corpus — the step
that keeps eval data out of a training set (the train-on-test leak).

Semantics (the standard n-gram-overlap definition used by public LLM
data pipelines): a (train doc, eval doc) pair is contaminated when the
two share at least ``min_overlap`` DISTINCT word n-grams.  Higher ``n``
(5-13 in published pipelines) makes shingles specific enough that any
hit is near-certain leakage; ``min_overlap`` trades recall for noise.

Scale design: the screen is a thresholded set-overlap join on shared
shingles, planned as one hash join on ``sh`` with no forced strategy.
The eval side is usually small (benchmarks are thousands of docs, the
training corpus is billions), and the planner then broadcasts it under
``spark.sql.autoBroadcastJoinThreshold`` / AQE, so the big side never
shuffles; when the held-out side is itself corpus-scale the same plan
falls back to a shuffle join instead of pushing an unchecked relation
through the driver.  The per-shingle join blowup is bounded by the
eval-side document frequency, which at n >= 5 is tiny by construction.
The follow-up drop (left-anti join against the flagged ids) leaves its
strategy to the planner for the same reason.

Reference has no decontamination surface; §2.6 LLM-pipeline extension
tier.  Differential oracle: queries/decontam.py replays the identical
tokenize/shingle/join in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from currency_market_pulse_spark.operators.dedup import _doc_shingles


def contamination_pairs(train: DataFrame, eval_: DataFrame,
                        n: int = 5, min_overlap: int = 1,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """(train_doc_id, eval_doc_id, n_overlap) for every pair sharing
    >= ``min_overlap`` distinct word ``n``-grams.  ``_doc_shingles``
    already emits DISTINCT shingles per doc, so the join's group count
    IS the distinct-overlap count."""
    # pre-shingle repartition of the big side: compressed parquet is
    # 1-2 input splits at sf1+ while shingling is ~tokens x md5 work
    # per row (the repo-wide input-split starvation fix)
    par = train.sparkSession.sparkContext.defaultParallelism
    tr = (_doc_shingles(train.repartition(par), n, id_col, text_col)
          .select(F.col(id_col).alias("train_doc_id"), "sh"))
    ev = (_doc_shingles(eval_, n, id_col, text_col)
          .select(F.col(id_col).alias("eval_doc_id"), "sh"))
    return (
        tr.join(ev, "sh")
        .groupBy("train_doc_id", "eval_doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
    )


def contaminated_ids(train: DataFrame, eval_: DataFrame,
                     n: int = 5, min_overlap: int = 1,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Distinct train doc ids to drop, with their worst-case evidence
    (max overlap, number of eval docs hit) — feed to a left-anti join
    against the training corpus."""
    return (contamination_pairs(train, eval_, n, min_overlap,
                                id_col, text_col)
            .groupBy("train_doc_id")
            .agg(F.max("n_overlap").alias("max_overlap"),
                 F.count(F.lit(1)).alias("n_eval_docs")))


def decontaminate(train: DataFrame, eval_: DataFrame,
                  n: int = 5, min_overlap: int = 1,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """The training corpus minus contaminated docs (left-anti join on
    the flagged id relation; the planner broadcasts it when small)."""
    flagged = contaminated_ids(train, eval_, n, min_overlap,
                               id_col, text_col)
    return train.join(
        flagged.select(F.col("train_doc_id").alias(id_col)),
        id_col, "left_anti")
