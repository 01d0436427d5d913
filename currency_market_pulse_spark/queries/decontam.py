"""Decontamination query over the ``documents`` fixture: the 90/5/5
hash split defines the held-out side; any train doc sharing a distinct
5-gram with a val/test doc is flagged with its overlap count.  The
oracle replays the identical split thresholds (bitwise float
literals), tokenization, shingling and join in DuckDB.  The query runs
the exact shingle join (operators/decontam.py ``contamination_pairs``),
the engine's one decontamination path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from currency_market_pulse_spark.operators import decontam as C
from currency_market_pulse_spark.operators import sampling as S
from currency_market_pulse_spark.queries.registry import query
from currency_market_pulse_spark.queries.sampling import (
    SPLIT_WEIGHTS, _frac_sql, _split_case_sql,
)
from currency_market_pulse_spark.sources.catalog import load_table

DECONTAM_NGRAM = 5


def _shingle_expr(n: int) -> str:
    gram = " || ' ' || ".join(f"t[i+{j}]" for j in range(n))
    return (f"unnest(list_distinct(list_transform("
            f"range(1, greatest(len(t) - {n - 1}, 0) + 1), i -> {gram})))")


_DECONTAM_ORACLE = f"""
WITH f AS (SELECT doc_id, text, {_frac_sql('split', 'doc_id')} AS frac
           FROM documents),
s AS (SELECT doc_id, text, {_split_case_sql()} AS split FROM f),
toks AS (SELECT doc_id, split,
         string_split_regex(lower(text), '\\s+') AS t FROM s),
sh AS (SELECT doc_id, split, {_shingle_expr(DECONTAM_NGRAM)} AS sh
       FROM toks)
SELECT tr.doc_id AS train_doc_id, ev.doc_id AS eval_doc_id,
       count(*) AS n_overlap
FROM sh tr JOIN sh ev
  ON tr.sh = ev.sh AND tr.split = 'train' AND ev.split <> 'train'
GROUP BY 1, 2
ORDER BY train_doc_id, eval_doc_id
"""


@query("documents_decontaminate_bloom", oracle=_DECONTAM_ORACLE)
def documents_decontaminate_bloom(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Train-vs-heldout contamination pairs: train docs sharing any
    distinct 5-gram with a val/test doc under the standard 90/5/5 hash
    split, from one hash join whose strategy the planner picks (it
    broadcasts the small eval side).

    The key keeps its ``_bloom`` suffix only because the benchmark's
    batch query mix names it; the Bloom prefilter it once ran is gone
    (it lost to this exact join at every measured scale), and the
    rename waits for a change to the benchmark."""
    docs = S.hash_split(load_table(spark, sf_dir, "documents"),
                        "doc_id", SPLIT_WEIGHTS)
    train = docs.filter(F.col("split") == "train")
    ev = docs.filter(F.col("split") != "train")
    return C.contamination_pairs(train, ev, n=DECONTAM_NGRAM,
                                 min_overlap=1)
