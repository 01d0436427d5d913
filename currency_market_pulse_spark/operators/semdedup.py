"""SemDeDup: semantic deduplication of an embedded corpus by
cluster-then-prune (Abbas et al., "SemDeDup: Data-efficient learning
at web-scale through semantic deduplication", 2023).

The scale problem with embedding near-dup detection is candidate
generation: exact all-pairs cosine is O(n^2) (measured quadratic at
sf10 — SCALE.md).  SemDeDup's answer is to partition the corpus with
k-means FIRST and search for near-duplicates only WITHIN each cell:
with k cells the pair space drops to ~n^2/k, and k grows with the
corpus (production runs use k ~ sqrt(n) or larger), so per-cell work
stays bounded.  Semantically-close pairs land in the same cell with
high probability because the quantizer is trained on the same
geometry it prunes.

Pipeline (every stage an existing engine operator):

1. train: ``kmeans_fit`` (operators/kmeans.py) — deterministic Lloyd
   on a bounded driver-side sample, one BLAS assignment pass.
2. candidate pairs: self-join ON the cell id (shuffle key = cell),
   ``id_a < id_b`` dedup, sequential-fold cosine rounded to 6.
3. prune rule: DROP every vector that has an in-cell near-duplicate
   with a LOWER id ("keep the first, drop the rest") — pairwise and
   deterministic, so both engines agree without transitive closure.
   The connected-components variant of dedup grouping lives in
   operators/components.py; SemDeDup deliberately uses the cheaper
   local rule (one extra vector kept per chain edge at worst).

At 100 TB: the corpus shuffles ONCE on cell id; each cell's members
self-join locally.  Cell count is the knob that keeps cells
memory-sized — with the fixture's k=8 the per-cell join is a toy, at
scale k is chosen so n/k rows fit an executor (the same bound the
in-bucket LSH joins obey).  A pathological mega-cell would hit AQE's
skew-join split; the docstring contract is k scaled to corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from currency_market_pulse_spark.functions.vectors import dot, norm
from currency_market_pulse_spark.operators.kmeans import kmeans_fit

DEFAULT_THRESHOLD = 0.4


def cell_pairs(members: DataFrame, threshold: float = DEFAULT_THRESHOLD,
               id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """In-cell near-dup pairs from a (id, cell, vec) member relation:
    (cell, id_a, id_b, cos_sim) with round-6 cosine >= threshold,
    id_a < id_b.

    Each member's L2 norm is computed ONCE before the self-join, so
    the per-pair work is a single dot-product fold instead of the 3
    folds cosine() would redo per pair — same double arithmetic
    (d / (na * nb), norms via the identical sqrt-of-self-dot), so the
    round-6 result is bitwise unchanged; the pair join is the hot
    path (~n^2/k rows) and this cuts its HOF work 3x."""
    sided = members.select("cell", F.col(id_col), F.col(vec_col),
                           norm(F.col(vec_col)).alias("_n"))
    a = sided.select("cell", F.col(id_col).alias("id_a"),
                     F.col(vec_col).alias("_va"), F.col("_n").alias("_na"))
    b = sided.select("cell", F.col(id_col).alias("id_b"),
                     F.col(vec_col).alias("_vb"), F.col("_n").alias("_nb"))
    cos = F.when((F.col("_na") > 0) & (F.col("_nb") > 0),
                 dot(F.col("_va"), F.col("_vb"))
                 / (F.col("_na") * F.col("_nb")))
    return (a.join(b, "cell")
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("cos_sim", F.round(cos, 6))
            .filter(F.col("cos_sim") >= threshold)
            .select("cell", "id_a", "id_b", "cos_sim"))


def semdedup(emb: DataFrame, k: int = 8, n_iter: int = 2,
             threshold: float = DEFAULT_THRESHOLD,
             id_col: str = "vec_id",
             vec_col: str = "embedding",
             assigned: DataFrame | None = None
             ) -> tuple[DataFrame, DataFrame]:
    """Returns ``(assigned, pairs)``:

    - ``assigned``: (id, cell, dist) — the trained partition of the
      corpus (k-means, ``n_iter`` deterministic Lloyd iterations).
      Pass a precomputed ``assigned`` (e.g. a session-shared trained
      quantizer) to skip retraining.
    - ``pairs``: (cell, id_a, id_b, cos_sim) — in-cell near-duplicate
      pairs with cosine >= threshold (rounded to 6, id_a < id_b).
    """
    if assigned is None:
        _, assigned = kmeans_fit(emb, k, n_iter, id_col, vec_col)
    members = (assigned.select(id_col, "cell")
               .join(emb.select(id_col, vec_col), id_col))
    return assigned, cell_pairs(members, threshold, id_col, vec_col)


def semdedup_cell_stats(emb: DataFrame, k: int = 8, n_iter: int = 2,
                        threshold: float = DEFAULT_THRESHOLD,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        assigned: DataFrame | None = None) -> DataFrame:
    """Per-cell prune summary: (cell, n_vecs, n_dropped, drop_frac).
    ``n_dropped`` counts distinct vectors with an in-cell near-dup of
    lower id — the rows SemDeDup would delete from the corpus."""
    assigned, pairs = semdedup(emb, k, n_iter, threshold, id_col,
                               vec_col, assigned=assigned)
    sizes = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vecs"))
    dropped = (pairs.select("cell", "id_b").distinct()
               .groupBy("cell").agg(F.count(F.lit(1)).alias("n_dropped")))
    return (sizes.join(dropped, "cell", "left")
            .select("cell", "n_vecs",
                    F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"))
            .withColumn("drop_frac", F.round(
                F.col("n_dropped") / F.col("n_vecs").cast("double"), 6)))


def cell_pairs_blas(members: DataFrame,
                    threshold: float = DEFAULT_THRESHOLD,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """BLAS twin of ``cell_pairs``: one Arrow group per cell, all
    in-cell pairs scored with a single unit-normalized matmul
    (operators/dedup.py embedding_near_dup_pairs' kernel, whose
    round-6 parity with the sequential-fold oracle is already
    differentially proven) — the kernel SemDeDup actually runs per
    cluster (Abbas et al. 2023).  Task memory is one cell's members
    (~n/k rows x dim doubles): the same executor-sized-cell contract
    the relational join variant documents; k is the knob.

    Returns (cell, id_a, id_b, cos_sim), id_a < id_b, cos >=
    threshold.  Zero-norm vectors match nothing, as in cell_pairs."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("cell", T.IntegerType()),
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("cos_sim", T.DoubleType()),
    ])

    def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"cell": pd.Series(dtype="int32"),
                              "id_a": pd.Series(dtype="int64"),
                              "id_b": pd.Series(dtype="int64"),
                              "cos_sim": pd.Series(dtype="float64")})
        if len(pdf) < 2:
            return empty
        ids = pdf["_id"].to_numpy()
        mat = np.array(list(pdf["_vec"]), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0] = np.inf  # zero vectors match nothing
        unit = mat / norms
        sims = np.round(unit @ unit.T, 6)
        ai, aj = np.nonzero((sims >= threshold)
                            & (ids[:, None] < ids[None, :]))
        return pd.DataFrame({"cell": np.full(len(ai), key[0], "int32"),
                             "id_a": ids[ai], "id_b": ids[aj],
                             "cos_sim": sims[ai, aj]})

    m = members.select(F.col("cell").cast("int").alias("cell"),
                       F.col(id_col).alias("_id"),
                       F.col(vec_col).alias("_vec"))
    return m.groupBy("cell").applyInPandas(kernel, out_schema)
