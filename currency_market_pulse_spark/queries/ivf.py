"""IVF-style ANN search: coarse quantizer -> probe one cell -> exact
rerank within the cell.  Completes the ANN family next to the
hyperplane-LSH variant (queries/similarity.py).

Cell representatives are the lowest-vec_id member per label (a medoid
proxy — deterministic and FP-exact across engines; at scale you'd run
k-means via pyspark.ml and store the centroid table).  Search:

1. score each query against the (tiny, broadcast) representative table
2. assign the query to its best cell (nprobe=1)
3. exact cosine top-k among that cell's members only

Cost per query drops from N to N/n_cells; recall depends on the
quantizer quality exactly as in production IVF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from currency_market_pulse_spark.functions.vectors import (
    ORACLE_EMB_CTE, cosine, dot, norm, oracle_cosine_sql,
)
from currency_market_pulse_spark.operators.kmeans import (
    COARSE_CELL_TARGET, KMEANS_ITER, KMEANS_K, TRAIN_ROWS,
)
from currency_market_pulse_spark.plans.prepare import index
from currency_market_pulse_spark.queries.registry import extra_query, query
from currency_market_pulse_spark.sources.catalog import load_table

_REPS_CTE = """
reps AS (
  SELECT label AS cell, embedding AS rep FROM (
    SELECT label, embedding,
           row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn
    FROM emb) t WHERE rn = 1)
"""

_ASSIGN = oracle_cosine_sql("q.embedding", "r.rep")
_RERANK = oracle_cosine_sql("q.embedding", "c.embedding")


def _cell_reps(emb) -> DataFrame:
    """(cell, rep) — the min-vec_id vector per label cell.

    r17 (guide §2.3 "shuffle keys, not payloads"): the old shape was a
    row_number window over the FULL embedding relation partitioned by
    label — every vector shuffled just to pick one row per cell.  Now:
    a partial-aggregating groupBy of (label, min vec_id) — 16 bytes a
    row across the exchange — then a broadcast join back to fetch the
    k winning rows.  Identical result (vec_id is unique, so min-id ==
    the window's _rn=1 row)."""
    rep_ids = emb.groupBy(F.col("label").alias("cell")).agg(
        F.min("vec_id").alias("_rid"))
    return (emb.join(F.broadcast(rep_ids),
                     emb["vec_id"] == rep_ids["_rid"])
            .select("cell", F.col("embedding").alias("rep")))


@query(
    "sim_ivf_topk",
    oracle=f"""
WITH {ORACLE_EMB_CTE}, {_REPS_CTE},
assigned AS (
  SELECT query_id, cell FROM (
    SELECT q.vec_id AS query_id, r.cell,
           row_number() OVER (PARTITION BY q.vec_id
                ORDER BY round({_ASSIGN}, 6) DESC, r.cell) AS rn
    FROM emb q CROSS JOIN reps r WHERE q.vec_id < 10) t
  WHERE rn = 1),
reranked AS (
  SELECT a.query_id, a.cell, c.vec_id AS neighbor_id,
         round({_RERANK}, 6) AS cos_sim
  FROM assigned a
  JOIN emb c ON c.label = a.cell
  JOIN emb q ON q.vec_id = a.query_id
  WHERE c.vec_id <> a.query_id)
SELECT query_id, cell, neighbor_id, cos_sim, rn FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM reranked) t
WHERE rn <= 3 ORDER BY query_id, rn
""",
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: nprobe=1 cell probe + exact in-cell rerank, top-3
    neighbors for queries vec_id < 10.

    r17: cell reps via min-id aggregate instead of a full-vector window
    shuffle (_cell_reps); per-pair cosines with norms hoisted to one
    column per side (bit-identical — same IEEE expression evaluated
    once per row instead of once per pair, NULL-when-zero guard
    preserved); terminal ORDER BY removed (presentation only)."""
    emb = load_table(spark, sf_dir, "embeddings")
    reps = _cell_reps(emb).withColumn("_rn2", norm(F.col("rep")))
    q = (emb.filter(F.col("vec_id") < 10)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("qvec"))
         .withColumn("_qn", norm(F.col("qvec"))))
    scored_cells = (
        q.crossJoin(F.broadcast(reps))
        .select("query_id", "qvec", "_qn", "cell",
                F.round(F.when((F.col("_qn") > 0) & (F.col("_rn2") > 0),
                               dot(F.col("qvec"), F.col("rep"))
                               / (F.col("_qn") * F.col("_rn2"))), 6)
                 .alias("rep_sim")))
    best = Window.partitionBy("query_id").orderBy(F.desc("rep_sim"), "cell")
    assigned = (scored_cells.withColumn("_rn", F.row_number().over(best))
                .filter(F.col("_rn") == 1)
                .select("query_id", "qvec", "_qn", "cell"))
    cand = (emb.select(F.col("vec_id").alias("neighbor_id"),
                       F.col("label").alias("cell"),
                       F.col("embedding").alias("cvec"))
            .withColumn("_cn", norm(F.col("cvec"))))
    reranked = (
        F.broadcast(assigned).join(cand, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "cell", "neighbor_id",
                F.round(F.when((F.col("_qn") > 0) & (F.col("_cn") > 0),
                               dot(F.col("qvec"), F.col("cvec"))
                               / (F.col("_qn") * F.col("_cn"))), 6)
                 .alias("cos_sim")))
    topk = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (reranked.withColumn("rn", F.row_number().over(topk))
            .filter(F.col("rn") <= 3))


_DIM = 64


def _coarse_k_sql(emb: str = "emb") -> str:
    return (f"(SELECT greatest({KMEANS_K}, CAST(ceil(count(*) / "
            f"{COARSE_CELL_TARGET}.0) AS BIGINT)) FROM {emb})")


def _shared_coarse(spark: SparkSession, sf_dir: str):
    """(centroids, assigned) of the session-shared trained index
    (plans/prepare.py ``ivf_index``); assigned = (vec_id, cell, dist),
    a projection of the persisted index relation."""
    centroids, _, encoded = index(spark, sf_dir, "ivf_index")
    return centroids, encoded.select("vec_id", "cell", "dist")


def _kmeans_ctes(k: int | str = KMEANS_K, n_iter: int = KMEANS_ITER,
                 dim: int = _DIM, emb: str = "emb", sfx: str = "",
                 train_rows: int = TRAIN_ROWS) -> str:
    """The Lloyd-iteration CTE chain (assumes the ``emb``-named CTE in
    scope): the ``train_rows`` hash-smallest rows as the training set
    (operators/kmeans.py train_sample), seeds = its first k rows,
    per-iteration (round-6 distance argmin -> round-6 per-dim means)
    over the training set, then the final assignment ``a{n_iter}``
    over all of ``emb``.  Rounding at every hand-off keeps both
    engines' fold-order noise below the comparison threshold, so the
    iterations stay bitwise-aligned.  Shared by the trainer histogram
    query, the trained-IVF search oracle, the SemDeDup oracle, and —
    via ``emb``/``sfx`` (source CTE name and a name suffix) — one
    chain per subspace in the product-quantization oracle."""
    dist = ("round(list_aggregate(list_transform(range(1, {n}), "
            "i -> (e.embedding[i] - c.centroid[i]) * "
            "(e.embedding[i] - c.centroid[i])), 'sum'), 6)"
            ).format(n=dim + 1)
    train = f"emb_train{sfx}"
    parts = [f"""
{train} AS MATERIALIZED (SELECT vec_id, embedding,
              md5('km|' || CAST(vec_id AS VARCHAR)) AS h
       FROM {emb} ORDER BY h, vec_id LIMIT {train_rows}),
s0{sfx} AS MATERIALIZED (SELECT * FROM {train} ORDER BY h, vec_id LIMIT {k}),
cent0{sfx} AS MATERIALIZED (SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cell,
                 embedding AS centroid
          FROM s0{sfx})"""]
    for i in range(n_iter + 1):
        src = emb if i == n_iter else train
        parts.append(f"""
a{i}{sfx} AS MATERIALIZED (SELECT vec_id, cell, dist FROM (
  SELECT vec_id, cell, dist,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY dist, cell) AS rn
  FROM (SELECT e.vec_id, c.cell, {dist} AS dist
        FROM {src} e CROSS JOIN cent{i}{sfx} c) d) t
 WHERE rn = 1)""")
        if i < n_iter:
            parts.append(f"""
cent{i + 1}{sfx} AS MATERIALIZED (
  SELECT cell, list(m ORDER BY pos) AS centroid FROM (
    SELECT a.cell, d.pos, round(avg(e.embedding[d.pos]), 6) AS m
    FROM a{i}{sfx} a JOIN {train} e USING (vec_id),
         (SELECT unnest(range(1, {dim + 1})) AS pos) d
    GROUP BY a.cell, d.pos) mm
  GROUP BY cell)""")
    return ",".join(parts)


def _kmeans_oracle(k: int | str | None = None,
                   n_iter: int = KMEANS_ITER,
                   dim: int = _DIM,
                   train_rows: int = TRAIN_ROWS) -> str:
    """Step-for-step DuckDB replay of operators/kmeans.py, final cell
    histogram."""
    k = _coarse_k_sql() if k is None else k

    ctes = _kmeans_ctes(k, n_iter, dim, train_rows=train_rows)
    return (f"WITH {ORACLE_EMB_CTE},{ctes}" + f"""
SELECT cell, count(*) AS n_vecs, round(avg(dist), 6) AS avg_dist
FROM a{n_iter} GROUP BY cell ORDER BY cell
""")


@extra_query("sim_kmeans_cells", oracle=_kmeans_oracle())
def sim_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (operators/kmeans.py): cell sizes and mean
    squared distance after 2 deterministic iterations from md5-ordered
    seeds — the coarse-quantizer trainer for the IVF index.  Training
    runs on the driver over a bounded sample (one TakeOrdered collect
    of at most TRAIN_ROWS hash-smallest vectors — the whole corpus at
    every gated scale); the assignment is one BLAS pass over the
    corpus."""
    _, assigned = _shared_coarse(spark, sf_dir)
    return (assigned.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.round(F.avg("dist"), 6).alias("avg_dist"))
            .orderBy("cell"))


def _silhouette_oracle(k: int | str | None = None,
                       n_iter: int = KMEANS_ITER,
                       dim: int = _DIM,
                       train_rows: int = TRAIN_ROWS) -> str:
    """Simplified-silhouette replay: the shared Lloyd chain to its
    final centroids/assignment, then per vector a = assigned (min)
    squared distance, b = min squared distance to any OTHER centroid,
    s = (b - a) / max(a, b) — aggregated per cell."""
    k = _coarse_k_sql() if k is None else k

    dist = ("round(list_aggregate(list_transform(range(1, {n}), "
            "i -> (e.embedding[i] - c.centroid[i]) * "
            "(e.embedding[i] - c.centroid[i])), 'sum'), 6)"
            ).format(n=dim + 1)
    ctes = _kmeans_ctes(k, n_iter, dim, train_rows=train_rows)
    return (f"WITH {ORACLE_EMB_CTE},{ctes}" + f"""
, alld AS (SELECT e.vec_id, c.cell, {dist} AS dist
           FROM emb e CROSS JOIN cent{n_iter} c),
bmin AS (SELECT d.vec_id, min(d.dist) AS b
         FROM alld d JOIN a{n_iter} a
           ON a.vec_id = d.vec_id AND d.cell <> a.cell
         GROUP BY d.vec_id),
s AS (SELECT a.cell,
             CASE WHEN greatest(a.dist, bmin.b) > 0
                  THEN round((bmin.b - a.dist)
                             / greatest(a.dist, bmin.b), 6)
                  ELSE 0.0 END AS sil
      FROM a{n_iter} a JOIN bmin USING (vec_id))
SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs,
       round(avg(sil), 6) AS mean_silhouette
FROM s GROUP BY cell ORDER BY cell
""")


@extra_query("sim_kmeans_silhouette", oracle=_silhouette_oracle())
def sim_kmeans_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality gate for the trained coarse quantizer:
    per-cell simplified silhouette (Vendramin et al. 2010 — centroid
    distances instead of all-pairs, the only silhouette computable at
    corpus scale: all-pairs silhouette is O(n^2), this is one
    broadcast join).  s = (b - a) / max(a, b) with a = squared
    distance to the assigned centroid, b = min squared distance to any
    other centroid; mean s per cell.  A re-tune of k / iterations that
    degrades cell cohesion now fails a differential gate instead of
    shipping silently — the clustering twin of sim_ann_recall.  The
    corpus never shuffles: distances come from the same broadcast
    centroid join the assignment uses."""
    from currency_market_pulse_spark.operators.kmeans import (
        assign_cells_blas,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    centroids, _ = _shared_coarse(spark, sf_dir)
    # ONE BLAS pass emits a (=own rounded distance) and b (=min rounded
    # distance to any other cell) together — no n x k relation ever
    # materializes (the previous crossJoin form was n*k interpreted
    # folds, the cost the adaptive k made untenable).
    ab = assign_cells_blas(emb, centroids, with_alt=True)
    sil = ab.select(
        "cell",
        F.when(F.greatest("dist", "alt_dist") > 0,
               F.round((F.col("alt_dist") - F.col("dist"))
                       / F.greatest("dist", "alt_dist"), 6))
        .otherwise(F.lit(0.0)).alias("sil"))
    return (sil.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.round(F.avg("sil"), 6).alias("mean_silhouette"))
            .orderBy("cell"))


def _kmeans_ivf_oracle(k: int | str | None = None,
                       n_iter: int = KMEANS_ITER,
                       dim: int = _DIM,
                       train_rows: int = TRAIN_ROWS) -> str:
    """Trained-IVF search replay: the Lloyd chain (shared CTEs) to its
    final centroids, nprobe=2 probe of the trained quantizer with the
    SAME rounded squared-distance math the trainer uses, then exact
    cosine rerank within the probed cells' members (membership from
    the final assignment)."""
    k = _coarse_k_sql() if k is None else k

    dist = ("round(list_aggregate(list_transform(range(1, {n}), "
            "i -> (e.embedding[i] - c.centroid[i]) * "
            "(e.embedding[i] - c.centroid[i])), 'sum'), 6)"
            ).format(n=dim + 1)
    cos = oracle_cosine_sql("q.embedding", "m2.embedding")
    return f"""
WITH {ORACLE_EMB_CTE},{_kmeans_ctes(k, n_iter, dim, train_rows=train_rows)},
probe AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                ORDER BY {dist}, c.cell) AS rn
    FROM (SELECT * FROM emb WHERE vec_id < 10) e
    CROSS JOIN cent{n_iter} c) t
  WHERE rn <= 2),
reranked AS (
  SELECT p.query_id, m.vec_id AS neighbor_id,
         round({cos}, 6) AS cos_sim
  FROM probe p
  JOIN a{n_iter} m ON m.cell = p.cell
  JOIN emb q ON q.vec_id = p.query_id
  JOIN emb m2 ON m2.vec_id = m.vec_id
  WHERE m.vec_id <> p.query_id)
SELECT query_id, neighbor_id, cos_sim, rn FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM reranked) t
WHERE rn <= 3 ORDER BY query_id, rn
"""


@extra_query("sim_ivf_kmeans_topk", oracle=_kmeans_ivf_oracle())
def sim_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search over the TRAINED quantizer — the trainer
    (sim_kmeans_cells) and the index joined into the production shape:
    k-means centroids broadcast for the nprobe=2 probe (same rounded
    squared-distance math as training, so probe and train are one
    metric), exact cosine rerank within the probed cells.  The
    medoid-rep variants (sim_ivf_topk / _probe2) are the
    training-free baseline; this is what an actual IVF deployment
    runs.  Oracle replays train -> probe -> rerank end to end."""
    from currency_market_pulse_spark.operators.kmeans import _sq_dist

    emb = load_table(spark, sf_dir, "embeddings")
    cents, assigned = _shared_coarse(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    scored = (q.crossJoin(F.broadcast(cents))
              .withColumn("dist", F.round(
                  _sq_dist(F.col("qvec"), F.col("centroid")), 6)))
    best = Window.partitionBy("query_id").orderBy("dist", "cell")
    probe = (scored.withColumn("_rn", F.row_number().over(best))
             .filter(F.col("_rn") <= 2)
             .select("query_id", "qvec", "cell"))
    members = (assigned.select(F.col("vec_id").alias("neighbor_id"), "cell")
               .join(emb.select(F.col("vec_id").alias("neighbor_id"),
                                F.col("embedding").alias("cvec")),
                     "neighbor_id"))
    reranked = (
        F.broadcast(probe).join(members, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id",
                F.round(cosine(F.col("qvec"), F.col("cvec")), 6)
                 .alias("cos_sim")))
    topk = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"),
                                                  "neighbor_id")
    return (reranked.withColumn("rn", F.row_number().over(topk))
            .filter(F.col("rn") <= 3)
            .orderBy("query_id", "rn"))


_PROBE2_ORACLE = f"""
WITH {ORACLE_EMB_CTE}, {_REPS_CTE},
assigned AS (
  SELECT query_id, cell FROM (
    SELECT q.vec_id AS query_id, r.cell,
           row_number() OVER (PARTITION BY q.vec_id
                ORDER BY round({_ASSIGN}, 6) DESC, r.cell) AS rn
    FROM emb q CROSS JOIN reps r WHERE q.vec_id < 10) t
  WHERE rn <= 2),
reranked AS (
  SELECT a.query_id, c.vec_id AS neighbor_id,
         round({_RERANK}, 6) AS cos_sim
  FROM assigned a
  JOIN emb c ON c.label = a.cell
  JOIN emb q ON q.vec_id = a.query_id
  WHERE c.vec_id <> a.query_id)
SELECT query_id, neighbor_id, cos_sim, rn FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM reranked) t
WHERE rn <= 3 ORDER BY query_id, rn
"""


def _recall_oracle() -> str:
    """One SQL replay of all four pipelines (exact top-3, IVF nprobe=1,
    IVF nprobe=2, hyperplane-LSH top-3) feeding a recall@3 aggregate —
    every input is deterministic, so the quality metric itself is
    oracle-EXACT.  Counts cast to BIGINT (DuckDB sum() -> HUGEINT
    trap, oracle.py:dtype_traps)."""
    from currency_market_pulse_spark.operators import similarity as S

    cos = oracle_cosine_sql("q.embedding", "c.embedding")
    planes = S.plane_weights()
    plane_sql = ", ".join(
        f"list_dot_product(embedding, {[float(x) for x in w]}) AS d{p}"
        for p, w in enumerate(planes))
    bucket = " + ".join(f"(CASE WHEN d{p} > 0 THEN {1 << p} ELSE 0 END)"
                        for p in range(len(planes)))
    return f"""
WITH {ORACLE_EMB_CTE}, {_REPS_CTE},
exact3 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY round({cos}, 6) DESC, c.vec_id) AS rn
    FROM emb q JOIN emb c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < 10) t WHERE rn <= 3),
assigned AS (
  SELECT query_id, cell, rn AS arn FROM (
    SELECT q.vec_id AS query_id, r.cell,
           row_number() OVER (PARTITION BY q.vec_id
                ORDER BY round({_ASSIGN}, 6) DESC, r.cell) AS rn
    FROM emb q CROSS JOIN reps r WHERE q.vec_id < 10) t
  WHERE rn <= 2),
ivf AS (
  SELECT a.arn, a.query_id, c.vec_id AS neighbor_id,
         round({_RERANK}, 6) AS cos_sim
  FROM assigned a
  JOIN emb c ON c.label = a.cell
  JOIN emb q ON q.vec_id = a.query_id
  WHERE c.vec_id <> a.query_id),
ivf1 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cos_sim DESC, neighbor_id) AS rn
    FROM ivf WHERE arn = 1) t WHERE rn <= 3),
ivf2 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cos_sim DESC, neighbor_id) AS rn
    FROM ivf) t WHERE rn <= 3),
nzb AS (SELECT * FROM emb
        WHERE list_dot_product(embedding, embedding) > 0),
dots AS (SELECT vec_id, embedding, {plane_sql} FROM nzb),
bkt AS (SELECT vec_id, embedding, CAST({bucket} AS INT) AS bucket FROM dots),
lsh3 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY round({cos}, 6) DESC NULLS LAST, c.vec_id) AS rn
    FROM bkt q JOIN bkt c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
    WHERE q.vec_id < 10) t WHERE rn <= 3),
meth AS (
  SELECT 'ivf_probe1' AS method, * FROM ivf1
  UNION ALL SELECT 'ivf_probe2', * FROM ivf2
  UNION ALL SELECT 'lsh_bucket', * FROM lsh3),
perq AS (
  SELECT m.method, m.query_id, count(*) AS h
  FROM meth m JOIN exact3 e
    ON e.query_id = m.query_id AND e.neighbor_id = m.neighbor_id
  GROUP BY 1, 2),
spine AS (
  SELECT method, query_id
  FROM (SELECT DISTINCT query_id FROM exact3)
  CROSS JOIN (VALUES ('ivf_probe1'), ('ivf_probe2'), ('lsh_bucket')) v(method))
SELECT s.method,
       CAST(sum(coalesce(p.h, 0)) AS BIGINT) AS n_hits,
       CAST(count(*) AS BIGINT) AS n_queries,
       round(sum(coalesce(p.h, 0)) / (count(*) * 3.0), 6) AS recall_at_3
FROM spine s LEFT JOIN perq p
  ON p.method = s.method AND p.query_id = s.query_id
GROUP BY s.method ORDER BY s.method
"""


@extra_query("sim_ann_recall", oracle=_recall_oracle())
def sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@3 of every ANN variant against the exact bruteforce
    top-3 — the quality/cost trade-off of the approximate index paths
    as a MEASURED, regression-gated number (VERDICT r3 item 8), not a
    one-off test assertion.  nprobe=2's recall dominates nprobe=1 by
    construction (its candidate set is a superset); the oracle proves
    the exact values of all three."""
    from currency_market_pulse_spark.operators import similarity as S
    from currency_market_pulse_spark.queries.similarity import (
        sim_ann_lsh_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    exact = (S.topk_bruteforce(emb, F.col("vec_id") < 10, k=3)
             .select("query_id", "neighbor_id"))
    methods = {
        "ivf_probe1": sim_ivf_topk(spark, sf_dir),
        "ivf_probe2": sim_ivf_topk_probe2(spark, sf_dir),
        "lsh_bucket": sim_ann_lsh_topk(spark, sf_dir),
    }
    meth = None
    for name, df in methods.items():
        part = df.select(F.lit(name).alias("method"),
                         "query_id", "neighbor_id")
        meth = part if meth is None else meth.unionAll(part)
    perq = (meth.join(exact, ["query_id", "neighbor_id"])
            .groupBy("method", "query_id").agg(F.count("*").alias("h")))
    spine = (exact.select("query_id").distinct()
             .select("query_id", F.explode(F.array(
                 *[F.lit(m) for m in methods])).alias("method")))
    return (spine.join(perq, ["method", "query_id"], "left")
            .groupBy("method")
            .agg(F.sum(F.coalesce("h", F.lit(0))).alias("n_hits"),
                 F.count(F.lit(1)).alias("n_queries"))
            .withColumn("recall_at_3", F.round(
                F.col("n_hits") / (F.col("n_queries") * 3.0), 6))
            .orderBy("method"))


def _semdedup_oracle(k: int | str | None = None,
                     n_iter: int = KMEANS_ITER,
                     dim: int = _DIM, threshold: float = 0.4,
                     train_rows: int = TRAIN_ROWS) -> str:
    """Replay of operators/semdedup.py: the shared Lloyd chain to its
    final assignment, in-cell pair join at the rounded-cosine
    threshold, lower-id prune rule, per-cell summary."""
    k = _coarse_k_sql() if k is None else k

    cos = oracle_cosine_sql("x.embedding", "y.embedding")
    return f"""
WITH {ORACLE_EMB_CTE},{_kmeans_ctes(k, n_iter, dim, train_rows=train_rows)},
mem AS (SELECT a.vec_id, a.cell, e.embedding
        FROM a{n_iter} a JOIN emb e USING (vec_id)),
pairs AS (
  SELECT x.cell, x.vec_id AS id_a, y.vec_id AS id_b
  FROM mem x JOIN mem y
    ON x.cell = y.cell AND x.vec_id < y.vec_id
  WHERE round({cos}, 6) >= {threshold}),
dropped AS (
  SELECT cell, count(DISTINCT id_b) AS n_dropped FROM pairs GROUP BY cell),
sizes AS (SELECT cell, count(*) AS n_vecs FROM a{n_iter} GROUP BY cell)
SELECT s.cell, CAST(s.n_vecs AS BIGINT) AS n_vecs,
       CAST(coalesce(d.n_dropped, 0) AS BIGINT) AS n_dropped,
       round(coalesce(d.n_dropped, 0) / CAST(s.n_vecs AS DOUBLE), 6)
         AS drop_frac
FROM sizes s LEFT JOIN dropped d USING (cell)
ORDER BY s.cell
"""


@extra_query("semdedup_cell_stats", oracle=_semdedup_oracle())
def semdedup_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/semdedup.py): k-means-partitioned semantic
    dedup — near-dup candidate generation confined to quantizer cells
    (~n^2/k pairs instead of n^2; the measured-quadratic exact
    all-pairs baseline is dedup_embedding_cosine).  Per-cell count of
    vectors that would be pruned under the lower-id-wins rule at
    cosine >= 0.4.  Oracle replays train -> pair -> prune end to
    end."""
    from currency_market_pulse_spark.operators.semdedup import (
        semdedup_cell_stats as stats,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    _, assigned = _shared_coarse(spark, sf_dir)
    return stats(emb, k=KMEANS_K, n_iter=KMEANS_ITER, threshold=0.4,
                 assigned=assigned)


def _cell_pairs_oracle(k: int | str | None = None,
                       n_iter: int = KMEANS_ITER,
                       dim: int = _DIM, threshold: float = 0.4,
                       train_rows: int = TRAIN_ROWS) -> str:
    """Replay of the cell-bounded near-dup pair generation: shared
    Lloyd chain -> in-cell pair join at the rounded-cosine threshold,
    pairs emitted (not just per-cell counts)."""
    k = _coarse_k_sql() if k is None else k

    cos = oracle_cosine_sql("x.embedding", "y.embedding")
    return f"""
WITH {ORACLE_EMB_CTE},{_kmeans_ctes(k, n_iter, dim, train_rows=train_rows)},
mem AS (SELECT a.vec_id, a.cell, e.embedding
        FROM a{n_iter} a JOIN emb e USING (vec_id))
SELECT x.cell AS cell, x.vec_id AS id_a, y.vec_id AS id_b,
       round({cos}, 6) AS cos_sim
FROM mem x JOIN mem y
  ON x.cell = y.cell AND x.vec_id < y.vec_id
WHERE round({cos}, 6) >= {threshold}
ORDER BY x.cell, id_a, id_b
"""


@query("dedup_embedding_cells", oracle=_cell_pairs_oracle())
def dedup_embedding_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-bounded embedding-cosine near-dup pairs (>= 0.4): the
    SemDeDup candidate stage (operators/semdedup.py, Abbas et al.
    2023) registered as THE production embedding-dedup slot.  The
    corpus is k-means-partitioned first and pairs are generated only
    WITHIN each cell — one shuffle on cell id; k is CORPUS-ADAPTIVE
    (coarse_k: max(8, ceil(n/250)), embedded in the oracle as a
    scalar-subquery LIMIT), so cells stay ~250 rows and pair work is
    ~n * 250 — LINEAR class, vs the measured-quadratic exact all-pairs
    kernel (library tier ``dedup_embedding_cosine``, kept as the
    recall oracle exactly as brute-force backs the ANN ladder).
    Scoring runs the per-cell BLAS matmul kernel (the kernel SemDeDup
    production runs per cluster); its Catalyst sequential-fold twin
    (operators/semdedup.py cell_pairs, consumed by the library-tier
    semdedup_cell_stats against the same Lloyd chain) cross-validates
    the kernels against one oracle family.  The quantizer itself is
    the session-shared trained coarse index (_shared_coarse).
    Oracle replays train -> in-cell pair join end to end."""
    from currency_market_pulse_spark.operators.semdedup import (
        cell_pairs_blas,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    _, assigned = _shared_coarse(spark, sf_dir)
    members = (assigned.select("vec_id", "cell")
               .join(emb.select("vec_id", "embedding"), "vec_id"))
    # r17: terminal ORDER BY removed (presentation only)
    return cell_pairs_blas(members, threshold=0.4)


def _pq_train_ctes(m: int = 4, sub_dim: int = 16, k: int = 8,
                   n_iter: int = 1, emb: str = "emb",
                   train_rows: int = TRAIN_ROWS) -> str:
    """CTE fragment for PQ TRAINING+ENCODING over the ``emb``-named
    relation (raw vectors, or residuals for IVF-PQ): per-subspace
    slices, m independent Lloyd chains (suffix _p{s}), the ``codes``
    relation."""
    subs = ",".join(
        f"sub{s} AS MATERIALIZED (SELECT vec_id, "
        f"list_transform(range({s * sub_dim + 1}, "
        f"{(s + 1) * sub_dim + 1}), i -> embedding[i]) AS embedding "
        f"FROM {emb})"
        for s in range(m))
    chains = ",".join(
        _kmeans_ctes(k, n_iter, sub_dim, emb=f"sub{s}", sfx=f"_p{s}",
                     train_rows=train_rows)
        for s in range(m))
    code_cols = ", ".join(f"x{s}.cell AS c{s}" for s in range(m))
    code_joins = " ".join(
        f"JOIN a{n_iter}_p{s} x{s} ON x{s}.vec_id = x0.vec_id"
        for s in range(1, m))
    return f"""{subs},{chains},
codes AS MATERIALIZED (SELECT x0.vec_id, {code_cols}
          FROM a{n_iter}_p0 x0 {code_joins})"""


def _pq_ctes(m: int = 4, sub_dim: int = 16, k: int = 8,
             n_iter: int = 1,
             train_rows: int = TRAIN_ROWS) -> str:
    """CTE fragment replaying operators/pq.py raw-vector search
    (assumes ``emb`` in scope; ends with the ``adc`` relation):
    training+encoding (_pq_train_ctes), per-query subspace distance
    tables, ADC lookup-sums.  Shared by the top-k query and the
    recall query."""
    qds = ",".join(f"""
qd{s} AS MATERIALIZED (
  SELECT q.vec_id AS query_id, c.cell,
         round(list_aggregate(list_transform(range(1, {sub_dim + 1}),
           i -> (q.embedding[i] - c.centroid[i]) *
                (q.embedding[i] - c.centroid[i])), 'sum'), 6) AS d
  FROM sub{s} q CROSS JOIN cent{n_iter}_p{s} c
  WHERE q.vec_id < 10)""" for s in range(m))
    dist_sum = " + ".join(f"d{s}.d" for s in range(m))
    adc_joins = " ".join(
        f"JOIN qd{s} d{s} ON d{s}.cell = x.c{s}"
        + ("" if s == 0 else f" AND d{s}.query_id = d0.query_id")
        for s in range(m))
    return f"""{_pq_train_ctes(m, sub_dim, k, n_iter, train_rows=train_rows)},
{qds},
adc AS MATERIALIZED (
  SELECT d0.query_id, x.vec_id AS neighbor_id,
         round({dist_sum}, 6) AS adc_dist
  FROM codes x {adc_joins}
  WHERE x.vec_id <> d0.query_id)"""


def _pq_oracle(m: int = 4, sub_dim: int = 16, k: int = 8,
               n_iter: int = 1,
               train_rows: int = TRAIN_ROWS) -> str:
    return f"""
WITH {ORACLE_EMB_CTE},{_pq_ctes(m, sub_dim, k, n_iter, train_rows)}
SELECT query_id, neighbor_id, adc_dist, rn FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY adc_dist, neighbor_id) AS rn
  FROM adc) t
WHERE rn <= 3 ORDER BY query_id, rn
"""


@extra_query("sim_pq_adc_topk", oracle=_pq_oracle())
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC search (operators/pq.py): 4 subspace
    codebooks compress each 64-dim vector to 4 cell ids; per query a
    k-entry distance table per subspace; approximate top-3 by
    table-lookup sums over the CODES relation only — the corpus's
    full-precision vectors are never read at search time.  The
    memory-compression leg of the ANN family (IVF prunes candidates,
    PQ shrinks them).  Oracle replays train -> encode -> table -> ADC
    end to end."""
    from currency_market_pulse_spark.operators.pq import pq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_adc_topk(emb, F.col("vec_id") < 10, k_neighbors=3)


#: Rerank-buffer sizes for the PQ recall curve (the PQ paper's R@T:
#: fraction of true neighbors retrieved within the top-T ADC
#: candidates — production PQ feeds this buffer to a full-precision
#: rerank stage).
PQ_RECALL_BUFFERS = (10, 25, 50, 100)


def _pq_recall_oracle(m: int = 4, sub_dim: int = 16, k: int = 8,
                      n_iter: int = 1, dim: int = _DIM,
                      train_rows: int = TRAIN_ROWS) -> str:
    """PQ quantization error as a measured curve: recall of the EXACT
    squared-L2 top-3 within the top-T ADC candidates, per buffer size
    T (same metric as ADC, so the gap is pure quantization, not a
    metric mismatch)."""
    l2 = ("round(list_aggregate(list_transform(range(1, {n}), "
          "i -> (q.embedding[i] - c.embedding[i]) * "
          "(q.embedding[i] - c.embedding[i])), 'sum'), 6)"
          ).format(n=dim + 1)
    bufs = ", ".join(f"({b})" for b in PQ_RECALL_BUFFERS)
    return f"""
WITH {ORACLE_EMB_CTE},{_pq_ctes(m, sub_dim, k, n_iter, train_rows)},
exact3 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY {l2}, c.vec_id) AS rn
    FROM emb q JOIN emb c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < 10) t WHERE rn <= 3),
pqr AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
           ORDER BY adc_dist, neighbor_id) AS rn
  FROM adc),
nq AS (SELECT count(DISTINCT query_id) AS n FROM exact3)
SELECT b.buffer,
       CAST(count(p.neighbor_id) AS BIGINT) AS n_hits,
       CAST(any_value(nq.n) AS BIGINT) AS n_queries,
       round(count(p.neighbor_id) / (any_value(nq.n) * 3.0), 6)
         AS recall_at_3
FROM (VALUES {bufs}) b(buffer)
CROSS JOIN nq
CROSS JOIN exact3 e
LEFT JOIN pqr p
  ON p.query_id = e.query_id AND p.neighbor_id = e.neighbor_id
 AND p.rn <= b.buffer
GROUP BY b.buffer ORDER BY b.buffer
"""


@extra_query("sim_pq_recall", oracle=_pq_recall_oracle())
def sim_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ recall curve: fraction of the exact squared-L2 top-3 found
    within the top-T ADC candidates, for each rerank-buffer size T —
    the compression/quality trade of the code-only index as
    regression-gated numbers (production PQ retrieves a T-sized
    buffer on codes, then reranks at full precision; T is the knob).
    Counterpart of sim_ann_recall, which gates the candidate-pruning
    paths."""
    from currency_market_pulse_spark.operators.kmeans import _sq_dist
    from currency_market_pulse_spark.operators.pq import pq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    pred = F.col("vec_id") < 10
    q = emb.filter(pred).select(F.col("vec_id").alias("query_id"),
                                F.col("embedding").alias("_qv"))
    cand = emb.select(F.col("vec_id").alias("neighbor_id"),
                      F.col("embedding").alias("_cv"))
    scored = (cand.crossJoin(F.broadcast(q))
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .withColumn("_d", F.round(
                  _sq_dist(F.col("_qv"), F.col("_cv")), 6)))
    w = Window.partitionBy("query_id").orderBy("_d", "neighbor_id")
    exact3 = (scored.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") <= 3)
              .select("query_id", "neighbor_id"))
    pqr = (pq_adc_topk(emb, pred, k_neighbors=max(PQ_RECALL_BUFFERS))
           .select("query_id", "neighbor_id", "rn"))
    bufs = spark.createDataFrame(
        [(b,) for b in PQ_RECALL_BUFFERS], "buffer int")
    nq = exact3.agg(F.countDistinct("query_id").alias("_nq"))
    joined = (exact3.crossJoin(F.broadcast(bufs))
              .join(pqr,
                    [exact3.query_id == pqr.query_id,
                     exact3.neighbor_id == pqr.neighbor_id,
                     pqr.rn <= F.col("buffer")],
                    "left"))
    return (joined.groupBy("buffer")
            .agg(F.count(pqr.rn).alias("n_hits"))
            .crossJoin(F.broadcast(nq))
            .select("buffer", "n_hits",
                    F.col("_nq").alias("n_queries"),
                    F.round(F.col("n_hits") / (F.col("_nq") * 3.0), 6)
                     .alias("recall_at_3"))
            .orderBy("buffer"))


def _ivfpq_oracle(ck: int | str | None = None,
                  coarse_iter: int = KMEANS_ITER,
                  nprobe: int = 2, m: int = 4, sub_dim: int = 16,
                  pk: int = 8, pq_iter: int = 1,
                  dim: int = _DIM,
                  train_rows: int = TRAIN_ROWS) -> str:
    """Replay of operators/pq.py ivfpq_topk end to end: coarse Lloyd
    chain (sfx _c), residual relation, PQ training on residuals
    (_pq_train_ctes over ``res``), nprobe coarse probe, per-probed-cell
    query residuals, per-subspace tables, ADC within probed cells."""
    ck = _coarse_k_sql() if ck is None else ck

    ci = coarse_iter
    cdist = ("round(list_aggregate(list_transform(range(1, {n}), "
             "i -> (e.embedding[i] - c.centroid[i]) * "
             "(e.embedding[i] - c.centroid[i])), 'sum'), 6)"
             ).format(n=dim + 1)
    code_cols = ", ".join(f"cd.c{s}" for s in range(m))
    qds = ",".join(f"""
qd{s} AS MATERIALIZED (
  SELECT r.query_id, r.cell, c.cell AS code,
         round(list_aggregate(list_transform(range(1, {sub_dim + 1}),
           i -> (r.embedding[{s * sub_dim} + i] - c.centroid[i]) *
                (r.embedding[{s * sub_dim} + i] - c.centroid[i])),
           'sum'), 6) AS d
  FROM qres r CROSS JOIN cent{pq_iter}_p{s} c)""" for s in range(m))
    dist_sum = " + ".join(f"q{s}.d" for s in range(m))
    adc_joins = " ".join(
        f"JOIN qd{s} q{s} ON q{s}.cell = x.cell AND q{s}.code = x.c{s}"
        + ("" if s == 0 else f" AND q{s}.query_id = q0.query_id")
        for s in range(m))
    return f"""
WITH {ORACLE_EMB_CTE},
{_kmeans_ctes(ck, ci, dim, emb="emb", sfx="_c",
               train_rows=train_rows)},
res AS MATERIALIZED (
  SELECT e.vec_id,
         list_transform(range(1, {dim + 1}),
                        i -> e.embedding[i] - c.centroid[i]) AS embedding
  FROM emb e JOIN a{ci}_c a USING (vec_id)
  JOIN cent{ci}_c c ON c.cell = a.cell),
{_pq_train_ctes(m, sub_dim, pk, pq_iter, emb="res",
                train_rows=train_rows)},
members AS MATERIALIZED (SELECT cd.vec_id, a.cell, {code_cols}
            FROM codes cd JOIN a{ci}_c a USING (vec_id)),
probe AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                ORDER BY {cdist}, c.cell) AS rn
    FROM (SELECT * FROM emb WHERE vec_id < 10) e
    CROSS JOIN cent{ci}_c c) t
  WHERE rn <= {nprobe}),
qres AS MATERIALIZED (
  SELECT p.query_id, p.cell,
         list_transform(range(1, {dim + 1}),
                        i -> q.embedding[i] - cc.centroid[i]) AS embedding
  FROM probe p JOIN emb q ON q.vec_id = p.query_id
  JOIN cent{ci}_c cc ON cc.cell = p.cell),
{qds},
adc AS MATERIALIZED (
  SELECT q0.query_id, x.vec_id AS neighbor_id,
         round({dist_sum}, 6) AS adc_dist
  FROM members x {adc_joins}
  WHERE x.vec_id <> q0.query_id)
SELECT query_id, neighbor_id, adc_dist, rn FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY adc_dist, neighbor_id) AS rn
  FROM adc) t
WHERE rn <= 3 ORDER BY query_id, rn
"""


@query("sim_ivfpq_topk", oracle=_ivfpq_oracle())
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (operators/pq.py ivfpq_topk): the production ANN
    composition — trained coarse quantizer prunes to nprobe=2 cells,
    residual PQ codes score via ADC within those cells only.  Per
    query: nprobe/coarse_k of the corpus, read as 4-int codes, never
    as vectors.  Oracle replays coarse train -> residual encode ->
    probe -> residual tables -> ADC end to end."""
    from currency_market_pulse_spark.operators.pq import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_topk(emb, F.col("vec_id") < 10, k_neighbors=3,
                      index=index(spark, sf_dir, "ivf_index"))


@extra_query("sim_ivf_topk_probe2", oracle=_PROBE2_ORACLE)
def sim_ivf_topk_probe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF (nprobe=2): rerank over the TWO nearest cells —
    the recall knob production IVF turns when nprobe=1 misses
    boundary-adjacent neighbors.  Cost doubles the probed fraction
    (2/n_cells of the corpus), still far below a full scan; recall is
    asserted >= the nprobe=1 variant's in tests."""
    emb = load_table(spark, sf_dir, "embeddings")
    rn = Window.partitionBy("label").orderBy("vec_id")
    reps = (emb.withColumn("_rn", F.row_number().over(rn))
            .filter(F.col("_rn") == 1)
            .select(F.col("label").alias("cell"),
                    F.col("embedding").alias("rep")))
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    scored_cells = (
        q.crossJoin(F.broadcast(reps))
        .select("query_id", "qvec", "cell",
                F.round(cosine(F.col("qvec"), F.col("rep")), 6)
                 .alias("rep_sim")))
    best = Window.partitionBy("query_id").orderBy(F.desc("rep_sim"), "cell")
    assigned = (scored_cells.withColumn("_rn", F.row_number().over(best))
                .filter(F.col("_rn") <= 2)
                .select("query_id", "qvec", "cell"))
    cand = emb.select(F.col("vec_id").alias("neighbor_id"),
                      F.col("label").alias("cell"),
                      F.col("embedding").alias("cvec"))
    reranked = (
        F.broadcast(assigned).join(cand, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id",
                F.round(cosine(F.col("qvec"), F.col("cvec")), 6)
                 .alias("cos_sim")))
    topk = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"),
                                                  "neighbor_id")
    return (reranked.withColumn("rn", F.row_number().over(topk))
            .filter(F.col("rn") <= 3)
            .orderBy("query_id", "rn"))


#: RRF constant (Cormack et al. 2009: k=60) and the fixed-point
#: quantum for per-(system, rank) contributions (integer sums =
#: fold-order-independent fused scores).
RRF_K = 60
RRF_FIX = 1_000_000


def _rrf_oracle() -> str:
    """Replay of the three ANN rankings (nprobe=1 / nprobe=2 /
    LSH-bucket — the sim_ann_recall CTE block with ranks KEPT) fused
    by reciprocal-rank: score = sum over systems of 1/(60 + rank),
    each contribution integer-fixed x1e6."""
    from currency_market_pulse_spark.operators import similarity as S

    cos = oracle_cosine_sql("q.embedding", "c.embedding")
    planes = S.plane_weights()
    plane_sql = ", ".join(
        f"list_dot_product(embedding, {[float(x) for x in w]}) AS d{p}"
        for p, w in enumerate(planes))
    bucket = " + ".join(f"(CASE WHEN d{p} > 0 THEN {1 << p} ELSE 0 END)"
                        for p in range(len(planes)))
    return f"""
WITH {ORACLE_EMB_CTE}, {_REPS_CTE},
assigned AS (
  SELECT query_id, cell, rn AS arn FROM (
    SELECT q.vec_id AS query_id, r.cell,
           row_number() OVER (PARTITION BY q.vec_id
                ORDER BY round({_ASSIGN}, 6) DESC, r.cell) AS rn
    FROM emb q CROSS JOIN reps r WHERE q.vec_id < 10) t
  WHERE rn <= 2),
ivf AS (
  SELECT a.arn, a.query_id, c.vec_id AS neighbor_id,
         round({_RERANK}, 6) AS cos_sim
  FROM assigned a
  JOIN emb c ON c.label = a.cell
  JOIN emb q ON q.vec_id = a.query_id
  WHERE c.vec_id <> a.query_id),
ivf1 AS (
  SELECT query_id, neighbor_id, rn FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cos_sim DESC, neighbor_id) AS rn
    FROM ivf WHERE arn = 1) t WHERE rn <= 3),
ivf2 AS (
  SELECT query_id, neighbor_id, rn FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cos_sim DESC, neighbor_id) AS rn
    FROM ivf) t WHERE rn <= 3),
nzb AS (SELECT * FROM emb
        WHERE list_dot_product(embedding, embedding) > 0),
dots AS (SELECT vec_id, embedding, {plane_sql} FROM nzb),
bkt AS (SELECT vec_id, embedding, CAST({bucket} AS INT) AS bucket FROM dots),
lsh3 AS (
  SELECT query_id, neighbor_id, rn FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY round({cos}, 6) DESC NULLS LAST, c.vec_id) AS rn
    FROM bkt q JOIN bkt c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
    WHERE q.vec_id < 10) t WHERE rn <= 3),
meth AS (
  SELECT query_id, neighbor_id, rn FROM ivf1
  UNION ALL SELECT query_id, neighbor_id, rn FROM ivf2
  UNION ALL SELECT query_id, neighbor_id, rn FROM lsh3),
fused AS (
  SELECT query_id, neighbor_id,
         CAST(sum(CAST(round({RRF_FIX}.0 / ({RRF_K} + rn), 0)
                       AS BIGINT)) AS BIGINT) AS sfix,
         CAST(count(*) AS BIGINT) AS n_systems
  FROM meth GROUP BY 1, 2)
SELECT query_id, neighbor_id,
       round(sfix / {RRF_FIX}.0, 6) AS rrf_score, n_systems, rn FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY sfix DESC, neighbor_id) AS rn
  FROM fused) x
WHERE rn <= 3 ORDER BY query_id, rn
"""


@extra_query("sim_rrf_fusion", oracle=_rrf_oracle())
def sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of the ANN ladder:
    the nprobe=1, nprobe=2 and LSH-bucket top-3 rankings fused by
    score = sum 1/(60 + rank) — the hybrid-retrieval combiner a
    production search stack runs over its lexical+vector legs, here
    demonstrated over three vector systems whose rankings are all
    oracle-deterministic.  Per-(system, rank) contributions are
    integer-fixed x1e6, so the fused ordering is exact cross-engine;
    cost is the three (already cell/bucket-bounded) rankings plus one
    tiny aggregate over <= 9 rows per query."""
    from currency_market_pulse_spark.queries.similarity import (
        sim_ann_lsh_topk,
    )

    systems = [sim_ivf_topk(spark, sf_dir),
               sim_ivf_topk_probe2(spark, sf_dir),
               sim_ann_lsh_topk(spark, sf_dir)]
    meth = None
    for df in systems:
        part = df.select("query_id", "neighbor_id", "rn")
        meth = part if meth is None else meth.unionAll(part)
    contrib = F.round(F.lit(float(RRF_FIX)) / (F.lit(RRF_K) + F.col("rn")),
                      0).cast("long")
    fused = (meth.groupBy("query_id", "neighbor_id")
             .agg(F.sum(contrib).alias("sfix"),
                  F.count(F.lit(1)).alias("n_systems")))
    w = Window.partitionBy("query_id").orderBy(F.desc("sfix"),
                                               "neighbor_id")
    return (fused.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("query_id", "neighbor_id",
                    F.round(F.col("sfix") / F.lit(float(RRF_FIX)), 6)
                    .alias("rrf_score"), "n_systems", "rn")
            .orderBy("query_id", "rn"))
