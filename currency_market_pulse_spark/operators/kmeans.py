"""Deterministic Lloyd's k-means over an embedding column — the
centroid trainer the IVF coarse quantizer docstring promises
(queries/ivf.py cites pyspark.ml KMeans for production; this is the
engine-portable variant that a DuckDB oracle can replay step for
step).

Determinism contract (what makes it differential-testable):

- training set: the ``TRAIN_ROWS`` vectors with the lexicographically
  smallest md5('km|' || id) — portable hash order, no RNG.
- seeds: the first k rows of the training set, i.e. the k
  hash-smallest vectors of the corpus.
- assignment: nearest centroid by squared Euclidean distance ROUNDED
  to 6 decimals before the argmin; ties break to the lowest cell id.
  Rounding absorbs the ~1e-15 fold-order noise between engines.
- update: per-cell per-dimension mean over the training set, rounded
  to 6 — so the NEXT iteration's inputs are bitwise identical on both
  engines no matter the summation order.  Cells that lose all members
  drop (deterministically, on both sides); surviving cells keep their
  ids.
- final assignment: every corpus vector against the trained
  centroids, same distance rule.

Scale design (the FAISS posture): training collects a BOUNDED sample
— ``orderBy(hash, id).limit(TRAIN_ROWS)`` plans as
TakeOrderedAndProject, so at most TRAIN_ROWS vectors (32 MiB of
float64 at dim 64) reach the driver — and runs every Lloyd iteration
there in numpy; per-iteration Spark jobs cost more in scheduling than
the arithmetic.  The corpus is then read ONCE by ``encode_blas``.  At
every gated scale (sf1 = 20,000 vectors) the sample IS the corpus."""

from __future__ import annotations

import sys

import numpy as np
from pyspark import cloudpickle
from pyspark.sql import DataFrame, Window, functions as F

from currency_market_pulse_spark.functions.text import seeded_md5

# The encode kernel calls ``nearest`` on the executors, whose Python
# workers need not have this package on their path (a driver may
# import it from any working directory): ship this module by value.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

KMEANS_SEED_TAG = "km"

#: rows the trainers collect (hash-smallest, see module docstring)
TRAIN_ROWS = 65_536


def _sq_dist(a, b):
    """Sequential double fold of sum((a_i - b_i)^2) — multiplication,
    not pow(), to match the oracle expression exactly."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                   * (x.cast("double") - y.cast("double"))),
        F.lit(0.0), lambda acc, v: acc + v)


def seed_centroids(emb: DataFrame, k: int,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """(cell, centroid): the k hash-smallest vectors, cell = rank in
    hash order."""
    seeds = (emb.select(F.col(id_col).alias("_id"),
                        F.col(vec_col).alias("centroid"),
                        seeded_md5(KMEANS_SEED_TAG,
                                   F.col(id_col).cast("string")).alias("_h"))
             .orderBy("_h", "_id").limit(k))
    # unpartitioned window over k rows only (post-limit) — safe; the
    # WindowExec warning is suppressed session-wide with justification
    # in session._silence_windowexec_warning
    w = Window.orderBy("_h", "_id")
    return (seeds.withColumn("cell", F.row_number().over(w) - 1)
            .select("cell",
                    F.transform("centroid",
                                lambda x: x.cast("double")).alias("centroid")))


def assign_cells(emb: DataFrame, centroids: DataFrame,
                 id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """(id, cell, dist): nearest centroid per vector (broadcast join;
    dist rounded to 6, ties to the lowest cell) — the Catalyst fold
    twin of ``assign_cells_blas``, kept as its differential reference
    (tests/test_kmeans.py).

    The argmin is a hash aggregate over lexicographic min(struct(dist,
    cell)); struct ordering = (dist asc, cell asc), exactly the
    oracle's tie rule."""
    scored = (emb.select(F.col(id_col), F.col(vec_col))
              .crossJoin(F.broadcast(centroids))
              .withColumn("dist", F.round(
                  _sq_dist(F.col(vec_col), F.col("centroid")), 6)))
    return (scored.groupBy(id_col)
            .agg(F.min(F.struct("dist", "cell")).alias("_m"))
            .select(id_col, F.col("_m.cell").alias("cell"),
                    F.col("_m.dist").alias("dist")))


def train_sample(emb: DataFrame, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> np.ndarray:
    """The ``TRAIN_ROWS`` hash-smallest vectors as a float64 matrix in
    hash order — one bounded collect (TakeOrderedAndProject)."""
    h = seeded_md5(KMEANS_SEED_TAG, F.col(id_col).cast("string"))
    rows = (emb.select(F.col(vec_col), F.col(id_col), h.alias("_h"))
            .orderBy("_h", id_col).limit(TRAIN_ROWS).select(vec_col)
            .collect())
    return np.array([r[0] for r in rows], dtype=np.float64)


def nearest(X: np.ndarray, C: np.ndarray):
    """(round-6 squared distances n x k, argmin row per vector): all
    distances in one |x|^2 + |c|^2 - 2XC^T matmul; numpy's argmin
    returns the first minimum, so with cells ascending it IS the
    tie-to-lowest-cell rule."""
    d = np.round(np.square(X).sum(1)[:, None]
                 + np.square(C).sum(1)[None, :] - 2.0 * (X @ C.T), 6)
    return d, d.argmin(1)


def lloyd(X: np.ndarray, k: int, n_iter: int):
    """(cell ids, centroids) after ``n_iter`` Lloyd iterations over the
    hash-ordered training matrix ``X`` (module docstring contract)."""
    cells, C = np.arange(min(k, len(X)), dtype=np.int32), X[:k]
    for _ in range(n_iter):
        _, rows = nearest(X, C)
        live, inv, counts = np.unique(rows, return_inverse=True,
                                      return_counts=True)
        sums = np.zeros((len(live), X.shape[1]))
        np.add.at(sums, inv, X)
        cells, C = cells[live], np.round(sums / counts[:, None], 6)
    return cells, C


KMEANS_K = 8
KMEANS_ITER = 2

#: Corpus-adaptive coarse-quantizer sizing (the SemDeDup contract:
#: k grows with the corpus so cells stay executor-sized and the
#: in-cell pair space stays ~n * CELL_TARGET instead of n^2/const —
#: LINEAR-class dedup work).  k = max(8, ceil(n / COARSE_CELL_TARGET))
#: — identical to the old fixed k=8 at the sf0.01 driver gate AND the
#: sf0.1 bench (500 and 2000 vectors both floor at 8), 80 cells at
#: sf1, 800 at sf10.  The Spark side computes it from one count at
#: index-build time; every coarse oracle embeds the SAME rule as a
#: scalar-subquery LIMIT so the differential holds at every SF.
COARSE_CELL_TARGET = 250


def coarse_k(n: int) -> int:
    import math

    return max(KMEANS_K, math.ceil(n / COARSE_CELL_TARGET))


def centroid_frame(spark, cells: np.ndarray, C: np.ndarray) -> DataFrame:
    """(cell, centroid) relation of a driver-side codebook.  From pandas
    so that, with Arrow on (session.py), it is a LocalRelation: a list
    would plan as a Python-deserialized RDD that every scan re-runs."""
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame({"cell": cells, "centroid": C.tolist()}),
        "cell int, centroid array<double>")


def codebook(centroids: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of ``centroid_frame``: (cell ids ascending, matrix)."""
    rows = sorted((r["cell"], list(r["centroid"]))
                  for r in centroids.select("cell", "centroid").collect())
    return (np.array([c for c, _ in rows], dtype=np.int32),
            np.array([v for _, v in rows], dtype=np.float64))


def encode_blas(emb: DataFrame, coarse=None, codebooks=(), sub_dim: int = 0,
                id_col: str = "vec_id", vec_col: str = "embedding",
                with_alt: bool = False) -> DataFrame:
    """The one corpus pass of an IVF / PQ / IVF-PQ index: per Arrow
    batch, (id[, cell, dist[, alt_dist]], c0..c{m-1}).

    - ``coarse``: (cell ids, centroids) — nearest cell and its round-6
      distance (``nearest``); ``with_alt`` adds ``alt_dist``, the min
      distance to any OTHER cell (the silhouette's ``b`` term).
    - ``codebooks``: m (code ids, codewords) pairs — code ``c{s}`` is
      the nearest codeword to slice s (``sub_dim`` wide) of the
      vector, or of its RESIDUAL against the coarse centroid when
      ``coarse`` is given (IVF-PQ).

    Codebooks ship in the TASK CLOSURE, not as a joined column: a
    crossJoin against a packed codebook row repeats the k*dim array
    PER ROW through Arrow (measured at sf10, k=800: ~400 KB x every
    corpus row) — once per task is the pyspark.ml posture."""
    import pandas as pd
    from pyspark.sql import types as T

    fields = [T.StructField("vec_id", T.LongType())]
    if coarse is not None:
        fields += [T.StructField("cell", T.IntegerType()),
                   T.StructField("dist", T.DoubleType())]
        if with_alt:
            fields.append(T.StructField("alt_dist", T.DoubleType()))
    fields += [T.StructField(f"c{s}", T.IntegerType())
               for s in range(len(codebooks))]
    src = emb.select(F.col(id_col).alias("_id"),
                     F.col(vec_col).alias("_vec"))

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(list(pdf["_vec"]), dtype=np.float64)
            out = {"vec_id": pdf["_id"].to_numpy()}
            if coarse is not None:
                # cells can DROP during Lloyd: ids map matrix row -> cell
                cell_ids, C = coarse
                d, rows = nearest(X, C)
                out["cell"] = cell_ids[rows]
                out["dist"] = d[np.arange(len(d)), rows]
                if with_alt:
                    d[np.arange(len(d)), rows] = np.inf
                    out["alt_dist"] = d.min(1)
                X = X - C[rows]
            for s, (code_ids, B) in enumerate(codebooks):
                _, rows = nearest(X[:, s * sub_dim:(s + 1) * sub_dim], B)
                out[f"c{s}"] = code_ids[rows]
            yield pd.DataFrame(out)

    out = src.mapInPandas(kernel, T.StructType(fields))
    if id_col != "vec_id":
        out = out.withColumnRenamed("vec_id", id_col)
    return out


def assign_cells_blas(emb: DataFrame, centroids: DataFrame,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      with_alt: bool = False) -> DataFrame:
    """BLAS twin of ``assign_cells`` against a stored (cell, centroid)
    relation: (id, cell, dist[, alt_dist]) via ``encode_blas``.  The
    matmul form is n*k*dim flops instead of n*k interpreted folds; the
    round-6 hand-off keeps it bitwise-aligned with the sequential-fold
    oracle."""
    return encode_blas(emb, codebook(centroids), id_col=id_col,
                       vec_col=vec_col, with_alt=with_alt)


def kmeans_fit(emb: DataFrame, k: int = 8, n_iter: int = 2,
               id_col: str = "vec_id",
               vec_col: str = "embedding") -> tuple[DataFrame, DataFrame]:
    """((cell, centroid), (id, cell, dist)) after ``n_iter`` Lloyd
    iterations from the deterministic seeds — the trained coarse
    quantizer plus the corpus partition it induces, i.e. exactly the
    two relations an IVF index stores (queries/ivf.py
    sim_ivf_kmeans_topk probes them)."""
    coarse = lloyd(train_sample(emb, id_col, vec_col), k, n_iter)
    return (centroid_frame(emb.sparkSession, *coarse),
            encode_blas(emb, coarse, id_col=id_col, vec_col=vec_col))


def kmeans_assign(emb: DataFrame, k: int = 8, n_iter: int = 2,
                  id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Final (id, cell, dist) after ``n_iter`` Lloyd iterations from
    the deterministic seeds."""
    return kmeans_fit(emb, k, n_iter, id_col, vec_col)[1]
