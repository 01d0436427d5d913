"""Product quantization (PQ) for embedding compression + ADC search
(Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
Search", TPAMI 2011).

Why PQ at 100 TB: a 64-dim float32 embedding is 256 bytes; its PQ code
at m=4 subspaces x k=8 centroids is 4 small ints (4 bytes packed —
64x smaller).  The ANN index for a trillion-row corpus only fits in
(distributed) memory compressed, and ADC (asymmetric distance
computation) searches the COMPRESSED codes directly: per query, one
tiny distance table per subspace (k entries), then every candidate's
approximate distance is m table lookups + adds — no decompression, no
full-precision vector reads.

Determinism contract (differential-testable like operators/kmeans.py,
whose trainer this reuses wholesale):

- each subspace trains an independent Lloyd k-means on the sliced
  sub-vectors of the same bounded training sample (the TRAIN_ROWS
  hash-smallest rows — the hash covers only vec_id, so every subspace
  sees the same rows and the same seeds), same round-6 distance/mean
  discipline;
- codes: per-subspace nearest-centroid cell, ties to the lowest cell;
- ADC distance: round-6 per-subspace table entries, summed left to
  right, the sum rounded to 6 — identical fold on both engines.

Scale shape: training = one bounded collect of at most TRAIN_ROWS
vectors (operators/kmeans.py train_sample) and m small numpy Lloyd
chains on the driver; encoding = ONE ``encode_blas`` pass over the
corpus with the m*k-row codebooks in the task closure (under IVF-PQ
the same pass also assigns the coarse cell and forms the residual);
search = query-local table build (m*k entries, broadcast) + a scan of
the CODES relation (4 ints/row, not 256 bytes/row) with m lookups per
row.  The corpus's full-precision vectors are never read at search
time — that is the entire point."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window, functions as F

from currency_market_pulse_spark.operators.kmeans import (
    _sq_dist, centroid_frame, codebook, encode_blas, lloyd, nearest,
    train_sample,
)

PQ_M = 4          #: subspaces
PQ_SUB_DIM = 16   #: dims per subspace (m * sub_dim = embedding dim)
PQ_K = 8          #: centroids per subspace codebook
PQ_ITER = 1       #: Lloyd iterations per subspace


def _train_codebooks(X, m: int, sub_dim: int, k: int, n_iter: int):
    """m (code ids, codewords) pairs: one Lloyd chain per sub_dim-wide
    slice of the hash-ordered training matrix."""
    return [lloyd(X[:, s * sub_dim:(s + 1) * sub_dim], k, n_iter)
            for s in range(m)]


def pq_fit(emb: DataFrame, m: int = PQ_M, sub_dim: int = PQ_SUB_DIM,
           k: int = PQ_K, n_iter: int = PQ_ITER,
           id_col: str = "vec_id",
           vec_col: str = "embedding") -> tuple[list[DataFrame], DataFrame]:
    """Train the m per-subspace codebooks and encode the corpus.

    Returns ``(codebooks, codes)``: ``codebooks[s]`` is the (cell,
    centroid) relation for subspace ``s`` (k rows, centroid of length
    ``sub_dim``); ``codes`` is (id, c0..c{m-1}) — the compressed
    corpus."""
    books = _train_codebooks(train_sample(emb, id_col, vec_col),
                             m, sub_dim, k, n_iter)
    return ([centroid_frame(emb.sparkSession, *b) for b in books],
            encode_blas(emb, None, books, sub_dim, id_col, vec_col))


def pq_encode(emb: DataFrame, codebooks: list[DataFrame],
              m: int = PQ_M, sub_dim: int = PQ_SUB_DIM,
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Encode vectors against FROZEN codebooks: (id, c0..c{m-1}),
    nearest codeword per subspace — the ``encode_blas`` kernel pq_fit
    encodes with, so an append batch's codes are bit-equal to what a
    full re-encode would produce.  One scan of the batch; no shuffle,
    no training."""
    return encode_blas(emb, None, [codebook(cb) for cb in codebooks[:m]],
                       sub_dim, id_col, vec_col)


def residuals(emb: DataFrame, assigned: DataFrame, centroids: DataFrame,
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """(id, cell, residual-as-vec_col): vector minus its assigned
    coarse centroid — the relation PQ encodes under IVF-PQ.  The
    relational reference for the residual step ``encode_blas`` fuses
    (tests/test_ivfpq_stream.py re-encodes through it)."""
    return (emb.join(assigned.select(id_col, "cell"), id_col)
            .join(F.broadcast(centroids), "cell")
            .select(F.col(id_col), F.col("cell"),
                    F.zip_with(F.col(vec_col), F.col("centroid"),
                               lambda x, y: x.cast("double") - y)
                    .alias(vec_col)))


def ivfpq_fit(emb: DataFrame,
              coarse_k: int = 8, coarse_iter: int = 2,
              m: int = PQ_M, sub_dim: int = PQ_SUB_DIM,
              k: int = PQ_K, n_iter: int = PQ_ITER,
              id_col: str = "vec_id", vec_col: str = "embedding"
              ) -> tuple[DataFrame, list[DataFrame], DataFrame]:
    """Build the IVF-PQ index: ``(coarse_centroids, codebooks,
    members)`` where members = (id, cell, dist, c0..c{m-1}) — every
    vector's coarse cell and distance plus its RESIDUAL PQ code, from
    one ``encode_blas`` pass.  This is the relation an IVF-PQ
    deployment persists; searches (``ivfpq_topk``) only read it.

    Both quantizers train on the driver from the one bounded sample:
    the coarse Lloyd chain on the vectors, then the m subspace chains
    on the sample's residuals against its nearest trained centroid."""
    X = train_sample(emb, id_col, vec_col)
    coarse = lloyd(X, coarse_k, coarse_iter)
    _, rows = nearest(X, coarse[1])
    books = _train_codebooks(X - coarse[1][rows], m, sub_dim, k, n_iter)
    spark = emb.sparkSession
    return (centroid_frame(spark, *coarse),
            [centroid_frame(spark, *b) for b in books],
            encode_blas(emb, coarse, books, sub_dim, id_col, vec_col))


def ivfpq_topk(emb: DataFrame, query_pred, k_neighbors: int = 3,
               coarse_k: int = 8, coarse_iter: int = 2,
               nprobe: int = 2,
               m: int = PQ_M, sub_dim: int = PQ_SUB_DIM,
               k: int = PQ_K, n_iter: int = PQ_ITER,
               id_col: str = "vec_id",
               vec_col: str = "embedding",
               index: tuple[DataFrame, list[DataFrame], DataFrame]
               | None = None) -> DataFrame:
    """IVF-PQ: the production ANN composition (coarse quantizer prunes
    candidates, residual PQ compresses them, ADC scores codes).

    1. train the coarse quantizer (Lloyd k-means, operators/kmeans.py)
       and assign every vector to a cell;
    2. PQ-encode each vector's RESIDUAL (vector minus its cell
       centroid) — residuals concentrate near zero, so the same
       codebook budget quantizes them far better than raw vectors
       (the reason FAISS IVFPQ encodes residuals);
    3. search: probe the ``nprobe`` nearest coarse cells per query
       (training metric), form the query's residual AGAINST EACH
       probed centroid, build per-subspace distance tables, ADC over
       the probed cells' member codes only.

    Cost per query: nprobe/coarse_k of the corpus scanned, and what is
    scanned is codes (m small ints), not vectors.  Every relation that
    meets the corpus is broadcast (centroids, codebooks, per-query
    tables); the corpus shuffles only for the per-query top-k window
    on the pruned candidate set.

    ``index``: optional prebuilt ``ivfpq_fit`` result — the stored
    index a deployment builds ONCE and searches many times (e.g. the
    session-shared instance in queries/ivf.py)."""
    cents_c, codebooks, members = (
        index if index is not None
        else ivfpq_fit(emb, coarse_k, coarse_iter, m, sub_dim, k,
                       n_iter, id_col, vec_col))

    q = emb.filter(query_pred).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
    scored = (q.crossJoin(F.broadcast(cents_c))
              .withColumn("_cd", F.round(
                  _sq_dist(F.col("_qv"), F.col("centroid")), 6)))
    wp = Window.partitionBy("query_id").orderBy("_cd", "cell")
    probe = (scored.withColumn("_rn", F.row_number().over(wp))
             .filter(F.col("_rn") <= nprobe)
             .select("query_id", "cell",
                     F.zip_with(F.col("_qv"), F.col("centroid"),
                                lambda x, y: x.cast("double") - y)
                     .alias("_qres")))
    return _adc_topk(members, probe, "_qres", codebooks, m, sub_dim, k,
                     k_neighbors, id_col, cell=("cell",))


def pq_adc_topk(emb: DataFrame, query_pred, k_neighbors: int = 3,
                m: int = PQ_M, sub_dim: int = PQ_SUB_DIM,
                k: int = PQ_K, n_iter: int = PQ_ITER,
                id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """ADC top-k: (query_id, neighbor_id, adc_dist, rn) — approximate
    squared-distance nearest neighbors computed ENTIRELY on the PQ
    codes.  ``query_pred`` selects the query rows (queries keep full
    precision — that is the 'asymmetric' in ADC)."""
    codebooks, codes = pq_fit(emb, m, sub_dim, k, n_iter, id_col, vec_col)
    q = emb.filter(query_pred).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
    return _adc_topk(codes, q, "_qv", codebooks, m, sub_dim, k,
                     k_neighbors, id_col)


def _adc_topk(codes: DataFrame, queries: DataFrame, qcol: str,
              codebooks: list[DataFrame], m: int, sub_dim: int, k: int,
              k_neighbors: int, id_col: str, cell=()) -> DataFrame:
    """ADC top-k of ``queries`` (query_id, *cell, qcol) over ``codes``
    (id, *cell, c0..c{m-1}): (query_id, neighbor_id, adc_dist, rn).

    Per query (and probed cell) ONE m*k-entry lookup table of round-6
    subspace distances, broadcast once; each code row then scores with
    m map lookups summed in s = 0..m-1 order and rounded to 6.  The
    corpus-sized side is traversed by exactly one join, where m
    per-subspace broadcast joins would each re-evaluate the query
    subtree (r17)."""
    keys = ["query_id", *cell]
    cb_all = reduce(DataFrame.unionAll, [
        cb.select(F.lit(s).alias("_s"), F.col("cell").alias("_code"),
                  "centroid") for s, cb in enumerate(codebooks[:m])])
    qslices = queries.select(
        *keys,
        F.explode(F.array(*[
            F.struct(F.lit(s).alias("_s"),
                     F.slice(qcol, s * sub_dim + 1, sub_dim).alias("_qs"))
            for s in range(m)])).alias("_sub")
    ).select(*keys, F.col("_sub._s").alias("_s"),
             F.col("_sub._qs").alias("_qs"))
    qtab = (qslices.join(F.broadcast(cb_all), "_s")
            .select(*keys,
                    (F.col("_s") * k + F.col("_code")).cast("int")
                     .alias("_key"),
                    F.round(_sq_dist(F.col("_qs"), F.col("centroid")), 6)
                     .alias("_d"))
            .groupBy(*keys)
            .agg(F.map_from_entries(F.collect_list(
                F.struct(F.col("_key"), F.col("_d")))).alias("_tab")))
    adc = (codes.join(F.broadcast(qtab), list(cell)) if cell
           else codes.crossJoin(F.broadcast(qtab)))
    total = F.element_at("_tab", F.col("c0").cast("int"))
    for s in range(1, m):
        total = total + F.element_at(
            "_tab", (F.lit(s * k) + F.col(f"c{s}")).cast("int"))
    out = (adc.filter(F.col(id_col) != F.col("query_id"))
           .select("query_id", F.col(id_col).alias("neighbor_id"),
                   F.round(total, 6).alias("adc_dist")))
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    # no terminal ORDER BY (presentation only; see
    # operators/similarity.py topk_bruteforce)
    return (out.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k_neighbors))
