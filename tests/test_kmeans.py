"""k-means: the distributed DataFrame iteration must match an
independent numpy replay of the same deterministic contract
(hash-ordered seeds, round-6 distances, round-6 means)."""

from __future__ import annotations

import hashlib

import numpy as np

from currency_market_pulse_spark.operators.kmeans import kmeans_assign
from currency_market_pulse_spark.sources.catalog import load_table
from tests.conftest import SF_DIR

K, ITERS = 5, 2


def _numpy_kmeans(ids, mat, k, n_iter):
    order = sorted(range(len(ids)),
                   key=lambda j: (hashlib.md5(f"km|{ids[j]}".encode())
                                  .hexdigest(), ids[j]))
    cents = mat[order[:k]].copy()

    def assign(cents):
        out = {}
        for j, vid in enumerate(ids):
            d = np.round(((mat[j] - cents) ** 2).sum(axis=1), 6)
            cell = int(np.lexsort((np.arange(len(cents)), d))[0])
            out[vid] = (cell, d[cell])
        return out

    a = assign(cents)
    for _ in range(n_iter):
        cells = sorted({c for c, _ in a.values()})
        cents = np.array([
            np.round(mat[[j for j, vid in enumerate(ids)
                          if a[vid][0] == c]].mean(axis=0), 6)
            for c in cells])
        # cell ids compact to the surviving cells' rank order, matching
        # the DataFrame groupBy (cells re-keyed by their position in
        # the centroid relation after a drop)
        a = assign(cents)
    return a


def test_kmeans_matches_numpy_replay(spark):
    emb = load_table(spark, SF_DIR, "embeddings").limit(120)
    rows = emb.select("vec_id", "embedding").collect()
    ids = [r.vec_id for r in rows]
    mat = np.array([r.embedding for r in rows], dtype=np.float64)

    got = {r.vec_id: (r.cell, r.dist)
           for r in kmeans_assign(emb, k=K, n_iter=ITERS).collect()}
    want = _numpy_kmeans(ids, mat, K, ITERS)

    assert set(got) == set(want)
    # cluster PARTITIONS must agree exactly (cell ids may be relabeled
    # only if a cell ever emptied — assert label equality too, since
    # the contract keeps ids stable while all cells survive)
    assert {v: c for v, (c, _) in got.items()} == \
           {v: c for v, (c, _) in want.items()}
    for v in got:
        assert abs(got[v][1] - want[v][1]) < 1e-9


def test_kmeans_deterministic_across_runs(spark):
    emb = load_table(spark, SF_DIR, "embeddings").limit(60)
    a = sorted((r.vec_id, r.cell) for r in
               kmeans_assign(emb, k=3, n_iter=1).collect())
    b = sorted((r.vec_id, r.cell) for r in
               kmeans_assign(emb, k=3, n_iter=1).collect())
    assert a == b


def test_silhouette_bounds_and_separated_clusters(spark):
    """Silhouette values stay in [-1, 1] on the fixture corpus; a
    synthetic corpus of two far-apart blobs scores near-perfect
    cohesion (b >> a ⇒ s → 1)."""
    from currency_market_pulse_spark.queries.ivf import (
        sim_kmeans_silhouette,
    )

    rows = sim_kmeans_silhouette(spark, SF_DIR).collect()
    n_corpus = load_table(spark, SF_DIR, "embeddings").count()
    assert sum(r.n_vecs for r in rows) == n_corpus
    assert all(-1.0 <= r.mean_silhouette <= 1.0 for r in rows)

    from currency_market_pulse_spark.operators.kmeans import (
        _sq_dist, kmeans_fit,
    )
    from pyspark.sql import functions as F

    blob_a = [(i, [float(10 + (i % 3))] * 4) for i in range(6)]
    blob_b = [(10 + i, [float(-10 - (i % 3))] * 4) for i in range(6)]
    emb = spark.createDataFrame(blob_a + blob_b, "vec_id long, embedding array<float>")
    cents, assigned = kmeans_fit(emb, k=2, n_iter=2)
    alld = (emb.crossJoin(F.broadcast(cents))
            .select("vec_id", "cell",
                    F.round(_sq_dist(F.col("embedding"), F.col("centroid")), 6)
                    .alias("d")))
    own = assigned.select("vec_id", F.col("cell").alias("own"),
                          F.col("dist").alias("a"))
    b = (alld.join(own, "vec_id").filter(F.col("cell") != F.col("own"))
         .groupBy("vec_id", "a").agg(F.min("d").alias("b")))
    for r in b.collect():
        s = (r.b - r.a) / max(r.a, r.b) if max(r.a, r.b) > 0 else 0.0
        assert s > 0.9, (r.a, r.b)


def test_coarse_k_rule_floors_at_gate_scales():
    """Adaptive quantizer sizing: floors at 8 for the driver-gate and
    bench fixtures (result-identical to the historical fixed k), grows
    linearly past COARSE_CELL_TARGET rows per cell."""
    from currency_market_pulse_spark.operators.kmeans import (
        COARSE_CELL_TARGET, coarse_k,
    )

    assert coarse_k(500) == 8          # sf0.01
    assert coarse_k(2000) == 8         # sf0.1
    assert coarse_k(20_000) == 80      # sf1
    assert coarse_k(200_000) == 800    # sf10
    assert coarse_k(COARSE_CELL_TARGET * 8 + 1) == 9


def test_blas_assignment_matches_catalyst(spark):
    """assign_cells_blas (matmul) must equal assign_cells (sequential
    fold) bitwise after the round-6 contract — including the
    tie-to-lowest-cell rule and non-contiguous cell ids."""
    from pyspark.sql import functions as F

    from currency_market_pulse_spark.operators.kmeans import (
        assign_cells, assign_cells_blas, seed_centroids,
    )
    from currency_market_pulse_spark.sources.catalog import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = seed_centroids(emb, 8)
    # non-contiguous ids: drop cell 3 from the codebook
    cents = cents.filter(F.col("cell") != 3)
    a = sorted((r.vec_id, r.cell, r.dist)
               for r in assign_cells(emb, cents).collect())
    b = sorted((r.vec_id, r.cell, r.dist)
               for r in assign_cells_blas(emb, cents).collect())
    assert a == b and len(a) > 0
    assert any(c > 3 for _, c, _ in a)   # remapped ids exercised


def test_training_collect_is_bounded(spark, monkeypatch):
    """The trainers' one driver collect is planned as
    TakeOrderedAndProject(limit=TRAIN_ROWS): bounded before it
    materialises, never a collect of the corpus."""
    from currency_market_pulse_spark.operators import kmeans

    emb = load_table(spark, SF_DIR, "embeddings")
    cls, plans = type(emb), []
    collect = cls.collect

    def recording_collect(self):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return collect(self)

    monkeypatch.setattr(cls, "collect", recording_collect)
    X = kmeans.train_sample(emb)
    assert len(plans) == 1
    assert f"TakeOrderedAndProject(limit={kmeans.TRAIN_ROWS}," in plans[0]
    assert X.shape == (emb.count(), 64)

def test_capped_sample_matches_capped_oracles(spark, monkeypatch):
    """Past TRAIN_ROWS the trainers fit on the hash-smallest sample and
    only the final assignment/encode reads the whole corpus.  Cap the
    sample at 100 of sf0.01's 500 vectors: the shared index (coarse
    quantizer and IVF-PQ codebooks) must stay EXACT against oracles
    that replay the same cap — and the cap must change the answer."""
    from currency_market_pulse_spark.operators import kmeans
    from currency_market_pulse_spark.oracle import (
        check_against_oracle, duck_con,
    )
    from currency_market_pulse_spark.plans.cache import SESSION
    from currency_market_pulse_spark.queries import ivf
    from tests.conftest import EXTRA_SF_DIR

    cap = 100
    assert load_table(spark, EXTRA_SF_DIR, "embeddings").count() > cap
    monkeypatch.setattr(kmeans, "TRAIN_ROWS", cap)
    # the capped index is built fresh and never serves other tests
    SESSION.evict(spark, EXTRA_SF_DIR)
    con = duck_con(EXTRA_SF_DIR)
    try:
        for fn, oracle in ((ivf.sim_kmeans_cells, ivf._kmeans_oracle),
                           (ivf.sim_ivfpq_topk, ivf._ivfpq_oracle)):
            capped = oracle(train_rows=cap)
            assert (con.execute(capped).fetchall()
                    != con.execute(oracle()).fetchall()), fn.__name__
            verdict, n = check_against_oracle(spark, con, fn, capped,
                                              EXTRA_SF_DIR)
            assert verdict == "EXACT" and n > 0, (fn.__name__, verdict)
    finally:
        con.close()
        SESSION.evict(spark, EXTRA_SF_DIR)
