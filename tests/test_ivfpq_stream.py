"""Streaming IVF-PQ maintenance (streaming/ivf_stream.py
StreamingIVFPQIndex): streamed residual codes must equal a batch
re-encode at the frozen codebooks, replay must be idempotent, retrain
must rebuild codebooks+codes and retire streamed partitions, and the
standing members relation must be searchable by the batch ivfpq_topk."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from currency_market_pulse_spark.operators.pq import pq_encode, residuals
from currency_market_pulse_spark.streaming.ivf_stream import (
    TRAIN_BATCH_ID, StreamingIVFPQIndex,
)

# dim 4 = m 2 x sub_dim 2 keeps every Lloyd chain tiny
_PQ = dict(m=2, sub_dim=2, pq_k=2, pq_iter=1)


def _vecs(spark, items):
    return spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in items],
        "vec_id bigint, embedding array<double>")


def _clusters4(n_per, centers, start_id=0):
    out, vid = [], start_id
    for c in centers:
        for j in range(n_per):
            out.append((vid, [c[0] + 0.01 * (j % 5), c[1] + 0.01 * (j % 3),
                              c[2] - 0.01 * (j % 2), c[3]]))
            vid += 1
    return out


def _index(tmp_path, **kw):
    return StreamingIVFPQIndex(
        centroids_path=str(tmp_path / "centroids"),
        assign_path=str(tmp_path / "assign"),
        vectors_path=str(tmp_path / "vectors"),
        codebooks_path=str(tmp_path / "codebooks"),
        codes_path=str(tmp_path / "codes"), **_PQ, **kw)


def _codes_map(df, m=2):
    cols = [f"c{s}" for s in range(m)]
    return {r.vec_id: tuple(r[c] for c in cols)
            for r in df.select("vec_id", *cols).collect()}


def test_streamed_codes_equal_batch_encode(spark, tmp_path):
    """The standing code relation after N micro-batches is EXACTLY a
    batch pq_encode of every vector's residual at the frozen
    centroids+codebooks — the encode path is training-free and
    batching-invisible."""
    idx = _index(tmp_path)
    base = _clusters4(6, [(0, 0, 0, 0), (10, 10, 10, 10)])
    idx.train(_vecs(spark, base), k=2)

    idx.process_batch(_vecs(spark, _clusters4(
        3, [(0.5, 0.5, 0.5, 0.5)], start_id=100)), 0)
    idx.process_batch(_vecs(spark, _clusters4(
        3, [(9.5, 9.5, 9.5, 9.5)], start_id=200)), 1)

    standing = _codes_map(idx.read_codes(spark))
    twin = _codes_map(pq_encode(
        residuals(idx.read_vectors(spark),
                  idx.read_assignments(spark),
                  idx.read_centroids(spark)),
        idx.read_codebooks(spark), m=2, sub_dim=2))
    assert standing == twin
    assert len(standing) == 12 + 6
    # members = codes join assignments, one row per vector
    members = idx.read_members(spark)
    assert members.count() == 18
    assert set(members.columns) == {"vec_id", "c0", "c1", "cell"}


@pytest.mark.slow
def test_replayed_batch_codes_idempotent(spark, tmp_path):
    idx = _index(tmp_path)
    idx.train(_vecs(spark, _clusters4(5, [(0, 0, 0, 0), (8, 8, 8, 8)])),
              k=2)
    nb = _vecs(spark, _clusters4(4, [(0.3, 0.1, 0.2, 0)], start_id=50))
    idx.process_batch(nb, 0)
    before = _codes_map(idx.read_codes(spark))
    idx.process_batch(nb, 0)   # crash replay
    assert _codes_map(idx.read_codes(spark)) == before
    assert idx.read_codes(spark).count() == 14


@pytest.mark.slow
def test_retrain_rebuilds_codebooks_and_codes(spark, tmp_path):
    idx = _index(tmp_path)
    idx.train(_vecs(spark, _clusters4(8, [(0, 0, 0, 0), (1, 1, 1, 1)])),
              k=2)
    far = _clusters4(8, [(50, 50, 50, 50)], start_id=500)
    idx.process_batch(_vecs(spark, far), 0)
    ok, _ = idx.needs_retrain(spark)   # inherited distance-growth gate
    assert ok

    idx.retrain(spark, k=2)
    got_ids = {r.batch_id for r in idx.read_codes(spark)
               .select("batch_id").distinct().collect()}
    assert got_ids == {TRAIN_BATCH_ID}
    assert idx.read_codes(spark).count() == 24
    # rebuilt codes are self-consistent: pq_fit's final assignment is
    # the frozen-codebook encode of the same residuals
    standing = _codes_map(idx.read_codes(spark))
    twin = _codes_map(pq_encode(
        residuals(idx.read_vectors(spark),
                  idx.read_assignments(spark),
                  idx.read_centroids(spark)),
        idx.read_codebooks(spark), m=2, sub_dim=2))
    assert standing == twin


@pytest.mark.slow
def test_standing_index_is_searchable(spark, tmp_path):
    """ivfpq_topk over the STREAM-maintained index (the stored
    centroids/codebooks/members handed in via ``index=``): the exact
    composition a serving deployment runs after ingest."""
    from currency_market_pulse_spark.operators.pq import ivfpq_topk

    idx = _index(tmp_path)
    idx.train(_vecs(spark, _clusters4(
        6, [(0, 0, 0, 0), (10, 10, 10, 10)])), k=2)
    idx.process_batch(_vecs(spark, _clusters4(
        4, [(0.2, 0.2, 0.2, 0.2)], start_id=300)), 0)

    emb = idx.read_vectors(spark)
    out = ivfpq_topk(
        emb, F.col("vec_id") == 300, k_neighbors=3,
        m=2, sub_dim=2, k=2, nprobe=1,
        index=(idx.read_centroids(spark),
               idx.read_codebooks(spark),
               idx.read_members(spark)))
    rows = out.collect()
    assert len(rows) == 3
    assert all(r.query_id == 300 and r.neighbor_id != 300 for r in rows)
    assert [r.rn for r in rows] == [1, 2, 3]
    assert all(r.adc_dist >= 0 for r in rows)