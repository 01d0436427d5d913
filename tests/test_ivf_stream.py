"""Streaming IVF index maintenance (streaming/ivf_stream.py
StreamingIVFPQIndex, coarse half): the standing postings a stream
maintains must equal the batch assignment at the same centroids,
replay must be idempotent, the drift gate must fire on the two
documented conditions and clear after retrain, and the retrain must
equal a fresh batch build over the full corpus (the coarse quantizer
trains on the same Lloyd chain as ``kmeans_fit``)."""

from __future__ import annotations

import json

from pyspark.sql import Row

from currency_market_pulse_spark.operators.kmeans import (
    assign_cells_blas, kmeans_fit,
)
from currency_market_pulse_spark.streaming.ivf_stream import (
    TRAIN_BATCH_ID, StreamingIVFPQIndex,
)

# 2-dim vectors = m 2 x sub_dim 1
_PQ = dict(m=2, sub_dim=1, pq_k=2, pq_iter=1)


def _vecs(spark, items):
    """items: [(vec_id, [floats])]"""
    return spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in items],
        "vec_id bigint, embedding array<double>")


def _clusters(n_per, centers, start_id=0):
    """n_per points per center, deterministic tiny offsets."""
    out, vid = [], start_id
    for cx, cy in centers:
        for j in range(n_per):
            out.append((vid, [cx + 0.01 * (j % 5), cy + 0.01 * (j % 3)]))
            vid += 1
    return out


def _index(tmp_path, **kw):
    return StreamingIVFPQIndex(
        centroids_path=str(tmp_path / "centroids"),
        assign_path=str(tmp_path / "assign"),
        vectors_path=str(tmp_path / "vectors"),
        codebooks_path=str(tmp_path / "codebooks"),
        codes_path=str(tmp_path / "codes"), **_PQ, **kw)


def _assign_map(df):
    return {r.vec_id: (r.cell, r.dist) for r in df.collect()}


def test_stream_equals_batch_index(spark, tmp_path):
    """After training + N micro-batches, the full posting relation is
    EXACTLY what a batch assignment of the full vector store at the
    trained centroids produces — streamed postings go through the
    identical BLAS argmin, so batching is invisible."""
    idx = _index(tmp_path)
    base = _clusters(6, [(0, 0), (10, 0), (0, 10), (10, 10)])
    idx.train(_vecs(spark, base), k=4)

    new1 = _clusters(3, [(0.5, 0.5), (9.5, 0.2)], start_id=100)
    new2 = _clusters(3, [(0.2, 9.7), (10.3, 10.2)], start_id=200)
    idx.process_batch(_vecs(spark, new1), 0)
    idx.process_batch(_vecs(spark, new2), 1)

    standing = _assign_map(
        idx.read_assignments(spark).select("vec_id", "cell", "dist"))
    batch_twin = _assign_map(assign_cells_blas(
        idx.read_vectors(spark), idx.read_centroids(spark)))
    assert standing == batch_twin
    assert len(standing) == 24 + 12
    # batch ids recorded: training + two stream batches
    got_ids = {r.batch_id for r in
               idx.read_assignments(spark).select("batch_id")
               .distinct().collect()}
    assert got_ids == {TRAIN_BATCH_ID, 0, 1}


def test_replayed_batch_is_idempotent(spark, tmp_path):
    idx = _index(tmp_path)
    idx.train(_vecs(spark, _clusters(5, [(0, 0), (8, 8)])), k=2)
    nb = _vecs(spark, _clusters(4, [(0.3, 0.1)], start_id=50))
    idx.process_batch(nb, 0)
    before = _assign_map(
        idx.read_assignments(spark).select("vec_id", "cell", "dist"))
    idx.process_batch(nb, 0)   # crash replay
    after = _assign_map(
        idx.read_assignments(spark).select("vec_id", "cell", "dist"))
    assert before == after
    assert idx.read_vectors(spark).count() == 14   # vectors deduped too


def test_drift_gate_distance_growth_and_retrain_clears(spark, tmp_path):
    """Streamed vectors far from every trained centroid fire the
    distance-growth trigger; retrain re-tessellates and clears it,
    and the rebuilt index equals a fresh batch build on the corpus."""
    idx = _index(tmp_path)
    idx.train(_vecs(spark, _clusters(8, [(0, 0), (1, 1)])), k=2)
    ok, _ = idx.needs_retrain(spark)
    assert not ok                      # freshly trained: no drift

    # a new modality: everything lands ~100 away from both centroids
    far = _clusters(8, [(100, 100), (101, 99)], start_id=500)
    idx.process_batch(_vecs(spark, far), 0)
    ok, reasons = idx.needs_retrain(spark)
    assert ok
    assert any("distance growth" in r for r in reasons)

    new_k = idx.retrain(spark, k=2)
    assert new_k == 2
    ok, reasons = idx.needs_retrain(spark)
    assert not ok, reasons
    # streamed posting partitions retired; index equals a fresh batch
    # build over the full corpus (same deterministic Lloyd chain)
    got_ids = {r.batch_id for r in
               idx.read_assignments(spark).select("batch_id")
               .distinct().collect()}
    assert got_ids == {TRAIN_BATCH_ID}
    _, fresh = kmeans_fit(idx.read_vectors(spark), k=2)
    assert _assign_map(idx.read_assignments(spark)
                       .select("vec_id", "cell", "dist")) == \
        _assign_map(fresh)


def test_drift_gate_occupancy_skew(spark, tmp_path):
    """New content concentrating into one frozen cell fires the skew
    trigger (hot cell -> probe cost degrades toward brute force)."""
    idx = _index(tmp_path, skew_limit=2.5)
    idx.train(_vecs(spark, _clusters(
        10, [(0, 0), (10, 0), (0, 10), (10, 10)])), k=4)
    # 60 new vectors, all into cluster (0,0)'s cell
    hot = _clusters(60, [(0.1, 0.1)], start_id=1000)
    idx.process_batch(_vecs(spark, hot), 0)
    r = idx.drift_report(spark)
    assert r["n_total"] == 100 and r["k"] == 4
    # the hot cell holds its trained members plus all 60 streamed rows
    # (>= 70: hash seeding may merge training clusters into one cell)
    assert r["max_cell"] >= 70
    ok, reasons = idx.needs_retrain(spark)
    assert ok
    assert any("occupancy skew" in r for r in reasons)


def test_streaming_attach_end_to_end(spark, tmp_path):
    """The real engine path: file stream -> attach -> standing index
    equals the batch twin; restart-free processAllAvailable (stateless
    handler)."""
    idx = _index(tmp_path)
    idx.train(_vecs(spark, _clusters(6, [(0, 0), (10, 10)])), k=2)

    src = tmp_path / "in"
    src.mkdir()
    files = [_clusters(4, [(0.4, 0.4)], start_id=300),
             _clusters(4, [(9.6, 9.6)], start_id=400)]
    for n, items in enumerate(files):
        with open(src / f"f{n}.json", "w") as f:
            for vid, v in items:
                f.write(json.dumps({"vec_id": vid, "embedding": v}) + "\n")

    stream = (spark.readStream
              .schema("vec_id bigint, embedding array<double>")
              .option("maxFilesPerTrigger", "1").json(str(src)))
    q = idx.attach(stream, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    standing = _assign_map(
        idx.read_assignments(spark).select("vec_id", "cell", "dist"))
    batch_twin = _assign_map(assign_cells_blas(
        idx.read_vectors(spark), idx.read_centroids(spark)))
    assert standing == batch_twin
    assert len(standing) == 12 + 8
    # every streamed vector proximate to its trained cluster's cell
    cells = {r.vec_id: r.cell for r in idx.read_assignments(spark)
             .select("vec_id", "cell").collect()}
    assert cells[300] == cells[0]      # near the (0,0) cluster
    assert cells[400] == cells[6]      # near the (10,10) cluster


def test_streaming_attach_survives_restart(spark, tmp_path):
    """Stop the ingest query, drop a new file, restart on the SAME
    checkpoint: nothing lost, nothing double-assigned."""
    idx = _index(tmp_path)
    idx.train(_vecs(spark, _clusters(5, [(0, 0), (10, 10)])), k=2)

    src = tmp_path / "in"
    src.mkdir()

    def drop(n, items):
        with open(src / f"f{n}.json", "w") as f:
            for vid, v in items:
                f.write(json.dumps({"vec_id": vid, "embedding": v}) + "\n")

    def stream():
        return (spark.readStream
                .schema("vec_id bigint, embedding array<double>")
                .option("maxFilesPerTrigger", "1").json(str(src)))

    drop(0, _clusters(3, [(0.5, 0.5)], start_id=600))
    q1 = idx.attach(stream(), str(tmp_path / "ckpt"))
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()

    drop(1, _clusters(3, [(9.5, 9.5)], start_id=700))   # while DOWN
    q2 = idx.attach(stream(), str(tmp_path / "ckpt"))
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    a = idx.read_assignments(spark)
    assert a.count() == 10 + 6
    assert a.select("vec_id").distinct().count() == 16
