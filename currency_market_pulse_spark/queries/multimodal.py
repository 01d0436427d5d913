"""Multimodal / nested-column queries: JSON props extraction and the
binary-payload decode pipeline (operators/multimodal.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from currency_market_pulse_spark.operators import multimodal as M
from currency_market_pulse_spark.queries.registry import extra_query, query
from currency_market_pulse_spark.sources.catalog import load_table


@query(
    "events_props_json",
    oracle="""
SELECT event_type,
       CAST(CAST(props->>'$.k' AS BIGINT) // 10 AS BIGINT) AS k_decile,
       count(*) AS n_events,
       round(avg(value), 6) AS mean_value
FROM events
GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured columns: extract ``props.k`` from the JSON
    string, bucket it, aggregate — from_json/get_json_object stays in
    codegen (no Python)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.groupBy("event_type", F.floor(k / 10).alias("k_decile"))
        .agg(F.count("*").alias("n_events"),
             F.round(F.avg("value"), 6).alias("mean_value"))
        # r17: terminal ORDER BY removed (presentation only)
    )


@query(
    "multimodal_decode_meta",
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS payload_md5,
       CAST(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 640 AS INT) AS width,
       CAST(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 480 AS INT) AS height,
       CASE CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 3
         WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format
FROM documents
""",
)
def multimodal_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload -> (stub) decode metadata through the real
    mapInPandas Arrow plumbing.  The oracle reproduces the stub's
    md5-derived fake dimensions, so schema, batching and hashing of the
    Python stage are all verified; swap the kernel for PIL/ffmpeg in
    production (operators/multimodal.py:_stub_decode_one)."""
    docs = load_table(spark, sf_dir, "documents")
    return M.decode_metadata(M.with_binary_payload(docs))


@extra_query(
    "multimodal_frame_sample",
    oracle=f"""
WITH h AS (SELECT doc_id, text,
                  CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS h64
           FROM documents)
SELECT doc_id,
       CAST(k AS INT) AS frame_idx,
       CAST(k * {M.FRAME_INTERVAL_MS} AS BIGINT) AS ts_ms,
       -- payload bytes are UTF-8 of text, so hashing the VARCHAR
       -- concat is byte-identical (DuckDB 1.0 md5 takes no BLOB)
       md5(text || '|frame|' || k) AS frame_md5
FROM h, LATERAL unnest(range(0, h64 % {M.MAX_STUB_FRAMES} + 1)) AS t(k)
ORDER BY doc_id, frame_idx
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling (1->N mapInPandas explosion): one row per
    stub-sampled frame with its timestamp and frame hash.  Library
    tier; the oracle reproduces the stub's frame count and per-frame
    md5 exactly, proving the row-expanding batch shape."""
    docs = load_table(spark, sf_dir, "documents")
    return (M.sample_frames(M.with_binary_payload(docs))
            .orderBy("doc_id", "frame_idx"))


def _ahash_sig_ctes(bits: int = M.AHASH_BITS) -> str:
    """CTE chain computing the aHash signature in SQL: byte-chunk sums
    via ord() over char positions (the fixture payloads are UTF-8 of
    pure-ASCII text — asserted by the n-bytes==n-chars comparison in
    multimodal_decode_meta's green oracle — so codepoints == payload
    bytes; the Spark side pools the actual bytes and is the general
    path), integer cross-multiply threshold, bit-sum assembly."""
    return f"""
base AS (SELECT doc_id, text, length(text) AS n,
                coalesce(list_aggregate(list_transform(
                  range(1, length(text) + 1),
                  i -> ord(substr(text, CAST(i AS INT), 1))), 'sum'), 0)
                  AS total
         FROM documents),
chunks AS (
  SELECT doc_id, j,
         coalesce(list_aggregate(list_transform(
           range(CAST(j * n // {bits} AS INT) + 1,
                 CAST((j + 1) * n // {bits} AS INT) + 1),
           i -> ord(substr(text, CAST(i AS INT), 1))), 'sum'), 0) AS cs,
         total
  FROM base, (SELECT unnest(range(0, {bits})) AS j) jj),
sig AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN cs * {bits} > total
                       THEN CAST(1 AS BIGINT) << CAST(j AS INT)
                       ELSE 0 END) AS BIGINT) AS ahash
  FROM chunks GROUP BY doc_id)"""


@extra_query(
    "multimodal_phash_neardup",
    oracle=f"""
WITH {_ahash_sig_ctes()}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.ahash, b.ahash)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
ORDER BY id_a, id_b
""",
)
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup over the BINARY payload column: aHash
    signatures (operators/multimodal.py ahash_signatures — byte-pool
    "resize" stub + integer average threshold; production swaps a real
    decoder into the same mapInPandas kernel) -> hamming<=3 pairs via
    the recall-complete pigeonhole banding reused from
    simhash_hamming_pairs.  Closes image dedup, the one pipeline
    capability text dedup can't cover; the oracle computes signatures
    independently in SQL and brute-forces the hamming join, proving
    kernel AND banding end to end."""
    docs = load_table(spark, sf_dir, "documents")
    return (M.phash_neardup_pairs(M.with_binary_payload(docs), k=3)
            .orderBy("id_a", "id_b"))


def _video_neardup_oracle(bits: int = M.AHASH_BITS, k: int = 3,
                          min_frac: float = 0.5) -> str:
    """Independent SQL replay of frame-aHash video dedup: frame
    strings re-derived from the stub contract (payload || '|frame|' ||
    k, frame count from the md5 prefix), signatures via the same
    integer chunk-threshold math as the payload-level oracle, match
    via BRUTE-FORCE hamming (the banded Spark plan must equal it —
    pigeonhole recall-completeness proven again at the video level)."""
    return f"""
WITH fr AS (
  SELECT doc_id, text || '|frame|' || kk AS s, CAST(kk AS INT) AS frame_idx
  FROM (SELECT doc_id, text,
               CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS h64
        FROM documents) h,
       LATERAL unnest(range(0, h64 % {M.MAX_STUB_FRAMES} + 1)) AS t(kk)),
fb AS (SELECT doc_id, frame_idx, s, length(s) AS n,
              coalesce(list_aggregate(list_transform(
                range(1, length(s) + 1),
                i -> ord(substr(s, CAST(i AS INT), 1))), 'sum'), 0)
                AS total
       FROM fr),
fch AS (
  SELECT doc_id, frame_idx, j,
         coalesce(list_aggregate(list_transform(
           range(CAST(j * n // {bits} AS INT) + 1,
                 CAST((j + 1) * n // {bits} AS INT) + 1),
           i -> ord(substr(s, CAST(i AS INT), 1))), 'sum'), 0) AS cs,
         total
  FROM fb, (SELECT unnest(range(0, {bits})) AS j) jj),
fsig AS (
  SELECT doc_id, frame_idx,
         CAST(sum(CASE WHEN cs * {bits} > total
                       THEN CAST(1 AS BIGINT) << CAST(j AS INT)
                       ELSE 0 END) AS BIGINT) AS fhash
  FROM fch GROUP BY 1, 2),
pv AS (SELECT doc_id, count(*) AS n_frames FROM fsig GROUP BY 1),
mp AS (
  SELECT a.doc_id AS va, a.frame_idx AS fa,
         b.doc_id AS vb, b.frame_idx AS fb2
  FROM fsig a JOIN fsig b
    ON a.doc_id < b.doc_id
   AND bit_count(xor(a.fhash, b.fhash)) <= {k}),
ag AS (SELECT va AS id_a, vb AS id_b,
              count(DISTINCT fa) AS n_match_a,
              count(DISTINCT fb2) AS n_match_b
       FROM mp GROUP BY 1, 2)
SELECT ag.id_a, ag.id_b,
       CAST(n_match_a AS BIGINT) AS n_match_a,
       CAST(n_match_b AS BIGINT) AS n_match_b,
       round(n_match_a / CAST(pa.n_frames AS DOUBLE), 6) AS frac_a,
       round(n_match_b / CAST(pb.n_frames AS DOUBLE), 6) AS frac_b
FROM ag
JOIN pv pa ON pa.doc_id = ag.id_a
JOIN pv pb ON pb.doc_id = ag.id_b
WHERE greatest(round(n_match_a / CAST(pa.n_frames AS DOUBLE), 6),
               round(n_match_b / CAST(pb.n_frames AS DOUBLE), 6))
      >= {min_frac}
ORDER BY ag.id_a, ag.id_b
"""


@extra_query("multimodal_video_neardup", oracle=_video_neardup_oracle())
def multimodal_video_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clip-level perceptual dedup (operators/multimodal.py
    video_neardup_pairs): per-frame aHash signatures through the
    sample_frames explosion, hamming<=3 frame matches via the banded
    candidate join, videos paired when either side has >= 50% of its
    frames matched.  The oracle brute-forces the frame hamming join,
    so the banding's recall-completeness is re-proven at the video
    level; the Spark plan never all-pairs the frame relation."""
    docs = load_table(spark, sf_dir, "documents")
    return M.video_neardup_pairs(M.with_binary_payload(docs), k=3,
                                 min_frac=0.5)
