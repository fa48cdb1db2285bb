"""Multimodal-column queries: binary payloads + mapInPandas stages.

The media table is synthesized deterministically from ``documents``
(payload = UTF-8 bytes of text), so every stage — including the
Arrow-batched pandas feature/frame/decode operators — has a full DuckDB
oracle: the corpus is ASCII, hence byte offsets == char offsets and
blob md5 == text md5, letting plain string SQL verify byte-level
results. The decode oracle reproduces the deterministic fake decoder
from md5 hex bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import catalog
from ..operators import multimodal
from ..registry import register

_DUCK_MEDIA = """
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio'
                  ELSE 'video' END AS media_type,
             text
      FROM documents
"""


@register(
    "media_manifest",
    oracle=f"""
    WITH media AS ({_DUCK_MEDIA})
    SELECT doc_id, media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS payload_len,
           CAST(ceil(octet_length(encode(text)) / {multimodal.FRAME_BYTES}.0) AS BIGINT)
             AS n_frames,
           CAST(16 + doc_id % 64 AS INT) AS width,
           CAST(16 + doc_id % 48 AS INT) AS height,
           CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sample_rate
    FROM media
    ORDER BY doc_id
    """,
    survey_ref="extended: multimodal manifest (binary payload + typed metadata)",
)
def q_media_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.tables(spark, sf_dir)
    media = multimodal.media_from_documents(t["documents"])
    return multimodal.media_manifest(media).orderBy("doc_id")


@register(
    "media_features",
    oracle=f"""
    WITH media AS ({_DUCK_MEDIA}),
    pos AS (
      SELECT doc_id, unnest(range(1, length(text) + 1)) AS i, text FROM media
    ),
    sums AS (
      SELECT doc_id, SUM(ascii(substring(text, CAST(i AS BIGINT), 1))) AS s
      FROM pos GROUP BY doc_id
    )
    SELECT m.doc_id, m.media_type,
           CAST(octet_length(encode(m.text)) AS BIGINT) AS payload_len,
           md5(m.text) AS payload_md5,
           CAST(COALESCE(su.s, 0) AS BIGINT) AS byte_sum
    FROM media m LEFT JOIN sums su ON m.doc_id = su.doc_id
    ORDER BY m.doc_id
    """,
    survey_ref="extended: multimodal feature extraction (Arrow-batched mapInPandas)",
)
def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.tables(spark, sf_dir)
    media = multimodal.media_from_documents(t["documents"])
    return multimodal.media_feature_extract(media).orderBy("doc_id")


@register(
    "media_frame_sample",
    oracle=f"""
    WITH media AS ({_DUCK_MEDIA}),
    v AS (SELECT doc_id, text FROM media WHERE media_type = 'video'),
    f AS (
      SELECT doc_id, text,
             unnest(range(0,
                          CAST(ceil(length(text) / {multimodal.FRAME_BYTES}.0) AS BIGINT),
                          {multimodal.FRAME_SAMPLE_EVERY})) AS frame_no
      FROM v
    )
    SELECT doc_id, CAST(frame_no AS BIGINT) AS frame_no,
           md5(substring(text, CAST(frame_no * {multimodal.FRAME_BYTES} + 1 AS BIGINT),
                         {multimodal.FRAME_BYTES})) AS frame_md5,
           CAST(least({multimodal.FRAME_BYTES},
                      length(text) - frame_no * {multimodal.FRAME_BYTES}) AS BIGINT)
             AS frame_len
    FROM f
    ORDER BY doc_id, frame_no
    """,
    survey_ref="extended: multimodal frame sampling (chunked binary via mapInPandas)",
)
def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.tables(spark, sf_dir)
    media = multimodal.media_from_documents(t["documents"])
    return multimodal.sample_frames(media).orderBy("doc_id", "frame_no")


@register(
    "media_decode_fake",
    oracle=f"""
    WITH media AS ({_DUCK_MEDIA})
    SELECT doc_id, media_type,
           CAST(16 + CAST(concat('0x', substr(md5(text), 1, 2)) AS INT) % 240 AS INT)
             AS width,
           CAST(16 + CAST(concat('0x', substr(md5(text), 3, 2)) AS INT) % 240 AS INT)
             AS height,
           CAST(1 + CAST(concat('0x', substr(md5(text), 5, 2)) AS INT) % 4 AS INT)
             AS n_channels
    FROM media
    ORDER BY doc_id
    """,
    survey_ref="extended: multimodal decode stub (deterministic fake decoder)",
)
def q_media_decode_fake(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.tables(spark, sf_dir)
    media = multimodal.media_from_documents(t["documents"])
    return multimodal.decode_media(media, deterministic_fake=True).orderBy("doc_id")
