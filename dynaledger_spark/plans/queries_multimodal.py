"""Multimodal queries: binary media columns processed by mapInPandas stages.

The media table is synthesized deterministically from `documents`
(operators/multimodal.py:synthesize_media), so every stage — including
the stubbed decoder — has an exact DuckDB oracle. The decode itself is a
deterministic fake (codecs absent in this container, see the STUB NOTICE
in operators/multimodal.py); the Spark-side plumbing is real.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from dynaledger_spark.plans.registry import register

# Shared oracle fragment: the fake-decoded media table mirrored in SQL.
# codepoint fold == _fake_decode (utf-8 text by construction).
_DECODED_CTE = """
    decoded AS (
        SELECT doc_id AS media_id,
               CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                    WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
               CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png'
                    WHEN 1 THEN 'wav' ELSE 'mp4' END AS fmt,
               CAST(strlen(text) AS BIGINT) AS n_bytes,
               CAST(strlen(text) % 640 + 16 AS INT) AS width,
               CAST((CASE WHEN length(text) = 0 THEN 0
                          ELSE ascii(text[1:1]) END * 7) % 480 + 16 AS INT) AS height,
               CAST(COALESCE(list_aggregate(
                   list_transform(range(1, length(text) + 1),
                                  i -> CAST(ascii(text[i:i]) AS BIGINT)),
                   'sum'), 0) % 2147483648 AS BIGINT) AS checksum,
               CAST(length(text) AS BIGINT) * 10 AS duration_ms
        FROM documents
    )
"""


def _media_decoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dynaledger_spark.operators.multimodal import decode_media, synthesize_media

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return decode_media(synthesize_media(docs))


@register(
    "media_decode_meta",
    doc="binary media → typed metadata via Arrow-batched mapInPandas",
    oracle=f"""
        WITH {_DECODED_CTE}
        SELECT media_id, kind, fmt, n_bytes, width, height, checksum, duration_ms,
               'stub' AS decoder
        FROM decoded
    """,
)
def media_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decode stage end-to-end: binary column in, typed metadata out,
    one Arrow batch at a time. Each row's `decoder` column reports which
    path decoded it — real codecs engage automatically when importable
    AND the bytes parse; the synthetic table's utf-8 content never does,
    so the oracle pins decoder='stub' in every environment while real
    media auto-upgrades (operators/multimodal.py:_decode_one).
    """
    return _media_decoded(spark, sf_dir)


@register(
    "media_resize_dims",
    doc="aspect-preserving resize dims (JVM integer math on decoded meta)",
    oracle=f"""
        WITH {_DECODED_CTE}
        SELECT media_id, width, height,
               CAST((width * 224) // greatest(width, height) AS INT) AS out_w,
               CAST((height * 224) // greatest(width, height) AS INT) AS out_h
        FROM decoded
    """,
)
def media_resize_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dynaledger_spark.operators.multimodal import resize_plan

    return resize_plan(_media_decoded(spark, sf_dir))


@register(
    "media_frame_sample",
    doc="1 Hz frame sampling of video rows — 1→N row expansion in mapInPandas",
    oracle=f"""
        WITH {_DECODED_CTE}
        SELECT d.media_id,
               CAST(f.i AS INT) AS frame_idx,
               CAST(f.i AS BIGINT) * 1000 AS frame_ts_ms,
               CAST((d.checksum + f.i) % 2147483648 AS BIGINT) AS frame_checksum
        FROM decoded d,
             LATERAL (SELECT unnest(range(0, d.duration_ms // 1000 + 1)) AS i) f
        WHERE d.kind = 'video'
    """,
)
def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dynaledger_spark.operators.multimodal import sample_frames

    return sample_frames(_media_decoded(spark, sf_dir))


@register(
    "media_features",
    doc="fake feature extraction per media row, exploded to scalar rows",
    oracle=f"""
        WITH {_DECODED_CTE}
        SELECT media_id,
               CAST(f.i AS INT) AS feat_idx,
               CAST((checksum * (f.i + 31)) % 1000 AS DOUBLE) / 1000.0 AS feat
        FROM decoded, LATERAL (SELECT unnest(range(0, 8)) AS i) f
    """,
)
def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dynaledger_spark.operators.multimodal import extract_features

    return extract_features(_media_decoded(spark, sf_dir))
