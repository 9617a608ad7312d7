"""Multimodal (image/audio/video) column plumbing.

Treats media as opaque ``binary`` payload columns with typed metadata, the
way a crawl-scale training pipeline stores them next to text. The decode /
feature-extract step runs as an Arrow-batched pandas UDF over
``mapInPandas`` — the Spark-side plumbing (schema, batch shape, partition
behavior) is real and tested; the pixel/sample decode itself is a
deterministic md5-derived pseudo decode (``_fake_decode``, the seam where a
PIL/libav call would go), so tests and the DuckDB oracle can verify the
full path.

Fake-feature parity note: ``mean_byte_u`` equals the mean code point of
the text the payload was encoded from ONLY for ASCII payloads (the
sandbox's documents are ASCII); the oracle relies on that equivalence.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ps_pagerank_spark.session import drop_zip_importers

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, n_bytes long, src_url string"
)

FEATURE_SCHEMA = (
    "media_id long, kind string, n_bytes long, width int, height int, "
    "channels int, mean_byte_u long, content_hash string"
)


def media_from_documents(docs: DataFrame, kind: str = "image") -> DataFrame:
    """Wrap a text table as a media table (payload = UTF-8 bytes) — the
    test stand-in for real WARC image records."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit(kind).alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.octet_length(F.encode(F.col("text"), "UTF-8"))
        .cast("long")
        .alias("n_bytes"),
        F.concat(F.lit("warc://media/"), F.col("doc_id")).alias("src_url"),
    )


def _fake_decode(payload: bytes) -> tuple[int, int, int, int, str]:
    """Deterministic pseudo-decode: md5-derived dims + mean byte value.
    This is the seam where PIL.Image.open(io.BytesIO(payload)) would go."""
    digest = hashlib.md5(payload).hexdigest()
    h = int(digest[:15], 16)
    width = 1 + h % 1024
    height = 1 + (h // 1024) % 1024
    arr = np.frombuffer(payload, dtype=np.uint8)
    mean_u = int(np.floor(arr.mean() * 1e6)) if arr.size else 0
    return width, height, 3, mean_u, digest


def extract_media_features(media: DataFrame) -> DataFrame:
    """Decode/feature-extract via mapInPandas (Arrow batches).

    Scale shape: one batch ≈ spark.sql.execution.arrow.maxRecordsPerBatch
    rows; payloads stay in Arrow buffers until the decode touches them;
    output is a narrow typed feature row per media item, so the heavy
    binary column is dropped before any shuffle.
    """
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        for pdf in batches:
            feats = [_fake_decode(bytes(p)) for p in pdf["payload"]]
            out = pd.DataFrame(
                feats,
                columns=[
                    "width",
                    "height",
                    "channels",
                    "mean_byte_u",
                    "content_hash",
                ],
            )
            out.insert(0, "media_id", pdf["media_id"].to_numpy())
            out.insert(1, "kind", pdf["kind"].to_numpy())
            out.insert(2, "n_bytes", pdf["n_bytes"].to_numpy())
            yield out

    return media.mapInPandas(gen, schema=FEATURE_SCHEMA)


def media_features_sql(docs_sql: str) -> str:
    """DuckDB twin of media_from_documents → extract_media_features
    (valid for ASCII text payloads — see module docstring)."""
    h = "CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)"
    mean_cp = (
        "CASE WHEN length(text) = 0 THEN 0 ELSE "
        "CAST(FLOOR(CAST(list_sum(list_transform(split(text, ''), "
        "c -> ascii(c))) AS DOUBLE) / length(text) * 1000000.0) AS BIGINT) END"
    )
    return f"""
SELECT doc_id AS media_id, 'image' AS kind,
       CAST(length(text) AS BIGINT) AS n_bytes,
       CAST(1 + {h} % 1024 AS INTEGER) AS width,
       CAST(1 + ({h} // 1024) % 1024 AS INTEGER) AS height,
       3 AS channels,
       {mean_cp} AS mean_byte_u,
       md5(text) AS content_hash
FROM {docs_sql}"""
