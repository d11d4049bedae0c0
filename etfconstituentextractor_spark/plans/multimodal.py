"""Multimodal columns (SURVEY.md §2B "LLM-pipeline — multimodal"):
opaque binary payloads with typed metadata, decoded by an executor-side
Pandas-UDF stage — the Spark-side plumbing of an image/audio pipeline.

Fixture strategy mirrors the document pipeline: the "image" blobs are
BUILT deterministically as binary column expressions (magic bytes +
8-hex length header + UTF-8 payload), then DECODED back by a
`mapInPandas` stage that validates the magic, parses the header and
fingerprints the payload. Because the blob derives from `documents`,
the DuckDB oracle states the expected decode directly — hash-matched.

The codec decode here uses a deterministic header-derived fake
(width/height from payload length) because THESE fixture payloads are
arbitrary text bytes, not a real codec stream, so q95's oracle checks
no codec. The Spark-side shape — BinaryType column, Arrow batch
transfer, typed struct out, error row on corrupt input — is the real,
tested part, and is exactly what a production decode would plug
into. A `binaryFile` source read is exercised in the unit tests (repo
fixture files; no oracle view exists for out-of-corpus files).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etfconstituentextractor_spark.plans.registry import query
from etfconstituentextractor_spark.sources.tables import load

_MAGIC = b"IMG0"

#: decode-stage output schema (error row on corrupt blobs).
DECODE_SCHEMA = (
    "doc_id bigint, error string, payload_len bigint, payload_md5 string, "
    "width int, height int"
)


def _decode_meta(payload: bytes) -> tuple[int, int]:
    """STUB image decode: deterministic fake dimensions derived from
    the payload length (the fixture payloads are text, not pixels)."""
    return len(payload) % 640 + 1, len(payload) % 480 + 1


def decode_blobs(blobs: DataFrame) -> DataFrame:
    """Binary → typed metadata via mapInPandas (Arrow batches carry the
    raw bytes; one Python call per ~10k-row batch, not per row)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                b = bytes(blob)
                if b[:4] != _MAGIC:
                    out.append((doc_id, "bad_magic", None, None, None, None))
                    continue
                try:
                    n = int(b[4:12].decode("ascii"), 16)
                    payload = b[12:]
                    if len(payload) != n:
                        raise ValueError(f"length {len(payload)} != header {n}")
                except Exception as exc:
                    out.append((doc_id, f"bad_header: {exc}", None, None, None, None))
                    continue
                w, h = _decode_meta(payload)
                out.append(
                    (doc_id, None, n, hashlib.md5(payload).hexdigest(), w, h)
                )
            yield pd.DataFrame(
                out,
                columns=["doc_id", "error", "payload_len", "payload_md5", "width", "height"],
            )

    return blobs.select("doc_id", "blob").mapInPandas(gen, schema=DECODE_SCHEMA)


# ---------------------------------------------------------------------------
# q95 — binary blobs end-to-end: build (JVM-side concat of encoded
# parts; docs with doc_id % 11 = 0 get corrupted magic bytes), decode
# executor-side with error rows, then LEFT-join the embeddings table
# (ArrayType(Float) column) for a per-doc vector norm — binary and
# array modalities in one typed result.
# ---------------------------------------------------------------------------
@query(
    "q95_multimodal_binary",
    oracle="""
    WITH dec AS (
      SELECT doc_id,
             CASE WHEN doc_id % 11 = 0 THEN 'bad_magic' END AS error,
             CASE WHEN doc_id % 11 <> 0 THEN octet_length(encode(text)) END AS payload_len,
             CASE WHEN doc_id % 11 <> 0 THEN md5(text) END AS payload_md5,
             CASE WHEN doc_id % 11 <> 0 THEN CAST(octet_length(encode(text)) % 640 + 1 AS INT) END AS width,
             CASE WHEN doc_id % 11 <> 0 THEN CAST(octet_length(encode(text)) % 480 + 1 AS INT) END AS height
      FROM documents
    )
    SELECT dec.*,
           ROUND(sqrt(list_sum(list_transform(e.embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS emb_norm
    FROM dec LEFT JOIN embeddings e ON dec.doc_id = e.vec_id
    """,
)
def q95_multimodal_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    magic = F.when(F.col("doc_id") % 11 == 0, F.lit("XXX0")).otherwise(F.lit("IMG0"))
    blob = F.concat(
        F.encode(magic, "UTF-8"),
        F.encode(F.lpad(F.hex(F.octet_length("text")), 8, "0"), "UTF-8"),
        F.encode(F.col("text"), "UTF-8"),
    )
    blobs = d.select("doc_id", blob.alias("blob"))
    decoded = decode_blobs(blobs)
    e = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        F.round(
            F.sqrt(
                F.expr(
                    "aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
                    "0D, (acc, x) -> acc + x)"
                )
            ),
            6,
        ).alias("emb_norm"),
    )
    return decoded.join(e, "doc_id", "left")
