"""Multimodal column plumbing: image/audio/video as opaque `binary`
columns with typed metadata, processed via Arrow-batched `mapInPandas`.

The decode step itself is STUBBED (no image/audio libraries in this
container): `decode_image_stub` derives deterministic fake metadata from
the bytes, and `decode_image_real` raises NotImplementedError with the
intended signature. Everything Spark-side is real and tested — schema,
binary handling, Arrow batch shape, partition-parallel execution — so
swapping in a real codec is a one-function change.

Scale notes: mapInPandas streams Arrow batches (no per-row pickling);
binary payloads stay in the executor. At 100 TB of media you'd read
`binaryFile` datasets partitioned by content hash prefix and keep
`spark.sql.execution.arrow.maxRecordsPerBatch` small enough that a
batch of decoded frames fits in executor memory.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from tiny_etl_multiproc_bigdata_spark.catalog import table
from tiny_etl_multiproc_bigdata_spark.functions.hashing import duck_md5_long
from tiny_etl_multiproc_bigdata_spark.plans.registry import register

DECODED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("fake_width", LongType()),
        StructField("fake_height", LongType()),
        StructField("format_guess", StringType()),
    ]
)


def decode_image_real(payload: bytes) -> dict:
    """Placeholder for a real decoder (PIL/libvips/ffmpeg): returns
    {width, height, format, frames}. Not available in this container."""
    raise NotImplementedError(
        "image decoding requires an imaging library not present in this "
        "environment; use decode_image_stub for plumbing tests"
    )


def decode_binary_column(df: DataFrame) -> DataFrame:
    """mapInPandas over (doc_id, payload: binary) → DECODED_SCHEMA.

    The batch function is a local closure ON PURPOSE: cloudpickle then
    serializes it by value, so Python workers need neither this package
    on their PYTHONPATH nor an addPyFile — the engine stays usable from
    any driver process (the external verification driver imports us
    from a runtime-injected sys.path entry that workers don't inherit).
    """

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        for pdf in batches:
            n_bytes = pdf["payload"].map(len)
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n_bytes,
                    "fake_width": n_bytes % 640,
                    "fake_height": n_bytes % 480,
                    "format_guess": pdf["payload"].map(
                        lambda b: "txt" if b[:1].isalpha() else "bin"
                    ),
                }
            )

    return df.mapInPandas(decode_batches, DECODED_SCHEMA)


@register(
    "multimodal_binary_metadata",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text)                            AS content_md5
    FROM documents
    """,
)
def multimodal_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary handling: cast a column to binary, compute typed
    metadata (byte length, content hash) JVM-side. The pattern for any
    media column: metadata flows through Catalyst, payload stays opaque."""
    d = table(spark, sf_dir, "documents")
    payload = F.col("text").cast("binary")
    return d.select(
        "doc_id",
        F.length(payload).cast("bigint").alias("n_bytes"),
        F.md5(payload).alias("content_md5"),
    )


@register(
    "multimodal_decode_stub",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT)       AS n_bytes,
           CAST(octet_length(encode(text)) % 640 AS BIGINT) AS fake_width,
           CAST(octet_length(encode(text)) % 480 AS BIGINT) AS fake_height,
           CASE WHEN regexp_matches(substr(text, 1, 1), '[A-Za-z]')
                THEN 'txt' ELSE 'bin' END              AS format_guess
    FROM documents WHERE text IS NOT NULL
    """,
)
def multimodal_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full multimodal plumbing path, end to end: binary payload
    column → Arrow-batched mapInPandas decode (stubbed deterministic) →
    typed metadata DataFrame. The decode function is the only stub; the
    oracle checks the plumbing produces exactly the declared schema and
    values."""
    # input contract (r11 NULL-parity audit): a NULL payload can't be
    # decoded — the worker would TypeError on len(None)
    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    payloads = d.select("doc_id", F.col("text").cast("binary").alias("payload"))
    return decode_binary_column(payloads)


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame_md5", StringType()),
    ]
)

_FRAME_STRIDE = 2


@register(
    "multimodal_frame_sample",
    oracle=f"""
    SELECT doc_id,
           CAST(i.idx AS BIGINT) AS frame_idx,
           md5(text || '#' || CAST(i.idx AS VARCHAR)) AS frame_md5
    FROM documents,
         unnest(range(0, octet_length(encode(text)) % 7 + 2,
                      {_FRAME_STRIDE})) AS i(idx)
    WHERE text IS NOT NULL
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling plumbing: each binary payload expands to a
    strided subset of its frames (one output row per sampled frame) via
    row-expanding Arrow-batched mapInPandas — the shape ``applyInPandas``
    can't express (output cardinality differs per input row). The
    "decode" is a deterministic fake (frame count from byte length,
    frame id = md5 of payload#idx); a real ffmpeg-backed sampler swaps
    into the same batch function, schema, and partitioning untouched.
    Input contract (r11 NULL-parity audit): NULL payloads excluded on
    both engines."""
    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    payloads = d.select("doc_id", F.col("text").cast("binary").alias("payload"))

    def sample_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # local closure: pickled by value, workers don't need the package
        import hashlib

        import pandas as _pd

        for pdf in batches:
            out_doc, out_idx, out_md5 = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n_frames = len(payload) % 7 + 2
                for idx in range(0, n_frames, _FRAME_STRIDE):
                    out_doc.append(doc_id)
                    out_idx.append(idx)
                    out_md5.append(
                        hashlib.md5(
                            payload + b"#" + str(idx).encode()
                        ).hexdigest()
                    )
            yield _pd.DataFrame(
                {"doc_id": out_doc, "frame_idx": out_idx, "frame_md5": out_md5}
            )

    return payloads.mapInPandas(sample_batches, FRAME_SCHEMA)


_N_FEATURES = 8
FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("features_csv", StringType()),
        StructField("feat_l1", LongType()),
    ]
)


def _duck_feat(i: int) -> str:
    h = duck_md5_long(f"text || '|f{i}'")
    return f"({h} % 2001 - 1000)"


@register(
    "multimodal_feature_extract",
    oracle=f"""
    SELECT doc_id,
           {" || ',' || ".join(f"CAST({_duck_feat(i)} AS VARCHAR)" for i in range(_N_FEATURES))}
             AS features_csv,
           CAST({" + ".join(f"abs({_duck_feat(i)})" for i in range(_N_FEATURES))}
                AS BIGINT) AS feat_l1
    FROM documents WHERE text IS NOT NULL
    """,
)
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-extraction plumbing: every binary payload maps to a
    fixed-width embedding through Arrow-batched mapInPandas — the
    CLIP/encoder slot of a multimodal curation pipeline. The extractor
    here is a deterministic md5-derived fake (component i =
    md5(payload||'|f'||i) reduced to a small signed int), which keeps
    the whole path — batch shape, schema, partition parallelism — real
    AND value-hash-verifiable cross-engine; a real encoder swaps into
    the same batch function with the feature array written as
    list<float> instead. Features are emitted comma-joined (the
    agg_collect_set convention: the verifier's canonicalizer can't
    hash list cells) plus an integer L1 norm.

    100 TB shape: map-only Arrow batches; at real scale the batch
    function holds the model and `maxRecordsPerBatch` bounds activation
    memory — the plumbing is identical. Input contract (r11
    NULL-parity audit): NULL payloads excluded on both engines."""
    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    payloads = d.select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # local closure: pickled by value, workers don't need the package
        import hashlib

        import pandas as _pd

        def feats(payload: bytes) -> list[int]:
            out = []
            for i in range(8):
                h = hashlib.md5(payload + f"|f{i}".encode()).hexdigest()
                out.append(int(h[:15], 16) % 2001 - 1000)
            return out

        for pdf in batches:
            rows = [feats(p) for p in pdf["payload"]]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "features_csv": [
                        ",".join(str(x) for x in r) for r in rows
                    ],
                    "feat_l1": [sum(abs(x) for x in r) for r in rows],
                }
            )

    return payloads.mapInPandas(extract, FEATURE_SCHEMA)


_RESIZE_TARGET = 224


@register(
    "multimodal_resize_plan",
    oracle=f"""
    SELECT doc_id,
           w, h,
           CAST(greatest(w * s // 1000000, 1) AS BIGINT) AS target_w,
           CAST(greatest(h * s // 1000000, 1) AS BIGINT) AS target_h,
           CAST(greatest(w * s // 1000000, 1)
                * greatest(h * s // 1000000, 1) * 3 AS BIGINT)
             AS rgb_bytes
    FROM (
      SELECT doc_id, w, h,
             least({_RESIZE_TARGET} * 1000000 // w,
                   {_RESIZE_TARGET} * 1000000 // h) AS s
      FROM (
        SELECT doc_id,
               greatest(octet_length(encode(text)) % 640, 1) AS w,
               greatest(octet_length(encode(text)) % 480, 1) AS h
        FROM documents
      )
    )
    """,
)
def multimodal_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize planning: aspect-ratio-preserving fit of each (stub-
    decoded) image into a 224×224 box, all in integer micro-scale
    arithmetic (positive operands, so Spark's truncating div equals
    DuckDB's floor div), plus the decoded RGB byte budget — the number
    that sizes Arrow batches for the actual pixel pass. The pixel
    resample itself lives in the decode stub's slot (no imaging libs
    in-container); the PLAN — dims, scale, memory — is the Catalyst-
    side math a media pipeline runs before any decoder, and that part
    is real and oracle-checked. Map-only, zero shuffles."""
    d = table(spark, sf_dir, "documents")
    nb = F.length(F.col("text").cast("binary"))
    w = F.greatest(nb % 640, F.lit(1)).cast("bigint")
    h = F.greatest(nb % 480, F.lit(1)).cast("bigint")
    base = d.select("doc_id", w.alias("w"), h.alias("h"))
    s = F.least(
        F.floor(F.lit(_RESIZE_TARGET * 1_000_000) / F.col("w")),
        F.floor(F.lit(_RESIZE_TARGET * 1_000_000) / F.col("h")),
    ).cast("bigint")
    planned = base.select("doc_id", "w", "h", s.alias("s"))
    tw = F.greatest(
        F.floor(F.col("w") * F.col("s") / 1_000_000), F.lit(1)
    ).cast("bigint")
    th = F.greatest(
        F.floor(F.col("h") * F.col("s") / 1_000_000), F.lit(1)
    ).cast("bigint")
    return planned.select(
        "doc_id",
        "w",
        "h",
        tw.alias("target_w"),
        th.alias("target_h"),
        (tw * th * 3).cast("bigint").alias("rgb_bytes"),
    )
