"""Multimodal columns: opaque binary payloads + typed metadata.

Images/audio/video are carried as ``binary`` columns with a metadata
struct; decode / feature-extraction runs as Arrow-batched pandas
functions over ``mapInPandas`` — the real Spark-side plumbing (schema,
batching, partitioning) with the codec itself stubbed, because no
image/audio libraries exist in this environment.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("meta", T.StructType([
            T.StructField("source", T.StringType()),
            T.StructField("declared_chars", T.LongType()),
        ])),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("digest", T.StringType()),
        T.StructField("fake_dim0", T.DoubleType()),
    ]
)


def documents_as_media(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Adapter: treat document text bytes as an opaque media payload —
    exercises the binary-column path end-to-end."""
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.lit("text/plain").alias("media_type"),
        F.struct(
            F.col("source").alias("source"),
            F.col("n_chars").cast("long").alias("declared_chars"),
        ).alias("meta"),
    )


def extract_features_builtin(media: DataFrame) -> DataFrame:
    """The shipped feature kernel: pure JVM column expressions over the
    binary payload — whole-stage codegen, zero Python in the plan. Use
    ``extract_features`` (mapInPandas) only when a real codec must run;
    anything expressible as built-ins belongs here (north rule: no
    per-row Python on the hot path).
    """
    digest = F.sha2(F.col("payload"), 256)
    return media.select(
        "media_id",
        F.length(F.col("payload")).cast("long").alias("byte_len"),
        digest.alias("digest"),
        (F.conv(F.substring(digest, 1, 8), 16, 10).cast("bigint") / F.lit(4294967296.0)).alias(
            "fake_dim0"
        ),
    )


def extract_features(media: DataFrame, batch_size_hint: int = 1024) -> DataFrame:
    """mapInPandas feature extraction over binary payloads — the codec
    extension point (a real image/audio decoder slots into ``run``).
    Produces the same columns as ``extract_features_builtin``; tests
    assert the two paths agree.

    At scale: payloads are large, so partitions should be sized by bytes
    (spark.sql.files.maxPartitionBytes), and the Arrow batch size tuned
    via spark.sql.execution.arrow.maxRecordsPerBatch; the transform is
    embarrassingly parallel — no shuffle.
    """

    # NB: `run` must be self-contained (no references to module-level
    # functions): cloudpickle ships nested functions by value, so the
    # executor never needs panorama_elt_spark importable — the package
    # works even when the consumer added it to sys.path at runtime.
    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hl

        import pandas as _pd

        for pdf in batches:
            digests = pdf["payload"].map(lambda b: _hl.sha256(b).hexdigest())
            feats = _pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "byte_len": pdf["payload"].map(len).astype("int64"),
                    "digest": digests,
                    "fake_dim0": digests.str.slice(0, 8).map(lambda h: int(h, 16) / 16**8),
                }
            )
            yield feats

    return media.select("media_id", "payload").mapInPandas(run, schema=FEATURE_SCHEMA)
