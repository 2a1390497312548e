"""WebDataset-style tar-shard ingest for multimodal corpora.

The de-facto container for large multimodal training sets is a directory
of tar shards where one SAMPLE is a group of members sharing a basename:
``000123.jpg`` + ``000123.txt`` + ``000123.json`` (the layout of the
public WebDataset convention). The scale contract:

- **One task per shard.** Shards are read with Spark's ``binaryFile``
  source (one row per tar), so shard bytes move straight from storage to
  the executor that expands them — the driver never touches payloads, and
  parallelism = shard count, the WebDataset design point.
- **Expansion is a mapInPandas kernel** (stdlib ``tarfile`` over an
  in-memory buffer — tar is a flat offset format; no codec work happens
  here). Output rows are (sample key, extension, payload bytes, shard),
  which ``group_samples`` pivots into one row per sample with a
  bytes-valued map column — the shape the media operators
  (``phash_images`` etc.) and a caption/text column consumer both want.
- Deterministic: row order within a shard follows tar member order;
  sample keys are content of the archive, not invention.

At 100 TB: size ``spark.sql.files.maxPartitionBytes`` has no effect here
(each tar is one file-row); instead keep shards at the usual 0.1-1 GB and
let shard count drive parallelism. Re-sharding = read → repartition by
key-hash → ``sinks.write_corpus``.
"""

from __future__ import annotations

import io
import os
import tarfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
)

MEMBER_SCHEMA = StructType(
    [
        StructField("shard", StringType(), False),
        StructField("sample_key", StringType(), False),
        StructField("ext", StringType(), False),
        StructField("payload", BinaryType(), False),
    ]
)


def read_webdataset(spark: SparkSession, path: str) -> DataFrame:
    """Tar shards under ``path`` → one row per member:
    (shard, sample_key, ext, payload). ``sample_key`` is the member name
    up to the FIRST dot and ``ext`` everything after it (WebDataset's
    grouping rule, so ``x.seg.png`` keeps the compound ``seg.png`` ext).
    Directories and hidden metadata members are skipped."""
    shards = spark.read.format("binaryFile").load(
        os.path.join(path, "*.tar")
    ).select(
        F.col("path").alias("shard"), F.col("content").alias("_bytes")
    )

    def expand(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {"shard": [], "sample_key": [], "ext": [], "payload": []}
            for shard, blob in zip(pdf["shard"], pdf["_bytes"]):
                with tarfile.open(fileobj=io.BytesIO(blob)) as tf:
                    for m in tf:
                        if not m.isfile():
                            continue
                        name = os.path.basename(m.name)
                        if name.startswith("."):
                            continue
                        key, dot, ext = name.partition(".")
                        if not dot:
                            continue  # extension-less members carry no role
                        rows["shard"].append(shard)
                        rows["sample_key"].append(key)
                        rows["ext"].append(ext)
                        rows["payload"].append(tf.extractfile(m).read())
            yield pd.DataFrame(rows)

    return shards.mapInPandas(expand, schema=MEMBER_SCHEMA)


def group_samples(members: DataFrame) -> DataFrame:
    """Pivot member rows into one row per sample:
    (shard, sample_key, parts: map<ext, binary>). The map column keeps
    every modality of a sample co-located in one row — downstream ops
    select ``element_at(parts, 'jpg')`` etc. without a join. One shuffle
    on (shard, sample_key)."""
    return (
        members.groupBy("shard", "sample_key")
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("ext", "payload")))
            ).alias("parts")
        )
    )


def samples_as_media(
    samples: DataFrame,
    ext: str,
    mime: str,
    width: int | None = None,
    height: int | None = None,
) -> DataFrame:
    """Project one modality of a grouped-sample frame into the MEDIA_SCHEMA
    shape the fingerprint/dedup operators consume. ``media_id`` is derived
    from the (shard, sample_key) content pair (xxhash64 — stable across
    re-reads, no zipWithIndex / monotonically_increasing_id
    nondeterminism). The shard MUST participate in the hash: WebDataset
    shards conventionally number samples per-shard (``000000.jpg`` in
    every shard), so a key-only hash collides all same-basename samples
    across shards into one media_id."""
    return (
        samples.where(F.element_at("parts", ext).isNotNull())
        .select(
            F.xxhash64("shard", "sample_key").alias("media_id"),
            F.element_at("parts", ext).alias("payload"),
            F.lit(mime).alias("mime"),
            F.lit(width).cast("long").alias("width"),
            F.lit(height).cast("long").alias("height"),
        )
    )
