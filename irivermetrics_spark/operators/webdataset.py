"""WebDataset shard writer/reader — the standard container for
multimodal training data (images+captions+metadata streamed as tar
shards; the format trainers like webdataset/torchdata consume).

Sample convention (public WebDataset spec): members group into samples
by the basename up to the FIRST dot — ``000017.jpg`` + ``000017.txt``
+ ``000017.json`` are one sample; the remainder ("jpg", "txt",
"json", including dotted exts like "seg.png") is the field name.
Members of one sample are CONSECUTIVE in the tar so a streaming reader
needs no index.

Scale shape:
- **write**: shard membership/order comes from ``sharding``'s seeded
  deterministic shuffle (pure function of (key, seed) → re-runs emit
  bit-identical shards). One ``repartition(n, shard)`` Exchange whose
  HashPartitioning feeds the per-shard ``applyInPandas`` (group
  integrity matters — Arrow batch splitting in mapInPandas would
  fracture a shard across calls). A whole shard is built in memory:
  size shards via ``n_shards`` so rows_per_shard × payload ≲ 1 GiB,
  the grain trainers want anyway.
- **read**: ``binaryFile`` over ``*.tar`` — file-grain parallelism,
  same as the WARC/NetCDF ingests; one mapInPandas parses with the
  bounds-checked kernels/tar.py reader; corrupt archives dead-letter
  into an ``error`` column instead of failing the task.
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from irivermetrics_spark.kernels import tar as tark
from irivermetrics_spark.operators import sharding

_MANIFEST_SCHEMA = "shard int, path string, n_samples bigint, n_bytes bigint"
_MEMBER_SCHEMA = ("shard_path string, key string, ext string, "
                  "bytes binary, error string")


def split_member_name(name: str) -> tuple[str, str]:
    """WebDataset rule: key = basename up to the FIRST dot; ext = the
    rest (so 'a/b/0001.seg.png' -> key 'a/b/0001', ext 'seg.png')."""
    d, _, b = name.rpartition("/")
    key, dot, ext = b.partition(".")
    return (f"{d}/{key}" if d else key), (ext if dot else "")


def write_webdataset(samples: DataFrame, outdir: str, n_shards: int,
                     payload_cols: list[str], key_col: str = "key",
                     seed: int = 0,
                     shard_name: str = "shard-{:05d}.tar") -> DataFrame:
    """Write one tar member per non-null payload column per row
    (``{key}.{col}`` — name columns after their field/extension, e.g.
    ``jpg``, ``txt``, ``json``). String payloads are UTF-8 encoded;
    binary pass through. Keys must be unique (samples would interleave
    otherwise — enforced per shard). Returns the manifest
    (shard, path, n_samples, n_bytes) as a DataFrame; the action runs
    eagerly so the files exist on return."""
    if not payload_cols:
        raise ValueError("payload_cols must name at least one column")
    missing = [c for c in payload_cols if c not in samples.columns]
    if missing:
        raise ValueError(f"payload columns not in frame: {missing}")
    os.makedirs(outdir, exist_ok=True)

    if "wds_key" in payload_cols:
        raise ValueError("payload column name 'wds_key' is reserved")
    assigned = sharding.shard_assignments(
        samples, n_shards, seed=seed, id_col=key_col)
    cols = [F.col(key_col).cast("string").alias("wds_key"),
            "shard", "shard_pos"]
    for c in payload_cols:
        cols.append(F.col(c).cast("binary").alias(c))
    slim = assigned.select(*cols).repartition(n_shards, "shard")

    def emit(key, pdf):
        shard = int(key[0])
        pdf = pdf.sort_values("shard_pos", kind="mergesort")
        keys = pdf["wds_key"].tolist()
        if len(set(keys)) != len(keys):
            dup = next(k for k in keys if keys.count(k) > 1)
            raise ValueError(f"duplicate sample key in shard {shard}: {dup!r}")
        for k in keys:
            # readers split member names at the FIRST dot of the
            # basename: a dotted key would silently merge distinct
            # samples on read-back
            if "." in k.rpartition("/")[2]:
                raise ValueError(f"sample key contains '.': {k!r} — "
                                 "dots are the field separator in "
                                 "WebDataset member names")
        members = []
        for _, row in pdf.iterrows():
            for c in payload_cols:
                v = row[c]
                if v is None:
                    continue
                members.append((f"{row['wds_key']}.{c}", bytes(v)))
        blob = tark.write_tar(members)
        path = os.path.join(outdir, shard_name.format(shard))
        # executors write via local open() — the same seam as the
        # GeoTIFF/shapefile sinks (exports.py); on a real cluster point
        # outdir at a shared mount or swap open() for a Hadoop FS client
        with open(path, "wb") as f:
            f.write(blob)
        return pd.DataFrame([dict(shard=shard, path=path,
                                  n_samples=len(pdf), n_bytes=len(blob))])

    manifest = (slim.groupBy("shard")
                .applyInPandas(emit, schema=_MANIFEST_SCHEMA))
    out = manifest.toPandas()  # eager (files exist on return); <= n_shards rows
    return samples.sparkSession.createDataFrame(out, schema=_MANIFEST_SCHEMA)


def read_webdataset(spark: SparkSession, path: str) -> DataFrame:
    """Tar shards → one row per member: (shard_path, key, ext, bytes,
    error). A corrupt archive yields ONE dead-letter row (bytes NULL,
    error = the parse failure) — filter ``error IS NULL`` for data,
    ``error IS NOT NULL`` for the quarantine stream."""
    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", "*.[tT][aA][rR]")
             .option("recursiveFileLookup", "true")
             .load(path)
             .select("path", "content"))
    return members_from_files(files)


def stream_webdataset(spark: SparkSession, path: str,
                      max_file_age: str = "3650d") -> DataFrame:
    """readStream over a growing shard directory — the binaryFile
    source is a FileFormat, so FileStreamSource tails it with
    exactly-once file tracking (same machinery as the nc/tif mask
    streams); each micro-batch parses its NEW shards through the SAME
    member kernel as the batch path, so batch and stream cannot
    diverge. The grain trainers want for follow-the-crawl ingestion.

    ``max_file_age`` pins FileStreamSource's ``maxFileAge`` (default
    7 DAYS): backfilling a shard dir with mtime-preserving copies
    (rsync -a / distcp) would otherwise silently skip week-old files —
    exactly the corpus-import case this ingest exists for. The cost is
    a seen-files log that grows with file count, which exactly-once
    tracking needs anyway."""
    from pyspark.sql.types import (BinaryType, LongType, StringType,
                                   StructField, StructType, TimestampType)

    schema = StructType([StructField("path", StringType()),
                         StructField("modificationTime", TimestampType()),
                         StructField("length", LongType()),
                         StructField("content", BinaryType())])
    files = (spark.readStream.format("binaryFile")
             .schema(schema)
             .option("pathGlobFilter", "*.[tT][aA][rR]")
             .option("recursiveFileLookup", "true")
             .option("maxFileAge", max_file_age)
             .load(path)
             .select("path", "content"))
    return members_from_files(files)


def members_from_files(files: DataFrame) -> DataFrame:
    """(path, content) frame — batch or streaming — → member rows."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                try:
                    for name, data in tark.iter_tar(bytes(rec.content)):
                        key, ext = split_member_name(name)
                        rows.append(dict(shard_path=rec.path, key=key,
                                         ext=ext, bytes=data, error=None))
                except ValueError as e:
                    rows.append(dict(shard_path=rec.path, key=None, ext=None,
                                     bytes=None, error=str(e)))
            yield pd.DataFrame(rows, columns=["shard_path", "key", "ext",
                                              "bytes", "error"])

    return files.mapInPandas(parse, schema=_MEMBER_SCHEMA)


def pivot_samples(members: DataFrame, exts: list[str]) -> DataFrame:
    """Member rows → one row per sample with one binary column per
    field in ``exts`` (NULL where the sample lacks it). One shuffle
    (groupBy key); the ext list is explicit so the output schema is
    static — no pivot-value scan job."""
    aggs = [F.first(F.when(F.col("ext") == e, F.col("bytes")),
                    ignorenulls=True).alias(e) for e in exts]
    return (members.where(F.col("error").isNull())
            .groupBy("key").agg(*aggs))
