"""WebDataset shard writer — the standard container for
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
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from irivermetrics_spark.kernels import tar as tark
from irivermetrics_spark.operators import sharding

_MANIFEST_SCHEMA = "shard int, path string, n_samples bigint, n_bytes bigint"


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
