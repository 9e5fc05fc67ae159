"""Per-partition lineage, metrics, and resumable checkpointed writes.

North-rule requirement: "each partition writes lineage records and row/byte
metrics ... so jobs resume from the last committed checkpoint".

With an Iceberg catalog this is one ``df.writeTo(t).append()`` per batch —
the lineage rows ride in the same transaction and resume reads the snapshot
log.  This sandbox has no Iceberg jar, so the equivalent is built on the
parquet layout the same way Iceberg's manifest list works:

  out/
    data/pkey=<k>/...parquet       <- partitioned data files
    _lineage/part-*.parquet        <- manifests: each batch appends one Spark
                                      part file, one row per logical
                                      partition that batch committed

A batch is committed IFF its manifest rows exist (the manifest append runs
strictly after the data write returns); a crash between data and manifest
leaves orphan data dirs that the next run simply overwrites (dynamic
partition overwrite, set per write -> idempotent).  Resume = set-difference
of requested partition keys against the committed manifest union — the
"anti-join committed partition ids" plan from SURVEY.md §7.7.

Each batch costs one data job plus one tiny manifest write.  Row counts are
observed from the data write itself (a Spark ``Observation`` with one
``count_if`` per key), never read back from disk, and the manifest is built
as a local Arrow relation (``LocalTableScan``), so appending it runs no
Python worker and reads no parent partition.

Lineage row schema:
  pkey bigint        — logical partition key (e.g. tile_y band)
  n_rows bigint      — rows written for that partition (observed)
  n_bytes bigint     — bytes on disk for that partition dir
  wall_ms bigint     — wall time of the batch that wrote it
  batch_id string    — "<k0>-<k1>" (ordered, deterministic)
  input_desc string  — free-form input provenance
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

LINEAGE_DIR = "_lineage"
DATA_DIR = "data"


def committed_keys(spark: SparkSession, out_dir: str) -> set[int]:
    ldir = os.path.join(out_dir, LINEAGE_DIR)
    if not os.path.isdir(ldir) or not any(
        f.endswith(".parquet") for f in os.listdir(ldir)
    ):
        return set()
    rows = spark.read.parquet(ldir).select("pkey").collect()
    return {r.pkey for r in rows}


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, LINEAGE_DIR))


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def run_resumable(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    pkey_col: str,
    all_keys: list[int],
    *,
    batch_size: int = 8,
    input_desc: str = "",
) -> dict:
    """Write ``df`` partitioned by ``pkey_col``, committing lineage per batch.

    Already-committed partition keys are skipped entirely (their source rows
    are never recomputed — the filter prunes them at the scan).  Returns a
    summary dict {written_keys, skipped_keys, batches}.
    """
    ldir = os.path.join(out_dir, LINEAGE_DIR)
    os.makedirs(ldir, exist_ok=True)
    done = committed_keys(spark, out_dir)
    todo = sorted(set(all_keys) - done)
    data_path = os.path.join(out_dir, DATA_DIR)
    key = F.col(pkey_col)
    batches = 0
    for i in range(0, len(todo), batch_size):
        keys = [int(k) for k in todo[i:i + batch_size]]
        obs = Observation()
        part = df.where(key.isin(keys)).observe(
            obs, *[F.count_if(key == k).alias(str(k)) for k in keys]
        )
        t0 = time.time()
        (part.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
         .partitionBy(pkey_col).parquet(data_path))
        wall_ms = int((time.time() - t0) * 1000)
        counts = obs.get
        manifest = pa.table({  # python ints -> int64, str -> string
            "pkey": keys,
            "n_rows": [counts[str(k)] for k in keys],
            "n_bytes": [_dir_bytes(os.path.join(data_path, f"{pkey_col}={k}")) for k in keys],
            "wall_ms": [wall_ms] * len(keys),
            "batch_id": [f"{keys[0]}-{keys[-1]}"] * len(keys),
            "input_desc": [input_desc] * len(keys),
        })
        # manifest written AFTER the data commit: its existence IS the commit
        spark.createDataFrame(manifest).coalesce(1).write.mode("append").parquet(ldir)
        batches += 1
    return {"written_keys": todo, "skipped_keys": sorted(done), "batches": batches}
