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

A batch is a row budget, not a key count: the caller passes the expected
rows per key, and the sorted uncommitted keys are packed into consecutive
batches of at most ``batch_rows`` rows.  A key is never split; one that alone
exceeds the budget gets a batch of its own.  Skewed keys (the 30 ``tile_y``
bands of a 100k-document input hold from about 650 to 80,650 rows) thus no
longer give one heavy batch and several nearly empty ones that each pay the
full fixed cost of a data job, a manifest and a re-planned join.

``BATCH_ROWS`` (1M) balances that fixed cost against the work a kill loses.
Measured warm on a 4-CPU host with the north-star job: an extra batch costs
about 0.4 s (100k documents as three batches, 2.3-2.5 s, vs one, 1.4-1.7 s)
and a row about 1.7 us (400k documents in one batch, 1.9-2.2 s).  A 1M-row
batch then carries about 1.7 s of row work against 0.4 s of fixed cost, and
a kill loses about 2 s of work.

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
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

LINEAGE_DIR = "_lineage"
DATA_DIR = "data"
BATCH_ROWS = 1_000_000


def committed_keys(out_dir: str) -> set[int]:
    """Keys of every committed manifest, read on the driver with pyarrow (no
    Spark job).  Like Spark's reader it skips names starting with ``_`` or
    ``.`` (``_SUCCESS``, ``.crc``, ``_temporary``), so a manifest write still
    in flight is not seen."""
    ldir = os.path.join(out_dir, LINEAGE_DIR)
    if not os.path.isdir(ldir) or not any(
        f.endswith(".parquet") for f in os.listdir(ldir)
    ):
        return set()
    return set(pq.read_table(ldir, columns=["pkey"]).column("pkey").to_pylist())


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, LINEAGE_DIR))


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _pack(keys: list[int], key_rows: dict[int, int], batch_rows: int) -> list[list[int]]:
    """Consecutive runs of ``keys`` of at most ``batch_rows`` expected rows; a
    batch closes before a key would take it past the budget, so a key larger
    than the budget sits alone and no key is split."""
    batches: list[list[int]] = []
    rows = 0
    for k in keys:
        if batches and rows + key_rows[k] <= batch_rows:
            batches[-1].append(k)
            rows += key_rows[k]
        else:
            batches.append([k])
            rows = key_rows[k]
    return batches


def run_resumable(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    pkey_col: str,
    key_rows: dict[int, int],
    *,
    batch_rows: int = BATCH_ROWS,
    input_desc: str = "",
) -> dict:
    """Write ``df`` partitioned by ``pkey_col``, committing lineage per batch.

    ``key_rows`` maps every requested key to its expected row count; batches
    are cut by ``_pack`` under ``batch_rows``.  Already-committed keys
    are never written again, but each batch's ``isin`` filter prunes the
    scan only when ``pkey_col`` is a stored column: for a computed key such
    as ``tile_y`` every batch re-scans and re-joins the whole input.  Returns
    a summary dict {written_keys, skipped_keys, batches}.
    """
    ldir = os.path.join(out_dir, LINEAGE_DIR)
    os.makedirs(ldir, exist_ok=True)
    done = committed_keys(out_dir)
    todo = sorted(int(k) for k in set(key_rows) - done)
    data_path = os.path.join(out_dir, DATA_DIR)
    key = F.col(pkey_col)
    batches = _pack(todo, key_rows, batch_rows)
    for keys in batches:
        obs = Observation()
        part = df.where(key.isin(keys)).observe(
            obs, *[F.count_if(key == k).alias(str(k)) for k in keys]
        )
        t0 = time.perf_counter()
        (part.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
         .partitionBy(pkey_col).parquet(data_path))
        wall_ms = int((time.perf_counter() - t0) * 1000)
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
    return {"written_keys": todo, "skipped_keys": sorted(done), "batches": len(batches)}
