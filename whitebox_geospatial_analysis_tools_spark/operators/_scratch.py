"""Bounded lifetime for persisted mid-plan intermediates.

Operators that ``persist()`` a DataFrame inside a returned lazy plan (kNN
pass-1 candidates, tile-CC labels, flow pass-A, ...) cannot unpersist it
before the caller materializes the result.  They register it here under an
OPERATOR TAG; the next call into the same operator releases only that tag's
previous entries, so executor storage stays bounded across a long
multi-query session while COMPOSED operators (stream_network -> flow_accum
-> components_from_edges) never evict each other's live caches.

Keys are applicationIds (stable tokens), never Python object ids, so a
stop()+restart cycle in one process cannot alias entries.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

_SCRATCH: dict[tuple[str, str], list[DataFrame]] = {}


def track(spark: SparkSession, df: DataFrame, tag: str = "default") -> DataFrame:
    """Register a persisted DataFrame for deferred release under `tag`."""
    _SCRATCH.setdefault((spark.sparkContext.applicationId, tag), []).append(df)
    return df


def persist(spark: SparkSession, df: DataFrame, tag: str = "default") -> DataFrame:
    """``df.persist()`` tracked under `tag` — unless plan-equal data is
    already cached (``df.storageLevel`` is not NONE; say, an operator
    composed before this one persisted the same input): then `df` comes
    back untracked, since Spark keeps ONE cache entry per plan and
    releasing this tag would drop the entry another tag still counts."""
    if df.storageLevel != StorageLevel.NONE:
        return df
    return track(spark, df.persist(), tag)


def release(spark: SparkSession, tag: str = "default") -> None:
    """Unpersist the tag's tracked scratch (live app), drop dead-app keys."""
    app = spark.sparkContext.applicationId
    for df in _SCRATCH.pop((app, tag), []):
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release
    for k in [k for k in _SCRATCH if k[0] != app]:
        _SCRATCH.pop(k)
