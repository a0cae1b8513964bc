"""Incremental computation: watermark state, tie-safe advancement
(O3), and the cached-fetch replay with moved-message retraction
(S2/S3/F2).

Reference:
  * Tie-safe watermark commit —
    rapid_pro_to_engagement_db.py:391-398: the cache timestamp only
    advances at timestamp *boundaries*, never inside a group of rows
    sharing one timestamp, so a crash mid-group re-reads the whole
    group (idempotent upsert absorbs the replay).
  * Incremental fetch + retraction —
    get_messages_in_datasets.py:45-99: per dataset, download rows
    with last_updated > watermark, plus rows whose previous_datasets
    contains this dataset (WS-corrected away) which are *removed*
    from the cached copy; cache + increment then flow into the
    latest-snapshot dedup (F1) and live/stale resolution (F4).

Scale: the state table is a handful of rows (one per stage/dataset) —
kept as a tiny parquet; every data-sized operation here is a filter,
anti-join, or union that Catalyst pushes into the scan. The one
driver-side action is reading a single MAX() scalar for the
watermark, which is unavoidable and O(1).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import latest_snapshot
from .filters import resolve_live_stale, retraction_anti_join

WATERMARK_SCHEMA = "stage_key string, watermark timestamp"


def load_watermarks(spark: SparkSession, path: str) -> dict[str, object]:
    """Read the watermark state table (empty dict if absent)."""
    try:
        from ..streaming.ingest import read_parquet_fast

        rows = read_parquet_fast(spark, path).collect()
    except Exception:
        return {}
    return {r["stage_key"]: r["watermark"] for r in rows}


def save_watermarks(spark: SparkSession, path: str,
                    watermarks: dict[str, object]) -> None:
    df = spark.createDataFrame(
        [(k, v) for k, v in watermarks.items()], WATERMARK_SCHEMA)
    df.coalesce(1).write.mode("overwrite").parquet(path)


def tie_safe_watermark(batch: DataFrame, ts_col: str,
                       complete: bool = True):
    """O3: the new watermark after processing `batch`.

    `complete=True` (the batch is everything newer than the old
    watermark — the normal Spark case, where the job either commits
    the whole batch or nothing): watermark = max(ts).

    `complete=False` (the batch may be truncated mid-tie-group, e.g. a
    paged external fetch): only advance to the greatest timestamp that
    is strictly less than the batch max — the max's tie group may
    continue beyond the fetch, so it must be re-read next run.
    Returns None when nothing can be safely committed.
    """
    if complete:
        return batch.agg(F.max(ts_col).alias("m")).collect()[0]["m"]
    mx = batch.agg(F.max(ts_col).alias("mx")).collect()[0]["mx"]
    if mx is None:
        return None
    return batch.where(F.col(ts_col) < F.lit(mx)).agg(
        F.max(ts_col).alias("m")).collect()[0]["m"]


def truncate_incomplete_tie_group(batch: DataFrame, ts_col: str) -> DataFrame:
    """Companion to tie_safe_watermark(complete=False): drop the rows
    carrying the batch-max timestamp so processed rows and the
    committed watermark stay consistent."""
    row = batch.agg(F.max(ts_col).alias("mx")).collect()[0]
    if row["mx"] is None:
        return batch
    return batch.where(F.col(ts_col) < F.lit(row["mx"]))


def incremental_fetch(messages: DataFrame, cached: DataFrame,
                      datasets: Sequence[str], watermark,
                      ws_watermark) -> DataFrame:
    """The full incremental fetch stage (S2/S3/F2 for every dataset at
    once), then the same F1 dedup + F4 live/stale resolution the full
    fetch applies (get_messages_in_datasets.py:139-191). With an empty
    cache and epoch watermarks this reduces exactly to the full fetch.

    Set-wise instead of a per-dataset loop: the retraction keys are
    (message_id, previous_dataset) pairs from ONE exploded scan of the
    moved messages, anti-joined against the cache on
    (message_id, dataset) — so cost is 3 scans total (cache, moved,
    increment) regardless of how many datasets are configured, where
    the reference's per-dataset loop multiplies its downloads by the
    dataset count."""
    ds_list = list(datasets)
    updated = messages.where(
        F.col("dataset").isin(ds_list)
        & (F.col("last_updated") > F.lit(watermark)))
    moved_keys = (
        messages.where(F.col("last_updated") > F.lit(ws_watermark))
        .select("message_id", "dataset",
                F.explode("previous_datasets").alias("prev_dataset"))
        # dataset still == prev_dataset → NOT retracted (:76-79)
        .where(F.col("dataset") != F.col("prev_dataset"))
        .select("message_id", F.col("prev_dataset").alias("dataset"))
    )
    kept_cache = retraction_anti_join(
        cached.where(F.col("dataset").isin(ds_list)), moved_keys,
        ["message_id", "dataset"])
    un = kept_cache.unionByName(updated)
    latest = latest_snapshot(un, ["message_id"], ["last_updated", "message_id"])
    return resolve_live_stale(latest, "status", "live", "stale",
                              ["dataset", "participant_uuid"])


# --- incremental aggregate-state maintenance -------------------------------

#: metric kinds whose partial states combine by the same function
_COMBINE = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}


def aggregate_state(batch: DataFrame, group_cols: Sequence[str],
                    metrics: dict[str, tuple[str, str]]) -> DataFrame:
    """Partial aggregate state of one batch: one row per group with a
    column per metric. `metrics` maps output name -> (input col,
    kind) with kind in sum|count|min|max — the decomposable aggregates
    whose partials merge losslessly (avg = sum/count downstream)."""
    aggs = []
    for name, (col, kind) in metrics.items():
        if kind == "count":
            aggs.append(F.count(col).cast("long").alias(name))
        elif kind == "sum":
            aggs.append(F.sum(col).alias(name))
        else:
            aggs.append(_COMBINE[kind](col).alias(name))
    return batch.groupBy(*group_cols).agg(*aggs)


def merge_aggregate_state(state: DataFrame, batch_state: DataFrame,
                          group_cols: Sequence[str],
                          metrics: dict[str, tuple[str, str]]) -> DataFrame:
    """Fold a new batch's partial state into the maintained state
    table: union + one combine aggregation, O(|state| + |batch|) per
    refresh instead of re-aggregating all history — the incremental
    rollup-maintenance pattern (the reference recomputes its sync
    stats from scratch each run; at 100 TB the recompute is the
    bottleneck, the merge is not). Works unchanged as the foreachBatch
    body over a streaming source, and chains associatively:
    merge(merge(a,b),c) == merge(a,merge(b,c)) == full recompute."""
    un = state.unionByName(batch_state)
    aggs = [_COMBINE[kind](name).alias(name)
            for name, (_c, kind) in metrics.items()]
    return un.groupBy(*group_cols).agg(*aggs)
