"""Incrementally maintained DERIVED TABLES: a row-local (flatMap-
shaped) transform of a versioned merge table, kept in sync from its
change feed — the missing middle between the MV layer (aggregated
state, streaming/mv.py) and the column-view refreshers (group-grain
re-folds, labels/views.py).

The reference re-runs every stage of its analysis pipeline over the
full corpus per run (run_pipeline.sh:29-57 →
engagement_db_to_analysis.py:54-162: fetch → filter → impute →
column views → exports); the row-local stages of that chain — the
F5/F6 filters, the M1-M5/M9 message-grain imputation
(code_imputation_functions.py:545-552), the K2/K3 export projections
(analysis_files.py:13-111) — are all flatMap-shaped: each output row
is a pure function of exactly one input row. That makes their
incremental maintenance EXACT with no history and no group state:

  inserts/updates  →  transform the new payloads, upsert by key;
  updates/deletes  →  transform the OLD payloads (the change feed's
                      `<col>__old` pre-images — no snapshot read) to
                      find the output keys that existed before, and
                      dv-delete any that the fresh output no longer
                      produces — covering hard deletes, rows the
                      transform now filters out, and key-changing
                      rewrites alike.

Cost per refresh is O(changed buckets + changed rows) in read,
shuffle and write — the source is never rescanned — so a 100 TB
imputed-messages table tracks its raw table at the cost of the day's
changes, not the corpus.

Contract (the caller's to keep, mirrored from streaming/mv.py's
`prepare`): `transform` must be row-local — select / filter /
explode / per-row projections only; aggregations, joins, windows or
order-dependent logic would make per-window maintenance diverge from
a batch recompute. Output rows must be unique on `key_cols` for any
table state (e.g. carry the source key, plus discriminators for
1→N transforms), and the transform must be deterministic (a replayed
refresh must re-derive the identical delta).

The derived table is itself a versioned merge table: every refresh is
an atomic commit carrying the transactional watermark
(`__transform_src` = the last source commit folded in), so crashed or
replayed refreshes converge — the delete of an already-deleted key is
a no-op and the merge skips at-or-below-watermark versions. The push
path (`transform_stream_sink`) maintains the same state directly from
a `merge_table_changes` retract stream (its `<col>__old` pre-images
replace the snapshot read) under a STREAM-BATCH-id watermark
(`__transform_stream`); as with the MV layer, the two watermark
namespaces count different things and each path refuses a table owned
by the other.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ingest import (delete_origins, foreach_batch_upsert, maybe_compact,
                     read_merged_table, read_table_manifest,
                     table_changes)

#: txn app id of a PULL-maintained derived table: the SOURCE commit
#: last folded in.
_TT_TXN = "__transform_src"
#: txn app id of the PUSH-maintained twin: a stream BATCH id.
_TT_STREAM_TXN = "__transform_stream"


def _gone_keys(old_out: DataFrame, fresh: DataFrame,
               dst_man: dict) -> DataFrame:
    """Output keys that existed before the window but are absent from
    the fresh output — carrying the derived table's bucket columns so
    a partial-key-bucketed dv delete lands in the right buckets."""
    origin = list(dst_man["origin"])
    carry = sorted(set(origin) | set(dst_man.get("bucket_on") or []))
    return (old_out.select(*carry).distinct()
            .join(fresh.select(*origin).distinct(), origin, "left_anti"))


def build_transform_table(spark: SparkSession, src_path: str,
                          dst_path: str,
                          transform: Callable[[DataFrame], DataFrame],
                          key_cols: Sequence[str],
                          n_buckets: int | None = None,
                          bucket_cols: Sequence[str] | None = None,
                          ) -> None:
    """Materialize the derived table from the source's CURRENT
    snapshot — the only full-source pass it ever takes. Records the
    source commit it reflects so the first `refresh_transform_table`
    continues from exactly here."""
    man = read_table_manifest(spark, src_path)
    if man is None:
        raise ValueError(f"{src_path} has no commits")
    out = transform(read_merged_table(spark, src_path))
    merge = foreach_batch_upsert(dst_path, list(key_cols),
                                 n_buckets=n_buckets,
                                 bucket_cols=bucket_cols,
                                 txn_app_id=_TT_TXN, mode="latest_wins")
    merge(out, int(man["commit"]))


def refresh_transform_table(spark: SparkSession, src_path: str,
                            dst_path: str,
                            transform: Callable[[DataFrame], DataFrame],
                            auto_compact: bool = True) -> int | None:
    """Fold the source's change feed since the last refresh into the
    derived table (module docstring for the delta shape). Returns the
    source commit now reflected (None = already current)."""
    src_man = read_table_manifest(spark, src_path)
    dst_man = read_table_manifest(spark, dst_path)
    if src_man is None or dst_man is None:
        raise ValueError("source and derived table must both exist")
    txn = dst_man.get("txn", {})
    if _TT_STREAM_TXN in txn:
        raise ValueError(
            f"{dst_path} is maintained by transform_stream_sink (its "
            "watermark is a stream batch id, not a source commit) — "
            "refreshing it here would re-fold windows the sink already "
            "applied")
    if _TT_TXN not in txn:
        raise ValueError(
            f"{dst_path} carries no {_TT_TXN} watermark — not a "
            "derived table this maintainer owns (build it with "
            "build_transform_table first)")
    applied = int(txn[_TT_TXN])
    current = int(src_man["commit"])
    if current <= applied:
        return None
    origin = list(src_man["origin"])
    # ONE netting change-feed read with `includeOld` pre-images: the
    # old payloads of updated/deleted keys ride along as `<col>__old`
    # columns, so the window needs no pre-change snapshot read and no
    # semi-join — one Arrow scan serves both sides of the fold
    # (`table_changes` diffs a bounded window in this process and a
    # large one on Python workers)
    ch = table_changes(spark, src_path, applied, current,
                       include_old=True)
    # the feed lists the payload after `changed_cols`, then one
    # `<col>__old` twin per payload column in the same order: split by
    # position, not by suffix, so a payload column whose own name ends
    # in `__old` is kept
    tail = ch.columns[ch.columns.index("changed_cols") + 1:]
    payload = tail[:len(tail) // 2]
    # fresh output of the window's new payloads, materialized once:
    # the gone anti-join and the merge would otherwise each re-run
    # the feed-scan + transform DAG
    fresh = transform(
        ch.where(F.col("op").isin("insert", "update"))
        .select(*origin, *payload)).localCheckpoint()
    old_rows = (ch.where(F.col("op").isin("update", "delete"))
                .select(*origin, *[F.col(f"{c}__old").alias(c)
                                   for c in payload]))
    gone = _gone_keys(transform(old_rows), fresh, dst_man)
    if not gone.isEmpty():
        delete_origins(spark, dst_path, gone, strategy="dv")
    merge = foreach_batch_upsert(dst_path, list(dst_man["origin"]),
                                 txn_app_id=_TT_TXN, mode="latest_wins")
    merge(fresh, current)
    if auto_compact:
        maybe_compact(spark, dst_path)
    return current


def transform_stream_sink(dst_path: str,
                          transform: Callable[[DataFrame], DataFrame],
                          key_cols: Sequence[str],
                          source_cols: Sequence[str],
                          n_buckets: int | None = None,
                          bucket_cols: Sequence[str] | None = None,
                          auto_compact: bool = True,
                          ) -> Callable[[DataFrame, int], None]:
    """A foreachBatch function maintaining the derived table DIRECTLY
    from a ``merge_table_changes`` stream opened with
    ``includeOld=true`` — the push-based twin of
    `refresh_transform_table`: the retract batch already carries both
    the new payload and the `<col>__old` pre-images, so the fold needs
    ZERO reads of the source table. `source_cols` names the raw source
    columns the transform consumes (both sides are projected to them).
    The sink bootstraps its table from its first batch (subscribe from
    startingCommit=0) and owns it from then on; compose several sinks
    over ONE feed scan with `drain.fan_out`. Run with one source
    commit per micro-batch (`drain_changes`' default): a batch
    collapsing several commits can carry BOTH an insert and an update
    of one key, putting duplicate keys in the transformed upsert —
    per-commit batches make that impossible by construction."""
    cols = sorted(source_cols)

    def _fold(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        man = read_table_manifest(spark, dst_path)
        if man is not None and _TT_TXN in man.get("txn", {}):
            raise ValueError(
                f"{dst_path} is maintained by refresh_transform_table "
                "(source-commit watermark) — the stream sink's batch-id "
                "watermark cannot continue it; point the sink at its "
                "own path and replay from startingCommit=0")
        if man is not None and _TT_STREAM_TXN not in man.get("txn", {}):
            raise ValueError(
                f"{dst_path} exists but carries no {_TT_STREAM_TXN} "
                "watermark — not a table this sink maintains; point "
                "the sink at an empty path (its first batch bootstraps "
                "the table)")
        if man is not None and batch_id <= int(
                man.get("txn", {}).get(_TT_STREAM_TXN, -1)):
            return  # crash-replay of an already-applied batch
        fresh = transform(
            batch.where(F.col("op").isin("insert", "update"))
            .select(*cols)).localCheckpoint()
        if man is None:
            # bootstrap = the source's FIRST commit (pure inserts,
            # one commit per micro-batch — drain_changes' default).
            # A first batch carrying retractions means the stream was
            # pointed mid-history (startingCommit > 0) or collapsed
            # several commits: the derived state would be silently
            # incomplete — refuse, like the ANN index sink does.
            if not batch.where(
                    F.col("op").isin("update", "delete")).isEmpty():
                raise RuntimeError(
                    f"{dst_path} has no state but the bootstrap batch "
                    "carries retractions — replay the stream from "
                    "startingCommit=0 with one commit per trigger so "
                    "the bootstrap sees the full history")
            merge = foreach_batch_upsert(dst_path, list(key_cols),
                                         n_buckets=n_buckets,
                                         bucket_cols=bucket_cols,
                                         txn_app_id=_TT_STREAM_TXN,
                                         mode="latest_wins")
            merge(fresh, batch_id)
            return
        old_of = {c: (f"{c}__old" if f"{c}__old" in batch.columns else c)
                  for c in cols}
        old_rows = (batch.where(F.col("op").isin("update", "delete"))
                    .select(*[F.col(old_of[c]).alias(c) for c in cols]))
        gone = _gone_keys(transform(old_rows), fresh, man)
        if not gone.isEmpty():
            delete_origins(spark, dst_path, gone, strategy="dv")
        merge = foreach_batch_upsert(dst_path, list(man["origin"]),
                                     txn_app_id=_TT_STREAM_TXN,
                                     mode="latest_wins")
        merge(fresh, batch_id)
        if auto_compact:
            maybe_compact(spark, dst_path)

    return _fold
