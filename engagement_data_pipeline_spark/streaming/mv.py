"""Incremental MATERIALIZED VIEWS over the versioned merge table,
maintained purely from its change feed.

The reference recomputes every rollup from scratch each sync run
(sync stats, engagement counts — SURVEY §2.5 G6/§2.7); at 100 TB the
recompute is the bottleneck. An MV created once from the snapshot and
then refreshed from `table_changes` touches O(touched groups +
changed rows) per refresh, never the table (and never the untouched
groups of its own state): op='insert' rows add into their group,
op='delete' rows SUBTRACT (their old payload read from the feed's
`<col>__old` pre-images — the same read the secondary index uses),
and op='update' subtracts the old payload and adds the new.

Subtraction restricts metrics to the invertible distributive
aggregates — ``count`` and ``sum`` (avg = sum/count at read time) —
the standard incremental-view-maintenance trade; min/max need the
recompute path because a deleted maximum cannot be un-taken.
DISTINCT COUNTS (not invertible either — forgetting whether a
deleted row was a group's last witness needs history) are supported
through the standard TWO-LEVEL decomposition: key the MV on
(outer group + distinct columns) with a plain count, and read the
distinct count as COUNT(*) over the inner groups
(`read_mv_distinct`) — the inner state IS the witness set, kept
exactly because zero-count groups leave it.

A `prepare` hook (with `source_cols`) maintains the MV over a
ROW-LOCAL transformation of the source — select / filter / explode,
i.e. anything flatMap-shaped where each output row is a pure
function of exactly one input row. Linear operators commute with
deltas, so applying `prepare` to the insert side and the retract
side independently maintains the transformed view exactly: a filter
becomes a FILTERED MV (rows entering/leaving the predicate under
update retract correctly, because the old payload is evaluated
against the same predicate), an explode maintains per-element
groups. Aggregations, joins, or windows in `prepare` would break
that equivalence and are the caller's contract not to use. NULL
semantics match a full recompute exactly: counts skip NULLs, and a
sum whose group lost its last non-NULL contributor reads back NULL
(an internal per-sum non-NULL counter carries that, so the state
never consults history). Integer/decimal sums maintain bit-exactly;
float sums are subject to the usual re-association drift — use
decimal for money.

The MV state is ITSELF a versioned merge table keyed on the group
columns (latest-wins merge + key deletes), so every refresh is an
atomic commit with the transactional replay-skip watermark
(`txn_app_id`) recording the source commit it reflects: a crashed or
replayed refresh re-derives the same delta from the same feed window
and converges — refresh is idempotent per source commit. Groups whose
live-row count reaches zero are DELETED from the state (exactly what
a recompute would show), not left as zero rows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ingest import (foreach_batch_upsert, read_merged_table,
                     read_table_manifest, table_changes)

#: txn app id under which the MV records the last APPLIED source
#: commit — the refresh replay-skip watermark.
_MV_TXN = "__mv_src"
#: txn app id of the PUSH-BASED sink — a stream BATCH id, not a
#: source commit. The two namespaces must never mix: folding a batch
#: id into a source-commit watermark (or vice versa) silently skips
#: or double-applies windows, so each path refuses an MV owned by
#: the other.
_MV_STREAM_TXN = "__mv_stream"
#: internal live-row count per group (decides group deletion).
_N_COL = "__mv_n"


_INVERTIBLE = ("count", "sum")


def _check_metrics(metrics: dict[str, tuple[str, str]],
                   group_cols: Sequence[str],
                   src_man: dict | None) -> bool:
    """Validate metrics; returns True when every metric is invertible
    (delta-fold refresh). Non-invertible metrics (min/max) are allowed
    ONLY when the source table is bucketed exactly on the group
    columns — then every group lives in one bucket and refresh can
    RECOMPUTE the affected groups from O(their buckets), never the
    table."""
    kinds = set()
    for name, (_col, kind) in metrics.items():
        if kind not in ("count", "sum", "min", "max"):
            raise ValueError(f"metric {name!r}: unknown kind {kind!r}")
        if name.startswith("__mv"):
            raise ValueError(f"metric name {name!r} is reserved")
        kinds.add(kind)
    if kinds <= set(_INVERTIBLE):
        return True
    bk = list((src_man or {}).get("bucket_on")
              or (src_man or {}).get("origin") or [])
    if bk != list(group_cols):
        raise ValueError(
            "min/max metrics are not invertible — maintaining them "
            "needs group-local recompute, which requires the source "
            f"table bucketed on the group columns (bucket_cols="
            f"{list(group_cols)}); this source is bucketed on {bk}")
    return False


def _nn(name: str) -> str:
    return f"__mv_nn_{name}"


def _signed_state(rows: DataFrame, group_cols: Sequence[str],
                  metrics: dict[str, tuple[str, str]]) -> DataFrame:
    """Group-level signed partials of `rows` (which carry a ±1 `sign`
    column): every internal column is non-NULL zero-based, so folds
    never branch on missing history. min/max keep their plain value —
    they only pass through here on the all-plus-one create/recompute
    path, where the plain aggregate IS the answer."""
    aggs = [F.coalesce(F.sum("sign"), F.lit(0)).cast("long")
            .alias(_N_COL)]
    for name, (col, kind) in metrics.items():
        nonnull_sign = F.when(F.col(col).isNotNull(),
                              F.col("sign")).otherwise(F.lit(0))
        if kind == "count":
            aggs.append(F.coalesce(F.sum(nonnull_sign), F.lit(0))
                        .cast("long").alias(name))
        elif kind == "sum":
            aggs.append(F.coalesce(
                F.sum(F.when(F.col(col).isNotNull(),
                             F.col(col) * F.col("sign"))), F.lit(0))
                .alias(name))
            aggs.append(F.coalesce(F.sum(nonnull_sign), F.lit(0))
                        .cast("long").alias(_nn(name)))
        elif kind == "min":
            aggs.append(F.min(col).alias(name))
        else:
            aggs.append(F.max(col).alias(name))
    return rows.groupBy(*group_cols).agg(*aggs)


def _check_prepare(prepare, source_cols,
                   metrics: dict[str, tuple[str, str]]) -> None:
    if prepare is None:
        return
    if not source_cols:
        raise ValueError(
            "prepare requires source_cols: the raw source columns the "
            "transform consumes (group/metric columns are its OUTPUT)")
    for name, (_c, kind) in metrics.items():
        if kind not in _INVERTIBLE:
            raise ValueError(
                f"metric {name!r}: prepare-transformed MVs support "
                "only invertible aggregates (count/sum) — the group-"
                "local recompute path reads raw source rows, which a "
                "transform's group columns need not map back to")


def _prep(prepare, df: DataFrame, sign: int) -> DataFrame:
    if prepare is not None:
        df = prepare(df)
    return df.withColumn("sign", F.lit(sign))


def _needed(prepare, source_cols, metrics, gcols) -> list[str]:
    """Source columns a fold reads: `source_cols` under `prepare`,
    else the group and metric columns."""
    if prepare is not None:
        return sorted(source_cols)
    return sorted({col for col, _kind in metrics.values()} | set(gcols))


def _signed_sides(prepare, ch: DataFrame,
                  needed: list[str]) -> tuple[DataFrame, DataFrame]:
    """(plus, minus) of a retract-shaped feed window: the new payloads
    of inserts/updates signed +1, and the `<col>__old` pre-images of
    updates/deletes signed -1. Origin columns have no `__old` twin
    (keys are immutable), so they read as themselves."""
    old_of = {c: (f"{c}__old" if f"{c}__old" in ch.columns else c)
              for c in needed}
    plus = _prep(prepare,
                 ch.where(F.col("op").isin("insert", "update"))
                 .select(*needed), 1)
    minus = _prep(prepare,
                  ch.where(F.col("op").isin("update", "delete"))
                  .select(*[F.col(old_of[c]).alias(c) for c in needed]),
                  -1)
    return plus, minus


def create_mv(spark: SparkSession, table_path: str, mv_path: str,
              group_cols: Sequence[str],
              metrics: dict[str, tuple[str, str]],
              n_buckets: int | None = None,
              prepare=None, source_cols: Sequence[str] | None = None,
              ) -> None:
    """Materialize the view from the source's CURRENT snapshot — the
    only full-table pass the MV ever takes. Records the source commit
    it reflects, so the first `refresh_mv` continues from exactly
    here. `prepare`/`source_cols` maintain the view over a row-local
    transform of the source (see module docstring)."""
    man = read_table_manifest(spark, table_path)
    if man is None:
        raise ValueError(f"{table_path} has no commits")
    _check_prepare(prepare, source_cols, metrics)
    _check_metrics(metrics, group_cols, man)
    rows = read_merged_table(spark, table_path)
    if prepare is not None:
        rows = rows.select(*source_cols)
    rows = _prep(prepare, rows, 1)
    state = _signed_state(rows, group_cols, metrics)
    merge = foreach_batch_upsert(mv_path, list(group_cols),
                                 n_buckets=n_buckets,
                                 txn_app_id=_MV_TXN, mode="latest_wins")
    merge(state, man["commit"])


def refresh_mv(spark: SparkSession, table_path: str, mv_path: str,
               group_cols: Sequence[str],
               metrics: dict[str, tuple[str, str]],
               auto_compact: bool = True,
               prepare=None, source_cols: Sequence[str] | None = None,
               ) -> int | None:
    """Fold the source's change feed since the last refresh into the
    MV. Returns the source commit now reflected (None = already
    current).

    Cost — invertible metrics (count/sum): O(MV-state touched groups
    + changed rows), delta fold, source never rescanned. With any
    min/max metric: group-local RECOMPUTE — the source must be
    bucketed on the group columns (checked), so every affected
    group's rows live in known buckets and the refresh reads
    O(affected groups' buckets), still never the table."""
    src_man = read_table_manifest(spark, table_path)
    mv_man = read_table_manifest(spark, mv_path)
    if src_man is None or mv_man is None:
        raise ValueError("source and MV must both exist")
    if _MV_STREAM_TXN in mv_man.get("txn", {}):
        raise ValueError(
            f"{mv_path} is maintained by mv_stream_sink (its watermark "
            "is a stream batch id, not a source commit) — refreshing "
            "it here would re-fold windows the sink already applied")
    _check_prepare(prepare, source_cols, metrics)
    invertible = _check_metrics(metrics, group_cols, src_man)
    applied = int(mv_man.get("txn", {}).get(_MV_TXN, 0))
    current = int(src_man["commit"])
    if current <= applied:
        return None
    origin = list(src_man["origin"])
    gcols = list(group_cols)
    needed = _needed(prepare, source_cols, metrics, gcols)
    # one feed read projected to the needed columns, pre-images
    # included: the minus side reads the `__old` payloads of
    # deleted/updated keys — O(changed buckets), never a rescan
    ch = table_changes(spark, table_path, applied, current,
                       include_old=True,
                       select=[c for c in needed if c not in origin])
    plus, minus = _signed_sides(prepare, ch, needed)
    if not invertible:
        current = _refresh_recompute(spark, table_path, mv_path, gcols,
                                     metrics, src_man, plus, minus,
                                     current)
    else:
        delta = _signed_state(plus.unionByName(minus), gcols, metrics)
        _apply_delta(spark, mv_path, gcols, metrics, delta, current)
    if auto_compact:
        # group deletions are dv tombstones on buckets a later merge
        # may never touch — materialize before the dv outgrows
        # broadcast size (metadata-only check)
        from .ingest import maybe_compact
        maybe_compact(spark, mv_path)
    return current


#: grouped-delta row bound for the driver-side fold: above this the
#: fold stays distributed (the limit-collect probe is bounded either
#: way, so big batches pay one cheap extra job, never a big collect)
_LOCAL_FOLD_MAX = 512


def _apply_delta_local(spark: SparkSession, mv_path: str, man: dict,
                       gcols: list[str], internal: list[str],
                       delta: DataFrame, txn_version: int,
                       txn_app: str) -> bool:
    """Bounded-delta fast path of `_apply_delta`: when the grouped
    delta is small (a daily composed run folds a handful of groups),
    collect it, fold against the hit buckets' state read DRIVER-SIDE
    with pyarrow, and publish ONE atomic local commit (upsert + dead-
    group delete together) — one Spark job instead of three-plus per
    fold, the second half of the day-run fixed-overhead fix (VERDICT
    r13 task 1). Returns False to fall back to the distributed path
    (large delta, or group-key types the local bucket hash does not
    cover); semantics are identical either way — same txn watermark,
    same bucket routing (property-tested xxhash64), and the merged
    state is pinned equal to the distributed path's by test."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from .ingest import _bucket_on
    from .local_merge import (local_bucket, probe_rows,
                              read_live_rows_local, upsert_rows_local)

    if man is None:
        return False
    drows = probe_rows(delta, _LOCAL_FOLD_MAX + 1)
    if len(drows) > _LOCAL_FOLD_MAX:
        return False
    if not drows:
        return True  # nothing to fold; watermark advances on next delta
    nb = int(man["n_buckets"])
    bk = _bucket_on(man)
    names = gcols + internal
    try:
        hit = sorted({local_bucket([r[c] for c in bk], nb)
                      for r in drows})
    except TypeError:
        return False  # group-key type outside the local hash's domain
    state = {tuple(r.get(c) for c in gcols): r
             for r in read_live_rows_local(mv_path, man, hit, names)}
    keep, gone = [], []
    for r in drows:
        key = tuple(r[c] for c in gcols)
        st = state.get(key, {})
        folded = {c: r[c] for c in gcols}
        for c in internal:
            folded[c] = (st.get(c) or 0) + (r[c] or 0)
        if folded[_N_COL] == 0:
            gone.append(dict(zip(gcols, key)))
        else:
            keep.append(folded)
    upsert_rows_local(spark, mv_path, keep,
                      to_arrow_schema(delta.schema), gcols,
                      txn_app_id=txn_app, batch_id=txn_version,
                      mode="latest_wins", delete_keys=gone)
    return True


def _apply_delta(spark: SparkSession, mv_path: str, gcols: list[str],
                 metrics: dict[str, tuple[str, str]], delta: DataFrame,
                 txn_version: int, txn_app: str = _MV_TXN) -> None:
    """Fold a signed group-delta into the MV state table: ONE commit
    upserts the folded groups and deletes the groups whose live-row
    count reached zero (the merge's ``deletes=``), under the
    `txn_version` watermark — a crash before it replays the whole
    fold and converges.

    Touched groups only: a group absent from the delta cannot change,
    so the state joins in LEFT_OUTER from the delta side — the fold,
    the delete set, and the merge all carry O(delta groups) rows, and
    the merge table's bucket-local rewrite then touches only the
    buckets those groups hash to. The state READ is sliced the same
    way: the MV is bucketed on the group columns, so the delta's
    group keys map to known buckets (an O(n_buckets) collect of
    bucket ids, never keys) and only those are scanned — refresh is
    genuinely O(touched groups' buckets + changed rows) in read,
    shuffle, and write, never O(MV state)."""
    from .ingest import _bucket_on, _read_resolved, origin_bucket

    internal = [_N_COL] + [c for name, (_col, kind) in metrics.items()
                           for c in ([name, _nn(name)] if kind == "sum"
                                     else [name])]
    man = read_table_manifest(spark, mv_path)
    if _apply_delta_local(spark, mv_path, man, gcols, internal, delta,
                          txn_version, txn_app):
        return
    nb = int(man["n_buckets"])
    # hash in the MANIFEST's bucket-column order — a caller passing
    # the same group columns in a different order joins fine (joins
    # are name-based) but xxhash64 is order-sensitive: caller-order
    # hashing would slice the WRONG buckets and the latest_wins merge
    # would then overwrite accumulated state with bare deltas
    bk = _bucket_on(man)
    hit = sorted({int(r[0]) for r in
                  delta.select(origin_bucket(bk, nb).alias("b"))
                  .distinct().collect()} & set(man["buckets"]))
    if hit:
        state = _read_resolved(spark, mv_path, man, only=hit)
    else:  # all delta groups are new: nothing to fold against
        state = read_merged_table(spark, mv_path).limit(0)
    folded = (delta.join(state, gcols, "left_outer")
              .select(*gcols,
                      *[(F.coalesce(state[c], F.lit(0))
                         + F.coalesce(delta[c], F.lit(0))).alias(c)
                        for c in internal]))
    merge = foreach_batch_upsert(mv_path, gcols, txn_app_id=txn_app,
                                 mode="latest_wins")
    merge(folded.where(F.col(_N_COL) > 0), txn_version,
          deletes=folded.where(F.col(_N_COL) == 0).select(*gcols))


def mv_stream_sink(mv_path: str, group_cols: Sequence[str],
                   metrics: dict[str, tuple[str, str]],
                   auto_compact: bool = True,
                   prepare=None, source_cols: Sequence[str] | None = None):
    """A foreachBatch function maintaining the MV DIRECTLY from a
    ``merge_table_changes`` stream opened with ``includeOld=true`` —
    the push-based twin of `refresh_mv`: the retract-stream batch
    already carries both the new payload and the `<col>__old`
    pre-change payload, so the fold needs ZERO reads of the source
    table (inserts/updates add the new values, updates/deletes
    subtract the old ones). Invertible metrics only (count/sum) —
    exactly what the retract shape can maintain. Replayed batches
    converge through the sink's own txn watermark (`__mv_stream`, a
    STREAM BATCH id).

    `prepare`/`source_cols` maintain the view over a row-local
    transform (filter / select / explode — module docstring): the
    transform is applied to the add side (new payloads) and the
    retract side (`<col>__old` payloads) independently, which is
    exact for any flatMap-shaped operator.

    Ownership: the sink bootstraps its MV from its own first batch
    (subscribe from startingCommit=0 — the history replay IS the
    create) and OWNS it from then on. It refuses an MV carrying the
    refresh path's `__mv_src` watermark and vice versa: the two
    watermarks count different things (batch ids vs source commits),
    and deltas are additive — mixing the paths would double-count or
    silently skip windows.

        src = (spark.readStream.format("merge_table_changes")
               .option("path", table).option("includeOld", "true")
               .load())
        src.writeStream.foreachBatch(
            mv_stream_sink(mv_path, ["grp"], metrics)).start()

    To catch up to the head and stop, run it under
    `drain.drain_changes(spark, table, sink)` (one source commit per
    batch, batch id = commit id); to maintain several artifacts from
    ONE feed scan compose sinks with `drain.fan_out` — each sink's
    watermark keeps the composition exactly-once across crashes.
    """
    gcols = list(group_cols)
    _check_prepare(prepare, source_cols, metrics)
    for name, (_c, kind) in metrics.items():
        if kind not in _INVERTIBLE:
            raise ValueError(
                f"metric {name!r}: the retract stream can maintain "
                "only invertible aggregates (count/sum)")

    def _fold(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        man = read_table_manifest(spark, mv_path)
        if man is not None and _MV_TXN in man.get("txn", {}):
            raise ValueError(
                f"{mv_path} is maintained by create_mv/refresh_mv "
                "(source-commit watermark) — the stream sink's batch-"
                "id watermark cannot continue it; point the sink at "
                "its own MV path and replay from startingCommit=0")
        if man is not None and _MV_STREAM_TXN not in man.get("txn", {}):
            # an existing table carrying NEITHER watermark is not this
            # sink's state: folding additive deltas into unrelated data
            # would silently corrupt it. Bootstrap only when the path
            # has no manifest at all.
            raise ValueError(
                f"{mv_path} exists but carries no {_MV_STREAM_TXN} "
                "watermark — not a table this sink maintains; point "
                "the sink at an empty path (its first batch bootstraps "
                "the MV)")
        if man is not None and batch_id <= int(
                man.get("txn", {}).get(_MV_STREAM_TXN, -1)):
            # foreachBatch crash-replay of a batch whose fold already
            # landed: the fold's one commit would skip under the same
            # watermark, so return before re-deriving the delta
            return
        plus, minus = _signed_sides(
            prepare, batch, _needed(prepare, source_cols, metrics, gcols))
        delta = _signed_state(plus.unionByName(minus), gcols, metrics)
        if man is None:
            # first batch bootstraps the state table
            merge = foreach_batch_upsert(mv_path, gcols,
                                         txn_app_id=_MV_STREAM_TXN,
                                         mode="latest_wins")
            merge(delta.where(F.col(_N_COL) > 0), batch_id)
            return
        _apply_delta(spark, mv_path, gcols, metrics, delta, batch_id,
                     txn_app=_MV_STREAM_TXN)
        if auto_compact:
            # group deletions are dv tombstones; a long-running sink
            # must materialize them before the dv outgrows broadcast
            # size (metadata-only check per fold)
            from .ingest import maybe_compact
            maybe_compact(spark, mv_path)

    return _fold


def _refresh_recompute(spark: SparkSession, table_path: str,
                       mv_path: str, gcols: list[str],
                       metrics: dict[str, tuple[str, str]],
                       src_man: dict, plus: DataFrame, minus: DataFrame,
                       current: int) -> int:
    """Group-local recompute for non-invertible metrics: the source is
    bucketed on the group columns, so the affected groups (new AND old
    payload groups of every changed row) map to known buckets — read
    only those, semi-join down to the affected groups, and recompute
    their aggregates exactly. Every affected group is deleted in the
    commit that upserts the recomputed ones, so groups with no
    surviving rows leave the view."""
    from .ingest import _read_resolved, origin_bucket

    affected = (plus.select(*gcols).unionByName(minus.select(*gcols))
                .distinct())
    nb = int(src_man["n_buckets"])
    hit = sorted({int(r[0]) for r in
                  affected.select(origin_bucket(gcols, nb).alias("b"))
                  .distinct().collect()} & set(src_man["buckets"]))
    live = (_read_resolved(spark, table_path, src_man, only=hit)
            .join(affected, gcols, "left_semi")
            if hit else plus.limit(0))  # empty: advances the watermark
    merge = foreach_batch_upsert(mv_path, gcols, txn_app_id=_MV_TXN,
                                 mode="latest_wins")
    merge(_signed_state(live.withColumn("sign", F.lit(1)), gcols,
                        metrics), current, deletes=affected)
    return current


def read_consistent(spark: SparkSession, table_path: str, mv_path: str,
                    metrics: dict[str, tuple[str, str]]
                    ) -> tuple[DataFrame, DataFrame]:
    """Snapshot-consistent (base, view) pair: the MV's txn watermark
    names the EXACT source commit its state reflects, and version
    directories are immutable, so reading the base table AS OF that
    commit gives a detail⋈rollup join that never mixes generations —
    even while new commits land on the base between refreshes (the
    lost-update anomaly a recompute-on-read never has and a naive
    latest+MV pairing silently does)."""
    from .ingest import read_table_at

    mv_man = read_table_manifest(spark, mv_path)
    if mv_man is None:
        raise ValueError(f"{mv_path} has no commits")
    applied = int(mv_man.get("txn", {}).get(_MV_TXN, 0))
    if applied <= 0:
        raise ValueError(
            f"{mv_path} carries no {_MV_TXN} watermark — not a "
            "feed-maintained MV of a source commit")
    # Build the view from the SAME manifest the watermark came from:
    # a refresh landing between two independent manifest reads would
    # pair base AS OF commit N with view state at N+1, silently
    # breaking the snapshot-consistency contract under a concurrent
    # refresher.
    return (read_table_at(spark, table_path, commit=applied),
            read_mv(spark, mv_path, metrics, man=mv_man))


def read_mv_pair_consistent(spark: SparkSession,
                            mv_paths: Sequence[str],
                            metrics_list: Sequence[dict],
                            retries: int = 5) -> list[DataFrame]:
    """Read SEVERAL sink-maintained MVs fed by the SAME stream at the
    SAME batch watermark — the multi-state analog of
    `read_consistent`. A foreachBatch that folds one batch into N
    states applies them sequentially, so a concurrent reader can
    catch state A at batch B and state B at batch B-1; for paired
    states that answer ONE question (e.g. the cascade's witness MV +
    stop set) that read silently mixes generations — a participant
    half-excluded. Each read re-resolves every manifest and returns
    only when all `__mv_stream` watermarks agree, reading each state
    from the exact manifest its watermark came from; a persistent
    mismatch (a sink crashed mid-batch and was not restarted — the
    stream's replay is what converges the lagging state) raises
    loudly after `retries` attempts instead of returning a torn
    pair."""
    import time as _time

    last: list[int] = []
    for attempt in range(max(1, retries)):
        mans = [read_table_manifest(spark, p) for p in mv_paths]
        wms = [(-1 if m is None else
                int(m.get("txn", {}).get(_MV_STREAM_TXN, -1)))
               for m in mans]
        last = wms
        if len(set(wms)) == 1 and wms[0] >= 0:
            return [read_mv(spark, p, mx, man=m)
                    for p, mx, m in zip(mv_paths, metrics_list, mans)]
        # a healthy fold is mid-batch for seconds, not microseconds —
        # back off so retries observe progress instead of exhausting
        # instantly against the same torn snapshot
        _time.sleep(0.2 * (attempt + 1))
    raise RuntimeError(
        f"MV pair {list(mv_paths)} did not converge to one stream "
        f"batch watermark (saw {last}) — a sink is mid-batch or "
        "crashed without restart; restart the stream (its replay "
        "converges the lagging state) before reading the pair")


def read_mv_distinct(spark: SparkSession, mv_path: str,
                     outer_group: Sequence[str],
                     metrics: dict[str, tuple[str, str]],
                     man: dict | None = None,
                     distinct_name: str = "n_distinct",
                     distinct_cols: Sequence[str] | None = None) -> DataFrame:
    """Distinct-count read over a TWO-LEVEL MV — the standard
    incremental answer to COUNT(DISTINCT x), which no retraction can
    maintain flat (forgetting whether a deleted row was its group's
    last witness needs history). The MV is keyed on
    ``outer_group + distinct columns`` with plain invertible metrics;
    its inner groups are then EXACTLY the live witness set (zero-count
    groups are deleted from the state), so at read time

      COUNT over non-NULL-keyed groups  == COUNT(DISTINCT x) per outer
      SUM(inner count/sum metrics)      == the outer count/sum

    NULL handling mirrors SQL's: COUNT(DISTINCT x) ignores NULL x, so
    an inner group whose distinct key is NULL is excluded from the
    witness count — but its rows still exist, so its metric sums DO
    contribute to the outer rollup (exactly as a recompute's SUM
    would include them).

    The rollup is O(inner groups) — the state's size, never the
    table's — and one exchange on the outer key. E.g. the reference's
    A1 `engagement_counts` (messages + DISTINCT participants per
    dataset, `automated_analysis.py:65-69`) reads from an MV keyed
    (dataset, participant_uuid):

        read_mv_distinct(spark, mvp, ["dataset"],
                         {"n_messages": ("origin_id", "count")},
                         distinct_name="n_participants")
    """
    inner = read_mv(spark, mv_path, metrics, man=man)
    if distinct_cols is None:
        # inferred = every state column that is neither outer key nor
        # metric; correct ONLY when `metrics` names ALL of the sink's
        # metric columns — a caller reading a subset must pass
        # `distinct_cols` explicitly or the omitted metric would be
        # silently treated as a witness key
        distinct_cols = [c for c in inner.columns
                         if c not in set(outer_group) and c not in metrics]
    else:
        distinct_cols = list(distinct_cols)
        missing = [c for c in distinct_cols if c not in inner.columns]
        if missing:
            raise ValueError(
                f"distinct_cols {missing} not in MV state columns "
                f"{inner.columns}")
        overlap = [c for c in distinct_cols
                   if c in set(outer_group) or c in metrics]
        if overlap:
            raise ValueError(
                f"distinct_cols {overlap} collide with outer_group/"
                "metrics — a witness key cannot also be an outer key "
                "or a metric")
    witness = F.lit(True)
    for c in distinct_cols:
        witness = witness & F.col(c).isNotNull()
    aggs = [F.count(F.when(witness, F.lit(1))).alias(distinct_name)]
    for name in metrics:
        # count and sum metrics both re-aggregate by SUM; a NULL inner
        # sum (no non-NULL contributors) is skipped exactly as a
        # recompute's SUM would skip those rows
        aggs.append(F.sum(name).alias(name))
    return inner.groupBy(*[F.col(c) for c in outer_group]).agg(*aggs)


def read_mv(spark: SparkSession, mv_path: str,
            metrics: dict[str, tuple[str, str]],
            man: dict | None = None) -> DataFrame:
    """The view as a recompute would show it: internal columns
    dropped, and a sum with no non-NULL contributors exposed as NULL
    (matching SUM's semantics over its group). Pass `man` to read the
    state of an already-resolved manifest (one manifest read shared
    with the caller's watermark decision — see `read_consistent`)."""
    if man is None:
        state = read_merged_table(spark, mv_path)
    else:
        from .ingest import _read_resolved

        state = _read_resolved(spark, mv_path, man)
    cols = []
    for c in state.columns:
        if c == _N_COL or c.startswith("__mv_nn_"):
            continue
        if c in metrics and metrics[c][1] == "sum":
            cols.append(F.when(F.col(_nn(c)) > 0, F.col(c))
                        .otherwise(F.lit(None)).alias(c))
        else:
            cols.append(F.col(c))
    return state.select(*cols)
