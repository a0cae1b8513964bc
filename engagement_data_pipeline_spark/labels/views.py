"""Column views (SURVEY §1.5, G1/G2/J3/F7) and column-grain
imputation (M6 TRUE_MISSING, M7 NIC, M8 consent cascade, G3/G4).

Reference: src/engagement_db_to_analysis/column_view_conversion.py
(views) and code_imputation_functions.py:555-755 (column-grain rules,
order fixed at :844-863: TM → NIC → consent-last).

Both views are built in ONE aggregation over the imputed messages
(per-column conditional aggregates), so the whole conversion is a
single hash shuffle on participant_uuid; the label-list fold
(FoldStrategies.list_of_labels, column_view_conversion.py:244-251) is
realised as collect-distinct of each message's latest per-scheme code
— exact because message-grain imputation guarantees one latest label
per configured scheme per message.

Fold determinism: the reference relies on Python list order; a
distributed engine must pick a total order, so raw-text concatenation
is ordered by (timestamp, message_id) and code lists are sorted.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .config import (
    AnalysisConfig,
    CONTROL_CODES,
    NOT_INTERNALLY_CONSISTENT,
    STOP,
    TRUE_MISSING,
    DEMOGRAPHIC,
)
from .imputation import latest_label_code


def consent_withdrawn_uuids(imputed: DataFrame) -> DataFrame:
    """G4: participants with any STOP-labelled message (reference
    code_imputation_functions.py:684-708)."""
    return (
        imputed.where(F.exists(F.col("labels"), lambda l: l["code_id"] == STOP))
        .select("participant_uuid")
        .distinct()
    )


def _fold_text_agg(cond: Column, alias: str) -> Column:
    """'; '-concatenation of text in (timestamp, message_id) order."""
    pair = F.when(cond, F.struct(
        F.col("timestamp"), F.col("message_id"), F.col("text").alias("__v")))
    return F.array_join(
        F.transform(F.array_sort(F.collect_list(pair)), lambda s: s["__v"]), "; "
    ).alias(alias)


def _codes_agg(cond: Column, scheme_id: str, alias: str) -> Column:
    """Sorted-distinct latest codes under a scheme (label-list fold)."""
    code = latest_label_code(F.col("labels"), scheme_id)
    return F.array_sort(F.array_distinct(F.collect_list(F.when(cond, code)))).alias(alias)


def _impute_tm(codes: Column) -> Column:
    """M6: no messages contributed → [TRUE_MISSING]."""
    return F.when(F.size(codes) == 0, F.array(F.lit(TRUE_MISSING))).otherwise(codes)


def _impute_nic(codes: Column) -> Column:
    """M7: ≥2 distinct Normal codes → replace normals with NIC, keep
    control codes (reference :595-681)."""
    normals = F.filter(codes, lambda c: ~c.isin(CONTROL_CODES))
    controls = F.filter(codes, lambda c: c.isin(CONTROL_CODES))
    return F.when(
        F.size(normals) >= 2,
        F.array_sort(F.array_distinct(F.concat(controls, F.array(F.lit(NOT_INTERNALLY_CONSISTENT))))),
    ).otherwise(codes)


def participants_by_column(imputed: DataFrame, config: AnalysisConfig) -> DataFrame:
    """G1: one row per participant; texts concatenated, label lists
    merged per scheme; M6/M7/M8 applied in reference order; F7
    demogs-only filter; G3 operators column."""
    rqa = config.rqa_datasets
    is_rqa = F.col("dataset").isin(rqa)

    aggs: list[Column] = []
    coded_fields: list[tuple[str, str]] = []  # (field, dataset_type)
    for d in config.datasets:
        is_d = F.col("dataset") == d.name
        aggs.append(_fold_text_agg(is_d, d.raw_field))
        for cc in d.coding_configs:
            aggs.append(_codes_agg(is_d, cc.scheme_id, "__" + cc.coded_field))
            coded_fields.append((cc.coded_field, d.dataset_type))
    aggs.append(F.array_sort(
        F.collect_set(F.when(is_rqa, F.col("channel_operator")))).alias("__operators"))
    # F7 folded into the same aggregation: a participant with no RQA
    # message is filtered AFTER the groupBy instead of via a semi-join
    # branch that would re-scan the input.
    aggs.append(F.max(is_rqa.cast("int")).alias("__has_rqa"))

    g = (
        imputed.groupBy("participant_uuid").agg(*aggs)
        .where(F.col("__has_rqa") == 1).drop("__has_rqa")
    )

    # M6 then M7 (demog columns only), reference order :844-863
    for field, ds_type in coded_fields:
        arr = _impute_tm(F.col("__" + field))
        if ds_type == DEMOGRAPHIC:
            arr = _impute_nic(arr)
        g = g.withColumn("__" + field, arr)

    # M8 consent cascade — deliberately last
    withdrawn = None
    for field, _ in coded_fields:
        c = F.array_contains(F.col("__" + field), STOP)
        withdrawn = c if withdrawn is None else (withdrawn | c)
    g = g.withColumn("__withdrawn", withdrawn)

    out_cols: list[Column] = [F.col("participant_uuid"),
                              F.when(F.col("__withdrawn"), "true").otherwise("false")
                              .alias("consent_withdrawn")]
    stop_lit = F.lit(STOP)
    for d in config.datasets:
        out_cols.append(
            F.when(F.col("__withdrawn"), stop_lit).otherwise(F.col(d.raw_field))
            .alias(d.raw_field))
        for cc in d.coding_configs:
            out_cols.append(
                F.when(F.col("__withdrawn"), stop_lit)
                .otherwise(F.array_join(F.col("__" + cc.coded_field), ";"))
                .alias(cc.coded_field))
    out_cols.append(
        F.when(F.col("__withdrawn"), stop_lit)
        .otherwise(F.array_join(F.col("__operators"), ";")).alias("operators"))
    return g.select(*out_cols)


def messages_by_column(imputed: DataFrame, config: AnalysisConfig) -> DataFrame:
    """G2/J3: one row per RQA message, with the participant's folded
    demographic columns joined on; M6/M7/M8 applied as in the
    participants view (reference column_view_conversion.py:291-358)."""
    rqa = config.rqa_datasets
    is_rqa = F.col("dataset").isin(rqa)

    # G4/M8's withdrawn flag as a window max over one shuffle on
    # participant_uuid — the same partitioning the demog fold and the
    # demog⋈RQA join need, so the exchange is computed once and reused
    # instead of a third scan + broadcast-join branch.
    stop_flag = F.exists(
        F.col("labels"), lambda l: l["code_id"] == STOP).cast("int")
    base = imputed.withColumn(
        "__withdrawn",
        F.max(stop_flag).over(Window.partitionBy("participant_uuid")) == 1)

    demogs = [d for d in config.datasets if d.dataset_type == DEMOGRAPHIC]
    aggs: list[Column] = []
    for d in demogs:
        is_d = F.col("dataset") == d.name
        aggs.append(_fold_text_agg(is_d, d.raw_field))
        for cc in d.coding_configs:
            aggs.append(_codes_agg(is_d, cc.scheme_id, "__" + cc.coded_field))
    demog_view = (
        base.where(~is_rqa).groupBy("participant_uuid").agg(*aggs)
    )

    rqa_rows = base.where(is_rqa)
    joined = rqa_rows.join(demog_view, "participant_uuid", "left")

    # Left-join misses → empty text / empty code lists, then M6/M7.
    for d in demogs:
        joined = joined.withColumn(d.raw_field, F.coalesce(F.col(d.raw_field), F.lit("")))
        for cc in d.coding_configs:
            col = "__" + cc.coded_field
            arr = F.coalesce(F.col(col), F.array().cast("array<string>"))
            joined = joined.withColumn(col, _impute_nic(_impute_tm(arr)))

    stop_lit = F.lit(STOP)
    out_cols: list[Column] = [
        F.col("participant_uuid"),
        F.col("message_id"),
        F.unix_micros(F.col("timestamp")).alias("timestamp_us"),
        F.col("dataset"),
        F.when(F.col("__withdrawn"), "true").otherwise("false").alias("consent_withdrawn"),
    ]
    for d in config.datasets:
        if d.dataset_type == DEMOGRAPHIC:
            out_cols.append(
                F.when(F.col("__withdrawn"), stop_lit).otherwise(F.col(d.raw_field))
                .alias(d.raw_field))
            for cc in d.coding_configs:
                out_cols.append(
                    F.when(F.col("__withdrawn"), stop_lit)
                    .otherwise(F.array_join(F.col("__" + cc.coded_field), ";"))
                    .alias(cc.coded_field))
        else:
            # The message's own RQA dataset fills its column; the other
            # RQA columns are TRUE_MISSING (M6).
            own = F.col("dataset") == d.name
            out_cols.append(
                F.when(F.col("__withdrawn"), stop_lit)
                .when(own, F.coalesce(F.col("text"), F.lit("")))
                .otherwise(F.lit("")).alias(d.raw_field))
            for cc in d.coding_configs:
                code = latest_label_code(F.col("labels"), cc.scheme_id)
                out_cols.append(
                    F.when(F.col("__withdrawn"), stop_lit)
                    .when(own, code)
                    .otherwise(F.lit(TRUE_MISSING)).alias(cc.coded_field))
    out_cols.append(
        F.when(F.col("__withdrawn"), stop_lit)
        .otherwise(F.col("channel_operator")).alias("operators"))
    return joined.select(*out_cols)


# --- incremental twins (change-feed consumers) ------------------------------
#
# The reference recomputes BOTH column views over the full corpus on
# every analysis run (column_view_conversion.py:291-413) — at scale
# the pipeline's most expensive stage. The folds are non-invertible
# (ordered '; ' concat, sorted-distinct label merge, the M6-M8
# participant-level cascade), so no flat retract-MV can maintain
# them; the incremental answer is the same trick top-k/K6 use
# (operators/topk.py:touched_group_slice): derive the touched
# PARTICIPANTS from the change feed (new payloads + the pre-change
# snapshot of updated/deleted keys, O(changed buckets)), then re-fold
# EXACTLY — but only those participants' rows, read bucket-sliced
# when the imputed-messages table is clustered on participant_uuid.
# A sync is O(touched participants' buckets + changed rows), never a
# corpus scan. Everything participant-grain (consent cascade, TM/NIC,
# F7) is self-contained within the slice because every rule reads
# only the participant's own rows.

def participants_view_incremental(spark, table_path: str,
                                  from_commit: int,
                                  config: AnalysisConfig) -> DataFrame:
    """G1 `participants_by_column` as a change-feed consumer: the
    exact re-fold of ONLY the participants touched since
    `from_commit` over the stored imputed-messages merge table.
    Returns their fresh view rows; a touched participant folding to
    nothing (lost their last RQA message — F7) simply drops out, and
    the maintainer deletes their row. Upsert + delete against the
    previous view state == a full recompute (oracle-pinned by the
    `participants_view_incr` registry query)."""
    from ..operators.topk import touched_group_slice

    sliced = touched_group_slice(spark, table_path, from_commit,
                                 ["participant_uuid"])
    if sliced is None:
        from ..streaming.ingest import read_merged_table

        return participants_by_column(
            read_merged_table(spark, table_path).limit(0), config)
    return participants_by_column(sliced[0], config)


def messages_view_incremental(spark, table_path: str,
                              from_commit: int,
                              config: AnalysisConfig) -> DataFrame:
    """G2 `messages_by_column` as a change-feed consumer — same
    touched-participant slice as the G1 twin (the demog fold, the
    withdrawn window and the demog⋈RQA join are all keyed on
    participant_uuid, so the participant IS the refold unit): returns
    the fresh per-RQA-message rows of every touched participant."""
    from ..operators.topk import touched_group_slice

    sliced = touched_group_slice(spark, table_path, from_commit,
                                 ["participant_uuid"])
    if sliced is None:
        from ..streaming.ingest import read_merged_table

        return messages_by_column(
            read_merged_table(spark, table_path).limit(0), config)
    return messages_by_column(sliced[0], config)


#: txn app id of the maintained participants-view table: the SOURCE
#: commit last folded in (refresh_value_index's replay-skip idiom).
_PVIEW_TXN = "__participants_view_src"


def build_participants_view(spark, table_path: str, view_path: str,
                            config: AnalysisConfig,
                            n_buckets: int | None = None) -> None:
    """Materialize G1 from the imputed-messages table's CURRENT
    snapshot — the only full fold the maintained view ever takes.
    Records the source commit it reflects, so the first
    `refresh_participants_view` continues from exactly here."""
    from ..streaming.ingest import (foreach_batch_upsert,
                                    read_merged_table,
                                    read_table_manifest)

    man = read_table_manifest(spark, table_path)
    if man is None:
        raise ValueError(f"{table_path} has no commits")
    view = participants_by_column(
        read_merged_table(spark, table_path), config)
    merge = foreach_batch_upsert(view_path, ["participant_uuid"],
                                 n_buckets=n_buckets,
                                 txn_app_id=_PVIEW_TXN,
                                 mode="latest_wins")
    merge(view, int(man["commit"]))


def _resolve_slice(spark, table_path: str, applied: int, current: int,
                   shared_slice) -> tuple:
    """The (live, touched, to_commit) a view refresh folds from —
    computed here, or taken from `shared_slice` when the caller
    (refresh_views) already derived it for a sibling view at the SAME
    watermark. A shared slice carries its window and is refused
    loudly on a from-commit mismatch: folding another window's slice
    would silently skip or double-fold rows. The refresh RECORDS the
    slice's to-commit, not a freshly-read head: a commit landing
    between the slice derivation and this refresh must stay pending
    (watermark below it), or its changes would be skipped forever —
    over-folding the same window again later is safe (the fold is an
    exact recompute of touched groups), skipping one is not."""
    from ..operators.topk import touched_group_slice

    if shared_slice is None:
        sliced = touched_group_slice(spark, table_path, applied,
                                     ["participant_uuid"])
        return sliced[0], sliced[1], current
    live, touched, from_commit, to_commit = shared_slice
    if from_commit != applied:
        raise ValueError(
            f"shared slice was derived at source commit {from_commit} "
            f"but this view's watermark is {applied} — refresh "
            "independently or re-derive the slice")
    return live, touched, to_commit


def refresh_participants_view(spark, table_path: str, view_path: str,
                              config: AnalysisConfig,
                              shared_slice=None) -> int | None:
    """Fold the source's change feed since the last refresh into the
    MATERIALIZED G1 view: exact re-fold of the touched participants
    (O(touched buckets + changed rows)), upsert their fresh rows,
    dv-delete participants that folded to nothing (lost their last
    RQA message — F7 — or were fully erased) in the same commit.
    Returns the source commit now reflected (None = already current).
    Crash-replay safe the same way `refresh_value_index` is: the one
    commit's txn watermark skips an already-applied refresh, deletes
    included. `shared_slice` (from `refresh_views`) reuses one feed
    diff across sibling views at the same watermark."""
    from ..streaming.ingest import (foreach_batch_upsert, maybe_compact,
                                    read_table_manifest)

    src_man = read_table_manifest(spark, table_path)
    v_man = read_table_manifest(spark, view_path)
    if src_man is None or v_man is None:
        raise ValueError("source and view must both exist")
    if _PVIEW_TXN not in v_man.get("txn", {}):
        raise ValueError(
            f"{view_path} carries no {_PVIEW_TXN} watermark — not a "
            "view this maintainer owns")
    applied = int(v_man["txn"][_PVIEW_TXN])
    current = int(src_man["commit"])
    if current <= applied:
        return None
    live, touched, current = _resolve_slice(spark, table_path, applied,
                                            current, shared_slice)
    # materialize the fold once: the merge's probe and its write
    # would otherwise each re-run the feed-diff + re-fold DAG
    fresh = participants_by_column(live, config).localCheckpoint()
    # every touched participant is deleted and the fold's rows come
    # back in the same commit (deletes apply first): the ones that
    # folded to nothing stay gone
    merge = foreach_batch_upsert(view_path, ["participant_uuid"],
                                 txn_app_id=_PVIEW_TXN,
                                 mode="latest_wins")
    merge(fresh, current, deletes=touched)
    maybe_compact(spark, view_path)
    return current


#: txn app id of the maintained messages-view table.
_MVIEW_TXN = "__messages_view_src"


def build_messages_view(spark, table_path: str, view_path: str,
                        config: AnalysisConfig,
                        n_buckets: int | None = None) -> None:
    """Materialize G2 from the imputed-messages table's CURRENT
    snapshot: one row per RQA message, CLUSTERED on participant_uuid
    (the refresh grain — a demog change re-derives ALL of its
    participant's message rows, so co-locating them makes the
    stale-row sweep a one-bucket read per touched participant)."""
    from ..streaming.ingest import (foreach_batch_upsert,
                                    read_merged_table,
                                    read_table_manifest)

    man = read_table_manifest(spark, table_path)
    if man is None:
        raise ValueError(f"{table_path} has no commits")
    view = messages_by_column(
        read_merged_table(spark, table_path), config)
    merge = foreach_batch_upsert(view_path, ["message_id"],
                                 n_buckets=n_buckets,
                                 bucket_cols=["participant_uuid"],
                                 txn_app_id=_MVIEW_TXN,
                                 mode="latest_wins")
    merge(view, int(man["commit"]))


def refresh_messages_view(spark, table_path: str, view_path: str,
                          config: AnalysisConfig,
                          shared_slice=None) -> int | None:
    """Fold the source's change feed into the MATERIALIZED G2 view:
    message-grain state, PARTICIPANT-grain refresh (a demog or
    consent change rewrites every message row of its sender) — fresh
    rows upserted by message_id, stale rows (deleted messages, or
    messages whose participant no longer clears F7) deleted in the
    same commit. The stale sweep reads only the touched participants'
    VIEW buckets (the view is clustered on participant_uuid, so the
    stale keys carry it). `shared_slice` (from `refresh_views`)
    reuses one feed diff across sibling views at the same
    watermark."""
    from ..operators.topk import group_rows_slice
    from ..streaming.ingest import (foreach_batch_upsert, maybe_compact,
                                    read_table_manifest)

    src_man = read_table_manifest(spark, table_path)
    v_man = read_table_manifest(spark, view_path)
    if src_man is None or v_man is None:
        raise ValueError("source and view must both exist")
    if _MVIEW_TXN not in v_man.get("txn", {}):
        raise ValueError(
            f"{view_path} carries no {_MVIEW_TXN} watermark — not a "
            "view this maintainer owns")
    applied = int(v_man["txn"][_MVIEW_TXN])
    current = int(src_man["commit"])
    if current <= applied:
        return None
    live, touched, current = _resolve_slice(spark, table_path, applied,
                                            current, shared_slice)
    # materialize the fold once: the stale sweep and the merge would
    # otherwise each re-run the feed-diff + re-fold DAG
    fresh = messages_by_column(live, config).localCheckpoint()
    old_rows = group_rows_slice(spark, view_path, touched,
                                ["participant_uuid"])
    gone = (old_rows.select("message_id", "participant_uuid")
            .join(fresh.select("message_id"), "message_id", "left_anti"))
    merge = foreach_batch_upsert(view_path, ["message_id"],
                                 txn_app_id=_MVIEW_TXN,
                                 mode="latest_wins")
    merge(fresh, current, deletes=gone)
    maybe_compact(spark, view_path)
    return current


def refresh_views(spark, table_path: str, pview_path: str,
                  mview_path: str, config: AnalysisConfig
                  ) -> dict[str, int | None]:
    """Advance BOTH maintained column views (G1 + G2) with ONE feed
    diff + touched-set derivation — the pull-side analog of
    `streaming.drain.fan_out`: co-maintained views sit at the same
    source watermark after every sync, so deriving
    `touched_group_slice` once and folding both views from it halves
    the per-sync feed work (the feed diff with its pre-images and the
    touched-set checkpoint; the folds themselves are
    view-specific and cannot be shared). When the watermarks DIVERGE
    (one view was built later, or a previous run died between the
    two refreshes), each view refreshes independently over its own
    window — the shared slice is only ever used where it is exactly
    both views' window, enforced again inside `_resolve_slice`.

    Returns {"participants": commit|None, "messages": commit|None}
    (None = that view was already current)."""
    from ..operators.topk import touched_group_slice
    from ..streaming.ingest import read_table_manifest

    src_man = read_table_manifest(spark, table_path)
    p_man = read_table_manifest(spark, pview_path)
    m_man = read_table_manifest(spark, mview_path)
    if src_man is None or p_man is None or m_man is None:
        raise ValueError("source and both views must exist")
    current = int(src_man["commit"])
    try:
        applied_p = int(p_man["txn"][_PVIEW_TXN])
        applied_m = int(m_man["txn"][_MVIEW_TXN])
    except KeyError as e:
        raise ValueError(
            f"view missing its maintainer watermark: {e}") from e
    shared = None
    if applied_p == applied_m and current > applied_p:
        # `current` is read BEFORE the slice derivation, so the slice
        # reflects at least `current`; both refreshes record exactly
        # `current` (via the tuple's to-commit), leaving any commit
        # that lands mid-refresh pending for the next sync instead of
        # silently skipping it under a fresher watermark
        live, touched = touched_group_slice(spark, table_path,
                                            applied_p,
                                            ["participant_uuid"])
        shared = (live, touched, applied_p, current)
    return {
        "participants": refresh_participants_view(
            spark, table_path, pview_path, config,
            shared_slice=shared),
        "messages": refresh_messages_view(
            spark, table_path, mview_path, config,
            shared_slice=shared),
    }
