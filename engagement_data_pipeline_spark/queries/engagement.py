"""Engagement-pipeline queries (SURVEY §2.3/§2.5/§2.6) with DuckDB
oracles over the same events parquet.

Each query runs the real nested-schema pipeline (synthetic messages →
operators → imputation → views) and projects scalar columns for the
driver's hash compare. The oracle SQL re-derives a flattened mirror —
and everything config-shaped (scheme names, columns, buckets, control
codes) is *generated from the same AnalysisConfig*, so the two engines
cannot drift on configuration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..analysis.pipeline import AnalysisRun, generate_analysis_files
from ..analysis.spine import fetch_messages, filter_messages
from ..labels.config import (
    AGE_BUCKETS,
    CONTROL_CODES,
    DEMOGRAPHIC,
    SYNTHETIC_CONFIG,
)
from ..labels.imputation import latest_label_code
from ..operators.folds import fold_concat
from ..sources.synthetic import RQA_DATASETS, latest_cte, synthetic_messages
from ._helpers import apply_runtime_conf, micros

CONFIG = SYNTHETIC_CONFIG


# One memo for every shared spine stage, per (session, sf_dir, stage).
# DataFrames are immutable, so the lazy plan objects can be handed to
# every query that builds on them: constructing the synthetic-messages
# projection alone costs ~3s of driver-side py4j calls, and ~8 registry
# queries start from it. Two entries also hold DATA: `_messages` and
# the "run" entry (the imputed grain, both column views and the
# A-series tables, which `generate_analysis_files` localCheckpoints).
# Checkpoint blocks cannot be released with unpersist/clearCache; they
# are held until the memo entry's frames are dropped, so a long
# session over many sf_dirs accumulates them. They also do not survive
# executor loss — a production deployment uses
# `generate_analysis_files(stage_dir=...)`.
#
# Keyed on applicationId, not id(spark): a stopped session's id() can
# be reused by a new SparkSession, which would hand out DataFrames
# bound to the dead session; applicationId is unique per app.
_PLAN_CACHE: dict[tuple[str, str, str], object] = {}


def _session_key(spark: SparkSession) -> str:
    return spark.sparkContext.applicationId


def _plan(spark: SparkSession, sf_dir: str, stage: str, build):
    key = (_session_key(spark), sf_dir, stage)
    hit = _PLAN_CACHE.get(key)
    if hit is None:
        hit = _PLAN_CACHE[key] = build()
    return hit


def _messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The versioned messages table. In production this is a STORED
    table; the synthetic derivation models reading it, so the memo
    materializes it once per session (localCheckpoint — same measured
    rationale as the run's stages: ~15 consumers otherwise re-analyze
    and re-execute the nested label-struct projection per query)."""
    apply_runtime_conf(spark)
    return _plan(spark, sf_dir, "messages",
                 lambda: synthetic_messages(spark, sf_dir)
                 .localCheckpoint(eager=False))


def _resolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _plan(spark, sf_dir, "resolved",
                 lambda: fetch_messages(_messages(spark, sf_dir)))


def _filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _plan(
        spark, sf_dir, "filtered",
        lambda: filter_messages(_resolved(spark, sf_dir),
                                CONFIG.rqa_datasets,
                                CONFIG.rqa_start, CONFIG.rqa_end,
                                CONFIG.test_participants))


def _run(spark: SparkSession, sf_dir: str) -> AnalysisRun:
    """The public `generate_analysis_files` over the session's messages,
    once per (session, sf_dir): the views, A-series and every query on
    the imputed grain read its frames, so the oracle checks the entry
    point itself."""
    return _plan(spark, sf_dir, "run",
                 lambda: generate_analysis_files(_messages(spark, sf_dir),
                                                 CONFIG))


def _imputed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir).imputed


# ---------------------------------------------------------------------------
# Shared oracle CTE fragments (DuckDB). The flattened mirror of the
# message-grain pipeline: latest → resolved (F4) → filtered (F5/F6) →
# imp (M1/M3/M4 final codes per scheme).
# ---------------------------------------------------------------------------

def _sql_quoted(vals) -> str:
    return ", ".join(f"'{v}'" for v in vals)


_RQA_IN = f"({_sql_quoted(CONFIG.rqa_datasets)})"
_CONTROL_IN = f"({_sql_quoted(CONTROL_CODES)})"


def _bucket_sql(expr: str) -> str:
    cases = "".join(
        f" WHEN {expr} BETWEEN {lo} AND {hi} THEN '{code}'"
        for lo, hi, code in AGE_BUCKETS
    )
    return f"CASE{cases} END"


_RESOLVED_CTE = latest_cte() + """,
live AS (SELECT * FROM latest WHERE status = 'live'),
stale AS (SELECT * FROM latest WHERE status = 'stale'),
resolved AS (
  SELECT * FROM live
  UNION ALL
  SELECT s.* FROM stale s
  WHERE NOT EXISTS (
    SELECT 1 FROM live l
    WHERE l.dataset = s.dataset AND l.participant_uuid = s.participant_uuid)
)
"""

_FILTERED_CTE = _RESOLVED_CTE + f""",
filtered AS (
  SELECT * FROM resolved
  WHERE (dataset NOT IN {_RQA_IN}
         OR (timestamp >= TIMESTAMP '{CONFIG.rqa_start}'
             AND timestamp <= TIMESTAMP '{CONFIG.rqa_end}'))
    AND participant_uuid NOT IN ({_sql_quoted(CONFIG.test_participants)})
)
"""

def _derived_location_cols() -> str:
    """One imp column per M5 location-level scheme, generated from the
    same config the Spark imputation reads."""
    cols = []
    for ds in CONFIG.datasets:
        for cc in ds.coding_configs:
            if cc.location_source is None:
                continue
            lookup = ("CASE label_code " + " ".join(
                f"WHEN '{s}' THEN '{d}'" for s, d in cc.location_map) + " END")
            cols.append(
                f"CASE WHEN dataset <> '{ds.name}' THEN NULL "
                f"WHEN text_empty THEN 'NC' "
                f"WHEN has_checked AND NOT has_unchecked THEN {lookup} "
                f"WHEN has_checked AND has_unchecked THEN 'CE' "
                f"ELSE 'NR' END AS {cc.scheme_id}_code")
    return ("," + ",\n    ".join(cols)) if cols else ""


_IMPUTED_CTE = _FILTERED_CTE + f""",
flags AS (
  SELECT *,
    (label_checked IS TRUE OR label2_checked IS TRUE) AS has_checked,
    (label_checked IS FALSE OR label2_checked IS FALSE) AS has_unchecked,
    (text IS NULL OR text = '') AS text_empty
  FROM filtered
),
imp AS (
  SELECT message_id, participant_uuid, dataset, timestamp, text,
         channel_operator, user_id, message_id AS mid,
    CASE WHEN text_empty THEN 'NC'
         WHEN has_checked AND NOT has_unchecked THEN label_code
         WHEN has_checked AND has_unchecked THEN 'CE'
         ELSE 'NR' END AS primary_code,
    CASE WHEN dataset NOT IN {_RQA_IN} THEN NULL
         WHEN text_empty THEN 'NC'
         WHEN has_checked AND NOT has_unchecked THEN label2_code
         WHEN has_checked AND has_unchecked THEN 'CE'
         ELSE 'NR' END AS sent_code,
    CASE WHEN dataset <> 'age' THEN NULL
         WHEN text_empty THEN 'NC'
         WHEN has_checked AND NOT has_unchecked THEN {_bucket_sql("(10 + user_id % 75)")}
         WHEN has_checked AND has_unchecked THEN 'CE'
         ELSE 'NR' END AS age_cat_code
    {_derived_location_cols()}
  FROM flags
)
"""


def _scheme_code_sql(dataset: str, scheme_id: str) -> str:
    """Which flattened `imp` column mirrors a given scheme's code."""
    if scheme_id == "age_category_scheme":
        return "age_cat_code"
    if scheme_id.endswith("_sentiment_scheme"):
        return "sent_code"
    for ds in CONFIG.datasets:
        for cc in ds.coding_configs:
            if cc.scheme_id == scheme_id and cc.location_source is not None:
                return f"{scheme_id}_code"
    return "primary_code"


# ---------------------------------------------------------------------------
# F1 latest-snapshot dedup
# ---------------------------------------------------------------------------

def messages_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 latest-snapshot dedup over the versioned messages table."""
    from ..operators.dedup import latest_snapshot

    latest = latest_snapshot(_messages(spark, sf_dir),
                             ["message_id"], ["last_updated", "message_id"])
    return latest.select(
        "message_id",
        "participant_uuid",
        "dataset",
        "status",
        F.get(F.col("previous_datasets"), 0).alias("previous_dataset"),
        F.get(F.col("labels"), 0)["code_id"].alias("label_code"),
        micros("last_updated").alias("last_updated_us"),
    )


MESSAGES_LATEST_SQL = "WITH " + latest_cte() + """
SELECT message_id, participant_uuid, dataset, status,
       previous_dataset,
       COALESCE(label2_code, label_code) AS label_code,
       epoch_us(last_updated) AS last_updated_us
FROM latest
"""


# ---------------------------------------------------------------------------
# F1+F4 fetch stage
# ---------------------------------------------------------------------------

def messages_resolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 + F4: full fetch stage (dedup then live/stale resolution)."""
    return _resolved(spark, sf_dir).select(
        "message_id", "participant_uuid", "dataset", "status")


MESSAGES_RESOLVED_SQL = "WITH " + _RESOLVED_CTE + """
SELECT message_id, participant_uuid, dataset, status FROM resolved
"""


# ---------------------------------------------------------------------------
# F5+F6 filter stage
# ---------------------------------------------------------------------------

def messages_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fetch + F5 RQA time-range (inclusive) + F6 test participants."""
    return _filtered(spark, sf_dir).select(
        "message_id", "participant_uuid", "dataset",
        micros("timestamp").alias("timestamp_us"),
    )


MESSAGES_FILTERED_SQL = "WITH " + _FILTERED_CTE + """
SELECT message_id, participant_uuid, dataset,
       epoch_us(timestamp) AS timestamp_us
FROM filtered
"""


# ---------------------------------------------------------------------------
# S2/S3/F2 incremental replay — cache + increment + retraction must
# reproduce the full fetch exactly, so its oracle IS the full-recompute
# SQL (MESSAGES_RESOLVED_SQL).
# ---------------------------------------------------------------------------

INCREMENTAL_WATERMARK = "2024-01-15 12:00:00"


def messages_resolved_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simulate a prior run at the watermark (cache = per-dataset
    latest snapshots with last_updated <= W), then replay the
    incremental path: increment > W, moved-message retraction, F1+F4.
    Must equal the full fetch bit-for-bit."""
    from ..operators.dedup import latest_snapshot
    from ..operators.incremental import incremental_fetch

    msgs = _messages(spark, sf_dir)
    w = F.lit(INCREMENTAL_WATERMARK).cast("timestamp")
    cached = latest_snapshot(msgs.where(F.col("last_updated") <= w),
                             ["message_id"], ["last_updated", "message_id"])
    out = incremental_fetch(msgs, cached,
                            CONFIG.rqa_datasets + CONFIG.demog_datasets,
                            INCREMENTAL_WATERMARK, INCREMENTAL_WATERMARK)
    return out.select("message_id", "participant_uuid", "dataset", "status")


# ---------------------------------------------------------------------------
# G1 text fold
# ---------------------------------------------------------------------------

def participants_fold_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 (text half): fold each participant's RQA messages per dataset
    into one '; '-joined string in (timestamp, message_id) order."""
    rqa = _resolved(spark, sf_dir).where(F.col("dataset").isin(RQA_DATASETS))
    return fold_concat(
        rqa, ["participant_uuid", "dataset"], "text",
        ["timestamp", "message_id"], sep="; ", out_col="folded_text",
        extra_aggs=[F.count(F.lit(1)).alias("n_messages")],
    )


PARTICIPANTS_FOLD_SQL = "WITH " + _RESOLVED_CTE + f"""
SELECT participant_uuid, dataset,
       string_agg(text, '; ' ORDER BY timestamp, message_id) AS folded_text,
       COUNT(*) AS n_messages
FROM resolved
WHERE dataset IN {_RQA_IN}
GROUP BY participant_uuid, dataset
"""


# ---------------------------------------------------------------------------
# M1/M3/M4 message-grain imputation (long format: one row per latest
# label per configured scheme)
# ---------------------------------------------------------------------------

def messages_imputed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Imputed latest codes per (message, scheme)."""
    imp = _imputed(spark, sf_dir)
    pairs = None
    for ds in CONFIG.datasets:
        arr = F.array(*[
            F.struct(F.lit(s).alias("scheme"),
                     latest_label_code(F.col("labels"), s).alias("code"))
            for s in ds.scheme_ids
        ])
        cond = F.col("dataset") == ds.name
        pairs = F.when(cond, arr) if pairs is None else pairs.when(cond, arr)
    return (
        imp.select("message_id", "participant_uuid", "dataset",
                   F.explode(pairs).alias("sc"))
        .select("message_id", "participant_uuid", "dataset",
                F.col("sc.scheme").alias("scheme"), F.col("sc.code").alias("code"))
    )


def _messages_imputed_sql() -> str:
    parts = []
    for ds in CONFIG.datasets:
        for cc in ds.coding_configs:
            col = _scheme_code_sql(ds.name, cc.scheme_id)
            parts.append(
                f"SELECT message_id, participant_uuid, dataset, "
                f"'{cc.scheme_id}' AS scheme, {col} AS code "
                f"FROM imp WHERE dataset = '{ds.name}'"
            )
    return "WITH " + _IMPUTED_CTE + "\n" + "\nUNION ALL\n".join(parts)


MESSAGES_IMPUTED_SQL = _messages_imputed_sql()


# ---------------------------------------------------------------------------
# G1/G2 column views with M6/M7/M8
# ---------------------------------------------------------------------------

def participants_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """participants_by_column: G1 folds + F7 + M6/M7/M8 + G3 — the
    run's materialized view (feeds K2/K6/K7, A-series and R1/R2)."""
    return _run(spark, sf_dir).participants_view


def messages_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """messages_by_column: G2/J3 + M6/M7/M8 — the run's materialized
    view (feeds A1-A3/A6/A7 and the K-series exports)."""
    return _run(spark, sf_dir).messages_view


_NIC_SQL = (
    "CASE WHEN len(list_filter({col}, c -> c NOT IN " + _CONTROL_IN + ")) >= 2 "
    "THEN list_sort(list_distinct(list_append(list_filter({col}, c -> c IN "
    + _CONTROL_IN + "), 'NIC'))) ELSE {col} END"
)


def _participants_view_sql(src: str = "imp", extra_cte: str = "",
                           final_join: str = "") -> str:
    """G1 oracle, parameterized for the incremental twin: `src` is the
    imp-shaped CTE the view folds (default the batch `imp`);
    `extra_cte` appends CTEs after imp (the final-state mirror and the
    touched set); `final_join` restricts the output (the incremental
    result covers touched participants only)."""
    # grouped: per-participant raw folds + code lists from `src`
    selects = []
    coded = []  # (field, is_demog)
    for d in CONFIG.datasets:
        selects.append(
            f"COALESCE(string_agg(text, '; ' ORDER BY timestamp, message_id) "
            f"FILTER (WHERE dataset = '{d.name}'), '') AS {d.raw_field}"
        )
        for cc in d.coding_configs:
            col = _scheme_code_sql(d.name, cc.scheme_id)
            selects.append(
                f"COALESCE(list_sort(list_distinct(list({col}) "
                f"FILTER (WHERE dataset = '{d.name}'))), CAST([] AS VARCHAR[])) "
                f"AS {cc.coded_field}"
            )
            coded.append((cc.coded_field, d.dataset_type == DEMOGRAPHIC))
    selects.append(
        f"COALESCE(list_sort(list_distinct(list(channel_operator) "
        f"FILTER (WHERE dataset IN {_RQA_IN}))), CAST([] AS VARCHAR[])) AS operators"
    )

    tm_cols = []
    for field, is_demog in coded:
        expr = f"CASE WHEN len({field}) = 0 THEN ['TM'] ELSE {field} END"
        if is_demog:
            expr = _NIC_SQL.format(col=f"({expr})")
        tm_cols.append(f"{expr} AS {field}")

    withdrawn = " OR ".join(f"list_contains({f}, 'STOP')" for f, _ in coded)

    out = ["participant_uuid",
           "CASE WHEN __w THEN 'true' ELSE 'false' END AS consent_withdrawn"]
    for d in CONFIG.datasets:
        out.append(f"CASE WHEN __w THEN 'STOP' ELSE {d.raw_field} END AS {d.raw_field}")
        for cc in d.coding_configs:
            out.append(
                f"CASE WHEN __w THEN 'STOP' ELSE array_to_string({cc.coded_field}, ';') END "
                f"AS {cc.coded_field}")
    out.append("CASE WHEN __w THEN 'STOP' ELSE array_to_string(operators, ';') END AS operators")

    raw_fields = ", ".join(d.raw_field for d in CONFIG.datasets)
    return (
        "WITH " + _IMPUTED_CTE + extra_cte + f""",
senders AS (SELECT DISTINCT participant_uuid FROM {src} WHERE dataset IN {_RQA_IN}),
grouped AS (
  SELECT {src}.participant_uuid, {', '.join(selects)}
  FROM {src} JOIN senders USING (participant_uuid)
  GROUP BY {src}.participant_uuid
),
tmv AS (
  SELECT participant_uuid, {raw_fields}, operators, {', '.join(tm_cols)}
  FROM grouped
),
cw AS (SELECT *, ({withdrawn}) AS __w FROM tmv)
SELECT {', '.join(out)} FROM cw {final_join}"""
    )


PARTICIPANTS_VIEW_SQL = _participants_view_sql()


def _messages_view_sql(src: str = "imp", extra_cte: str = "",
                       final_join: str = "") -> str:
    """G2 oracle, parameterized exactly like `_participants_view_sql`."""
    demogs = [d for d in CONFIG.datasets if d.dataset_type == DEMOGRAPHIC]
    dsel = []
    for d in demogs:
        dsel.append(
            f"COALESCE(string_agg(text, '; ' ORDER BY timestamp, message_id) "
            f"FILTER (WHERE dataset = '{d.name}'), '') AS {d.raw_field}"
        )
        for cc in d.coding_configs:
            col = _scheme_code_sql(d.name, cc.scheme_id)
            dsel.append(
                f"COALESCE(list_sort(list_distinct(list({col}) "
                f"FILTER (WHERE dataset = '{d.name}'))), CAST([] AS VARCHAR[])) "
                f"AS {cc.coded_field}"
            )

    # post-join TM/NIC per demog coded field
    fixes = []
    for d in demogs:
        fixes.append(f"COALESCE({d.raw_field}, '') AS {d.raw_field}")
        for cc in d.coding_configs:
            base = f"COALESCE({cc.coded_field}, CAST([] AS VARCHAR[]))"
            expr = f"CASE WHEN len({base}) = 0 THEN ['TM'] ELSE {base} END"
            expr = _NIC_SQL.format(col=f"({expr})")
            fixes.append(f"{expr} AS {cc.coded_field}")

    out = [
        "participant_uuid", "message_id", "epoch_us(timestamp) AS timestamp_us",
        "dataset",
        "CASE WHEN __w THEN 'true' ELSE 'false' END AS consent_withdrawn",
    ]
    for d in CONFIG.datasets:
        if d.dataset_type == DEMOGRAPHIC:
            out.append(f"CASE WHEN __w THEN 'STOP' ELSE {d.raw_field} END AS {d.raw_field}")
            for cc in d.coding_configs:
                out.append(
                    f"CASE WHEN __w THEN 'STOP' ELSE array_to_string({cc.coded_field}, ';') END "
                    f"AS {cc.coded_field}")
        else:
            out.append(
                f"CASE WHEN __w THEN 'STOP' WHEN dataset = '{d.name}' "
                f"THEN COALESCE(text, '') ELSE '' END AS {d.raw_field}")
            for cc in d.coding_configs:
                col = _scheme_code_sql(d.name, cc.scheme_id)
                out.append(
                    f"CASE WHEN __w THEN 'STOP' WHEN dataset = '{d.name}' "
                    f"THEN {col} ELSE 'TM' END AS {cc.coded_field}")
    out.append("CASE WHEN __w THEN 'STOP' ELSE channel_operator END AS operators")

    return (
        "WITH " + _IMPUTED_CTE + extra_cte + f""",
demog_g AS (
  SELECT participant_uuid, {', '.join(dsel)}
  FROM {src} WHERE dataset NOT IN {_RQA_IN}
  GROUP BY participant_uuid
),
withdrawn AS (SELECT DISTINCT participant_uuid FROM {src} WHERE primary_code = 'STOP'),
mj AS (
  SELECT r.*, {', '.join(fixes)},
         (w.participant_uuid IS NOT NULL) AS __w
  FROM (SELECT * FROM {src} WHERE dataset IN {_RQA_IN}) r
  LEFT JOIN demog_g d USING (participant_uuid)
  LEFT JOIN withdrawn w USING (participant_uuid)
)
SELECT {', '.join(out)} FROM mj {final_join}"""
    )


MESSAGES_VIEW_SQL = _messages_view_sql()


# ---------------------------------------------------------------------------
# G1/G2 incremental twins: touched-participant re-fold over an
# insert / recode / WS-move / dv-delete history
# ---------------------------------------------------------------------------
#
# The imputed message-grain frame is materialized as a merge table
# CLUSTERED on participant_uuid (stable: a message's participant never
# changes), then mutated:
#   commit 1: all imputed rows except eid % 13 == 7 (the base; eid is
#             the event id recovered from message_id = 'msg-'||eid —
#             both engines parse it identically)
#   commit 2: eid % 13 == 7 inserted late;
#             s01e01 rows with eid % 23 == 9 RECODED (theme ->
#             'theme_recoded' — an M12/Coda relabel arriving);
#             s01e02 rows with eid % 29 == 13 WS-MOVED to s01e01
#             (dataset + label scheme ids rewritten — M10);
#   commit 3: eid % 19 == 11 (base rows only) dv-deleted.
# The incremental twin re-folds ONLY the feed-touched participants;
# the oracle recomputes the full batch view over the mirrored final
# state and restricts it to the same participants.

_RECODE_EXPR = (
    "transform(labels, l -> CASE WHEN l.scheme_id = 's01e01_theme_scheme' "
    "THEN named_struct('scheme_id', l.scheme_id, 'code_id', 'theme_recoded', "
    "'date_time_utc', l.date_time_utc, 'checked', l.checked, "
    "'origin_id', l.origin_id) ELSE l END)")
_MOVE_EXPR = (
    "transform(labels, l -> named_struct("
    "'scheme_id', replace(l.scheme_id, 's01e02', 's01e01'), "
    "'code_id', l.code_id, 'date_time_utc', l.date_time_utc, "
    "'checked', l.checked, 'origin_id', l.origin_id))")

_EID = "CAST(substring(message_id, 5) AS BIGINT)"
_LATE = f"{_EID} % 13 = 7"
_RECODE = f"dataset = 's01e01' AND {_EID} % 23 = 9 AND {_EID} % 13 <> 7"
_MOVE = f"dataset = 's01e02' AND {_EID} % 29 = 13 AND {_EID} % 13 <> 7"
# excludes late rows: a row inserted AND deleted inside one feed
# window never appears in the snapshot diff, so its participant
# would not be touched — the oracle must mirror the feed exactly
_DEAD = f"{_EID} % 19 = 11 AND {_EID} % 13 <> 7"

_VIEWS_INCR_EXTRA_CTE = f""",
fin AS (
  SELECT * REPLACE (
    CASE WHEN {_MOVE} THEN 's01e01' ELSE dataset END AS dataset,
    CASE WHEN {_RECODE} THEN 'theme_recoded' ELSE primary_code END
      AS primary_code)
  FROM imp WHERE NOT ({_DEAD})
),
touched AS (
  SELECT DISTINCT participant_uuid FROM imp
  WHERE {_LATE} OR {_DEAD} OR ({_RECODE}) OR ({_MOVE})
)"""


def _views_history(spark: SparkSession, sf_dir: str, table: str,
                   on_commit=None) -> None:
    """Apply the 3-commit insert/recode/WS-move/delete history to
    `table`; `on_commit(n)` (optional) runs after each source commit —
    the hook the MAINTAINED-view fixture uses to refresh stepwise."""
    from ..streaming.ingest import delete_origins, foreach_batch_upsert

    imp = _imputed(spark, sf_dir).select(
        "message_id", "participant_uuid", "dataset", "timestamp",
        "text", "labels", "channel_operator")
    merge = foreach_batch_upsert(table, ["message_id"], n_buckets=8,
                                 bucket_cols=["participant_uuid"],
                                 txn_app_id="src",
                                 mode="latest_wins")
    merge(imp.where(f"NOT ({_LATE})"), 1)
    if on_commit is not None:
        on_commit(1)
    recode = (imp.where(_RECODE)
              .withColumn("labels", F.expr(_RECODE_EXPR)))
    move = (imp.where(_MOVE)
            .withColumn("dataset", F.lit("s01e01"))
            .withColumn("labels", F.expr(_MOVE_EXPR)))
    late = imp.where(_LATE)
    merge(recode.unionByName(move).unionByName(late), 2)
    if on_commit is not None:
        on_commit(2)
    # delete keys CARRY the bucket column (partial-key bucketing)
    delete_origins(spark, table,
                   imp.where(_DEAD)
                   .select("message_id", "participant_uuid"),
                   strategy="dv")
    if on_commit is not None:
        on_commit(3)


def _views_incr_fixture(spark: SparkSession, sf_dir: str) -> str:
    from ._helpers import fixture_dir

    def _build(path: str) -> None:
        import os

        _views_history(spark, sf_dir, os.path.join(path, "table"))

    import os

    return os.path.join(
        fixture_dir("views_incr", sf_dir, _build), "table")


def participants_view_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 `participants_by_column` as a change-feed consumer: after
    the recode / WS-move / delete commits, re-fold ONLY the touched
    participants (labels/views.py:participants_view_incremental) —
    the fold is non-invertible ('; ' concat in (timestamp,message_id)
    order, sorted-distinct code merge, the participant-level M6-M8
    cascade), so the exact bucket-sliced re-fold is the incremental
    answer. The oracle recomputes the batch view over the final state
    and restricts it to the same participants: every column must
    hash-match (reference column_view_conversion.py:291-413 recomputes
    the whole corpus per run)."""
    from ..labels.views import participants_view_incremental

    apply_runtime_conf(spark)
    table = _views_incr_fixture(spark, sf_dir)
    return participants_view_incremental(spark, table, 1, CONFIG)


PARTICIPANTS_VIEW_INCR_SQL = _participants_view_sql(
    src="fin", extra_cte=_VIEWS_INCR_EXTRA_CTE,
    final_join="JOIN touched USING (participant_uuid)")


def messages_view_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2 `messages_by_column` as a change-feed consumer — same
    touched-participant slice as G1 (demog fold, withdrawn window and
    demog⋈RQA join are all participant-keyed): the fresh per-message
    rows of every touched participant, oracle-checked against the
    batch view over the final state restricted to the same set."""
    from ..labels.views import messages_view_incremental

    apply_runtime_conf(spark)
    table = _views_incr_fixture(spark, sf_dir)
    return messages_view_incremental(spark, table, 1, CONFIG)


MESSAGES_VIEW_INCR_SQL = _messages_view_sql(
    src="fin", extra_cte=_VIEWS_INCR_EXTRA_CTE,
    final_join="JOIN touched USING (participant_uuid)")


def _views_sync_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Table + MAINTAINED G1 and G2 views: built at commit 1, then
    refreshed after every subsequent commit — both view states cross
    the whole recode/WS-move/delete history incrementally."""
    from ..labels.views import (build_messages_view,
                                build_participants_view, refresh_views)
    from ._helpers import fixture_dir

    def _build(path: str) -> None:
        import os

        table = os.path.join(path, "table")
        pview = os.path.join(path, "pview")
        mview = os.path.join(path, "mview")

        def _sync(commit: int) -> None:
            if commit == 1:
                build_participants_view(spark, table, pview, CONFIG,
                                        n_buckets=4)
                build_messages_view(spark, table, mview, CONFIG,
                                    n_buckets=4)
            else:
                # co-maintained views advance through the composed
                # refresher: ONE feed diff + touched set feeds both
                # folds (the shared slice the sync_* oracles certify)
                refresh_views(spark, table, pview, mview, CONFIG)

        _views_history(spark, sf_dir, table, on_commit=_sync)

    return fixture_dir("views_sync", sf_dir, _build)


def participants_view_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MAINTAINED G1 view table after stepwise refreshes across
    the insert / recode / WS-move / dv-delete history — upserts for
    re-folded participants, dv-deletes for participants whose fold
    vanished (F7). Read back in FULL and hash-compared against the
    batch recompute over the final state: the strongest form of the
    incremental-view proof (state equality, not just slice
    equality)."""
    import os

    from ..streaming.ingest import read_merged_table as _rmt

    apply_runtime_conf(spark)
    base = _views_sync_fixture(spark, sf_dir)
    return _rmt(spark, os.path.join(base, "pview"))


PARTICIPANTS_VIEW_SYNC_SQL = _participants_view_sql(
    src="fin", extra_cte=_VIEWS_INCR_EXTRA_CTE)


def messages_view_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MAINTAINED G2 view table after stepwise refreshes across
    the same history — message-grain upserts, participant-grain
    refresh (a recode rewrites one row; a WS-move rewrites the moved
    row; a delete sweeps the participant's stale rows). Full-state
    hash against the batch recompute over the final state."""
    import os

    from ..streaming.ingest import read_merged_table as _rmt

    apply_runtime_conf(spark)
    base = _views_sync_fixture(spark, sf_dir)
    return _rmt(spark, os.path.join(base, "mview"))


MESSAGES_VIEW_SYNC_SQL = _messages_view_sql(
    src="fin", extra_cte=_VIEWS_INCR_EXTRA_CTE)
