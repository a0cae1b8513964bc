"""END-TO-END incremental certification of the reference's full
analysis lifecycle (SURVEY §3.2) — the round-12 capstone.

The reference runs, daily, the composition fetch → filter → impute →
column views → exports → automated analysis over the WHOLE corpus
(run_pipeline.sh:29-57 → engagement_db_to_analysis.py:54-162). This
module proves the engine can run that exact composition
INCREMENTALLY, end to end, from one change-feed chain:

    raw messages table        (4-commit history: inserts, a theme
      │ change feed            recode, WS moves incl. a double-hop
      ▼                        and an M11 cycle, a late consent STOP,
                               a dv delete, an out-of-order commit
                               with M3 text-emptying updates)
    imputed messages table    row-local F5/F6 filter + M1-M5
      │ change feed            imputation (streaming/transform.py)
      ▼
    maintained G1/G2 views    touched-participant re-folds
      │ change feeds           (labels/views.py refresh_views)
      ▼
    A-series MV states        one drain per view feed, fan_out over
    K2/K3 export tables        mv_stream_sink + transform tables

The history covers the reference's full mutation alphabet: base
inserts, late inserts, a checked recode, an authored dataset
relocation, a late consent STOP, a dv delete — and (commits 2+4,
computed by the REAL labels/ws_correction.py operator, never by
hand) a WS single hop, a WS double-hop s01e02→s01e01→age, and an
M11 cycle s01e02→s01e01→(back) whose reset empties the move history
and clears labels (reference lib.py:257-339) — plus delete-then-
resync: a third of the dv-deleted rows are re-upserted with base
content, so the feed carries delete -> insert for the same key and
every maintained artifact retracts then re-adds. Commit 4 is
OUT-OF-ORDER: its M3 text-emptying updates carry last_updated values
OLDER than the rows they replace, proving maintenance is
commit-ordered, not event-time-ordered.

Each of the four source commits triggers ONE composed pipeline run
(analysis/runner.py) recorded in a RUN MANIFEST; after run 4 every
maintained artifact is read back IN FULL and checksum-compared
against a from-scratch batch recompute over the final raw state —
the DuckDB oracle recomputes the same artifacts from the mirrored
history (`fin` CTE), so one green `e2e_incremental_run` row per
artifact certifies maintained == batch for the whole chain.

Scale story: a day's sync of this composition costs O(changed
buckets + changed rows) at every stage — raw feed → imputed upserts,
touched-participant view re-folds, MV delta folds, export-row
rewrites — never a corpus scan; the batch recompute the oracle runs
is exactly the work the incremental chain avoids.
"""

from __future__ import annotations

import math
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..analysis import automated
from ..analysis.runner import run_incremental_pipeline
from ..analysis.spine import filter_messages
from ..labels.config import (
    CONTROL_CODES,
    DEMOGRAPHIC,
    RESEARCH_QUESTION_ANSWER,
    WS,
)
from ..labels.imputation import impute_message_grain, latest_label_code
from ..labels.views import (
    build_messages_view,
    build_participants_view,
    refresh_views,
)
from ..labels.ws_correction import WS_SCHEME_ID, apply_ws_correction
from ..sinks.exports import analysis_matrix, analysis_matrix_headers
from ..streaming import mv as MV
# the benchmark's traced runs patch and name this module attribute
from ..streaming.drain import drain_changes as drain_changes_direct
from ..streaming.drain import fan_out
from ..streaming.ingest import (
    delete_origins,
    foreach_batch_upsert,
    read_merged_table,
    read_table_manifest,
)
from ..streaming.transform import (
    build_transform_table,
    refresh_transform_table,
)
from ..training import ann_index as AI
from ..training import ranking as RK
from . import engagement
from ._helpers import apply_runtime_conf, fixture_dir
from .engagement import CONFIG
from .families import member_checksum, member_checksum_sql
from .sinks_sources import SCHEME_CODES

# ---------------------------------------------------------------------------
# The history (all predicates mirrored in SQL over the eid recovered
# from message_id = 'msg-<eid>'; both engines parse it identically)
# ---------------------------------------------------------------------------

_EID = "CAST(substring(message_id, 5) AS BIGINT)"
#: inserted late (commit 2), not in the base commit
_LATE = f"{_EID} % 13 = 7"
#: commit 2: s01e01 labels replaced by a checked recode (M12/Coda
#: relabel arriving through the feed)
_RECODE = f"dataset = 's01e01' AND {_EID} % 23 = 9 AND NOT ({_LATE})"
#: commit 2: a late consent STOP — flips the participant's M8 cascade
_STOPPED = (f"dataset = 's01e01' AND {_EID} % 31 = 17 "
            f"AND {_EID} % 23 <> 9 AND NOT ({_LATE})")
#: commit 2: WS move s01e02 -> s01e01 (M10: dataset + scheme ids move)
_MOVE = f"dataset = 's01e02' AND {_EID} % 29 = 13 AND NOT ({_LATE})"
#: commit 3: dv-deleted
_DEAD = f"{_EID} % 19 = 11"
#: commit 4: a third of the dv-deleted rows are RE-SYNCED with their
#: base content (the reference's delete-then-resync: the upsert of a
#: dv-deleted key revives it; the feed shows delete -> insert and
#: every maintained artifact must retract then re-add)
_REVIVED = f"({_DEAD}) AND {_EID} % 3 = 0"
#: commit 4 (out-of-order): text emptied (M3 -> NC), last_updated
#: OLDER than the replaced row's — commit order must win anyway
_EMPTIED = (f"dataset = 's01e01' AND {_EID} % 41 = 5 AND NOT ({_LATE}) "
            f"AND {_EID} % 23 <> 9 AND {_EID} % 31 <> 17 "
            f"AND {_EID} % 19 <> 11")
#: WS-corrected s01e02->s01e01 at commit 2, corrected BACK at commit 4
#: -> M11 cycle reset: first previous dataset restored, history
#: emptied, labels cleared (-> NR codes under the original dataset)
_CYCLE = (f"dataset = 's01e02' AND {_EID} % 43 = 21 AND NOT ({_LATE}) "
          f"AND {_EID} % 29 <> 13 AND {_EID} % 19 <> 11")
#: WS double-hop: s01e02->s01e01 at commit 2, s01e01->age at commit 4
#: (a second plain M10 move — 'age' is not in the move history). The
#: RQA-window condition keeps the class inside rows the F5 filter
#: passes under EITHER dataset (an out-of-window s01e02 row would be
#: invisible to the imp-level mirror but visible once demographic).
_HOP2 = (f"dataset = 's01e02' AND {_EID} % 47 = 29 AND NOT ({_LATE}) "
         f"AND {_EID} % 29 <> 13 AND {_EID} % 43 <> 21 "
         f"AND {_EID} % 19 <> 11 "
         f"AND timestamp >= TIMESTAMP '{CONFIG.rqa_start}' "
         f"AND timestamp <= TIMESTAMP '{CONFIG.rqa_end}'")

_LABEL_FIELDS = ("'date_time_utc', last_updated, 'checked', true, "
                 "'origin_id', 'e2e:relabel'")
#: replacement labels: one CHECKED label per configured scheme, so M1
#: keeps them verbatim (text is never empty on RQA rows; were it, M3
#: would yield NC in both engines)
_RECODE_LABELS = (
    "array(named_struct('scheme_id', 's01e01_theme_scheme', "
    f"'code_id', 'theme_recoded', {_LABEL_FIELDS}), "
    "named_struct('scheme_id', 's01e01_sentiment_scheme', "
    f"'code_id', 'scode_recoded', {_LABEL_FIELDS}))")
_STOP_LABELS = (
    "array(named_struct('scheme_id', 's01e01_theme_scheme', "
    f"'code_id', 'STOP', {_LABEL_FIELDS}), "
    "named_struct('scheme_id', 's01e01_sentiment_scheme', "
    f"'code_id', 'STOP', {_LABEL_FIELDS}))")
#: the move rewrites scheme ids with the dataset (labels keep their
#: checked mix — imputation then runs under the NEW dataset's config,
#: which is scheme-for-scheme symmetric, so the flattened codes are
#: unchanged and only `dataset` moves in the mirror)
_MOVE_LABELS = (
    "transform(labels, l -> named_struct("
    "'scheme_id', replace(l.scheme_id, 's01e02', 's01e01'), "
    "'code_id', l.code_id, 'date_time_utc', l.date_time_utc, "
    "'checked', l.checked, 'origin_id', l.origin_id))")

#: WS-scheme code id -> target dataset (the reference resolves this
#: from the WS scheme's code config, lib.py:222-253)
_WS_CODE_TO_DS = {"ws_to_s01e01": "s01e01", "ws_to_s01e02": "s01e02",
                  "ws_to_age": "age"}


def _ws_labels(theme_scheme: str, ws_code: str) -> str:
    """A checked WS control code in the current dataset's theme scheme
    plus a checked target code in the WS scheme — exactly the label
    state that triggers an M10/M11 correction."""
    return (f"array(named_struct('scheme_id', '{theme_scheme}', "
            f"'code_id', '{WS}', {_LABEL_FIELDS}), "
            f"named_struct('scheme_id', '{WS_SCHEME_ID}', "
            f"'code_id', '{ws_code}', {_LABEL_FIELDS}))")


def _ws_moved(res: DataFrame, pred: str, cur_dataset: str,
              prev_datasets: list[str], ws_code: str) -> DataFrame:
    """The coda-sync analog: stage the rows matching `pred` in their
    pre-correction state (current dataset + move history + the
    WS-label pair), run the REAL M10/M11 operator
    (labels/ws_correction.py, reference lib.py:202-456), and project
    the corrected rows as the raw-feed update the sync would write
    back to the engagement DB. previous_datasets lives upstream (the
    sync's own state), never in the raw table — exactly the
    reference's split."""
    staged = (res.where(pred)
              .withColumn("dataset", F.lit(cur_dataset))
              .withColumn("previous_datasets",
                          F.array(*[F.lit(p) for p in prev_datasets])
                          .cast("array<string>"))
              .withColumn("labels",
                          F.expr(_ws_labels(f"{cur_dataset}_theme_scheme",
                                            ws_code))))
    moved = apply_ws_correction(
        staged,
        normal_schemes=[f"{cur_dataset}_theme_scheme",
                        f"{cur_dataset}_sentiment_scheme"],
        code_to_dataset=_WS_CODE_TO_DS)
    return moved.select(*_RAW_COLS)

#: final-state mirror at the flattened `imp` level: the recode/STOP
#: replacements are all-checked single labels per scheme (M1 keeps,
#: M2 XOR false, M4/M5 not configured for s01e01), so they land as
#: plain code substitutions; the move only relocates `dataset`.
#:
#: LIMITATION (deliberate): this mirror re-states the history from
#: the same _RECODE/_STOPPED/... predicate strings that drive the
#: fixture's mutations, so a bug in the mutation predicates
#: themselves is invisible to the checksum (both sides would agree
#: on the wrong history). What the comparison DOES catch — its whole
#: point — is incremental-vs-batch divergence: the artifact recompute
#: reuses the independent batch view SQL, so any maintained state
#: drifting from what a from-scratch run over the final raw rows
#: would produce fails the hash.
_E2E_CTE = f""",
fin AS (
  SELECT * REPLACE (
    CASE WHEN {_REVIVED} THEN dataset
         WHEN {_MOVE} THEN 's01e01'
         WHEN {_HOP2} THEN 'age' ELSE dataset END AS dataset,
    CASE WHEN {_EMPTIED} THEN '' ELSE text END AS text,
    CASE WHEN {_REVIVED} THEN primary_code
         WHEN {_RECODE} THEN 'theme_recoded'
         WHEN {_STOPPED} THEN 'STOP'
         WHEN {_EMPTIED} THEN 'NC'
         WHEN ({_CYCLE}) OR ({_HOP2}) THEN 'NR'
         ELSE primary_code END AS primary_code,
    CASE WHEN {_REVIVED} THEN sent_code
         WHEN {_RECODE} THEN 'scode_recoded'
         WHEN {_STOPPED} THEN 'STOP'
         WHEN {_EMPTIED} THEN 'NC'
         WHEN {_CYCLE} THEN 'NR'
         WHEN {_HOP2} THEN NULL
         ELSE sent_code END AS sent_code,
    CASE WHEN {_HOP2} THEN 'NR' ELSE age_cat_code END AS age_cat_code)
  FROM imp WHERE NOT ({_DEAD}) OR ({_REVIVED})
)"""

_RAW_COLS = ["message_id", "participant_uuid", "dataset", "timestamp",
             "text", "labels", "channel_operator", "last_updated"]


# ---------------------------------------------------------------------------
# Stage definitions (the composition the runner executes per commit)
# ---------------------------------------------------------------------------

def _impute_tf(df: DataFrame) -> DataFrame:
    """Row-local stage-1 transform: F5/F6 filter + M1-M5 imputation
    (each raw row -> 0 or 1 imputed rows)."""
    return impute_message_grain(
        filter_messages(df, CONFIG.rqa_datasets, CONFIG.rqa_start,
                        CONFIG.rqa_end, CONFIG.test_participants),
        CONFIG)


_RQA_CCS = [(d, cc) for d in CONFIG.datasets
            if d.dataset_type == RESEARCH_QUESTION_ANSWER
            for cc in d.coding_configs]
_DEMOG_CCS = [(d, cc) for d in CONFIG.datasets
              if d.dataset_type == DEMOGRAPHIC
              for cc in d.coding_configs]

def _consenting():
    # built lazily: module import must not require an active session
    return F.col("consent_withdrawn") == "false"

# A-series MV shapes over the maintained view feeds. Every prepare is
# row-local (filter/select/explode over ONE view row), so retraction
# maintenance is exact; consent flips arrive as row UPDATES because
# the G2 view materializes the participant-level cascade per message
# row — the composition solves structurally what a1_mv_cascade needs
# two states for.
A1_METRICS = {"n_messages": ("message_id", "count")}
A3_METRICS = {"n_messages": ("scheme", "count")}
A4_METRICS = {"n_participants": ("field", "count")}
A5_METRICS = {"n_participants": ("code_a", "count")}
A7_METRICS = {"n_messages": ("dataset", "count")}
A8_METRICS = {"n_participants": ("location_code", "count")}
A9_METRICS = {"n_rows": ("participant_uuid", "count")}


def _a1_prepare(df: DataFrame) -> DataFrame:
    return df.where(_consenting()).select("dataset", "participant_uuid",
                                        "message_id")


def _a3_prepare(df: DataFrame) -> DataFrame:
    entries = F.array(*[
        F.when(F.col("dataset") == d.name,
               F.struct(F.lit(cc.scheme_id).alias("scheme"),
                        F.col(cc.coded_field).alias("code")))
        for d, cc in _RQA_CCS])
    return (df.where(_consenting())
            .select("dataset", F.col("gender_codes").alias("breakdown"),
                    F.explode(F.filter(entries,
                                       lambda x: x.isNotNull())).alias("e"))
            .select("dataset", F.col("e.scheme").alias("scheme"),
                    F.col("e.code").alias("code"), "breakdown"))


def _a4_prepare(df: DataFrame) -> DataFrame:
    entries = F.array(*[
        F.struct(F.lit(cc.coded_field).alias("field"),
                 F.split(F.col(cc.coded_field), ";").alias("codes"))
        for _, cc in _DEMOG_CCS])
    return (df.where(_consenting())
            .select(F.explode(entries).alias("e"))
            .select(F.col("e.field").alias("field"),
                    F.explode("e.codes").alias("code")))


def _a5_prepare(df: DataFrame) -> DataFrame:
    return (df.where(_consenting())
            .select(F.col("gender_codes").alias("code_a"),
                    F.col("age_category_codes").alias("code_b")))


def _a7_prepare(df: DataFrame) -> DataFrame:
    day = (F.expr(f"timestamp_us div {automated.MICROS_PER_DAY}")
           * automated.MICROS_PER_DAY).alias("day_us")
    return df.where(_consenting()).select(day, "dataset")


def _a8_prepare(df: DataFrame) -> DataFrame:
    return (df.where(_consenting())
            .select(F.explode(F.split(F.col("location_codes"), ";"))
                    .alias("location_code")))


def _a9_prepare(df: DataFrame) -> DataFrame:
    relevant = None
    for d, cc in _RQA_CCS:
        c = ((F.col("dataset") == d.name)
             & ~F.col(cc.coded_field).isin(CONTROL_CODES))
        relevant = c if relevant is None else (relevant | c)
    return df.where(_consenting() & relevant).select("participant_uuid")


_MV_SINKS = [  # (subdir, group_cols, metrics, prepare, source_cols)
    ("mv_a1", ["dataset", "participant_uuid"], A1_METRICS, _a1_prepare,
     ["dataset", "participant_uuid", "message_id", "consent_withdrawn"]),
    ("mv_a3", ["dataset", "scheme", "code", "breakdown"], A3_METRICS,
     _a3_prepare,
     ["dataset", "gender_codes", "consent_withdrawn"]
     + [cc.coded_field for _, cc in _RQA_CCS]),
    ("mv_a7", ["day_us", "dataset"], A7_METRICS, _a7_prepare,
     ["dataset", "timestamp_us", "consent_withdrawn"]),
    ("mv_a9", ["participant_uuid"], A9_METRICS, _a9_prepare,
     ["participant_uuid", "dataset", "consent_withdrawn"]
     + [cc.coded_field for _, cc in _RQA_CCS]),
]
_PV_SINKS = [
    ("mv_a4", ["field", "code"], A4_METRICS, _a4_prepare,
     ["consent_withdrawn"] + [cc.coded_field for _, cc in _DEMOG_CCS]),
    ("mv_a5", ["code_a", "code_b"], A5_METRICS, _a5_prepare,
     ["consent_withdrawn", "gender_codes", "age_category_codes"]),
    ("mv_a8", ["location_code"], A8_METRICS, _a8_prepare,
     ["consent_withdrawn", "location_codes"]),
]


# ---------------------------------------------------------------------------
# Index maintenance from the SAME view feed (search serving kept fresh
# by the daily run, not a separate rebuild job): the LSM text index
# and one ANN index generation track the G2 view's change feed exactly
# like the MV states do — one projected drain, fan_out over both index
# sinks. The reference has no serving indexes (its corpus fits a CSV);
# at 100 TB a training-data pipeline keeps BM25/ANN serving state
# fresh from the same feed, so the composed lifecycle maintains them
# too and the capstone checksums their state against a from-scratch
# recompute (the DuckDB oracle re-derives postings/cells from the
# mirrored final view state).
# ---------------------------------------------------------------------------

_RQA_DS = [d for d in CONFIG.datasets
           if d.dataset_type == RESEARCH_QUESTION_ANSWER]

#: pinned IVF quantizer for the e2e ANN generation. Centroids are
#: CONFIG, not training: the maintained-index proof needs a frozen
#: quantizer (retrain => rebuild, training/ann_index.py contract), and
#: pinning makes cell assignment oracle-expressible. Integer-valued
#: coords keep every dot product exact in double.
E2E_CENTS = [(cid, vec, math.sqrt(sum(x * x for x in vec)))
             for cid, vec in ((0, [1.0, 0.0, 0.0, 0.0]),
                              (1, [0.0, 1.0, 1.0, 0.0]),
                              (2, [4.0, 1.0, 1.0, 1.0]),
                              (3, [12.0, 3.0, 4.0, 1.0]))]


def _doc_text_col(old: bool):
    """A view row's OWN message text: the raw column of its dataset
    (the G2 view's other RQA columns are M6 placeholders, and demog
    columns are participant folds). `old=True` reads the change
    feed's `__old` pre-image twins instead."""
    suf = "__old" if old else ""
    out = None
    for d in _RQA_DS:
        cond = F.col("dataset" + suf) == d.name
        val = F.coalesce(F.col(d.raw_field + suf), F.lit(""))
        out = F.when(cond, val) if out is None else out.when(cond, val)
    return out.otherwise(F.lit(""))


def _embed_col(text):
    """Deterministic text embedding (4 shape features + a bias dim so
    no vector is zero-norm). A real deployment plugs a model here;
    the integer-valued double features make the quantizer's cosine
    argmin bit-identical to the DuckDB mirror."""
    return F.array(
        F.length(text).cast("double"),
        F.size(F.split(text, " ")).cast("double"),
        (F.length(text) - F.length(F.regexp_replace(text, "[aeiou]", "")))
        .cast("double"),
        F.lit(1.0))


def _index_feed(batch: DataFrame) -> DataFrame:
    """Map the G2 view's retract batch to the doc shape BOTH index
    sinks consume: (op, changed_cols, doc_id, doc_text/__old,
    embedding/__old). Text is derived, so changed_cols is re-derived
    too: an update whose derived text is unchanged is dropped by both
    sinks (their `touched` filter)."""
    new_t = _doc_text_col(False)
    old_t = _doc_text_col(True)
    changed = F.when(
        (F.col("op") == "update") & ~new_t.eqNullSafe(old_t),
        F.lit("doc_text,embedding")).otherwise(F.lit(""))
    return batch.select(
        "op", changed.alias("changed_cols"),
        F.col("message_id").alias("doc_id"),
        new_t.alias("doc_text"), old_t.alias("doc_text__old"),
        _embed_col(new_t).alias("embedding"),
        _embed_col(old_t).alias("embedding__old"))


def _k2_tf(mv: DataFrame) -> DataFrame:
    """K2 production columns, keyed by message_id for maintenance (the
    export drops the key column at read time)."""
    return mv.select("message_id", "participant_uuid", "timestamp_us",
                     *[d.raw_field for d in CONFIG.datasets])


def _k3_tf(pv: DataFrame) -> DataFrame:
    return analysis_matrix(pv, CONFIG, SCHEME_CODES)


def _pipeline_stages(spark: SparkSession, base: str,
                     n_buckets_data: int = 8, n_buckets_view: int = 4,
                     with_indexes: bool = True,
                     ) -> list[tuple[str, Callable[[], int | None]]]:
    """The composed lifecycle's stage list (imputed -> views ->
    analysis -> exports), reusable outside the fixture so tools can
    time stages individually (tools/e2e_pipeline_stress.py) or crash
    between them. Bucket counts are parameters because the scale
    story sizes buckets with the corpus (constant bucket bytes);
    `with_indexes=False` drops the two serving-index sinks from the
    analysis fan_out (the r13-shaped pipeline, for A/B
    measurement)."""
    raw = os.path.join(base, "raw")
    imputed = os.path.join(base, "imputed")
    pview = os.path.join(base, "pview")
    mview = os.path.join(base, "mview")

    def _stage_imputed() -> int | None:
        if read_table_manifest(spark, imputed) is None:
            build_transform_table(spark, raw, imputed, _impute_tf,
                                  ["message_id"],
                                  n_buckets=n_buckets_data,
                                  bucket_cols=["participant_uuid"])
            return int(read_table_manifest(spark, raw)["commit"])
        return refresh_transform_table(spark, raw, imputed, _impute_tf)

    def _stage_views() -> int | None:
        if read_table_manifest(spark, pview) is None:
            build_participants_view(spark, imputed, pview, CONFIG,
                                    n_buckets=n_buckets_view)
            build_messages_view(spark, imputed, mview, CONFIG,
                                n_buckets=n_buckets_view)
            return int(read_table_manifest(spark, imputed)["commit"])
        return refresh_views(spark, imputed, pview, mview,
                             CONFIG)["messages"]

    def _stage_analysis() -> int:
        # ONE scan of each view feed maintains all seven A-series
        # states (fan_out) — and, with_indexes, BOTH serving indexes
        # from the same mview scan: the text/ANN sinks ride the
        # persisted batch behind a projection (`_index_feed`), so
        # keeping search state fresh costs zero extra feed reads.
        # Each drain reads the change feed's batch form once per
        # pending commit (commit-id batch ids): no streaming query,
        # whose fixed cost (WAL + offset log + batch planning per
        # drain per run) made incrementality lose to full recompute
        # below ~x100 corpus. Exactly-once comes from sink txn
        # watermarks + the drain's atomic per-commit state file;
        # their first batch bootstraps each index from the
        # view-build commit's insert replay, so build and
        # maintenance are one code path.
        mv_sinks = [
            MV.mv_stream_sink(os.path.join(base, sub), gcols, metrics,
                              prepare=prep, source_cols=cols)
            for sub, gcols, metrics, prep, cols in _MV_SINKS]
        if with_indexes:
            text = RK.text_index_stream_sink(
                os.path.join(base, "text_idx"), "doc_text", "doc_id")
            ann = AI.ann_index_stream_sink(
                os.path.join(base, "ann_idx"), E2E_CENTS,
                id_col="doc_id", emb_col="embedding")
            mv_sinks.append(lambda b, i: text(_index_feed(b), i))
            mv_sinks.append(lambda b, i: ann(_index_feed(b), i))
        drain_changes_direct(spark, mview, fan_out(*mv_sinks),
                             state_path=os.path.join(base,
                                                     "drain_mview"))
        return drain_changes_direct(spark, pview, fan_out(*[
            MV.mv_stream_sink(os.path.join(base, sub), gcols, metrics,
                              prepare=prep, source_cols=cols)
            for sub, gcols, metrics, prep, cols in _PV_SINKS]),
            state_path=os.path.join(base, "drain_pview"))

    def _stage_exports() -> int | None:
        k2 = os.path.join(base, "k2")
        k3 = os.path.join(base, "k3")
        if read_table_manifest(spark, k2) is None:
            build_transform_table(spark, mview, k2, _k2_tf,
                                  ["message_id"],
                                  n_buckets=n_buckets_view,
                                  bucket_cols=["participant_uuid"])
            build_transform_table(spark, pview, k3, _k3_tf,
                                  ["participant_uuid"],
                                  n_buckets=n_buckets_view)
            return int(read_table_manifest(spark, mview)["commit"])
        refresh_transform_table(spark, pview, k3, _k3_tf)
        return refresh_transform_table(spark, mview, k2, _k2_tf)

    return [("imputed", _stage_imputed), ("views", _stage_views),
            ("analysis", _stage_analysis), ("exports", _stage_exports)]


def _run_pipeline_once(spark: SparkSession, base: str, commit: int) -> None:
    """One composed incremental run over everything pending in `raw`,
    under run-manifest bookkeeping."""
    run_incremental_pipeline(
        spark, os.path.join(base, "runs"), f"run{commit}",
        _pipeline_stages(spark, base))


def _e2e_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Raw table + 4-commit history, with ONE composed incremental
    pipeline run after each source commit."""
    def _build(path: str) -> None:
        raw = os.path.join(path, "raw")
        res = (engagement._resolved(spark, sf_dir).select(*_RAW_COLS)
               .localCheckpoint())
        merge = foreach_batch_upsert(raw, ["message_id"], n_buckets=8,
                                     bucket_cols=["participant_uuid"],
                                     txn_app_id="src",
                                     mode="latest_wins")
        merge(res.where(f"NOT ({_LATE})"), 1)
        _run_pipeline_once(spark, path, 1)
        recode = (res.where(_RECODE)
                  .withColumn("labels", F.expr(_RECODE_LABELS)))
        stop = (res.where(_STOPPED)
                .withColumn("labels", F.expr(_STOP_LABELS)))
        move = (res.where(_MOVE)
                .withColumn("dataset", F.lit("s01e01"))
                .withColumn("labels", F.expr(_MOVE_LABELS)))
        late = res.where(_LATE)
        # first hop for both WS classes: s01e02 -> s01e01, computed by
        # the real M10 operator over the staged pre-correction state
        hop1 = _ws_moved(res, f"({_CYCLE}) OR ({_HOP2})", "s01e02",
                         [], "ws_to_s01e01")
        merge(recode.unionByName(stop).unionByName(move)
              .unionByName(late).unionByName(hop1), 2)
        _run_pipeline_once(spark, path, 2)
        delete_origins(spark, raw,
                       res.where(_DEAD)
                       .select("message_id", "participant_uuid"),
                       strategy="dv")
        _run_pipeline_once(spark, path, 3)
        # commit 4 — out of order (last_updated regresses) and the
        # nasty half of the move alphabet:
        #  * M3: text emptied on live rows, event-time OLDER than what
        #    it replaces (commit order must win)
        #  * M11 cycle: s01e01 -> s01e02 where s01e02 is already in
        #    the move history -> reset to FIRST previous, labels
        #    cleared (via the real operator)
        #  * second hop of the double-hop: s01e01 -> age (plain M10;
        #    an RQA row becomes a demographic answer)
        #  * delete-then-resync: a third of the dv-deleted rows come
        #    back with their base content (upsert revives a dv key)
        emptied = (res.where(_EMPTIED)
                   .withColumn("text", F.lit(""))
                   .withColumn("last_updated",
                               F.expr("last_updated - INTERVAL 10 DAYS")))
        cycle_back = _ws_moved(res, _CYCLE, "s01e01", ["s01e02"],
                               "ws_to_s01e02")
        hop2 = _ws_moved(res, _HOP2, "s01e01", ["s01e02"], "ws_to_age")
        revive = res.where(_REVIVED)
        merge(emptied.unionByName(cycle_back).unionByName(hop2)
              .unionByName(revive), 4)
        _run_pipeline_once(spark, path, 4)

    return fixture_dir("e2e_run", sf_dir, _build)


# ---------------------------------------------------------------------------
# Readers over the maintained states
# ---------------------------------------------------------------------------

def _imputed_long(df: DataFrame) -> DataFrame:
    """Latest imputed code per (message, configured scheme) — the
    scalar projection of the nested imputed state (mirrors
    engagement.messages_imputed)."""
    pairs = None
    for ds in CONFIG.datasets:
        arr = F.array(*[
            F.struct(F.lit(s).alias("scheme"),
                     latest_label_code(F.col("labels"), s).alias("code"))
            for s in ds.scheme_ids])
        cond = F.col("dataset") == ds.name
        pairs = F.when(cond, arr) if pairs is None else pairs.when(cond, arr)
    return (df.select("message_id", "participant_uuid", "dataset",
                      F.explode(pairs).alias("sc"))
            .select("message_id", "participant_uuid", "dataset",
                    F.col("sc.scheme").alias("scheme"),
                    F.col("sc.code").alias("code")))


def _a1_read(spark: SparkSession, base: str) -> DataFrame:
    mvp = os.path.join(base, "mv_a1")
    inner = MV.read_mv(spark, mvp, A1_METRICS)
    per_ds = MV.read_mv_distinct(spark, mvp, ["dataset"], A1_METRICS,
                                 distinct_name="n_participants",
                                 distinct_cols=["participant_uuid"])
    total = (inner.agg(
        F.sum("n_messages").cast("long").alias("n_messages"),
        F.countDistinct("participant_uuid").alias("n_participants"))
        .select(F.lit("total").alias("dataset"), "n_messages",
                "n_participants"))
    return (per_ds.select("dataset",
                          F.col("n_messages").cast("long")
                          .alias("n_messages"), "n_participants")
            .unionByName(total))


def _a2_read(spark: SparkSession, base: str) -> DataFrame:
    # the a1 witness state's live inner groups ARE the distinct
    # (dataset, participant) pairs — A2 is a pure read-time rollup
    inner = MV.read_mv(spark, os.path.join(base, "mv_a1"), A1_METRICS)
    eps = (inner.groupBy("participant_uuid")
           .agg(F.count(F.lit(1)).alias("n_episodes")))
    dist = (eps.groupBy("n_episodes")
            .agg(F.count(F.lit(1)).alias("n_participants")))
    total = F.sum("n_participants").over(Window.partitionBy())
    return dist.withColumn(
        "pct", F.col("n_participants") * F.lit(100.0) / total)


# ---------------------------------------------------------------------------
# Oracle SQL: batch recompute of every artifact over the mirrored
# final state
# ---------------------------------------------------------------------------

_E2E_PV_SQL = engagement._participants_view_sql(src="fin",
                                                extra_cte=_E2E_CTE)
_E2E_MV_SQL = engagement._messages_view_sql(src="fin",
                                            extra_cte=_E2E_CTE)
_MV_W = f"WITH mv AS ({_E2E_MV_SQL})\n"
_PV_W = f"WITH pv AS ({_E2E_PV_SQL})\n"
_MV_OK = "mv WHERE consent_withdrawn = 'false'"
_PV_OK = "pv WHERE consent_withdrawn = 'false'"


def _e2e_imputed_sql() -> str:
    parts = [
        f"SELECT message_id, participant_uuid, dataset, "
        f"'{cc.scheme_id}' AS scheme, "
        f"{engagement._scheme_code_sql(ds.name, cc.scheme_id)} AS code "
        f"FROM fin WHERE dataset = '{ds.name}'"
        for ds in CONFIG.datasets for cc in ds.coding_configs]
    return ("WITH " + engagement._IMPUTED_CTE + _E2E_CTE + "\n"
            + "\nUNION ALL\n".join(parts))


_A1_SQL = _MV_W + f"""
SELECT dataset, COUNT(*) AS n_messages,
       COUNT(DISTINCT participant_uuid) AS n_participants
FROM {_MV_OK} GROUP BY dataset
UNION ALL
SELECT 'total', COUNT(*), COUNT(DISTINCT participant_uuid)
FROM {_MV_OK}
"""

_A2_SQL = _MV_W + f""",
eps AS (
  SELECT participant_uuid, COUNT(DISTINCT dataset) AS n_episodes
  FROM {_MV_OK} GROUP BY participant_uuid
),
dist AS (SELECT n_episodes, COUNT(*) AS n_participants
         FROM eps GROUP BY n_episodes)
SELECT n_episodes, n_participants,
       n_participants * CAST(100.0 AS DOUBLE)
         / SUM(n_participants) OVER () AS pct
FROM dist
"""

_A3_SQL = _MV_W + "\nUNION ALL\n".join(
    f"SELECT '{d.name}' AS dataset, '{cc.scheme_id}' AS scheme, "
    f"{cc.coded_field} AS code, gender_codes AS breakdown, "
    f"COUNT(*) AS n_messages FROM {_MV_OK} AND dataset = '{d.name}' "
    f"GROUP BY {cc.coded_field}, gender_codes"
    for d, cc in _RQA_CCS)

_A4_SQL = _PV_W + "\nUNION ALL\n".join(
    f"SELECT field, code, COUNT(*) AS n_participants FROM ("
    f"SELECT '{cc.coded_field}' AS field, "
    f"unnest(string_split({cc.coded_field}, ';')) AS code "
    f"FROM {_PV_OK}) GROUP BY field, code"
    for _, cc in _DEMOG_CCS)

_A5_SQL = _PV_W + f"""
SELECT gender_codes AS code_a, age_category_codes AS code_b,
       COUNT(*) AS n_participants
FROM {_PV_OK} GROUP BY gender_codes, age_category_codes
"""

_A6_SQL = _MV_W + """,
un AS (
""" + "\nUNION ALL\n".join(
    f"SELECT '{d.name}' AS dataset, '{cc.scheme_id}' AS scheme, "
    f"{cc.coded_field} AS code, timestamp_us, message_id, "
    f"{d.raw_field} AS text FROM {_MV_OK} AND dataset = '{d.name}'"
    for d, cc in _RQA_CCS) + """
)
SELECT * FROM (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY dataset, scheme, code
      ORDER BY timestamp_us, message_id) AS rank
  FROM un
) WHERE rank <= 100
"""

_A7_SQL = _MV_W + f"""
SELECT (timestamp_us // {automated.MICROS_PER_DAY})
         * {automated.MICROS_PER_DAY} AS day_us,
       dataset, COUNT(*) AS n_messages
FROM {_MV_OK} GROUP BY day_us, dataset
"""

_A8_SQL = _PV_W + f"""
SELECT location_code, COUNT(*) AS n_participants FROM (
  SELECT unnest(string_split(location_codes, ';')) AS location_code
  FROM {_PV_OK}
) GROUP BY location_code
"""

_CONTROL_IN = "(" + ", ".join(f"'{c}'" for c in CONTROL_CODES) + ")"
_A9_SQL = _MV_W + """
SELECT DISTINCT participant_uuid FROM mv
WHERE consent_withdrawn = 'false' AND (
""" + "\n OR ".join(
    f"(dataset = '{d.name}' AND {cc.coded_field} NOT IN {_CONTROL_IN})"
    for d, cc in _RQA_CCS) + ")"

_K2_SQL = _MV_W + f"""
SELECT participant_uuid, timestamp_us,
       {", ".join(d.raw_field for d in CONFIG.datasets)}
FROM mv
"""


def _k3_sql() -> str:
    cols = ["participant_uuid", "consent_withdrawn"]
    for d in CONFIG.datasets:
        cols.append(d.raw_field)
        for cc in d.coding_configs:
            name = cc.coded_field.removesuffix("_codes")
            for code in SCHEME_CODES[cc.scheme_id]:
                cols.append(
                    f"CASE WHEN list_contains("
                    f"string_split({cc.coded_field}, ';'), '{code}') "
                    f"THEN 1 ELSE 0 END AS \"{name}:{code}\"")
    return _PV_W + "SELECT " + ",\n  ".join(cols) + "\nFROM pv"


# ---------------------------------------------------------------------------
# Member schemas
# ---------------------------------------------------------------------------

def _view_spec(message_grain: bool) -> list[tuple[str, str]]:
    cols = [("participant_uuid", "string"),
            ("consent_withdrawn", "string")]
    if message_grain:
        cols += [("message_id", "string"), ("timestamp_us", "bigint"),
                 ("dataset", "string")]
    for d in CONFIG.datasets:
        cols.append((d.raw_field, "string"))
        for cc in d.coding_configs:
            cols.append((cc.coded_field, "string"))
    cols.append(("operators", "string"))
    return cols


def _k3_spec() -> list[tuple[str, str]]:
    return [(h, "string") if (h in ("participant_uuid",
                                    "consent_withdrawn")
             or h.endswith("_raw")) else (h, "int")
            for h in analysis_matrix_headers(CONFIG, SCHEME_CODES)]


_SPECS: dict[str, list[tuple[str, str]]] = {
    "imputed": [("message_id", "string"), ("participant_uuid", "string"),
                ("dataset", "string"), ("scheme", "string"),
                ("code", "string")],
    "participants_view": _view_spec(False),
    "messages_view": _view_spec(True),
    "a1": [("dataset", "string"), ("n_messages", "bigint"),
           ("n_participants", "bigint")],
    "a2": [("n_episodes", "bigint"), ("n_participants", "bigint"),
           ("pct", "double")],
    "a3": [("dataset", "string"), ("scheme", "string"),
           ("code", "string"), ("breakdown", "string"),
           ("n_messages", "bigint")],
    "a4": [("field", "string"), ("code", "string"),
           ("n_participants", "bigint")],
    "a5": [("code_a", "string"), ("code_b", "string"),
           ("n_participants", "bigint")],
    "a6": [("dataset", "string"), ("scheme", "string"),
           ("code", "string"), ("timestamp_us", "bigint"),
           ("message_id", "string"), ("text", "string"),
           ("rank", "int")],
    "a7": [("day_us", "bigint"), ("dataset", "string"),
           ("n_messages", "bigint")],
    "a8": [("location_code", "string"), ("n_participants", "bigint")],
    "a9": [("participant_uuid", "string")],
    "k2": [("participant_uuid", "string"), ("timestamp_us", "bigint")]
          + [(d.raw_field, "string") for d in CONFIG.datasets],
    "k3": _k3_spec(),
    "text_index": [("term", "string"), ("doc_id", "string"),
                   ("tf", "bigint"), ("dl", "bigint")],
    "ann_cells": [("cell", "string"), ("vec_id", "string")],
}

def _doc_text_sql() -> str:
    return ("CASE dataset " + " ".join(
        f"WHEN '{d.name}' THEN COALESCE({d.raw_field}, '')"
        for d in _RQA_DS) + " ELSE '' END")


def _text_index_sql() -> str:
    # same tokenizer as training/dedup.normalize_text + term_stats:
    # lower/trim/collapse-whitespace, split on ' ' ('' tokenizes to
    # one empty term with dl=1 in both engines)
    return f"""
WITH mv AS ({_E2E_MV_SQL}),
docs AS (
  SELECT message_id AS doc_id,
         regexp_replace(lower(trim({_doc_text_sql()})), '\\s+', ' ', 'g')
           AS ntext
  FROM mv
),
toks AS (
  SELECT doc_id, len(string_split(ntext, ' ')) AS dl,
         unnest(string_split(ntext, ' ')) AS term
  FROM docs
)
SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf,
       CAST(MIN(dl) AS BIGINT) AS dl
FROM toks GROUP BY term, doc_id
UNION ALL
SELECT '__stats__' AS term, '' AS doc_id,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM docs) AS tf,
       (SELECT CAST(COALESCE(SUM(len(string_split(ntext, ' '))), 0)
               AS BIGINT) FROM docs) AS dl
"""


def _ann_cells_sql() -> str:
    from .similarity import _cosine_sql
    emb = ("[CAST(length(t) AS DOUBLE), "
           "CAST(len(string_split(t, ' ')) AS DOUBLE), "
           "CAST(length(t) - length(regexp_replace(t, '[aeiou]', '', 'g'))"
           " AS DOUBLE), 1.0]")
    rows = ", ".join(
        f"({cid}, [{', '.join(str(x) for x in vec)}])"
        for cid, vec, _ in E2E_CENTS)
    return f"""
WITH mv AS ({_E2E_MV_SQL}),
docs AS (SELECT message_id AS doc_id, {_doc_text_sql()} AS t FROM mv),
emb AS (SELECT doc_id, {emb} AS e FROM docs),
cents AS (SELECT * FROM (VALUES {rows}) c(cid, ce))
SELECT CAST(cid AS VARCHAR) AS cell, doc_id AS vec_id FROM (
  SELECT x.doc_id, c.cid,
         ROW_NUMBER() OVER (PARTITION BY x.doc_id
                            ORDER BY {_cosine_sql('x.e', 'c.ce')} DESC,
                                     c.cid) AS crn
  FROM emb x CROSS JOIN cents c
) WHERE crn = 1
"""


_MEMBER_SQL: dict[str, str] = {
    "imputed": _e2e_imputed_sql(),
    "participants_view": _E2E_PV_SQL,
    "messages_view": _E2E_MV_SQL,
    "a1": _A1_SQL, "a2": _A2_SQL, "a3": _A3_SQL, "a4": _A4_SQL,
    "a5": _A5_SQL, "a6": _A6_SQL, "a7": _A7_SQL, "a8": _A8_SQL,
    "a9": _A9_SQL, "k2": _K2_SQL, "k3": _k3_sql(),
    "text_index": _text_index_sql(), "ann_cells": _ann_cells_sql(),
}


# ---------------------------------------------------------------------------
# Registry queries
# ---------------------------------------------------------------------------

def _text_index_read(spark: SparkSession, base: str) -> DataFrame:
    """The maintained LSM text index's certified projection: resolved
    postings (tombstones applied across base + deltas) plus the
    chained corpus-stats row as a '__stats__' sentinel — so the hash
    certifies n_docs/sum_dl maintenance too, not just postings."""
    idx = os.path.join(base, "text_idx")
    posts = (RK._resolved_postings(spark, idx)
             .select("term", "doc_id",
                     F.col("tf").cast("long").alias("tf"),
                     F.col("dl").cast("long").alias("dl")))
    st = RK._index_stats(spark, idx).select(
        F.lit("__stats__").alias("term"), F.lit("").alias("doc_id"),
        F.col("n_docs").cast("long").alias("tf"),
        F.col("sum_dl").cast("long").alias("dl"))
    return posts.unionByName(st)


def _ann_cells_read(spark: SparkSession, base: str) -> DataFrame:
    """The maintained ANN generation's certified projection: the live
    (cell, vec_id) postings of the cell-bucketed merge table."""
    return (read_merged_table(
        spark, os.path.join(base, "ann_idx", AI.CELLS_DIR))
        .select(F.col("cell").cast("string").alias("cell"), "vec_id"))


def _artifact_members(spark: SparkSession, base: str,
                      ) -> dict[str, DataFrame]:
    """Every maintained artifact of a composed-lifecycle base dir,
    read back in its certified projection (shared by the capstone
    query and tools/e2e_restart_stress.py)."""
    def _read(sub: str) -> DataFrame:
        return read_merged_table(spark, os.path.join(base, sub))

    mview = _read("mview")
    return {
        "imputed": _imputed_long(_read("imputed")),
        "participants_view": _read("pview"),
        "messages_view": mview,
        "a1": _a1_read(spark, base),
        "a2": _a2_read(spark, base),
        "a3": MV.read_mv(spark, os.path.join(base, "mv_a3"), A3_METRICS),
        "a4": MV.read_mv(spark, os.path.join(base, "mv_a4"), A4_METRICS),
        "a5": MV.read_mv(spark, os.path.join(base, "mv_a5"), A5_METRICS),
        # A6's rank window is not retract-maintainable flat
        # (operators/topk.py); it reads the MAINTAINED G2 view — still
        # zero recompute upstream
        "a6": automated.sample_messages(mview, CONFIG, k=100),
        "a7": MV.read_mv(spark, os.path.join(base, "mv_a7"), A7_METRICS),
        "a8": MV.read_mv(spark, os.path.join(base, "mv_a8"), A8_METRICS),
        "a9": (MV.read_mv(spark, os.path.join(base, "mv_a9"), A9_METRICS)
               .select("participant_uuid")),
        "k2": _read("k2").select(
            "participant_uuid", "timestamp_us",
            *[d.raw_field for d in CONFIG.datasets]),
        "k3": _read("k3").select(
            *analysis_matrix_headers(CONFIG, SCHEME_CODES)),
        "text_index": _text_index_read(spark, base),
        "ann_cells": _ann_cells_read(spark, base),
    }


def e2e_incremental_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE capstone row set: one (member, n_rows, checksum) per
    maintained artifact of the composed incremental lifecycle, read
    back IN FULL after the 4-run history; the oracle recomputes every
    member from scratch over the mirrored final state, so a green
    hash certifies maintained == batch across the whole chain."""
    apply_runtime_conf(spark)
    base = _e2e_fixture(spark, sf_dir)
    out = None
    for name, df in _artifact_members(spark, base).items():
        part = member_checksum(df, name, _SPECS[name])
        out = part if out is None else out.unionAll(part)
    return out


E2E_INCREMENTAL_RUN_SQL = "\nUNION ALL\n".join(
    member_checksum_sql(name, sql, _SPECS[name])
    for name, sql in _MEMBER_SQL.items())


def k2_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 production export maintained as a derived table of the
    (itself maintained) G2 view — full column-level hash vs the batch
    export over the final state (reference analysis_files.py:13-30
    rewrites the whole CSV per run)."""
    apply_runtime_conf(spark)
    base = _e2e_fixture(spark, sf_dir)
    return read_merged_table(spark, os.path.join(base, "k2")).select(
        "participant_uuid", "timestamp_us",
        *[d.raw_field for d in CONFIG.datasets])


K2_INCREMENTAL_SQL = _K2_SQL


def k3_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 analysis matrix maintained as a derived table of the
    maintained G1 view (touched participants' matrix rows only per
    sync) — full column-level hash vs the batch matrix (reference
    analysis_files.py:51-111)."""
    apply_runtime_conf(spark)
    base = _e2e_fixture(spark, sf_dir)
    return read_merged_table(spark, os.path.join(base, "k3")).select(
        *analysis_matrix_headers(CONFIG, SCHEME_CODES))


K3_INCREMENTAL_SQL = _k3_sql()


def run_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The run manifest after the four composed runs: every stage of
    every run ends `done`, stage rows carry their upstream watermark,
    the `__run__` bookends none — the §3.1 orchestration record
    (reference PipelineRunStart/End + src/common/cache.py:11-103)."""
    apply_runtime_conf(spark)
    base = _e2e_fixture(spark, sf_dir)
    return (read_merged_table(spark, os.path.join(base, "runs"))
            .select("run_id", "stage", "status",
                    F.col("applied_commit").isNotNull()
                    .alias("has_watermark")))


RUN_MANIFEST_SQL = """
SELECT run_id, stage, status, has_watermark
FROM (VALUES
""" + ",\n".join(
    f"  ('run{r}', '{s}', 'done', {str(s != '__run__').upper()})"
    for r in (1, 2, 3, 4)
    for s in ("__run__", "imputed", "views", "analysis", "exports")
) + """
) t(run_id, stage, status, has_watermark)
"""
