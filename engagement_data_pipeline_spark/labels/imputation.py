"""Message-grain label imputation (SURVEY §2.6 M1/M3/M4).

Reference: src/engagement_db_to_analysis/code_imputation_functions.py —
application order fixed at :545-552 (NR/CE → WS-CE → NC → age-category
→ locations). Every rule here is a pure rewrite of the nested `labels`
array using built-in higher-order functions (filter/transform/get), so
the whole suite runs JVM-side in two projections — one binding each
scheme's latest label once, one CASE over those bindings — with no
shuffle, no Python in the row path, and a plan that grows linearly
with the config (see the string-compiler note below).

Semantics implemented (per message, over the schemes configured for
its dataset):

M1 (:60-136)  — all latest labels checked → untouched; mix of
  checked/unchecked → clear + one CODING_ERROR label per scheme; none
  checked (incl. no labels at all) → clear + one NOT_REVIEWED label
  per scheme.
M2 (:161-226) — a checked WS code in a normal scheme XOR a checked
  label in the WS-Correct-Dataset scheme → clear + CE per scheme
  (both present is the M10 move path, neither is fine). Applied to
  M1's output: a WS code only survives M1 in the all-checked case,
  while the WS-scheme label (not a configured scheme) always
  survives — the XOR below encodes exactly that sequencing.
M3 (:229-262) — empty/null text → clear + one NOT_CODED label per
  scheme (runs after M1/M2, overriding their result).
M4 (:265-339) — if the age scheme's latest label is a Normal code
  (`age_<n>`), prepend an age-category label bucketing n into the
  configured inclusive ranges; control codes were already propagated
  to the age_category scheme by M1/M3.
M5 (:342-524) — location hierarchy: a Normal code in the location
  scheme derives one label per configured level scheme via the
  broadcast hierarchy mapping (ward→constituency→county shape);
  control codes were already propagated by M1-M3.

Divergence notes: imputed labels here carry checked=True and a
deterministic date_time_utc (the message's last_updated) rather than
wall-clock now(), keeping re-runs byte-identical; an out-of-bucket
Normal age code imputes no category (the reference asserts/crashes,
:316-322). M4/M5 only derive when M1-M3 passed labels through —
model-differential-tested against the reference's sequential
application in tests/test_imputation_model.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .config import (
    AGE_BUCKETS,
    AnalysisConfig,
    CODING_ERROR,
    DatasetConfig,
    NOT_CODED,
    NOT_REVIEWED,
    WS,
)
from .schema import LABELS_TYPE, make_label

# The special "WS – Correct Dataset" scheme (SURVEY §1.3); its label
# survives M1 because it is not one of the dataset's configured
# schemes (reference ws_correct_dataset_code_scheme parameter).
WS_CORRECT_DATASET_SCHEME = "ws_correct_dataset_scheme"


def latest_label(labels: Column, scheme_id: str) -> Column:
    """Latest label under a scheme: labels are newest-first, so it's
    the first element whose scheme matches (F.get → NULL if none)."""
    return F.get(F.filter(labels, lambda l: l["scheme_id"] == scheme_id), 0)


def latest_label_code(labels: Column, scheme_id: str) -> Column:
    return latest_label(labels, scheme_id)["code_id"]


# The per-dataset imputation expression is COMPILED TO ONE SQL STRING
# and handed to a single F.expr call: building it from nested Column
# objects cost ~9k py4j round-trips (~2.5s of driver time per session,
# profiled) for the identical Catalyst tree. The public Column helpers
# above stay Column-based for external callers; everything below is
# string composition.
#
# The string stays linear in the config:
# * each scheme the rules read has its latest label BOUND ONCE, as a
#   hidden top-level column projected before the CASE and dropped after
#   it. Separate columns, not one named_struct: CollapseProject inlines
#   a struct whose only uses are field extractions, while a non-cheap
#   column referenced more than once stays in its own projection. For
#   SYNTHETIC_CONFIG the optimized plan holds 11 `filter(` lookups, one
#   per bound scheme, in ~20 KB; inlining each use gives 521 in 78 KB;
# * M4/M5 prepend all derived labels with one flat
#   concat(IF(c_k, array(label_k), array()), ..., m3). A CASE per
#   derived scheme would repeat the array built so far in both
#   branches: 2^k copies of M1-M3 for k derived schemes.
#
# Every config value (scheme id, dataset name, code, location map
# entry) enters the SQL through `_lit`, so a value containing a quote
# or backslash parses as the same string.


def _lit(value: str) -> str:
    """A Python string as a Spark SQL string literal."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _latest_sql(scheme_id: str) -> str:
    return f"get(filter(labels, l -> l.scheme_id = {_lit(scheme_id)}), 0)"


def _label_sql(scheme_id: str, code_sql: str, rule: str) -> str:
    """One imputed Label struct (labels/schema.py field order)."""
    return (f"named_struct('scheme_id', {_lit(scheme_id)}, "
            f"'code_id', {code_sql}, 'date_time_utc', last_updated, "
            f"'checked', true, 'origin_id', {_lit('imputation:' + rule)})")


def _control_array_sql(schemes: list[str], code: str, rule: str) -> str:
    return ("array(" + ", ".join(
        _label_sql(s, _lit(code), rule) for s in schemes) + ")")


def _age_bucket_sql(n_sql: str) -> str:
    cases = "".join(
        f" WHEN {n_sql} BETWEEN {lo} AND {hi} THEN {_lit(code)}"
        for lo, hi, code in AGE_BUCKETS)
    return f"CASE{cases} ELSE CAST(NULL AS STRING) END"


def _bound_schemes(config: AnalysisConfig) -> list[str]:
    """Every scheme whose latest label a rule reads, first use first:
    the configured schemes, their M4/M5 sources and the WS scheme."""
    schemes = {}
    for ds in config.datasets:
        for cc in ds.coding_configs:
            schemes[cc.scheme_id] = None
            for src in (cc.age_category_source, cc.location_source):
                if src is not None:
                    schemes[src] = None
    schemes[WS_CORRECT_DATASET_SCHEME] = None
    return list(schemes)


def _impute_for_dataset_sql(ds: DatasetConfig, latest: dict[str, str]) -> str:
    """Imputed labels array for one dataset's scheme list, as SQL;
    `latest` maps a scheme id to the column holding its latest label."""
    schemes = ds.scheme_ids

    checked = [f"({latest[s]} IS NOT NULL AND {latest[s]}.checked)"
               for s in schemes]
    unchecked = [f"({latest[s]} IS NOT NULL AND NOT {latest[s]}.checked)"
                 for s in schemes]
    has_checked = "(" + " OR ".join(checked) + ")"
    has_unchecked = "(" + " OR ".join(unchecked) + ")"

    # M1
    all_checked = f"({has_checked} AND NOT {has_unchecked})"
    m1 = (f"CASE WHEN {all_checked} THEN labels "
          f"WHEN ({has_checked} AND {has_unchecked}) "
          f"THEN {_control_array_sql(schemes, CODING_ERROR, 'm1_ce')} "
          f"ELSE {_control_array_sql(schemes, NOT_REVIEWED, 'm1_nr')} END")

    # M2: WS XOR against M1's output — a WS code in a normal scheme
    # only survives M1 when all labels were checked; the WS-scheme
    # label always survives (it is not a configured scheme).
    ws_any = " OR ".join(
        f"({latest[s]} IS NOT NULL AND {latest[s]}.checked "
        f"AND {latest[s]}.code_id = {_lit(WS)})" for s in schemes)
    ws_in_normal = f"({all_checked} AND ({ws_any}))"
    ws_lab = latest[WS_CORRECT_DATASET_SCHEME]
    in_ws_scheme = f"({ws_lab} IS NOT NULL AND {ws_lab}.checked)"
    ws_ce = f"({ws_in_normal} != {in_ws_scheme})"
    m2 = (f"CASE WHEN {ws_ce} "
          f"THEN {_control_array_sql(schemes, CODING_ERROR, 'm2_ws_ce')} "
          f"ELSE {m1} END")

    # M3 (post-M1/M2 override)
    text_empty = "(text IS NULL OR text = '')"
    m3 = (f"CASE WHEN {text_empty} "
          f"THEN {_control_array_sql(schemes, NOT_CODED, 'm3_nc')} "
          f"ELSE {m2} END")

    # M4/M5 gate: the reference reads the POST-M3 latest source label
    # (it applies the rules sequentially, :545-552), so a Normal code
    # is only derivable when M1 passed labels through AND M2's WS
    # coding-error did not fire AND the text is non-empty — in every
    # other branch the post-M3 latest is a control code, already
    # propagated to the derived schemes by the control arrays above.
    # (Caught by tests/test_imputation_model.py's differential: gating
    # on all_checked alone wrongly derived on top of M2's CE array.)
    derivable = f"({all_checked} AND NOT {ws_ce} AND NOT {text_empty})"

    # (condition, label) per derived scheme, in application order
    derived = []

    # M4: age-category from the age scheme's Normal code
    for cc in ds.coding_configs:
        if cc.age_category_source is None:
            continue
        src = f"{latest[cc.age_category_source]}.code_id"
        age_n = f"regexp_extract({src}, '^age_([0-9]+)$', 1)"
        bucket = _age_bucket_sql(f"try_cast({age_n} AS INT)")
        # out-of-bucket Normal ages impute nothing (the reference
        # asserts/crashes there, :316-322 — skipping is the
        # non-crashing analog; divergence note in the module docstring)
        derived.append((f"({derivable} AND ({bucket}) IS NOT NULL)",
                        _label_sql(cc.scheme_id, bucket, "m4_age_category")))

    # M5: location-level schemes from the location scheme's Normal
    # code via the config-carried hierarchy mapping
    for cc in ds.coding_configs:
        if cc.location_source is None:
            continue
        src = f"{latest[cc.location_source]}.code_id"
        level = ("CASE " + " ".join(
            f"WHEN {src} = {_lit(s)} THEN {_lit(d)}"
            for s, d in cc.location_map) + " ELSE CAST(NULL AS STRING) END")
        derived.append((f"({derivable} AND ({level}) IS NOT NULL)",
                        _label_sql(cc.scheme_id, level, "m5_location")))

    if not derived:
        return m3
    # each rule prepends, so the last derived label comes first
    prepends = [f"IF({cond}, array({lab}), array())"
                for cond, lab in reversed(derived)]
    return f"concat({', '.join(prepends)}, {m3})"


def impute_zone_from_operator(df: DataFrame, zone_scheme: str,
                              operator_to_zone: dict[str, str],
                              dataset: str | None = None) -> DataFrame:
    """M9 (reference :758-841): when the zone scheme's latest label is
    NOT_CODED, re-derive the zone from the message's channel operator
    (telco coverage implies the zone). The derived label is prepended,
    so newest-first "latest per scheme" resolution picks it up."""
    labels = F.col("labels")
    latest = latest_label(labels, zone_scheme)
    zone = F.lit(None).cast("string")
    for op, z in operator_to_zone.items():
        zone = F.when(F.col("channel_operator") == op, F.lit(z)).otherwise(zone)
    cond = (latest.isNotNull() & (latest["code_id"] == NOT_CODED)
            & zone.isNotNull())
    if dataset is not None:
        cond = cond & (F.col("dataset") == dataset)
    derived = make_label(
        scheme_id=F.lit(zone_scheme), code_id=zone,
        date_time_utc=F.col("last_updated"), checked=F.lit(True),
        origin_id=F.lit("imputation:m9_zone_from_operator"))
    return df.withColumn(
        "labels",
        F.when(cond, F.concat(F.array(derived), labels)).otherwise(labels))


def impute_message_grain(df: DataFrame, config: AnalysisConfig) -> DataFrame:
    """Apply M1 → M5 to every message, per its dataset's config.
    The whole rule suite compiles to one SQL string -> one F.expr call
    over the bound latest-label columns (see the string-compiler note
    above); the output has the input's columns."""
    latest = {s: f"__latest_{i}"
              for i, s in enumerate(_bound_schemes(config))}
    branches = " ".join(
        f"WHEN dataset = {_lit(ds.name)} "
        f"THEN {_impute_for_dataset_sql(ds, latest)}"
        for ds in config.datasets)
    return (df.selectExpr("*", *(f"{_latest_sql(s)} AS {c}"
                                 for s, c in latest.items()))
            .withColumn("labels", F.expr(f"CASE {branches} ELSE labels END"))
            .drop(*latest.values()))
