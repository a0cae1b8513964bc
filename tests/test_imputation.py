"""Label-imputation unit tests on literal nested-schema messages.

Covers M1 (NR/CE), M3 (NC on empty text), M4 (age-category
bucketing), the newest-first latest-label-per-scheme rule, quoting of
config values in the compiled SQL, and the size of the compiled plan.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from engagement_data_pipeline_spark.labels.config import (
    AnalysisConfig,
    CodingConfig,
    DatasetConfig,
    DEMOGRAPHIC,
    RESEARCH_QUESTION_ANSWER,
    SYNTHETIC_CONFIG,
)
from engagement_data_pipeline_spark.labels.imputation import (
    _bound_schemes,
    impute_message_grain,
    latest_label_code,
)
from engagement_data_pipeline_spark.labels.schema import MESSAGE_SCHEMA

T0 = dt.datetime(2024, 1, 10, 0, 0, 0)

CONFIG = AnalysisConfig(datasets=(
    DatasetConfig("age", DEMOGRAPHIC, "age_raw",
                  (CodingConfig("age_scheme", "age_codes"),
                   CodingConfig("age_category_scheme", "age_category_codes",
                                age_category_source="age_scheme"))),
    DatasetConfig("s01e01", RESEARCH_QUESTION_ANSWER, "s01e01_raw",
                  (CodingConfig("theme_scheme", "theme_codes"),
                   CodingConfig("sent_scheme", "sent_codes"))),
))


def label(scheme, code, at=T0, checked=True, origin="test"):
    return (scheme, code, at, checked, origin)


def msg(mid, dataset, text, labels, participant="p1"):
    return (mid, participant, text, T0, "in", "telegram", "live", dataset,
            [], labels, ("o-" + mid, "test"), "sha", T0)


def run(spark, rows):
    df = spark.createDataFrame(rows, MESSAGE_SCHEMA)
    return {r["message_id"]: r for r in
            impute_message_grain(df, CONFIG).collect()}


def codes(row, scheme):
    return [l["code_id"] for l in row["labels"] if l["scheme_id"] == scheme]


def test_m1_all_checked_untouched(spark):
    out = run(spark, [msg("m1", "s01e01", "hi",
                          [label("sent_scheme", "s1"), label("theme_scheme", "t1")])])
    assert codes(out["m1"], "theme_scheme") == ["t1"]
    assert codes(out["m1"], "sent_scheme") == ["s1"]


def test_m1_mixed_checked_becomes_ce(spark):
    out = run(spark, [msg("m1", "s01e01", "hi",
                          [label("sent_scheme", "s1", checked=False),
                           label("theme_scheme", "t1", checked=True)])])
    assert codes(out["m1"], "theme_scheme") == ["CE"]
    assert codes(out["m1"], "sent_scheme") == ["CE"]


def test_m1_none_checked_becomes_nr(spark):
    out = run(spark, [
        msg("m1", "s01e01", "hi",
            [label("sent_scheme", "s1", checked=False),
             label("theme_scheme", "t1", checked=False)]),
        msg("m2", "s01e01", "hi", []),  # no labels at all
    ])
    for m in ("m1", "m2"):
        assert codes(out[m], "theme_scheme") == ["NR"]
        assert codes(out[m], "sent_scheme") == ["NR"]


def test_m1_latest_per_scheme_wins(spark):
    newer = label("theme_scheme", "t-new", at=T0 + dt.timedelta(hours=1))
    older = label("theme_scheme", "t-old", checked=False)
    # newest-first array ordering: newer label first; its checked=True
    # must drive M1, and the sent scheme has a checked label too.
    out = run(spark, [msg("m1", "s01e01", "hi",
                          [newer, older, label("sent_scheme", "s1")])])
    assert codes(out["m1"], "theme_scheme") == ["t-new", "t-old"]


def test_m3_empty_text_becomes_nc(spark):
    out = run(spark, [
        msg("m1", "s01e01", None, [label("theme_scheme", "t1"),
                                   label("sent_scheme", "s1")]),
        msg("m2", "s01e01", "", [label("theme_scheme", "t1"),
                                 label("sent_scheme", "s1")]),
    ])
    for m in ("m1", "m2"):
        assert codes(out[m], "theme_scheme") == ["NC"]
        assert codes(out[m], "sent_scheme") == ["NC"]


def test_m4_age_category_bucketing(spark):
    out = run(spark, [
        msg("m1", "age", "20", [label("age_scheme", "age_20"),
                                label("age_category_scheme", "x")]),
        msg("m2", "age", "55", [label("age_scheme", "age_55"),
                                label("age_category_scheme", "x")]),
    ])
    assert codes(out["m1"], "age_category_scheme")[0] == "age_18_to_35"
    assert codes(out["m2"], "age_category_scheme")[0] == "age_55_plus"


def test_m4_control_codes_pass_through_without_category(spark):
    # unchecked age label → M1 rewrites to NR in both schemes; no
    # age-category Normal code is prepended.
    out = run(spark, [msg("m1", "age", "20",
                          [label("age_scheme", "age_20", checked=False)])])
    assert codes(out["m1"], "age_scheme") == ["NR"]
    assert codes(out["m1"], "age_category_scheme") == ["NR"]


def test_latest_label_code_expression(spark):
    df = spark.createDataFrame(
        [msg("m1", "s01e01", "hi",
             [label("theme_scheme", "new"),
              label("theme_scheme", "old")])], MESSAGE_SCHEMA)
    got = df.select(latest_label_code(F.col("labels"), "theme_scheme").alias("c")).collect()
    assert got[0].c == "new"


def test_config_values_with_quotes_compile_as_literals(spark):
    # scheme ids, dataset names, codes and location-map entries are
    # pasted into the SQL string; a quote or backslash must stay data
    quoted = AnalysisConfig(datasets=(
        DatasetConfig("o'hara", DEMOGRAPHIC, "loc_raw",
                      (CodingConfig("ward's_scheme", "ward_codes"),
                       CodingConfig("county_scheme", "county_codes",
                                    location_source="ward's_scheme",
                                    location_map=(
                                        ("ward_o'1", "county\\'a"),
                                        ("ward_2", "county_b"))))),
    ))
    df = spark.createDataFrame([
        msg("m1", "o'hara", "kibera", [label("ward's_scheme", "ward_o'1")]),
        msg("m2", "o'hara", "kibera",
            [label("ward's_scheme", "ward_o'1", checked=False)]),
    ], MESSAGE_SCHEMA)
    out = {r["message_id"]: r
           for r in impute_message_grain(df, quoted).collect()}
    assert codes(out["m1"], "county_scheme") == ["county\\'a"]
    assert codes(out["m1"], "ward's_scheme") == ["ward_o'1"]
    assert codes(out["m2"], "ward's_scheme") == ["NR"]
    assert codes(out["m2"], "county_scheme") == ["NR"]


def test_plan_reads_each_latest_label_once(spark):
    # every rule reads a hidden column bound once per scheme, so the
    # optimized plan holds one filter() lookup per bound scheme (the
    # nested compile inlined 521 of them for this config)
    df = spark.createDataFrame([], MESSAGE_SCHEMA)
    out = impute_message_grain(df, SYNTHETIC_CONFIG)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert len(_bound_schemes(SYNTHETIC_CONFIG)) == 11
    assert plan.count("filter(") == 11
    assert out.columns == df.columns
