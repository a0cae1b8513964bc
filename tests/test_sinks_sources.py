"""Sinks (K2/K3), CSV source (S8), and cleaner-function (X) tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from engagement_data_pipeline_spark.functions.cleaners import (
    normalise_urn,
    operator_from_urn,
    parse_multiformat_timestamp,
    validate_phone,
)
from engagement_data_pipeline_spark.labels.config import (
    AnalysisConfig,
    CodingConfig,
    DatasetConfig,
    DEMOGRAPHIC,
    RESEARCH_QUESTION_ANSWER,
)
from engagement_data_pipeline_spark.sinks.exports import (
    analysis_matrix,
    analysis_matrix_headers,
)
from engagement_data_pipeline_spark.sources.csv_ingest import csv_to_messages

CONFIG = AnalysisConfig(datasets=(
    DatasetConfig("age", DEMOGRAPHIC, "age_raw",
                  (CodingConfig("age_scheme", "age_codes"),
                   CodingConfig("age_category_scheme", "age_category_codes"))),
    DatasetConfig("s01e01", RESEARCH_QUESTION_ANSWER, "s01e01_raw",
                  (CodingConfig("theme_scheme", "theme_codes"),)),
))

SCHEMES = {
    "age_scheme": ["age_20", "NR"],
    "age_category_scheme": ["age_18_to_35", "NR"],
    "theme_scheme": ["t1", "t2"],
}


def test_k3_headers_raw_field_moves_to_end():
    """age + age_category share age_raw: the raw field must move to
    AFTER age_category's code columns (reference remove-then-append
    quirk, analysis_files.py:66-71)."""
    got = analysis_matrix_headers(CONFIG, SCHEMES)
    assert got == [
        "participant_uuid", "consent_withdrawn",
        "age:age_20", "age:NR",
        "age_category:age_18_to_35", "age_category:NR",
        "age_raw",                      # moved after BOTH age configs
        "theme:t1", "theme:t2",
        "s01e01_raw",
    ]


def test_k3_matrix_cells(spark):
    pv = spark.createDataFrame(
        [("p1", "false", "20", "age_20", "age_18_to_35", "hi", "t1;t2"),
         ("p2", "false", "", "NR", "NR", "yo", "t2")],
        "participant_uuid string, consent_withdrawn string, age_raw string, "
        "age_codes string, age_category_codes string, s01e01_raw string, "
        "theme_codes string")
    out = {r.participant_uuid: r for r in
           analysis_matrix(pv, CONFIG, SCHEMES).collect()}
    assert out["p1"]["age:age_20"] == 1
    assert out["p1"]["age:NR"] == 0
    assert out["p1"]["theme:t1"] == 1
    assert out["p1"]["theme:t2"] == 1
    assert out["p2"]["age:age_20"] == 0
    assert out["p2"]["age:NR"] == 1
    assert out["p2"]["theme:t1"] == 0


def test_k3_matrix_quotes_codes_and_column_names(spark):
    """K3 is one SQL projection: a code holding `'` or a backtick (and
    so a header holding one) compiles as a literal and an identifier,
    and the cells and the int type of every 0/1 column are the same
    as for plain codes."""
    schemes = {**SCHEMES, "theme_scheme": ["it's", "a`b", "t2"]}
    pv = spark.createDataFrame(
        [("p1", "false", "20", "age_20", "NR", "hi", "it's;a`b"),
         ("p2", "false", "", "NR", "NR", "yo", None)],
        "participant_uuid string, consent_withdrawn string, age_raw string, "
        "age_codes string, age_category_codes string, s01e01_raw string, "
        "theme_codes string")
    got = analysis_matrix(pv, CONFIG, schemes)
    assert got.columns == analysis_matrix_headers(CONFIG, schemes)
    assert dict(got.dtypes)["theme:a`b"] == "int"
    out = {r.participant_uuid: r.asDict() for r in got.collect()}
    assert [out["p1"][f"theme:{c}"] for c in schemes["theme_scheme"]] \
        == [1, 1, 0]
    assert [out["p2"][f"theme:{c}"] for c in schemes["theme_scheme"]] \
        == [0, 0, 0]
    assert out["p1"]["age_category:NR"] == 1


def test_s8_csv_multiformat_parse_route_and_drop(spark):
    csv = spark.createDataFrame(
        [("avf-participant-uuid-1", "hello", "5/1/2024 10:30:00"),    # d/M/yyyy
         ("avf-participant-uuid-2", "world", "2024/1/15 08:00:00"),   # yyyy/M/d
         ("avf-participant-uuid-3", "late", "2024-3-1 00:00:00"),     # out of range
         ("avf-participant-uuid-4", "bad", "not-a-date")],
        "Sender string, Message string, ReceivedOn string")
    ranges = [("week1", "2024-01-01 00:00:00", "2024-01-10 00:00:00"),
              ("week2", "2024-01-10 00:00:00", "2024-01-20 00:00:00")]
    out = csv_to_messages(csv, ranges, utc_offset_hours=3)
    rows = {r.text: r for r in out.collect()}
    assert set(rows) == {"hello", "world"}  # late + unparseable dropped
    assert rows["hello"].dataset == "week1"
    assert rows["hello"].timestamp.isoformat() == "2024-01-05T07:30:00"  # -3h
    assert rows["world"].dataset == "week2"
    assert rows["hello"].origin.origin_type == "recovery_csv"
    assert rows["hello"].labels == []


def test_s8_reingest_is_deterministic(spark):
    csv = spark.createDataFrame(
        [("avf-participant-uuid-1", "hello", "5/1/2024 10:30:00")],
        "Sender string, Message string, ReceivedOn string")
    ranges = [("w", "2024-01-01 00:00:00", "2024-02-01 00:00:00")]
    a = csv_to_messages(csv, ranges).select("origin.origin_id").collect()
    b = csv_to_messages(csv, ranges).select("origin.origin_id").collect()
    assert a == b  # content-derived origin ids → K1 upsert is idempotent


def test_urn_normalisation_and_operator(spark):
    df = spark.createDataFrame(
        [("whatsapp:254700123456",), ("telegram:999#bob",),
         ("tel:+254700123456",), ("tel:+252615000111",)], "urn string")
    out = df.select(
        normalise_urn(F.col("urn")).alias("n"),
        operator_from_urn(normalise_urn(F.col("urn")),
                          {"2547": "safaricom", "25261": "hormuud"}).alias("op"),
    ).collect()
    got = [(r.n, r.op) for r in out]
    assert got == [
        ("tel:+254700123456", "safaricom"),
        ("telegram:999", "telegram"),
        ("tel:+254700123456", "safaricom"),
        ("tel:+252615000111", "hormuud"),
    ]


def test_validate_phone(spark):
    df = spark.createDataFrame(
        [("0700-123-456",), ("+254 700 123456",), ("99123",)], "p string")
    out = df.select(validate_phone(
        F.col("p"), "254", ["254700"], 12).alias("v")).collect()
    assert [r.v for r in out] == ["254700123456", "254700123456", None]


def test_multiformat_timestamp_all_six_formats(spark):
    samples = ["5/1/2024 10:30", "5/1/2024 10:30:45", "5/1/2024 10:30:45.123456",
               "2024/1/5 10:30:45.123456", "2024/1/5 10:30:45", "2024-1-5 10:30:45"]
    df = spark.createDataFrame([(s,) for s in samples], "raw string")
    out = df.select(parse_multiformat_timestamp(F.col("raw")).alias("ts")).collect()
    assert all(r.ts is not None for r in out)
    assert all(r.ts.year == 2024 and r.ts.day == 5 for r in out)
