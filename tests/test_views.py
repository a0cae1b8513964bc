"""Column-view tests: G1 fold + F7 + M6 TRUE_MISSING + M7 NIC + M8
consent cascade, on literal nested messages."""

from __future__ import annotations

import datetime as dt

from engagement_data_pipeline_spark.labels.config import (
    AnalysisConfig,
    CodingConfig,
    DatasetConfig,
    DEMOGRAPHIC,
    RESEARCH_QUESTION_ANSWER,
)
from engagement_data_pipeline_spark.labels.schema import MESSAGE_SCHEMA
from engagement_data_pipeline_spark.labels.views import (
    consent_withdrawn_uuids,
    messages_by_column,
    participants_by_column,
)

T0 = dt.datetime(2024, 1, 10, 0, 0, 0)

CONFIG = AnalysisConfig(datasets=(
    DatasetConfig("gender", DEMOGRAPHIC, "gender_raw",
                  (CodingConfig("gender_scheme", "gender_codes"),)),
    DatasetConfig("s01e01", RESEARCH_QUESTION_ANSWER, "s01e01_raw",
                  (CodingConfig("theme_scheme", "theme_codes"),)),
))


def label(scheme, code, at=T0):
    return (scheme, code, at, True, "test")


def msg(mid, dataset, text, labels, participant="p1", at=T0):
    return (mid, participant, text, at, "in", "telegram", "live", dataset,
            [], labels, ("o-" + mid, "test"), "sha", at)


def test_participants_view_folds_and_imputes(spark):
    rows = [
        msg("m1", "s01e01", "first", [label("theme_scheme", "t1")], "p1", T0),
        msg("m2", "s01e01", "second", [label("theme_scheme", "t2")], "p1",
            T0 + dt.timedelta(minutes=1)),
        msg("m3", "gender", "male", [label("gender_scheme", "g_male")], "p1"),
        # p2: RQA only → gender column must impute TM
        msg("m4", "s01e01", "solo", [label("theme_scheme", "t1")], "p2"),
        # p3: demog only → F7 drops them entirely
        msg("m5", "gender", "female", [label("gender_scheme", "g_f")], "p3"),
    ]
    df = spark.createDataFrame(rows, MESSAGE_SCHEMA)
    out = {r.participant_uuid: r for r in
           participants_by_column(df, CONFIG).collect()}

    assert set(out) == {"p1", "p2"}  # F7: p3 has no RQA message
    assert out["p1"].s01e01_raw == "first; second"  # ordered fold
    assert out["p1"].theme_codes == "t1;t2"         # merged label lists
    assert out["p1"].gender_codes == "g_male"
    assert out["p2"].gender_codes == "TM"           # M6
    assert out["p2"].gender_raw == ""
    assert out["p1"].consent_withdrawn == "false"


def test_nic_replaces_conflicting_demog_normals(spark):
    rows = [
        msg("m1", "s01e01", "x", [label("theme_scheme", "t1")], "p1"),
        msg("m2", "gender", "male", [label("gender_scheme", "g_m")], "p1"),
        msg("m3", "gender", "female", [label("gender_scheme", "g_f")], "p1",
            T0 + dt.timedelta(minutes=1)),
    ]
    df = spark.createDataFrame(rows, MESSAGE_SCHEMA)
    out = participants_by_column(df, CONFIG).collect()[0]
    assert out.gender_codes == "NIC"  # M7: two distinct normals


def test_consent_cascade_overwrites_everything(spark):
    rows = [
        msg("m1", "s01e01", "hello", [label("theme_scheme", "STOP")], "p1"),
        msg("m2", "gender", "male", [label("gender_scheme", "g_m")], "p1"),
        msg("m3", "s01e01", "fine", [label("theme_scheme", "t1")], "p2"),
    ]
    df = spark.createDataFrame(rows, MESSAGE_SCHEMA)
    assert [r.participant_uuid for r in consent_withdrawn_uuids(df).collect()] == ["p1"]
    out = {r.participant_uuid: r for r in
           participants_by_column(df, CONFIG).collect()}
    assert out["p1"].consent_withdrawn == "true"
    assert out["p1"].s01e01_raw == "STOP"       # M8 masks every column
    assert out["p1"].gender_codes == "STOP"
    assert out["p1"].operators == "STOP"
    assert out["p2"].consent_withdrawn == "false"
    assert out["p2"].s01e01_raw == "fine"


def test_messages_view_one_row_per_rqa_message(spark):
    rows = [
        msg("m1", "s01e01", "hello", [label("theme_scheme", "t1")], "p1"),
        msg("m2", "s01e01", "again", [label("theme_scheme", "t2")], "p1",
            T0 + dt.timedelta(minutes=1)),
        msg("m3", "gender", "male", [label("gender_scheme", "g_m")], "p1"),
    ]
    df = spark.createDataFrame(rows, MESSAGE_SCHEMA)
    out = {r.message_id: r for r in messages_by_column(df, CONFIG).collect()}
    assert set(out) == {"m1", "m2"}  # one row per RQA message
    for m in out.values():           # demogs joined onto every row
        assert m.gender_raw == "male"
        assert m.gender_codes == "g_m"
    assert out["m1"].s01e01_raw == "hello"
    assert out["m1"].theme_codes == "t1"


def test_generate_analysis_files_end_to_end(spark, tmp_path):
    """§3.1/§3.2: the one-call pipeline writes the reference's file
    set and returns consistent frames, over the real sf0.001 data."""
    import os

    from engagement_data_pipeline_spark.analysis.pipeline import (
        generate_analysis_files,
    )
    from engagement_data_pipeline_spark.queries.engagement import CONFIG, _messages

    run = generate_analysis_files(
        _messages(spark, "/root/testdata/sf0.001"), CONFIG,
        out_dir=str(tmp_path), single_file=True)
    assert run.participants_view.count() > 0
    assert run.analysis["engagement_counts"].count() > 0
    expected = {"production", "analysis_matrix", "traced_messages",
                "engagement_counts", "repeat_participations",
                "theme_distributions", "demographic_distributions",
                "sample_messages", "traffic_analysis",
                "participation_map", "relevance_uuids"}
    assert expected <= set(os.listdir(tmp_path))
    # every csv dir has exactly one part file (single_file=True)
    parts = [f for f in os.listdir(tmp_path / "engagement_counts")
             if f.startswith("part-")]
    assert len(parts) == 1


def test_generate_analysis_files_with_stage_tables(spark, tmp_path):
    """stage_dir materializes durable parquet stage tables (imputed
    partitioned by dataset) and produces the same views and analysis
    tables as the default run, which localCheckpoints its stages and
    leaves Spark's cache empty."""
    import os

    from engagement_data_pipeline_spark.analysis.pipeline import (
        generate_analysis_files,
    )
    from engagement_data_pipeline_spark.queries.engagement import CONFIG, _messages

    msgs = _messages(spark, "/root/testdata/sf0.001")
    spark.catalog.clearCache()  # earlier tests share this session
    staged = generate_analysis_files(msgs, CONFIG,
                                     stage_dir=str(tmp_path / "stage"))
    default = generate_analysis_files(msgs, CONFIG)
    # partition layout: one dir per dataset under imputed/
    parts = os.listdir(tmp_path / "stage" / "imputed")
    assert any(p.startswith("dataset=") for p in parts)

    def frames(run):
        return {"messages_view": run.messages_view,
                "participants_view": run.participants_view,
                **run.analysis}

    a, b = frames(staged), frames(default)
    assert len(a) == 10 and a.keys() == b.keys()
    for name in a:
        assert (sorted(map(str, a[name].collect()))
                == sorted(map(str, b[name].collect()))), name
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_generate_analysis_files_dry_run(spark, tmp_path, capsys):
    """dry_run computes and logs every export without writing files."""
    import os

    from engagement_data_pipeline_spark.analysis.pipeline import (
        generate_analysis_files,
    )
    from engagement_data_pipeline_spark.queries.engagement import CONFIG, _messages

    msgs = _messages(spark, "/root/testdata/sf0.001")
    run = generate_analysis_files(msgs, CONFIG, out_dir=str(tmp_path / "out"),
                                  dry_run=True)
    assert not os.path.exists(tmp_path / "out")
    logged = capsys.readouterr().out
    assert "dry run: would write" in logged
    assert "production" in logged and "engagement_counts" in logged
    assert run.analysis["engagement_counts"].count() > 0
