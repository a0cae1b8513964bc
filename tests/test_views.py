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


SF = "/root/testdata/sf0.001"


def _csv_rows(df):
    """Rows as a CSV round trip can keep them: Spark's CSV reader
    returns null for the empty string the writer quotes."""
    return sorted(str(tuple("" if v is None else v for v in r))
                  for r in df.collect())


def test_generate_analysis_files_end_to_end(spark, tmp_path):
    """§3.1/§3.2: the one-call pipeline writes the reference's file
    set, and every file holds exactly the frame it names: K2 and K3
    built from the returned views, K4 the imputed grain, each A-series
    CSV its `run.analysis` table (order-insensitive). A schedule that
    writes one frame to another's path fails here."""
    import os

    from engagement_data_pipeline_spark.analysis.pipeline import (
        _observed_scheme_codes,
        generate_analysis_files,
    )
    from engagement_data_pipeline_spark.queries.engagement import CONFIG, _messages
    from engagement_data_pipeline_spark.sinks.exports import (
        analysis_matrix,
        production_columns,
    )

    run = generate_analysis_files(
        _messages(spark, SF), CONFIG, out_dir=str(tmp_path), single_file=True)
    assert run.participants_view.count() > 0
    assert run.analysis["engagement_counts"].count() > 0
    csvs = {
        "production": production_columns(run.messages_view, CONFIG),
        "analysis_matrix": analysis_matrix(
            run.participants_view, CONFIG,
            _observed_scheme_codes(run.participants_view, CONFIG)),
        **run.analysis,
    }
    assert set(os.listdir(tmp_path)) == {*csvs, "traced_messages"}
    for name, df in csvs.items():
        path = str(tmp_path / name)
        # every csv dir has exactly one part file (single_file=True)
        assert len([f for f in os.listdir(path)
                    if f.startswith("part-")]) == 1, name
        assert spark.read.option("header", True).csv(path).columns \
            == df.columns, name
        back = (spark.read.schema(df.schema).option("header", True)
                .option("multiLine", True).csv(path))
        assert _csv_rows(back) == _csv_rows(df), name
    # K4: the JSON lines the writer emits for the imputed grain
    lines = spark.read.text(str(tmp_path / "traced_messages"))
    assert (sorted(r.value for r in lines.collect())
            == sorted(run.imputed.toJSON().collect()))


def test_generate_analysis_files_jobs_keep_the_callers_group(spark,
                                                             tmp_path):
    """Jobs the run launches from its background pool carry the
    caller's job group (cancelling the group cancels the run), and
    the run stays within its job budget: 35 jobs for a writing run
    over fresh sf0.001 messages, the count before the pool existed."""
    from engagement_data_pipeline_spark.analysis.pipeline import (
        generate_analysis_files,
    )
    from engagement_data_pipeline_spark.queries._helpers import (
        apply_runtime_conf,
    )
    from engagement_data_pipeline_spark.queries.engagement import CONFIG
    from engagement_data_pipeline_spark.sources.synthetic import (
        synthetic_messages,
    )

    apply_runtime_conf(spark)
    msgs = synthetic_messages(spark, SF)
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    group = "generate-analysis-files-under-test"
    sc.setJobGroup(group, "job-group inheritance test")
    try:
        before = jsc.dagScheduler().numTotalJobs()
        generate_analysis_files(msgs, CONFIG, out_dir=str(tmp_path))
        launched = set(range(before, jsc.dagScheduler().numTotalJobs()))
    finally:
        sc._jsc.clearJobGroup()
    jsc.listenerBus().waitUntilEmpty()
    in_group = set(sc.statusTracker().getJobIdsForGroup(group))
    assert launched and launched <= in_group, sorted(launched - in_group)
    assert len(launched) <= 35


def test_generate_analysis_files_failure_is_loud(spark, tmp_path,
                                                 monkeypatch):
    """A table that fails while it materializes on the background
    pool raises from `generate_analysis_files`, and no job of the run
    is left running once it has, not even a slow sibling's."""
    import pytest
    from pyspark.sql import functions as F

    from engagement_data_pipeline_spark.analysis import automated
    from engagement_data_pipeline_spark.analysis.pipeline import (
        generate_analysis_files,
    )
    from engagement_data_pipeline_spark.queries.engagement import CONFIG, _messages

    def broken(mv, config):
        # fails in the shuffle-map stage, i.e. inside the pool's
        # `_materialize`, not in the export on the calling thread
        return mv.groupBy(F.when(
            F.col("participant_uuid").isNotNull(),
            F.raise_error(F.lit("engagement-counts-broke")))).count()

    def slow(mv, config):
        # a one-task shuffle-map stage still running when the error
        # reaches the calling thread
        return mv.sparkSession.range(1).select(F.reflect(
            F.lit("java.lang.Thread"), F.lit("sleep"),
            F.lit(8000).cast("long")).alias("slept")).groupBy(
            "slept").count()

    monkeypatch.setattr(automated, "engagement_counts", broken)
    monkeypatch.setattr(automated, "relevance_uuids", slow)
    with pytest.raises(Exception, match="engagement-counts-broke"):
        generate_analysis_files(_messages(spark, SF), CONFIG,
                                out_dir=str(tmp_path))
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getActiveJobsIds()) == []


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

    msgs = _messages(spark, SF)
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

    msgs = _messages(spark, SF)
    run = generate_analysis_files(msgs, CONFIG, out_dir=str(tmp_path / "out"),
                                  dry_run=True)
    assert not os.path.exists(tmp_path / "out")
    logged = capsys.readouterr().out
    assert "dry run: would write" in logged
    assert "production" in logged and "engagement_counts" in logged
    assert run.analysis["engagement_counts"].count() > 0
