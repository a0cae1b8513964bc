"""Composed-lifecycle restart stress (VERDICT r12 task 7): crash the
REAL composition MID-`analysis`, BETWEEN fan_out sinks, then resume
and prove every maintained artifact equals an uninterrupted run's.

The crash point is the nastiest one the architecture allows: inside
the mview drain's fan_out, after 2 of the 4 message-grain MV sinks
applied the batch — so at death the MV states DISAGREE (a1/a3 at the
new batch, a7/a9 one behind), the drain state has no record
for the batch, the pview drain never ran, and the run manifest shows
`analysis` as `started`. The resume path must compose three
exactly-once mechanisms: the run claim (released by the in-process
failure), the runner's crash-resume (skip done stages, re-run the
started one), and per-sink txn watermarks (replayed batch no-ops on
a1/a3, applies on a7/a9).

Run: python tools/e2e_restart_stress.py   (exit 0 = all equal)
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from _stress_common import stress_session  # noqa: E402

SF = "/root/testdata/sf0.001"

_EID = "CAST(substring(message_id, 5) AS BIGINT)"
_DELTA_INSERTS = f"{_EID} < 60"
_DELTA_RECODES = f"dataset = 's01e01' AND {_EID} >= 60 AND {_EID} < 400"

_RECODE_LABELS = (
    "array(named_struct('scheme_id', 's01e01_theme_scheme', "
    "'code_id', 'theme_stress', 'date_time_utc', last_updated, "
    "'checked', true, 'origin_id', 'stress:relabel'), "
    "named_struct('scheme_id', 's01e01_sentiment_scheme', "
    "'code_id', 'scode_stress', 'date_time_utc', last_updated, "
    "'checked', true, 'origin_id', 'stress:relabel'))")


class MidFanoutCrash(RuntimeError):
    pass


def main() -> None:
    from pyspark.sql import functions as F

    from engagement_data_pipeline_spark.analysis.runner import (
        read_run, run_incremental_pipeline)
    from engagement_data_pipeline_spark.queries import engagement
    from engagement_data_pipeline_spark.queries.e2e_q import (
        _MV_SINKS, _PV_SINKS, _RAW_COLS, _SPECS, _artifact_members,
        _index_feed, _pipeline_stages, E2E_CENTS)
    from engagement_data_pipeline_spark.training import ann_index as AI
    from engagement_data_pipeline_spark.training import ranking as RK
    from engagement_data_pipeline_spark.queries.families import (
        member_checksum)
    from engagement_data_pipeline_spark.streaming import mv as MV
    from engagement_data_pipeline_spark.streaming.drain import (
        drain_changes, fan_out)
    from engagement_data_pipeline_spark.streaming.ingest import (
        foreach_batch_upsert)

    spark = stress_session("e2e-restart-stress")
    res = (engagement._resolved(spark, SF).select(*_RAW_COLS)
           .localCheckpoint())
    inserts = res.where(_DELTA_INSERTS)
    recodes = (res.where(_DELTA_RECODES)
               .withColumn("labels", F.expr(_RECODE_LABELS)))
    delta = inserts.unionByName(recodes)

    def build_base(label: str) -> str:
        base = tempfile.mkdtemp(prefix=f"edp-restart-{label}-")
        merge = foreach_batch_upsert(
            os.path.join(base, "raw"), ["message_id"], n_buckets=8,
            bucket_cols=["participant_uuid"], txn_app_id="src",
            mode="latest_wins")
        merge(res.where(f"NOT ({_DELTA_INSERTS})"), 1)
        run_incremental_pipeline(spark, os.path.join(base, "runs"),
                                 "run1", _pipeline_stages(spark, base))
        merge(delta, 2)
        return base

    # --- the uninterrupted twin -------------------------------------
    clean = build_base("clean")
    run_incremental_pipeline(spark, os.path.join(clean, "runs"), "run2",
                             _pipeline_stages(spark, clean))

    # --- the crashing run -------------------------------------------
    crash = build_base("crash")
    armed = {"on": True}

    def bomb(sink):
        def go(batch, batch_id):
            sink(batch, batch_id)
            if armed["on"]:
                armed["on"] = False
                raise MidFanoutCrash(
                    "killed between fan_out sinks (2 of 4 applied)")
        return go

    def crash_stages(spark, base):
        stages = dict(_pipeline_stages(spark, base))

        def crashing_analysis() -> int:
            sinks = [MV.mv_stream_sink(os.path.join(base, sub), g, m,
                                       prepare=p, source_cols=c)
                     for sub, g, m, p, c in _MV_SINKS]
            sinks[1] = bomb(sinks[1])  # a1 applied, a3 applied-then-die
            drain_changes(spark, os.path.join(base, "mview"),
                          fan_out(*sinks),
                          state_path=os.path.join(base, "drain_mview"))
            return drain_changes(
                spark, os.path.join(base, "pview"), fan_out(*[
                    MV.mv_stream_sink(os.path.join(base, sub), g, m,
                                      prepare=p, source_cols=c)
                    for sub, g, m, p, c in _PV_SINKS]),
                state_path=os.path.join(base, "drain_pview"))

        stages["analysis"] = crashing_analysis
        return list(stages.items())

    died = False
    try:
        run_incremental_pipeline(spark, os.path.join(crash, "runs"),
                                 "run2", crash_stages(spark, crash))
    except Exception as e:  # Spark wraps foreachBatch errors in
        # StreamingQueryException; the bomb's message survives inside
        assert "killed between fan_out sinks" in str(e), e
        died = True
    assert died, "the bomb did not fire"
    state = read_run(spark, os.path.join(crash, "runs"), "run2")
    assert state["imputed"][0] == "done" and state["views"][0] == "done"
    assert state["analysis"][0] == "started", state

    # --- resume with the INTACT composition ---------------------------
    t0 = time.perf_counter()
    run_incremental_pipeline(spark, os.path.join(crash, "runs"), "run2",
                             _pipeline_stages(spark, crash))
    resume_s = time.perf_counter() - t0
    state = read_run(spark, os.path.join(crash, "runs"), "run2")
    assert all(v[0] == "done" for v in state.values()), state

    # --- every maintained artifact equals the uninterrupted twin's ----
    def checksums(base):
        out = {}
        for name, df in _artifact_members(spark, base).items():
            row = member_checksum(df, name, _SPECS[name]).collect()[0]
            out[name] = (row.n_rows, row.checksum)
        return out

    got, want = checksums(crash), checksums(clean)
    diverged = {k: (got[k], want[k]) for k in want if got[k] != want[k]}
    assert not diverged, diverged
    print(f"OK: crashed mid-fan_out (2/4 MV sinks applied), resumed in "
          f"{resume_s:.1f}s; all {len(want)} artifacts equal the "
          f"uninterrupted run's", flush=True)

    # --- second scenario: crash between the MV sinks and the ANN
    # index sink inside the SAME analysis fan_out — all 4 MV states
    # and the text index applied the batch, the ANN index did not, so
    # at death the two serving indexes disagree and the drain state
    # was not advanced. Resume replays the commit: the MV and
    # text-index txn watermarks no-op, the ANN sink applies.
    crash2 = build_base("crash2")
    armed["on"] = True

    def crash2_stages(spark, base):
        stages = dict(_pipeline_stages(spark, base))

        def crashing_analysis() -> int:
            text = RK.text_index_stream_sink(
                os.path.join(base, "text_idx"), "doc_text", "doc_id")
            ann = AI.ann_index_stream_sink(
                os.path.join(base, "ann_idx"), E2E_CENTS,
                id_col="doc_id", emb_col="embedding")
            sinks = [MV.mv_stream_sink(os.path.join(base, sub), g, m,
                                       prepare=p, source_cols=c)
                     for sub, g, m, p, c in _MV_SINKS]
            sinks.append(bomb(lambda b, i: text(_index_feed(b), i)))
            sinks.append(lambda b, i: ann(_index_feed(b), i))
            drain_changes(spark, os.path.join(base, "mview"),
                          fan_out(*sinks),
                          state_path=os.path.join(base, "drain_mview"))
            return drain_changes(
                spark, os.path.join(base, "pview"), fan_out(*[
                    MV.mv_stream_sink(os.path.join(base, sub), g, m,
                                      prepare=p, source_cols=c)
                    for sub, g, m, p, c in _PV_SINKS]),
                state_path=os.path.join(base, "drain_pview"))

        stages["analysis"] = crashing_analysis
        return list(stages.items())

    died = False
    try:
        run_incremental_pipeline(spark, os.path.join(crash2, "runs"),
                                 "run2", crash2_stages(spark, crash2))
    except Exception as e:
        assert "killed between fan_out sinks" in str(e), e
        died = True
    assert died, "the index-sink bomb did not fire"
    state = read_run(spark, os.path.join(crash2, "runs"), "run2")
    assert state["views"][0] == "done"
    assert state["analysis"][0] == "started", state

    t0 = time.perf_counter()
    run_incremental_pipeline(spark, os.path.join(crash2, "runs"),
                             "run2", _pipeline_stages(spark, crash2))
    resume_s = time.perf_counter() - t0
    state = read_run(spark, os.path.join(crash2, "runs"), "run2")
    assert all(v[0] == "done" for v in state.values()), state

    got = checksums(crash2)
    diverged = {k: (got[k], want[k]) for k in want if got[k] != want[k]}
    assert not diverged, diverged
    print(f"OK: crashed mid-index-fan_out (text applied, ANN not), "
          f"resumed in {resume_s:.1f}s; all {len(want)} artifacts "
          f"equal the uninterrupted run's", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
