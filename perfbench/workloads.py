"""The two workloads: the batch whole-corpus recompute and the
incremental day run. Each exposes `setup`, `op`, `after_op`,
`install_spans` and `check`; `run.py` drives them the same way."""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor
from contextlib import ExitStack, contextmanager

import pyarrow.parquet as pq

from inputs import (DaySize, corpus_events, day_delta, message_classes,
                    replicate, shuffled)

#: corpus sizes per size profile: (batch base events, replica factor,
#: day corpus events, day delta). `full` is what the benchmark
#: measures; `smoke` is the tiny profile the self-tests run.
SIZES = {
    "full": (1_000, 10, 4_000, DaySize(inserts=40, recodes=100,
                                      moves=3, deletes=3)),
    "smoke": (100, 10, 400, DaySize(inserts=4, recodes=10, moves=1,
                                    deletes=1)),
}
#: participants per events (sets how many participants a day touches)
EVENTS_PER_PARTICIPANT = 10
#: bucket counts of the day tables (data, views/exports)
DAY_BUCKETS = (8, 4)


@contextmanager
def patched(obj, attr: str, value):
    old = getattr(obj, attr)
    setattr(obj, attr, value)
    try:
        yield
    finally:
        setattr(obj, attr, old)


def _checksums(pairs: dict) -> list[str]:
    """Names of the members whose two sides differ, compared by an
    order-insensitive (n_rows, checksum) over every column, the
    checksum the repository's capstone query uses. A pair is (engine
    frame, reference frame) or (engine frame, callable(name, spec)
    returning the reference's (n_rows, checksum)). Members are
    collected from a few threads so their small jobs overlap."""
    from pyspark.sql import functions as F

    from engagement_data_pipeline_spark.queries.families import (
        member_checksum)

    def sums(name: str) -> tuple:
        got, want = pairs[name]
        spec = [(f.name, f.dataType.simpleString())
                for f in got.schema.fields]
        parts = member_checksum(got, "got", spec)
        if not callable(want):
            want = want.select(*[F.col(c).cast(t) for c, t in spec])
            parts = parts.unionAll(member_checksum(want, "want", spec))
        rows = {r.member: (r.n_rows, r.checksum) for r in parts.collect()}
        return (rows["got"], rows["want"] if "want" in rows
                else want(name, spec))

    with ThreadPoolExecutor(4) as pool:
        bad = dict(zip(pairs, pool.map(sums, pairs)))
    return sorted(n for n, (got, want) in bad.items() if got != want)


class BatchWorkload:
    """`generate_analysis_files` (default `.cache()` path, writing
    K2/K3/K4 and A1-A9) over a 10x id-shifted replica corpus."""

    name = "batch_x10"

    def __init__(self, work: str, size: str):
        self.work = work
        base, self.factor, _n, _d = SIZES[size]
        self.base_events = base
        self.sf = os.path.join(work, "sf")
        self.last = None

    def setup(self, spark, seed: int) -> dict:
        events = shuffled(replicate(
            corpus_events(self.base_events,
                          n_users=self.base_events
                          // EVENTS_PER_PARTICIPANT),
            self.factor), seed)
        os.makedirs(self.sf, exist_ok=True)
        pq.write_table(events, os.path.join(self.sf, "events.parquet"))
        return {"corpus_events": events.num_rows,
                "base_events": self.base_events, "factor": self.factor}

    def op(self, spark, tracer, i: int) -> None:
        from engagement_data_pipeline_spark.analysis import pipeline
        from engagement_data_pipeline_spark.queries.engagement import (
            CONFIG)
        from engagement_data_pipeline_spark.sources.synthetic import (
            synthetic_messages)

        out = os.path.join(self.work, "out", f"op{i}")
        messages = synthetic_messages(spark, self.sf)
        with tracer.span("analysis.pipeline.generate_analysis_files"):
            self.last = pipeline.generate_analysis_files(
                messages, CONFIG, out_dir=out)

    def after_op(self, spark, i: int) -> None:
        """Release op `i` before the next op (the last op's frames stay
        for `check`). The run keeps its three `.cache()` stages alive;
        drop them so ops do not pile up executor storage."""
        for df in (self.last.imputed, self.last.messages_view,
                   self.last.participants_view):
            df.unpersist()
        shutil.rmtree(os.path.join(self.work, "out", f"op{i}"),
                      ignore_errors=True)

    def manifests(self, spark) -> dict:
        """No maintained tables: the batch run has no day counts."""
        return {}

    def day_counts(self, before: dict, after: dict) -> dict[str, float]:
        return {}

    def install_spans(self, tracer) -> ExitStack:
        from types import SimpleNamespace

        from engagement_data_pipeline_spark.analysis import (automated,
                                                             pipeline)

        builders = {n: tracer.wrap("analysis.automated",
                                   getattr(automated, n))
                    for n in dir(automated)
                    if not n.startswith("_")
                    and callable(getattr(automated, n))}
        stack = ExitStack()
        for attr, span in (
                ("fetch_messages", "analysis.spine"),
                ("filter_messages", "analysis.spine"),
                ("impute_message_grain",
                 "labels.imputation.impute_message_grain"),
                ("messages_by_column", "labels.views.messages_by_column"),
                ("participants_by_column",
                 "labels.views.participants_by_column"),
                ("write_csv", "sinks.exports.write_csv"),
                ("write_jsonl", "sinks.exports.write_jsonl")):
            stack.enter_context(patched(
                pipeline, attr, tracer.wrap(span, getattr(pipeline, attr))))
        stack.enter_context(patched(pipeline, "automated",
                                    SimpleNamespace(**builders)))
        return stack

    def check(self, spark) -> list[str]:
        """Views and the eight A-series frames of the last op against
        the DuckDB mirror SQL of the repository's oracle."""
        import duckdb

        from engagement_data_pipeline_spark.queries import analysis as aq
        from engagement_data_pipeline_spark.queries import engagement
        from engagement_data_pipeline_spark.queries.families import (
            member_checksum_sql)

        sql = {
            "messages_view": engagement.MESSAGES_VIEW_SQL,
            "participants_view": engagement.PARTICIPANTS_VIEW_SQL,
            "engagement_counts": aq.ENGAGEMENT_COUNTS_SQL,
            "repeat_participations": aq.REPEAT_PARTICIPATIONS_SQL,
            "theme_distributions": aq.THEME_DISTRIBUTIONS_SQL,
            "demographic_distributions": aq.DEMOGRAPHIC_DISTRIBUTIONS_SQL,
            "sample_messages": aq.SAMPLE_MESSAGES_SQL,
            "traffic_analysis": aq.TRAFFIC_ANALYSIS_SQL,
            "participation_map": aq.PARTICIPATION_MAP_SQL,
            "relevance_uuids": aq.RELEVANCE_UUIDS_SQL,
        }
        frames = {"messages_view": self.last.messages_view,
                  "participants_view": self.last.participants_view,
                  **self.last.analysis}
        missing = sorted(set(sql) ^ set(frames))
        if missing:
            return missing
        views = {engagement.MESSAGES_VIEW_SQL: "mv_t",
                 engagement.PARTICIPANTS_VIEW_SQL: "pv_t"}

        def mirror(name: str, spec) -> tuple:
            # each A-series query embeds a view's SQL; read the view
            # materialized once instead of recomputing it per query
            q = sql[name]
            for view_sql, table in views.items():
                q = q.replace(view_sql, f"SELECT * FROM {table}")
            with con.cursor() as cur:  # one connection per thread
                return tuple(cur.sql(member_checksum_sql(name, q, spec))
                             .fetchone()[1:])

        con = duckdb.connect()
        try:
            con.sql("SET TimeZone='UTC'")
            con.sql("CREATE VIEW events AS SELECT * FROM "
                    f"'{os.path.join(self.sf, 'events.parquet')}'")
            for view_sql, table in views.items():
                con.sql(f"CREATE TABLE {table} AS {view_sql}")
            return _checksums({n: (df, mirror) for n, df in frames.items()})
        finally:
            con.close()


def _recode_labels(day: int) -> str:
    """One checked label per s01e01 scheme, with day-specific codes
    so a message recoded on two days changes both times."""
    fields = ("'date_time_utc', last_updated, 'checked', true, "
              "'origin_id', 'perfbench:relabel'")
    return ("array(named_struct('scheme_id', 's01e01_theme_scheme', "
            f"'code_id', 'theme_d{day}', {fields}), "
            "named_struct('scheme_id', 's01e01_sentiment_scheme', "
            f"'code_id', 'scode_d{day}', {fields}))")


class DayWorkload:
    """One day of the composed incremental run: the source commit
    (merge + deletion-vector delete) and `run_incremental_pipeline`
    over `queries/e2e_q._pipeline_stages` until every maintained
    artifact is current. The bootstrap build of every artifact is
    part of set-up."""

    name = "day_small"

    def __init__(self, work: str, size: str):
        self.work = work
        _b, _f, self.n_events, self.size = SIZES[size]
        self.sf = os.path.join(work, "sf")
        self.base = os.path.join(work, "day")
        self.raw = os.path.join(self.base, "raw")

    def _stages(self, spark, tracer):
        from engagement_data_pipeline_spark.queries import e2e_q

        stages = e2e_q._pipeline_stages(spark, self.base, *DAY_BUCKETS)
        return [(n, tracer.wrap(f"stage.{n}", fn)) for n, fn in stages]

    def setup(self, spark, seed: int) -> dict:
        """Generate the corpus and build every maintained artifact."""
        from engagement_data_pipeline_spark.analysis.runner import (
            run_incremental_pipeline)
        from engagement_data_pipeline_spark.queries import e2e_q, engagement
        from engagement_data_pipeline_spark.streaming.ingest import (
            foreach_batch_upsert)

        self.seed = seed
        events = corpus_events(
            self.n_events,
            n_users=self.n_events // EVENTS_PER_PARTICIPANT)
        os.makedirs(self.sf, exist_ok=True)
        pq.write_table(events, os.path.join(self.sf, "events.parquet"))
        self.classes = message_classes(events)
        self.res = (engagement._resolved(spark, self.sf)
                    .select(*e2e_q._RAW_COLS).localCheckpoint())
        self.merge = foreach_batch_upsert(
            self.raw, ["message_id"], n_buckets=DAY_BUCKETS[0],
            bucket_cols=["participant_uuid"], txn_app_id="src",
            mode="latest_wins")
        self.merge(self.res, 1)
        run_incremental_pipeline(spark, os.path.join(self.base, "runs"),
                                 "bootstrap",
                                 e2e_q._pipeline_stages(spark, self.base,
                                                        *DAY_BUCKETS))
        return {"corpus_events": events.num_rows,
                "delta_rows_per_day": self.size.rows,
                "buckets": DAY_BUCKETS[0]}

    def _delta_frame(self, spark, d):
        from pyspark.sql import functions as F

        from engagement_data_pipeline_spark.queries import e2e_q

        res = self.res
        ids = F.col("message_id")
        clones = spark.createDataFrame(
            [(f"msg-{s}", f"msg-{n}")
             for s, n in zip(d.insert_src, d.insert_ids)],
            "src string, new string")
        inserts = (res.join(F.broadcast(clones), ids == F.col("src"))
                   .withColumn("message_id", F.col("new"))
                   .select(*e2e_q._RAW_COLS))
        recodes = (res.where(ids.isin([f"msg-{i}" for i in d.recodes]))
                   .withColumn("labels", F.expr(_recode_labels(d.day))))
        moves = (res.where(ids.isin([f"msg-{i}" for i in d.moves]))
                 .withColumn("dataset", F.lit("s01e01"))
                 .withColumn("labels", F.expr(e2e_q._MOVE_LABELS)))
        return inserts.unionByName(recodes).unionByName(moves)

    def op(self, spark, tracer, day: int) -> None:
        from pyspark.sql import functions as F

        from engagement_data_pipeline_spark.analysis import runner
        from engagement_data_pipeline_spark.streaming.ingest import (
            delete_origins)

        d = day_delta(self.classes, self.n_events, self.seed, day,
                      self.size)
        with tracer.span("streaming.ingest.commit"):
            self.merge(self._delta_frame(spark, d), day + 1)
            if d.deletes:
                delete_origins(
                    spark, self.raw,
                    self.res.where(F.col("message_id").isin(
                        [f"msg-{i}" for i in d.deletes]))
                    .select("message_id", "participant_uuid"),
                    strategy="dv")
        with tracer.span("analysis.runner.run_incremental_pipeline"):
            runner.run_incremental_pipeline(
                spark, os.path.join(self.base, "runs"), f"day{day}",
                self._stages(spark, tracer))

    def after_op(self, spark, i: int) -> None:
        pass

    def install_spans(self, tracer) -> ExitStack:
        from engagement_data_pipeline_spark.analysis import runner
        from engagement_data_pipeline_spark.queries import e2e_q
        from engagement_data_pipeline_spark.streaming import mv
        from engagement_data_pipeline_spark.training import (ann_index,
                                                             ranking)

        stack = ExitStack()
        stack.enter_context(patched(
            runner, "record_stage",
            tracer.wrap("analysis.runner.record_stage",
                        runner.record_stage)))
        for attr, span in (
                ("refresh_transform_table",
                 "streaming.transform.refresh_transform_table"),
                ("refresh_views", "labels.views.refresh_views"),
                ("drain_changes_direct",
                 "streaming.drain.drain_changes_direct")):
            stack.enter_context(patched(
                e2e_q, attr, tracer.wrap(span, getattr(e2e_q, attr))))
        for mod, attr, span in (
                (mv, "mv_stream_sink", "streaming.mv"),
                (ranking, "text_index_stream_sink", "training.ranking"),
                (ann_index, "ann_index_stream_sink", "training.ann_index")):
            stack.enter_context(patched(
                mod, attr, tracer.wrap_factory(span, getattr(mod, attr))))
        return stack

    # -- day counts (traced runs only) -----------------------------------

    #: maintained artifacts per stage, as tools/e2e_pipeline_stress.py
    #: groups them for its touched-bucket column
    STAGE_TABLES = {
        "imputed": ["imputed"], "views": ["pview", "mview"],
        "analysis": ["mv_a1", "mv_a3", "mv_a7", "mv_a9", "mv_a4",
                     "mv_a5", "mv_a8", "ann_idx/cells"],
        "exports": ["k2", "k3"]}
    #: change feeds the day run reads (source tables of its stages)
    FEEDS = ["raw", "imputed", "mview", "pview"]

    def manifests(self, spark) -> dict[str, dict]:
        from engagement_data_pipeline_spark.streaming.ingest import (
            read_table_manifest)

        names = self.FEEDS + [t for ts in self.STAGE_TABLES.values()
                              for t in ts]
        return {n: read_table_manifest(spark, os.path.join(self.base, n))
                for n in dict.fromkeys(names)}

    def day_counts(self, before: dict, after: dict) -> dict[str, float]:
        """Touched buckets per stage and the change-feed yield of one
        day, from the manifests around it."""
        from engagement_data_pipeline_spark.streaming.cdf_source import (
            _changed_buckets, read_changes_local)

        out = {f"stage.{stage}.touched_buckets": float(sum(
            len(_changed_buckets(before[t], after[t])) for t in tables))
            for stage, tables in self.STAGE_TABLES.items()}
        changes = read = 0
        for name in self.FEEDS:
            path = os.path.join(self.base, name)
            lo, hi = int(before[name]["commit"]), int(after[name]["commit"])
            if hi == lo:
                continue
            lc = read_changes_local(path, lo, hi, max_rows=10**9)
            changes += len(lc.rows)
            for b in _changed_buckets(before[name], after[name]):
                read += _bucket_rows(path, before[name], b)
                read += _bucket_rows(path, after[name], b)
        out["feed.changes"] = float(changes)
        out["feed.useful_ratio"] = changes / read if read else 0.0
        return out

    def check(self, spark) -> list[str]:
        """Every maintained view, MV state and export against a
        from-scratch recompute over the final raw table."""
        from pyspark.sql import functions as F

        from engagement_data_pipeline_spark.labels.views import (
            messages_by_column, participants_by_column)
        from engagement_data_pipeline_spark.queries import e2e_q
        from engagement_data_pipeline_spark.queries.engagement import (
            CONFIG)
        from engagement_data_pipeline_spark.streaming import mv as MV
        from engagement_data_pipeline_spark.streaming.ingest import (
            read_merged_table)

        def table(sub):
            return read_merged_table(spark, os.path.join(self.base, sub))

        imp = e2e_q._impute_tf(table("raw")).localCheckpoint()
        pv = participants_by_column(imp, CONFIG).localCheckpoint()
        mview = messages_by_column(imp, CONFIG).localCheckpoint()
        pairs = {"pview": (table("pview"), pv),
                 "mview": (table("mview"), mview),
                 "k2": (table("k2"), e2e_q._k2_tf(mview)),
                 "k3": (table("k3"), e2e_q._k3_tf(pv))}
        for src, sinks in ((mview, e2e_q._MV_SINKS),
                           (pv, e2e_q._PV_SINKS)):
            for sub, gcols, metrics, prep, _cols in sinks:
                if any(fn != "count" for _c, fn in metrics.values()):
                    raise ValueError(f"{sub}: only count metrics are "
                                     "recomputed here")
                aggs = [F.count(F.col(c)).alias(m)
                        for m, (c, _fn) in metrics.items()]
                pairs[sub] = (
                    MV.read_mv(spark, os.path.join(self.base, sub), metrics),
                    prep(src).groupBy(*gcols).agg(*aggs))
        return _checksums(pairs)


def _bucket_rows(path: str, man: dict | None, bucket: int) -> int:
    import pyarrow.dataset as pads

    from engagement_data_pipeline_spark.streaming.cdf_source import (
        _bucket_dir)

    if man is None:
        return 0
    d = _bucket_dir(path, man, bucket)
    if d is None or not os.path.isdir(d):
        return 0
    return pads.dataset(d, format="parquet").count_rows()


WORKLOADS = {w.name: w for w in (BatchWorkload, DayWorkload)}
