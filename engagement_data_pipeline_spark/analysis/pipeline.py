"""Top-level analysis pipeline (SURVEY §3.1/§3.2): the Spark analog
of the reference's `generate_analysis_files`
(src/engagement_db_to_analysis/engagement_db_to_analysis.py:24-60 and
run_pipeline.sh): fetch → filter → impute → column views → exports
(K2 production CSV, K3 analysis matrix, K4 TracedData JSONL) →
automated analysis files (A1-A9).

This is the entry point a user of the reference would call once per
run, and the one place the spine is built and materialized: the
registry's view and A-series queries read the frames it returns
(queries/engagement.py).

Execution shape. The imputed message grain, the two views and every
A-series table are materialized once (`_materialize`); every
downstream export and analysis reads a materialization instead of
re-deriving the spine. By default that is an in-session
`localCheckpoint(eager=False)`. With AQE on (the session default) the
call is not lazy: AQE must run a plan's shuffle-map stages to fix its
final plan, so the call itself runs them (4 jobs for the imputed
grain) and only the final stage waits for the first consuming action.
With AQE off the call runs no job. Checkpoint blocks do not survive
executor loss, and they cannot be released with `unpersist` or
`clearCache` — they are held until the run's frames are dropped.
`stage_dir` is the durable mode: parquet stage tables that survive
executor loss (the cluster configuration).

At these sizes the run is bound by job latency, not data, so
independent jobs overlap. After the imputed grain is materialized, a
thread pool (one worker per default-parallelism slot) runs the
`_materialize` calls of the views and the A-series tables, and
`_observed_scheme_codes`, while the calling thread writes the exports
in a fixed order: K4 while the views fill, K2 and K3 while the
A-series shuffle-map jobs run, then each A-series CSV from its
materialization (a one-stage job).

Thread rules:

* Every pool task is wrapped in `inheritable_thread_target(spark)`,
  so its jobs carry the caller's job group, description and tags:
  cancelling the caller's group cancels them too.
* Pool tasks call only `_materialize` and `_observed_scheme_codes`.
  The public builders (`automated.*`, the view builders) and the
  writers run on the calling thread, serially and in order, so
  anything that wraps those functions sees them one at a time, as in
  a serial run (a tracer keeping one span stack, for instance).
* An error in any task is raised on the calling thread, and the pool
  is shut down before the call returns or raises: pending tasks are
  cancelled and running ones awaited, so no job of the run outlives
  the call.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.util import inheritable_thread_target

from ..labels.config import AnalysisConfig
from ..labels.imputation import impute_message_grain
from ..labels.views import messages_by_column, participants_by_column
from ..sinks.exports import (
    analysis_matrix,
    production_columns,
    write_csv,
    write_jsonl,
)
from . import automated
from .spine import fetch_messages, filter_messages


@dataclass
class AnalysisRun:
    """Handles to every frame the run produced (all lazily reusable).

    `imputed`, the two views and every `analysis` table are
    materialized (`_materialize`); the exports were written from these
    same frames. In the default in-session mode they are
    localCheckpoints: lost with their executor, and their blocks are
    held until these handles are dropped. A run with `stage_dir` reads
    durable parquet stage tables instead."""
    imputed: DataFrame
    messages_view: DataFrame
    participants_view: DataFrame
    analysis: dict[str, DataFrame] = field(default_factory=dict)


def _observed_scheme_codes(pv: DataFrame,
                           config: AnalysisConfig) -> dict[str, list[str]]:
    """Fallback K3 column universe when no CodeScheme files are given:
    the codes actually present per scheme, in one exploded distinct
    pass (the driver-side result is #codes rows — tiny)."""
    from pyspark.sql import functions as F

    def tagged(cc):
        return F.transform(
            F.split(F.col(cc.coded_field), ";"),
            lambda c: F.struct(F.lit(cc.scheme_id).alias("scheme"),
                               c.alias("code")))

    pairs = pv.select(F.explode(F.flatten(F.array(*[
        tagged(cc)
        for d in config.datasets for cc in d.coding_configs
    ]))).alias("e")).select("e.scheme", "e.code").distinct().collect()
    out: dict[str, list[str]] = {}
    for r in sorted(pairs, key=lambda r: (r.scheme, r.code)):
        if r.code:
            out.setdefault(r.scheme, []).append(r.code)
    return out


def _materialize(df: DataFrame, stage_dir: str | None, name: str,
                 partition_by: list[str] | None = None) -> DataFrame:
    """Materialize one stage so downstream consumers read it instead of
    re-deriving the lineage.

    Without `stage_dir`: a localCheckpoint(eager=False), which beats
    `.cache()` twice over (measured at sf0.1): the fill persists
    UnsafeRows instead of building a columnar relation of the nested
    labels (imputed fill 5.9 → 1.9 s), and every consumer's plan
    starts from a small LogicalRDD instead of re-analyzing the ~60 KB
    imputation expression tree. Under AQE this call runs the plan's
    shuffle-map jobs; the final stage runs, and fills the checkpoint,
    at the first consuming action. With AQE off the call runs no job.

    With `stage_dir`: write a parquet stage table under
    `stage_dir/name` and read it back (partition pruning on
    `partition_by`); the call runs every job of the plan."""
    if stage_dir is None:
        return df.localCheckpoint(eager=False)
    path = os.path.join(stage_dir, name)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return df.sparkSession.read.parquet(path)


def generate_analysis_files(messages: DataFrame, config: AnalysisConfig,
                            out_dir: str | None = None,
                            scheme_codes: dict[str, list[str]] | None = None,
                            cross_tab_pairs: list[tuple[str, str]] | None = None,
                            single_file: bool = False,
                            stage_dir: str | None = None,
                            dry_run: bool = False) -> AnalysisRun:
    """Run the full analysis pipeline over a Message-schema frame.

    When `out_dir` is given, writes the same file set the reference
    emits: production.csv, analysis_matrix.csv, traced_messages.jsonl
    and one CSV per automated-analysis table. `scheme_codes` is the
    CodeScheme code universe per scheme (K3 matrix columns); when
    omitted, the observed codes stand in. Returns every frame for
    programmatic use either way.

    `stage_dir` selects the durable materialization (module
    docstring): parquet stage tables — the imputed message grain
    partitioned by dataset (so per-dataset consumers prune partitions),
    the two views and the A-series tables unpartitioned. That is the
    100 TB configuration: checkpoint blocks don't survive executor loss
    or fit big stages; stage tables do.

    `dry_run` mirrors the reference's `--dry-run` threaded through
    every stage (engagement_db_to_analysis.py:13-14): all frames are
    computed and returned, export file counts are logged, nothing is
    written. It follows the same schedule as a writing run."""
    fetched = fetch_messages(messages)
    filtered = filter_messages(fetched, config.rqa_datasets,
                               config.rqa_start, config.rqa_end,
                               config.test_participants)
    imputed = _materialize(impute_message_grain(filtered, config),
                           stage_dir, "imputed", partition_by=["dataset"])
    exporting = out_dir is not None or dry_run

    def export(name: str, df: DataFrame, fmt: str = "csv") -> None:
        path = os.path.join(out_dir or "<out_dir>", name)
        if dry_run:
            print(f"# dry run: would write {df.count()} rows -> "
                  f"{path} ({fmt})")
        elif fmt == "jsonl":
            write_jsonl(df, path, single_file)
        else:
            write_csv(df, path, single_file)

    spark = imputed.sparkSession
    pool = ThreadPoolExecutor(spark.sparkContext.defaultParallelism)

    def background(fn, *args):
        # wrapped at submit time: the task inherits the caller's job
        # group, description and tags as they are now
        return pool.submit(inheritable_thread_target(spark)(fn), *args)

    try:
        views = [
            background(_materialize, messages_by_column(imputed, config),
                       stage_dir, "messages_view"),
            background(_materialize, participants_by_column(imputed, config),
                       stage_dir, "participants_view"),
        ]
        if exporting:
            export("traced_messages", imputed, "jsonl")
        mv, pv = (f.result() for f in views)
        # first in the queue: K3 waits on it
        codes = (background(_observed_scheme_codes, pv, config)
                 if exporting and not scheme_codes else None)

        built: dict[str, DataFrame] = {
            "engagement_counts": automated.engagement_counts(mv, config),
            "repeat_participations":
                automated.repeat_participations(mv, config),
            "theme_distributions": automated.theme_distributions(mv, config),
            "demographic_distributions":
                automated.demographic_distributions(pv, config),
            "sample_messages": automated.sample_messages(mv, config),
            "traffic_analysis": automated.traffic_analysis(mv, config),
            "participation_map": automated.participation_map(pv, config),
            "relevance_uuids": automated.relevance_uuids(mv, config),
        }
        for a, b in (cross_tab_pairs or []):
            built[f"cross_tabs_{a}_{b}"] = automated.cross_tabs(pv, a, b)
        pending = {name: background(_materialize, df, stage_dir, name)
                   for name, df in built.items()}

        if exporting:
            export("production", production_columns(mv, config))
            export("analysis_matrix",
                   analysis_matrix(pv, config,
                                   scheme_codes or codes.result()))

        analysis: dict[str, DataFrame] = {}
        for name, f in pending.items():
            analysis[name] = f.result()
            if exporting:
                export(name, analysis[name])
    finally:
        pool.shutdown(cancel_futures=True)

    return AnalysisRun(imputed=imputed, messages_view=mv,
                       participants_view=pv, analysis=analysis)
