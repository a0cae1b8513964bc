"""Top-level analysis pipeline (SURVEY §3.1/§3.2): the Spark analog
of the reference's `generate_analysis_files`
(src/engagement_db_to_analysis/engagement_db_to_analysis.py:24-60 and
run_pipeline.sh): fetch → filter → impute → column views → exports
(K2 production CSV, K3 analysis matrix, K4 TracedData JSONL) →
automated analysis files (A1-A9).

This is the entry point a user of the reference would call once per
run, and the one place the spine is built and materialized: the
registry's view and A-series queries read the frames it returns
(queries/engagement.py). Execution shape at scale: the imputed message
grain and the two views are materialized once and every downstream
export/analysis reads the materialization instead of re-deriving the
spine. By default that is an in-session `localCheckpoint(eager=False)`
(filled by the first consuming action); its blocks do not survive
executor loss, and they cannot be released with `unpersist` or
`clearCache` — they are held until the run's frames are dropped.
`stage_dir` is the durable mode: parquet stage tables that survive
executor loss (the cluster configuration).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

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

    `imputed` and the two views are materialized. In the default
    in-session mode they are localCheckpoints: lost with their executor,
    and their blocks are held until these handles are dropped. A run
    with `stage_dir` reads durable parquet stage tables instead."""
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
    """Materialize one spine stage so downstream consumers read it
    instead of re-deriving the lineage. Without `stage_dir`: a lazy
    localCheckpoint, which beats `.cache()` twice over (measured at
    sf0.1): the fill persists UnsafeRows instead of building a columnar
    relation of the nested labels (imputed fill 5.9 → 1.9 s), and every
    consumer's plan starts from a small LogicalRDD instead of
    re-analyzing the ~60 KB imputation expression tree. With
    `stage_dir`: write a parquet stage table under `stage_dir/name` and
    read it back (partition pruning on `partition_by`)."""
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
    partitioned by dataset (so per-dataset consumers prune partitions)
    and the two views unpartitioned. That is the 100 TB configuration:
    checkpoint blocks don't survive executor loss or fit big stages;
    stage tables do.

    `dry_run` mirrors the reference's `--dry-run` threaded through
    every stage (engagement_db_to_analysis.py:13-14): all frames are
    computed and returned, export file counts are logged, nothing is
    written."""
    fetched = fetch_messages(messages)
    filtered = filter_messages(fetched, config.rqa_datasets,
                               config.rqa_start, config.rqa_end,
                               config.test_participants)
    imputed = _materialize(impute_message_grain(filtered, config),
                           stage_dir, "imputed", partition_by=["dataset"])
    mv = _materialize(messages_by_column(imputed, config),
                      stage_dir, "messages_view")
    pv = _materialize(participants_by_column(imputed, config),
                      stage_dir, "participants_view")

    analysis: dict[str, DataFrame] = {
        "engagement_counts": automated.engagement_counts(mv, config),
        "repeat_participations": automated.repeat_participations(mv, config),
        "theme_distributions": automated.theme_distributions(mv, config),
        "demographic_distributions":
            automated.demographic_distributions(pv, config),
        "sample_messages": automated.sample_messages(mv, config),
        "traffic_analysis": automated.traffic_analysis(mv, config),
        "participation_map": automated.participation_map(pv, config),
        "relevance_uuids": automated.relevance_uuids(mv, config),
    }
    for a, b in (cross_tab_pairs or []):
        analysis[f"cross_tabs_{a}_{b}"] = automated.cross_tabs(pv, a, b)

    if out_dir is not None or dry_run:
        exports: list[tuple[str, DataFrame, str]] = [
            ("production", production_columns(mv, config), "csv"),
            ("analysis_matrix",
             analysis_matrix(pv, config,
                             scheme_codes or _observed_scheme_codes(pv, config)),
             "csv"),
            ("traced_messages", imputed, "jsonl"),
        ]
        exports += [(name, df, "csv") for name, df in analysis.items()]
        for name, df, fmt in exports:
            path = os.path.join(out_dir or "<out_dir>", name)
            if dry_run:
                print(f"# dry run: would write {df.count()} rows -> "
                      f"{path} ({fmt})")
            elif fmt == "jsonl":
                write_jsonl(df, path, single_file)
            else:
                write_csv(df, path, single_file)

    return AnalysisRun(imputed=imputed, messages_view=mv,
                       participants_view=pv, analysis=analysis)
