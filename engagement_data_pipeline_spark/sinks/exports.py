"""Analysis exports: production CSV (K2), matrix-format analysis CSV
(K3), JSONL (K4).

Reference: src/engagement_db_to_analysis/analysis_files.py.

K3's header rules (analysis_files.py:51-72) are preserved exactly:

* headers start participant_uuid, consent_withdrawn, then membership
  group columns;
* per coding config: one 0/1 column per code in its scheme, named
  "{column_name}:{code}", followed by the config's raw field;
* if the raw field was already emitted by an earlier coding config of
  the same dataset (e.g. age + age_category share age_raw), it MOVES
  to the end of the headers so raw fields always follow their code
  columns — the reference's remove-then-append quirk.

Matrix cells are 1 when the participant's folded code list for that
scheme contains the code, else 0 (Codes.MATRIX_1/MATRIX_0,
analysis_files.py:106-111).

Writers: at scale `write_csv`/`write_jsonl` leave files partitioned
(`df.write`); `single_file=True` coalesces to one part for
reference-style one-file exports — driver-light, but only for
result-sized data.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame

from ..labels.config import AnalysisConfig
from ..labels.imputation import _lit


def _column_name(coded_field: str) -> str:
    """Matrix column prefix for a coding config (reference uses the
    analysis dataset name; ours is the coded field minus '_codes')."""
    return coded_field.removesuffix("_codes")


def analysis_matrix_headers(config: AnalysisConfig,
                            scheme_codes: Mapping[str, Sequence[str]],
                            membership_groups: Sequence[str] = ()) -> list[str]:
    """K3 header order, including the raw-field-moves-to-end rule."""
    headers = ["participant_uuid", "consent_withdrawn", *membership_groups]
    for d in config.datasets:
        for cc in d.coding_configs:
            name = _column_name(cc.coded_field)
            for code in scheme_codes[cc.scheme_id]:
                headers.append(f"{name}:{code}")
            if d.raw_field in headers:
                headers.remove(d.raw_field)
            headers.append(d.raw_field)
    return headers


def _ident(name: str) -> str:
    """A column name as a backtick-quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def analysis_matrix(participants_view: DataFrame, config: AnalysisConfig,
                    scheme_codes: Mapping[str, Sequence[str]],
                    membership_groups: Sequence[str] = ()) -> DataFrame:
    """K3: pivot each folded code list into 0/1 matrix columns, in the
    exact reference header order — ONE `selectExpr`: a py4j Column
    per code cell costs ~6 driver round trips (0.49 s vs 0.06 s per
    build of the synthetic config's 127 columns)."""
    exprs = {h: _ident(h) for h in
             ("participant_uuid", "consent_withdrawn", *membership_groups)}
    for d in config.datasets:
        exprs[d.raw_field] = _ident(d.raw_field)
        for cc in d.coding_configs:
            name = _column_name(cc.coded_field)
            codes_arr = f"split({_ident(cc.coded_field)}, ';')"
            for code in scheme_codes[cc.scheme_id]:
                exprs[f"{name}:{code}"] = (
                    f"CASE WHEN array_contains({codes_arr}, {_lit(code)}) "
                    "THEN 1 ELSE 0 END")
    headers = analysis_matrix_headers(config, scheme_codes, membership_groups)
    return participants_view.selectExpr(
        *[f"{exprs[h]} AS {_ident(h)}" for h in headers])


def production_columns(messages_view: DataFrame,
                       config: AnalysisConfig) -> DataFrame:
    """K2: participant_uuid, timestamp, and every raw dataset column
    (analysis_files.py:13-30)."""
    return messages_view.select(
        "participant_uuid", "timestamp_us",
        *[d.raw_field for d in config.datasets])


def write_csv(df: DataFrame, path: str, single_file: bool = False,
              mode: str = "overwrite") -> None:
    out = df.coalesce(1) if single_file else df
    out.write.mode(mode).option("header", True).csv(path)


def write_jsonl(df: DataFrame, path: str, single_file: bool = False,
                mode: str = "overwrite") -> None:
    """K4: TracedData-style JSONL export (engagement_db_to_analysis.py:49-51)."""
    out = df.coalesce(1) if single_file else df
    out.write.mode(mode).json(path)
