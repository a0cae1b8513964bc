"""Registry queries for the automated-analysis suite (A1-A9), each
paired with a DuckDB oracle that re-derives the same result over the
flattened column-view SQL (which is itself generated from the same
AnalysisConfig — see queries/engagement.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..analysis import automated
from ..labels.config import CONTROL_CODES, DEMOGRAPHIC, RESEARCH_QUESTION_ANSWER
from . import engagement
from .engagement import CONFIG

_MV = f"WITH mv AS ({engagement.MESSAGES_VIEW_SQL})"
_PV = f"WITH pv AS ({engagement.PARTICIPANTS_VIEW_SQL})"
_MV_OK = "mv WHERE consent_withdrawn = 'false'"
_PV_OK = "pv WHERE consent_withdrawn = 'false'"

_RQA_CCS = [(d, cc) for d in CONFIG.datasets
            if d.dataset_type == RESEARCH_QUESTION_ANSWER
            for cc in d.coding_configs]
_DEMOG_CCS = [(d, cc) for d in CONFIG.datasets
              if d.dataset_type == DEMOGRAPHIC
              for cc in d.coding_configs]
_CONTROL_IN = "(" + ", ".join(f"'{c}'" for c in CONTROL_CODES) + ")"


def _run_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A-series table `name` exactly as `generate_analysis_files`
    returned it (queries/engagement.py `_run`)."""
    return engagement._run(spark, sf_dir).analysis[name]


# --- A1 -------------------------------------------------------------------

def engagement_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_table(spark, sf_dir, "engagement_counts")


ENGAGEMENT_COUNTS_SQL = _MV + f"""
SELECT dataset, COUNT(*) AS n_messages,
       COUNT(DISTINCT participant_uuid) AS n_participants
FROM {_MV_OK} GROUP BY dataset
UNION ALL
SELECT 'total', COUNT(*), COUNT(DISTINCT participant_uuid)
FROM {_MV_OK}
"""


# --- A2 -------------------------------------------------------------------

def repeat_participations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_table(spark, sf_dir, "repeat_participations")


REPEAT_PARTICIPATIONS_SQL = _MV + f""",
eps AS (
  SELECT participant_uuid, COUNT(DISTINCT dataset) AS n_episodes
  FROM {_MV_OK} GROUP BY participant_uuid
),
dist AS (SELECT n_episodes, COUNT(*) AS n_participants FROM eps GROUP BY n_episodes)
SELECT n_episodes, n_participants,
       n_participants * CAST(100.0 AS DOUBLE) / SUM(n_participants) OVER () AS pct
FROM dist
"""


# --- A3 -------------------------------------------------------------------

def theme_distributions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_table(spark, sf_dir, "theme_distributions")


THEME_DISTRIBUTIONS_SQL = _MV + "\n" + "\nUNION ALL\n".join(
    f"SELECT '{d.name}' AS dataset, '{cc.scheme_id}' AS scheme, "
    f"{cc.coded_field} AS code, gender_codes AS breakdown, "
    f"COUNT(*) AS n_messages FROM {_MV_OK} AND dataset = '{d.name}' "
    f"GROUP BY {cc.coded_field}, gender_codes"
    for d, cc in _RQA_CCS
)


# --- A4 -------------------------------------------------------------------

def demographic_distributions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_table(spark, sf_dir, "demographic_distributions")


DEMOGRAPHIC_DISTRIBUTIONS_SQL = _PV + "\n" + "\nUNION ALL\n".join(
    f"SELECT field, code, COUNT(*) AS n_participants FROM ("
    f"SELECT '{cc.coded_field}' AS field, "
    f"unnest(string_split({cc.coded_field}, ';')) AS code "
    f"FROM {_PV_OK}) GROUP BY field, code"
    for _, cc in _DEMOG_CCS
)


# --- A5 -------------------------------------------------------------------

def cross_tabs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return automated.cross_tabs(engagement.participants_view(spark, sf_dir),
                                "gender_codes", "age_category_codes")


CROSS_TABS_SQL = _PV + f"""
SELECT gender_codes AS code_a, age_category_codes AS code_b,
       COUNT(*) AS n_participants
FROM {_PV_OK} GROUP BY gender_codes, age_category_codes
"""


# --- A6 -------------------------------------------------------------------

def sample_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_table(spark, sf_dir, "sample_messages")


SAMPLE_MESSAGES_SQL = _MV + """,
un AS (
""" + "\nUNION ALL\n".join(
    f"SELECT '{d.name}' AS dataset, '{cc.scheme_id}' AS scheme, "
    f"{cc.coded_field} AS code, timestamp_us, message_id, "
    f"{d.raw_field} AS text FROM {_MV_OK} AND dataset = '{d.name}'"
    for d, cc in _RQA_CCS
) + """
)
SELECT * FROM (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY dataset, scheme, code
      ORDER BY timestamp_us, message_id) AS rank
  FROM un
) WHERE rank <= 100
"""


# --- A7 -------------------------------------------------------------------

def traffic_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_table(spark, sf_dir, "traffic_analysis")


TRAFFIC_ANALYSIS_SQL = _MV + f"""
SELECT (timestamp_us // {automated.MICROS_PER_DAY}) * {automated.MICROS_PER_DAY} AS day_us,
       dataset, COUNT(*) AS n_messages
FROM {_MV_OK} GROUP BY day_us, dataset
"""


# --- A8 -------------------------------------------------------------------

def participation_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_table(spark, sf_dir, "participation_map")


PARTICIPATION_MAP_SQL = _PV + f"""
SELECT location_code, COUNT(*) AS n_participants FROM (
  SELECT unnest(string_split(location_codes, ';')) AS location_code
  FROM {_PV_OK}
) GROUP BY location_code
"""


# --- A9 -------------------------------------------------------------------

def relevance_uuids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_table(spark, sf_dir, "relevance_uuids")


RELEVANCE_UUIDS_SQL = _MV + """
SELECT DISTINCT participant_uuid FROM mv
WHERE consent_withdrawn = 'false' AND (
""" + "\n OR ".join(
    f"(dataset = '{d.name}' AND {cc.coded_field} NOT IN {_CONTROL_IN})"
    for d, cc in _RQA_CCS
) + ")"


# --- A4 + k-anonymity small-cell suppression ------------------------------

KANON_K = 5


def a4_kanon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 demographic distributions gated by small-cell suppression
    (operators/privacy.py): cells under k=5 participants fold into
    one '__suppressed__' rollup per field (count NULL when even the
    rollup would disclose) — the statistical-disclosure-control step
    the reference's published CSVs skip."""
    from ..operators.privacy import suppress_small_groups

    dist = demographic_distributions(spark, sf_dir)
    return suppress_small_groups(dist, ["field"], "code",
                                 "n_participants", KANON_K)


A4_KANON_SQL = f"""
WITH dist AS ({DEMOGRAPHIC_DISTRIBUTIONS_SQL})
SELECT field, code, n_participants FROM dist
WHERE n_participants >= {KANON_K}
UNION ALL
SELECT field, '__suppressed__' AS code,
       CASE WHEN SUM(n_participants) >= {KANON_K}
            THEN CAST(SUM(n_participants) AS BIGINT) END AS n_participants
FROM dist WHERE n_participants < {KANON_K} GROUP BY field
"""
