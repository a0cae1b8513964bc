"""Model-based randomized differential of the FULL message-grain
imputation chain (labels/imputation.py impute_message_grain) — the
round-13 verdict's task 4: M10/M11's differential pattern
(tests/test_ws_model.py) applied to M1→M2→M3→M4→M5.

The reference applies the five rules SEQUENTIALLY, each reading the
previous rule's output (code_imputation_functions.py:545-552 fixed
order: NR/CE → WS-CE → NC → age_category → locations). The pure-Python
model below replays that sequencing literally; 700 seeded random
label/text states (plus a deterministic block pinning every age-bucket
edge) run through the REAL compiled-SQL operator in ONE DataFrame and
are compared label-list-for-label-list.

Order sensitivity this catches (SURVEY §7 hard item 3): M4/M5 must NOT
fire when M1/M2/M3 replaced the labels with control codes — the
reference's age/location lookups read the post-M3 latest label, which
is a control code in those branches, so no Normal-code derivation can
happen. A compiled form that reads the ORIGINAL labels gated only on
`all_checked` misses the M2 (WS coding-error) branch: all-checked
labels + a checked WS-scheme label + a valid age code must yield the
CE array with NO age-category prepend.

A second config puts the age-category scheme BETWEEN two location
levels of one dataset, so one message derives M4 and M5 labels at once
and the prepend order (M4 in config order, then M5 in config order,
each prepended: the last derived label comes first) is pinned
independently of the config's scheme order. NULL and empty `labels`
arrays, and a dataset outside the config, ride in the same frame.

Scope notes (documented divergences, not model gaps): out-of-bucket
Normal age codes (the reference asserts/crashes,
code_imputation_functions.py:316-322) impute nothing here; the
reference's multi-scheme location-conflict CE and META-code paths are
out of scope because upstream Coda adapters only ever label the source
location scheme (SURVEY §2.6).
"""

from __future__ import annotations

import datetime as dt
import random
import re

from engagement_data_pipeline_spark.labels.config import (
    AGE_BUCKETS,
    CODING_ERROR,
    DEMOGRAPHIC,
    LOCATION_COUNTY_MAP,
    LOCATION_REGION_MAP,
    NOT_CODED,
    NOT_REVIEWED,
    RESEARCH_QUESTION_ANSWER,
    SYNTHETIC_CONFIG,
    WS,
    AnalysisConfig,
    CodingConfig,
    DatasetConfig,
)
from engagement_data_pipeline_spark.labels.imputation import (
    WS_CORRECT_DATASET_SCHEME,
    impute_message_grain,
)
from engagement_data_pipeline_spark.labels.schema import MESSAGE_SCHEMA

T = dt.datetime(2024, 1, 10)
T1 = dt.datetime(2024, 1, 8)
DATASETS = {d.name: d for d in SYNTHETIC_CONFIG.datasets}

# one dataset derives age-category (M4) and two location levels (M5);
# the config lists the age-category scheme between the two levels
MIXED_CONFIG = AnalysisConfig(datasets=(
    DatasetConfig("profile", DEMOGRAPHIC, "profile_raw",
                  (CodingConfig("location_scheme", "location_codes"),
                   CodingConfig("location_county_scheme",
                                "location_county_codes",
                                location_source="location_scheme",
                                location_map=LOCATION_COUNTY_MAP),
                   CodingConfig("age_scheme", "age_codes"),
                   CodingConfig("age_category_scheme", "age_category_codes",
                                age_category_source="age_scheme"),
                   CodingConfig("location_region_scheme",
                                "location_region_codes",
                                location_source="location_scheme",
                                location_map=LOCATION_REGION_MAP))),
    DatasetConfig("s01e01", RESEARCH_QUESTION_ANSWER, "s01e01_raw",
                  (CodingConfig("s01e01_theme_scheme", "s01e01_theme_codes"),)),
))
MIXED_DATASETS = {d.name: d for d in MIXED_CONFIG.datasets}

_AGE_CODES = ["age_5", "age_9", "age_10", "age_14", "age_15", "age_17",
              "age_18", "age_35", "age_36", "age_54", "age_55", "age_99",
              "age_100", "age_abc", WS, NOT_CODED]
_LOC_CODES = [f"code_{i}" for i in range(7)] + ["code_9", WS]


def _latest(labels, scheme):
    for lab in labels:
        if lab[0] == scheme:
            return lab
    return None


def _model(ds, text, labels):
    """The reference chain, applied sequentially to (scheme_id,
    code_id, ts, checked, origin_id) tuples; returns the final list.
    A dataset outside the config (ds None) keeps its labels as-is."""
    if ds is None:
        return labels
    labels = labels or []
    schemes = ds.scheme_ids
    latest = {s: _latest(labels, s) for s in schemes}
    has_checked = any(l is not None and l[3] for l in latest.values())
    has_unchecked = any(l is not None and not l[3]
                        for l in latest.values())
    all_checked = has_checked and not has_unchecked

    def control(code, rule):
        return [(s, code, T, True, f"imputation:{rule}")
                for s in schemes]

    # M1
    if all_checked:
        out = list(labels)
    elif has_checked and has_unchecked:
        out = control(CODING_ERROR, "m1_ce")
    else:
        out = control(NOT_REVIEWED, "m1_nr")
    # M2 — WS in a normal scheme XOR a checked WS-scheme label
    ws_in_normal = all_checked and any(
        l is not None and l[3] and l[1] == WS for l in latest.values())
    wsl = _latest(labels, WS_CORRECT_DATASET_SCHEME)
    ws_ce = ws_in_normal != (wsl is not None and wsl[3])
    if ws_ce:
        out = control(CODING_ERROR, "m2_ws_ce")
    # M3
    empty = text is None or text == ""
    if empty:
        out = control(NOT_CODED, "m3_nc")
    # M4/M5 read the POST-M3 latest source label: a Normal code only
    # survives to here on the full pass-through path
    derivable = all_checked and not ws_ce and not empty
    for cc in ds.coding_configs:
        if cc.age_category_source is None or not derivable:
            continue
        src = latest.get(cc.age_category_source)
        m = re.fullmatch(r"age_([0-9]+)", (src and src[1]) or "")
        if not m:
            continue
        n = int(m.group(1))
        cat = next((c for lo, hi, c in AGE_BUCKETS if lo <= n <= hi),
                   None)
        if cat is None:
            continue  # reference asserts; we impute nothing
        out = [(cc.scheme_id, cat, T, True,
                "imputation:m4_age_category")] + out
    for cc in ds.coding_configs:
        if cc.location_source is None or not derivable:
            continue
        src = latest.get(cc.location_source)
        tgt = dict(cc.location_map).get((src and src[1]) or None)
        if tgt is None:
            continue
        out = [(cc.scheme_id, tgt, T, True,
                "imputation:m5_location")] + out
    return out


def _row(i, dataset, text, labels):
    return (f"m{i}", f"p{i}", text, T1, "in", "op", "live", dataset,
            [], labels, (f"o-m{i}", "t"), None, T)


def _code_for(rng, scheme):
    if scheme == "age_scheme":
        return rng.choice(_AGE_CODES)
    if scheme == "location_scheme":
        return rng.choice(_LOC_CODES)
    return rng.choice(["code_x", "code_y", WS, WS])


def _random_row(rng, i, datasets=DATASETS, p_checked=0.65):
    name = rng.choice(list(datasets))
    ds = datasets[name]
    text = rng.choice(["hello", "hello", "hello", "", None])
    labels = []
    for _ in range(rng.randint(0, 4)):
        scheme = rng.choice(ds.scheme_ids + [WS_CORRECT_DATASET_SCHEME,
                                             "other_scheme"])
        code = ("s01e02" if scheme == WS_CORRECT_DATASET_SCHEME
                else _code_for(rng, scheme))
        labels.append((scheme, code, T1, rng.random() < p_checked, "coda"))
    return _row(i, name, text, labels)


def _edge_rows(start):
    """Deterministic block: every age-bucket edge plus out-of-range
    and the M2-CE-with-valid-age order-sensitivity case."""
    rows = []
    i = start
    for n in (5, 9, 10, 14, 15, 17, 18, 35, 36, 54, 55, 99, 100):
        rows.append(_row(i, "age", "im this old",
                         [("age_scheme", f"age_{n}", T1, True, "coda"),
                          ("age_category_scheme", NOT_CODED, T1, True,
                           "coda")]))
        i += 1
    # all-checked + checked WS-scheme label + valid age: M2 fires CE,
    # so M4 must NOT prepend a category (the reference would read CE)
    rows.append(_row(i, "age", "adult",
                     [("age_scheme", "age_20", T1, True, "coda"),
                      ("age_category_scheme", NOT_CODED, T1, True,
                       "coda"),
                      (WS_CORRECT_DATASET_SCHEME, "s01e02", T1, True,
                       "coda")]))
    # same shape for M5: checked location + checked WS-scheme label
    rows.append(_row(i + 1, "location", "kibera",
                     [("location_scheme", "code_3", T1, True, "coda"),
                      (WS_CORRECT_DATASET_SCHEME, "s01e02", T1, True,
                       "coda")]))
    return rows


def test_imputation_chain_matches_sequential_model(spark):
    rng = random.Random(20240814)
    rows = [_random_row(rng, i) for i in range(700)]
    rows += _edge_rows(700)
    df = spark.createDataFrame(rows, MESSAGE_SCHEMA)
    got = {r.message_id: r for r in
           impute_message_grain(df, SYNTHETIC_CONFIG).collect()}
    assert len(got) == len(rows)

    hits = {"m1_nr": 0, "m1_ce": 0, "m2_ws_ce": 0, "m3_nc": 0,
            "pass": 0, "m4": 0, "m5": 0, "m4_blocked_by_ws_ce": 0}
    buckets_hit = set()
    for row in rows:
        mid, dataset, text, labels = row[0], row[7], row[2], row[9]
        want = _model(DATASETS[dataset], text, labels)
        out = got[mid]
        got_labels = [(l.scheme_id, l.code_id, l.date_time_utc,
                       l.checked, l.origin_id) for l in out.labels]
        assert got_labels == want, (mid, dataset, text, labels,
                                    got_labels, want)

        rules = {l[4] for l in want}
        for rule in ("m1_nr", "m1_ce", "m2_ws_ce", "m3_nc"):
            if f"imputation:{rule}" in rules:
                hits[rule] += 1
        if want and all(l[4] == "coda" for l in want):
            hits["pass"] += 1
        for lab in want:
            if lab[4] == "imputation:m4_age_category":
                hits["m4"] += 1
                buckets_hit.add(lab[1])
            if lab[4] == "imputation:m5_location":
                hits["m5"] += 1
        if ("imputation:m2_ws_ce" in rules
                and any(l[0] == "age_scheme" and l[3]
                        and re.fullmatch(r"age_[0-9]+", l[1] or "")
                        for l in labels)):
            hits["m4_blocked_by_ws_ce"] += 1

    # the seed + edge block exercise every branch and every bucket
    assert all(v > 5 for v in hits.values()), hits
    assert buckets_hit == {c for _, _, c in AGE_BUCKETS}, buckets_hit


def _mixed_rows(start):
    """Deterministic block for MIXED_CONFIG: age and location Normal
    codes on one message (alone, together, against a WS-scheme label),
    NULL and empty labels, and a dataset outside the config."""
    loc = ("location_scheme", "code_5", T1, True, "coda")
    age = ("age_scheme", "age_40", T1, True, "coda")
    ws = (WS_CORRECT_DATASET_SCHEME, "s01e02", T1, True, "coda")
    theme = ("s01e01_theme_scheme", "code_x", T1, True, "coda")
    shapes = [
        ("profile", "hi", [loc, age]),
        ("profile", "hi", [age, loc]),
        ("profile", "hi", [loc]),
        ("profile", "hi", [age]),
        ("profile", "hi",
         [loc, ("location_scheme", "code_1", T1, False, "coda"), age]),
        ("profile", "hi", [loc, age, ws]),
        ("profile", "", [loc, age]),
        ("profile", "hi", None),
        ("profile", "hi", []),
        ("profile", None, None),
        ("s01e01", "hi", None),
        ("s01e01", "hi", []),
        ("s01e01", "hi", [theme]),
        ("unconfigured", "hi", None),
        ("unconfigured", "hi", []),
        ("unconfigured", "hi", [loc, age]),
    ]
    return [_row(start + k, name, text, labels)
            for k, (name, text, labels) in enumerate(shapes)]


def test_interleaved_m4_m5_and_empty_labels_match_model(spark):
    rng = random.Random(20261017)
    rows = [_random_row(rng, i, MIXED_DATASETS, p_checked=0.9)
            for i in range(300)]
    rows += _mixed_rows(300)
    df = spark.createDataFrame(rows, MESSAGE_SCHEMA)
    got = {r.message_id: r for r in
           impute_message_grain(df, MIXED_CONFIG).collect()}
    assert len(got) == len(rows)

    both = 0
    for row in rows:
        mid, dataset, text, labels = row[0], row[7], row[2], row[9]
        want = _model(MIXED_DATASETS.get(dataset), text, labels)
        out = got[mid]
        got_labels = (None if out.labels is None else
                      [(l.scheme_id, l.code_id, l.date_time_utc,
                        l.checked, l.origin_id) for l in out.labels])
        assert got_labels == want, (mid, dataset, text, labels,
                                    got_labels, want)
        rules = [l[4] for l in want or []]
        if ("imputation:m4_age_category" in rules
                and "imputation:m5_location" in rules):
            both += 1
    assert both >= 3, both  # m300, m301, m304 at least

    # the pinned order: both M5 levels (last configured first), then
    # the age category, then the untouched source labels
    first = got["m300"].labels
    assert [(l.scheme_id, l.code_id) for l in first[:3]] == [
        ("location_region_scheme", "region_1"),
        ("location_county_scheme", "county_2"),
        ("age_category_scheme", "age_36_to_54")]
    # NULL / empty labels on a configured dataset become NR per scheme
    assert {l.code_id for l in got["m307"].labels} == {NOT_REVIEWED}
    assert got["m313"].labels is None
