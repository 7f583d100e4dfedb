"""The folded quality gate against the single-check helpers.

``silver_studies_suite`` answers all 11 checks from one aggregate per
input table. Here every check is broken by its own planted rows, with a
distinct non-zero count, so a fold that drops, zeroes or swaps a check
cannot match the one-job-per-check helpers or the planted counts.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql.types import (
    DateType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from test_pipeline_concurrency import job_window
from clinical_trials_data_pipeline_analyis_spark.config import DEFAULT_CONFIG as CFG
from clinical_trials_data_pipeline_analyis_spark.plans import quality

#: suite order -> violations planted for that check
PLANTED = {
    "studies_pk": 2,
    "imputed_no_nulls": 3 + 11,  # 3 NULL acronyms + the implies rows' NULL status
    "domain(phase)": 4,
    "domain(overall_status)": 5,
    "domain(has_dmc)": 6,
    "start_date_window": 7,
    "bounds(target_duration_days)": 8,
    "enrollment_caps": 9,
    "mutex(number_of_arms,number_of_groups)": 10,
    "implies(expanded_access_nctid->expanded_access_status_for_nctid)": 11,
    "studies_row_preservation": 1,
}

CLEAN = {
    **{c: "x" for c in quality.IMPUTED_COLUMNS},
    "study_type": "INTERVENTIONAL",
    "phase": "PHASE 2",
    "overall_status": "Active",
    "has_dmc": "Yes",
    "enrollment": 100,
    "start_date": dt.date(2010, 1, 1),
    "target_duration_days": 365,
    "expanded_access_nctid": None,
}

SILVER_SCHEMA = StructType(
    [StructField("nct_id", StringType())]
    + [
        StructField(c, IntegerType() if c == "enrollment" else StringType())
        for c in quality.IMPUTED_COLUMNS
    ]
    + [
        StructField("start_date", DateType()),
        StructField("target_duration_days", IntegerType()),
        StructField("expanded_access_nctid", StringType()),
    ]
)
BRONZE_SCHEMA = StructType(
    [
        StructField("nct_id", StringType()),
        StructField("number_of_arms", IntegerType()),
        StructField("number_of_groups", IntegerType()),
    ]
)


def _silver_rows() -> list[dict]:
    rows: list[dict] = []

    def add(n: int, **override) -> None:
        for _ in range(n):
            rows.append({**CLEAN, "nct_id": f"NCT{len(rows):08d}", **override})

    add(10)
    add(3, acronym=None)
    add(4, phase="PHASE 9")
    add(5, overall_status="Paused")
    add(6, has_dmc="Maybe")
    add(4, start_date=CFG.min_valid_date - dt.timedelta(days=1))
    add(3, start_date=CFG.analysis_date + dt.timedelta(days=1))
    add(8, target_duration_days=CFG.duration_cap_days + 1)
    add(3, study_type="OBSERVATIONAL", enrollment=CFG.enrollment_cap_observational + 1)
    add(3, enrollment=CFG.enrollment_cap_interventional + 1)
    add(3, enrollment=-1)
    # within every cap: UNKNOWN is uncapped, OBSERVATIONAL has the high cap
    add(2, study_type="UNKNOWN", enrollment=10**9)
    add(2, study_type="OBSERVATIONAL", enrollment=CFG.enrollment_cap_interventional + 1)
    add(11, expanded_access_nctid="NCT99999999", expanded_access_status_for_nctid=None)
    # two duplicated keys among the clean rows
    rows[1]["nct_id"] = rows[0]["nct_id"]
    rows[3]["nct_id"] = rows[2]["nct_id"]
    return rows


@pytest.fixture(scope="module")
def planted(spark, tmp_path_factory):
    """(bronze, silver) read back from parquet, as the pipeline reads them;
    bronze holds one row silver dropped."""
    tmp = tmp_path_factory.mktemp("planted_quality")
    silver_rows = _silver_rows()
    n_bronze = len(silver_rows) + 1
    bronze_rows = [
        (f"NCT{i:08d}", 2, 2 if i < 10 else None) for i in range(n_bronze)
    ]
    frames = {
        "silver": spark.createDataFrame(
            [tuple(r[f.name] for f in SILVER_SCHEMA.fields) for r in silver_rows],
            SILVER_SCHEMA,
        ),
        "bronze": spark.createDataFrame(bronze_rows, BRONZE_SCHEMA),
    }
    for name, df in frames.items():
        df.write.parquet(str(tmp / name))
    return tuple(spark.read.parquet(str(tmp / name)) for name in ("bronze", "silver"))


def test_suite_matches_single_checks_on_planted_violations(planted):
    bronze, silver = planted
    singles = [
        quality.check_unique_key(silver, "nct_id", name="studies_pk"),
        quality.check_no_nulls(
            silver, *quality.IMPUTED_COLUMNS, name="imputed_no_nulls"
        ),
        quality.check_domain(silver, "phase", quality.PHASE_DOMAIN),
        quality.check_domain(silver, "overall_status", quality.OVERALL_STATUS_DOMAIN),
        quality.check_domain(silver, "has_dmc", quality.YES_NO_UNKNOWN),
        quality.check_bounds(
            silver,
            "start_date",
            lo=CFG.min_valid_date,
            hi=CFG.analysis_date,
            name="start_date_window",
        ),
        quality.check_bounds(silver, "target_duration_days", hi=CFG.duration_cap_days),
        quality.count_violations(silver, quality.enrollment_caps(CFG)),
        quality.check_mutually_exclusive(
            bronze, "number_of_arms", "number_of_groups"
        ),
        quality.check_implies_nonnull(
            silver, "expanded_access_nctid", "expanded_access_status_for_nctid"
        ),
        quality.check_row_preservation(bronze, silver, "studies_row_preservation"),
    ]
    assert [(r.name, r.violations) for r in singles] == list(PLANTED.items())
    assert quality.silver_studies_suite(bronze, silver, CFG) == singles


def test_suite_runs_at_most_five_jobs(spark, planted):
    bronze, silver = planted
    with job_window(spark, "quality") as jobs:
        quality.silver_studies_suite(bronze, silver, CFG)
    assert jobs["grouped"] == jobs["seen"]
    assert 0 < len(jobs["grouped"]) <= 5, jobs


def test_suite_on_empty_tables_reports_no_violations(planted):
    bronze, silver = planted
    results = quality.silver_studies_suite(bronze.limit(0), silver.limit(0), CFG)
    assert [r.name for r in results] == list(PLANTED)
    assert all(r.passed for r in results)
