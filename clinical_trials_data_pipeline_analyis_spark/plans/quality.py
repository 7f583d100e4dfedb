"""Data-quality assertion suite.

Encodes the reference's de-facto correctness method — its ~1,650 lines of
exploratory QA queries (``aact_silver_layer.sql:567-2215``) — as
executable invariants (SURVEY.md §5 table). Each check returns the number
of violating rows (0 == pass) so the suite can run as a post-write gate
in the pipeline driver and as pytest assertions.

All checks are aggregations, not collect()-loops — they run distributed.
Each row check's violation predicate is written once (a ``RowCheck``):
the ``check_*`` helpers count one check with a filter, and the suite
folds all of them into one aggregate per input table.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, PipelineConfig
from ..jobs import run_concurrently


@dataclass(frozen=True)
class CheckResult:
    name: str
    violations: int

    @property
    def passed(self) -> bool:
        return self.violations == 0


@dataclass(frozen=True)
class RowCheck:
    """A check decided row by row: ``violation`` is true on each row that
    breaks it."""

    name: str
    violation: Column


def count_violations(df: DataFrame, check: RowCheck) -> CheckResult:
    """One check, one job: the rows of ``df`` that break it."""
    return CheckResult(check.name, df.filter(check.violation).count())


def _duplicated() -> Column:
    """True on a ``groupBy(key).count()`` row whose key repeats."""
    return F.col("count") > 1


def check_unique_key(df: DataFrame, *keys: str, name: str = "") -> CheckResult:
    """PK-style uniqueness (replaces ALTER TABLE ADD PRIMARY KEY, S7;
    duplicate-detection QA aact_silver_layer.sql:588-590)."""
    dupes = df.groupBy(*keys).count().filter(_duplicated())
    return CheckResult(name or f"unique({','.join(keys)})", dupes.count())


def no_nulls(*cols: str, name: str = "") -> RowCheck:
    """Null-count audit (aact_silver_layer.sql:583-584,697-700): columns
    declared fully-imputed must have zero NULLs."""
    cond = None
    for col in cols:
        c = F.col(col).isNull()
        cond = c if cond is None else (cond | c)
    return RowCheck(name or f"no_nulls({','.join(cols)})", cond)


def domain(col: str, allowed: list[str]) -> RowCheck:
    """Distribution check after recode (aact_silver_layer.sql:644-646):
    recoded domain must be a subset of the declared category set."""
    return RowCheck(f"domain({col})", ~F.col(col).isin(allowed) | F.col(col).isNull())


def bounds(col: str, lo=None, hi=None, name: str = "") -> RowCheck:
    """Outlier bounds MIN/MAX audit (aact_silver_layer.sql:923-924)."""
    cond = F.lit(False)
    if lo is not None:
        cond = cond | (F.col(col) < lo)
    if hi is not None:
        cond = cond | (F.col(col) > hi)
    return RowCheck(name or f"bounds({col})", cond)


def mutually_exclusive(a: str, b: str) -> RowCheck:
    """Mutual-exclusivity proof (aact_silver_layer.sql:966-984):
    number_of_arms / number_of_groups never both non-null."""
    return RowCheck(f"mutex({a},{b})", F.col(a).isNotNull() & F.col(b).isNotNull())


def implies_nonnull(if_col: str, then_col: str) -> RowCheck:
    """Cross-column logic validation (aact_silver_layer.sql:1385-1391):
    then_col non-null wherever if_col non-null."""
    return RowCheck(
        f"implies({if_col}->{then_col})",
        F.col(if_col).isNotNull() & F.col(then_col).isNull(),
    )


def enrollment_caps(config: PipelineConfig = DEFAULT_CONFIG) -> RowCheck:
    """Enrollment caps apply per study_type (UNKNOWN is uncapped, as in
    the reference: aact_silver_layer.sql:162-167); never negative."""
    enrollment, study_type = F.col("enrollment"), F.col("study_type")
    return RowCheck(
        "enrollment_caps",
        (
            (study_type == "OBSERVATIONAL")
            & (enrollment > config.enrollment_cap_observational)
        )
        | (
            (study_type == "INTERVENTIONAL")
            & (enrollment > config.enrollment_cap_interventional)
        )
        | (enrollment < 0),
    )


def check_no_nulls(df: DataFrame, *cols: str, name: str = "") -> CheckResult:
    return count_violations(df, no_nulls(*cols, name=name))


def check_domain(df: DataFrame, col: str, allowed: list[str]) -> CheckResult:
    return count_violations(df, domain(col, allowed))


def check_bounds(
    df: DataFrame, col: str, lo=None, hi=None, name: str = ""
) -> CheckResult:
    return count_violations(df, bounds(col, lo, hi, name))


def check_mutually_exclusive(df: DataFrame, a: str, b: str) -> CheckResult:
    return count_violations(df, mutually_exclusive(a, b))


def check_implies_nonnull(df: DataFrame, if_col: str, then_col: str) -> CheckResult:
    return count_violations(df, implies_nonnull(if_col, then_col))


def check_row_preservation(src: DataFrame, dst: DataFrame, name: str) -> CheckResult:
    """Row-preservation: 1:1 CTAS keeps the count (SURVEY §5)."""
    return CheckResult(name, abs(src.count() - dst.count()))


PHASE_DOMAIN = ["PHASE 1", "PHASE 2", "PHASE 3", "PHASE 4", "Not Applicable"]
OVERALL_STATUS_DOMAIN = ["Active", "Complete", "Stopped", "Unknown"]
YES_NO_UNKNOWN = ["Yes", "No", "Unknown"]

#: silver.studies columns the silver cleanser imputes, so never NULL
IMPUTED_COLUMNS = (
    "report_status", "start_date_type", "verification_date_type",
    "completion_date_type", "primary_completion_date_type", "study_type",
    "acronym", "baseline_population", "brief_title", "official_title",
    "overall_status", "last_known_status", "phase", "enrollment",
    "enrollment_type", "source", "limitations_and_caveats",
    "number_of_participants_groups", "why_stopped",
    "why_stopped_category", "has_expanded_access", "has_dmc",
    "is_fda_regulated_drug", "is_fda_regulated_device",
    "is_unapproved_device", "is_ppsd", "is_us_export",
    "biospec_retention", "source_class", "delayed_posting",
    "expanded_access_status_for_nctid", "fdaaa801_violation",
    "patient_registry", "target_duration_flag",
)


def silver_studies_suite(
    bronze: DataFrame,
    silver: DataFrame,
    config: PipelineConfig = DEFAULT_CONFIG,
) -> list[CheckResult]:
    """The full invariants table from SURVEY.md §5 for silver.studies.

    Two actions, one aggregate per input table, submitted together:
    silver is grouped by ``nct_id`` (row count + one conditional count
    per check), then summed, which yields the primary-key check, the
    row count and every silver row check; bronze gives its row count
    and the arms/groups mutex.
    """
    # (table, check) in report order
    checks = [
        ("silver", no_nulls(*IMPUTED_COLUMNS, name="imputed_no_nulls")),
        ("silver", domain("phase", PHASE_DOMAIN)),
        ("silver", domain("overall_status", OVERALL_STATUS_DOMAIN)),
        ("silver", domain("has_dmc", YES_NO_UNKNOWN)),
        (
            "silver",
            bounds(
                "start_date",
                lo=config.min_valid_date,
                hi=config.analysis_date,
                name="start_date_window",
            ),
        ),
        ("silver", bounds("target_duration_days", hi=config.duration_cap_days)),
        ("silver", enrollment_caps(config)),
        ("bronze", mutually_exclusive("number_of_arms", "number_of_groups")),
        (
            "silver",
            implies_nonnull(
                "expanded_access_nctid", "expanded_access_status_for_nctid"
            ),
        ),
    ]

    def counted(table: str) -> list[Column]:
        return [
            F.count_if(check.violation).alias(f"c{i}")
            for i, (on, check) in enumerate(checks)
            if on == table
        ]

    per_key = silver.groupBy("nct_id").agg(
        F.count(F.lit(1)).alias("count"), *counted("silver")
    )
    silver_totals = per_key.agg(
        F.count_if(_duplicated()).alias("studies_pk"),
        F.sum("count").alias("silver_rows"),
        *(F.sum(c).alias(c) for c in per_key.columns[2:]),
    )
    bronze_totals = bronze.agg(
        F.count(F.lit(1)).alias("bronze_rows"), *counted("bronze")
    )
    rows = run_concurrently(
        silver.sparkSession,
        {"silver": silver_totals.first, "bronze": bronze_totals.first},
    )
    # sums over an empty silver are NULL: no rows, no violations
    totals = {k: v or 0 for row in rows.values() for k, v in row.asDict().items()}
    return [
        CheckResult("studies_pk", totals["studies_pk"]),
        *(CheckResult(c.name, totals[f"c{i}"]) for i, (_, c) in enumerate(checks)),
        CheckResult(
            "studies_row_preservation",
            abs(totals["bronze_rows"] - totals["silver_rows"]),
        ),
    ]
