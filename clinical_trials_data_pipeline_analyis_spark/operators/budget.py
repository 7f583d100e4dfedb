"""Candidate budgets: price a bucketed pair join before building it.

A join of rows that share a bucket (LSH band, IVF cell, shingle, SimHash
half, label block) materializes a row count that follows from the bucket
sizes alone. One narrow aggregate over the (key..., n) table prices the
join, and past its budget the operator refuses with
``CandidateBudgetExceeded`` instead of running it. Masses are summed in
integer arithmetic, so they are exact; an empty table measures 0.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Σ n(n−1)/2: rows of the symmetric ``a < b`` self-join.
PAIRS = "sum(n * (n - 1) div 2)"
#: Σ n_new·(n_all−n_new) + C(n_new, 2): new rows against history plus
#: new pairs, over ``incremental_sizes``.
INCREMENTAL = "sum(n_new * (n_all - n_new) + n_new * (n_new - 1) div 2)"


class CandidateBudgetExceeded(ValueError):
    """A pair join refused before it ran: ``mass`` candidate rows (for a
    per-bucket ceiling, the largest bucket) against ``budget``. ``fix``
    is the prescribed remedy, which ends the message."""

    def __init__(self, message: str, *, mass: int, budget: int, fix: str):
        super().__init__(message)
        self.mass, self.budget, self.fix = mass, budget, fix


def bucket_sizes(table: DataFrame, *keys: str | Column, n: str = "n") -> DataFrame:
    return table.groupBy(*keys).agg(F.count(F.lit(1)).alias(n))


def measure(sizes: DataFrame, *sums: str) -> tuple[int, ...]:
    """Aggregate SQL expressions over a bucket-size table, in one job."""
    return tuple(int(v or 0) for v in sizes.selectExpr(*sums).collect()[0])


def pair_mass(table: DataFrame, *keys: str | Column) -> int:
    return measure(bucket_sizes(table, *keys), PAIRS)[0]


def cross_mass(
    left: DataFrame, right: DataFrame, keys: list[str], right_keys: list[str]
) -> int:
    """Σ n_a·n_b: rows of the equi-join of ``left`` on ``keys`` with
    ``right`` on ``right_keys``."""
    renamed = [F.col(r).alias(k) for k, r in zip(keys, right_keys)]
    sizes = bucket_sizes(left, *keys, n="n_a").join(
        bucket_sizes(right, *renamed, n="n_b"), keys
    )
    return measure(sizes, "sum(n_a * n_b)")[0]


def incremental_sizes(new: DataFrame, all_: DataFrame, *keys: str) -> DataFrame:
    """(keys..., n_new, n_all) over the buckets the new rows occupy."""
    return bucket_sizes(new, *keys, n="n_new").join(
        bucket_sizes(all_, *keys, n="n_all"), list(keys)
    )


def largest(
    sizes: DataFrame, key: str, limit: int, over: int | None = None
) -> list[tuple]:
    """The ``limit`` largest buckets (over ``over``) as (key, n)."""
    if over is not None:
        sizes = sizes.filter(F.col("n") > over)
    top = sizes.orderBy(F.desc("n"), F.asc(key)).limit(limit).collect()
    return [(r[key], r["n"]) for r in top]


def fit_level(hist: list[tuple[int, int]], budget: int) -> tuple[int, int, int]:
    """(mass, level, kept) for a sorted (d, buckets) histogram of
    d(d−1)/2-pair buckets: the total mass, the largest level whose
    cumulative mass fits (1 when none does), and that cumulative mass."""
    masses = [(d, n * d * (d - 1) // 2) for d, n in hist]
    mass, kept, level = sum(c for _, c in masses), 0, 1
    for d, c in masses:
        if kept + c > budget:
            break
        kept, level = kept + c, d
    return mass, level, kept


def enforce(
    mass: int, budget: int | None, refusal: Callable[[], tuple[str, str]]
) -> None:
    """Refuse when ``mass`` exceeds a set ``budget``; ``refusal()``
    gives (problem, fix) and runs only then, so it may collect."""
    if budget is not None and mass > budget:
        problem, fix = refusal()
        raise CandidateBudgetExceeded(
            problem + fix, mass=mass, budget=budget, fix=fix
        )
