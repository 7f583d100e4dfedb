"""Output checks, run outside every timed window.

- Registered queries: the Spark result is compared with the query's
  DuckDB oracle SQL (``suite.oracle_queries()``) over the same parquet
  files.
- Medallion: the written ``gold/opportunity_rank`` is compared with the
  DuckDB translation of the reference SQL in ``tests/aact_oracle.py``,
  run over the pipeline's bronze tables.

Comparison is order-insensitive and value-exact: the same column names,
the same multiset of rows, floats bit-equal (the suite's exact-match
discipline).
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import duckdb
import pandas as pd

from inputs import ROOT


_NULL = "\x00NULL"


def _norm(v) -> str:
    if v is None or (isinstance(v, float) and v != v):
        return _NULL
    if hasattr(v, "tolist"):  # numpy arrays and scalars
        v = v.tolist()
    return repr(v)


def _canonical(got: pd.Series, want: pd.Series) -> tuple[pd.Series, pd.Series]:
    """Both sides of one column in one comparable dtype: float64 if
    either side is floating, nanoseconds since the epoch for dates and
    timestamps (a date equals its midnight), nullable Int64 for integers
    and booleans, and a repr string for everything else."""
    is_ = pd.api.types
    if is_.is_float_dtype(got) or is_.is_float_dtype(want):
        return got.astype("float64"), want.astype("float64")
    dated = [
        is_.is_datetime64_any_dtype(s)
        or (s.dtype == object and s.map(lambda v: isinstance(v, (dt.date, dt.datetime))).any())
        for s in (got, want)
    ]
    if any(dated):
        conv = lambda s: pd.to_datetime(s).astype("int64")  # noqa: E731
        return conv(got), conv(want)
    if all(is_.is_integer_dtype(s) or is_.is_bool_dtype(s) for s in (got, want)):
        return got.astype("Int64"), want.astype("Int64")
    return got.map(_norm), want.map(_norm)


def frame_mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal as multisets of rows, else a one-line reason.

    Rows are compared by a 64-bit hash of their canonical values, so the
    check stays fast on results of a few hundred thousand rows."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    cols = sorted(got.columns)
    g, w = {}, {}
    for c in cols:
        g[c], w[c] = _canonical(got[c].reset_index(drop=True), want[c].reset_index(drop=True))
    hg = pd.util.hash_pandas_object(pd.DataFrame(g), index=False).sort_values().to_numpy()
    hw = pd.util.hash_pandas_object(pd.DataFrame(w), index=False).sort_values().to_numpy()
    differ = int((hg != hw).sum())
    return f"{differ} of {len(hg)} sorted row hashes differ" if differ else None


class QueryOracle:
    """DuckDB over the generated tables; one connection per run."""

    def __init__(self, table_dir: str, tables: list[str], tmp_dir: str):
        self._con = duckdb.connect()
        self._con.execute(f"SET temp_directory = '{tmp_dir}'")
        self._con.execute("SET threads = 4")
        for t in tables:
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'"
            )

    def check(self, sql: str, got: pd.DataFrame) -> str | None:
        return frame_mismatch(got, self._con.execute(sql).df())

    def close(self) -> None:
        self._con.close()


def opportunity_rank_mismatch(
    warehouse: str, rows: dict[str, int], got: pd.DataFrame, tmp_dir: str
) -> str | None:
    """Compare gold opportunity_rank with the reference translation run
    over the pipeline's bronze tables, after checking that bronze holds
    every generated row (``rows``: bronze table -> row count)."""
    sys.path.insert(0, os.path.join(ROOT, "tests"))
    try:
        import aact_oracle as oracle
    finally:
        sys.path.pop(0)
    from clinical_trials_data_pipeline_analyis_spark.schemas import BRONZE_SCHEMAS

    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = '{tmp_dir}'")
        con.execute("SET threads = 4")
        for name in BRONZE_SCHEMAS:
            con.execute(
                f"CREATE VIEW bronze_{name} AS SELECT * FROM "
                f"'{warehouse}/bronze/{name}/*.parquet'"
            )
            (n,) = con.execute(f"SELECT count(*) FROM bronze_{name}").fetchone()
            if n != rows[name]:
                return f"bronze_{name}: {n} rows, generated {rows[name]}"
        for sql in (
            oracle.SILVER_STUDIES_SQL,
            oracle.SILVER_SPONSORS_SQL,
            oracle.SILVER_CONDITIONS_SQL,
            oracle.SILVER_INTERVENTIONS_SQL,
            oracle.SILVER_OUTCOMES_SQL,
        ):
            con.execute(sql)
        for stmt in oracle.GOLD_SQL.split(";"):
            if stmt.strip():
                con.execute(stmt)
        return frame_mismatch(got, con.execute("SELECT * FROM opportunity_rank").df())
    finally:
        con.close()
