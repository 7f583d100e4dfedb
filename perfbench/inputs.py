"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``(seed, size)``: the same seed
writes byte-identical files. Two input families:

- AACT extracts (``medallion``): pipe-delimited study/child-table CSVs
  plus the two comma-delimited mapping sheets, generated by the test
  fixture generator ``tests/fixtures.make_bronze_fixtures`` and written
  the way the AACT export lays them out (one header row, empty field for
  NULL).
- TPC-H-shaped tables (``queries``): the star
  schema plus the ``documents`` text corpus and ``embeddings`` vectors,
  one ``<table>.parquet`` file each, with the column types and value
  domains of the engine's sf-scaled test tables (uniform keys, 30-word
  corpus with ~5% " dup"-suffixed near copies and a few exact copies,
  unit-norm 64-d float vectors with planted near-copy groups).
"""

from __future__ import annotations

import csv
import os
import sys
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# --------------------------------------------------------------------- AACT
def aact_rows(n_studies: int, seed: int) -> dict[str, list[dict]]:
    """AACT bronze rows from the repository's fixture generator."""
    sys.path.insert(0, os.path.join(ROOT, "tests"))
    try:
        from fixtures import make_bronze_fixtures
    finally:
        sys.path.pop(0)
    return make_bronze_fixtures(n_studies=n_studies, seed=seed)


def write_aact_extracts(rows: dict[str, list[dict]], out_dir: str) -> dict[str, int]:
    """Write the extracts the pipeline's bronze ingest reads; returns
    the row count per bronze table."""
    from clinical_trials_data_pipeline_analyis_spark.pipeline import (
        EXTRACT_FILES,
        MAPPING_FILES,
    )
    from clinical_trials_data_pipeline_analyis_spark.schemas import BRONZE_SCHEMAS

    os.makedirs(out_dir, exist_ok=True)
    for files, sep in ((EXTRACT_FILES, "|"), (MAPPING_FILES, ",")):
        for table, filename in files.items():
            cols = [f.name for f in BRONZE_SCHEMAS[table].fields]
            with open(os.path.join(out_dir, filename), "w", newline="") as fh:
                w = csv.writer(fh, delimiter=sep, quoting=csv.QUOTE_MINIMAL)
                w.writerow(cols)
                for rec in rows[table]:
                    w.writerow(["" if rec.get(c) is None else rec[c] for c in cols])
    return {t: len(r) for t, r in rows.items()}


# ------------------------------------------------------------------ TPC-H
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["large", "small", "hot", "cold", "blue", "red", "old", "new"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "screw"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
_EMB_DIM = 64


@dataclass(frozen=True)
class TableSizes:
    """Row counts of the generated TPC-H-shaped tables. ``sf`` scales
    the star schema (lineitem = 6,000,000 x sf); the corpus tables are
    sized on their own because the text and vector operators are
    quadratic-guarded and do not follow the relational scale."""

    sf: float
    documents: int
    embeddings: int

    def star(self) -> dict[str, int]:
        return {
            "region": 5,
            "nation": 25,
            "customer": int(150_000 * self.sf),
            "supplier": max(int(10_000 * self.sf), 10),
            "part": int(200_000 * self.sf),
            "orders": int(1_500_000 * self.sf),
            "lineitem": int(6_000_000 * self.sf),
        }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    span = int((hi - lo) / np.timedelta64(1, "D"))
    d = lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _star_tables(rng: np.random.Generator, n: dict[str, int]) -> dict[str, pa.Table]:
    i32, i64 = pa.int32(), pa.int64()
    pick = lambda pool, k: pa.array(np.asarray(pool, dtype=object)[rng.integers(0, len(pool), k)])  # noqa: E731
    nc, ns, npart, no, nl = (
        n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"]
    )
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": pick(_SEGMENTS, nc),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), i64),
            "p_name": pick(names, npart),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
            "p_type": pick(_PART_TYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart), i32),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), i64),
            "o_custkey": pa.array(rng.integers(0, nc, no), i64),
            "o_orderstatus": pick(["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
            "o_orderpriority": pick(_PRIORITIES, no),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
            "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
            "l_returnflag": pick(["A", "N", "R"], nl),
            "l_linestatus": pick(["F", "O"], nl),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
        }
    )
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random 10-100 word documents over a 30-word vocabulary; ~5% are a
    previous original with " dup" appended and ~0.2% exact copies, so
    the dedup operators find near-duplicate pairs and exact clusters."""
    texts: list[str] = []
    originals: list[int] = []
    vocab = np.asarray(_VOCAB, dtype=object)
    for i in range(n):
        r = rng.random()
        if originals and r < 0.05:
            texts.append(texts[originals[rng.integers(0, len(originals))]] + " dup")
        elif originals and r < 0.052:
            texts.append(texts[originals[rng.integers(0, len(originals))]])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
            originals.append(i)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": pa.array(np.asarray(_LANGS, dtype=object)[rng.choice(5, n, p=_LANG_P)]),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit-norm vectors: ids ending in 1 and 2 are near copies (cosine
    ~0.98) of the id ending in 0 before them; every other vector has
    cosine below 0.3 with all the others. So the links a similarity
    threshold between 0.35 and 0.95 finds (one 3-clique per ten ids) are
    the same for every seed, and so are the loop rounds, hence the jobs,
    of the operators that follow them; the seed moves only the points."""
    x = np.empty((n, _EMB_DIM))
    apart: list[int] = []
    for i in range(n):
        if i % 10 in (1, 2):
            v = x[i - i % 10] + rng.standard_normal(_EMB_DIM) * 0.02
        else:
            v = rng.standard_normal(_EMB_DIM)
            while apart and np.max(x[apart] @ v) >= 0.3 * np.linalg.norm(v):
                v = rng.standard_normal(_EMB_DIM)
            apart.append(i)
        x[i] = v / np.linalg.norm(v)
    x = x.astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(x.ravel(), pa.float32()), _EMB_DIM
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def make_tables(sizes: TableSizes, seed: int) -> dict[str, pa.Table]:
    """All tables for ``sizes``; each table draws from its own stream of
    ``seed`` so resizing one table leaves the others unchanged."""
    ss = np.random.SeedSequence(seed).spawn(3)
    out = _star_tables(np.random.default_rng(ss[0]), sizes.star()) if sizes.sf else {}
    out["documents"] = _documents(np.random.default_rng(ss[1]), sizes.documents)
    out["embeddings"] = _embeddings(np.random.default_rng(ss[2]), sizes.embeddings)
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
