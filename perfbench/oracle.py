"""Output checks: DuckDB-oracle comparison for registry queries, and the
ingest invariants derived from the stub transport's rules."""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np
import pandas as pd

# StubTransport (sources/stub.py): ids divisible by 13 or 17 come back
# with a null required field and are rejected by validation; ids
# divisible by 19 answer the detail lookup with 404 and are skipped.
STUB_DROPPED_DIVISORS = (13, 17, 19)


def expected_ids(lo: int, hi: int) -> np.ndarray:
    """Sorted ids in ``(lo, hi]`` that survive listing, enrichment and
    validation, i.e. those divisible by none of 13, 17 and 19."""
    ids = np.arange(lo + 1, hi + 1, dtype=np.int64)
    keep = np.ones(len(ids), dtype=bool)
    for d in STUB_DROPPED_DIVISORS:
        keep &= ids % d != 0
    return ids[keep]


def check_ids(actual: np.ndarray, lo: int, hi: int) -> str | None:
    """None when ``actual`` holds exactly the expected ids, each once."""
    want = expected_ids(lo, hi)
    got = np.sort(np.asarray(actual, dtype=np.int64))
    dups = int(np.count_nonzero(got[1:] == got[:-1])) if len(got) else 0
    if dups:
        return f"{dups} duplicate ids in the merged table"
    if len(got) != len(want) or not np.array_equal(got, want):
        missing = len(np.setdiff1d(want, got))
        extra = len(np.setdiff1d(got, want))
        return f"merged ids differ: {missing} missing, {extra} unexpected"
    return None


def connect(fixture_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(fixture_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _norm_cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "∅"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return f"{int(v)}"
        return f"{v:.9g}"
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def fingerprint(df: pd.DataFrame) -> tuple[int, tuple[str, ...], int]:
    """(row count, sorted column names, order-insensitive value hash):
    the comparison the repo's oracle harness makes."""
    cols = tuple(sorted(df.columns))
    if not len(df):
        return 0, cols, hash(())
    cells = [df[c].astype(object).map(_norm_cell) for c in cols]
    rows = ["|".join(r) for r in zip(*cells)] if cells else [""] * len(df)
    return len(df), cols, hash(tuple(sorted(rows)))


def compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> str | None:
    """None when both frames agree; otherwise what differs."""
    n1, c1, h1 = fingerprint(spark_pdf)
    n2, c2, h2 = fingerprint(oracle_pdf)
    if c1 != c2:
        return f"columns differ: spark={c1} duckdb={c2}"
    if n1 != n2:
        return f"row counts differ: spark={n1} duckdb={n2}"
    if h1 != h2:
        return "value hash differs"
    return None
