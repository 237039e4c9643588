"""Output checks, run outside every timed region.

Query outputs are compared with their DuckDB oracle SQL from the
engine's registry, over the same generated parquet files: same column
names, same row count, and the same multiset of rows with exact values
(floats compared bit-for-bit, as the registry's oracle-parity rules
promise). The word count is compared with an independent count of the
generated corpus.
"""

from __future__ import annotations

import os
from collections import Counter
from decimal import Decimal

import duckdb
import pandas as pd
import pyarrow.parquet as pq


def duckdb_frame(data_dir: str, sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(data_dir, f)
                con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'")
        return con.sql(sql).df()
    finally:
        con.close()


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.copy()
    for c in out.columns:
        s = out[c]
        if s.dtype == object and s.map(lambda v: isinstance(v, Decimal)).any():
            s = s.astype("float64")
        elif str(s.dtype).startswith(("int", "Int", "uint", "UInt")):
            s = s.astype("int64")
        elif str(s.dtype).startswith("float"):
            s = s.astype("float64")
        out[c] = s
    cols = sorted(out.columns)
    out = out[cols]
    if len(out):
        out = out.sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    return out


def mismatch(actual: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    """Why ``actual`` differs from ``expected`` as a row multiset, or
    None when they match."""
    if sorted(actual.columns) != sorted(expected.columns):
        return f"columns {sorted(actual.columns)} != {sorted(expected.columns)}"
    if len(actual) != len(expected):
        return f"rows {len(actual)} != {len(expected)}"
    a, e = _normalize(actual), _normalize(expected)
    for c in a.columns:
        if a[c].dtype.kind != e[c].dtype.kind and {a[c].dtype.kind, e[c].dtype.kind} - {"O", "U"}:
            return f"column {c} dtype {a[c].dtype} != {e[c].dtype}"
        if not a[c].equals(e[c]):
            bad = (a[c] != e[c]) & ~(a[c].isna() & e[c].isna())
            i = int(bad.to_numpy().nonzero()[0][0])
            return f"column {c} row {i}: {a[c][i]!r} != {e[c][i]!r}"
    return None


def corpus_word_counts(path: str, stop_words=("the",)) -> Counter:
    """Space-split, lower-cased, stop-word-filtered counts, computed
    without the engine."""
    with open(path, encoding="utf-8") as fh:
        words = fh.read().lower().split()
    counts = Counter(words)
    for w in stop_words:
        counts.pop(w, None)
    return counts


def sink_word_counts(sink_dir: str) -> Counter:
    t = pq.read_table(sink_dir).to_pydict()
    return Counter(dict(zip(t["word"], t["count"])))
