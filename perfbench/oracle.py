"""Correctness checks, run once per benchmark run and never timed.

Batch: each query's result is hashed against its DuckDB oracle over the
same generated parquet files. ``value_hash`` and ``normalize`` are copied
from ``tools/drive_contract.py`` (that script runs its whole sweep on
import, so it cannot be imported): columns sorted by name, rows sorted,
timestamps as naive microseconds, integers as int64, objects as str.

Stream: update-mode emissions are folded by max per (window, key), which
is idempotent under the replay that follows a restart, and compared with
a reference group-by over every generated event.
"""

from __future__ import annotations

import hashlib
import os

import pandas as pd


def value_hash(pdf: pd.DataFrame) -> str:
    pdf = pdf[sorted(pdf.columns)]
    h = hashlib.sha256()
    for _, row in pdf.sort_values(by=list(pdf.columns), kind="mergesort").iterrows():
        h.update(repr(tuple(row)).encode())
    return h.hexdigest()[:16]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            col = df[c]
            if getattr(col.dtype, "tz", None) is not None:
                col = col.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = col.astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_object_dtype(df[c]):
            df[c] = df[c].astype(str)
    return df


def same_result(engine: pd.DataFrame, oracle: pd.DataFrame) -> bool:
    a, b = normalize(engine), normalize(oracle)
    return len(a) == len(b) and value_hash(a) == value_hash(b)


class DuckOracle:
    """DuckDB views over one directory of generated ``<table>.parquet``
    files."""

    def __init__(self, data_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for entry in sorted(os.listdir(data_dir)):
            name, ext = os.path.splitext(entry)
            if ext == ".parquet":
                path = os.path.join(data_dir, entry)
                self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")

    def run(self, sql: str) -> pd.DataFrame:
        return self.con.sql(sql).df()

    def close(self) -> None:
        self.con.close()


# ---------------------------------------------------------------------------
# Stream
# ---------------------------------------------------------------------------

PANE_KEYS = ["window_start", "user"]
PANE_VALUES = ["n", "total", "max_created_ms"]


def fold_emissions(emitted: pd.DataFrame) -> pd.DataFrame:
    """Final value of each pane: every aggregate is monotone under update
    mode, so the largest emitted value is the final one, and a batch
    replayed after a restart changes nothing."""
    return (
        emitted.groupby(PANE_KEYS, as_index=False)[PANE_VALUES].max()
        .sort_values(PANE_KEYS, kind="mergesort")
        .reset_index(drop=True)
    )


def reference_panes(events: pd.DataFrame, window_ms: int) -> pd.DataFrame:
    """The panes a correct engine must end with, from the generated events."""
    ts_ms = events["ts"].astype("datetime64[us]").astype("int64") // 1000
    start = (ts_ms // window_ms) * window_ms
    df = pd.DataFrame(
        {"window_start": start, "user": events["user"], "value": events["value"],
         "created_ms": events["created_ms"]}
    )
    return (
        df.groupby(PANE_KEYS, as_index=False)
        .agg(n=("value", "size"), total=("value", "sum"), max_created_ms=("created_ms", "max"))
        .sort_values(PANE_KEYS, kind="mergesort")
        .reset_index(drop=True)
    )


def pane_mismatches(folded: pd.DataFrame, reference: pd.DataFrame) -> int:
    """Panes that are missing, extra or wrong."""
    m = folded.merge(reference, on=PANE_KEYS, how="outer", suffixes=("_e", "_r"), indicator=True)
    bad = m["_merge"] != "both"
    for c in PANE_VALUES:
        bad |= m[f"{c}_e"] != m[f"{c}_r"]
    return int(bad.sum())
