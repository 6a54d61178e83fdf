"""Seeded input generators for the benchmark.

The batch workload's queries read two of the engine's parquet tables,
``lineitem`` and ``documents``, with the schemas of FIXTURES.md. They are
generated here from the run's seed, so the benchmark needs nothing outside
its checkout, and the same seed always gives identical tables.

The stream workload's events come from :class:`EventSchedule`: a pure
function of (seed, rate, tick) that says which events are due in each
tick. The generator thread in ``streamwl.py`` only writes what it is told.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Rows at scale 1.0, in the fixtures' proportions. Orders, parts and
# suppliers only set the key ranges of lineitem: the co-purchase graph the
# triangle count builds has ``part`` nodes joined within ``orders``.
BASE_ROWS = {
    "orders": 1_500_000,
    "part": 200_000,
    "supplier": 10_000,
    "lineitem": 6_000_000,
    "documents": 50_000,
}

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = (("en", 0.44), ("zh", 0.15), ("es", 0.14), ("de", 0.14), ("fr", 0.13))

_DAY_US = 86_400_000_000


def make_tables(seed: int, scale: float) -> dict[str, pd.DataFrame]:
    """``lineitem`` and ``documents`` for one seed. Keys are dense
    ``0..n-1``, as in the fixtures of FIXTURES.md."""
    rng = np.random.default_rng(seed)
    n = {k: max(8, int(v * scale)) for k, v in BASE_ROWS.items()}
    nl = n["lineitem"]
    odate = np.datetime64("1995-01-01", "us").astype(np.int64) + (
        rng.integers(0, 6 * 365, n["orders"], dtype=np.int64) * _DAY_US
    )
    lorder = rng.integers(0, n["orders"], nl, dtype=np.int64)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    lineitem = pd.DataFrame(
        {
            "l_orderkey": lorder,
            "l_partkey": rng.integers(0, n["part"], nl, dtype=np.int64),
            "l_suppkey": rng.integers(0, n["supplier"], nl, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * np.round(rng.uniform(900, 2_100, nl), 2), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(("A", "N", "R"), nl),
            "l_linestatus": rng.choice(("F", "O"), nl),
            "l_shipdate": (
                odate[lorder] + rng.integers(1, 122, nl, dtype=np.int64) * _DAY_US
            ).astype("datetime64[us]"),
        }
    )
    return {"lineitem": lineitem, "documents": _documents(rng, n["documents"])}


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Bag-of-words documents over a 31-word vocabulary; one in twenty is
    an earlier document plus a trailing ``dup`` (the near-duplicates the
    dedup operators look for)."""
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and i % 20 == 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    langs, probs = zip(*LANGS)
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(langs, n, p=probs),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )


def write_tables(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    """One single-file parquet table per name, laid out like the fixtures."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False),
            os.path.join(out_dir, f"{name}.parquet"),
        )


# ---------------------------------------------------------------------------
# Stream events
# ---------------------------------------------------------------------------

EVENT_SCHEMA = pa.schema(
    [
        ("ts", pa.timestamp("us")),
        ("user", pa.int64()),
        ("value", pa.int64()),
        ("created_ms", pa.int64()),
    ]
)


TICK_MS = 100  # the generator writes one file per tick
N_USERS = 1_000
ZIPF_S = 1.1
LATE_SHARE = 0.2  # share of events whose event time precedes their creation
MAX_DISORDER_MS = 1_500  # below the stream's watermark delay


@dataclass(frozen=True)
class EventSchedule:
    """The open-loop event schedule of one seed.

    ``rate`` events per second are due at evenly spaced instants, counted
    in milliseconds from the start of the stream. Each event's key follows
    a Zipf law over ``N_USERS`` keys; ``LATE_SHARE`` of the events carry an
    event time earlier than their creation time by up to
    ``MAX_DISORDER_MS``, which stays below the watermark delay, so no event
    may legally be dropped.
    """

    seed: int
    rate: int

    def tick(self, k: int, origin_ms: int) -> pd.DataFrame:
        """Events due in tick ``k`` (the half-open interval
        ``[k*TICK_MS, (k+1)*TICK_MS)`` after ``origin_ms``), with creation
        stamps equal to their due times. Deterministic in (seed, k) for a
        given origin; the origin only shifts every timestamp."""
        per_tick = self.rate * TICK_MS // 1000
        return self.block(per_tick, origin_ms + k * TICK_MS, TICK_MS, k)

    def block(self, n: int, start_ms: int, span_ms: int, stream: int) -> pd.DataFrame:
        """``n`` events due evenly over ``[start_ms, start_ms + span_ms)``,
        drawn from the sub-stream ``stream`` of this seed."""
        rng = np.random.default_rng([self.seed, stream])
        created = start_ms + (np.arange(n, dtype=np.int64) * span_ms) // max(n, 1)
        user = _zipf_keys(rng, n, N_USERS, ZIPF_S)
        value = rng.integers(0, 1_000, n, dtype=np.int64)
        disorder = np.where(
            rng.random(n) < LATE_SHARE,
            rng.integers(0, MAX_DISORDER_MS, n, dtype=np.int64),
            0,
        )
        return pd.DataFrame(
            {
                "ts": ((created - disorder) * 1000).astype("datetime64[us]"),
                "user": user,
                "value": value,
                "created_ms": created,
            }
        )


def _zipf_keys(rng: np.random.Generator, n: int, n_keys: int, s: float) -> np.ndarray:
    """Bounded Zipf: key ``i`` drawn with weight ``1/(i+1)**s``."""
    w = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** s
    cdf = np.cumsum(w / w.sum())
    return np.minimum(np.searchsorted(cdf, rng.random(n)), n_keys - 1).astype(np.int64)


def write_events(df: pd.DataFrame, path: str) -> None:
    """Write one event file atomically: readers never see a partial file."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pq.write_table(pa.Table.from_pandas(df, schema=EVENT_SCHEMA, preserve_index=False), tmp)
    os.replace(tmp, path)
