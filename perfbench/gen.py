"""Seeded input generators. Same seed -> byte-identical inputs.

Every generator draws from its own numpy stream keyed by (seed, purpose),
so changing one input's size never shifts another input's values.
Outputs are pyarrow tables; the workloads write them to parquet under
the run's temp dir, so the engine only ever sees generated files.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

EPOCH = dt.date(2024, 1, 1)
EVENT_TYPES = np.array(["view", "click", "error", "signup"])
EVENT_MIX = (0.55, 0.30, 0.05, 0.10)
# event_id ranges: fresh days count up from 0; restatements live far
# above so ids stay unique across the whole ingest run
RESTATE_ID_BASE = 5_000_000_000
RESTATE_MOD = 20  # a restatement replaces 1/RESTATE_MOD of one day's users

# the curate corpus: shares of planted exact duplicates, near duplicates
# and contaminated documents, and the size of the benchmark (eval) set
DUP_RATE, NEAR_RATE, CONTAM_RATE = 0.05, 0.05, 0.02
N_BENCH = 40

# the vocabulary of the engine's sf* `documents` testdata, so the
# curate corpus has the same shingle statistics as that table
VOCAB = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split()
)
LANGS = np.array(["en", "en", "en", "de", "zh"])

_EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def _rng(seed: int, *purpose: int) -> np.random.Generator:
    return np.random.default_rng([seed, *purpose])


def day(index: int) -> dt.date:
    return EPOCH + dt.timedelta(days=index)


def _events(
    rng: np.random.Generator,
    n: int,
    day_idx: np.ndarray,
    users: np.ndarray,
    first_id: int,
) -> pa.Table:
    micros = rng.integers(0, 86_400 * 10**6, n)
    ts = (
        np.datetime64(EPOCH.isoformat(), "us")
        + day_idx.astype("timedelta64[D]")
        + micros.astype("timedelta64[us]")
    )
    order = np.argsort(ts, kind="stable")
    kinds = rng.choice(len(EVENT_TYPES), n, p=EVENT_MIX)
    value = np.round(rng.uniform(0.0, 500.0, n), 2)
    return pa.Table.from_arrays(
        [
            pa.array(first_id + np.arange(n, dtype=np.int64)),
            pa.array(ts[order], pa.timestamp("us")),
            pa.array(users[order].astype(np.int64)),
            pa.array(EVENT_TYPES[kinds[order]]),
            pa.array(value[order]),
            pa.array([f'{{"k": {int(v) % 100}}}' for v in value[order]]),
        ],
        schema=_EVENTS_SCHEMA,
    )


def day_events(seed: int, index: int, per_day: int, n_postal: int) -> pa.Table:
    """One day's batch for the ingest writer (day ``index``)."""
    rng = _rng(seed, 2, index)
    return _events(
        rng,
        per_day,
        np.full(per_day, index),
        rng.integers(0, n_postal, per_day),
        index * 10_000_000,
    )


def initial_events(seed: int, days: int, per_day: int, n_postal: int) -> pa.Table:
    """Days [0, days) as landed before the ingest run starts."""
    return pa.concat_tables(
        [day_events(seed, d, per_day, n_postal) for d in range(days)]
    )


@dataclass(frozen=True)
class Restatement:
    """Replace every event of day ``day_index`` whose user_id %
    RESTATE_MOD == ``residue`` with ``rows`` (all of which satisfy that
    predicate, as replace_where requires)."""

    day_index: int
    residue: int
    rows: pa.Table

    @property
    def condition_sql(self) -> str:
        return (
            f"CAST(ts AS DATE) = DATE'{day(self.day_index).isoformat()}' "
            f"AND user_id % {RESTATE_MOD} = {self.residue}"
        )

    def matches(self, table: pa.Table) -> np.ndarray:
        """Boolean mask of ``table`` rows inside the replaced band."""
        ts = table.column("ts").to_numpy()
        d = (ts.astype("datetime64[D]") - np.datetime64(EPOCH.isoformat(), "D")).astype(int)
        users = table.column("user_id").to_numpy()
        return (d == self.day_index) & (users % RESTATE_MOD == self.residue)


def restatement(
    seed: int, batch: int, n_days_live: int, per_day: int, n_postal: int
) -> Restatement:
    """Batch ``batch``'s restatement of ~1/RESTATE_MOD of one earlier
    day (chosen among the ``n_days_live`` days already landed)."""
    rng = _rng(seed, 3, batch)
    target = int(rng.integers(0, n_days_live))
    residue = int(rng.integers(0, RESTATE_MOD))
    n = max(1, per_day // RESTATE_MOD)
    users = residue + RESTATE_MOD * rng.integers(0, max(1, n_postal // RESTATE_MOD), n)
    rows = _events(
        rng, n, np.full(n, target), users, RESTATE_ID_BASE + batch * 10_000_000
    )
    return Restatement(target, residue, rows)


@dataclass(frozen=True)
class Corpus:
    docs: pa.Table
    benchmark: pa.Table
    exact_dups: list[int]  # planted byte-identical copies (higher ids)
    near_dups: list[int]  # planted few-word edits of an earlier doc
    contaminated: list[int]  # carry a 12-word span of a benchmark doc


def corpus(seed: int, n_docs: int) -> Corpus:
    """Documents shaped like the sf* `documents` table (doc_id, text,
    lang, source, n_chars) with planted exact duplicates, near
    duplicates and eval-set contamination recorded as ground truth.
    Originals take the low ids, so the min-id keeper of every planted
    duplicate cluster is the original."""
    rng = _rng(seed, 4)
    n_dup = int(n_docs * DUP_RATE)
    n_near = int(n_docs * NEAR_RATE)
    n_orig = n_docs - n_dup - n_near
    texts = [
        " ".join(VOCAB[rng.integers(0, len(VOCAB), int(rng.integers(40, 90)))])
        for _ in range(n_orig)
    ]
    bench = [
        " ".join(VOCAB[rng.integers(0, len(VOCAB), 30)]) for _ in range(N_BENCH)
    ]
    picks = rng.permutation(n_orig)
    n_contam = int(n_docs * CONTAM_RATE)
    contaminated = sorted(int(i) for i in picks[:n_contam])
    for i in contaminated:
        words = texts[i].split()
        span = bench[int(rng.integers(0, N_BENCH))].split()[:12]
        at = int(rng.integers(0, len(words)))
        texts[i] = " ".join(words[:at] + span + words[at:])
    sources = picks[n_contam:]
    for j in range(n_dup):
        texts.append(texts[int(sources[j])])
    for j in range(n_near):
        words = texts[int(sources[n_dup + j])].split()
        for _ in range(2):
            words[int(rng.integers(0, len(words)))] = str(VOCAB[int(rng.integers(0, len(VOCAB)))]) + "x"
        texts.append(" ".join(words))
    ids = np.arange(n_docs, dtype=np.int64)
    docs = pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": LANGS[rng.integers(0, len(LANGS), n_docs)],
            "source": [f"src{int(s)}" for s in rng.integers(0, 8, n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    bench_t = pa.table(
        {"doc_id": np.arange(N_BENCH, dtype=np.int64), "text": bench}
    )
    return Corpus(
        docs=docs,
        benchmark=bench_t,
        exact_dups=list(range(n_orig, n_orig + n_dup)),
        near_dups=list(range(n_orig + n_dup, n_docs)),
        contaminated=contaminated,
    )
