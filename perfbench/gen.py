"""Seeded input generator for the benchmark.

Everything the program under test reads is written here, from the workload
seed alone: the same seed gives byte-identical tables. Draws come from
``numpy.random.Generator(PCG64)`` streams keyed by ``(seed, stream, index)``,
so one op's input never depends on how many ops ran before it.

Shapes:

- ``events``: a hashtag stream. Tags are Zipf-skewed over a fixed
  vocabulary (the vocabulary size sets the streaming state rows: windows x
  distinct tags). Each file is one event-time slice; a stated share of its
  events is *late*: stamped ``lateness`` seconds before the slice, so the
  1 s watermark drops some of their window contributions.
- ``documents``: ``doc_id, text`` rows whose space-joined tokens are
  Zipf-skewed, the flagship plan's input.
- each event also carries a Zipf-skewed ``user_id`` and an integer-valued
  double ``value`` (sums stay exact, so the per-user MV reference compares
  by equality); lookups ask for hot users (the head of that distribution)
  and cold ones (its tail, many never seen).
"""

from __future__ import annotations

import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: 2024-01-01T00:00:00Z in epoch milliseconds; streams start here.
T0_MS = 1_704_067_200_000

_STREAMS = {"events": 1, "documents": 2, "lookups": 3}


def rng_for(seed: int, stream: str, index: int = 0) -> np.random.Generator:
    """Independent generator per (seed, stream, index)."""
    return np.random.Generator(np.random.PCG64([seed, _STREAMS[stream], index]))


def zipf_probs(n: int, exponent: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** exponent
    return p / p.sum()


@dataclass(frozen=True)
class EventSpec:
    files: int = 4
    rows_per_file: int = 4000
    vocab: int = 2000
    zipf: float = 1.1
    slice_s: int = 60
    late_share: float = 0.05
    lateness_min_s: int = 60
    lateness_max_s: int = 240
    users: int = 20000
    user_zipf: float = 1.2
    hot_keys: int = 8
    cold_keys: int = 8


@dataclass(frozen=True)
class DocSpec:
    docs: int = 10000
    vocab: int = 4000
    zipf: float = 1.05
    tokens_min: int = 12
    tokens_max: int = 36
    files: int = 4


def describe(spec) -> dict:
    return asdict(spec)


def event_slices(spec: EventSpec, seed: int, index: int) -> list[dict]:
    """The events of one stream, one dict of numpy columns per file.

    Event ids are unique across files; ``ts`` is epoch milliseconds."""
    rng = rng_for(seed, "events", index)
    probs = zipf_probs(spec.vocab, spec.zipf)
    user_probs = zipf_probs(spec.users, spec.user_zipf)
    out = []
    for i in range(spec.files):
        n = spec.rows_per_file
        start = T0_MS + i * spec.slice_s * 1000
        ts = start + rng.integers(0, spec.slice_s * 1000, size=n)
        late = rng.random(n) < spec.late_share
        lateness = rng.integers(
            spec.lateness_min_s * 1000, spec.lateness_max_s * 1000 + 1, size=n
        )
        ts = np.where(late, ts - lateness, ts)
        out.append(
            {
                "event_id": np.arange(i * n, (i + 1) * n, dtype=np.int64),
                "user_id": rng.choice(spec.users, size=n, p=user_probs).astype(np.int64),
                "value": rng.integers(0, 100, size=n).astype(np.float64),
                "tag": rng.choice(spec.vocab, size=n, p=probs),
                "ts": ts.astype(np.int64),
                "late": late,
            }
        )
    return out


def write_event_stream(slices: list[dict], events_dir: str) -> None:
    """Stage ``slices`` as ``<events_dir>/part-NNNNN.parquet``, one file per
    slice, with strictly increasing modification times (the file source
    replays oldest first, so batch i is file i)."""
    os.makedirs(events_dir, exist_ok=True)
    base = 1_700_000_000
    for i, cols in enumerate(slices):
        table = pa.table(
            {
                "event_id": pa.array(cols["event_id"], pa.int64()),
                "user_id": pa.array(cols["user_id"], pa.int64()),
                "value": pa.array(cols["value"], pa.float64()),
                "tag": pa.array([f"#t{t}" for t in cols["tag"]], pa.string()),
                "ts": pa.array(cols["ts"], pa.timestamp("ms", tz="UTC")),
            }
        )
        path = os.path.join(events_dir, f"part-{i:05d}.parquet")
        pq.write_table(table, path)
        os.utime(path, (base + i, base + i))


def documents(spec: DocSpec, seed: int) -> dict:
    rng = rng_for(seed, "documents")
    probs = zipf_probs(spec.vocab, spec.zipf)
    lengths = rng.integers(spec.tokens_min, spec.tokens_max + 1, size=spec.docs)
    tokens = rng.choice(spec.vocab, size=int(lengths.sum()), p=probs)
    texts, pos = [], 0
    for n in lengths:
        texts.append(" ".join(f"w{t}" for t in tokens[pos : pos + n]))
        pos += n
    return {"doc_id": np.arange(spec.docs, dtype=np.int64), "text": texts}


def write_documents(docs: dict, table_dir: str, files: int = 1) -> None:
    """Write ``docs`` as ``files`` parquet parts of the directory
    ``table_dir``, contiguous doc-id ranges per part."""
    os.makedirs(table_dir, exist_ok=True)
    bounds = np.linspace(0, len(docs["doc_id"]), files + 1).astype(int)
    for i in range(files):
        lo, hi = bounds[i], bounds[i + 1]
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(docs["doc_id"][lo:hi], pa.int64()),
                    "text": pa.array(docs["text"][lo:hi], pa.string()),
                }
            ),
            os.path.join(table_dir, f"part-{i:05d}.parquet"),
        )


def lookup_keys(spec: EventSpec, seed: int, index: int) -> tuple[list, list]:
    """Hot keys (drawn from the head of the key distribution) and cold keys
    (drawn from the tail, many never merged)."""
    rng = rng_for(seed, "lookups", index)
    hot = rng.choice(max(spec.hot_keys * 4, 1), size=spec.hot_keys, replace=False)
    cold = rng.choice(
        np.arange(spec.users // 2, spec.users), size=spec.cold_keys, replace=False
    )
    return sorted(int(k) for k in hot), sorted(int(k) for k in cold)
