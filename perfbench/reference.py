"""Reference computations the benchmark checks the program's outputs
against. They share no code with the program: the stream and MV
references are plain Python over the generated columns, and the flagship
reference is DuckDB running the program's published oracle SQL.
"""

from __future__ import annotations

from collections import defaultdict

import duckdb
import numpy as np

WINDOW_MS = 300_000
SLIDE_MS = 60_000


def kv_leaderboard(ranked: list[tuple[str, int]], prefix: str) -> dict:
    return {f"{prefix}{i + 1}": f"{key}, {cnt}" for i, (key, cnt) in enumerate(ranked)}


def _top(counts: dict, n: int) -> list[tuple[str, int]]:
    return sorted(counts.items(), key=lambda kc: (-kc[1], kc[0]))[:n]


def stream_topn(
    batches: list[tuple[np.ndarray, list[str]]],
    n: int = 10,
    watermark_ms: int = 1000,
    prefix: str = "Top10-",
) -> dict:
    """Top-N feedback over a watermarked 300 s / 60 s sliding-window count,
    applied batch by batch.

    ``batches`` holds, per micro-batch, the event times (epoch ms) and keys.
    Engine semantics (Spark structured streaming, one stateful operator):

    - the watermark in force for batch i is ``max event time of batches
      < i - watermark_ms`` (0 before any data);
    - a window contribution of batch i is dropped as late when the window
      ends at or before the watermark in force for batch i-1;
    - so every counted contribution lands in a window still held in state,
      and a window's count is the number of its counted contributions.

    The feedback loop's snapshot after each batch is the top-N (count desc,
    key asc) of the latest window that ends at or before ``max counted event
    time - watermark_ms``; the KV sink holds that ranking keyed by rank.

    Returns the final snapshot keys, the KV dict, the per-batch snapshots and
    the number of dropped window contributions."""
    counts: dict[int, dict[str, int]] = defaultdict(lambda: defaultdict(int))
    wm_in_force = [0]  # watermark used by batch i, appended after each batch
    max_event = None  # over all input: drives the engine watermark
    max_counted = None  # over counted events: drives the snapshot
    snapshot: list[str] = []
    ranked: list[tuple[str, int]] = []
    snapshots = []
    dropped = 0
    for i, (ts, keys) in enumerate(batches):
        late_wm = wm_in_force[i - 1] if i > 0 else 0
        last_start = (ts // SLIDE_MS) * SLIDE_MS
        counted = np.zeros(len(ts), dtype=bool)
        for k in range(WINDOW_MS // SLIDE_MS):
            starts = last_start - k * SLIDE_MS
            keep = starts + WINDOW_MS > late_wm
            counted |= keep
            dropped += int((~keep).sum())
            for ws, key in zip(starts[keep].tolist(), np.asarray(keys)[keep].tolist()):
                counts[ws][key] += 1
        if len(ts):
            b_max = int(ts.max())
            max_event = b_max if max_event is None else max(max_event, b_max)
        if counted.any():
            c_max = int(ts[counted].max())
            max_counted = c_max if max_counted is None else max(max_counted, c_max)
        if max_counted is not None:
            closed = [
                ws for ws in counts if ws + WINDOW_MS <= max_counted - watermark_ms
            ]
            if closed:
                ranked = _top(counts[max(closed)], n)
                snapshot = [key for key, _ in ranked]
        snapshots.append(list(snapshot))
        wm_in_force.append(
            max(wm_in_force[-1], (max_event - watermark_ms) if max_event is not None else 0)
        )
    return {
        "snapshot": snapshot,
        "kv": kv_leaderboard(ranked, prefix),
        "snapshots": snapshots,
        "dropped_contributions": dropped,
    }


def filter_matches(keys: list[str], snapshot: list[str]) -> int:
    """Events whose key is in the final snapshot (what the filter passes)."""
    wanted = set(snapshot)
    return sum(1 for k in keys if k in wanted)


class RunningAggregate:
    """Running per-key (count, sum) of every batch merged so far: the
    reference for ``IncrementalMV``'s default aggregate."""

    def __init__(self) -> None:
        self.state: dict[int, list] = {}

    def merge(self, keys: np.ndarray, values: np.ndarray) -> None:
        for k, v in zip(keys.tolist(), values.tolist()):
            cur = self.state.get(k)
            if cur is None:
                self.state[k] = [1, v]
            else:
                cur[0] += 1
                cur[1] += v

    def rows(self, keys=None) -> set[tuple[int, int, float]]:
        wanted = self.state.keys() if keys is None else keys
        return {
            (k, self.state[k][0], self.state[k][1]) for k in wanted if k in self.state
        }


def flagship_doc_ids(documents_glob: str, oracle_sql: str) -> list[int]:
    """Sorted doc ids of the flagship result, by DuckDB on the oracle SQL."""
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{documents_glob}')"
        )
        return sorted(r[0] for r in con.execute(oracle_sql).fetchall())
    finally:
        con.close()
