"""The closed-loop, single-client workloads.

Each workload drives the engine only through its public API. One
``iteration`` is the client's unit of work; the next starts when the
previous returns. The inputs of iteration ``k`` are generated from
``(seed, k)`` before its ops are timed, and every output is checked
against ``reference`` outside the timed ops.

Why these two:

- ``topn-feedback``: the paper's pipeline in streaming form, plus the
  per-user materialized view it feeds and a point lookup on that view.
  Each micro-batch, merge and lookup does little work, so their time is
  the driver-orchestration floor: job submission, state-store commit,
  foreachBatch round-trips, the MV's stage/rename/manifest commit and the
  lookup's driver-built key frame.
- ``flagship-batch``: the same pipeline as one batch plan (scan, tokenize,
  sliding-window count, per-window top-N, broadcast semi-join). A few jobs
  and a shuffle, no driver-built frames, no streaming. It is the control
  for changes to the orchestration paths above, and the mechanism
  workload for operator and plan changes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import traceback

import numpy as np

import gen
import reference
import stats
from tracer import CountingKVClient, ProgressListener

from twitter_flink_spark.plans import flagship as fs
from twitter_flink_spark.streaming.pipeline import IncrementalMV, KVStore, TopNFeedback

#: iteration indices from here up are warm-ups, on inputs of ``warm_spec``
WARM_BASE = 1_000_000
#: and from here up full-size again (the local[1] pass of a traced run)
SINGLE_BASE = 2 * WARM_BASE


def is_warmup(k: int) -> bool:
    return WARM_BASE <= k < SINGLE_BASE


class Workload:
    name = ""
    #: warm-up iterations before the measured window (part of setup_s)
    warmups = 2
    #: measured iterations; None runs the closed loop until the window ends
    iterations: int | None = None

    def __init__(self, run) -> None:
        self.run = run
        self.op_ms: list[float] = []  # the end-to-end op samples
        self.rows = 0  # input rows of measured iterations
        self.rows_wall_s = 0.0  # time the ops on those rows took
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = {}
        self._iteration_counters: list[dict] = []

    # -- hooks -------------------------------------------------------------
    def prepare(self) -> None:
        """Generate the inputs shared by every iteration."""

    def bind(self, spark) -> None:
        """Attach per-session state after a session (re)start."""
        self.spark = spark

    def begin_measure(self) -> None:
        """Called between the warm-ups and the measured iterations."""

    def iteration(self, k: int, record: bool, traced: bool = False) -> None:
        raise NotImplementedError

    def check(self, final: bool) -> None:
        """Verify, then forget, the outputs kept by the iterations;
        ``final`` after the measured window, else after a warm-up."""

    def describe(self) -> dict:
        return {}

    def traced_extras(self) -> None:
        """Layer measurements made once per traced run, after the loop."""

    def issue_metrics(self) -> list[tuple[str, float, str, str]]:
        """(name, value, unit, note) rows of the workload's own latencies."""
        return []

    # -- helpers -----------------------------------------------------------
    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        print(f"[perfbench] FAILED {self.name}: {what}", file=sys.stderr)

    def op(self, op_id: str, span: str, fn, traced: bool):
        """Run one timed op. Returns ``(result, t0, t1)`` in epoch seconds,
        or None if it raised (counted as a failed op). When traced, its
        Spark jobs carry the job group ``op_id``."""
        self.attempted += 1
        counters = self.run.counters
        if traced:
            counters.set_group(op_id)
        try:
            with self.run.tracer.span(span, op_id=op_id):
                t0 = time.time()
                out = fn()
                t1 = time.time()
        except Exception:
            traceback.print_exc()
            self.fail(op_id)
            return None
        finally:
            if traced:
                counters.clear_group()
        return out, t0, t1

    def spark_counters(self, groups: list[str], t0: float, t1: float) -> dict:
        self.run.counters.drain()
        return self.run.counters.collect(groups, t0, t1, self.run.slots)

    def record_iteration_counters(self, groups, t0, t1) -> None:
        c = self.spark_counters(groups, t0, t1)
        self._iteration_counters.append(c)
        self.run.tracer.spans.append(
            {"name": "iteration", "op": groups[0], "start": t0, "end": t1,
             "parent": None, "counters": c}
        )

    def spark_layer(self) -> dict:
        """Per-iteration medians of the Spark counters of traced iterations."""
        if not self._iteration_counters:
            return {}
        return {
            k: stats.median([c[k] for c in self._iteration_counters])
            for k in self._iteration_counters[0]
        }


def _tail_row(name: str, values: list[float]) -> tuple:
    p, t = stats.tail(values)
    note = f"p{p} of n={len(values)}" if p else f"n={len(values)} <= 10: no tail"
    return (name, t if t is not None else float("nan"), "ms", note)


# ---------------------------------------------------------------------------


class TopNFeedbackWorkload(Workload):
    """Per iteration, over a fresh seeded stream (one event-time slice per
    file): the leaderboard drain (one micro-batch per file), the filter
    drain, one ``IncrementalMV.merge_batch`` of the stream's events into a
    per-user (count, sum) view, and a lookup of hot users and one of cold
    users. The
    end-to-end op is one leaderboard micro-batch. A run measures one
    iteration (two when traced: one untraced, one traced)."""

    name = "topn-feedback"
    # the per-batch driver code (planning, state commit, job submission)
    # needs many micro-batches before the JIT settles; rows matter little
    warm_spec = gen.EventSpec(files=6, rows_per_file=1000)
    single_spec = gen.EventSpec(files=3)
    warmups = 1
    #: micro-batch time the stream length is sized by: one drain of
    #: seconds / NOMINAL_BATCH_S files fills the window on this engine
    NOMINAL_BATCH_S = 2.0
    N = 10
    PREFIX = "Top10-"
    MV_BUCKETS = 16

    def __init__(self, run) -> None:
        super().__init__(run)
        # One long drain per run, not a loop of short ones: each drain pays a
        # query start and a first batch, and a window holding two or three
        # short drains measured three to nine batches depending on pace.
        self.spec = gen.EventSpec(files=max(3, round(run.seconds / self.NOMINAL_BATCH_S)))
        self.iterations = 2 if run.trace else 1
        self.listener = ProgressListener()
        self._kept: list[dict] = []
        self._lookups: list[tuple] = []
        self.filter_ms: list[float] = []
        self.merge_ms: list[float] = []
        self.lookup_ms: list[float] = []
        self._batches: list[dict] = []
        self._jobs_per_batch: list[float] = []
        self._kv_sets = 0
        self._kv_changed = 0
        self._mv_layer: dict[str, list[float]] = {}

    def describe(self) -> dict:
        return {
            "events": gen.describe(self.spec), "n": self.N, "watermark_s": 1,
            "mv_buckets": self.MV_BUCKETS,
        }

    def bind(self, spark) -> None:
        super().bind(spark)
        spark.streams.addListener(self.listener)
        self.begin_measure()

    def begin_measure(self) -> None:
        """A fresh, empty MV: warm-up merges never leak into the measured
        view."""
        self._root = os.path.join(self.run.work, "mv", f"root-{time.time_ns()}")
        self._mv = IncrementalMV(
            self.spark, key_col="user_id", n_buckets=self.MV_BUCKETS, root=self._root
        )
        self._ref = reference.RunningAggregate()

    # -- MV on-disk layout, read from outside ------------------------------
    def _manifest_buckets(self) -> dict:
        path = os.path.join(self._root, "_manifest.json")
        if not os.path.isfile(path):
            return {}
        with open(path) as fh:
            return json.load(fh)["buckets"]

    def _bucket_files(self, buckets: dict) -> list[str]:
        out = []
        for b, v in buckets.items():
            d = os.path.join(self._root, f"b{b}", f"v{v}")
            out += [os.path.join(d, f) for f in os.listdir(d) if not f.startswith((".", "_"))]
        return out

    def iteration(self, k: int, record: bool, traced: bool = False) -> None:
        if is_warmup(k):
            spec = self.warm_spec
        elif k >= SINGLE_BASE:  # the local[1] pass: batch time, not length
            spec = self.single_spec
        else:
            spec = self.spec
        slices = gen.event_slices(spec, self.run.seed, k)
        sf_dir = os.path.join(self.run.work, "topn", f"s{k}")
        events_dir = os.path.join(sf_dir, "events.parquet")
        gen.write_event_stream(slices, events_dir)
        client = CountingKVClient()
        fb = TopNFeedback(
            self.spark, sf_dir, key_col="tag", n=self.N,
            kv=KVStore(prefix=self.PREFIX, client=client),
            src_path=events_dir,
            checkpoint_dir=os.path.join(sf_dir, "ckpt"),
            max_files_per_trigger=1,
        )
        batch_df = self.spark.read.parquet(events_dir).select("user_id", "value")
        hot, cold = gen.lookup_keys(spec, self.run.seed, k)
        ids = {
            o: f"{self.name}-{k}-{o}"
            for o in ("leaderboard", "filter", "merge", "lookup-hot", "lookup-cold")
        }
        before = self._manifest_buckets() if traced else None

        board = self.op(ids["leaderboard"], "TopNFeedback.run_leaderboard",
                        fb.run_leaderboard, traced)
        filt = self.op(ids["filter"], "TopNFeedback.run_filter", fb.run_filter, traced)
        merge = self.op(ids["merge"], "IncrementalMV.merge_batch",
                        lambda: self._mv.merge_batch(batch_df, k), traced)
        self._ref.merge(np.concatenate([s["user_id"] for s in slices]),
                        np.concatenate([s["value"] for s in slices]))

        def lookup(keys):
            df = self._mv.lookup(keys)
            return df, df.collect()

        looks = [
            self.op(ids[f"lookup-{tag}"], "IncrementalMV.lookup",
                    lambda keys=keys: lookup(keys), traced)
            for tag, keys in (("hot", hot), ("cold", cold))
        ]
        self.run.counters.drain()
        started, progress = self.listener.take()
        if None in (board, filt, merge, *looks):
            shutil.rmtree(sf_dir, ignore_errors=True)
            return
        board_run = started[0] if started else None
        board_batches = [p for p in progress if p["run_id"] == board_run]
        data_batches = [p for p in board_batches if p["input_rows"] > 0]
        if record:
            self.op_ms += [p["batch_ms"] for p in data_batches]
            self.rows += spec.files * spec.rows_per_file
            self.rows_wall_s += sum(r[2] - r[1] for r in (board, filt, merge, *looks))
            self.filter_ms.append(1000 * (filt[2] - filt[1]))
            self.merge_ms.append(1000 * (merge[2] - merge[1]))
            self.lookup_ms += [1000 * (r[2] - r[1]) for r in looks]
        self._kept.append(
            {"k": k, "slices": slices, "snapshot": list(fb.snapshot),
             "kv": dict(client.data), "out": filt[0], "dir": sf_dir}
        )
        for tag, keys, (( _, rows), _, _) in zip(("hot", "cold"), (hot, cold), looks):
            self._lookups.append(
                (ids[f"lookup-{tag}"], {(r["user_id"], r["cnt"], r["val"]) for r in rows},
                 self._ref.rows(keys))
            )
        if traced:
            self.record_iteration_counters(list(ids.values()) + started, board[1], looks[-1][2])
            if board_batches:
                jobs = self.spark.sparkContext.statusTracker().getJobIdsForGroup(board_run)
                self._jobs_per_batch.append(len(jobs) / len(board_batches))
            self._batches += data_batches
            self._kv_sets += client.sets
            self._kv_changed += client.changed
            self._trace_mv(ids, merge, looks, before)

    def _trace_mv(self, ids, merge, looks, before) -> None:
        m = self.spark_counters([ids["merge"]], merge[1], merge[2])
        after = self._manifest_buckets()
        touched = {b: v for b, v in after.items() if before.get(b) != v}
        values = [
            ("mv.merge_jobs", m["jobs"]),
            ("mv.touched_buckets", len(touched)),
            ("mv.bytes_written", sum(os.path.getsize(f) for f in self._bucket_files(touched))),
            ("mv.live_files", len(self._bucket_files(after))),
        ]
        for tag, ((df, _), t0, t1) in zip(("hot", "cold"), looks):
            lk = self.spark_counters([ids[f"lookup-{tag}"]], t0, t1)
            values += [
                ("mv.lookup_jobs", lk["jobs"]),
                ("mv.lookup_python_stages", lk["python_stages"]),
                ("mv.lookup_buckets_read", len({os.path.dirname(f) for f in df.inputFiles()})),
            ]
        for metric, value in values:
            self._mv_layer.setdefault(metric, []).append(value)

    def check(self, final: bool) -> None:
        kept_all, self._kept = self._kept, []
        for kept in kept_all:
            slices = kept["slices"]
            ref = reference.stream_topn(
                [(s["ts"], [f"#t{t}" for t in s["tag"]]) for s in slices],
                n=self.N, prefix=self.PREFIX,
            )
            what = f"{self.name}-{kept['k']}"
            if kept["snapshot"] != ref["snapshot"]:
                self.fail(f"{what}: snapshot {kept['snapshot']} != {ref['snapshot']}")
            if kept["kv"] != ref["kv"]:
                self.fail(f"{what}: KV leaderboard {kept['kv']} != {ref['kv']}")
            keys = [f"#t{t}" for s in slices for t in s["tag"]]
            want = reference.filter_matches(keys, ref["snapshot"])
            try:
                got = kept["out"].count()
            except Exception:
                traceback.print_exc()
                got = None
            if got != want:
                self.fail(f"{what}: filter matched {got} events, expected {want}")
            shutil.rmtree(kept["dir"], ignore_errors=True)
        lookups, self._lookups = self._lookups, []
        for lk_id, got, want in lookups:
            if got != want:
                self.fail(f"{lk_id}: lookup returned {sorted(got)}, expected {sorted(want)}")
        if final:
            got = {(r["user_id"], r["cnt"], r["val"]) for r in self._mv.snapshot().collect()}
            if got != self._ref.rows():
                self.fail(f"final MV snapshot has {len(got)} rows, the running "
                          f"aggregate {len(self._ref.state)} keys")

    def traced_extras(self) -> None:
        b = self._batches
        if not b:
            return

        def med(key, sub=None):
            return stats.median([(p[key][sub] if sub else p[key]) for p in b])

        dropped = sum(p["late_rows_dropped"] for p in b)
        rows_in = sum(p["input_rows"] for p in b)
        self.layer.update(
            {
                "streaming.jobs_per_batch": stats.median(self._jobs_per_batch),
                "streaming.add_batch_ms": med("duration_ms", "addBatch"),
                "streaming.query_planning_ms": med("duration_ms", "queryPlanning"),
                "streaming.wal_commit_ms": med("duration_ms", "walCommit"),
                "streaming.commit_offsets_ms": med("duration_ms", "commitOffsets"),
                "streaming.state_commit_ms": med("state_commit_ms"),
                "streaming.state_update_ms": med("state_update_ms"),
                "streaming.state_rows": med("state_rows"),
                "streaming.state_bytes": med("state_bytes"),
                "streaming.late_rows_dropped": dropped,
                "streaming.useful_row_ratio": 1.0 - dropped / max(rows_in, 1),
                "streaming.filter_ms": stats.median(self.filter_ms),
                "sink.kv_sets_per_batch": self._kv_sets / len(b),
                "sink.kv_changed_ratio": self._kv_changed / max(self._kv_sets, 1),
                "mv.merge_p50_ms": stats.median(self.merge_ms),
                "mv.lookup_p50_ms": stats.median(self.lookup_ms),
            }
        )
        for metric, vals in self._mv_layer.items():
            self.layer[metric] = stats.median(vals)

    def issue_metrics(self):
        n = len(self.op_ms)
        return [
            ("batch_p50_ms", stats.median(self.op_ms), "ms", f"n={n}"),
            _tail_row("batch_tail_ms", self.op_ms),
            ("filter_s", stats.median(self.filter_ms) / 1000, "s",
             f"n={len(self.filter_ms)} drains"),
            ("merge_p50_ms", stats.median(self.merge_ms), "ms", f"n={len(self.merge_ms)}"),
            _tail_row("merge_tail_ms", self.merge_ms),
            ("lookup_p50_ms", stats.median(self.lookup_ms), "ms", f"n={len(self.lookup_ms)}"),
            _tail_row("lookup_tail_ms", self.lookup_ms),
        ]


# ---------------------------------------------------------------------------


class FlagshipWorkload(Workload):
    """``plans.flagship.flagship`` to the noop sink, repeated in one warm
    session over one seeded documents table."""

    name = "flagship-batch"
    spec = gen.DocSpec()
    N = 10

    def __init__(self, run) -> None:
        super().__init__(run)
        self.sf_dir = os.path.join(run.work, "flagship")

    def describe(self) -> dict:
        return {"documents": gen.describe(self.spec), "n": self.N}

    def prepare(self) -> None:
        gen.write_documents(
            gen.documents(self.spec, self.run.seed),
            os.path.join(self.sf_dir, "documents.parquet"),
            files=self.spec.files,
        )

    def iteration(self, k: int, record: bool, traced: bool = False) -> None:
        op_id = f"{self.name}-{k}"
        res = self.op(
            op_id, "plans.flagship.flagship",
            lambda: fs.flagship(self.spark, self.sf_dir, n=self.N)
            .write.format("noop").mode("overwrite").save(),
            traced,
        )
        if res is None:
            return
        _, t0, t1 = res
        if record:
            self.op_ms.append(1000 * (t1 - t0))
            self.rows += self.spec.docs
            self.rows_wall_s += t1 - t0
        if traced:
            self.record_iteration_counters([op_id], t0, t1)

    def check(self, final: bool) -> None:
        """Every iteration ran the same plan on the same table; one checked
        collect of that plan, after the measured window, covers them all."""
        if not final:
            return
        try:
            got = sorted(
                r[0] for r in fs.flagship(self.spark, self.sf_dir, n=self.N)
                .select("doc_id").collect()
            )
        except Exception:
            traceback.print_exc()
            got = None
        want = reference.flagship_doc_ids(
            os.path.join(self.sf_dir, "documents.parquet", "*.parquet"),
            fs.flagship_oracle_sql(self.N),
        )
        if got != want:
            self.fail(
                f"flagship returned {len(got or [])} docs, DuckDB oracle {len(want)}",
                n=self.attempted,
            )

    def traced_extras(self) -> None:
        """Self time of each layer: the wall of its public prefix function
        minus the wall of the next shorter prefix (each to the noop sink),
        median of two passes."""
        chain = [
            ("sources.scan_ms", fs.docs_with_event_time),
            ("functions.tokenize_ms", fs.token_stream),
            ("operators.windows.self_ms", fs.windowed_token_counts),
            ("operators.topn.self_ms", fs.topn_tokens_per_window),
            ("plans.flagship.join_self_ms", fs.flagship),
        ]
        selfs: dict[str, list[float]] = {m: [] for m, _ in chain}
        shuffle: list[float] = []
        for rep in range(2):
            prev = 0.0
            for metric, fn in chain:
                op_id = f"prefix-{fn.__name__}-{rep}"
                res = self.op(
                    op_id, f"plans.flagship.{fn.__name__}",
                    lambda: fn(self.spark, self.sf_dir).write.format("noop")
                    .mode("overwrite").save(),
                    traced=True,
                )
                if res is None:
                    return
                wall = 1000 * (res[2] - res[1])
                selfs[metric].append(wall - prev)
                prev = wall
                if fn is fs.windowed_token_counts:
                    shuffle.append(
                        self.spark_counters([op_id], res[1], res[2])["shuffle_write_bytes"]
                    )
        for metric, vals in selfs.items():
            self.layer[metric] = stats.median(vals)
        self.layer["operators.windows.shuffle_write_bytes"] = stats.median(shuffle)
        rows = fs.topn_tokens_per_window(self.spark, self.sf_dir, n=self.N).count()
        self.layer["operators.topn.rows_out"] = rows
        # flagship broadcasts the (window_start, token) projection of that frame
        self.layer["plans.flagship.broadcast_rows"] = rows

    def issue_metrics(self):
        n = len(self.op_ms)
        return [
            ("query_p50_ms", stats.median(self.op_ms), "ms", f"n={n}, docs={self.spec.docs}"),
            _tail_row("query_tail_ms", self.op_ms),
        ]


WORKLOADS = {w.name: w for w in (TopNFeedbackWorkload, FlagshipWorkload)}
