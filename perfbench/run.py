"""Benchmark entry point for the top-N engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One run:

1. generates the workload's inputs from ``--seed`` (``gen.py``);
2. sets up: launches the JVM, builds the session on ``local[<cpus>]`` and
   runs the workload's warm-up iterations, until the JIT has settled; the
   whole of it is ``setup_s``;
3. runs the closed loop for ``--seconds`` seconds, one client: an
   iteration starts only if, at the pace of the previous one, it ends
   within the window (a workload with long iterations instead sizes one
   iteration to fill the window);
4. checks every output against ``reference.py`` (outside the timed ops);
5. prints every metric by name and unit, then, as the last line, one JSON
   object ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics of ``layers.END_TO_END``.
``--trace 1`` reports the per-layer metrics of ``layers.PER_LAYER``: every
other iteration is traced (job group, Spark counters, spans), so the
traced-over-untraced op time gives the tracing overhead; a contention
canary runs before and after the loop, and a ``local[1]`` pass gives the
parallel speedup. Spans and counters are written once, at the end, to
``.perfbench_out/trace-<workload>-s<seed>.json``.

Everything the run writes lives under ``.perfbench_work/`` (removed at
exit) and ``.perfbench_out/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CANARIES = 3
SPEEDUP_ITERATIONS = 2


def parse_args(argv):
    import layers

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=layers.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def claim_stdout():
    """Keep the real stdout for the report and send fd 1 to stderr, so
    nothing the JVM or Python workers print can follow the result line."""
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    return out


def configure_env(work: Path) -> None:
    """Point every temp and scratch location of Python, the JVM and Spark
    into the run's work directory. Must run before the JVM starts."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    mem = os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    # no hsperfdata files in the system temp dir, from either JVM; the heap
    # starts at its full size, so GC sizing does not drift during a run
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{mem}" '
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={work / 'warehouse'} pyspark-shell"
    )


def canary_ms(spark) -> float:
    """Constant 1-task JVM work; its time moves only with host contention."""
    t0 = time.perf_counter()
    spark.range(0, 2_000_000, 1, 1).selectExpr(
        "sum(pmod(xxhash64(id), 1000003)) as s"
    ).write.format("noop").mode("overwrite").save()
    return 1000 * (time.perf_counter() - t0)


def peak_rss_mb(spark) -> float:
    """Driver JVM high-water RSS plus this process's."""
    jvm_kb = 0
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Run:
    """What one benchmark process shares with its workload."""

    def __init__(self, args, work: Path) -> None:
        from tracer import Tracer

        self.seed = args.seed
        self.seconds = args.seconds
        self.work = str(work)
        self.trace = bool(args.trace)
        self.tracer = Tracer(self.trace)
        self.slots = len(os.sched_getaffinity(0))
        self.spark = None
        self.counters = None

    def start(self, workload, master: str):
        from tracer import SparkCounters

        from twitter_flink_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark", master=master):
            self.spark = get_spark(
                app_name="perfbench", master=master, shuffle_partitions=self.slots
            )
        start_s = time.perf_counter() - t0
        self.counters = SparkCounters(self.spark)
        workload.bind(self.spark)
        return start_s


def measure(args, run: Run, out) -> dict:
    import layers
    import stats
    from workloads import SINGLE_BASE, WARM_BASE, WORKLOADS

    w = WORKLOADS[args.workload](run)
    w.prepare()

    start_s = run.start(w, f"local[{run.slots}]")
    t0 = time.perf_counter()
    with run.tracer.span("setup.warmup"):
        for i in range(w.warmups):
            w.iteration(WARM_BASE + i, record=False)
    warm_s = time.perf_counter() - t0
    setup_s = start_s + warm_s
    w.check(final=False)

    canaries = [canary_ms(run.spark) for _ in range(CANARIES)] if run.trace else []
    w.begin_measure()
    walls = {False: [], True: []}
    k, last = 0, 0.0
    deadline = time.perf_counter() + args.seconds
    while (
        k < w.iterations if w.iterations is not None
        else k == 0 or time.perf_counter() + last <= deadline
    ):
        traced = run.trace and k % 2 == 1
        t0 = time.perf_counter()
        w.iteration(k, record=True, traced=traced)
        last = time.perf_counter() - t0
        walls[traced].append(last)
        k += 1
    if run.trace:
        canaries += [canary_ms(run.spark) for _ in range(CANARIES)]
        w.traced_extras()
    w.check(final=True)
    iterations = k
    if not w.op_ms:
        raise RuntimeError(f"{w.name}: no op completed; see the errors above")

    p, tail_v = stats.tail(w.op_ms)
    e2e = {
        "setup_s": setup_s,
        "op_p50_ms": stats.median(w.op_ms),
        "events_per_s": w.rows / w.rows_wall_s if w.rows_wall_s else float("nan"),
    }
    rss_mb = peak_rss_mb(run.spark)
    issue_rows = w.issue_metrics()

    layer = {}
    if run.trace:
        untraced_p50 = stats.median(w.op_ms)
        n0 = len(w.op_ms)
        run.start(w, "local[1]")
        w.begin_measure()
        for j in range(1 if w.iterations is not None else SPEEDUP_ITERATIONS):
            w.iteration(SINGLE_BASE + j, record=True)
        w.check(final=False)
        single = w.op_ms[n0:]
        del w.op_ms[n0:]
        layer.update(
            {
                "session.start_ms": 1000 * start_s,
                "session.warmup_ms": 1000 * warm_s,
                "op_tail_ms": tail_v if tail_v is not None else max(w.op_ms),
                "driver_peak_rss_mb": rss_mb,
                "host.canary_ms": stats.median(canaries),
                "spark.parallel_speedup": stats.median(single) / untraced_p50,
                "trace.overhead_ratio": stats.median(walls[True]) / stats.median(walls[False])
                if walls[True] and walls[False] else float("nan"),
            }
        )
        spark_med = w.spark_layer()
        for metric, field in layers.SPARK_FIELDS.items():
            layer[metric] = spark_med.get(field, 0)
        layer.update(w.layer)
    stop_jvm(run.spark)
    run.spark = None

    # -- report ----------------------------------------------------------
    def show(name, value, unit, note=""):
        print(f"{name} = {value:.6g} {unit}" + (f"  ({note})" if note else ""), file=out)

    print(f"# workload {w.name} seed {args.seed}: {iterations} iterations in "
          f"{args.seconds:g} s, local[{run.slots}], closed loop, 1 client", file=out)
    print(f"# inputs {json.dumps(w.describe(), sort_keys=True)}", file=out)
    print(f"# op samples ms {[round(v) for v in w.op_ms]}", file=out)
    for name, unit in layers.END_TO_END.items():
        note = f"n={len(w.op_ms)}" if name == "op_p50_ms" else ""
        show(name, e2e[name], unit, note)
    for name, value, unit, note in issue_rows:
        show(name, value, unit, note)
    show("op_tail_ms", tail_v if tail_v is not None else float("nan"), "ms",
         f"p{p} of n={len(w.op_ms)}" if p else f"n={len(w.op_ms)} <= 10: no tail")
    show("driver_peak_rss_mb", rss_mb, "MB", "JVM VmHWM + Python ru_maxrss")
    error_rate = w.failed / max(w.attempted, 1)
    show("error_rate", error_rate, "failed/attempted", f"{w.failed} of {w.attempted}")

    if run.trace:
        print(f"# canary before {[round(c, 1) for c in canaries[:CANARIES]]} ms, "
              f"after {[round(c, 1) for c in canaries[CANARIES:]]} ms", file=out)
        for name, (unit, moves, _) in layers.PER_LAYER.items():
            # 0 where the workload does not call the layer, or where every
            # traced op of it failed (then ``failed`` says so)
            layer.setdefault(name, 0)
            show(name, layer[name], unit, f"moves {moves}")
        path = ROOT / ".perfbench_out" / f"trace-{w.name}-s{args.seed}.json"
        run.tracer.write(
            str(path),
            {"workload": w.name, "seed": args.seed, "layer": layer, "end_to_end": e2e},
        )
        print(f"# trace written to {path.relative_to(ROOT)}", file=out)
        metrics = {n: {"value": layer[n], "unit": u} for n, (u, _, _) in layers.PER_LAYER.items()}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in layers.END_TO_END.items()}
    return {
        "correct": w.failed == 0,
        "attempted": w.attempted,
        "failed": w.failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, str(ROOT))
    try:
        import twitter_flink_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    out = claim_stdout()
    work = ROOT / ".perfbench_work" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work)
    run = Run(args, work)
    try:
        result = measure(args, run, out)
    finally:
        try:
            if run.spark is not None:
                stop_jvm(run.spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                work.parent.rmdir()
            except OSError:  # another run's work dir is still there
                pass
    print(json.dumps(result), file=out)
    out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
