"""Alternating A/B of the perfbench benchmark: a base revision against the
working tree.

Usage:
  python scripts/perf_ab.py <base-rev> --workload W --pairs N
                            [--seconds 20] [--first-seed 1]

The base revision's committed files are exported with ``git archive`` into
a temporary directory; ``perfbench/run.py`` then runs once per side for
each pair, both sides with the pair's seed, alternating which side goes
first so a drift in host load hits both equally. For every end-to-end
metric in ``BENCHMARK.json`` it prints each side's median and quartiles,
and how many pairs the working tree won (better in the metric's
``better`` direction). ``failed`` is summed per side. Nothing under
``perfbench/`` is modified.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def export_rev(rev: str, dest: Path) -> None:
    """Extract ``rev``'s committed tree into ``dest``."""
    archive = subprocess.run(
        ["git", "-C", str(ROOT), "archive", "--format=tar", rev],
        check=True, capture_output=True,
    ).stdout
    subprocess.run(["tar", "-x", "-C", str(dest)], input=archive, check=True)


def run_once(root: Path, workload: str, seed: int, seconds: float) -> dict:
    """One ``perfbench/run.py`` run from ``root``; its final JSON line."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds)],
        cwd=root, capture_output=True, text=True,
    )
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-2000:])
        raise RuntimeError(f"perfbench run failed in {root} (seed {seed})")
    return json.loads(lines[-1])


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def summarize(end_to_end: list[dict], pairs: list[dict]) -> list[str]:
    lines = [f"failed: base {sum(p['base']['failed'] for p in pairs)}, "
             f"change {sum(p['change']['failed'] for p in pairs)}"]
    for m in end_to_end:
        name, lower = m["name"], m["better"] == "lower"
        base = [p["base"]["metrics"][name]["value"] for p in pairs]
        change = [p["change"]["metrics"][name]["value"] for p in pairs]
        wins = sum((c < b) if lower else (c > b) for b, c in zip(base, change))
        bq, cq = quartiles(base), quartiles(change)
        delta = 100.0 * (cq[1] - bq[1]) / bq[1] if bq[1] else float("nan")
        lines.append(
            f"{name} ({m['unit']}, {m['better']} is better): "
            f"base median {bq[1]:.4g} [q1 {bq[0]:.4g}, q3 {bq[2]:.4g}, "
            f"IQR {bq[2] - bq[0]:.4g}]; change median {cq[1]:.4g} "
            f"[q1 {cq[0]:.4g}, q3 {cq[2]:.4g}]; median delta {delta:+.1f} %; "
            f"change wins {wins}/{len(pairs)}"
        )
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base_rev")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args(argv)

    end_to_end = json.loads((ROOT / "BENCHMARK.json").read_text())["end_to_end"]
    tmp = Path(tempfile.mkdtemp(prefix="perf-ab-"))
    pairs: list[dict] = []
    try:
        export_rev(args.base_rev, tmp)
        sides = {"base": tmp, "change": ROOT}
        for i in range(args.pairs):
            seed = args.first_seed + i
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            pair = {"seed": seed, "first": order[0]}
            for side in order:
                pair[side] = run_once(sides[side], args.workload, seed, args.seconds)
            pairs.append(pair)
            print(f"pair {i + 1}/{args.pairs} seed {seed} ({order[0]} first): "
                  + "; ".join(
                      f"{m['name']} {pair['base']['metrics'][m['name']]['value']:.4g}"
                      f" -> {pair['change']['metrics'][m['name']]['value']:.4g}"
                      for m in end_to_end),
                  flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if pairs:
        print("\n".join(summarize(end_to_end, pairs)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
