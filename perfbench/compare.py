"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py SET_A SET_B

Each set is a directory of the per-run files ``run.py`` writes to
``.perfbench/results/`` (``<workload>-seed<n>-trace<0|1>.json``); move or
copy that directory aside after each set. A is the baseline (the parent
commit), B the candidate.

One row per workload and end-to-end metric: each side's median and
quartiles, the pairs (same workload and seed) B wins, and a verdict:

* ``better``: B wins at least nine tenths of the pairs, ties counting for
  neither, and the medians differ by more than A's quartile distance;
* ``worse``: B's median is worse than A's by more than the metric's bound;
* ``unresolved``: A's own quartile distance exceeds the bound, unless every
  run of B reads better than every run of A (then ``better`` if the first
  rule holds);
* ``unchanged``: otherwise.

Bounds and directions come from ``BENCHMARK.json``. For each set and
workload it also prints what one run is too short to give:

* ``op_p50_s``, the median op wall time over the op samples of all
  untraced runs;
* ``op_tail_s``, the op wall time at the highest percentile with at least
  ten samples beyond it, over the op samples of all untraced runs, with
  that percentile and the sample count;
* ``failed_ops_share``, failed ops over ops attempted in all untraced runs;
* the tracing overhead: the median ``trace.pass_s`` of the traced runs
  minus the median ``pass_s`` of the untraced runs.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
from collections import defaultdict

from run import tail

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_set(path: str) -> dict[tuple[str, int], dict[int, dict]]:
    """(workload, seed) -> trace flag -> metric name -> value; the op
    samples and failure counts of a run are kept under ``_walls``,
    ``_failed`` and ``_attempted``."""
    runs: dict[tuple[str, int], dict[int, dict]] = defaultdict(dict)
    for f in sorted(glob.glob(os.path.join(path, "*-seed*-trace[01].json"))):
        with open(f) as fh:
            d = json.load(fh)
        values = {k: v["value"] for k, v in d["metrics"].items()}
        values["_walls"] = [r["wall_s"] for r in d["ops"] if "wall_s" in r]
        values["_failed"] = round(d["failed_ops_share"] * len(d["ops"]))
        values["_attempted"] = len(d["ops"])
        runs[(d["workload"], d["host"]["seed"])][d["trace"]] = values
    return runs


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def verdict(a: list[float], b: list[float], pairs: list[tuple[float, float]],
            bound: float, lower_better: bool) -> tuple[str, int, int]:
    def gain(x, y):  # > 0 when y is better than x
        return (x - y) if lower_better else (y - x)

    wins = sum(1 for x, y in pairs if gain(x, y) > 0)
    losses = sum(1 for x, y in pairs if gain(x, y) < 0)
    qa1, ma, qa3 = quartiles(a)
    _, mb, _ = quartiles(b)
    spread = qa3 - qa1
    all_better = all(gain(x, y) > 0 for x in a for y in b)
    if wins + losses and wins >= 0.9 * len(pairs) and gain(ma, mb) > spread:
        return "better", wins, len(pairs)
    if -gain(ma, mb) > bound * abs(ma):
        return "worse", wins, len(pairs)
    if spread > bound * abs(ma) and not all_better:
        return "unresolved", wins, len(pairs)
    return "unchanged", wins, len(pairs)


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__.split("\n\n")[1], file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    a, b = load_set(argv[0]), load_set(argv[1])
    workloads = sorted({w for w, _ in a} | {w for w, _ in b})
    print(f"{'workload':<14} {'metric':<12} {'A q1/med/q3':>30} {'B q1/med/q3':>30} "
          f"{'B wins':>7} verdict")
    for w in workloads:
        for m in spec["end_to_end"]:
            name = m["name"]

            def values(s):
                return {seed: r[0][name] for (wl, seed), r in s.items()
                        if wl == w and 0 in r and name in r[0]}

            va, vb = values(a), values(b)
            if not va or not vb:
                continue
            pairs = [(va[s], vb[s]) for s in sorted(va.keys() & vb.keys())]
            v, wins, n = verdict(list(va.values()), list(vb.values()), pairs,
                                 m["bound"], m["better"] == "lower")
            fa = "/".join(f"{x:.4g}" for x in quartiles(list(va.values())))
            fb = "/".join(f"{x:.4g}" for x in quartiles(list(vb.values())))
            print(f"{w:<14} {name:<12} {fa:>30} {fb:>30} {wins:>3}/{n:<3} {v}")
    for label, s in (("A", a), ("B", b)):
        for w in workloads:
            untraced = [r[0] for (wl, _), r in s.items() if wl == w and 0 in r]
            walls = [x for r in untraced for x in r["_walls"]]
            if walls:
                print(f"op_p50_s {label} {w}: {statistics.median(walls):.4g} s (median of "
                      f"{len(walls)} op samples in {len(untraced)} runs)")
            t = tail(walls)
            if t:
                print(f"op_tail_s {label} {w}: {t[0]:.4g} s (p{t[1]:.1f} of {len(walls)} "
                      f"op samples in {len(untraced)} runs)")
            attempted = sum(r["_attempted"] for r in untraced)
            if attempted:
                failed = sum(r["_failed"] for r in untraced)
                print(f"failed_ops_share {label} {w}: {failed / attempted:.4f} "
                      f"({failed}/{attempted})")
            plain = [r[0]["pass_s"] for (wl, _), r in s.items() if wl == w and 0 in r]
            traced = [r[1]["trace.pass_s"] for (wl, _), r in s.items() if wl == w and 1 in r]
            if plain and traced:
                over = statistics.median(traced) - statistics.median(plain)
                print(f"tracing overhead {label} {w}: {over:+.3f} s per pass "
                      f"({len(traced)} traced, {len(plain)} untraced runs)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
