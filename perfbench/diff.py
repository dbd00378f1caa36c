"""Compare two sets of benchmark results.

    python3 perfbench/diff.py BASE NEW

BASE and NEW are each a JSONL file written by ``run.py --record`` (one line
per run) or a directory of such files.  For every workload and metric it
prints the median of each side with its quartiles and the ratio NEW/BASE.
A wall-time change inside the base's own quartile spread is reported as
noise; an exact counter (a count, bytes, or a ratio of exact counts) that
grew on any seed both sides ran is flagged even then, since neighbour load
cannot move it.  Exits 1 when a counter grew or an end-to-end metric got
worse than its bound in BENCHMARK.json.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

EXACT_UNITS = ("count", "bytes")
EXACT_RATIOS = ("runstate.read_amplification", "validation_job.invalid_doc_share")


def load(path: str) -> list[dict]:
    files = (
        [os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith((".json", ".jsonl"))]
        if os.path.isdir(path)
        else [path]
    )
    runs = []
    for f in files:
        with open(f) as fh:
            runs.extend(json.loads(line) for line in fh if line.strip())
    return runs


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def by_key(runs: list[dict]) -> dict:
    """{(workload, metric): {seed: value}}, plus each metric's unit."""
    out: dict = {}
    for r in runs:
        for name, m in r["metrics"].items():
            out.setdefault((r["workload"], name), {"unit": m["unit"], "seeds": {}})
            out[(r["workload"], name)]["seeds"][r["seed"]] = m["value"]
    return out


def bounds() -> dict:
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        spec = json.load(f)
    return {m["name"]: m for m in spec.get("end_to_end", [])}


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = (by_key(load(p)) for p in argv)
    spec = bounds()
    bad = 0
    print(f"{'workload':14s} {'metric':34s} {'base q1/med/q3':>32s} {'new q1/med/q3':>32s} {'ratio':>7s}  verdict")
    for key in sorted(set(base) & set(new)):
        workload, name = key
        a, b = base[key]["seeds"], new[key]["seeds"]
        qa, qb = quartiles(list(a.values())), quartiles(list(b.values()))
        ratio = qb[1] / qa[1] if qa[1] else float("inf") if qb[1] else 1.0
        unit = base[key]["unit"]
        verdict = "inside base quartiles" if qa[0] <= qb[1] <= qa[2] else ""
        if unit in EXACT_UNITS or name in EXACT_RATIOS:
            common = sorted(set(a) & set(b))
            grew = [s for s in common if b[s] > a[s]] if common else ([None] if qb[1] > qa[1] else [])
            if grew:
                verdict = "COUNTER GREW" + (f" on seeds {grew}" if common else "")
                bad += 1
        elif name in spec:
            m = spec[name]
            worse = ratio - 1 if m["better"] == "lower" else 1 - ratio
            if worse > m["bound"]:
                verdict = f"WORSE than bound {m['bound']}"
                bad += 1
            elif not verdict:
                verdict = "worse, within bound" if worse > 0 else "better"
        fmt = lambda q: f"{q[0]:.4g}/{q[1]:.4g}/{q[2]:.4g}"  # noqa: E731
        print(f"{workload:14s} {name:34s} {fmt(qa):>32s} {fmt(qb):>32s} {ratio:7.3f}  {verdict}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
