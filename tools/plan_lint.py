"""Physical-plan lint over the full driver contract: build every
``queries()`` plan at a small sf and flag scale antipatterns —

* ``CartesianProduct``            (quadratic joins: never acceptable)
* ``BatchEvalPython``             (row-at-a-time Python in the plan; the
                                   engine's rule is Arrow batches or JVM)
* ``exchanges``                   (shuffle count — not a defect per se,
                                   but the number to justify per query)
* ``bnlj``                        (BroadcastNestedLoopJoin — fine for
                                   broadcast-1-row/array probes, worth
                                   eyeballing when it appears)
* ``global_windows``              (WindowExec with NO partitionBy — a
                                   single-task global sort; only legal
                                   over provably metadata/k-sized frames,
                                   enforced via _GLOBAL_WINDOW_ALLOW)
* ``UNUSED_ALLOWANCE``            (an _GLOBAL_WINDOW_ALLOW entry whose own
                                   plan shows no partition-less window: the
                                   allowance is stale, or the plan-string
                                   format changed under _global_window_count
                                   and the check has gone blind)

The lint inspects ``executedPlan`` BEFORE any action where possible
(iterative operators that materialize during plan construction — CC,
IVF — still run their build jobs; sf0.001 keeps that cheap).

Usage:  python tools/plan_lint.py [sf_dir] [query ...]
Output: per-query lines + one summary JSON line; exit 1 if any query
        is flagged.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from schemasaurus_spark.session import get_spark

# Queries allowed to plan partition-less WindowExec nodes, with the max
# count each may carry.  Every entry must be justified: the frame under
# the window is METADATA- or K-SIZED by construction (top-k tables,
# per-category skew summaries, quantile grids), never corpus-derived.
_GLOBAL_WINDOW_ALLOW: dict = {
    "doc_token_topk": 1,  # k-sized top-k table rank
    "event_user_skew": 2,  # per-user count summary (bounded by user count)
    "event_session_paths": 1,  # k-sized path top-k
    "event_value_ks_drift": 2,  # quantile-grid CDF frames (grid-sized)
}


def _exchange_counts(plan: str) -> tuple[int, int]:
    """(shuffle_exchanges, broadcast_exchanges) by NODE, not substring.

    Substring counting (ADVICE r4, refined in round-5 review) is wrong
    twice over: a ``ReusedExchange [...], Exchange hashpartitioning(...)``
    line embeds its child's description, so it contains "Exchange" twice
    (and a reused broadcast embeds "BroadcastExchange"), and
    ``BroadcastExchange``/``ReusedExchange`` themselves contain the
    substring "Exchange".  Classify per line by the node label instead:
    a line whose label starts with ``Exchange `` is one real shuffle; one
    starting with ``BroadcastExchange`` is one broadcast; ``Reused*`` and
    ``ShuffleQueryStage``/``BroadcastQueryStage`` wrappers are neither."""
    shuffles = broadcasts = 0
    for line in plan.splitlines():
        label = line.lstrip(" +-*:|")
        if label.startswith("Exchange "):
            shuffles += 1
        elif label.startswith("BroadcastExchange"):
            broadcasts += 1
    return shuffles, broadcasts


def _global_window_count(plan: str) -> int:
    """Window nodes whose partition spec is empty: the physical string is
    ``Window [exprs], [part], [order]`` (3 top-level bracket groups) when
    partitioned+ordered, ``Window [exprs], [spec]`` (2 groups) when only
    one spec is present — and that lone spec is an ORDER spec (the
    single-task-sort case this lint exists for) iff it carries the
    canonicalized ASC/DESC direction markers; a partition-only window
    (``partitionBy(k)`` with no orderBy, e.g. per-group totals) also
    prints 2 groups but is hash-distributed and fine."""
    n = 0
    for line in plan.splitlines():
        idx = line.find("Window [")
        if idx < 0:
            continue
        depth = 0
        groups: list = []
        for ch in line[idx:]:
            if ch == "[":
                if depth == 0:
                    groups.append([])
                depth += 1
            if depth > 0:
                groups[-1].append(ch)
            if ch == "]":
                depth -= 1
        if len(groups) == 2:
            last = "".join(groups[-1])
            if " ASC " in last or " DESC " in last:
                n += 1
    return n


def unused_allowances(report: dict, only: set) -> list:
    """_GLOBAL_WINDOW_ALLOW entries linted in this run (all of them when
    ``only`` is empty) whose plan shows no partition-less window."""
    return [
        name
        for name in _GLOBAL_WINDOW_ALLOW
        if (not only or name in only) and report.get(name, {}).get("global_windows", 0) < 1
    ]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark("plan_lint", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    report: dict = {}
    bad: list = []
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        # judge each plan standalone: persisted frames pinned by an
        # EARLIER query substitute InMemoryRelation subtrees into later
        # plans, and the cached subtree's own exchanges then render (and
        # count) inside this query's plan — the metric would depend on
        # registry order (observed: minhash 51 -> 119 after the round-5
        # reorder put it after doc_dup_components)
        spark.catalog.clearCache()
        try:
            plan = (
                fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
            )
        except Exception as ex:
            report[name] = {"error": f"{type(ex).__name__}: {ex}"[:200]}
            bad.append(name)
            print(f"ERROR {name}: {type(ex).__name__}")
            continue
        shuffles, broadcasts = _exchange_counts(plan)
        row = {
            "cartesian": plan.count("CartesianProduct"),
            "row_python": plan.count("BatchEvalPython"),
            "arrow_python": plan.count("ArrowEvalPython")
            + plan.count("MapInPandas")
            + plan.count("FlatMapGroupsInPandas"),
            "exchanges": shuffles,
            "broadcasts": broadcasts,
            "bnlj": plan.count("BroadcastNestedLoopJoin"),
            "global_windows": _global_window_count(plan),
        }
        report[name] = row
        flags = []
        if row["cartesian"]:
            flags.append("CARTESIAN")
            bad.append(name)
        if row["row_python"]:
            flags.append("ROW_PYTHON")
            bad.append(name)
        if row["global_windows"] > _GLOBAL_WINDOW_ALLOW.get(name, 0):
            flags.append("GLOBAL_WINDOW")
            bad.append(name)
        print(
            f"{name:40s} shuffles={row['exchanges']:2d} bcast={row['broadcasts']:2d}"
            f" bnlj={row['bnlj']}"
            + (f" gwin={row['global_windows']}" if row["global_windows"] else "")
            + (f" arrow_py={row['arrow_python']}" if row["arrow_python"] else "")
            + ("  <-- " + ",".join(flags) if flags else "")
        )
    for name in unused_allowances(report, only):
        print(f"UNUSED_ALLOWANCE {name}: no partition-less window in its plan")
        bad.append(name)
    ok = [n for n in report if n not in bad]
    print(
        json.dumps(
            {
                "n_queries": len(report),
                "clean": len(ok),
                "flagged": sorted(set(bad)),
                "max_shuffles": max(
                    (r.get("exchanges", 0), n) for n, r in report.items()
                ),
            }
        )
    )
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
