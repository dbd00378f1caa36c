"""Declarative data-quality rule gate: a Deequ-style check suite evaluated
in ONE aggregate pass over the table.

The reference validates individual documents against a compiled schema
(/root/reference/src/compiler.js walk semantics); this operator is the
AGGREGATE-level counterpart a 100 TB validation engine needs next to it:
corpus-level constraints ("null rate of `text` <= 0.1%", "doc_id is
unique", "lang cardinality in [3, 10]") declared as data, not code, and
verified without a per-rule scan.

Scale shape
-----------
* Every metric referenced by the rule suite is computed in a SINGLE
  ``df.agg(...)`` — one map-side-combinable scan regardless of how many
  rules are declared.  Duplicate (metric, column) references across rules
  are deduplicated to one aggregate expression.
* ``approx_distinct`` (HyperLogLog++, rsd configurable) is the 100 TB
  path for cardinality gates; ``distinct_count`` stays available where
  the exactness is the contract.
* The rule table itself is plan-time metadata (a handful of literals);
  the result is built by exploding an in-plan array of per-rule structs
  off the one-row aggregate — no driver-side collect of data, no second
  job.

Empty-input semantics: ratio metrics (``null_rate``, ``distinct_ratio``,
``mean``) are NULL on an empty table and the rule FAILS CLOSED
(``passed = false``) — a gate that cannot measure must not wave data
through.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: comparison per op; Python operators, so one table serves Columns and floats
_COMPARE = {
    "le": operator.le,
    "ge": operator.ge,
    "lt": operator.lt,
    "gt": operator.gt,
    "eq": operator.eq,
    "between": lambda v, lo, hi: (v >= lo) & (v <= hi),  # inclusive
}

#: metrics that do not take a column
_TABLE_METRICS = ("row_count",)

_COLUMN_METRICS = (
    "null_rate",
    "distinct_count",
    "approx_distinct",
    "distinct_ratio",
    "approx_distinct_ratio",
    "min",
    "max",
    "mean",
    "max_length",
    "min_length",
)

#: metrics a mergeable stats snapshot (operators/snapshot.py) can answer
#: without rescanning the corpus; the rest need the scan path
_SNAPSHOT_METRICS = (
    "row_count",
    "null_rate",
    "approx_distinct",
    "approx_distinct_ratio",
    "min",
    "max",
)


@dataclass(frozen=True)
class QualityRule:
    """One declarative check: ``metric(column) op threshold``.

    ``op`` is one of le/ge/lt/gt/eq/between (between is inclusive on both
    ends and requires ``threshold_hi``).
    """

    rule_id: str
    metric: str
    op: str
    threshold: float
    column: str | None = None
    threshold_hi: float | None = None

    def __post_init__(self) -> None:
        if self.op not in _COMPARE:
            raise ValueError(f"rule {self.rule_id!r}: unknown op {self.op!r}")
        if self.op == "between" and self.threshold_hi is None:
            raise ValueError(f"rule {self.rule_id!r}: between needs threshold_hi")
        if self.metric in _TABLE_METRICS:
            if self.column is not None:
                raise ValueError(
                    f"rule {self.rule_id!r}: {self.metric} takes no column"
                )
        elif self.metric in _COLUMN_METRICS or self.metric in _DRIFT_METRICS:
            if self.column is None:
                raise ValueError(f"rule {self.rule_id!r}: {self.metric} needs a column")
        else:
            raise ValueError(f"rule {self.rule_id!r}: unknown metric {self.metric!r}")


def load_rules(spec: list[dict]) -> list[QualityRule]:
    """Build a rule suite from parsed JSON (the --gate file of
    jobs/validate_submit.py): a list of {rule_id, metric, op, threshold,
    [column], [threshold_hi]} dicts.  Validation (unknown metric/op,
    missing fields, stray keys) happens here, BEFORE any Spark work."""
    if not isinstance(spec, list):
        raise ValueError("gate spec must be a JSON list of rule objects")
    allowed = {"rule_id", "metric", "op", "threshold", "column", "threshold_hi"}
    rules = []
    for i, d in enumerate(spec):
        if not isinstance(d, dict):
            raise ValueError(f"gate rule #{i} is not an object: {d!r}")
        stray = set(d) - allowed
        if stray:
            raise ValueError(f"gate rule #{i}: unknown keys {sorted(stray)}")
        missing = {"rule_id", "metric", "op", "threshold"} - set(d)
        if missing:
            raise ValueError(f"gate rule #{i}: missing keys {sorted(missing)}")
        rules.append(QualityRule(**d))
    return rules


def _metric_expr(metric: str, column: str | None, rsd: float) -> Column:
    """Aggregate expression for one (metric, column), cast to double.

    Ratio metrics are spelled as explicit double divisions
    (sum-double / count) so an ANSI-SQL oracle reproduces them bit-exact.
    """
    c = F.col(column) if column is not None else None
    if metric == "row_count":
        return F.count(F.lit(1)).cast("double")
    if metric == "null_rate":
        return F.sum(F.when(c.isNull(), 1).otherwise(0)).cast("double") / F.count(
            F.lit(1)
        )
    if metric == "distinct_count":
        return F.count_distinct(c).cast("double")
    if metric == "approx_distinct":
        return F.approx_count_distinct(c, rsd).cast("double")
    if metric == "distinct_ratio":
        return F.count_distinct(c).cast("double") / F.count(F.lit(1))
    if metric == "approx_distinct_ratio":
        return F.approx_count_distinct(c, rsd).cast("double") / F.count(F.lit(1))
    if metric == "min":
        return F.min(c).cast("double")
    if metric == "max":
        return F.max(c).cast("double")
    if metric == "mean":
        # explicit sum/count (not avg) so the division is the same single
        # IEEE op the oracle performs
        return F.sum(c).cast("double") / F.count(c)
    if metric == "max_length":
        return F.max(F.length(c)).cast("double")
    if metric == "min_length":
        return F.min(F.length(c)).cast("double")
    raise AssertionError(metric)


def _holds(value, rule: QualityRule):
    """``value op threshold`` for a Column or a float.  The caller fails a
    NULL / None value closed."""
    bounds = [float(rule.threshold)]
    if rule.op == "between":
        bounds.append(float(rule.threshold_hi))
    return _COMPARE[rule.op](value, *bounds)


def _passed(value: Column, rule: QualityRule) -> Column:
    # fail closed: NULL metric (empty input / all-NULL column) fails the gate
    return F.coalesce(_holds(value, rule), F.lit(False))


def _check_suite(gate: str, rules: list[QualityRule]) -> None:
    if not rules:
        raise ValueError(f"{gate}: empty rule suite")
    ids = [r.rule_id for r in rules]
    if len(set(ids)) != len(ids):
        raise ValueError(f"{gate}: duplicate rule_ids in {ids}")


def quality_gate(
    df: DataFrame, rules: list[QualityRule], rsd: float = 0.05
) -> DataFrame:
    """Evaluate a declarative rule suite in one aggregate pass.

    Returns one row per rule:
    (rule_id, column, metric, op, threshold, threshold_hi, value, passed)
    with ``value`` the measured metric as double and ``passed`` the gate
    verdict (NULL value fails closed).
    """
    _check_suite("quality_gate", rules)

    drifty = [r.rule_id for r in rules if r.metric in _DRIFT_METRICS]
    if drifty:
        raise ValueError(
            f"quality_gate: rules {drifty} use drift metrics — evaluate "
            "them with drift_gate over a drift_vs_snapshot report"
        )

    # one aggregate expression per DISTINCT (metric, column)
    keys: dict[tuple[str, str | None], str] = {}
    aggs = []
    for r in rules:
        k = (r.metric, r.column)
        if k not in keys:
            alias = f"m{len(keys)}"
            keys[k] = alias
            aggs.append(_metric_expr(r.metric, r.column, rsd).alias(alias))
    one = df.agg(*aggs)

    structs = []
    for r in rules:
        value = F.col(keys[(r.metric, r.column)])
        structs.append(
            F.struct(
                F.lit(r.rule_id).alias("rule_id"),
                F.lit(r.column).cast("string").alias("column"),
                F.lit(r.metric).alias("metric"),
                F.lit(r.op).alias("op"),
                F.lit(float(r.threshold)).alias("threshold"),
                F.lit(
                    None if r.threshold_hi is None else float(r.threshold_hi)
                ).cast("double").alias("threshold_hi"),
                value.alias("value"),
                _passed(value, r).alias("passed"),
            )
        )
    return one.select(F.explode(F.array(*structs)).alias("r")).select("r.*")


def snapshot_gate(spark, snap, rules: list[QualityRule]) -> DataFrame:
    """Evaluate a rule suite against a mergeable stats snapshot
    (operators/snapshot.py) — ZERO corpus scans.

    This is the 100 TB audit path: the resumable runner's per-unit
    snapshots fold into the corpus snapshot (runstate.merged_snapshot)
    with a metadata-sized merge, and the gate then reads ONLY that
    snapshot.  Supported metrics: row_count, null_rate, approx_distinct,
    approx_distinct_ratio (Datasketches HLL estimates — same fail-closed
    NULL semantics), and min/max for numerically-tracked columns.  Exact
    distinct_count / distinct_ratio / mean / length metrics need the scan
    path (``quality_gate``) and are rejected here EXPLICITLY — a gate
    must never silently swap an exact contract for an approximation.

    The snapshot's columns part is metadata-sized (one row per tracked
    column), so the single collect here is O(tracked columns), not data.
    Output schema matches ``quality_gate`` exactly.
    """
    _check_suite("snapshot_gate", rules)
    unsupported = [r.rule_id for r in rules if r.metric not in _SNAPSHOT_METRICS]
    if unsupported:
        raise ValueError(
            f"snapshot_gate: rules {unsupported} use metrics a snapshot "
            f"cannot answer (supported: {list(_SNAPSHOT_METRICS)}); "
            "run them through quality_gate's scan path"
        )

    stats = {
        row["column"]: row.asDict()
        for row in snap.columns.select(
            "column",
            "kind",
            "n",
            "n_null",
            "min_s",
            "max_s",
            F.hll_sketch_estimate(F.col("hll")).alias("distinct_est"),
        ).collect()
    }
    if not stats:
        raise ValueError("snapshot_gate: snapshot tracks no columns")
    n_rows = next(iter(stats.values()))["n"]

    def value_of(r: QualityRule):
        if r.metric == "row_count":
            return float(n_rows)
        s = stats.get(r.column)
        if s is None:
            raise ValueError(
                f"snapshot_gate: rule {r.rule_id!r} needs column "
                f"{r.column!r}, which the snapshot does not track "
                f"(tracked: {sorted(stats)})"
            )
        if r.metric == "null_rate":
            return float(s["n_null"]) / s["n"] if s["n"] else None
        if r.metric == "approx_distinct":
            return float(s["distinct_est"])
        if r.metric == "approx_distinct_ratio":
            return float(s["distinct_est"]) / s["n"] if s["n"] else None
        # min / max: snapshots store the STRING form; only numerically
        # tracked columns round-trip to a double faithfully
        if s["kind"] != "numeric":
            raise ValueError(
                f"snapshot_gate: rule {r.rule_id!r} asks {r.metric} of "
                f"non-numeric snapshot column {r.column!r}"
            )
        raw = s["min_s"] if r.metric == "min" else s["max_s"]
        return None if raw is None else float(raw)

    def passed(v, r: QualityRule) -> bool:
        return v is not None and _holds(v, r)  # fail closed, as in the scan path

    rows = [
        (
            r.rule_id,
            r.column,
            r.metric,
            r.op,
            float(r.threshold),
            None if r.threshold_hi is None else float(r.threshold_hi),
            value_of(r),
            passed(value_of(r), r),
        )
        for r in rules
    ]
    return spark.createDataFrame(
        rows,
        "rule_id string, column string, metric string, op string, "
        "threshold double, threshold_hi double, value double, passed boolean",
    )


#: fields of a drift_vs_snapshot report row a drift rule can threshold,
#: plus two derived deltas
_DRIFT_METRICS = (
    "statistic",
    "psi",
    "p_value",
    "null_rate_delta",          # abs(null_rate_cur - null_rate_base)
    "distinct_ratio_change",    # distinct_cur / distinct_base
)


def drift_gate(report: list[dict], rules: list[QualityRule]) -> list[dict]:
    """Turn a ``snapshot.drift_vs_snapshot`` report into blocking verdicts.

    ``drift_vs_snapshot`` measures (KS/chi-square statistic, PSI, p-value,
    null-rate and distinct deltas per column); this evaluates declarative
    thresholds over those measurements — "block the release if any
    column's PSI > 0.2" — closing the monitor -> gate loop without
    touching data (the report is O(tracked columns)).

    Rules reuse ``QualityRule`` with drift metric names (column required);
    returns quality_gate-shaped dicts (rule_id, column, metric, op,
    threshold, threshold_hi, value, passed).  A rule naming an untracked
    column FAILS CLOSED with value None (a drift gate must not pass
    because monitoring silently stopped covering a column).
    """
    _check_suite("drift_gate", rules)
    bad = [r.rule_id for r in rules if r.metric not in _DRIFT_METRICS]
    if bad:
        raise ValueError(
            f"drift_gate: rules {bad} use non-drift metrics "
            f"(supported: {list(_DRIFT_METRICS)})"
        )
    by_col = {row["column"]: row for row in report}

    out = []
    for r in rules:
        if r.column is None:
            raise ValueError(f"drift_gate: rule {r.rule_id!r} needs a column")
        row = by_col.get(r.column)
        if row is None:
            value = None
        elif r.metric == "null_rate_delta":
            value = abs(row["null_rate_cur"] - row["null_rate_base"])
        elif r.metric == "distinct_ratio_change":
            value = (
                row["distinct_cur"] / row["distinct_base"]
                if row["distinct_base"]
                else None
            )
        else:
            value = float(row[r.metric])
        ok = value is not None and _holds(value, r)  # fail closed
        out.append(
            {
                "rule_id": r.rule_id,
                "column": r.column,
                "metric": r.metric,
                "op": r.op,
                "threshold": float(r.threshold),
                "threshold_hi": None
                if r.threshold_hi is None
                else float(r.threshold_hi),
                "value": value,
                "passed": ok,
            }
        )
    return out
