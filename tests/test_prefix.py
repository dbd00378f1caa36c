"""Range-bucketed exact prefix sums (operators/prefix.py): value parity
against a driver-side cumsum in both directions, degenerate shapes, and
the plan-shape guarantee the module exists for — NO partition-less
WindowExec even when the ordering column is a continuous double."""

import random

from pyspark.sql import functions as F

from schemasaurus_spark.operators.prefix import exclusive_prefix


def _expected(rows, ascending):
    """Driver-side exclusive prefix: rows = [(v, a, b)] distinct v."""
    srt = sorted(rows, key=lambda r: r[0], reverse=not ascending)
    out = {}
    ca = cb = 0
    for v, a, b in srt:
        out[v] = (ca, cb)
        ca += a
        cb += b
    return out


def _check(spark, rows, ascending, n_buckets, v_type="double"):
    df = spark.createDataFrame(rows, f"v {v_type}, a long, b long")
    got = {
        r["v"]: (r["_cum_a"], r["_cum_b"])
        for r in exclusive_prefix(
            df, "v", ["a", "b"], ascending=ascending, n_buckets=n_buckets
        ).collect()
    }
    assert got == _expected(rows, ascending)


def test_matches_driver_cumsum_both_directions(spark):
    rng = random.Random(7)
    vals = rng.sample(range(100000), 500)
    rows = [(v / 7.0, rng.randint(0, 9), rng.randint(0, 99)) for v in vals]
    for ascending in (True, False):
        for n_buckets in (1, 4, 64):
            _check(spark, rows, ascending, n_buckets)


def test_degenerate_shapes(spark):
    # single row: exclusive prefix is 0
    _check(spark, [(1.0, 5, 7)], True, 64)
    # fewer rows than buckets
    _check(spark, [(float(i), i, 1) for i in range(5)], False, 64)
    # empty input -> empty output with the cum columns present
    df = spark.createDataFrame([], "v double, a long, b long")
    out = exclusive_prefix(df, "v", ["a", "b"])
    assert {"_cum_a", "_cum_b"} <= set(out.columns)
    assert out.count() == 0


def test_non_numeric_order_keys(spark):
    """String keys have no percentile bounds (percentile_approx casts them
    to double and fails), so they run in one bucket; date keys keep their
    bounds.  Both give the exact prefix."""
    import datetime

    strings = [("k%03d" % i, i % 7, i) for i in range(100)]
    day = datetime.date(2024, 1, 1)
    dates = [(day + datetime.timedelta(days=3 * i), i % 5, 1) for i in range(100)]
    for ascending in (True, False):
        _check(spark, strings, ascending, 4, "string")
        _check(spark, dates, ascending, 4, "date")


def test_no_partitionless_window_on_continuous_signal(spark):
    """The round-4 cliff: a continuous double signal used to serialize
    through one task.  The plan must contain Window nodes ONLY with a
    partition spec (3 top-level bracket groups) and no SinglePartition
    exchange feeding a sort."""
    import sys, os
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.plan_lint import _global_window_count
    from schemasaurus_spark.operators.fuse import fuse_rank_scores
    from schemasaurus_spark.operators.evaluate import pr_curve, auc_exact

    rng = random.Random(11)
    df = spark.createDataFrame(
        [
            (str(i), rng.random(), rng.random(), rng.random() > 0.5)
            for i in range(300)
        ],
        "doc_id string, s1 double, s2 double, label boolean",
    ).cache()
    for frame in (
        fuse_rank_scores(df, {"s1": 2, "s2": 1}),
        pr_curve(df, "s1", "label"),
        auc_exact(df, "s1", "label"),
    ):
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert _global_window_count(plan) == 0, plan
    df.unpersist()


def test_plan_lint_names_unused_window_allowance():
    """An allowlisted query whose plan shows no partition-less window is
    flagged by name; queries left out of a filtered run are not."""
    import sys, os
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.plan_lint import _GLOBAL_WINDOW_ALLOW, unused_allowances

    report = {name: {"global_windows": 1} for name in _GLOBAL_WINDOW_ALLOW}
    assert unused_allowances(report, set()) == []
    report["event_user_skew"] = {"global_windows": 0}
    del report["doc_token_topk"]
    assert unused_allowances(report, set()) == ["doc_token_topk", "event_user_skew"]
    assert unused_allowances(report, {"event_session_paths"}) == []


def test_every_window_allowance_is_used(spark):
    """Each _GLOBAL_WINDOW_ALLOW entry's own plan carries at least one
    partition-less window, so the allowlist and the plan-string parser are
    both still live."""
    import sys, os
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry
    from test_operators import SF_DIR
    from tools.plan_lint import _GLOBAL_WINDOW_ALLOW, _global_window_count

    qs = entry.queries()
    for name, allowed in _GLOBAL_WINDOW_ALLOW.items():
        spark.catalog.clearCache()
        plan = qs[name](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        assert 1 <= _global_window_count(plan) <= allowed, (name, plan)
    spark.catalog.clearCache()


def test_fuse_still_exact_on_continuous_doubles(spark):
    """End-to-end: midrank bp on a continuous signal matches the
    closed-form midrank computed driver-side."""
    rng = random.Random(3)
    rows = [(str(i), rng.random()) for i in range(200)]
    from schemasaurus_spark.operators.fuse import rank_bp

    df = spark.createDataFrame(rows, "doc_id string, s double")
    got = {r["doc_id"]: r["s_bp"] for r in rank_bp(df, "s").collect()}
    n = len(rows)
    order = sorted(rows, key=lambda r: r[1])
    for idx, (doc, _v) in enumerate(order):
        # distinct values: n_lt = idx, n_eq = 1
        assert got[doc] == ((2 * idx + 1 - 1) * 5000) // (n - 1)
