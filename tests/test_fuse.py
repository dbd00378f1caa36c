"""Curation score fusion (operators/fuse.py): midrank closed form with
ties, NULL reweighting, all-NULL rows, single-row degenerate, weight
validation, partition invariance."""

import pytest

from schemasaurus_spark.operators.fuse import fuse_rank_scores, rank_bp


def test_rank_bp_midrank_closed_form(spark):
    df = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 20), (4, 40)], "doc_id long, v long"
    )
    got = {r["doc_id"]: r["v_bp"] for r in rank_bp(df, "v").collect()}
    # min -> 0, max -> 10000, the tie pair shares its midrank
    assert got == {1: 0, 2: 5000, 3: 5000, 4: 10000}


def test_fuse_weighted_and_null_reweighting(spark):
    df = spark.createDataFrame(
        [(1, 10, 100), (2, 20, None), (3, 30, 300), (4, None, None)],
        "doc_id long, a long, b long",
    )
    got = {
        r["doc_id"]: r
        for r in fuse_rank_scores(df, {"a": 3, "b": 1}).collect()
    }
    # a ranks over {10,20,30}: 0 / 5000 / 10000; b over {100,300}: 0 / 10000
    assert (got[1]["a_bp"], got[1]["b_bp"]) == (0, 0)
    assert got[1]["fused_bp"] == 0
    # doc 2: b missing -> fused over a alone
    assert got[2]["a_bp"] == 5000 and got[2]["b_bp"] is None
    assert got[2]["fused_bp"] == 5000
    # doc 3: (3*10000 + 1*10000) DIV 4
    assert got[3]["fused_bp"] == 10000
    # doc 4: no signal at all -> NULL
    assert got[4]["fused_bp"] is None


def test_single_value_scores_midpoint(spark):
    df = spark.createDataFrame([(1, 7)], "doc_id long, a long")
    got = fuse_rank_scores(df, {"a": 1}).collect()[0]
    assert (got["a_bp"], got["fused_bp"]) == (5000, 5000)


def test_weight_validation(spark):
    df = spark.createDataFrame([(1, 7)], "doc_id long, a long")
    with pytest.raises(ValueError):
        fuse_rank_scores(df, {})
    with pytest.raises(ValueError):
        fuse_rank_scores(df, {"a": 0})


def test_id_col_is_not_a_signal(spark):
    """The id column named as a signal is refused up front, not left to
    fail later as an ambiguous reference to the twice-selected column."""
    df = spark.createDataFrame([(1, 7)], "doc_id long, a long")
    with pytest.raises(ValueError, match="id_col 'doc_id'"):
        fuse_rank_scores(df, {"doc_id": 1, "a": 1})


def test_partition_invariance(spark):
    rows = [(i, i % 7, (i * 13) % 5 if i % 4 else None) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, a long, b long")
    a = sorted(
        fuse_rank_scores(df, {"a": 2, "b": 5}).collect(), key=lambda r: r["doc_id"]
    )
    b = sorted(
        fuse_rank_scores(df.repartition(7, "doc_id"), {"a": 2, "b": 5}).collect(),
        key=lambda r: r["doc_id"],
    )
    assert a == b
