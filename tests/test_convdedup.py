"""Conversation-level (turn-set) dedup: hand-checked similarity math,
the df_cap prefix filter + audit, containment mode, and cluster
assignment vs expectation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rust_gd_spark.operators.convdedup import (
    ConvDedupAudit,
    conversation_dup_clusters,
    conversation_dup_pairs,
    conversation_turn_sets,
)


def _tr(spark, rows):
    return spark.createDataFrame(
        [(c, i, t) for c, i, t in rows], "conv_id string, turn_idx int, text string"
    )


@pytest.fixture(scope="module")
def convs(spark):
    # A: 4 turns; B: A re-logged without turn 3 (jac 3/4, cont 1);
    # C: turns 0,2 of A (jac 1/2, cont 1); D: disjoint.
    rows = []
    turns = ["alpha one", "bravo two", "charlie three", "delta four"]
    for i, t in enumerate(turns):
        rows.append(("A", i, t))
    for i, t in enumerate(turns[:3]):
        rows.append(("B", i, t))
    rows += [("C", 0, turns[0]), ("C", 1, turns[2])]
    rows += [("D", 0, "echo five"), ("D", 1, "foxtrot six")]
    return _tr(spark, rows)


def test_turn_sets_normalize_and_dedupe(spark):
    df = _tr(
        spark,
        [("A", 0, "Hello, World!"), ("A", 1, "hello   world"), ("A", 2, "x")],
    )
    got = conversation_turn_sets(df).collect()
    # the two normalized-equal turns collapse to one hash
    assert len(got) == 2


def test_pair_math_jaccard_and_containment(spark, convs):
    rows = {
        (r.conv_l, r.conv_r): r
        for r in conversation_dup_pairs(convs, threshold=0.4).collect()
    }
    assert set(rows) == {("A", "B"), ("A", "C"), ("B", "C")}
    ab = rows[("A", "B")]
    assert (ab.n_common, ab.jaccard, ab.containment) == (3, 0.75, 1.0)
    ac = rows[("A", "C")]
    assert (ac.n_common, ac.jaccard, ac.containment) == (2, 0.5, 1.0)
    bc = rows[("B", "C")]
    # |B∩C|=2 ({alpha, charlie}), |B∪C|=3 → jaccard 2/3
    assert (bc.n_common, bc.jaccard, bc.containment) == (2, 0.666667, 1.0)


def test_containment_measure_and_threshold(spark, convs):
    got = conversation_dup_pairs(
        convs, threshold=0.99, measure="containment"
    ).collect()
    # all three overlapping pairs are full containments; D joins nothing
    assert {(r.conv_l, r.conv_r) for r in got} == {
        ("A", "B"),
        ("A", "C"),
        ("B", "C"),
    }
    none = conversation_dup_pairs(convs, threshold=0.8, measure="jaccard").collect()
    assert {(r.conv_l, r.conv_r) for r in none} == set()


def test_df_cap_drops_hot_turns_with_audit(spark, convs):
    # cap=2: the turn shared by A, B, C (turns[0] and turns[2] have df=3)
    # is dropped; A-B still share "bravo two" (df=2) so survive at low
    # threshold; A-C and B-C lose all common turns.
    pairs, audit = conversation_dup_pairs(
        convs, threshold=0.1, df_cap=2, with_audit=True
    )
    got = {(r.conv_l, r.conv_r) for r in pairs.collect()}
    assert got == {("A", "B")}
    assert isinstance(audit, ConvDedupAudit)
    assert audit.n_capped_hashes == 2
    assert audit.n_convs == 4
    assert audit.n_distinct_turn_hashes == 4  # 6 distinct, 2 capped


def test_clusters_and_singletons(spark, convs):
    cl = conversation_dup_clusters(
        convs, threshold=0.4, small_graph_rows=0
    ).collect()
    by_conv = {r.conv: r.cluster_id for r in cl}
    assert len(by_conv) == 4
    assert by_conv["A"] == by_conv["B"] == by_conv["C"]
    assert by_conv["D"] != by_conv["A"]


def test_validation_errors(spark, convs):
    with pytest.raises(ValueError, match="measure"):
        conversation_dup_pairs(convs, measure="dice")
    with pytest.raises(ValueError, match="threshold"):
        conversation_dup_pairs(convs, threshold=0.0)


# ---------------------------------------------------------------------------
# tool-masked conversation dedup
# ---------------------------------------------------------------------------

from rust_gd_spark.operators.convdedup import (  # noqa: E402
    tool_masked_dup_groups,
    tool_masked_dup_groups_sql,
)

_TM_SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string"


def _tm(spark, rows):
    return spark.createDataFrame(rows, _TM_SCHEMA)


@pytest.fixture(scope="module")
def tool_convs(spark):
    base = [
        ("A", 0, "user", "do the thing", None),
        ("A", 1, "tool", "result ts=100 id=9f3", "search"),
        ("A", 2, "assistant", "done", None),
    ]
    # re-run: tool output differs (new ts/id), everything else identical
    rerun = [
        ("A2", 0, "user", "do the thing", None),
        ("A2", 1, "tool", "result ts=999 id=0xy", "search"),
        ("A2", 2, "assistant", "done", None),
    ]
    # same transcript but a DIFFERENT tool was called -> not a re-run
    othertool = [
        ("A3", 0, "user", "do the thing", None),
        ("A3", 1, "tool", "result ts=100 id=9f3", "browse"),
        ("A3", 2, "assistant", "done", None),
    ]
    # user turn edited -> not a re-run
    edit = [
        ("A4", 0, "user", "do the OTHER thing", None),
        ("A4", 1, "tool", "result ts=100 id=9f3", "search"),
        ("A4", 2, "assistant", "done", None),
    ]
    # A's turns reordered -> not a re-run (mask is order-sensitive)
    reorder = [
        ("A5", 0, "assistant", "done", None),
        ("A5", 1, "tool", "result ts=100 id=9f3", "search"),
        ("A5", 2, "user", "do the thing", None),
    ]
    return _tm(spark, base + rerun + othertool + edit + reorder)


def test_tool_masked_grouping(spark, tool_convs):
    out = {r.conv: r for r in tool_masked_dup_groups(tool_convs).collect()}
    assert len(out) == 5
    # only the tool-output variant groups with the base
    assert out["A"].masked_key == out["A2"].masked_key
    assert out["A"].canonical_conv == out["A2"].canonical_conv == "A"
    assert out["A"].group_size == out["A2"].group_size == 2
    for solo in ("A3", "A4", "A5"):
        assert out[solo].masked_key != out["A"].masked_key, solo
        assert out[solo].group_size == 1
    assert all(r.n_turns == 3 for r in out.values())


def test_tool_masked_out_of_order_input(spark, tool_convs):
    """Fingerprint must be invariant to input ROW order (sorted by
    turn_idx inside the agg), so a shuffled frame groups identically."""
    shuffled = tool_convs.orderBy(F.md5(F.concat_ws("|", "conv_id", "text")))
    a = {r.conv: r.masked_key for r in tool_masked_dup_groups(tool_convs).collect()}
    b = {r.conv: r.masked_key for r in tool_masked_dup_groups(shuffled).collect()}
    assert a == b


def test_tool_masked_sql_twin(spark, tool_convs):
    import duckdb
    import pandas as pd

    pdf = tool_convs.toPandas()
    con = duckdb.connect()
    con.register("t", pdf)
    twin = {
        r[0]: (r[1], r[2], r[3], r[4])
        for r in con.execute(tool_masked_dup_groups_sql("t")).fetchall()
    }
    got = {
        r.conv: (r.n_turns, r.masked_key, r.canonical_conv, r.group_size)
        for r in tool_masked_dup_groups(tool_convs).collect()
    }
    assert got == twin


def test_cluster_path_validates_args(spark):
    """The cluster path bypasses the public pairs wrapper, so validation
    must live in the shared core: invalid threshold/measure raise the
    clean ValueError from every entry point, not an opaque
    AnalysisException (or a silent all-pairs explosion at threshold 0)."""
    from rust_gd_spark.operators.convdedup import conversation_dup_clusters

    tr = spark.sql(
        "select concat('c', id % 4) as conv_id, concat('t', id) as text"
        " from range(12)"
    )
    with pytest.raises(ValueError, match="threshold"):
        conversation_dup_clusters(tr, threshold=0.0).collect()
    with pytest.raises(ValueError, match="measure"):
        conversation_dup_clusters(tr, measure="cosine").collect()


def test_bad_args_raise_before_any_job(spark, convs):
    """Both public entry points validate before their eager turn-set pin:
    a bad threshold or measure submits no Spark job at all."""
    tracker = spark.sparkContext.statusTracker()
    convs.count()
    jobs = set(tracker.getJobIdsForGroup())
    for fn in (conversation_dup_pairs, conversation_dup_clusters):
        with pytest.raises(ValueError, match="threshold"):
            fn(convs, threshold=1.5)
        with pytest.raises(ValueError, match="measure"):
            fn(convs, measure="dice")
    assert set(tracker.getJobIdsForGroup()) == jobs
