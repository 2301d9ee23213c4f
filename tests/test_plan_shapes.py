"""Physical-plan regression guards: the scale contract of the
flagship operators is a PLAN SHAPE (bounded shuffles, no cartesian
products, broadcasts where promised), not just a result. These tests
pin the shape so a future edit that silently re-introduces an extra
exchange or a nested-loop join fails CI, not the 100 TB run.

Counting rule matches tools/audit_plans.py: shuffles = hash/range
``Exchange`` operators in the *executed* plan (AQE-final), broadcasts
= ``BroadcastExchange``.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F


def _shape(df) -> dict:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "shuffles": len(re.findall(r"Exchange (hash|range)partitioning", plan)),
        "broadcast": len(re.findall(r"BroadcastExchange", plan)),
        "cartesian": "CartesianProduct" in plan,
        "bnlj": "BroadcastNestedLoopJoin" in plan,
    }


def _docs(spark, n=60):
    rows = [
        (i, f"doc {i} shares some tokens alpha beta gamma delta {i % 7}")
        for i in range(n)
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_minhash_bands_plan_is_map_only(spark):
    from embeddinghub_spark.functions.dedup import minhash_candidates

    s = _shape(minhash_candidates(_docs(spark)))
    assert s["shuffles"] == 0 and not s["cartesian"]


def test_dedup_passages_plan_bounded(spark):
    from embeddinghub_spark.functions.dedup import dedup_passages

    s = _shape(dedup_passages(_docs(spark)))
    # winner agg + rebuild agg; ownership join broadcast at this size
    assert s["shuffles"] <= 3 and not s["cartesian"]


def test_exact_dedup_plan_single_shuffle(spark):
    from embeddinghub_spark.functions.dedup import exact_duplicates

    s = _shape(exact_duplicates(_docs(spark)))
    assert s["shuffles"] == 1 and not s["cartesian"]


def test_knn_bruteforce_no_cartesian_and_two_stage(spark):
    from embeddinghub_spark.functions.vector import knn_bruteforce

    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0, 0.5]) for i in range(50)],
        ["vec_id", "embedding"],
    )
    qs = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0])], ["query_id", "query_vec"]
    )
    df = knn_bruteforce(vecs, qs, 5, dim=4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    s = _shape(df)
    # the N×Q pairing is an explicit broadcast of the query side — a
    # BroadcastNestedLoopJoin over the bounded query set, never a
    # CartesianProduct of two large sides
    assert not s["cartesian"]
    # two-stage top-k: the partial (partition, query) window must
    # appear before the final per-query window
    assert plan.count("row_number") >= 2


def test_interval_join_no_cartesian(spark):
    from embeddinghub_spark.operators.batch import interval_join

    points = spark.createDataFrame(
        [(i, i * 10) for i in range(100)], ["pid", "x"]
    )
    ivals = spark.createDataFrame(
        [(j, j * 50, j * 50 + 40) for j in range(10)], ["iid", "lo", "hi"]
    )
    out = interval_join(
        points, ivals, point_col="x", start_col="lo", end_col="hi",
        bucket_width=50,
    )
    s = _shape(out)
    assert not s["cartesian"] and not s["bnlj"]


def test_bucketed_merge_batch_single_exchange(spark):
    """ADVICE r16: _write_bucketed(pre_partitioned=True) silently
    relies on _materialize_bucketed's aggregate PRESERVING the _bkt
    hash partitioning (HashPartitioning(bucket) satisfies
    ClusteredDistribution(bucket, entity)). If a Spark upgrade or AQE
    rule inserts an exchange/coalesce there, the <=1-fileset-per-
    bucket layout silently degrades — pin the fused one-exchange
    shape so that breaks loudly instead."""
    from embeddinghub_spark.sources.tables import _materialize_bucketed

    updates = spark.createDataFrame(
        [(i % 37, float(i), i) for i in range(500)],
        ["entity", "value", "ts"],
    )
    delta_b = _materialize_bucketed(updates, "entity", "value", "ts", 16)
    s = _shape(delta_b)
    assert s["shuffles"] == 1 and not s["cartesian"]


def test_large_k_cell_assignment_is_map_only(spark):
    """r17: past the literal-fold cap the assignment must stay
    map-only (ArrowEvalPython), never the broadcast-join + aggregate
    fallback that is O(N*K*dim) interpreted and quadratic under the
    semantic_dedup K ~ N auto-sizing."""
    from embeddinghub_spark.functions.vector import assign_ivf_cells

    dim, k = 64, 150  # k*dim > 8192 -> past the inline cap
    vecs = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 13) for j in range(dim)])
         for i in range(300)],
        ["vec_id", "embedding"],
    )
    cents = [(c + 1, [float((c * 5 + j) % 11) for j in range(dim)])
             for c in range(k)]
    cent_df = spark.createDataFrame(cents, "cell int, centroid array<double>")
    df = assign_ivf_cells(vecs, cent_df, dim=dim, cells=cents)
    plan = df._jdf.queryExecution().executedPlan().toString()
    s = _shape(df)
    assert s["shuffles"] == 0 and s["broadcast"] == 0 and not s["bnlj"]
    assert "ArrowEvalPython" in plan


def test_knn_ivfpq_cell_join_broadcasts(spark, sf_dir):
    """The registry-shape knn_ivfpq carries no broadcast hint on the
    probe↔corpus cell join: the planner's size estimate must still
    make it one BroadcastHashJoin on cell, so the only hash Exchanges
    are the two-stage top-k's two windows."""
    import __spark_entry__ as entry

    plan = (
        entry.q_knn_ivfpq(spark, sf_dir)._jdf.queryExecution()
        .executedPlan().toString()
    )
    assert len(re.findall(r"BroadcastHashJoin \[cell#\d+\], \[cell#\d+\]", plan)) == 1
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2
