"""Pinning: one primitive (``operators.common.pin`` / ``unpin``) and a
source lint that keeps every other module off Spark's own cache and
checkpoint calls."""

from __future__ import annotations

import ast
import pathlib

from pyspark.sql import functions as F

from bigdata_kafka_2_spark.operators.common import pin, unpin

ROOT = pathlib.Path(__file__).resolve().parent.parent
PIN_CALLS = {"cache", "persist", "localCheckpoint", "checkpoint", "unpersist"}


def direct_pin_calls() -> list[str]:
    """``path:line .method(`` for every Spark cache/checkpoint call in
    the engine and the examples outside ``operators/common.py``."""
    allowed = ROOT / "bigdata_kafka_2_spark" / "operators" / "common.py"
    found = []
    for top in ("bigdata_kafka_2_spark", "examples"):
        for path in sorted((ROOT / top).rglob("*.py")):
            if path == allowed:
                continue
            for node in ast.walk(ast.parse(path.read_text(), str(path))):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in PIN_CALLS
                ):
                    rel = path.relative_to(ROOT)
                    found.append(f"{rel}:{node.lineno} .{node.func.attr}(")
    return found


def test_no_direct_pin_calls():
    found = direct_pin_calls()
    assert not found, "pin through operators.common.pin/unpin:\n" + "\n".join(
        found
    )


def _jobs(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def test_pin_is_lazy_and_cuts_lineage(spark):
    sc = spark.sparkContext
    group = "test_pin_is_lazy"
    sc.setJobGroup(group, group)
    try:
        df = spark.range(1000).select((F.col("id") * 3).alias("x"))
        pinned = pin(df)
        assert _jobs(spark, group) == 0
        plan = pinned._jdf.queryExecution().analyzed()
        assert plan.getClass().getSimpleName() == "LogicalRDD"
        assert plan.children().size() == 0
        assert pinned.agg(F.sum("x")).collect()[0][0] == 3 * 999 * 1000 // 2
        assert _jobs(spark, group) > 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    unpin(pinned)


def test_unpin_releases_what_unpersist_does_not(spark):
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    pinned = pin(spark.range(100).select((F.col("id") % 7).alias("k")))
    assert pinned.count() == 100
    held = set(jsc.getPersistentRDDs().keys()) - before
    assert len(held) == 1
    pinned.unpersist(True)
    assert held <= set(jsc.getPersistentRDDs().keys())
    unpin(pinned)
    assert not held & set(jsc.getPersistentRDDs().keys())


def test_unpin_rejects_an_unpinned_frame(spark):
    import pytest

    with pytest.raises(ValueError, match="pin"):
        unpin(spark.range(3))


def test_clustering_coefficients_builds_the_edge_list_once(spark):
    """q172's shape: the co-purchase self-join of lineitem feeds both
    the degree aggregate and the triangle count. Both read one pin of
    the edge list, so the executed plan scans no lineitem at all."""
    from bigdata_kafka_2_spark.io import read_table
    from bigdata_kafka_2_spark.operators.graph import (
        clustering_coefficients,
        cooccurrence_edges,
    )
    from tests.conftest import SF_DIR

    li = read_table(spark, SF_DIR, "lineitem")
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey", min_support=2)
    out = clustering_coefficients(edges)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "lineitem" not in plan
