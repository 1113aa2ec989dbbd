"""The session checkpoint policy (``session.materialize``).

With a checkpoint dir on the SparkContext every lineage cut in the
package is a reliable ``checkpoint()`` (survives executor loss on a
cluster); without one it is ``localCheckpoint()``. Each case runs an
operator both ways and asserts the same multiset of rows, and that the
reliable run really wrote checkpoint data: a silent fallback to local
storage would pass the value check but leave no ``rdd-*`` directory.

The guard at the bottom keeps ``materialize`` the only place that picks
a policy.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

import pytest

from tests.conftest import SF_SMALL

PACKAGE = Path(__file__).resolve().parent.parent / "map_reduce_lite_spark"


def _table(spark, name):
    from map_reduce_lite_spark.relational.tables import load_table

    return load_table(spark, SF_SMALL, name)


def _minhash(spark):
    from map_reduce_lite_spark.ops.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_table(spark, "documents"))


def _simhash(spark):
    from map_reduce_lite_spark.ops.dedup import simhash_pairs

    return simhash_pairs(_table(spark, "documents"))


def _embedding_pairs(spark):
    from map_reduce_lite_spark.ops.dedup import embedding_near_dup_pairs
    from map_reduce_lite_spark.ops.similarity import EMB_DIM

    return embedding_near_dup_pairs(
        _table(spark, "embeddings"), method="lsh", dim=EMB_DIM
    ).select("keep_id", "dup_id")


def _leakage_split(spark):
    from map_reduce_lite_spark.ops.curation import leakage_safe_split

    return leakage_safe_split(spark, SF_SMALL)


def _triangles(spark):
    from map_reduce_lite_spark.ops.graph import triangle_parts

    return triangle_parts(spark, SF_SMALL)


def _label_propagation(spark):
    from map_reduce_lite_spark.ops.graph import label_propagation_parts

    return label_propagation_parts(spark, SF_SMALL)


def _kcore(spark):
    from map_reduce_lite_spark.ops.graph import kcore_parts

    return kcore_parts(spark, SF_SMALL)


def _knn_edges(spark):
    from map_reduce_lite_spark.ops.similarity import knn_topk_edges

    return knn_topk_edges(_table(spark, "embeddings"))


def _components(spark):
    from map_reduce_lite_spark.ops.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], "src long, dst long"
    )
    return connected_components(edges)


def _components_barrier(spark):
    """A 40-chain with a barrier every 2 rounds (see BARRIER_STEPS): the
    barrier fires, and under the reliable policy its files go below the
    checkpoint dir."""
    from map_reduce_lite_spark.ops import graph

    edges = spark.createDataFrame([(i, i + 1) for i in range(40)], ["src", "dst"])
    out = graph.connected_components(edges)
    assert {r["node"]: r["component"] for r in out.collect()} == {
        i: 0 for i in range(41)
    }
    assert graph.connected_components.last_rounds >= 3, "barrier must fire"
    return out


def _pagerank_barrier(spark):
    from map_reduce_lite_spark.ops import graph

    raw = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1), (5, 1)]
    return graph.pagerank(spark.createDataFrame(raw, ["src", "dst"]), iterations=12)


def _semdedup(spark):
    from map_reduce_lite_spark.ops.clustering import semdedup_embeddings

    return semdedup_embeddings(spark, SF_SMALL)


def _label_drift(spark):
    from map_reduce_lite_spark.ops.projection import embedding_label_drift

    return embedding_label_drift(spark, SF_SMALL)


def _ccnet(spark):
    from map_reduce_lite_spark.ops.curation import ccnet_buckets

    return ccnet_buckets(spark, SF_SMALL)


def _js_divergence(spark):
    from map_reduce_lite_spark.ops.text import js_divergence_sources

    return js_divergence_sources(spark, SF_SMALL)


def _full_refresh(spark):
    from map_reduce_lite_spark.ops.pipeline import pipeline_full_refresh

    return pipeline_full_refresh(spark, SF_SMALL)


def _nn_descent(spark):
    from map_reduce_lite_spark.ops.similarity import (
        knn_topk_edges,
        nn_descent_from_edges,
    )

    emb = _table(spark, "embeddings")
    return nn_descent_from_edges(emb, knn_topk_edges(emb))


def _rfm(spark):
    from map_reduce_lite_spark.relational.queries3 import rfm_segment_customers

    return rfm_segment_customers(spark, SF_SMALL)


CASES = {
    "minhash_lsh_pairs": _minhash,
    "simhash_pairs": _simhash,
    "embedding_near_dup_pairs": _embedding_pairs,
    "leakage_safe_split": _leakage_split,
    "triangle_parts": _triangles,
    "label_propagation_parts": _label_propagation,
    "kcore_parts": _kcore,
    "knn_topk_edges": _knn_edges,
    "connected_components": _components,
    "connected_components_barrier": _components_barrier,
    "pagerank_barrier": _pagerank_barrier,
    # modules whose lineage cuts were executor-local only before the
    # policy existed
    "semdedup_embeddings": _semdedup,
    "embedding_label_drift": _label_drift,
    "ccnet_buckets": _ccnet,
    "js_divergence_sources": _js_divergence,
    "pipeline_full_refresh": _full_refresh,
    "nn_descent_from_edges": _nn_descent,
    "rfm_segment_customers": _rfm,
}

# ops.graph constants each case overrides so a barrier fires on a tiny graph
BARRIER_STEPS = {
    "connected_components_barrier": {"CC_HARD_BARRIER_EVERY": 2},
    "pagerank_barrier": {"PR_HARD_BARRIER_EVERY": 4},
}


@pytest.fixture
def reliable(spark, tmp_path):
    """Returns a switch that puts the shared session under the reliable
    policy (checkpoint dir ``tmp_path/ck``); teardown restores "unset"
    so the policy cannot leak into later tests."""
    sc = spark.sparkContext
    ckdir = tmp_path / "ck"

    def enable() -> Path:
        sc.setCheckpointDir(str(ckdir))
        return ckdir

    yield enable
    # PySpark has no public way back to "no checkpoint dir"; assign
    # SparkContext.checkpointDir = None through the Scala setter.
    getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(None))


def _multiset(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


@pytest.mark.parametrize("case", list(CASES))
def test_reliable_policy_matches_local(spark, reliable, monkeypatch, case):
    from map_reduce_lite_spark.ops import graph

    for name, value in BARRIER_STEPS.get(case, {}).items():
        monkeypatch.setattr(graph, name, value)
    assert spark.sparkContext.getCheckpointDir() is None
    local = _multiset(CASES[case](spark))
    ckdir = reliable()
    assert _multiset(CASES[case](spark)) == local
    written = [p.name for p in ckdir.rglob("*")]
    assert any(n.startswith("rdd-") for n in written), "no reliable checkpoint"
    assert not any(n.startswith("mrl_") for n in written), "barrier files leaked"


def test_policy_does_not_leak_past_the_fixture(spark):
    """Runs after the cases above: every one of them left the session
    with no checkpoint dir, i.e. back on the local policy."""
    assert spark.sparkContext.getCheckpointDir() is None


def _materialize_calls_outside_helper() -> list[str]:
    """Calls of localCheckpoint / checkpoint / setCheckpointDir in the
    package that are not inside ``session.materialize``."""
    policy_calls = {"localCheckpoint", "checkpoint", "setCheckpointDir"}
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        allowed = set()
        if path == PACKAGE / "session.py":
            for node in tree.body:
                if isinstance(node, ast.FunctionDef) and node.name == "materialize":
                    allowed |= {id(n) for n in ast.walk(node)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in policy_calls
                and id(node) not in allowed
            ):
                rel = path.relative_to(PACKAGE.parent)
                found.append(f"{rel}:{node.lineno} .{node.func.attr}(")
    return found


def test_only_materialize_picks_a_checkpoint_policy():
    assert _materialize_calls_outside_helper() == []
