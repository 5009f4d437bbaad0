"""connected-components unit pins: chain convergence, non-convergence raise,
singleton handling."""

from __future__ import annotations

import pytest

from lab_etl_spark.operators.dedup import connected_components_auto


def _chain(spark, n):
    vertices = spark.range(n).withColumnRenamed("id", "doc_id")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a bigint, b bigint"
    )
    return vertices, edges


def _min_labels(n, edges):
    # union-find reference: every node -> the smallest id in its component
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {(i, find(i)) for i in range(n)}


def test_chain_converges_to_min_label(spark):
    v, e = _chain(spark, 25)
    # enough propagation rounds for diameter 24: no escalation
    out = connected_components_auto(
        v, e, id_col="doc_id", src="a", dst="b", propagation_rounds=40
    )
    rows = {r.doc_id: r.component for r in out.collect()}
    assert rows == {i: 0 for i in range(25)}


def test_nonconvergence_raises_not_silent(spark):
    # diameter > round budget must be a loud error, never wrong labels:
    # one propagation round leaves the chain unconverged, and one star
    # round on its contraction cannot confirm a fixpoint.
    v, e = _chain(spark, 25)
    with pytest.raises(RuntimeError, match="star did not converge"):
        connected_components_auto(
            v, e, id_col="doc_id", src="a", dst="b",
            propagation_rounds=1, max_iter=1,
        )


def test_star_matches_propagation_on_chain(spark):
    from lab_etl_spark.operators.dedup import connected_components_star

    v, e = _chain(spark, 25)
    # diameter 24, but star rounds are O(log n): 8 rounds must suffice
    out = connected_components_star(
        v, e, id_col="doc_id", src="a", dst="b", max_iter=8
    )
    rows = {r.doc_id: r.component for r in out.collect()}
    assert rows == {i: 0 for i in range(25)}


def test_star_matches_propagation_on_random_graph(spark):
    import random

    from lab_etl_spark.operators.dedup import connected_components_star

    rng = random.Random(42)
    n = 60
    edges = sorted(
        {
            tuple(sorted(rng.sample(range(n), 2)))
            for _ in range(45)
        }
    )
    v = spark.range(n).withColumnRenamed("id", "doc_id")
    e = spark.createDataFrame(edges, "a bigint, b bigint")
    a = connected_components_auto(
        v, e, id_col="doc_id", src="a", dst="b", propagation_rounds=60
    )
    b = connected_components_star(v, e, id_col="doc_id", src="a", dst="b")
    ra = {(r.doc_id, r.component) for r in a.collect()}
    rb = {(r.doc_id, r.component) for r in b.collect()}
    assert ra == rb == _min_labels(n, edges)


def test_star_empty_edges_all_singletons(spark):
    from lab_etl_spark.operators.dedup import connected_components_star

    v = spark.range(5).withColumnRenamed("id", "doc_id")
    e = spark.createDataFrame([], "a bigint, b bigint")
    out = connected_components_star(v, e, id_col="doc_id", src="a", dst="b")
    assert {r.doc_id: r.component for r in out.collect()} == {
        i: i for i in range(5)
    }


def test_auto_escalates_on_deep_chain(spark):
    v, e = _chain(spark, 25)
    # 2 propagation rounds cannot close a diameter-24 chain → the contracted
    # star phase must finish it, still yielding min-id labels.
    out = connected_components_auto(
        v, e, id_col="doc_id", src="a", dst="b", propagation_rounds=2
    )
    rows = {r.doc_id: r.component for r in out.collect()}
    assert rows == {i: 0 for i in range(25)}


def test_auto_shallow_graph_no_escalation(spark):
    # 3 disjoint 2-cliques + singletons: propagation converges in round 1.
    v = spark.range(8).withColumnRenamed("id", "doc_id")
    e = spark.createDataFrame(
        [(0, 1), (2, 3), (4, 5)], "a bigint, b bigint"
    )
    out = connected_components_auto(v, e, id_col="doc_id", src="a", dst="b")
    rows = {r.doc_id: r.component for r in out.collect()}
    assert rows == {0: 0, 1: 0, 2: 2, 3: 2, 4: 4, 5: 4, 6: 6, 7: 7}


def test_auto_matches_plain_on_random_graph(spark):
    import random

    rng = random.Random(7)
    n = 60
    edges = sorted(
        {tuple(sorted(rng.sample(range(n), 2))) for _ in range(45)}
    )
    v = spark.range(n).withColumnRenamed("id", "doc_id")
    e = spark.createDataFrame(edges, "a bigint, b bigint")
    # plain propagation (enough rounds never to escalate) vs escalation
    # after one round
    a = connected_components_auto(
        v, e, id_col="doc_id", src="a", dst="b", propagation_rounds=60
    )
    b = connected_components_auto(
        v, e, id_col="doc_id", src="a", dst="b", propagation_rounds=1
    )
    ra = {(r.doc_id, r.component) for r in a.collect()}
    rb = {(r.doc_id, r.component) for r in b.collect()}
    assert ra == rb == _min_labels(n, edges)


def test_singletons_self_labeled(spark):
    vertices = spark.range(6).withColumnRenamed("id", "doc_id")
    edges = spark.createDataFrame([(4, 5)], "a bigint, b bigint")
    out = connected_components_auto(
        vertices, edges, id_col="doc_id", src="a", dst="b"
    )
    rows = {r.doc_id: r.component for r in out.collect()}
    assert rows == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4, 5: 4}


def test_reliable_checkpoint_dir_path_with_release(spark, tmp_path):
    # checkpoint_dir switches every round to reliable checkpoint();
    # the superseded-frame release added in round 6 must be a safe no-op
    # there too (reliably checkpointed frames are also LogicalRDD scans,
    # but their data lives in checkpoint files, not persisted blocks).
    v, e = _chain(spark, 12)
    out = connected_components_auto(
        v,
        e,
        id_col="doc_id",
        src="a",
        dst="b",
        propagation_rounds=20,
        checkpoint_dir=str(tmp_path / "ck"),
    )
    rows = {r.doc_id: r.component for r in out.collect()}
    assert rows == {i: 0 for i in range(12)}


def test_star_reliable_checkpoint_dir_path_with_release(spark, tmp_path):
    from lab_etl_spark.operators.dedup import connected_components_star

    v, e = _chain(spark, 12)
    out = connected_components_star(
        v,
        e,
        id_col="doc_id",
        src="a",
        dst="b",
        checkpoint_dir=str(tmp_path / "ck2"),
    )
    rows = {r.doc_id: r.component for r in out.collect()}
    assert rows == {i: 0 for i in range(12)}
