"""Round-6 hardening: kcore input validation + checkpoint-block release,
typed stats canonicalization in the commit log, and atomic WebDataset
shard publication."""

from __future__ import annotations

import datetime
import glob
import os

import pytest
from pyspark.sql import functions as F

from lab_etl_spark.operators.commitlog import LoggedTable, _canon_stat
from lab_etl_spark.operators.graph import kcore, label_propagation
from lab_etl_spark.operators.iterate import release_local_checkpoint


def _edges(spark):
    # a 4-clique (core number 3) with a pendant path hanging off it
    pairs = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
        (4, 5), (5, 6),
    ]
    return spark.createDataFrame(pairs, "p1 bigint, p2 bigint")


def test_kcore_rejects_zero_rounds(spark):
    with pytest.raises(ValueError, match="rounds >= 1"):
        kcore(_edges(spark), k=2, rounds=0)


def _persistent_ids(spark) -> set[int]:
    # the id SET, not the count: in a shared session Spark's ContextCleaner
    # asynchronously drops other tests' unreferenced cached RDDs, so global
    # counts race — the delta of NEW ids added by the operator under test
    # is stable
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def test_kcore_releases_superseded_checkpoint_blocks(spark):
    # und + one frontier per round are localCheckpoint'ed; after the
    # result is materialized only the RESULT's blocks may remain (the
    # pagerank no-session-lifetime-footprint contract, RDD-level edition).
    before = _persistent_ids(spark)
    out = kcore(_edges(spark), k=3, rounds=3)
    got = {r.v: r.deg for r in out.collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}  # the 4-clique, pendant peeled
    new = _persistent_ids(spark) - before
    assert len(new) == 1, (
        f"kcore leaked frontier/edge checkpoint blocks: {len(new)} new "
        "persistent RDDs (expected only the returned frame's)"
    )
    release_local_checkpoint(out)
    assert _persistent_ids(spark) & new == set()


def test_label_propagation_releases_superseded_checkpoint_blocks(spark):
    before = _persistent_ids(spark)
    out = label_propagation(_edges(spark), rounds=2)
    labels = {r.v: r.label for r in out.collect()}
    assert set(labels) == {1, 2, 3, 4, 5, 6}
    new = _persistent_ids(spark) - before
    assert len(new) == 1, (
        f"label_propagation leaked label/edge checkpoint blocks: "
        f"{len(new)} new persistent RDDs"
    )
    release_local_checkpoint(out)
    assert _persistent_ids(spark) & new == set()


def _cc_toy(spark):
    # 5 edges: a diameter-3 chain (0-1-2-3) plus two pairs.  Default
    # propagation (3 rounds) converges; one round leaves the chain open.
    v = spark.range(10)
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (4, 5), (6, 7)], "a bigint, b bigint"
    )
    return v, e


@pytest.mark.parametrize(
    "propagation_rounds, kept",
    [
        (3, 1),  # converged: only the final label state
        (1, 2),  # escalated: the label state + the star stage's fixpoint
    ],
)
def test_connected_components_auto_releases_superseded_blocks(
    spark, propagation_rounds, kept
):
    from lab_etl_spark.operators.dedup import connected_components_auto

    before = _persistent_ids(spark)
    out = connected_components_auto(
        *_cc_toy(spark), propagation_rounds=propagation_rounds
    )
    got = {r.id: r.component for r in out.collect()}
    assert got == {
        0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 4, 6: 6, 7: 6, 8: 8, 9: 9
    }
    new = _persistent_ids(spark) - before
    # the symmetric edge set, the initial labels and every superseded
    # round are released; only what the returned frame reads remains
    assert len(new) == kept, (
        f"connected_components_auto kept {len(new)} new persistent RDDs "
        f"(expected {kept})"
    )


def test_ivf_assign_releases_superseded_centroids(spark, sf_dir):
    from lab_etl_spark.catalog import load_table
    from lab_etl_spark.operators.similarity import ivf_assign

    before = _persistent_ids(spark)
    assigned, centroids = ivf_assign(
        load_table(spark, sf_dir, "embeddings"), n_clusters=8, n_iter=1
    )
    assert centroids.count() == 8
    assert assigned.select("cid").distinct().count() <= 8
    new = _persistent_ids(spark) - before
    # the seed centroids are superseded by the Lloyd step: only the
    # trained centroids and the final assignment may remain
    assert len(new) == 2, (
        f"ivf_assign kept {len(new)} new persistent RDDs (expected 2)"
    )


def test_canon_stat_typed_string_column_stays_lexicographic():
    # a string-typed column whose values LOOK like dates must not be
    # parsed: one-sided sniffing turned '2024-01-15' into datetime while
    # a non-ISO bound stayed str -> TypeError at the comparison
    assert _canon_stat("2024-01-15", is_temporal=False) == "2024-01-15"
    assert _canon_stat("2024-01-10x", is_temporal=False) == "2024-01-10x"
    # temporal columns canonicalize, and garbage in one raises loudly
    assert _canon_stat("2024-01-15", is_temporal=True) == datetime.datetime(
        2024, 1, 15
    )
    with pytest.raises(ValueError, match="non-ISO"):
        _canon_stat("not-a-date", is_temporal=True)
    # legacy manifests (no type tag) keep the sniffing behavior
    assert _canon_stat("2024-01-15", is_temporal=None) == datetime.datetime(
        2024, 1, 15
    )


def test_stats_pruning_string_typed_date_lookalikes(spark, tmp_path):
    # ISO-shaped string ids + a non-ISO bound: pre-fix read_pruned raised
    # TypeError (datetime vs str); with typed stats it prunes
    # lexicographically like any other string column.
    t = LoggedTable(str(tmp_path / "table"))
    df = spark.createDataFrame(
        [(f"2024-01-{i:02d}",) for i in range(1, 31)], "sid string"
    )
    m = t.commit(
        lambda d: df.repartitionByRange(3, "sid").write.parquet(d),
        op="create",
        spark=spark,
        stats_cols=["sid"],
    )
    assert m["stats_temporal"] == []
    pruned = t.read_pruned(spark, {"sid": ("2024-01-05", "2024-01-10x")})
    got = sorted(
        r.sid
        for r in pruned.filter(
            "sid >= '2024-01-05' AND sid <= '2024-01-10x'"
        ).collect()
    )
    assert got == [f"2024-01-{i:02d}" for i in range(5, 11)]
    assert pruned.select("_metadata.file_path").distinct().count() < 3


def test_stats_pruning_temporal_column_is_tagged(spark, tmp_path):
    t = LoggedTable(str(tmp_path / "table"))
    df = spark.range(30).select(
        F.col("id"), F.expr("DATE_ADD(DATE'2024-01-01', CAST(id AS INT))").alias("d")
    )
    m = t.commit(
        lambda d: df.repartitionByRange(3, "d").write.parquet(d),
        op="create",
        spark=spark,
        stats_cols=["d", "id"],
    )
    assert m["stats_temporal"] == ["d"]
    pruned = t.read_pruned(
        spark, {"d": (datetime.date(2024, 1, 5), datetime.date(2024, 1, 8))}
    )
    assert pruned.select("_metadata.file_path").distinct().count() < 3
    assert (
        pruned.filter("d BETWEEN DATE'2024-01-05' AND DATE'2024-01-08'").count()
        == 4
    )


def test_webdataset_write_leaves_no_temp_files(spark, tmp_path):
    # both write paths publish shards via attempt-unique temp + atomic
    # rename; after a successful job no *.tmp may remain next to shards
    from lab_etl_spark.sources.webdataset import (
        read_webdataset,
        register_webdataset_source,
        write_webdataset,
    )

    docs = spark.range(12).selectExpr(
        "id AS doc_id",
        "'web' AS source",
        "'en' AS lang",
        "CAST(5 AS BIGINT) AS n_chars",
        "concat('t-', id) AS text",
    )
    helper_dir = str(tmp_path / "wds_helper")
    write_webdataset(docs, helper_dir, n_shards=3)
    assert glob.glob(os.path.join(helper_dir, "*.tmp")) == []
    assert len(glob.glob(os.path.join(helper_dir, "shard-*.tar"))) == 3

    ds_dir = str(tmp_path / "wds_ds")
    register_webdataset_source(spark)
    docs.repartition(3).write.format("webdataset").mode("append").save(ds_dir)
    assert glob.glob(os.path.join(ds_dir, "*.tmp")) == []
    back = read_webdataset(spark, ds_dir)
    assert back.count() == 12


def test_bottomk_quantile_rank_error_within_design_band(spark, sf_dir):
    # the sample quantile's observed RANK (fraction of the full column
    # below the estimate) must sit within a few sigma of the target
    # percentile — sigma = sqrt(p(1-p)/K)
    import math

    from lab_etl_spark.queries import load_all
    from lab_etl_spark.queries.sketches import BKQ_K

    rows = load_all()["q_bottomk_quantile"].fn(spark, sf_dir).collect()
    assert [r.qpct for r in rows] == [50, 90, 99]
    from lab_etl_spark.catalog import load_table

    orders = load_table(spark, sf_dir, "orders")
    n = orders.count()
    for r in rows:
        p = r.qpct / 100.0
        below = orders.filter(f"o_totalprice <= {r.est}").count()
        sigma = math.sqrt(p * (1 - p) / BKQ_K)
        assert abs(below / n - p) < 4 * sigma + 1.0 / BKQ_K, (
            r.qpct,
            below / n,
        )


def test_pq_adc_rank_quality_against_exact_l2(spark, sf_dir):
    # PQ is an approximation; pin its retrieval quality so a codebook or
    # encoding regression shows up as a failed gate, not a silent quality
    # drop.  On this synthetic near-random corpus, coarse 4x8 codebooks
    # give weak top-10 recall (expected: random vectors don't cluster, the
    # regime PQ exploits), but the RANK signal is strong — the PQ top-10's
    # exact-L2 ranks land in the top ~10-20% of the corpus (observed
    # median rank ~25-40 of 499; chance median = N/2).  Gate the median
    # exact rank, which is stable where top-10 recall is noise.
    from pyspark.sql import functions as F

    from lab_etl_spark.catalog import load_table
    from lab_etl_spark.queries import load_all

    approx = [
        r.neighbor_id
        for r in load_all()["q_pq_adc"].fn(spark, sf_dir).collect()
    ]
    pts = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr("CAST(embedding AS ARRAY<DOUBLE>)").alias("v")
    )
    q = pts.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    exact = (
        pts.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.expr(
                "aggregate(zip_with(v, qv, (x, y) -> (x - y) * (x - y)),"
                " CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)"
            ).alias("d2"),
        )
        .orderBy("d2", "vec_id")
        .collect()
    )
    n = len(exact)
    rank = {r.vec_id: i for i, r in enumerate(exact)}
    ranks = sorted(rank[a] for a in approx)
    median_rank = ranks[len(ranks) // 2]
    assert median_rank < 0.2 * n, (
        f"PQ rank signal collapsed: median exact rank {median_rank} of {n}"
        f" (chance ~{n // 2}); ranks={ranks}"
    )


def test_pq_and_bottomk_deterministic_on_degenerate_corpus(
    spark, sf_dir, tmp_path
):
    # All-identical embeddings and all-equal order totals: every distance
    # and every sample value ties, so ONLY the documented tie-breaks
    # (cid, vec_id, o_orderkey) order the output — the driver-identical
    # compare then proves the tie-break algebra agrees across engines on
    # a corpus with zero discriminating signal.
    import shutil

    from lab_etl_spark.queries import load_all

    from .compare import TABLES, compare, duck_con

    for t in TABLES:
        shutil.copy(f"{sf_dir}/{t}.parquet", tmp_path / f"{t}.parquet")

    def _write_single(df, name):
        d = tmp_path / f"_{name}_dir"
        df.coalesce(1).write.mode("overwrite").parquet(str(d))
        files = list(d.glob("*.parquet"))
        assert len(files) == 1
        shutil.move(str(files[0]), tmp_path / f"{name}.parquet")
        shutil.rmtree(d)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    one = emb.limit(1).collect()[0]
    _write_single(
        spark.createDataFrame(
            [(i, one.embedding, 0) for i in range(40)], emb.schema
        ),
        "embeddings",
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    flat = orders.limit(100).selectExpr(
        "o_orderkey",
        *[
            "CAST(42000.0 AS DOUBLE) AS o_totalprice"
            if c == "o_totalprice"
            else c
            for c in orders.columns
            if c != "o_orderkey"
        ],
    )
    _write_single(flat.select(*orders.columns), "orders")

    con = duck_con(str(tmp_path))
    reg = load_all()
    for name in ("q_pq_adc", "q_bottomk_quantile"):
        q = reg[name]
        compare(
            q.fn(spark, str(tmp_path)),
            con.execute(q.oracle).fetchdf(),
            f"{name}@degenerate",
        )
