"""Dedup-operator unit pins: stop-shingle cap behavior and portable MinHash
family invariants (cross-engine reproducibility + band math guards)."""

from __future__ import annotations

import pytest

from lab_etl_spark.operators.dedup import (
    MERSENNE61,
    minhash_constants,
    minhash_lsh_candidates,
    shingle_jaccard_pairs,
)


def _hot_shingle_docs(spark, n=20):
    # Every doc shares the same long boilerplate prefix (near-dup by
    # construction) plus a unique one-word tail.
    boiler = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, f"{boiler} tail{i}") for i in range(n)]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_stop_shingle_cap_prunes_hot_shingles(spark):
    docs = _hot_shingle_docs(spark, 20)
    uncapped = shingle_jaccard_pairs(docs, n=3, threshold=0.5)
    capped = shingle_jaccard_pairs(
        docs, n=3, threshold=0.5, max_shingle_freq=10
    )
    # Without the cap the boilerplate makes every pair near-dup: 20*19/2.
    assert uncapped.count() == 190
    # With the cap, every boilerplate shingle (freq 20 > 10) is dropped from
    # the inverted index; only the unique-tail shingles remain, which no two
    # docs share — the hot-shingle join island never forms.
    assert capped.count() == 0


def test_stop_shingle_cap_keeps_rare_shingles(spark):
    # Two docs sharing text that is NOT hot must still pair under the cap.
    rows = [
        (0, "one two three four five six"),
        (1, "one two three four five seven"),
        (2, "totally different words here entirely now"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = shingle_jaccard_pairs(
        docs, n=3, threshold=0.5, max_shingle_freq=10
    ).collect()
    assert {(r.doc_a, r.doc_b) for r in out} == {(0, 1)}


def test_minhash_constants_fit_64bit_arithmetic():
    # a,c,d < 2^29 and base < 2^32 guarantee every intermediate stays below
    # 2^62: no signed overflow in either engine.  Constants must be
    # deterministic across calls.
    cs = minhash_constants(64)
    assert cs == minhash_constants(64)
    for a, b, c, d in cs:
        assert 1 <= a < (1 << 29)
        assert 0 <= b < MERSENNE61
        assert 1 <= c < (1 << 29)
        assert 1 <= d < (1 << 29)
        assert a * ((1 << 32) - 1) + b < (1 << 62)
        # second round: c*(r>>31) + d*(r & 0x7FFFFFFF) with r < 2^61
        assert c * ((MERSENNE61 - 1) >> 31) + d * 0x7FFFFFFF < (1 << 62)


def test_minhash_permutations_decorrelated():
    # The r1/r2 affine family (a*x+b) mod M with a < 2^29 was near-monotone
    # in x, so every permutation chose the same minimizing shingle and LSH
    # candidate pairs exploded 44x.  The two-round mixer must pick many
    # distinct argmins over a random set.
    import random

    from lab_etl_spark.operators.dedup import _minhash_perm_sql  # noqa: F401

    random.seed(7)
    xs = [random.getrandbits(32) for _ in range(50)]

    def h(a, b, c, d, x):
        r = (a * x + b) % MERSENNE61
        return (c * (r >> 31) + d * (r & 0x7FFFFFFF)) % MERSENNE61

    argmins = {
        min(xs, key=lambda x: h(a, b, c, d, x))
        for a, b, c, d in minhash_constants(16)
    }
    assert len(argmins) >= 8


def test_minhash_rejects_ragged_bands(spark):
    docs = _hot_shingle_docs(spark, 4)
    with pytest.raises(ValueError, match="must divide evenly"):
        minhash_lsh_candidates(docs, num_hashes=16, bands=5)


def test_minhash_portable_and_fast_paths_agree_on_clear_dups(spark):
    # Identical docs minhash to identical signatures under ANY hash family,
    # so both paths must report the duplicate pair with jaccard 1.0.
    rows = [
        (0, "the quick brown fox jumps over the lazy dog today"),
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "completely unrelated content with no overlap whatsoever here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    for portable in (True, False):
        out = minhash_lsh_candidates(docs, portable=portable).collect()
        assert [(r.doc_a, r.doc_b, r.jaccard) for r in out] == [(0, 1, 1.0)]


def test_connected_components_reliable_checkpoint_mode(spark, tmp_path):
    # checkpoint_dir switches every iterative round from executor-local
    # localCheckpoint blocks to reliable checkpoint() files; labels must be
    # identical in both modes and the directory must actually be used.
    from lab_etl_spark.operators.dedup import connected_components_auto

    verts = spark.range(0, 12).withColumnRenamed("id", "id")
    # two chains (0-1-2-3, 4-5-6-7) deep enough to force auto's escalation
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (4, 5), (5, 6), (6, 7), (8, 9)],
        "a bigint, b bigint",
    )
    ckdir = str(tmp_path / "cc_ck")
    base = sorted(
        (r.id, r.component)
        for r in connected_components_auto(
            verts, edges, propagation_rounds=10
        ).collect()
    )
    reliable = sorted(
        (r.id, r.component)
        for r in connected_components_auto(
            verts, edges, propagation_rounds=10, checkpoint_dir=ckdir
        ).collect()
    )
    assert reliable == base
    import os

    assert os.path.isdir(ckdir) and any(os.scandir(ckdir))

    auto = sorted(
        (r.id, r.component)
        for r in connected_components_auto(
            verts, edges, propagation_rounds=1, checkpoint_dir=ckdir
        ).collect()
    )
    assert auto == base


def _random_corpus(spark, seed, n_docs=30, vocab=12, doc_len=18):
    # Small vocab => many shared shingles => Jaccard mass near the 4/5
    # threshold, stressing both the prefix lemma and the integer boundary.
    import random

    rng = random.Random(seed)
    words = [f"w{i}" for i in range(vocab)]
    rows = []
    for i in range(n_docs):
        base = [rng.choice(words) for _ in range(doc_len)]
        rows.append((2 * i, " ".join(base)))
        # a mutated twin so high-Jaccard pairs actually exist
        twin = list(base)
        for _ in range(rng.randrange(0, 3)):
            twin[rng.randrange(len(twin))] = rng.choice(words)
        rows.append((2 * i + 1, " ".join(twin)))
    return spark.createDataFrame(rows, "doc_id bigint, text string")


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_setsim_prefix_filter_equals_brute_force(spark, seed):
    # The prefix lemma promises TOTAL recall: the prefix-filtered join must
    # return exactly the pairs the uncapped brute-force inverted index finds
    # at the same threshold.  (Precision is trivially equal — both paths end
    # in the same exact-Jaccard verify.)
    from lab_etl_spark.operators.dedup import setsim_prefix_pairs

    docs = _random_corpus(spark, seed)
    fast = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in setsim_prefix_pairs(docs, n=3, t_num=4, t_den=5).collect()
    }
    brute = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in shingle_jaccard_pairs(docs, n=3, threshold=0.8).collect()
    }
    assert fast == brute
    assert brute, "vacuous corpus: no pairs above threshold"


def test_setsim_prefix_is_shorter_than_full_set(spark):
    # Scale guard: the candidate stage must explode only ~(1-t)·|s|+1
    # shingles per doc, not the full set — that is the whole point of the
    # algorithm.  Pin the arithmetic at a few sizes.
    for n_sh in (5, 10, 45, 100):
        p = n_sh - (4 * n_sh + 4) // 5 + 1
        assert p == n_sh - -((-4 * n_sh) // 5) + 1  # matches ceil(4n/5)
        assert p <= n_sh // 5 + 2
