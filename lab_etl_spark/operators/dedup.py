"""Distributed text-dedup operators: shingling, exact Jaccard via inverted
index, and MinHash + banded LSH for the 100 TB path.

Design notes for scale:
  * Shingling is embarrassingly parallel (per-row `transform` over the word
    array — stays in whole-stage codegen, no Python).
  * Exact Jaccard meets documents through shingle POSTING LISTS (inverted
    index), so only documents sharing at least one shingle pair up — never
    the n² cross product.  Hot shingles are the skew risk, and it is bounded
    STRUCTURALLY here: `max_shingle_freq` drops stop-shingles (a shingle
    shared by thousands of docs carries ~no Jaccard signal but dominates the
    pair fan-out), which also caps any single doc's pair count in the
    downstream doc-keyed joins.  AQE skew-join splitting is the backstop for
    the residual enrichment-join class (candidates back to documents) — but
    note it only rewrites SMJs whose inputs are bare shuffle stages, NOT
    joins reusing an upstream aggregate's partitioning, so it cannot be the
    primary defense inside this pipeline (mechanism + scope pinned by
    tests/test_aqe_skew.py).
  * MinHash+LSH replaces the pair join with an O(docs × bands) bucket
    shuffle; exact Jaccard then verifies only the candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .iterate import checkpoint, iterate, release_local_checkpoint, undirect

# trim + collapse internal whitespace + lowercase; identical regex semantics
# exist in DuckDB for the oracle side (see queries/dedup.py).
NORMALIZE_SQL = "lower(regexp_replace(trim(text), '\\\\s+', ' '))"


def word_shingles(docs: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """(doc_id, shingle) — distinct word n-grams per document.

    The input fans out first (catalog.fan_out): the shingle explode
    multiplies the source ~n·|words|×, and on a single-row-group dim it
    would otherwise serialize into the one-task scan stage (measured -20%
    to -30% on the minhash/jaccard pipelines at sf0.1; structural no-op on
    already-split sources).

    Docs shorter than ``n`` words produce no shingles (matches the oracle's
    empty generate_series).
    """
    from ..catalog import fan_out

    # OUTER trim matters: SQL trim strips spaces only, so a doc edged by
    # \n/\t still has a leading/trailing space after the \s+ collapse,
    # and split would emit empty edge tokens the oracles' trim(...) removes.
    norm = f"trim(lower(regexp_replace(trim({text_col}), '\\\\s+', ' ')))"
    words = F.split(F.expr(norm), " ")
    shingles = F.expr(
        f"transform(sequence(1, size(_w) - {n - 1}),"
        f" i -> concat_ws(' ', slice(_w, i, {n})))"
    )
    return (
        fan_out(docs).select("doc_id", words.alias("_w"))
        .filter(F.size("_w") >= n)
        .select("doc_id", F.explode(F.array_distinct(shingles)).alias("shingle"))
    )


def _shingle_postings(
    sh: DataFrame, max_shingle_freq: int | None
) -> DataFrame:
    """(shingle, _ds sorted doc-id array) posting lists — ONE shuffle on the
    shingle.  The stop-shingle cap is a size filter on the posting list, so
    capping costs nothing extra (no second pass over the shingle stream).

    Caveat: a pathologically hot shingle materializes its posting list in the
    aggregation buffer before the filter drops it (10^5 doc ids ≈ 800 KB —
    fine; only a degenerate corpus where one shingle spans 10^7+ docs would
    pressure memory, and such a corpus needs corpus-level cleaning first).
    """
    grouped = sh.groupBy("shingle").agg(
        F.sort_array(F.collect_set("doc_id")).alias("_ds")
    )
    if max_shingle_freq is not None:
        grouped = grouped.filter(F.size("_ds") <= max_shingle_freq)
    return grouped


def _pair_common_counts(postings: DataFrame) -> DataFrame:
    """Posting lists → (doc_a, doc_b, n_common), doc_a < doc_b.

    Pair generation happens inside whole-stage codegen (array transform +
    explode) instead of a shingle self-join: the k·(k-1)/2 pairs per posting
    are emitted directly, one shuffle on the pair key to count them.
    """
    pair_structs = F.expr(
        "flatten(transform(_ds, (x, i) ->"
        " transform(slice(_ds, i + 2, size(_ds)),"
        " y -> struct(x AS doc_a, y AS doc_b))))"
    )
    return (
        postings.filter(F.size("_ds") >= 2)
        .select(F.explode(pair_structs).alias("_p"))
        .select("_p.doc_a", "_p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


def shingle_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact Jaccard-similar pairs (doc_a < doc_b, jaccard >= threshold).

    Columns: doc_a, doc_b, jaccard (raw exact-integer quotient —
    bit-identical cross-engine; rounding would ADD boundary risk).

    Shape: shingle stream → posting lists (1 shuffle; cap applied there) →
    codegen pair explosion → pair count (1 shuffle) → size join.  The sizes
    branch re-reads the posting lists, so its shuffle is a ReusedExchange —
    the document scan + shingling runs once.
    """
    sh = word_shingles(docs, n)
    postings = _shingle_postings(sh, max_shingle_freq)
    # per-doc shingle counts AFTER the cap (mirrors the oracle exactly)
    sizes = (
        postings.select(F.explode("_ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_sh"))
    )
    pairs = _pair_common_counts(postings)
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")
    )
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= threshold)
        # raw quotient of exact integers: bit-identical on every engine.
        # ROUND here is the cross-engine half-boundary trap (see
        # q_seasonal_decompose / q_bootstrap_ci): n/union is a small-
        # denominator rational that lands exactly on half-microunits.
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )


def _min_label_rounds(
    sym: DataFrame,
    labels: DataFrame,
    rounds: int,
    checkpoint_dir: str | None = None,
) -> tuple[DataFrame, bool]:
    """Run up to ``rounds`` min-label propagation steps over the symmetric
    edge set; returns (labels, converged).  Each step is one join +
    hash-aggregate; the previous label rides along through the checkpoint
    as ``_old`` so convergence is read back with a single cheap probe over
    the materialized step — no second join against the old labels (half
    the per-round job cost)."""

    def step(state: DataFrame) -> DataFrame:
        labels = state.select("_id", "component")
        nbr_min = (
            sym.join(labels, sym._d == labels._id)
            .groupBy("_s")
            .agg(F.min("component").alias("_nbr_min"))
        )
        return (
            labels.withColumnRenamed("component", "_old")
            .join(nbr_min, F.col("_id") == nbr_min._s, "left")
            .select(
                "_id",
                F.least("_old", F.coalesce("_nbr_min", "_old")).alias(
                    "component"
                ),
                "_old",
            )
        )

    def unchanged(state: DataFrame) -> bool:
        changed = (
            state.filter(F.col("component") != F.col("_old")).limit(1).count()
        )
        return changed == 0

    state, converged = iterate(labels, step, rounds, unchanged, checkpoint_dir)
    return state.select("_id", "component"), converged


def connected_components_star(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src: str = "a",
    dst: str = "b",
    max_iter: int = 30,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components via alternating large-star/small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond" —
    public algorithm).

    Same contract as :func:`connected_components_auto` (component = min
    node id), but converges in O(log n) rounds *regardless of graph
    diameter* — the whale-component regime where min-label propagation
    needs diameter-many rounds.  Each round is two join+aggregate passes
    over the edge set; edges only ever rewire toward smaller ids, so the
    edge count never grows beyond the symmetrized input.

      * large-star: every node u links each strictly-larger neighbor to
        m = min(N(u) ∪ {u});
      * small-star: orient edges toward the smaller endpoint, then link
        each ≤-neighbor (and u itself) to the minimum.

    Convergence = edge-set fixpoint, detected with an order-independent
    (count, xor-of-hashes) fingerprint — one tiny aggregate per round, no
    driver-side edge materialization.
    """

    def dedup(df: DataFrame) -> DataFrame:
        return df.filter(F.col("_u") != F.col("_v")).distinct()

    def large_star(e: DataFrame) -> DataFrame:
        sym = undirect(e, "_u", "_v")
        m = sym.groupBy("_u").agg(
            F.least(F.min("_v"), F.first("_u")).alias("_m")
        )
        return dedup(
            sym.join(m, "_u")
            .filter(F.col("_v") > F.col("_u"))
            .select(F.col("_v").alias("_u"), F.col("_m").alias("_v"))
        )

    def small_star(e: DataFrame) -> DataFrame:
        oriented = e.select(
            F.greatest("_u", "_v").alias("_u"), F.least("_u", "_v").alias("_v")
        )
        m = oriented.groupBy("_u").agg(F.min("_v").alias("_m"))
        children = oriented.join(m, "_u").select(
            F.col("_v").alias("_u"), F.col("_m").alias("_v")
        )
        centers = m.select(F.col("_u"), F.col("_m").alias("_v"))
        return dedup(children.unionAll(centers))

    prev_fp = None

    def unchanged(e: DataFrame) -> bool:
        nonlocal prev_fp
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(_u, _v))").alias("h"),
        ).collect()[0]
        fp = (row["n"], row["h"])
        same, prev_fp = fp == prev_fp, fp
        return same

    first = dedup(
        edges.select(F.col(src).alias("_u"), F.col(dst).alias("_v"))
    )
    cur, converged = iterate(
        checkpoint(first, checkpoint_dir),
        lambda e: small_star(large_star(e)),
        max_iter,
        unchanged,
        checkpoint_dir,
    )
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} rounds"
        )
    # At fixpoint every edge is (node, component-min); roots appear only on
    # the right side.  groupBy guards against any residual multi-parent row.
    labels = cur.groupBy("_u").agg(F.min("_v").alias("component"))
    return (
        vertices.select(F.col(id_col).alias("_u"))
        .join(labels, "_u", "left")
        .select(
            F.col("_u").alias(id_col),
            F.coalesce("component", "_u").alias("component"),
        )
    )


def connected_components_auto(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src: str = "a",
    dst: str = "b",
    propagation_rounds: int = 3,
    max_iter: int = 30,
    edges_distinct: bool = False,
    checkpoint_dir: str | None = None,
    working_partitions: int | None = None,
) -> DataFrame:
    """Adaptive connected components: cheap min-label propagation first,
    automatic escalation to large-star/small-star when the graph is deep.

    ``vertices``: one row per node (column ``id_col``); ``edges``: undirected
    pairs (``src``, ``dst``).  Returns (``id_col``, ``component``) where
    ``component`` is the smallest node id in the node's component — the
    canonical deterministic labeling, so results are engine-comparable
    (DuckDB oracle: recursive-CTE reachability + MIN).

    Near-dup graphs are overwhelmingly shallow (duplicate clusters of 2-5
    docs), where a couple of propagation rounds — one join+agg each — reach
    the fixpoint faster than star rounds (two join+aggs each).  But a whale
    component (a boilerplate page duplicated across millions of URLs, say)
    has propagation cost proportional to its diameter.  So: propagate for
    ``propagation_rounds``; if not converged, CONTRACT the graph by the
    current labels (each label is provably a member of its node's component,
    so label-edges preserve components; the contracted graph is usually
    orders of magnitude smaller) and finish with the O(log n)-round star
    algorithm on the contraction.  The component minimum survives
    contraction — the min node's label is itself — so the composed labeling
    equals what either algorithm alone would produce.  A star stage that
    does not converge in ``max_iter`` rounds raises: split clusters would
    be a silent wrong answer.

    ``edges_distinct=True`` promises the input has unique pairs with
    src < dst (true for every *_pairs operator in this package) — then the
    undirected edge set cannot contain duplicates and its dedup shuffle is
    skipped, saving a full pass over the edge set.

    ``working_partitions`` repartitions the symmetric edge set ONCE at
    entry, sizing every subsequent round.  The dup graph is usually orders
    of magnitude smaller than the corpus that produced it (near-dup pairs ≪
    documents), so inheriting the producer's partitioning runs each round
    as a cloud of near-empty tasks whose launch overhead dominates
    (measured 5.1 s → 3.9 s on the sf0.1 entity-resolution graph with 8
    instead of 64).  Pick ~|edges| / a few million per partition on a
    cluster; None keeps the input partitioning.  A plain ``coalesce`` would
    be wrong here — it folds the upstream pair-generation work into the
    reduced tasks.

    ``checkpoint_dir`` switches every round to reliable checkpoints (see
    :func:`~lab_etl_spark.operators.iterate.checkpoint`).
    """
    sym = undirect(edges, src, dst).toDF("_s", "_d")
    if not edges_distinct:
        sym = sym.distinct()
    if working_partitions:
        sym = sym.repartition(working_partitions, "_s")
    sym = checkpoint(sym, checkpoint_dir)
    # Only edge-touched vertices can ever change label; iterate over that
    # subgraph only (in a real corpus non-duplicate docs dominate, so this
    # shrinks every round's join from |corpus| to |dup-graph| rows) and
    # union the untouched vertices back as self-labeled singletons at the
    # end.  Round zero is folded into initialization: label = min(self,
    # neighbors) directly — for the dominant 2-node-cluster case that is
    # already the fixpoint, so the loop only runs confirmation rounds.
    labels = checkpoint(
        sym.groupBy("_s")
        .agg(F.least(F.min("_d"), F.first("_s")).alias("component"))
        .select(F.col("_s").alias("_id"), "component"),
        checkpoint_dir,
    )
    labels, converged = _min_label_rounds(
        sym, labels, propagation_rounds, checkpoint_dir
    )
    if not converged:
        l_s = labels.select(
            F.col("_id").alias("_s"), F.col("component").alias("_ls")
        )
        l_d = labels.select(
            F.col("_id").alias("_d"), F.col("component").alias("_ld")
        )
        contracted = (
            sym.join(l_s, "_s")
            .join(l_d, "_d")
            .filter(F.col("_ls") != F.col("_ld"))
            .select(F.col("_ls").alias("a"), F.col("_ld").alias("b"))
            .distinct()
        )
        label_nodes = labels.select(F.col("component").alias("id")).distinct()
        star = connected_components_star(
            label_nodes, contracted, id_col="id", src="a", dst="b",
            max_iter=max_iter, checkpoint_dir=checkpoint_dir,
        )
        labels = (
            labels.join(
                star.select(
                    F.col("id").alias("component"),
                    F.col("component").alias("_final"),
                ),
                "component",
            )
            .select("_id", F.col("_final").alias("component"))
        )
    # the labels no longer reference the symmetric edge set (the star
    # stage checkpointed its contraction first) — release its blocks
    release_local_checkpoint(sym)
    all_labeled = vertices.select(F.col(id_col).alias("_id")).join(
        labels, "_id", "left"
    )
    return all_labeled.select(
        F.col("_id").alias(id_col),
        F.coalesce("component", "_id").alias("component"),
    )


#: modulus for the portable universal-hash MinHash family (Mersenne prime).
MERSENNE61 = (1 << 61) - 1

#: Spark SQL / DuckDB expression for the 32-bit md5-derived shingle base hash
#: (identical value in both engines; the affine permutations below are plain
#: integer arithmetic on it, so the whole family is engine-reproducible).
MINHASH_BASE_SPARK = (
    "CAST(CONV(SUBSTRING(MD5(shingle), 1, 8), 16, 10) AS BIGINT)"
)
MINHASH_BASE_DUCK = (
    "CAST(('0x' || SUBSTRING(MD5(shingle), 1, 8)) AS BIGINT)"
)


def minhash_constants(num_hashes: int) -> list[tuple[int, int, int, int]]:
    """Deterministic (a, b, c, d) tuples for the two-round mixed permutations

        r_i(x) = (a_i * x + b_i) mod 2^61-1
        h_i(x) = (c_i * (r_i >> 31) + d_i * (r_i & 0x7FFFFFFF)) mod 2^61-1

    A single affine map with a < 2^29 over a 32-bit base hash is nearly
    MONOTONE in x (a*x + b < 2^62 wraps the 2^61-1 modulus at most once), so
    min h_i(x) over a shingle set picks the same minimizing shingle for
    every i — the 16 "permutations" collapse to ~1 and LSH buckets explode
    with correlated false positives (measured 11 231 candidate pairs at
    sf0.1 vs 256 for seeded xxhash64).  The second round splits r into
    hi/lo halves and recombines them with fresh multipliers: lo wraps mod
    2^31 every ~8 increments of x, so the composite reorders elements
    pseudo-randomly and the k minima decorrelate.

    Overflow-safe in 64-bit signed arithmetic in both engines:
    a*x + b < 2^62; c*(r>>31) < 2^59 plus d*(r & mask) < 2^60 sums < 2^61.
    Derived from md5 so both the Spark plan and the DuckDB oracle SQL are
    built from the very same numbers.
    """
    import hashlib as _hl

    out = []
    for i in range(num_hashes):
        h = _hl.md5(f"lab-etl-minhash-{i}".encode()).hexdigest()
        a = int(h[:8], 16) % ((1 << 29) - 2) + 1  # 1 .. 2^29-2, never 0
        b = int(h[8:23], 16) % MERSENNE61
        c = int(h[23:31], 16) % ((1 << 29) - 2) + 1
        d = int(_hl.md5(f"lab-etl-minhash-d-{i}".encode()).hexdigest()[:8], 16) % (
            (1 << 29) - 2
        ) + 1
        out.append((a, b, c, d))
    return out


def _minhash_perm_sql(a: int, b: int, c: int, d: int, x: str = "mh") -> str:
    """The h_i expression as SQL text — identical syntax and 64-bit integer
    semantics in Spark SQL and DuckDB, so the oracle reuses this verbatim."""
    r = f"(({a} * {x} + {b}) % {MERSENNE61})"
    return (
        f"(({c} * ({r} >> 31) + {d} * ({r} & 2147483647)) % {MERSENNE61})"
    )


def minhash_signatures(
    shingles: DataFrame, num_hashes: int = 16, portable: bool = True
) -> DataFrame:
    """(doc_id, h0..h{k-1}) MinHash signature.

    One hash-aggregate over the shingle stream computes all k permutations
    (k min() aggs), so signature cost is a single shuffle on doc_id.

    ``portable=True`` (default) computes ONE md5 per shingle occurrence (a
    32-bit base hash) and derives the k permutations as affine maps
    (a_i*x + b_i) mod 2^61-1 — whole-stage-codegen integer arithmetic,
    reproducible bit-for-bit in any engine with md5 (the DuckDB oracle
    recomputes the identical family, making the LSH output value-checkable).
    Measured at sf0.1 (min-of-4, local[32]): this per-occurrence shape runs
    0.66 s; hashing per *distinct* shingle (groupBy shingle → hash → explode
    doc list) costs 0.97 s because the extra shingle-keyed shuffle outweighs
    the ~10× saved md5 calls; the non-portable xxhash64 baseline is 0.51 s —
    the portability tax is ~0.15 s here, not the band-join cost.
    ``portable=False`` swaps in seeded xxhash64 for a pure-Spark run —
    marginally cheaper and 64-bit, but engine-specific.
    """
    if portable:
        base = shingles.withColumn("_mh", F.expr(MINHASH_BASE_SPARK))
        aggs = [
            F.min(F.expr(_minhash_perm_sql(a, b, c, d, "_mh"))).alias(f"h{i}")
            for i, (a, b, c, d) in enumerate(minhash_constants(num_hashes))
        ]
        return base.groupBy("doc_id").agg(*aggs)
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return shingles.groupBy("doc_id").agg(*aggs)


def minhash_band_buckets(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    portable: bool = True,
) -> DataFrame:
    """(doc_id, band, bkey) LSH bucket assignments — the BLOCKING stage of
    :func:`minhash_lsh_candidates`, exposed on its own so the scale suite
    (tests/test_scale_growth_sf1.py) can measure the candidate join's true
    work, Σ over buckets of C(|bucket|, 2), directly on the real lake at
    multiple scale factors instead of inferring it from verified output.
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must divide evenly into bands "
            f"({bands}); trailing hash functions would be silently unused"
        )
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(
        word_shingles(docs, n), num_hashes, portable=portable
    )

    # One posexplode pass emits every band key (a bands-way union would
    # recompute the signature aggregation once per branch).
    def _band_cols(b: int) -> list:
        return [
            F.col(f"h{b * rows_per_band + k}") for k in range(rows_per_band)
        ]

    if portable:
        band_keys = F.array(
            *[
                F.md5(
                    F.concat_ws(",", *[c.cast("string") for c in _band_cols(b)])
                )
                for b in range(bands)
            ]
        )
    else:
        band_keys = F.array(
            *[F.xxhash64(*_band_cols(b)).cast("string") for b in range(bands)]
        )
    return sig.select(
        "doc_id", F.posexplode(band_keys).alias("band", "bkey")
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    portable: bool = True,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, verified with exact Jaccard.

    Pipeline: shingle → signature (1 shuffle) → band buckets (1 shuffle) →
    bucket self-join (candidates only) → exact-Jaccard verify restricted to
    candidates.  Columns: doc_a, doc_b, jaccard.

    With ``portable=True`` the signature family and band keys are md5-derived
    (see :func:`minhash_signatures`), so the full pipeline is reproducible in
    the DuckDB oracle — value-exact correctness, not just a rows-only check.
    """
    sh = word_shingles(docs, n)
    buckets = minhash_band_buckets(
        docs, n=n, num_hashes=num_hashes, bands=bands, portable=portable
    )

    x = buckets.alias("x")
    y = buckets.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bkey") == F.col("y.bkey"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )

    # Exact verify on candidates only: semi-join the shingle stream down to
    # candidate docs, collect each candidate's (already-distinct) shingle
    # set into ONE array row, then compute true Jaccard per candidate pair
    # with array_intersect — map-side set math, no shingle-keyed shuffle.
    #
    # vs the previous posting-list pair explosion (_shingle_postings +
    # _pair_common_counts + semi-join + two size joins): one doc_id-keyed
    # aggregate replaces two data-sized shuffles (by shingle, then by
    # pair), and sizes come free as size(_sh) — measured 3.5 s -> 2.2 s
    # cold at sf0.1, identical output.  The single consumer of the
    # candidate shingles also retires the persist the old two-consumer
    # shape needed.  A/B'd alternatives (min-of-4, interleaved, cold):
    # semi-joining docs BEFORE shingling 4.0 s (breaks the bucket-exchange
    # reuse), persisting cand 2.7 s (pair-sized cache not worth its
    # materialization under cold policy).  Scale shape: arrays are per-doc
    # (bounded by doc length), pairs are LSH-candidate-bounded, and
    # cand_docs broadcasts into the semi-join — the corpus-sized shingle
    # stream is never shuffled.
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionAll(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    arr = (
        sh.join(cand_docs, "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_list("shingle").alias("_sh"))
    )
    j = (
        cand.join(
            arr.select(F.col("doc_id").alias("doc_a"), F.col("_sh").alias("_sa")),
            "doc_a",
        )
        .join(
            arr.select(F.col("doc_id").alias("doc_b"), F.col("_sh").alias("_sb")),
            "doc_b",
        )
        .withColumn("n_common", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn("n_a", F.size("_sa"))
        .withColumn("n_b", F.size("_sb"))
    )
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    return (
        j.filter(jac >= threshold)
        # raw quotient of exact integers: bit-identical on every engine.
        # ROUND here is the cross-engine half-boundary trap (see
        # q_seasonal_decompose / q_bootstrap_ci): n/union is a small-
        # denominator rational that lands exactly on half-microunits.
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )


def _setsim_frames(
    docs: DataFrame, n: int, t_num: int, t_den: int
) -> tuple[DataFrame, DataFrame]:
    """(per_doc, pref) for the prefix-filter join: per-doc sorted shingle
    arrays in the global (df ASC, shingle ASC) canonical order, and the
    exploded prefix postings (doc_id, n_sh, shingle) — the blocking stage.
    """
    p_len = f"(size(_sh) - ({t_num} * size(_sh) + {t_den} - 1) div {t_den} + 1)"
    sh = word_shingles(docs, n)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    per_doc = (
        sh.join(dfreq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.expr(
                "transform(sort_array(collect_list(struct(_df, shingle))),"
                " x -> x.shingle)"
            ).alias("_sh")
        )
        .select("doc_id", "_sh", F.size("_sh").alias("n_sh"))
    )
    pref = per_doc.select(
        "doc_id",
        "n_sh",
        F.explode(F.expr(f"slice(_sh, 1, {p_len})")).alias("shingle"),
    )
    return per_doc, pref


def setsim_prefix_postings(
    docs: DataFrame, n: int = 3, t_num: int = 4, t_den: int = 5
) -> DataFrame:
    """(doc_id, n_sh, shingle) prefix postings — the BLOCKING stage of
    :func:`setsim_prefix_pairs`, exposed so the scale suite can measure the
    candidate join's work, Σ over prefix shingles of C(|posting|, 2), on
    the real lake at multiple scale factors.
    """
    return _setsim_frames(docs, n, t_num, t_den)[1]


def setsim_prefix_pairs(
    docs: DataFrame,
    n: int = 3,
    t_num: int = 4,
    t_den: int = 5,
) -> DataFrame:
    """Exact set-similarity self-join via PREFIX FILTERING (SSJoin family;
    Chaudhuri et al. ICDE'06 / Xiao et al. PPJoin): all document pairs with
    shingle-set Jaccard >= t_num/t_den, columns (doc_a, doc_b, jaccard).

    The third exact near-dup strategy next to the full inverted index
    (shingle_jaccard_pairs) and MinHash+LSH (probabilistic candidates):
    deterministic like the former, but candidate generation only touches
    each document's PREFIX — its rarest p = |s| - ceil(t·|s|) + 1 shingles
    in a global (doc-frequency ASC, shingle ASC) canonical order.  Prefix
    lemma: two sets with overlap >= ceil(t·|s|) (implied by J >= t) must
    collide on at least one prefix element, so recall is total — no false
    negatives, unlike LSH.  Posting lists on prefix shingles are the SHORT
    lists by construction (rare shingles first), so the candidate join's
    fan-out stays bounded where the full inverted index needs a
    stop-shingle cap: at 100 TB the hot head of the shingle distribution
    never enters the join.

    All threshold arithmetic is integer (ceil(t·n) = (t_num·n + t_den - 1)
    div t_den; the verify is t_den·|A∩B| >= t_num·|A∪B|), so the boundary
    is bit-identical in any engine — no float threshold ambiguity.

    Shuffles: shingle doc-frequency agg (+ reused-exchange join back),
    per-doc sorted-prefix agg, candidate join on prefix shingles, and the
    two doc-keyed verify joins against per-doc shingle arrays (intersection
    via sorted-array ``array_intersect`` in whole-stage codegen).
    """
    per_doc, pref = _setsim_frames(docs, n, t_num, t_den)
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # necessary size condition: J >= t  =>  (t_num+t_den)·min >= t_num·(|A|+|B|)
            & (
                (t_num + t_den) * F.least("a.n_sh", "b.n_sh")
                >= t_num * (F.col("a.n_sh") + F.col("b.n_sh"))
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    arr_a = per_doc.select(
        F.col("doc_id").alias("doc_a"),
        F.col("_sh").alias("_sha"),
        F.col("n_sh").alias("n_a"),
    )
    arr_b = per_doc.select(
        F.col("doc_id").alias("doc_b"),
        F.col("_sh").alias("_shb"),
        F.col("n_sh").alias("n_b"),
    )
    inter = F.size(F.array_intersect("_sha", "_shb"))
    union = F.col("n_a") + F.col("n_b") - inter
    return (
        cand.join(arr_a, "doc_a")
        .join(arr_b, "doc_b")
        .filter(t_den * inter >= t_num * union)
        .select(
            "doc_a",
            "doc_b",
            # raw exact-integer quotient; no ROUND (half-boundary trap)
            (inter.cast("double") / union).alias("jaccard"),
        )
    )
