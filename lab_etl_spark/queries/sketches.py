"""Mergeable-sketch and join-pruning query surface.

At 100 TB the aggregations that matter are the ones whose partial states
MERGE: a sketch built per-partition and OR'd/MIN'd/summed at the reducer
costs one map-side pass plus a tiny shuffle, where the exact answer would
shuffle the raw keys.  Spark's built-ins cover HLL (approx_count_distinct)
and KLL-ish percentiles (approx_percentile) but neither is value-checkable
across engines; the sketches here are built from md5-derived hashes (the
portable-hash convention of operators/dedup.py) so the DuckDB oracle
reproduces them bit-for-bit:

  * Count-Min sketch      — heavy-hitter tokens; the sketch is a (depth ×
                            width) grid of COUNTs, mergeable by cell-wise sum
                            (partial aggregation does exactly that map-side).
  * KMV (k-minimum-values) — per-group distinct-count sketch; mergeable by
                            "k smallest of the union of k-smallest sets".
  * Bloom-pruned join     — the explicit form of Spark's AQE runtime filter:
                            build a bitset over the dim keys, broadcast it,
                            drop fact rows before the shuffle, then exact-join
                            the survivors (false positives die there, so the
                            answer is exact and the oracle is the plain join).
  * Triangle counting     — co-occurrence graph analytics: support-filtered
                            edges, oriented a<b<c so each triangle is built
                            exactly once (two joins, no explosion).

The reference has no sketch/graph surface (SURVEY.md §2A is ETL-only);
this extends §2B's scale mandate the same way q_skew_join_salted does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from . import register
from .exact import dsum

# ---------------------------------------------------------------------------
# Count-Min sketch
# ---------------------------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 512
#: heavy-hitter threshold as a fraction of the total token stream
CMS_PHI = 0.002


def _cms_bucket_spark(d: int, col: str = "token") -> str:
    """Row-d bucket for a token: first 8 md5 hex chars → int → mod width.

    Identical value in DuckDB via _cms_bucket_duck (same md5, same slice,
    same modulus) — the portable-hash convention of operators/dedup.py:444.
    """
    return (
        f"CAST(CONV(SUBSTRING(MD5(CONCAT('cms{d}:', {col})), 1, 8), 16, 10) "
        f"AS BIGINT) % {CMS_WIDTH}"
    )


def _cms_bucket_duck(d: int, col: str = "token") -> str:
    return (
        f"CAST(('0x' || SUBSTRING(MD5('cms{d}:' || {col}), 1, 8)) AS BIGINT) "
        f"% {CMS_WIDTH}"
    )


_CMS_ORACLE = f"""
WITH toks AS (
    SELECT unnest(string_split_regex(trim(lower(text)), ' +')) AS token
    FROM documents
),
total AS (SELECT COUNT(*) AS n_total FROM toks),
cells AS (  -- the sketch: depth × width grid of counts (mergeable by sum)
    SELECT d, bucket, COUNT(*) AS cnt
    FROM (
        {" UNION ALL ".join(
            f"SELECT {d} AS d, {_cms_bucket_duck(d)} AS bucket FROM toks"
            for d in range(CMS_DEPTH)
        )}
    )
    GROUP BY d, bucket
),
exact AS (SELECT token, COUNT(*) AS exact_cnt FROM toks GROUP BY token),
est AS (
    SELECT e.token, e.exact_cnt, MIN(c.cnt) AS cms_est
    FROM exact e
    JOIN cells c
      ON c.cnt IS NOT NULL
     AND ((c.d = 0 AND c.bucket = {_cms_bucket_duck(0, 'e.token')})
       {" ".join(
           f"OR (c.d = {d} AND c.bucket = {_cms_bucket_duck(d, 'e.token')})"
           for d in range(1, CMS_DEPTH)
       )})
    GROUP BY e.token, e.exact_cnt
)
SELECT token, cms_est, exact_cnt, cms_est - exact_cnt AS overcount
FROM est, total
WHERE cms_est >= n_total * {CMS_PHI}
ORDER BY token
"""


@register(
    "q_heavy_hitters_cms",
    oracle=_CMS_ORACLE,
    doc="Count-Min-sketch heavy hitters over the document token stream. The "
    "sketch is a 4×512 grid of counts built in ONE hash-aggregate whose "
    "partial states merge by cell-wise sum (map-side combine shrinks every "
    "partition to ≤2048 rows before the shuffle — the whole point at 100 TB, "
    "where the raw token stream is petabyte-scale but the sketch is 16 KB). "
    "Estimates (min over depths) are then read out for each candidate token "
    "and thresholded at φ=0.2% of the stream; overcount shows the CMS "
    "estimation error, which both engines reproduce exactly because the "
    "bucket hashes are md5-derived (portable-hash convention).",
    tags=["sketch"],
)
def q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.trim(F.lower("text")), " +")).alias("token")
    )
    # ONE corpus scan: per-token exact counts first; the sketch, the probe
    # set, and the stream total all derive from that (vocabulary-sized)
    # aggregate.  Summing exact_cnt into (d, bucket) cells is identical to
    # counting the raw stream per cell — CMS cells are count-weighted token
    # sums — so at 100 TB the petabyte text is read once and everything
    # downstream reshuffles only |vocab| rows.
    exact = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("exact_cnt")
    ).persist()  # vocabulary-sized; feeds the CMS cells, the probe set,
    # and the stream total — persisting it is what makes the "ONE corpus
    # scan" claim above true (multi-consumer rule)
    cells = (
        exact.select(
            "exact_cnt",
            F.posexplode(
                F.array(
                    *[F.expr(_cms_bucket_spark(d)) for d in range(CMS_DEPTH)]
                )
            ).alias("d", "bucket"),
        )
        .groupBy("d", "bucket")
        .agg(F.sum("exact_cnt").alias("cnt"))
    )
    probes = exact.select(
        "token",
        "exact_cnt",
        F.posexplode(
            F.array(*[F.expr(_cms_bucket_spark(d)) for d in range(CMS_DEPTH)])
        ).alias("d", "bucket"),
    )
    est = (
        probes.join(F.broadcast(cells), ["d", "bucket"])
        .groupBy("token", "exact_cnt")
        .agg(F.min("cnt").alias("cms_est"))
    )
    total = exact.groupBy().agg(F.sum("exact_cnt").alias("n_total"))
    return (
        est.crossJoin(F.broadcast(total))  # 1-row scalar broadcast
        .where(F.col("cms_est") >= F.col("n_total") * F.lit(CMS_PHI))
        .select(
            "token",
            "cms_est",
            "exact_cnt",
            (F.col("cms_est") - F.col("exact_cnt")).alias("overcount"),
        )
        .orderBy("token")
    )


# ---------------------------------------------------------------------------
# KMV distinct sketch
# ---------------------------------------------------------------------------

KMV_K = 64
#: 13 md5 hex chars = 52 uniform bits; /2^52 is an EXACT binary scaling, so
#: the unit-interval double is bit-identical in both engines.
_KMV_U_SPARK = (
    "CAST(CONV(SUBSTRING(MD5(CONCAT('kmv:', CAST(user_id AS STRING))), 1, 13),"
    " 16, 10) AS DOUBLE) / 4503599627370496"
)
_KMV_U_DUCK = (
    "CAST(CAST(('0x' || SUBSTRING(MD5('kmv:' || CAST(user_id AS VARCHAR)), 1,"
    " 13)) AS BIGINT) AS DOUBLE) / 4503599627370496"
)

_KMV_ORACLE = f"""
WITH dv AS (
    SELECT DISTINCT event_type, user_id FROM events
),
hashed AS (
    SELECT event_type, user_id, {_KMV_U_DUCK} AS u,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY {_KMV_U_DUCK}, user_id) AS rn
    FROM dv
),
sketch AS (  -- the k smallest hashes per group: THE mergeable state
    SELECT event_type, COUNT(*) AS n_seen, MAX(u) AS kth
    FROM hashed WHERE rn <= {KMV_K} GROUP BY event_type
),
exact AS (
    SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct FROM events
    GROUP BY event_type
)
SELECT s.event_type,
       CASE WHEN s.n_seen < {KMV_K} THEN CAST(s.n_seen AS DOUBLE)
            ELSE ({KMV_K} - 1) / s.kth END AS est_distinct,
       e.exact_distinct
FROM sketch s JOIN exact e ON s.event_type = e.event_type
ORDER BY s.event_type
"""


@register(
    "q_kmv_distinct",
    oracle=_KMV_ORACLE,
    doc="K-minimum-values distinct-count sketch per event_type: hash each "
    "key to a uniform unit double (md5-derived, exact /2^52 scaling), keep "
    "the k=64 smallest per group, estimate |D| = (k-1)/h_(k). The "
    "mergeable property is exercised FOR REAL: phase 1 keeps each hash "
    "bucket's k smallest, phase 2 merges the ≤64·k survivors — the k "
    "smallest of a union are computable from per-part k-smallest lists, "
    "so no reducer ever sees a whole group's key stream (Spark's own "
    "approx_count_distinct is the HLL cousin; KMV is the one whose value "
    "an independent engine reproduces bit-for-bit, and the result is "
    "provably independent of the bucketing). Exact distinct is joined in "
    "to exhibit the estimation error.",
    tags=["sketch"],
)
def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    dv = ev.select("event_type", "user_id").distinct()
    hashed = dv.withColumn("u", F.expr(_KMV_U_SPARK))
    # Two-phase merge — the actual mergeable-sketch shape: each of 64
    # hash buckets keeps ITS k smallest (phase 1), and the global k
    # smallest are selected from the ≤64·k survivors (phase 2).  The
    # union of per-bucket k-smallest always contains the global
    # k-smallest, so the result is independent of the bucketing; what it
    # buys at 100 TB is that no single reducer ever sees a whole group's
    # key stream — phase 1 spreads each group over 64 cells and phase 2
    # shuffles ≤64·k rows per group instead of |distinct keys|.
    phase1 = (
        hashed.groupBy(
            "event_type",
            F.pmod(F.xxhash64("user_id"), F.lit(64)).alias("_bucket"),
        )
        .agg(
            F.expr(
                f"slice(array_sort(collect_list(struct(u, user_id))),"
                f" 1, {KMV_K})"
            ).alias("tops")
        )
        .select("event_type", F.explode("tops").alias("t"))
        .select("event_type", "t.u", "t.user_id")
    )
    w = Window.partitionBy("event_type").orderBy("u", "user_id")
    sketch = (
        phase1.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= KMV_K)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_seen"), F.max("u").alias("kth"))
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct")
    )
    return (
        sketch.join(exact, "event_type")
        .select(
            "event_type",
            F.when(
                F.col("n_seen") < KMV_K, F.col("n_seen").cast("double")
            )
            # try_divide: kth == 0 needs a hash-unit value of exactly
            # zero (p = 2^-64 per key) but would kill the whole job under
            # ANSI; NULL matches the oracle's native /0 NULL
            .otherwise(F.try_divide(F.lit(float(KMV_K - 1)), F.col("kth")))
            .alias("est_distinct"),
            "exact_distinct",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Bloom-pruned join
# ---------------------------------------------------------------------------

BLOOM_BITS = 1 << 16  # 65536 bits = 1024 64-bit words
BLOOM_HASHES = 3


def _bloom_pos(i: int, col: str) -> str:
    """Bit position i for a key (Spark SQL; the oracle never needs it —
    false positives are eliminated by the exact join, so the oracle is the
    plain join)."""
    return (
        f"CAST(CONV(SUBSTRING(MD5(CONCAT('bloom{i}:', CAST({col} AS STRING))),"
        f" 1, 8), 16, 10) AS BIGINT) % {BLOOM_BITS}"
    )


@register(
    "q_bloom_join_prune",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           {dsum('o_totalprice')} AS sum_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="Explicit Bloom-filter join pruning — the hand-rolled form of "
    "Spark's AQE runtime row-group filter, exhibited so the plan is "
    "inspectable: (1) hash the BUILDING customers' keys into a 64 Ki-bit "
    "bitset packed as a word→bits map (ONE aggregate, mergeable by OR); "
    "(2) broadcast the ~8 KB map and drop fact rows whose 3 probe bits "
    "aren't all set — BEFORE the join shuffle, which at 100 TB is the "
    "difference between shuffling ~1/5 of orders and all of them; "
    "(3) exact-join the survivors so false positives die and the result "
    "equals the plain join (which is exactly what the oracle runs).",
    tags=["scale"],
)
def q_bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    # Build: explode each key's k bit positions, OR them into 64-bit words.
    words = (
        cust.select(
            F.explode(
                F.array(
                    *[
                        F.expr(_bloom_pos(i, "c_custkey"))
                        for i in range(BLOOM_HASHES)
                    ]
                )
            ).alias("pos")
        )
        .select(
            (F.col("pos") / 64).cast("long").alias("word"),
            F.expr("shiftleft(1L, CAST(pos % 64 AS INT))").alias("bit"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(bit)").alias("bits"))
    )
    bmap = words.groupBy().agg(
        F.map_from_entries(F.collect_list(F.struct("word", "bits"))).alias(
            "bmap"
        )
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_totalprice"
    )
    # Each bit position is computed ONCE into a column (a md5 per hash per
    # row), then the k bit tests share those columns — writing the test as
    # k chained filters would re-evaluate every md5 in both the word and
    # the bit subexpression.
    probed = orders.crossJoin(F.broadcast(bmap)).select(
        "*",
        *[
            F.expr(_bloom_pos(i, "o_custkey")).alias(f"_p{i}")
            for i in range(BLOOM_HASHES)
        ],
    )
    for i in range(BLOOM_HASHES):
        probed = probed.where(
            F.expr(
                f"(COALESCE(element_at(bmap, CAST(_p{i} DIV 64 AS BIGINT)),"
                f" 0L) & shiftleft(1L, CAST(_p{i} % 64 AS INT))) != 0"
            )
        )
    # Exact join of the pruned fact side kills Bloom false positives.
    return (
        probed.join(F.broadcast(cust), probed.o_custkey == cust.c_custkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.expr(dsum("o_totalprice")).alias("sum_price"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Triangle counting
# ---------------------------------------------------------------------------

TRIANGLE_MIN_SUPPORT = 2

_TRIANGLE_ORACLE = f"""
WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
    SELECT a.l_partkey AS p1, b.l_partkey AS p2
    FROM pp a JOIN pp b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING COUNT(*) >= {TRIANGLE_MIN_SUPPORT}
),
wedges AS (
    SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
    FROM edges e1 JOIN edges e2 ON e1.p2 = e2.p1
)
SELECT w.a, w.b, w.c
FROM wedges w JOIN edges e ON w.a = e.p1 AND w.c = e.p2
ORDER BY w.a, w.b, w.c
"""


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(p1, p2) support-filtered co-purchase part edges, p1 < p2.

    Reuses the dedup package's posting-list kernel: group the basket
    (order → sorted part array, ONE shuffle), then emit each basket's
    k·(k-1)/2 ordered pairs inside whole-stage codegen and count them —
    no orderkey self-join materializing every pair twice.  The per-basket
    fan-out is bounded by order size (≤7 lines in TPC-H).
    """
    from ..operators.dedup import _pair_common_counts, _shingle_postings

    pp = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("shingle"),
        F.col("l_partkey").alias("doc_id"),
    )
    postings = _shingle_postings(pp.distinct(), None)
    return (
        _pair_common_counts(postings)
        .where(F.col("n_common") >= TRIANGLE_MIN_SUPPORT)
        .select(F.col("doc_a").alias("p1"), F.col("doc_b").alias("p2"))
    )


@register(
    "q_triangle_count",
    oracle=_TRIANGLE_ORACLE,
    doc="Triangle enumeration over the co-purchase graph: parts are linked "
    "when they appear in ≥2 common orders (the support filter prunes "
    "~115k random co-occurrences to ~3.4k real edges at sf0.01 — the same "
    "move frequent-itemset mining uses). Edges are then ORIENTED from the "
    "lower- to the higher-degree endpoint (ties by id), so every triangle "
    "is generated exactly once as a wedge at its (degree, id)-minimal "
    "vertex and the wedge fan-out per vertex is bounded by O(sqrt(m)) "
    "(arboricity) — a hub of degree d contributes d*(d-1)/2 wedges under "
    "id orientation but near zero as a wedge CENTER under degree "
    "orientation, which is what survives a power-law co-purchase graph at "
    "100 TB even if the support filter ever fails to tame the skew. "
    "Per-order pair fan-out is bounded by order size (≤7 lines in TPC-H), "
    "so the edge build is linear in lineitem.",
    tags=["graph"],
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import degree_oriented_wedges

    # checkpoint: edges feed the degree agg, the orientation join, and the
    # triangle-closing join — without materialization the posting-list
    # kernel would be re-derived three times (the pagerank discipline).
    edges = copurchase_edges(spark, sf_dir).localCheckpoint(eager=True)
    wedges = degree_oriented_wedges(edges)
    # Close against the undirected id-ordered edge set (v < w already).
    closed = wedges.join(
        edges,
        (F.col("v") == F.col("p1")) & (F.col("w") == F.col("p2")),
    ).select(F.array_sort(F.array("u", "v", "w")).alias("t"))
    return closed.select(
        F.col("t")[0].alias("a"),
        F.col("t")[1].alias("b"),
        F.col("t")[2].alias("c"),
    ).orderBy("a", "b", "c")


# ---------------------------------------------------------------------------
# Streaming sketch maintenance
# ---------------------------------------------------------------------------

_STREAM_CMS_ORACLE = f"""
SELECT d, bucket, COUNT(*) AS cnt FROM (
    {" UNION ALL ".join(
        f"SELECT {d} AS d,"
        f" {_cms_bucket_duck(d, 'CAST(user_id AS VARCHAR)')} AS bucket"
        " FROM events"
        for d in range(CMS_DEPTH)
    )}
)
GROUP BY d, bucket
ORDER BY d, bucket
"""


@register(
    "q_stream_cms_merge",
    oracle=_STREAM_CMS_ORACLE,
    bench=False,  # drains a streaming query; not a plan-timing benchmark
    doc="Count-Min sketch maintained BY A STREAM: the (depth × bucket) "
    "count grid is the streaming aggregation state — bounded at "
    "depth×width rows forever — and because cells merge by sum, the "
    "drained sketch is bit-identical no matter how the stream was "
    "micro-batched (pinned against a 5-batch replay in "
    "tests/test_streaming_multimodal.py). That mergeability gives this "
    "stateful streaming job a full value-level SQL oracle over the same "
    "events, which rows-only streaming checks can't have. At 100 TB/day "
    "this is how a live heavy-hitters dashboard runs: kilobytes of "
    "state, one update per cell per trigger.",
)
def q_stream_cms_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import (
        cms_cell_counts,
        run_available_now,
        stream_events,
    )

    cells = run_available_now(
        cms_cell_counts(stream_events(spark, sf_dir)),
        "q_stream_cms_mem",
        output_mode="complete",
    )
    return cells.orderBy("d", "bucket")


# ---------------------------------------------------------------------------
# KMV set algebra (theta-sketch-style intersection estimate)
# ---------------------------------------------------------------------------


@register(
    "q_kmv_intersect",
    oracle=f"""
    WITH dv AS (
        SELECT DISTINCT event_type, user_id FROM events
    ),
    hashed AS (SELECT DISTINCT event_type, {_KMV_U_DUCK} AS u FROM dv),
    sk AS (
        SELECT event_type,
               list_sort(list(u ORDER BY u))[1:{KMV_K}] AS us
        FROM hashed GROUP BY event_type
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               list_sort(list_distinct(list_concat(a.us, b.us)))[1:{KMV_K}]
                 AS merged,
               a.us AS us_a, b.us AS us_b
        FROM sk a JOIN sk b ON a.event_type < b.event_type
    ),
    est AS (
        SELECT type_a, type_b,
               len(merged) AS n_m,
               merged[len(merged)] AS theta,
               len(list_intersect(list_intersect(merged, us_a), us_b))
                 AS n_both
        FROM pairs
    ),
    exact AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               COUNT(*) AS exact_intersect
        FROM dv a JOIN dv b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT e.type_a, e.type_b,
           ROUND(CASE WHEN e.n_m < {KMV_K} THEN CAST(e.n_m AS DOUBLE)
                      ELSE ({KMV_K} - 1) / e.theta END
                 * e.n_both / e.n_m, 2) AS est_intersect,
           x.exact_intersect
    FROM est e JOIN exact x
      ON x.type_a = e.type_a AND x.type_b = e.type_b
    ORDER BY e.type_a, e.type_b
    """,
    doc="Theta-sketch-style SET INTERSECTION estimation from KMV sketches: "
    "for every event-type pair, merge the two k-minimum-value sketches "
    "(k smallest of the union — the same mergeable algebra as "
    "q_kmv_distinct), estimate |A∪B| = (k-1)/θ from the merged kth value, "
    "and scale it by the fraction of merged-sketch members present in "
    "BOTH input sketches.  This is how audience-overlap queries run at "
    "100 TB: each set reduces to a kilobyte sketch once, and any of the "
    "n² pairwise overlaps is then computable from sketches alone — no "
    "re-scan, no pairwise key-stream joins.  Exact intersection is joined "
    "in to exhibit the estimation error; md5-derived hashing makes every "
    "estimate bit-reproducible in the DuckDB oracle.",
    tags=["sketch"],
)
def q_kmv_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    dv = ev.select("event_type", "user_id").distinct()
    hashed = dv.select(
        "event_type", F.expr(_KMV_U_SPARK).alias("u")
    ).distinct()
    sk = hashed.groupBy("event_type").agg(
        F.expr(f"slice(array_sort(collect_list(u)), 1, {KMV_K})").alias("us")
    )
    a, b = sk.alias("a"), sk.alias("b")
    pairs = a.join(
        F.broadcast(b), F.col("a.event_type") < F.col("b.event_type")
    ).select(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
        F.expr(
            f"slice(array_sort(array_distinct(concat(a.us, b.us))),"
            f" 1, {KMV_K})"
        ).alias("merged"),
        F.col("a.us").alias("us_a"),
        F.col("b.us").alias("us_b"),
    )
    est = pairs.select(
        "type_a",
        "type_b",
        F.size("merged").alias("n_m"),
        F.element_at("merged", F.size("merged")).alias("theta"),
        F.size(
            F.array_intersect(F.array_intersect("merged", "us_a"), "us_b")
        ).alias("n_both"),
    )
    exact = (
        dv.alias("x")
        .join(
            dv.alias("y"),
            (F.col("x.user_id") == F.col("y.user_id"))
            & (F.col("x.event_type") < F.col("y.event_type")),
        )
        .groupBy(
            F.col("x.event_type").alias("type_a"),
            F.col("y.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("exact_intersect"))
    )
    union_est = F.when(
        F.col("n_m") < KMV_K, F.col("n_m").cast("double")
    ).otherwise(  # try_divide: same zero-hash case as q_kmv_distinct
        F.try_divide(F.lit(float(KMV_K - 1)), F.col("theta"))
    )
    return (
        est.join(exact, ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            F.round(
                union_est * F.col("n_both") / F.col("n_m"), 2
            ).alias("est_intersect"),
            "exact_intersect",
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# Bounded BFS shortest paths
# ---------------------------------------------------------------------------

BFS_MAX_HOPS = 3


@register(
    "q_shortest_path",
    oracle=f"""
    WITH RECURSIVE pp AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    edges0 AS (
        SELECT a.l_partkey AS p1, b.l_partkey AS p2
        FROM pp a JOIN pp b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= {TRIANGLE_MIN_SUPPORT}
    ),
    edges AS (
        SELECT p1 AS src, p2 AS dst FROM edges0
        UNION ALL SELECT p2, p1 FROM edges0
    ),
    seed AS (SELECT MIN(src) AS node FROM edges),
    walk(node, dist) AS (
        SELECT node, 0 FROM seed
        UNION
        SELECT e.dst, w.dist + 1
        FROM walk w JOIN edges e ON e.src = w.node
        WHERE w.dist < {BFS_MAX_HOPS}
    )
    SELECT node AS part_id, MIN(dist) AS dist
    FROM walk GROUP BY node
    """,
    doc=f"Bounded breadth-first shortest paths ({BFS_MAX_HOPS} hops) from "
    "the smallest node of the co-purchase part graph (same support-"
    "filtered edges as q_triangle_count, built once by the posting-list "
    "kernel).  Synchronous frontier expansion: each hop is one join of "
    "the previous level against the symmetrized edge list, and the final "
    "min-dist aggregate collapses re-reached nodes — the Pregel iteration "
    "pattern expressed as joins, like q_pagerank but with integer "
    "distances (bit-exact in any engine, no decimal machinery needed).  "
    "Hop count is fixed, so the lineage is a bounded 3-join plan; the "
    "DuckDB oracle walks the same graph with a bounded recursive CTE.",
    tags=["graph"],
)
def q_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.iterate import undirect

    # The symmetrized edge list feeds the seed aggregate plus one join per
    # hop; unpersisted, Spark re-derives the whole edge pipeline (scan →
    # posting lists → pair counts → support filter) four times — measured
    # 3.1 s → 1.3 s at sf0.1 with the pagerank persistence discipline
    # (operators/graph.py): persist the edges, materialize the result via
    # eager localCheckpoint, release the cached blocks before returning.
    sym = (
        undirect(copurchase_edges(spark, sf_dir), "p1", "p2")
        .toDF("src", "dst")
        .persist()
    )
    dist = (
        sym.agg(F.min("src").alias("node"))
        .select("node", F.lit(0).alias("dist"))
    )
    frontier = dist
    for h in range(1, BFS_MAX_HOPS + 1):
        frontier = (
            frontier.select(F.col("node").alias("src"))
            .join(sym, "src")
            .select(F.col("dst").alias("node"), F.lit(h).alias("dist"))
            .distinct()  # collapse the frontier before the next expansion
        )
        dist = dist.unionAll(frontier)
    out = dist.groupBy(F.col("node").alias("part_id")).agg(
        F.min("dist").alias("dist")
    )
    try:
        return out.localCheckpoint(eager=True)
    finally:
        sym.unpersist()


# ---------------------------------------------------------------------------
# Association rules (market-basket mining)
# ---------------------------------------------------------------------------

BASKET_MIN_SUPPORT = 3


@register(
    "q_market_basket",
    oracle=f"""
    WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    item AS (SELECT l_partkey, COUNT(*) AS c FROM pp GROUP BY 1),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM pp),
    pairs AS (
        SELECT a.l_partkey AS item_a, b.l_partkey AS item_b,
               COUNT(*) AS support
        FROM pp a JOIN pp b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= {BASKET_MIN_SUPPORT}
    )
    SELECT p.item_a, p.item_b, p.support,
           CAST(p.support AS DOUBLE) / ca.c AS conf_a_b,
           CAST(p.support AS DOUBLE) / cb.c AS conf_b_a,
           CAST(p.support AS DOUBLE) * n.n_baskets
                 / (CAST(ca.c AS DOUBLE) * cb.c) AS lift
    FROM pairs p
    JOIN item ca ON ca.l_partkey = p.item_a
    JOIN item cb ON cb.l_partkey = p.item_b
    CROSS JOIN n
    ORDER BY p.item_a, p.item_b
    """,
    doc="Association-rule mining (Apriori's pair stage) over order "
    f"baskets: co-purchase pairs at support >= {BASKET_MIN_SUPPORT} with "
    "confidence in both directions and lift.  Pair generation reuses the "
    "posting-list kernel (basket → sorted item array, codegen pair "
    "explosion — per-basket fan-out bounded by order size, never a "
    "lineitem self-join), the support filter prunes before the marginals "
    "join, and the item counts + basket total join back broadcast-sized. "
    " The recommender/cross-sell primitive; at 100 TB the only data-"
    "sized shuffles are the basket group and the pair count.",
    tags=["graph"],
)
def q_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import _pair_common_counts, _shingle_postings

    pp = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("shingle"),
        F.col("l_partkey").alias("doc_id"),
    ).distinct()
    postings = _shingle_postings(pp, None)
    pairs = (
        _pair_common_counts(postings)
        .where(F.col("n_common") >= BASKET_MIN_SUPPORT)
        .select(
            F.col("doc_a").alias("item_a"),
            F.col("doc_b").alias("item_b"),
            F.col("n_common").alias("support"),
        )
    )
    item = pp.groupBy(F.col("doc_id").alias("item")).agg(
        F.count(F.lit(1)).alias("c")
    ).persist()  # item-sized, consumed by BOTH confidence sides
    # (multi-consumer rule)
    n = pp.agg(F.count_distinct("shingle").alias("n_baskets"))
    ca = item.select(F.col("item").alias("item_a"), F.col("c").alias("ca"))
    cb = item.select(F.col("item").alias("item_b"), F.col("c").alias("cb"))
    return (
        pairs.join(ca, "item_a")
        .join(cb, "item_b")
        .crossJoin(F.broadcast(n))
        .select(
            "item_a",
            "item_b",
            "support",
            # raw exact-integer quotients — no rounding (rational-ROUND
            # trap, see queries/exact.py)
            (F.col("support").cast("double") / F.col("ca")).alias(
                "conf_a_b"
            ),
            (F.col("support").cast("double") / F.col("cb")).alias(
                "conf_b_a"
            ),
            (
                F.col("support").cast("double")
                * F.col("n_baskets")
                / (F.col("ca").cast("double") * F.col("cb"))
            ).alias("lift"),
        )
        .orderBy("item_a", "item_b")
    )


#: ONE SQL text, two engines: Spark 4's recursive CTE support (UNION ALL
#: form) lets the bounded BFS run verbatim in both — the declarative twin
#: of q_shortest_path's frontier joins, each cross-checking the other.
_RCTE_SQL = f"""
    WITH RECURSIVE pp AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    edges0 AS (
        SELECT a.l_partkey AS p1, b.l_partkey AS p2
        FROM pp a JOIN pp b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= {TRIANGLE_MIN_SUPPORT}
    ),
    edges AS (
        SELECT p1 AS src, p2 AS dst FROM edges0
        UNION ALL SELECT p2, p1 FROM edges0
    ),
    seed AS (SELECT MIN(src) AS node FROM edges),
    walk(node, dist) AS (
        SELECT node, 0 FROM seed
        UNION ALL
        SELECT e.dst, w.dist + 1
        FROM walk w JOIN edges e ON e.src = w.node
        WHERE w.dist < {BFS_MAX_HOPS}
    )
    SELECT node AS part_id, MIN(dist) AS dist
    FROM walk GROUP BY node
"""


#: Non-recursive prefix of _RCTE_SQL (pp -> support filter -> undirected
#: edges), materialized ONCE on the Spark side.  Spark 4's UnionLoop
#: INLINES non-recursive CTEs into the loop body, so executing the oracle
#: string verbatim re-derives the whole distinct + self-join + aggregate
#: edge build on every recursion step — the seed plus every walk
#: iteration each paid the full lineitem edge build (plan evidence:
#: plans/r13/q_recursive_cte_before.txt repeats the edge subtree under
#: UnionLoopRef).  DuckDB materializes CTEs by default, so the oracle
#: side already runs the once-materialized shape.
_RCTE_EDGES_SQL = f"""
    WITH pp AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    edges0 AS (
        SELECT a.l_partkey AS p1, b.l_partkey AS p2
        FROM pp a JOIN pp b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= {TRIANGLE_MIN_SUPPORT}
    )
    SELECT p1 AS src, p2 AS dst FROM edges0
    UNION ALL SELECT p2, p1 FROM edges0
"""

#: Recursive remainder: byte-identical to the oracle's seed/walk/rollup
#: clauses except that ``edges`` is the materialized view.
_RCTE_WALK_SQL = f"""
    WITH RECURSIVE
    seed AS (SELECT MIN(src) AS node FROM {{edges}}),
    walk(node, dist) AS (
        SELECT node, 0 FROM seed
        UNION ALL
        SELECT e.dst, w.dist + 1
        FROM walk w JOIN {{edges}} e ON e.src = w.node
        WHERE w.dist < {BFS_MAX_HOPS}
    )
    SELECT node AS part_id, MIN(dist) AS dist
    FROM walk GROUP BY node
"""


@register(
    "q_recursive_cte",
    oracle=_RCTE_SQL,
    bench=False,  # path-enumeration recursion: q_shortest_path is the
    # bench'd frontier-join form of the same computation
    doc="RECURSIVE CTE surface (Spark 4 WITH RECURSIVE): the bounded BFS "
    "expressed declaratively; the seed/walk/rollup recursion SQL is the "
    "oracle's own text, so the parity check proves Spark's recursion "
    "semantics (UNION ALL expansion, bounded by the dist predicate) "
    "against an independent implementation.  The non-recursive edge "
    "derivation is materialized once before the loop (localCheckpoint): "
    "Spark's UnionLoop inlines non-recursive CTEs into the loop body, so "
    "running the full oracle text verbatim re-derived the distinct + "
    "self-join + support aggregate EVERY iteration — a per-step "
    "table-scale recompute that turns bounded BFS into hops x edge-build "
    "at 100 TB.  DuckDB materializes CTEs by default, so both engines "
    "now execute the same once-materialized shape.  Complements "
    "q_shortest_path: same answer from the imperative frontier-join "
    "form, each cross-checking the other.  The UNION ALL recursion "
    "enumerates paths, so the hop bound is the termination guarantee; "
    "the min-dist rollup collapses re-reached nodes exactly as the "
    "frontier form's final aggregate does.",
    tags=["graph"],
)
def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import register_views

    register_views(spark, sf_dir, ["lineitem"])
    edges = spark.sql(_RCTE_EDGES_SQL).localCheckpoint(eager=True)
    return spark.sql(_RCTE_WALK_SQL, edges=edges)


# ---------------------------------------------------------------------------
# k-core decomposition
# ---------------------------------------------------------------------------

KCORE_K = 3
KCORE_ROUNDS = 6


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unrolled synchronous peeling as a CTE chain — the DuckDB twin of
    operators/graph.py kcore (same round count, same semantics, so parity
    holds even before the peel reaches fixpoint)."""
    ctes = [
        "pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        f"""edges AS (
        SELECT a.l_partkey AS p1, b.l_partkey AS p2
        FROM pp a JOIN pp b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= {TRIANGLE_MIN_SUPPORT}
    )""",
        "und AS (SELECT p1 AS a, p2 AS b FROM edges"
        " UNION ALL SELECT p2, p1 FROM edges)",
        "n0 AS (SELECT DISTINCT a AS v FROM und)",
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"d{i} AS (SELECT u.a AS v, COUNT(*) AS deg FROM und u"
            f" JOIN n{i - 1} x ON u.a = x.v"
            f" JOIN n{i - 1} y ON u.b = y.v GROUP BY u.a)"
        )
        ctes.append(f"n{i} AS (SELECT v FROM d{i} WHERE deg >= {k})")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT v, deg FROM d{rounds} WHERE deg >= {k} ORDER BY v"
    )


@register(
    "q_kcore",
    oracle=_kcore_oracle(KCORE_K, KCORE_ROUNDS),
    doc=f"{KCORE_K}-core of the support-filtered co-purchase graph "
    "(operators/graph.py kcore): synchronously peel vertices with "
    "induced degree < k until only the dense core survives — the "
    "standard community/spam-cluster primitive, and the graph analogue "
    "of the curation gates (drop low-connectivity items before "
    "expensive downstream analysis).  Pure integer counting — exact on "
    "any engine; the oracle unrolls the SAME fixed peel rounds as a CTE "
    "chain, so values match even mid-convergence, and the shipped round "
    f"count ({KCORE_ROUNDS}) is test-pinned to reach fixpoint on this "
    "corpus.  Each round: one degree aggregation + two vertex-keyed "
    "semi-joins over checkpointed frontiers — rounds scale with peel "
    "depth, never graph size.",
    tags=["graph"],
)
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import kcore

    edges = copurchase_edges(spark, sf_dir)
    return kcore(edges, KCORE_K, KCORE_ROUNDS).orderBy("v")


# ---------------------------------------------------------------------------
# Portable HyperLogLog (value-checked, unlike approx_count_distinct)
# ---------------------------------------------------------------------------

HLL_M = 256  # registers; standard error ~ 1.04/sqrt(m) = 6.5%

#: 52 md5-derived hash bits per distinct user: low 8 = register index,
#: high 44 feed the rho (leading-zero rank) — engine-specific derivation,
#: identical values
_HLL_H52_SPARK = (
    "CAST(CONV(SUBSTRING(MD5(CONCAT('hll:', CAST(user_id AS STRING))), 1,"
    " 13), 16, 10) AS BIGINT)"
)
_HLL_H52_DUCK = (
    "CAST(('0x' || SUBSTRING(MD5('hll:' || CAST(user_id AS VARCHAR)), 1,"
    " 13)) AS BIGINT)"
)
_HLL_RHO_SPARK = (
    "CASE WHEN h52 DIV 256 = 0 THEN 45"
    " ELSE instr(lpad(bin(h52 DIV 256), 44, '0'), '1') END"
)
_HLL_RHO_DUCK = (
    "CASE WHEN h52 // 256 = 0 THEN 45"
    " ELSE instr(lpad(bin(h52 // 256), 44, '0'), '1') END"
)
#: estimator readout — IDENTICAL text both engines.  total is the integer
#: sum over all m registers of 2^(45 - M_j) (empty registers contribute
#: 2^45), so 1/total is the harmonic mean term scaled by 2^45: each term
#: <= 2^44 and m = 256, so total < 2^53 — exact in BIGINT, making the
#: whole sketch reduction integer arithmetic; the ONE double division
#: happens in this shared readout.  Small-range branch: linear counting
#: when registers remain empty and the raw estimate is below 2.5m.
_HLL_EST = (
    "CASE WHEN zeros > 0 AND"
    " 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 35184372088832.0"
    " / CAST(total AS DOUBLE) <= 640.0"
    " THEN 256.0 * LN(256.0 / CAST(zeros AS DOUBLE))"
    " ELSE 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 35184372088832.0"
    " / CAST(total AS DOUBLE) END"
)

_HLL_ORACLE = f"""
WITH dv AS (SELECT DISTINCT event_type, user_id FROM events),
hashed AS (SELECT event_type, {_HLL_H52_DUCK} AS h52 FROM dv),
regs AS (
  SELECT event_type, h52 % 256 AS reg, MAX({_HLL_RHO_DUCK}) AS m_j
  FROM hashed GROUP BY 1, 2
),
sk AS (
  SELECT event_type,
         CAST(SUM(1::BIGINT << (45 - m_j)) AS BIGINT)
           + (256 - COUNT(*)) * (1::BIGINT << 45) AS total,
         256 - COUNT(*) AS zeros
  FROM regs GROUP BY event_type
),
ex AS (
  SELECT event_type, COUNT(*) AS n_exact FROM dv GROUP BY event_type
)
SELECT s.event_type, e.n_exact,
       ROUND({_HLL_EST}, 4) AS hll_est,
       ROUND(({_HLL_EST} - e.n_exact) / e.n_exact, 6) AS rel_error
FROM sk s JOIN ex e USING (event_type)
ORDER BY s.event_type
"""


@register(
    "q_hll_portable",
    oracle=_HLL_ORACLE,
    doc="HyperLogLog built from scratch on portable hashes — unlike "
    "approx_count_distinct (whose Spark-internal sketch no other engine "
    "can reproduce, hence q_approx_distinct's rows-only check), every "
    "step here is value-checked: md5-derived 52-bit hash -> 8-bit "
    "register index + leading-zero rank via bin()/instr() STRING ops "
    "(pure integer/string arithmetic), registers reduce by MAX (the "
    "mergeable state — partial aggregation merges registers map-side, "
    "exactly how a 100 TB scan keeps the shuffle at 256 rows per group), "
    "and the harmonic-mean readout is scaled by 2^45 so the register "
    "reduction stays EXACT BIGINT with one shared-text double division "
    "at the end.  Includes the standard linear-counting small-range "
    "branch.  rel_error vs the exact distinct count lands within the "
    "1.04/sqrt(256) = 6.5% design band.",
    tags=["sketch"],
)
def q_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # No shared .distinct().persist() (round 13): duplicates of
    # (event_type, user_id) hash to the same (reg, rho) cell and the
    # register MAX absorbs them, so the sketch branch needs no distinct
    # at all — it partial-aggregates map-side down to |types x 256|
    # cells before the shuffle.  The exact-count branch is
    # count_distinct, whose two-phase plan dedups (type, user) pairs
    # map-side too.  Both branches now shuffle bounded partial states
    # instead of materializing a distinct set whose persist footprint is
    # ∝ data — the very thing sketch algebra exists to avoid at 100 TB
    # (guide §2.3: aggregate before you shuffle).  Cells, counts, and
    # the oracle (which keeps its dv CTE) are identical.
    dv = ev.select("event_type", "user_id")
    hashed = dv.selectExpr("event_type", f"{_HLL_H52_SPARK} AS h52")
    regs = hashed.selectExpr(
        "event_type", "h52 % 256 AS reg", f"{_HLL_RHO_SPARK} AS rho"
    ).groupBy("event_type", "reg").agg(F.max("rho").alias("m_j"))
    sk = regs.groupBy("event_type").agg(
        (
            F.sum(F.expr("shiftleft(1L, 45 - m_j)"))
            + (F.lit(256) - F.count(F.lit(1)))
            * F.expr("shiftleft(1L, 45)")
        )
        .cast("bigint")
        .alias("total"),
        (F.lit(256) - F.count(F.lit(1))).alias("zeros"),
    )
    ex = dv.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact")
    )
    return (
        sk.join(ex, "event_type")
        .selectExpr(
            "event_type",
            "n_exact",
            f"ROUND({_HLL_EST}, 4) AS hll_est",
            f"ROUND(({_HLL_EST} - n_exact) / n_exact, 6) AS rel_error",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Mergeable quantile-histogram sketch (value-checked, unlike approx_percentile)
# ---------------------------------------------------------------------------

QH_BIN = 1000.0  #: fixed bin width over o_totalprice (abs error <= BIN/2)

#: bucket assignment and midpoint readout — deterministic double ops only
#: (division and multiplication are correctly rounded IEEE; no exp/pow)
_QH_BUCKET = "CAST(floor(o_totalprice / 1000.0) AS BIGINT)"
#: a zero exact percentile (possible only on a degenerate all-zero price
#: corpus) would divide by zero — emit NULL explicitly rather than an
#: engine-divergent inf (the q_top_movers make-the-guard-explicit rule)
_QH_REL_ERR = (
    "ROUND(CASE WHEN exact_p = 0.0 THEN NULL"
    " ELSE ((CAST(bucket AS DOUBLE) + CAST(0.5 AS DOUBLE)) * CAST(1000.0 AS DOUBLE) - exact_p)"
    " / exact_p END, 6)"
)


@register(
    "q_quantile_histogram",
    oracle=f"""
    WITH cells AS (
      SELECT date_trunc('month', o_orderdate) AS mon,
             {_QH_BUCKET} AS bucket, COUNT(*) AS c
      FROM orders GROUP BY 1, 2
    ),
    merged AS (SELECT bucket, CAST(SUM(c) AS BIGINT) AS c
               FROM cells GROUP BY bucket),
    cum AS (
      SELECT bucket,
             CAST(SUM(c) OVER (ORDER BY bucket
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM merged
    ),
    nt AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM merged),
    qs AS (SELECT * FROM (VALUES (50), (90), (99)) t(qpct)),
    hit AS (
      SELECT q.qpct, MIN(c.bucket) AS bucket
      FROM qs q CROSS JOIN nt, cum c
      WHERE 100 * c.cum >= q.qpct * nt.n
      GROUP BY q.qpct
    ),
    ex AS (
      SELECT UNNEST([50, 90, 99]) AS qpct,
             UNNEST([quantile_cont(o_totalprice, 0.50),
                     quantile_cont(o_totalprice, 0.90),
                     quantile_cont(o_totalprice, 0.99)]) AS exact_p
      FROM orders
    )
    SELECT h.qpct, h.bucket,
           (CAST(bucket AS DOUBLE) + CAST(0.5 AS DOUBLE)) * CAST(1000.0 AS DOUBLE) AS est_mid,
           ROUND(exact_p, 6) AS exact_pctl,
           {_QH_REL_ERR} AS rel_err
    FROM hit h JOIN ex USING (qpct)
    ORDER BY h.qpct
    """,
    doc="Mergeable quantile-histogram sketch, value-checked end to end "
    "(the portable counterpart of q_approx_percentile's rows-only GK "
    "demo, the same relationship q_hll_portable has to "
    "q_approx_distinct): fixed-width bins over o_totalprice give "
    "per-month (bucket, count) cells — phase 1, the only data-sized "
    "shuffle, map-side combined; phase 2 merges month sketches by "
    "summing cells (the mergeable algebra: any coarser rollup reuses "
    "the same cells); the quantile readout walks the cumulative "
    "histogram with a PURE-INTEGER threshold (100*cum >= q*N — no "
    "float boundary to flip cross-engine) and reports the bin "
    "midpoint, whose abs error is bounded by BIN/2 by construction.  "
    "The cumulative walk and readout run on the sketch (|buckets| "
    "rows), never the data; exact interpolated percentiles ride along "
    "to measure the bound.  All double ops are correctly-rounded "
    "division/multiplication — no exp/pow (the q_weighted_sample ulp "
    "lesson).",
    tags=["sketch"],
)
def q_quantile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    cells = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("mon"),
        F.expr(_QH_BUCKET).alias("bucket"),
    ).agg(F.count(F.lit(1)).alias("c"))
    merged = cells.groupBy("bucket").agg(
        F.sum("c").cast("bigint").alias("c")
    ).persist()  # |buckets| rows; cum walk and grand total both read it
    # cumulative walk over the SKETCH (|buckets| rows, sketch-sized —
    # the global-order window is on purpose; see _SINGLE_PARTITION_OK)
    cum = merged.withColumn(
        "cum",
        F.sum("c")
        .over(W.orderBy("bucket").rowsBetween(W.unboundedPreceding, 0))
        .cast("bigint"),
    )
    nt = merged.agg(F.sum("c").cast("bigint").alias("n"))
    qs = nt.selectExpr("explode(array(50, 90, 99)) AS qpct", "n")
    hit = (
        qs.join(
            F.broadcast(cum.select("bucket", "cum")),
            F.lit(100) * F.col("cum") >= F.col("qpct") * F.col("n"),
        )
        .groupBy("qpct")
        .agg(F.min("bucket").alias("bucket"))
    )
    ex = orders.agg(
        F.expr("percentile(o_totalprice, 0.50)").alias("p50"),
        F.expr("percentile(o_totalprice, 0.90)").alias("p90"),
        F.expr("percentile(o_totalprice, 0.99)").alias("p99"),
    ).selectExpr("stack(3, 50, p50, 90, p90, 99, p99) AS (qpct, exact_p)")
    return (
        hit.join(F.broadcast(ex), "qpct")
        .selectExpr(
            "qpct",
            "bucket",
            "(CAST(bucket AS DOUBLE) + CAST(0.5 AS DOUBLE)) * CAST(1000.0 AS DOUBLE) AS est_mid",
            "ROUND(exact_p, 6) AS exact_pctl",
            f"{_QH_REL_ERR} AS rel_err",
        )
        .orderBy("qpct")
    )


# ---------------------------------------------------------------------------
# Label propagation (community detection)
# ---------------------------------------------------------------------------

LPA_ROUNDS = 3


def _lpa_oracle(rounds: int) -> str:
    """Unrolled synchronous LPA as a CTE chain — the DuckDB twin of
    operators/graph.py label_propagation (same rounds, same smallest-label
    tie-break, so the cross-engine check is exact mid-convergence)."""
    ctes = [
        "pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        f"""edges AS (
        SELECT a.l_partkey AS p1, b.l_partkey AS p2
        FROM pp a JOIN pp b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= {TRIANGLE_MIN_SUPPORT}
    )""",
        "und AS (SELECT p1 AS a, p2 AS b FROM edges"
        " UNION ALL SELECT p2, p1 FROM edges)",
        "l0 AS (SELECT DISTINCT a AS v, a AS label FROM und)",
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"c{i} AS (SELECT u.a AS v, p.label, COUNT(*) AS c"
            f" FROM und u JOIN l{i - 1} p ON u.b = p.v"
            " GROUP BY u.a, p.label)"
        )
        ctes.append(
            f"l{i} AS (SELECT v, label FROM ("
            "SELECT v, label, row_number() OVER ("
            "PARTITION BY v ORDER BY c DESC, label) AS rn"
            f" FROM c{i}) WHERE rn = 1)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT v, label FROM l{rounds} ORDER BY v"
    )


@register(
    "q_label_propagation",
    oracle=_lpa_oracle(LPA_ROUNDS),
    doc="Community detection by synchronous label propagation over the "
    "support-filtered co-purchase graph (operators/graph.py "
    "label_propagation): every part starts as its own community and "
    "repeatedly adopts its neighbors' most frequent label, smallest "
    "label on ties — the deterministic LPA variant, which is what makes "
    "a cross-engine VALUE check possible at all (textbook LPA breaks "
    "ties randomly).  Complements the existing graph family: k-core "
    "finds the dense core, triangles count cohesion, connected "
    "components find reachability — LPA finds the community partition.  "
    f"Fixed {LPA_ROUNDS}-round unroll; the oracle replays identical "
    "rounds as a CTE chain.  Each round is one vertex-keyed edge⋈label "
    "join + one (v,label) count + one per-vertex argmax window — every "
    "shuffle keyed by vertex id, labels localCheckpoint'ed per round so "
    "lineage stays O(1); rounds scale with diameter, never graph size.",
    tags=["graph"],
)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import label_propagation

    edges = copurchase_edges(spark, sf_dir)
    return label_propagation(edges, LPA_ROUNDS).orderBy("v")


# -- q_bottomk_quantile ------------------------------------------------------

BKQ_K = 512  #: sample size; rank error ~ sqrt(p(1-p)/K) ≈ 2.2% at the median
_BKQ_PCTS = (50, 90, 99)
#: 52-bit md5 uniform in (0,1) keyed by order id — the portable-uniform
#: idiom shared with q_weighted_sample (scale.py).
_BKQ_U_SPARK = (
    "(CAST(CONV(SUBSTRING(MD5(CONCAT('bkq:', CAST(o_orderkey AS STRING))),"
    " 1, 13), 16, 10) AS DOUBLE) + 0.5) / 4503599627370496"
)
_BKQ_U_DUCK = (
    "(CAST(CAST(('0x' || SUBSTRING(MD5('bkq:' || CAST(o_orderkey AS"
    " VARCHAR)), 1, 13)) AS BIGINT) AS DOUBLE) + 0.5) / 4503599627370496"
)


@register(
    "q_bottomk_quantile",
    oracle=f"""
    WITH sample AS (
      SELECT o_totalprice, o_orderkey
      FROM orders
      ORDER BY {_BKQ_U_DUCK}, o_orderkey
      LIMIT {BKQ_K}
    ),
    ranked AS (
      SELECT o_totalprice,
             ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rn
      FROM sample
    )
    SELECT p.qpct, r.o_totalprice AS est
    FROM (VALUES {', '.join(f'({p})' for p in _BKQ_PCTS)}) p(qpct)
    JOIN ranked r
      ON r.rn = CAST(CEIL(p.qpct * {BKQ_K} / CAST(100.0 AS DOUBLE)) AS BIGINT)
    ORDER BY p.qpct
    """,
    doc="Mergeable quantile sketch as a BOTTOM-K uniform sample: every row "
    "draws a portable 52-bit md5 uniform and the K smallest keys form "
    "the sample — the classic mergeable sampler (the bottom-k of a "
    "union is the bottom-k of per-part bottom-ks), which Spark executes "
    "as TakeOrderedAndProject per-partition heaps with no global sort "
    "and O(K) driver state.  Quantiles read off the sample by exact "
    "rank selection (ceil(p*K), value+key tie-break), so unlike the "
    "GK/KLL native-API demos (q_approx_percentile, rows-only) the whole "
    "estimator is deterministic and VALUE-CHECKED against DuckDB "
    "replaying the identical sample.  Rank error is the textbook "
    f"sqrt(p(1-p)/K) (~2.2% at the median for K={BKQ_K}); "
    "tests/test_sketches.py pins the observed rank error.  The ranking "
    "window runs over the K-row sample only (see _SINGLE_PARTITION_OK).",
    tags=["sketch"],
)
def q_bottomk_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    sample = (
        orders.select(
            "o_totalprice", "o_orderkey", F.expr(_BKQ_U_SPARK).alias("_u")
        )
        .orderBy("_u", "o_orderkey")
        .limit(BKQ_K)
    )
    ranked = sample.withColumn(
        "rn", F.row_number().over(W.orderBy("o_totalprice", "o_orderkey"))
    )
    pcts = spark.createDataFrame(
        [(p,) for p in _BKQ_PCTS], "qpct int"
    ).withColumn(
        "target",
        F.expr(
            f"CAST(CEIL(qpct * {BKQ_K} / CAST(100.0 AS DOUBLE)) AS BIGINT)"
        ),
    )
    return (
        ranked.join(
            F.broadcast(pcts), F.col("rn") == F.col("target")
        )
        .select("qpct", F.col("o_totalprice").alias("est"))
        .orderBy("qpct")
    )
