"""Distributed graph analytics over warehouse-derived edge lists
(north-star layer).

Training-data pipelines use graph structure constantly: duplicate
clusters are connected components (``dedup.py``), source/citation
authority is PageRank, and community density (triangles, clustering
coefficient) flags botted/boilerplate user cohorts whose documents need
down-weighting. This module adds the two classic whole-graph operators —
PageRank and triangle counting — as oracle-checked queries over edges the
engine derives from its own tables, in the shape a 1000-executor job
needs: edge lists as DataFrames, iterations as join+aggregate rounds with
lineage cuts, and every accumulation in exact integers so results are
bit-stable under any partitioning (the discipline of ``plans/helpers.py``).

Determinism: PageRank is the textbook fixpoint ``r' = (1-d)/N + d *
sum(r(u)/outdeg(u))`` with d = 0.85 — but run entirely in scaled BIGINT
arithmetic: ranks are integers scaled by 10^12, per-edge contributions are
integer divisions ``rank div outdeg``, and the damping update is
``(3*base + 17*sum) div 20`` (0.15 = 3/20, 0.85 = 17/20). Integer sums
are associative, so Spark's shuffled partial aggregation and DuckDB's
sequential scan agree bit-for-bit; the rounding mass lost to floor
division is lost identically in both engines. The emitted double rank is
ONE exact-input IEEE division at the end.

Scale: the per-iteration work is one hash join (edges ⋈ ranks, both sides
partitioned on the join key) plus one hash aggregate — the canonical
Pregel-as-dataframe round. Lineage is cut per round (localCheckpoint here;
a checkpoint dir or scratch table on a cluster) so plan size stays O(1) in
iterations. Triangle counting orients each undirected edge low-id → high-id,
so every triangle is generated exactly once by a two-hop join+semijoin —
the standard MapReduce formulation (Suri & Vassilvitskii, WWW'11) whose
shuffle volume is O(sum of deg^2) on the ORIENTED graph, bounded by the
per-bucket co-occurrence cap upstream.

Reference scope note: the reference connector (s3-iceberg destination,
``SparkDestinationStream.java``) has no graph surface; this extends the
north-star LLM-pipeline layer alongside dedup clustering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans.registry import query, track_cache
from ..sources.tables import load_table

PR_SCALE = 1_000_000_000_000  # rank fixed-point scale (10^12 < 2^53: the
PR_ITERS = 6                  # final double emission is exact-input)

# Users co-active in the same (event_type, hour) bucket form an edge.
# Hot buckets are the skew channel: keep the first TRI_BUCKET_CAP users
# (by id — deterministic) per bucket so pair fan-out is bounded by
# cap^2/bucket regardless of how hot an hour gets. Mirrored in the oracle.
TRI_BUCKET_CAP = 128


def _und_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (ck, sk) trade pairs served from the persisted graph
    state's edge artifact (round 13): the orders ⋈ lineitem extraction —
    the dominant scan every graph query used to start with — runs at
    state build/maintain time, and the warm query reads the deduped
    pair list. The state's own cross-artifact audit plus every consumer
    query's from-scratch oracle re-verify the edge bytes each sweep."""
    from .graph_state import ensure_graph_state, read_artifact

    root, man = ensure_graph_state(spark, sf_dir)
    return read_artifact(spark, root, man, "edges")


def _cs_edges_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-served form of :func:`_cs_edges` (directed, 'c'/'s'
    prefixed) — the query-side edge frame. ``_cs_edges`` itself stays a
    from-scratch corpus derivation so tests can compare state-served
    results against an independent recompute."""
    e = _und_state(spark, sf_dir).select(
        F.concat(F.lit("c"), F.col("ck")).alias("src"),
        F.concat(F.lit("s"), F.col("sk")).alias("dst"),
    )
    return e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _cs_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct customer↔supplier trade edges (both directions) from
    orders ⋈ lineitem, with node ids prefixed 'c'/'s' so the two key
    domains never collide. One shuffle to dedupe; at 100 TB this is the
    same pre-aggregated edge extraction every graph job starts with."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    und = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    return und.union(und.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


_PR_EDGES_SQL = """
    und AS (
      SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), edges AS (
      SELECT src, dst FROM und UNION ALL SELECT dst, src FROM und
    ), nodes AS (
      SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS outdeg
      FROM edges GROUP BY src
    ), sized AS (
      SELECT id, outdeg,
             CAST({scale} AS BIGINT) // (SELECT COUNT(*) FROM nodes) AS base
      FROM nodes
    )
""".format(scale=PR_SCALE)

_PR_ITER_SQL = """
    , r{i} AS (
      SELECT n.id, n.outdeg, n.base,
             (3 * n.base + 17 * COALESCE(s.m, CAST(0 AS BIGINT))) // 20 AS rank
      FROM sized n
      LEFT JOIN (
        SELECT e.dst AS id, CAST(SUM(r.rank // r.outdeg) AS BIGINT) AS m
        FROM r{prev} r JOIN edges e ON e.src = r.id
        GROUP BY e.dst
      ) s USING (id)
    )
"""

_PR_ORACLE = (
    "WITH "
    + _PR_EDGES_SQL
    + ", r0 AS (SELECT id, outdeg, base, base AS rank FROM sized)"
    + "".join(_PR_ITER_SQL.format(i=i, prev=i - 1) for i in range(1, PR_ITERS + 1))
    + f"""
    SELECT id, outdeg, rank AS rank_scaled,
           CAST(rank AS DOUBLE) / {PR_SCALE}.0 AS rank
    FROM r{PR_ITERS}
    """
)


def _pagerank_from_edges(edges: DataFrame) -> DataFrame:
    """The PageRank fixpoint over an already-extracted directed edge
    list (both directions, string ids) — shared by the from-scratch path
    and the persisted-state refresh (``graph_state._refresh_fixpoints``),
    so the state-served bytes are the same exact scaled-BIGINT fold."""
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    n_row = deg.agg(F.count(F.lit(1)).alias("n"))
    # one bounded 1-row broadcast: every node carries base = SCALE div N
    nodes = (
        deg.crossJoin(F.broadcast(n_row))
        .select(
            F.col("src").alias("id"),
            "outdeg",
            F.expr(f"{PR_SCALE} div n").alias("base"),
        )
        .localCheckpoint(eager=False)
    )
    ranks = nodes.select("id", "outdeg", "base", F.col("base").alias("rank"))
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(ranks, edges.src == ranks.id)
            .select(F.col("dst").alias("id"), F.expr("rank div outdeg").alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("m"))
        )
        ranks = (
            nodes.join(contrib, "id", "left")
            .select(
                "id",
                "outdeg",
                "base",
                F.expr(
                    "(3 * base + 17 * coalesce(m, 0L)) div 20"
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)  # cut lineage: O(1) plan per round
        )
    return ranks.select(
        "id",
        "outdeg",
        F.col("rank").alias("rank_scaled"),
        (F.col("rank").cast("double") / F.lit(float(PR_SCALE))).alias("rank"),
    )


@query(
    "graph_pagerank",
    oracle=_PR_ORACLE,
    doc="PageRank (d=0.85, 6 fixed iterations) over the undirected "
        "customer↔supplier trade graph, entirely in scaled-BIGINT "
        "arithmetic (rank·10^12; damping as 3/20 + 17/20 integer folds) so "
        "every engine and every shuffle order produces identical bits. "
        "Per iteration: one edges⋈ranks hash join + one hash aggregate, "
        "lineage cut per round — the Pregel-as-DataFrame shape that holds "
        "at 1000 executors. Undirected graph ⇒ no dangling mass. Served "
        "from the persisted graph state (graph_state.py): warm queries "
        "read the materialized rank table with zero corpus scans, and the "
        "fixpoint reruns only when the corpus snapshot changes — this "
        "oracle therefore re-audits the persisted bytes against a full "
        "from-scratch recomputation on every sweep.",
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .graph_state import serve_pagerank

    return serve_pagerank(spark, sf_dir)


_TRI_EDGES_SQL = f"""
    act AS (
      SELECT DISTINCT date_trunc('hour', ts) AS h, event_type, user_id
      FROM events
    ), capped AS (
      SELECT h, event_type, user_id FROM (
        SELECT h, event_type, user_id,
               row_number() OVER (PARTITION BY h, event_type
                                  ORDER BY user_id) AS rn
        FROM act
      ) WHERE rn <= {TRI_BUCKET_CAP}
    ), edges AS (
      SELECT DISTINCT a.user_id AS u, b.user_id AS v
      FROM capped a JOIN capped b
        ON a.h = b.h AND a.event_type = b.event_type
       AND a.user_id < b.user_id
    )
"""


@query(
    "graph_triangles",
    oracle=f"""
    WITH {_TRI_EDGES_SQL}, tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM edges e1
      JOIN edges e2 ON e1.v = e2.u
      JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    ), pernode AS (
      SELECT x AS user_id, CAST(COUNT(*) AS BIGINT) AS triangles
      FROM (
        SELECT a AS x FROM tri UNION ALL
        SELECT b AS x FROM tri UNION ALL
        SELECT c AS x FROM tri
      ) GROUP BY x
    ), degs AS (
      SELECT x AS user_id, CAST(COUNT(*) AS BIGINT) AS degree
      FROM (
        SELECT u AS x FROM edges UNION ALL SELECT v AS x FROM edges
      ) GROUP BY x
    )
    SELECT d.user_id, d.degree,
           COALESCE(p.triangles, CAST(0 AS BIGINT)) AS triangles,
           CASE WHEN d.degree >= 2
                THEN CAST(2 * COALESCE(p.triangles, 0) AS DOUBLE)
                     / CAST(d.degree * (d.degree - 1) AS DOUBLE)
                ELSE 0.0 END AS clustering
    FROM degs d LEFT JOIN pernode p USING (user_id)
    """,
    doc="Per-user triangle count + local clustering coefficient over the "
        "co-activity graph (users sharing an (event_type, hour) bucket). "
        "Edges are oriented low-id → high-id so each triangle is emitted "
        "exactly once by the two-hop join + closing semijoin (Suri & "
        "Vassilvitskii's MapReduce formulation); hot buckets are capped at "
        f"{TRI_BUCKET_CAP} users pre-pairing so the self-join fan-out is "
        "bounded per bucket. Coefficient = one exact-input IEEE division.",
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("h"), "event_type", "user_id"
    ).distinct()
    w = Window.partitionBy("h", "event_type").orderBy("user_id")
    capped = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TRI_BUCKET_CAP)
        .drop("rn")
    )
    a, b = capped.alias("a"), capped.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v"))
        .distinct()
        .localCheckpoint(eager=False)  # edge list reused by 3 joins + degs
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )
    pernode = (
        tri.select(F.col("a").alias("x"))
        .union(tri.select(F.col("b").alias("x")))
        .union(tri.select(F.col("c").alias("x")))
        .groupBy(F.col("x").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    degs = (
        edges.select(F.col("u").alias("x"))
        .union(edges.select(F.col("v").alias("x")))
        .groupBy(F.col("x").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return degs.join(pernode, "user_id", "left").select(
        "user_id",
        "degree",
        F.coalesce("triangles", F.lit(0).cast("bigint")).alias("triangles"),
        F.when(
            F.col("degree") >= 2,
            (F.lit(2) * F.coalesce("triangles", F.lit(0))).cast("double")
            / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering"),
    )


# ------------------------------------------------------- k-core peeling -----
#
# The k-core (maximal subgraph where every node keeps degree >= k) is the
# standard dense-cohort extractor: in the trade graph it isolates the
# customer/supplier nucleus whose members each sustain >= k distinct
# relationships INSIDE the nucleus — the cohort whose documents/behavior
# get special treatment (bot rings, boilerplate farms, core marketplaces).
# Computed by Batagelj-Zaversnik peeling: repeatedly drop nodes with
# degree < k, recomputing degrees within the survivors. Each round is one
# join + hash-agg (the Pregel-as-dataframe shape shared with PageRank);
# KCORE_PEELS rounds are unrolled identically in the oracle CTE chain, and
# the fixpoint (one more peel changes nothing) is asserted in unit tests
# on this corpus. All counts are integers — nothing to quantize.

KCORE_K = 3
KCORE_PEELS = 6

_KCORE_ROUND_SQL = """
    , d{i} AS (
      SELECT e.src AS id, CAST(COUNT(*) AS BIGINT) AS deg
      FROM edges e
      JOIN a{prev} x ON x.id = e.src
      JOIN a{prev} y ON y.id = e.dst
      GROUP BY e.src
    ), a{i} AS (
      SELECT id FROM d{i} WHERE deg >= {k}
    )
"""

_KCORE_ORACLE = (
    "WITH "
    + _PR_EDGES_SQL
    + ", a0 AS (SELECT id FROM nodes)"
    + "".join(
        _KCORE_ROUND_SQL.format(i=i, prev=i - 1, k=KCORE_K)
        for i in range(1, KCORE_PEELS + 1)
    )
    + f"""
    SELECT d.id, d.deg AS core_degree
    FROM d{KCORE_PEELS} d JOIN a{KCORE_PEELS} a USING (id)
    ORDER BY d.id
    """
)


@query(
    "graph_kcore_peel",
    oracle=_KCORE_ORACLE,
    doc=f"{KCORE_K}-core of the customer-supplier trade graph via "
    f"{KCORE_PEELS} unrolled Batagelj-Zaversnik peels (fixpoint on this "
    "corpus asserted in tests): each round drops nodes whose degree "
    "among survivors fell below k. One join + hash-agg per round with a "
    "lineage cut — identical CTE chain in the oracle. The dense-cohort "
    "extractor for bot-ring / boilerplate-farm flagging.",
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _cs_edges_state(spark, sf_dir).localCheckpoint(eager=False)
    alive = edges.select(F.col("src").alias("id")).distinct()
    deg = None
    for _ in range(KCORE_PEELS):
        x = alive.select(F.col("id").alias("xid"))
        y = alive.select(F.col("id").alias("yid"))
        deg = (
            edges.join(x, edges.src == F.col("xid"))
            .join(y, edges.dst == F.col("yid"))
            .groupBy(F.col("src").alias("id"))
            .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        )
        alive = (
            deg.filter(F.col("deg") >= KCORE_K)
            .select("id")
            .localCheckpoint(eager=False)
        )
    return (
        deg.join(alive, "id")
        .select("id", F.col("deg").alias("core_degree"))
        .orderBy("id")
    )


# --------------------------------------------------- link prediction --------
#
# Jaccard link prediction on the customer–part bipartite graph: two
# customers who buy many of the same parts are likely to buy each other's
# remaining parts (Liben-Nowell & Kleinberg, CIKM'03 — the
# common-neighbors family; the co-purchase graph, not customer–supplier,
# which in TPC-H is dense enough that every supplier is a hub). Pure
# integers (shared-count, degrees) + ONE final division per emitted pair,
# so bit-stable across engines.
#
# The skew channel is hub parts: a part bought by q customers generates
# q^2 candidate pairs. Parts with degree > LINK_DEG_CAP are excluded from
# BOTH pair generation and the degree table (consistent graph) — hubs
# carry almost no signal for Jaccard anyway, since they inflate the union
# as much as the intersection. Mirrored in the oracle.

LINK_DEG_CAP = 64
LINK_TOP = 100


@query(
    "graph_link_jaccard",
    oracle=f"""
    WITH cp AS (
      SELECT DISTINCT o_custkey AS c, l_partkey AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), keep AS (
      SELECT s FROM cp GROUP BY s HAVING COUNT(*) <= {LINK_DEG_CAP}
    ), g AS (
      SELECT c, cp.s FROM cp JOIN keep ON cp.s = keep.s
    ), deg AS (
      SELECT c, CAST(COUNT(*) AS BIGINT) AS deg FROM g GROUP BY c
    ), pairs AS (
      SELECT a.c AS c1, b.c AS c2, CAST(COUNT(*) AS BIGINT) AS cn
      FROM g a JOIN g b ON a.s = b.s AND a.c < b.c
      GROUP BY a.c, b.c
    )
    SELECT c1, c2, cn, d1.deg AS deg1, d2.deg AS deg2,
           CAST(cn AS DOUBLE) / (d1.deg + d2.deg - cn) AS jaccard
    FROM pairs JOIN deg d1 ON c1 = d1.c JOIN deg d2 ON c2 = d2.c
    ORDER BY jaccard DESC, c1, c2
    LIMIT {LINK_TOP}
    """,
    doc="Jaccard link prediction over the customer–part co-purchase graph "
        "(common-neighbors family, Liben-Nowell & Kleinberg CIKM'03): "
        "candidate customer pairs generated ONLY through shared parts "
        "(never all-pairs), hub parts above LINK_DEG_CAP excluded from "
        "graph and degrees alike (q^2 fan-out bound, hubs are "
        "Jaccard-noise), top pairs by score via TakeOrderedAndProject. "
        "Integer intersection/degree counts + one final IEEE division. "
        "Served from the persisted co-purchase state (graph_state.py): "
        "the corpus edge extraction, the pair explode AND the scoring "
        "fold all run at state-refresh time — the warm query reads the "
        "materialized cp_top_jaccard result table (O(result) rows, the "
        "ranks_pr treatment) — and this oracle re-audits the persisted "
        "bytes against a full from-scratch recomputation every sweep.",
)
def graph_link_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .graph_state import ensure_graph_state, read_artifact

    root, man = ensure_graph_state(spark, sf_dir, need=("cp_top",))
    return read_artifact(spark, root, man, "cp_top_jaccard").orderBy(
        F.col("jaccard").desc(), "c1", "c2"
    )


# ------------------------------------------------ degree assortativity -----
#
# Degree assortativity (Newman 2002): the Pearson correlation of the
# degrees at the two ends of every edge. Negative values (hubs connect
# to leaves) are the healthy shape for a trade/bipartite-projection
# graph; a shift toward 0/positive flags densifying bot/boilerplate
# cohorts — the same signal family as triangles, one scalar.
#
# Determinism: degree moments are exact BIGINT folds (Sx, Sxx, Sxy stay
# far below 2^53 at bench scale — magnitudes documented; the 100-TB form
# runs on the hub-capped edge list like the rest of this module), and r
# is one fixed IEEE sequence over exact-double inputs, written
# identically in both engines.


@query(
    "graph_degree_assortativity",
    oracle="""
    WITH und AS (
      SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), edges AS (
      SELECT src, dst FROM und UNION ALL SELECT dst, src FROM und
    ), deg AS (
      SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS d
      FROM edges GROUP BY src
    ), ed AS (
      SELECT a.d AS dx, b.d AS dy
      FROM edges e JOIN deg a ON e.src = a.id JOIN deg b ON e.dst = b.id
    ), mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(dx) AS BIGINT) AS sx, CAST(SUM(dy) AS BIGINT) AS sy,
             CAST(SUM(dx * dx) AS BIGINT) AS sxx,
             CAST(SUM(dy * dy) AS BIGINT) AS syy,
             CAST(SUM(dx * dy) AS BIGINT) AS sxy
      FROM ed
    )
    SELECT n AS n_directed_edges, sx, sxy,
           (CAST(sxy AS DOUBLE) / n
            - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
           / sqrt((CAST(sxx AS DOUBLE) / n
                   - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n))
                  * (CAST(syy AS DOUBLE) / n
                     - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n)))
             AS assortativity
    FROM mom
    """,
    doc="Degree assortativity (Newman 2002) of the customer-supplier "
        "trade graph: Pearson correlation of edge-endpoint degrees. "
        "Hub-to-leaf (disassortative) is the healthy trade shape; drift "
        "toward positive flags densifying cohorts. Two joins on the "
        "degree-keyed edge list + exact BIGINT moments (< 2^53 at bench "
        "scale; the capped edge list is the at-scale form) + one fixed "
        "IEEE chain. Symmetric edges make sx = sy by construction — "
        "both emitted sums let the oracle prove it.",
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _cs_edges_state(spark, sf_dir).localCheckpoint(eager=False)
    dega = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    degb = dega.select(F.col("src").alias("dst_id"), F.col("d").alias("dy"))
    ed = (
        edges.alias("e")
        .join(dega.select(F.col("src").alias("src_id"), F.col("d").alias("dx")),
              F.col("e.src") == F.col("src_id"))
        .join(degb, F.col("e.dst") == F.col("dst_id"))
        .select("dx", "dy")
    )
    mom = ed.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("dx").cast("bigint").alias("sx"),
        F.sum("dy").cast("bigint").alias("sy"),
        F.sum(F.col("dx") * F.col("dx")).cast("bigint").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("bigint").alias("syy"),
        F.sum(F.col("dx") * F.col("dy")).cast("bigint").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    mx = F.col("sx").cast("double") / nd
    my = F.col("sy").cast("double") / nd
    return mom.select(
        F.col("n").alias("n_directed_edges"),
        "sx",
        "sxy",
        (
            (F.col("sxy").cast("double") / nd - mx * my)
            / F.sqrt(
                (F.col("sxx").cast("double") / nd - mx * mx)
                * (F.col("syy").cast("double") / nd - my * my)
            )
        ).alias("assortativity"),
    )


# ------------------------------------------------ label propagation ---------
#
# Community detection one rung above connected components: components
# (dedup's star contraction) answer "what touches what"; label
# propagation (Raghavan et al. 2007) answers "what CLUSTERS with what" —
# dense sub-communities inside one giant component, the practical signal
# for spotting template farms and coordinated source groups that share a
# few bridge edges with the rest of the graph.
#
# Determinism: classic LPA is order- and tie-sensitive, so this is the
# SYNCHRONOUS variant with a total tie order — every node simultaneously
# adopts the most frequent label among its NEIGHBORS, ties broken by the
# lexicographically smallest label, for a FIXED number of rounds. Integer
# counts + binary string comparison make every round a pure function of
# the previous one, so Spark and DuckDB agree bit-for-bit (oscillation is
# possible in synchronous LPA; with fixed rounds it is deterministic
# oscillation, which is all an oracle needs).
#
# Scale: per round one edges-to-labels hash join + one (node, label) hash
# aggregate + one argmax — the argmax via min(struct(-count, label)), a
# second hash aggregate, NOT a per-node window (no sort, no skew channel
# beyond the degree cap the edge list already carries). Lineage cut per
# round; label state is one row per node.

LPA_ITERS = 4

_LPA_ITER_SQL = """
    , l{i} AS (
      SELECT id, label FROM (
        SELECT e.dst AS id, r.label, CAST(COUNT(*) AS BIGINT) AS c
        FROM l{prev} r JOIN edges e ON e.src = r.id
        GROUP BY e.dst, r.label
      )
      QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, label) = 1
    )
"""

_LPA_ORACLE = (
    "WITH "
    + _PR_EDGES_SQL
    + ", l0 AS (SELECT id, id AS label FROM sized)"
    + "".join(
        _LPA_ITER_SQL.format(i=i, prev=i - 1) for i in range(1, LPA_ITERS + 1)
    )
    + f"""
    , members AS (
      SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS community_size
      FROM l{LPA_ITERS} GROUP BY label
    )
    SELECT l.id, l.label AS community, m.community_size
    FROM l{LPA_ITERS} l JOIN members m ON l.label = m.community
    ORDER BY l.id
    """
)


def _lpa_from_edges(edges: DataFrame) -> DataFrame:
    """The synchronous-LPA fixpoint over an already-extracted directed
    edge list — shared by the from-scratch path and the persisted-state
    refresh."""
    labels = edges.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("label")
    )
    for _ in range(LPA_ITERS):
        counts = (
            edges.join(labels, edges.src == labels.id)
            .groupBy(F.col("dst").alias("nid"), "label")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        )
        labels = (
            counts.groupBy(F.col("nid").alias("id"))
            .agg(F.min(F.struct((-F.col("c")).alias("nc"), "label")).alias("w"))
            .select("id", F.col("w.label").alias("label"))
            .localCheckpoint(eager=False)  # cut lineage: O(1) plan per round
        )
    members = labels.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).cast("bigint").alias("community_size")
    )
    return (
        labels.join(members, labels.label == members.community)
        .select("id", "community", "community_size")
        .orderBy("id")
    )


@query(
    "graph_label_propagation",
    oracle=_LPA_ORACLE,
    doc="Synchronous label propagation (Raghavan et al. 2007), 4 fixed "
        "rounds over the customer-supplier trade graph: every node adopts "
        "its neighbors' most frequent label, ties to the smallest label. "
        "Communities = dense sub-clusters inside components (template "
        "farms, coordinated source groups). Per round: one edges-labels "
        "hash join + two hash aggregates — the argmax is "
        "min(struct(-count, label)), never a per-node sort window; "
        "lineage cut per round, label state one row per node. Served from "
        "the persisted graph state (graph_state.py) — warm queries read "
        "the materialized community table, zero corpus scans; the oracle "
        "re-audits the persisted bytes from scratch every sweep.",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .graph_state import serve_lpa

    return serve_lpa(spark, sf_dir)


# ---------------------------------------------------- SALSA hubs/authorities

SALSA_ITERS = 4

# The stochastic (random-walk) variant of HITS (Lempel & Moran 2000,
# "SALSA"): on the bipartite customer->supplier trade graph, the authority
# walk alternates a backward step over in-degrees with a forward step over
# out-degrees. Unlike HITS' mutual-reinforcement update, every contribution
# is degree-divided -- `score div degree` -- so total mass stays bounded at
# the fixed-point scale and NO per-iteration normalization (a global-sum
# dependence that would force 128-bit intermediates) is needed. That makes
# the whole fixpoint expressible in the same scaled-BIGINT discipline as
# graph_pagerank above: integer sums are associative, so Spark's shuffled
# partial aggregation and DuckDB's sequential scan agree bit-for-bit.

_SALSA_EDGES_SQL = f"""
    und AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), cd AS (
      SELECT c, CAST(COUNT(*) AS BIGINT) AS outdeg FROM und GROUP BY c
    ), sd AS (
      SELECT s, CAST(COUNT(*) AS BIGINT) AS indeg FROM und GROUP BY s
    ), h0 AS (
      SELECT c, outdeg,
             CAST({PR_SCALE} AS BIGINT) // (SELECT COUNT(*) FROM cd) AS h
      FROM cd
    )
"""

_SALSA_ITER_SQL = """
    , a{i} AS (
      SELECT e.s, sd.indeg, CAST(SUM(h.h // h.outdeg) AS BIGINT) AS a
      FROM und e JOIN h{prev} h ON e.c = h.c JOIN sd ON e.s = sd.s
      GROUP BY e.s, sd.indeg
    ), h{i} AS (
      SELECT e.c, cd.outdeg, CAST(SUM(a.a // a.indeg) AS BIGINT) AS h
      FROM und e JOIN a{i} a ON e.s = a.s JOIN cd ON e.c = cd.c
      GROUP BY e.c, cd.outdeg
    )
"""

_SALSA_ORACLE = (
    "WITH "
    + _SALSA_EDGES_SQL
    + "".join(
        _SALSA_ITER_SQL.format(i=i, prev=i - 1)
        for i in range(1, SALSA_ITERS + 1)
    )
    + f"""
    SELECT 'c' || c AS id, 'hub' AS side, outdeg AS degree,
           h AS score_scaled, CAST(h AS DOUBLE) / {PR_SCALE}.0 AS score
    FROM h{SALSA_ITERS}
    UNION ALL
    SELECT 's' || s AS id, 'auth' AS side, indeg AS degree,
           a AS score_scaled, CAST(a AS DOUBLE) / {PR_SCALE}.0 AS score
    FROM a{SALSA_ITERS}
    """
)


@query(
    "graph_salsa_authority",
    oracle=_SALSA_ORACLE,
    doc="SALSA hub/authority scores (Lempel & Moran 2000 -- the random-walk "
        "HITS) over the bipartite customer->supplier trade graph, 4 fixed "
        "alternating walk steps. Every contribution is degree-divided "
        "(`score div degree`), so mass stays bounded at the 10^12 "
        "fixed-point scale with NO per-iteration normalization -- the whole "
        "fixpoint runs in scaled-BIGINT arithmetic (graph_pagerank's "
        "discipline) and is bit-stable under any shuffle order. Per "
        "iteration: two edges-scores hash joins + two hash aggregates; "
        "lineage cut per round. Authorities rank suppliers by trade "
        "endorsement mass; hubs rank customers as endorsers -- the "
        "source-authority signal a crawl/corpus weighting pipeline feeds "
        "into sampling.",
)
def graph_salsa_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    und = (
        _und_state(spark, sf_dir)
        .select(F.col("ck").alias("c"), F.col("sk").alias("s"))
        .localCheckpoint(eager=False)
    )
    cd = und.groupBy("c").agg(F.count(F.lit(1)).cast("bigint").alias("outdeg"))
    sd = und.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("indeg"))
    n_row = cd.agg(F.count(F.lit(1)).alias("n"))
    hubs = (
        cd.crossJoin(F.broadcast(n_row))
        .select("c", "outdeg", F.expr(f"{PR_SCALE} div n").alias("h"))
        .localCheckpoint(eager=False)
    )
    auth = None
    for _ in range(SALSA_ITERS):
        auth = (
            und.join(hubs, "c")
            .select("s", F.expr("h div outdeg").alias("m"))
            .groupBy("s")
            .agg(F.sum("m").alias("a"))
            .join(sd, "s")
            .select("s", "indeg", "a")
            .localCheckpoint(eager=False)
        )
        hubs = (
            und.join(auth, "s")
            .select("c", F.expr("a div indeg").alias("m"))
            .groupBy("c")
            .agg(F.sum("m").alias("h"))
            .join(cd, "c")
            .select("c", "outdeg", "h")
            .localCheckpoint(eager=False)
        )
    scale = F.lit(float(PR_SCALE))
    h_side = hubs.select(
        F.concat(F.lit("c"), F.col("c")).alias("id"),
        F.lit("hub").alias("side"),
        F.col("outdeg").alias("degree"),
        F.col("h").alias("score_scaled"),
        (F.col("h").cast("double") / scale).alias("score"),
    )
    a_side = auth.select(
        F.concat(F.lit("s"), F.col("s")).alias("id"),
        F.lit("auth").alias("side"),
        F.col("indeg").alias("degree"),
        F.col("a").alias("score_scaled"),
        (F.col("a").cast("double") / scale).alias("score"),
    )
    return h_side.union(a_side)


# ------------------------------------------ resource-allocation index -------

RA_SCALE = 1_000_000_000


@query(
    "graph_resource_allocation",
    oracle=f"""
    WITH cp AS (
      SELECT DISTINCT o_custkey AS c, l_partkey AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), keep AS (
      SELECT s, CAST(round({RA_SCALE} / COUNT(*)) AS BIGINT) AS w
      FROM cp GROUP BY s HAVING COUNT(*) <= {LINK_DEG_CAP}
    ), g AS (
      SELECT cp.c, cp.s, keep.w FROM cp JOIN keep ON cp.s = keep.s
    ), pairs AS (
      SELECT a.c AS c1, b.c AS c2,
             CAST(COUNT(*) AS BIGINT) AS cn,
             CAST(SUM(a.w) AS BIGINT) AS ra_scaled
      FROM g a JOIN g b ON a.s = b.s AND a.c < b.c
      GROUP BY a.c, b.c
    )
    SELECT c1, c2, cn, ra_scaled,
           CAST(ra_scaled AS DOUBLE) / {RA_SCALE} AS ra
    FROM pairs
    ORDER BY ra_scaled DESC, c1, c2
    LIMIT {LINK_TOP}
    """,
    doc="Resource-allocation link prediction (Zhou, Lü & Zhang 2009): each "
    "shared part s sends 1/deg(s) of unit resource to every customer "
    "pair it connects — the degree-penalized cousin of the "
    "common-neighbor count that consistently beats Jaccard and "
    "Adamic-Adar on co-purchase graphs because hub neighbors carry "
    "almost no signal. Same q²-bounded plan as graph_link_jaccard: hub "
    "parts above LINK_DEG_CAP are dropped, each part's weight w = "
    "round(SCALE/deg) is computed ONCE in the degree filter (a single "
    "correctly-rounded division — engine-identical), the capped member "
    "list explodes its C(q,2) pairs locally per part, and pair scores "
    "are exact BIGINT sums of the carried weights; top pairs via "
    "TakeOrderedAndProject. 1/deg needs no log, so the whole score is "
    "integer-exact — no transcendental to disagree across engines. "
    "Served from the persisted co-purchase state: the weight "
    "w = round(SCALE/sdeg) and the exact BIGINT fold sum cnt*w run at "
    "state-refresh time into the materialized cp_top_ra result table; "
    "the warm query reads O(result) rows and this oracle re-audits the "
    "persisted bytes from scratch on every sweep.",
)
def graph_resource_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .graph_state import ensure_graph_state, read_artifact

    root, man = ensure_graph_state(spark, sf_dir, need=("cp_top",))
    return read_artifact(spark, root, man, "cp_top_ra").orderBy(
        F.col("ra_scaled").desc(), "c1", "c2"
    )


# ----------------------------------------------------- HITS (Kleinberg) -----

HITS_ITERS = 2          # fixed unrolled rounds (oracle mirrors them exactly)
HITS_SCALE = 1_000_000  # 10^6 fixed point: the norm multiply score*SCALE
# stays under 2^63 while max_degree * SCALE^2 < 9.2e18 (degrees to ~9e6);
# for hub-heavier graphs drop a decade of scale per degree decade or lift
# the multiply to DECIMAL — PR_SCALE (10^12) overflows here because
# un-normalized sums are already degree * SCALE before the multiply.


@query(
    "graph_hits",
    oracle=f"""
    WITH und AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), a1 AS (  -- a = sum of h over in-edges; h0 = SCALE for all hubs
      SELECT s, CAST(COUNT(*) AS BIGINT) * {HITS_SCALE} AS a
      FROM und GROUP BY s
    ), a1n AS (
      SELECT s,
             CAST(a * {HITS_SCALE} // (SELECT MAX(a) FROM a1) AS BIGINT) AS a
      FROM a1
    ), h1 AS (
      SELECT c, CAST(SUM(a1n.a) AS BIGINT) AS h
      FROM und JOIN a1n USING (s) GROUP BY c
    ), h1n AS (
      SELECT c,
             CAST(h * {HITS_SCALE} // (SELECT MAX(h) FROM h1) AS BIGINT) AS h
      FROM h1
    ), a2 AS (
      SELECT s, CAST(SUM(h1n.h) AS BIGINT) AS a
      FROM und JOIN h1n USING (c) GROUP BY s
    ), a2n AS (
      SELECT s,
             CAST(a * {HITS_SCALE} // (SELECT MAX(a) FROM a2) AS BIGINT) AS a
      FROM a2
    ), h2 AS (
      SELECT c, CAST(SUM(a2n.a) AS BIGINT) AS h
      FROM und JOIN a2n USING (s) GROUP BY c
    ), h2n AS (
      SELECT c,
             CAST(h * {HITS_SCALE} // (SELECT MAX(h) FROM h2) AS BIGINT) AS h
      FROM h2
    )
    SELECT 'c' || CAST(c AS VARCHAR) AS id, 'hub' AS side,
           h AS score_scaled, h / {HITS_SCALE}.0 AS score
    FROM h2n
    UNION ALL
    SELECT 's' || CAST(s AS VARCHAR) AS id, 'auth' AS side,
           a AS score_scaled, a / {HITS_SCALE}.0 AS score
    FROM a2n
    ORDER BY side, id
    """,
    doc="HITS hubs/authorities (Kleinberg JACM'99) over the bipartite "
    "customer->supplier trade graph, 2 fixed unrolled rounds — the "
    "multiplicative mutual-reinforcement scoring SALSA's degree-divided "
    "walk deliberately is not (HITS rewards a hub for endorsing MANY "
    "strong authorities; SALSA splits its vote). Normalization per "
    "half-step is max-division in exact integers (score x SCALE div "
    "max), so every value stays on the 10^6 fixed-point grid and the "
    "whole fixpoint is bit-stable under any shuffle order — no float "
    "norm, no l2 (see HITS_SCALE's overflow budget note). Per half-step: "
    "one edges-scores hash join + one hash agg + a 1-row max broadcast; "
    "lineage cut per round. Together with graph_pagerank and "
    "graph_salsa_authority this completes the classic endorsement-"
    "ranking triad a crawl/source-weighting pipeline chooses from.",
)
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    und = (
        _und_state(spark, sf_dir)
        .select(F.col("ck").alias("c"), F.col("sk").alias("s"))
        .localCheckpoint(eager=False)
    )

    def _norm(scores: DataFrame, col: str) -> DataFrame:
        mx = scores.agg(F.max(col).alias("mx"))
        return (
            scores.crossJoin(F.broadcast(mx))
            .select(
                *[c for c in scores.columns if c != col],
                F.expr(f"{col} * {HITS_SCALE} div mx").alias(col),
            )
        )

    # h0 = SCALE for every hub, so a1 = SCALE * indeg
    auth = und.groupBy("s").agg(
        (F.count(F.lit(1)) * F.lit(HITS_SCALE)).cast("bigint").alias("a")
    )
    auth = _norm(auth, "a").localCheckpoint(eager=False)
    hubs = None
    for i in range(HITS_ITERS):
        hubs = (
            und.join(auth, "s")
            .groupBy("c")
            .agg(F.sum("a").cast("bigint").alias("h"))
        )
        hubs = _norm(hubs, "h").localCheckpoint(eager=False)
        if i < HITS_ITERS - 1:
            auth = (
                und.join(hubs, "c")
                .groupBy("s")
                .agg(F.sum("h").cast("bigint").alias("a"))
            )
            auth = _norm(auth, "a").localCheckpoint(eager=False)
    h_side = hubs.select(
        F.concat(F.lit("c"), F.col("c")).alias("id"),
        F.lit("hub").alias("side"),
        F.col("h").alias("score_scaled"),
        (F.col("h") / F.lit(float(HITS_SCALE))).alias("score"),
    )
    a_side = auth.select(
        F.concat(F.lit("s"), F.col("s")).alias("id"),
        F.lit("auth").alias("side"),
        F.col("a").alias("score_scaled"),
        (F.col("a") / F.lit(float(HITS_SCALE))).alias("score"),
    )
    return h_side.union(a_side).orderBy("side", "id")


# ------------------------------------------------------------ modularity ----
#
# Newman-Girvan modularity of a node partition: Q = Σ_c [ e_c/m −
# (d_c/2m)² ] — THE number for "is this community assignment better than
# chance?", reported per community so the weak communities are visible.
# Partition under audit: the nation of each trade-graph node (does
# customer↔supplier trade concentrate within nations?). Everything is
# exact integers until one final division per row: the contribution is
# computed as (4·m·e_c − d_c²) / (4·m·m) with the numerator in
# decimal(38,0) (d_c² reaches ~4m² ≈ 4·10²⁴ at m = 10¹² undirected
# edges — past BIGINT; the emb_isotropy discipline). Shape at scale: the
# edge extraction's join + two dimension-grain aggregates; communities
# are |nations|-sized.


@query(
    "graph_modularity",
    oracle="""
    WITH und AS (
      SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), lab AS (
      SELECT u.ck, u.sk, cn.n_name AS c_comm, sn.n_name AS s_comm
      FROM und u
      JOIN customer ON ck = c_custkey
      JOIN supplier ON sk = s_suppkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
    ), m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m FROM lab
    ), within AS (
      SELECT c_comm AS community, CAST(COUNT(*) AS BIGINT) AS e_c
      FROM lab WHERE c_comm = s_comm GROUP BY c_comm
    ), deg AS (
      SELECT community, CAST(SUM(d) AS BIGINT) AS d_c FROM (
        SELECT c_comm AS community, COUNT(*) AS d FROM lab GROUP BY c_comm
        UNION ALL
        SELECT s_comm, COUNT(*) FROM lab GROUP BY s_comm
      ) GROUP BY community
    )
    SELECT d.community,
           d.d_c AS degree_mass,
           COALESCE(w.e_c, 0) AS within_edges,
           CAST(CAST(4 AS DECIMAL(38,0)) * m.m * COALESCE(w.e_c, 0)
                - CAST(d.d_c AS DECIMAL(38,0)) * d.d_c AS DOUBLE)
             / (4.0 * m.m * m.m) AS contribution
    FROM deg d LEFT JOIN within w ON d.community = w.community
    CROSS JOIN m
    ORDER BY d.community
    """,
    doc="Newman-Girvan modularity of the nation partition over the "
        "customer↔supplier trade graph, per community: within-community "
        "edges e_c, degree mass d_c, and contribution e_c/m − (d_c/2m)² "
        "computed as one exact decimal(38,0) numerator (4·m·e_c − d_c²) "
        "over one double division — BIGINT-overflow-safe to m ≈ 10¹² "
        "edges. Sum of the column IS Q. Edge extraction join + two "
        "dimension-grain aggregates; the community table is "
        "|nations|-sized.",
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    und = _und_state(spark, sf_dir)
    lab = (
        und.join(cust, und.ck == cust.c_custkey)
        .join(F.broadcast(nation.select(F.col("n_nationkey").alias("cnk"),
                                        F.col("n_name").alias("c_comm"))),
              F.col("c_nationkey") == F.col("cnk"))
        .join(supp, und.sk == supp.s_suppkey)
        .join(F.broadcast(nation.select(F.col("n_nationkey").alias("snk"),
                                        F.col("n_name").alias("s_comm"))),
              F.col("s_nationkey") == F.col("snk"))
        .select("c_comm", "s_comm")
    )
    lab = track_cache(lab)  # feeds m, within, and both degree halves: one extraction
    m = lab.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    within = (
        lab.filter(F.col("c_comm") == F.col("s_comm"))
        .groupBy(F.col("c_comm").alias("community"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("e_c"))
    )
    deg = (
        lab.groupBy(F.col("c_comm").alias("community"))
        .agg(F.count(F.lit(1)).alias("d"))
        .union(
            lab.groupBy(F.col("s_comm").alias("community"))
            .agg(F.count(F.lit(1)).alias("d"))
        )
        .groupBy("community")
        .agg(F.sum("d").cast("bigint").alias("d_c"))
    )
    return (
        deg.join(within, "community", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "community",
            F.col("d_c").alias("degree_mass"),
            F.coalesce("e_c", F.lit(0)).cast("bigint").alias("within_edges"),
            (
                (
                    F.lit(4).cast("decimal(38,0)")
                    * F.col("m")
                    * F.coalesce("e_c", F.lit(0))
                    - F.col("d_c").cast("decimal(38,0)") * F.col("d_c")
                ).cast("double")
                / (F.lit(4.0) * F.col("m") * F.col("m"))
            ).alias("contribution"),
        )
        .orderBy("community")
    )


# ------------------------------------------------------- power-law alpha ----
#
# Degree-distribution tail exponent by the continuous-approximation MLE
# (Clauset, Shalizi & Newman 2009, eq. 3.1): α = 1 + n / Σ ln(d_i /
# (x_min − ½)) over tail nodes d_i >= x_min. The one-number answer to
# "how heavy-tailed is this graph?" — α <= 2 means hub mass dominates
# (caps like LINK_DEG_CAP are mandatory), α >= 3 means the tail is tame.
# Each log is the corrected quantized Mitchell log2 (exact-integer fold,
# engine-identical); the x_min − ½ shift and the log2→ln conversion fold
# into ONE final double chain, so the sum stays a BIGINT of quantized
# integer logs. Shape: one degree hash-agg per side + a tail fold;
# everything after the edge extraction is degree-domain-sized.

from .lm import _mlog2c_q as _lm_mlog2c_sql  # corrected Mitchell log2 (SQL)

PL_XMIN = 2  # tail threshold: degree-1 nodes carry no tail information


@query(
    "graph_powerlaw_alpha",
    oracle=f"""
    WITH und AS (
      SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), deg AS (
      SELECT 'cust' AS side, ck AS node, CAST(COUNT(*) AS BIGINT) AS d
      FROM und GROUP BY ck
      UNION ALL
      SELECT 'supp', sk, CAST(COUNT(*) AS BIGINT) FROM und GROUP BY sk
    ), tail AS (
      SELECT side, d, {_lm_mlog2c_sql('d')} AS lq
      FROM deg WHERE d >= {PL_XMIN}
    )
    SELECT side,
           CAST(COUNT(*) AS BIGINT) AS n_tail,
           CAST(MAX(d) AS BIGINT) AS max_degree,
           CAST(SUM(lq) AS BIGINT) AS sum_log2_q,
           1.0 + COUNT(*) / (0.6931471805599453 *
             (CAST(SUM(lq) AS DOUBLE) / 1000000.0
              - COUNT(*) * 0.5849625007211562)) AS alpha
    FROM tail
    GROUP BY side
    ORDER BY side
    """,
    doc=f"Power-law tail exponent of the trade-graph degree distribution "
        "per bipartite side (Clauset-Shalizi-Newman 2009 continuous MLE, "
        f"x_min={PL_XMIN}): α = 1 + n/Σ ln(d/(x_min−½)) with each log2 "
        "an exact quantized Mitchell fold (BIGINT sum) and the ln "
        "conversion + half-shift folded into one final double chain. "
        "α ≤ 2 ⇒ hub-dominated (degree caps mandatory); degree agg + "
        "degree-domain fold, nothing corpus-scale after edge extraction.",
)
def graph_powerlaw_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .lm import _mlog2c_q_spark

    und = _und_state(spark, sf_dir).localCheckpoint(
        eager=False
    )  # feeds both degree sides
    deg = (
        und.groupBy(F.col("ck").alias("node"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        .select(F.lit("cust").alias("side"), "d")
        .union(
            und.groupBy(F.col("sk").alias("node"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
            .select(F.lit("supp").alias("side"), "d")
        )
    )
    tail = deg.filter(F.col("d") >= PL_XMIN).select(
        "side", "d", F.expr(_mlog2c_q_spark("d")).alias("lq")
    )
    # ln(d/(x_min-1/2)) = ln2*(log2(d) - log2(1.5)); both constants are
    # exact double literals written identically in the oracle
    return (
        tail.groupBy("side")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tail"),
            F.max("d").cast("bigint").alias("max_degree"),
            F.sum("lq").cast("bigint").alias("sum_log2_q"),
        )
        .select(
            "side",
            "n_tail",
            "max_degree",
            "sum_log2_q",
            (
                F.lit(1.0)
                + F.col("n_tail")
                / (
                    F.lit(0.6931471805599453)
                    * (
                        F.col("sum_log2_q").cast("double") / F.lit(1_000_000.0)
                        - F.col("n_tail") * F.lit(0.5849625007211562)
                    )
                )
            ).alias("alpha"),
        )
        .orderBy("side")
    )

# Mitchell-log weight snippets for Adamic-Adar (imported from lm to keep
# the libm-free log definition single-sourced)
from .lm import _mlog2c_q as _aa_mlog_sql  # noqa: E402
from .lm import _mlog2c_q_spark as _aa_mlog_spark  # noqa: E402

_MLOG_DEG_SQL = _aa_mlog_sql("sdeg")
_MLOG_DEG_SPARK = _aa_mlog_spark("sdeg")


# ------------------------------------------------ Adamic-Adar link scores --
#
# The third classic common-neighbor score next to graph_link_jaccard and
# graph_resource_allocation: AA(u,v) = sum over shared neighbors s of
# 1/log2(deg s) — softer hub damping than RA's 1/deg. The log is the
# corrected Mitchell log2 over the INTEGER degree (the lm/graph
# libm-free discipline), quantized to 1e6, so each part's weight
# w = round(SCALE*1e6/logq) is one correctly-rounded division of exact
# integers — engine-identical — and pair scores are exact BIGINT sums.
# Same q^2-bounded plan as the siblings: hub parts above LINK_DEG_CAP
# drop, members explode C(q,2) locally per part, top pairs via
# TakeOrderedAndProject. deg-1 parts connect no pairs (and their log is
# 0), so the degree filter starts at 2.

AA_SCALE = 1_000_000_000


@query(
    "graph_adamic_adar",
    oracle=f"""
    WITH cp AS (
      SELECT DISTINCT o_custkey AS c, l_partkey AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), degs AS (
      SELECT s, CAST(COUNT(*) AS BIGINT) AS sdeg
      FROM cp GROUP BY s
      HAVING COUNT(*) BETWEEN 2 AND {LINK_DEG_CAP}
    ), keep AS (
      SELECT s, CAST(round({AA_SCALE} * 1000000.0 / {_MLOG_DEG_SQL})
                     AS BIGINT) AS w
      FROM degs
    ), g AS (
      SELECT cp.c, cp.s, keep.w FROM cp JOIN keep ON cp.s = keep.s
    ), pairs AS (
      SELECT a.c AS c1, b.c AS c2,
             CAST(COUNT(*) AS BIGINT) AS cn,
             CAST(SUM(a.w) AS BIGINT) AS aa_scaled
      FROM g a JOIN g b ON a.s = b.s AND a.c < b.c
      GROUP BY a.c, b.c
    )
    SELECT c1, c2, cn, aa_scaled,
           CAST(aa_scaled AS DOUBLE) / {AA_SCALE} AS adamic_adar
    FROM pairs
    ORDER BY aa_scaled DESC, c1, c2
    LIMIT {LINK_TOP}
    """,
    doc="Adamic-Adar link prediction (Adamic & Adar 2003) on the "
        "customer-part co-purchase graph: shared neighbors weighted "
        "1/log2(deg) with the corrected Mitchell log2 over integer "
        "degrees — libm-free, so the per-part weight is one correctly-"
        "rounded division of exact integers and pair scores are exact "
        "BIGINT sums (bit-identical across engines). Hub parts above "
        f"{LINK_DEG_CAP} drop pre-pairing (q^2-bounded local explode); "
        "top pairs via TakeOrderedAndProject. Served from the persisted "
        "co-purchase state (cp_pairs): the Mitchell-log weight is one "
        "exact-integer expression over the grouped table's sdeg column "
        "(2..LINK_DEG_CAP by construction), and sum cnt*w(sdeg) is the "
        "identical BIGINT fold, run at state-refresh time into the "
        "materialized cp_top_aa result table (warm query = O(result) "
        "read) — the oracle re-audits the persisted bytes from scratch "
        "every sweep.",
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .graph_state import ensure_graph_state, read_artifact

    root, man = ensure_graph_state(spark, sf_dir, need=("cp_top",))
    return read_artifact(spark, root, man, "cp_top_aa").orderBy(
        F.col("aa_scaled").desc(), "c1", "c2"
    )


# ----------------------------------------------------- seeded PPR ----------
#
# Personalized PageRank from a trusted seed set — the TrustRank /
# harmonic-centrality pattern web-scale pretraining pipelines use to
# propagate quality from a hand-audited whitelist (Gyöngyi et al.,
# VLDB'04): restart mass lands ONLY on the seeds, so a node's rank is
# its weighted proximity to audited-good sources, not its raw
# popularity. Same scaled-BIGINT discipline as graph_pagerank — the
# only change is the restart vector: base = SCALE div |seeds| on seed
# nodes, 0 elsewhere. Seeds here are the four lowest-keyed suppliers
# (deterministic at every SF); a production run passes any audited id
# set. Per-iteration cost is identical to PageRank (one edges ⋈ ranks
# hash join + one hash aggregate, lineage cut per round), so the
# 1000-executor story carries over unchanged.

PPR_SEED_MAX_KEY = 3  # suppliers s0..s3 (0-based keys) — every test SF

_PPR_SIZED_SQL = """
    und AS (
      SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), edges AS (
      SELECT src, dst FROM und UNION ALL SELECT dst, src FROM und
    ), nodes AS (
      SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS outdeg
      FROM edges GROUP BY src
    ), snodes AS (
      SELECT n.id FROM nodes n
      JOIN supplier ON n.id = 's' || s_suppkey
      WHERE s_suppkey <= {seed_max}
    ), sized AS (
      SELECT n.id, n.outdeg,
             CASE WHEN s.id IS NOT NULL
                  THEN CAST({scale} AS BIGINT)
                       // (SELECT COUNT(*) FROM snodes)
                  ELSE CAST(0 AS BIGINT) END AS base
      FROM nodes n LEFT JOIN snodes s USING (id)
    )
""".format(scale=PR_SCALE, seed_max=PPR_SEED_MAX_KEY)

_PPR_ORACLE = (
    "WITH "
    + _PPR_SIZED_SQL
    + ", r0 AS (SELECT id, outdeg, base, base AS rank FROM sized)"
    + "".join(_PR_ITER_SQL.format(i=i, prev=i - 1) for i in range(1, PR_ITERS + 1))
    + f"""
    SELECT id, outdeg,
           CAST(CASE WHEN base > 0 THEN 1 ELSE 0 END AS INT) AS is_seed,
           rank AS rank_scaled,
           CAST(rank AS DOUBLE) / {PR_SCALE}.0 AS rank
    FROM r{PR_ITERS}
    """
)


def _ppr_from_edges(edges: DataFrame) -> DataFrame:
    """The seeded-PPR fixpoint over an already-extracted directed edge
    list — shared by the from-scratch path and the persisted-state
    refresh. Seed membership is decided on node ids ('s0'..'s{k}'): a
    supplier node exists in the graph iff some lineitem references it,
    and FK integrity guarantees the supplier row exists, so this is
    exactly the oracle's nodes ⋈ supplier seed set without re-reading
    the supplier table on the state path."""
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # supplier keys are 0-based in this warehouse: s_suppkey <= MAX_KEY
    # is the seed set {s0..s{MAX_KEY}} — MAX_KEY+1 seeds
    seed_ids = [f"s{k}" for k in range(PPR_SEED_MAX_KEY + 1)]
    marked = deg.select(
        F.col("src").alias("id"),
        "outdeg",
        F.col("src").isin(seed_ids).cast("int").alias("is_seed"),
    )
    k_row = marked.agg(F.sum("is_seed").cast("bigint").alias("k"))
    # one bounded 1-row broadcast: seeds carry base = SCALE div k, rest 0
    nodes = (
        marked.crossJoin(F.broadcast(k_row))
        .select(
            "id",
            "outdeg",
            "is_seed",
            F.expr(
                f"CASE WHEN is_seed = 1 THEN {PR_SCALE} div k ELSE 0L END"
            ).alias("base"),
        )
        .localCheckpoint(eager=False)
    )
    ranks = nodes.select("id", "outdeg", "base", F.col("base").alias("rank"))
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(ranks, edges.src == ranks.id)
            .select(F.col("dst").alias("id"), F.expr("rank div outdeg").alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("m"))
        )
        ranks = (
            nodes.select("id", "outdeg", "base")
            .join(contrib, "id", "left")
            .select(
                "id",
                "outdeg",
                "base",
                F.expr("(3 * base + 17 * coalesce(m, 0L)) div 20").alias("rank"),
            )
            .localCheckpoint(eager=False)  # cut lineage: O(1) plan per round
        )
    return (
        nodes.select("id", "is_seed")
        .join(ranks, "id")
        .select(
            "id",
            "outdeg",
            "is_seed",
            F.col("rank").alias("rank_scaled"),
            (F.col("rank").cast("double") / F.lit(float(PR_SCALE))).alias("rank"),
        )
    )


@query(
    "graph_ppr_seeded",
    oracle=_PPR_ORACLE,
    doc="Personalized PageRank (d=0.85, 6 fixed iterations) from a "
        "trusted supplier seed set over the customer↔supplier trade "
        "graph — the TrustRank quality-propagation pattern: restart "
        "mass lands only on seeds (base = SCALE div |seeds|), so rank "
        "measures proximity to audited-good sources. Entirely "
        "scaled-BIGINT (identical fold to graph_pagerank) ⇒ bit-stable "
        "under any shuffle order; per-iteration cost is one hash join "
        "+ one hash aggregate with lineage cuts. Served from the "
        "persisted graph state (graph_state.py) — warm queries read the "
        "materialized rank table, zero corpus scans; the oracle "
        "re-audits the persisted bytes from scratch every sweep.",
)
def graph_ppr_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .graph_state import serve_ppr

    return serve_ppr(spark, sf_dir)


# ------------------------------------------ seeded harmonic centrality -----
#
# Multi-source BFS distance from the trusted seed set + harmonic score
# 1/dist — the DISTANCE companion to graph_ppr_seeded's random-walk
# proximity (TrustRank uses the walk; link-spam radius audits use hop
# distance: a node >H hops from every audited-good source is crawl
# frontier, not core). Fixed BFS_ROUNDS rounds of the frontier
# relaxation d' = min(d, min_in-neighbors d+1) — one edges⋈dist hash
# join + one min hash-agg per round (min is associative ⇒ map-side
# combine absorbs hubs), lineage cut per round; unreached-within-H
# nodes keep NULL dist and harmonic 0. All distances are small exact
# integers; harmonic = 1/d is ONE exact-input IEEE division. The edge
# list comes from the PERSISTED graph state (serve_edges) — this query
# demonstrates a NEW consumer reading the extracted graph with zero
# corpus scans, the reuse the state exists for.

BFS_ROUNDS = 6

_BFS_ROUND_SQL = """
    , d{i} AS (
      SELECT id, MIN(d) AS d FROM (
        SELECT id, d FROM d{prev}
        UNION ALL
        SELECT e.dst AS id, p.d + 1 AS d
        FROM d{prev} p JOIN edges e ON e.src = p.id
        WHERE p.d IS NOT NULL
      ) GROUP BY id
    )
"""

_HARMONIC_ORACLE = (
    "WITH "
    + _PR_EDGES_SQL
    + """, d0 AS (
      SELECT id, CASE WHEN id IN ({seeds})
                      THEN CAST(0 AS BIGINT) END AS d
      FROM nodes
    )"""
    + "".join(
        _BFS_ROUND_SQL.format(i=i, prev=i - 1)
        for i in range(1, BFS_ROUNDS + 1)
    )
    + f"""
    SELECT id, CAST(d AS BIGINT) AS dist,
           CASE WHEN d > 0 THEN CAST(1 AS DOUBLE) / CAST(d AS DOUBLE)
                ELSE CAST(0 AS DOUBLE) END AS harmonic
    FROM d{BFS_ROUNDS}
    ORDER BY id
    """
)


@query(
    "graph_harmonic_seeded",
    oracle=_HARMONIC_ORACLE.format(
        seeds=", ".join(f"'s{k}'" for k in range(PPR_SEED_MAX_KEY + 1))
    ),
    doc=f"Seeded harmonic centrality: multi-source BFS hop distance from "
        "the trusted supplier seed set (s0..s3 — graph_ppr_seeded's seed "
        f"set) over the trade graph, {BFS_ROUNDS} unrolled frontier-"
        "relaxation rounds (min is associative ⇒ map-side combine; "
        "lineage cut per round), harmonic = 1/dist as one exact-input "
        "IEEE division, unreached nodes NULL/0. Served from the "
        "PERSISTED graph state's materialized harmonic table (refreshed "
        "with the PR/PPR/LPA fixpoints on edge change, zero corpus "
        "scans warm); the oracle re-audits the bytes from scratch every "
        "sweep. The hop-radius audit that complements PPR's walk "
        "proximity.",
)
def graph_harmonic_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .graph_state import serve_harmonic

    return serve_harmonic(spark, sf_dir)


def _harmonic_from_edges(edges: DataFrame) -> DataFrame:
    """The multi-source-BFS fold over an already-extracted directed edge
    list — shared by the from-scratch path and the persisted-state
    refresh (it is the 4th materialized fixpoint artifact: an interim
    bench showed the per-query BFS at 6.9 s while its PR/PPR/LPA
    siblings served in ~0.2 s, so it joined them in the state)."""
    seed_ids = [f"s{k}" for k in range(PPR_SEED_MAX_KEY + 1)]
    dist = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select(
            "id",
            F.when(F.col("id").isin(seed_ids), F.lit(0).cast("bigint")).alias(
                "d"
            ),
        )
    )
    for _ in range(BFS_ROUNDS):
        prop = (
            edges.join(
                dist.filter(F.col("d").isNotNull()), edges.src == dist.id
            )
            .select(F.col("dst").alias("id"), (F.col("d") + 1).alias("d"))
        )
        dist = (
            dist.select("id", "d")
            .unionByName(prop)
            .groupBy("id")
            .agg(F.min("d").alias("d"))
            .localCheckpoint(eager=False)  # cut lineage: O(1) plan per round
        )
    return dist.select(
        "id",
        F.col("d").cast("bigint").alias("dist"),
        F.when(F.col("d") > 0, F.lit(1.0) / F.col("d").cast("double"))
        .otherwise(F.lit(0.0))
        .alias("harmonic"),
    ).orderBy("id")


# ----------------------------------------------- graph-state byte audit ----
#
# Re-verify the persisted graph state against a from-scratch recompute on
# every sweep (the dedup_counts_state_audit discipline): the Spark side
# reads ONLY the served state artifacts — and deliberately DIFFERENT ones
# per invariant (edge counts from the edges generations, node/degree mass
# from the materialized PageRank table, seed count from the PPR table,
# community stats from the LPA table, order-map size from the okc map) —
# so any incoherence BETWEEN artifacts (a fixpoint refresh that missed an
# edge generation, a lost okc append, a stale fix_gen pointer) breaks a
# cross-check that no single-artifact read would. The oracle re-derives
# every number from the raw fact tables, including the LPA chain for the
# community stats. The per-node rank BYTES are already fully audited by
# the graph_pagerank / graph_ppr_seeded / graph_label_propagation oracles
# themselves (state-served Spark rows vs from-scratch DuckDB recompute,
# hash-matched every sweep); this audit pins the structural invariants
# and cross-artifact coherence.

_AUDIT_SEED_LIST = ", ".join(  # 0-based supplier keys: s0..s{MAX_KEY}
    f"'s{k}'" for k in range(PPR_SEED_MAX_KEY + 1)
)

_GRAPH_AUDIT_ORACLE = (
    "WITH "
    + _PR_EDGES_SQL
    + ", l0 AS (SELECT id, id AS label FROM sized)"
    + "".join(
        _LPA_ITER_SQL.format(i=i, prev=i - 1) for i in range(1, LPA_ITERS + 1)
    )
    + f"""
    , cp AS (
      SELECT DISTINCT o_custkey AS c, l_partkey AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), cpdeg AS (
      SELECT s, CAST(COUNT(*) AS BIGINT) AS sdeg FROM cp GROUP BY s
    ), cpkept AS (
      SELECT cp.c, cp.s, cpdeg.sdeg
      FROM cp JOIN cpdeg USING (s) WHERE sdeg <= {LINK_DEG_CAP}
    ), cppairs AS (
      SELECT a.c AS c1, b.c AS c2, a.sdeg
      FROM cpkept a JOIN cpkept b ON a.s = b.s AND a.c < b.c
      WHERE a.sdeg >= 2
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM und) AS n_und_edges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_orders_mapped,
           (SELECT CAST(SUM(outdeg) AS BIGINT) FROM nodes) AS degree_mass,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes
             WHERE id IN ({_AUDIT_SEED_LIST})) AS n_seeds,
           (SELECT CAST(COUNT(DISTINCT label) AS BIGINT) FROM l{LPA_ITERS})
             AS n_communities,
           (SELECT CAST(MAX(c) AS BIGINT) FROM (
              SELECT COUNT(*) AS c FROM l{LPA_ITERS} GROUP BY label))
             AS largest_community,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cp) AS n_cp_edges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cpkept) AS cp_degree_mass,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cppairs) AS cp_pair_mass,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM (
              SELECT DISTINCT c1, c2, sdeg FROM cppairs))
             AS n_cp_pair_groups
    """
)


@query(
    "graph_state_audit",
    oracle=_GRAPH_AUDIT_ORACLE,
    doc="Persisted graph state re-verified against a from-scratch "
        "recompute: each invariant is read from a DIFFERENT state "
        "artifact (edge count from the edge generations, node count + "
        "degree mass from the materialized PageRank table, seed count "
        "from the PPR table, community count/max from the LPA table, "
        "order-map size from the okc map, co-purchase raw edge count "
        "from the cp_edges generations, capped degree mass from cp_cdeg, "
        "pair mass + group count from cp_pairs) while the oracle "
        "re-derives all of them from the raw fact tables — a stale "
        "fix_gen/cp_fix_gen, lost generation, or partial append breaks "
        "a cross-artifact check. Rank and pair bytes themselves are "
        "audited per-row by the served queries' own oracles every sweep.",
)
def graph_state_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .graph_state import ensure_graph_state, read_artifact

    # resolve (root, manifest) ONCE and read all artifacts through the
    # pinned manifest: five independent serve_* calls could mix fix
    # generations if a concurrent maintainer committed between them
    # (readers take no lease by design), producing a spurious
    # cross-artifact mismatch.
    root, man = ensure_graph_state(spark, sf_dir, need=("fix", "cp_top"))
    e = read_artifact(spark, root, man, "edges").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_und_edges")
    )
    pr = read_artifact(spark, root, man, "ranks_pr").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.sum("outdeg").cast("bigint").alias("degree_mass"),
    )
    okc = read_artifact(spark, root, man, "okc").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders_mapped")
    )
    ppr = read_artifact(spark, root, man, "ranks_ppr").agg(
        F.sum("is_seed").cast("bigint").alias("n_seeds")
    )
    lpa = read_artifact(spark, root, man, "labels_lpa").agg(
        F.countDistinct("community").cast("bigint").alias("n_communities"),
        F.max("community_size").cast("bigint").alias("largest_community"),
    )
    # co-purchase invariants, each from a DIFFERENT cp artifact: raw
    # edge count from the cp_edges generations, capped degree mass from
    # cp_cdeg, pair mass + group count from cp_pairs — a cp refresh that
    # missed an edge generation breaks a cross-check here.
    cpe = read_artifact(spark, root, man, "cp_edges").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cp_edges")
    )
    cpd = read_artifact(spark, root, man, "cp_cdeg").agg(
        F.sum("deg").cast("bigint").alias("cp_degree_mass")
    )
    cpp = read_artifact(spark, root, man, "cp_pairs").agg(
        F.sum("cnt").cast("bigint").alias("cp_pair_mass"),
        F.count(F.lit(1)).cast("bigint").alias("n_cp_pair_groups"),
    )
    # bounded 1-row aggregates — the crossJoins combine metadata
    return (
        e.crossJoin(F.broadcast(pr))
        .crossJoin(F.broadcast(okc))
        .crossJoin(F.broadcast(ppr))
        .crossJoin(F.broadcast(lpa))
        .crossJoin(F.broadcast(cpe))
        .crossJoin(F.broadcast(cpd))
        .crossJoin(F.broadcast(cpp))
        .select(
            "n_und_edges",
            "n_nodes",
            "n_orders_mapped",
            "degree_mass",
            "n_seeds",
            "n_communities",
            "largest_community",
            "n_cp_edges",
            "cp_degree_mass",
            "cp_pair_mass",
            "n_cp_pair_groups",
        )
    )
