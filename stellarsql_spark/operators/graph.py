"""Graph analytics over the event log's co-occurrence graph
(SURVEY.md §2 C-graph family).

Reference parity note: /root/reference is an empty checkout (SURVEY.md
§0), so there is no file:line to cite; the operators follow the
standard warehouse-engine graph surface (triangle counting, PageRank)
as published in the GraphFrames / Trino graph-function literature.

Edge model (shared by both keys and their oracles): users are linked
when they produced the same event_type within the same hour — a
bipartite co-occurrence projection. Edges come from a self-join of the
DISTINCT (user, type, hour) incidence table on its bucket key, so the
join input is pre-deduplicated and the blow-up per bucket is
C(bucket_size, 2), bounded by activity per hour, not corpus size.

Scale shape (100 TB events):
- the incidence table is DISTINCT-reduced before the self-join
  (map-side partial dedup), and the self-join shuffles on the
  (event_type, hour) bucket key — giant buckets are the skew risk and
  would be salted/capped in a production deploy (SCALE.md);
- triangle counting uses DEGREE ORIENTATION: each edge is directed
  from its lower-(degree, id) endpoint to the higher one, so wedge
  enumeration is Σ C(outdeg, 2) with outdeg ≤ O(√m) on any graph —
  the classic bound that keeps the wedge join from exploding on
  high-degree hubs;
- PageRank is fixed-point integer arithmetic (micro-units, BIGINT,
  truncating division) so three engine-independent iterations are
  bit-exact — no float summation-order divergence — and each
  iteration is one join + one shuffle keyed by node.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stellarsql_spark.artifacts import ensure, warehouse_path
from stellarsql_spark.catalog import content_fingerprint, load_table, table_path
from stellarsql_spark.registry import register

# Shared oracle prefix: incidence → deduped undirected edge list (u < v).
_EDGES_CTE = """
b AS (
  SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS h FROM events
),
edges AS (
  SELECT a.user_id AS u, c.user_id AS v
  FROM b a JOIN b c ON a.event_type = c.event_type AND a.h = c.h
  WHERE a.user_id < c.user_id
  GROUP BY 1, 2
)
"""


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deduplicated undirected edge list (u < v) of the co-occurrence
    graph; one self-join on the (event_type, hour) bucket key.

    The edge list is persisted (and memoized per session/corpus): both
    graph operators reference it from several plan subtrees (degrees,
    orientation, closure check, rank iterations), and without a
    persist each reference re-runs the incidence self-join — the same
    reason GraphX pins its edge RDD before iterating. The artifact is
    ~|edges| rows (millions at 100 TB — small next to the log)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _EDGE_CACHE.get(key)
    if cached is not None:
        return cached
    ev = load_table(spark, sf_dir, "events")
    b = ev.select("user_id", "event_type", F.date_trunc("hour", "ts").alias("h")).distinct()
    edges = (
        b.alias("l")
        .join(b.alias("r"), ["event_type", "h"])
        .where(F.col("l.user_id") < F.col("r.user_id"))
        .select(F.col("l.user_id").alias("u"), F.col("r.user_id").alias("v"))
        .distinct()
        .persist()
    )
    _EDGE_CACHE[key] = edges
    return edges


_EDGE_CACHE: dict[tuple[str, str], DataFrame] = {}


def _degrees(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )


_TRIANGLES_ORACLE = f"""
WITH {_EDGES_CTE},
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges)
  GROUP BY node
)
SELECT
  (SELECT COUNT(*) FROM deg) AS n_nodes,
  (SELECT COUNT(*) FROM edges) AS n_edges,
  (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
  (SELECT COUNT(*) FROM edges e1
     JOIN edges e2 ON e1.v = e2.u
     JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles,
  CASE WHEN (SELECT SUM(d * (d - 1) // 2) FROM deg) > 0
       THEN CAST(3 * (SELECT COUNT(*) FROM edges e1
                        JOIN edges e2 ON e1.v = e2.u
                        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v) AS DOUBLE)
            / CAST((SELECT SUM(d * (d - 1) // 2) FROM deg) AS DOUBLE)
       ELSE CAST(0.0 AS DOUBLE) END AS clustering
"""


@register("b_graph_triangles", oracle=_TRIANGLES_ORACLE, tags=("graph", "triangles"))
def b_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle census: node/edge/wedge/triangle counts and the
    global clustering coefficient (3·triangles / wedges).

    The triangle join is DEGREE-ORIENTED: edges point from the
    lower-(degree, id) endpoint to the higher one, each triangle has
    exactly one node with two out-edges into it, and the wedge
    enumeration is Σ C(outdeg, 2) — bounded even on hub-heavy graphs
    (the oracle counts the same triangles with the plain u<v 3-way
    self-join, which DuckDB can afford at oracle scale).
    Clustering is a single int/int IEEE division, engine-identical."""
    edges = _edges(spark, sf_dir)
    deg = _degrees(edges)

    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
    )
    wedges = (
        oriented.alias("e1")
        .join(oriented.alias("e2"), "s")
        .where(F.col("e1.t") < F.col("e2.t"))
        .select(F.col("e1.t").alias("x"), F.col("e2.t").alias("y"))
    )
    closed = wedges.join(
        edges, (wedges.x == edges.u) & (wedges.y == edges.v)
    )

    nn = deg.agg(F.count("*").alias("n_nodes"))
    ne = edges.agg(F.count("*").alias("n_edges"))
    nw = deg.agg(F.expr("sum(d * (d - 1) div 2)").cast("bigint").alias("n_wedges"))
    nt = closed.agg(F.count("*").alias("n_triangles"))
    return (
        nn.crossJoin(ne)
        .crossJoin(nw)
        .crossJoin(nt)
        .withColumn(
            "clustering",
            F.when(
                F.col("n_wedges") > 0,
                (F.col("n_triangles") * 3).cast("double")
                / F.col("n_wedges").cast("double"),
            ).otherwise(F.lit(0.0)),
        )
    )


# Fixed-point PageRank: rank in BIGINT micro-units, damping 0.85 as
# integer (85·x)//100, contributions pr//deg — truncating division is
# identical in Spark (`div`) and DuckDB (`//`) on non-negative ints,
# so three unrolled iterations are bit-exact across engines.
def _pr_iter_sql(prev: str, this: str) -> str:
    return f"""
{this} AS (
  SELECT d.node, d.deg,
         CAST(150000 + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS pr
  FROM dg d LEFT JOIN (
    SELECT e.v AS node, SUM(r.pr // r.deg) AS s
    FROM und e JOIN {prev} r ON e.u = r.node GROUP BY 1
  ) s ON d.node = s.node
)"""


_PAGERANK_ORACLE = f"""
WITH {_EDGES_CTE},
und AS (SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges),
dg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM und GROUP BY 1),
r0 AS (SELECT node, deg, CAST(1000000 AS BIGINT) AS pr FROM dg),
{_pr_iter_sql("r0", "r1")},
{_pr_iter_sql("r1", "r2")},
{_pr_iter_sql("r2", "r3")}
SELECT node AS user_id, deg, pr AS rank_micro
FROM r3 ORDER BY pr DESC, node LIMIT 20
"""


@register("b_graph_pagerank", oracle=_PAGERANK_ORACLE, tags=("graph", "pagerank", "iterative"))
def b_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three fixed-point PageRank iterations (damping 0.85) on the
    undirected co-occurrence graph; top-20 nodes by final rank.

    Ranks live in BIGINT micro-units with truncating division so both
    engines compute bit-identical trajectories (float PageRank sums
    contributions in engine-specific order and cannot hash-match).
    Each iteration = one broadcast-size rank table joined to the edge
    list + one shuffle keyed by destination node; at 100 TB the edge
    list is the big side and stays partitioned by source across
    iterations."""
    edges = _edges(spark, sf_dir)
    und = edges.select("u", "v").unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    dg = und.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("deg"))
    ranks = dg.select("node", "deg", F.lit(1000000).cast("bigint").alias("pr"))
    for _ in range(3):
        contrib = (
            und.join(ranks.select(F.col("node").alias("u"), "deg", "pr"), "u")
            .select(F.col("v").alias("node"), F.expr("pr div deg").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = dg.join(contrib, "node", "left").select(
            "node",
            "deg",
            (F.lit(150000) + F.expr("(85 * coalesce(s, 0)) div 100"))
            .cast("bigint")
            .alias("pr"),
        )
    return (
        ranks.orderBy(F.col("pr").desc(), "node")
        .limit(20)
        .select(F.col("node").alias("user_id"), "deg", F.col("pr").alias("rank_micro"))
    )


_COMPONENTS_ORACLE = """
WITH RECURSIVE b AS (
  SELECT DISTINCT user_id, event_type, date_trunc('minute', ts) AS m FROM events
),
e AS (
  SELECT DISTINCT a.user_id AS u, c.user_id AS v
  FROM b a JOIN b c ON a.event_type = c.event_type AND a.m = c.m
  WHERE a.user_id < c.user_id
),
nodes AS (SELECT DISTINCT user_id AS n FROM events),
bidir AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
reach AS (
  SELECT n AS node, n AS label FROM nodes
  UNION
  SELECT bd.v AS node, r.label FROM reach r JOIN bidir bd ON bd.u = r.node
),
comp AS (SELECT node, MIN(label) AS comp_id FROM reach GROUP BY node)
SELECT comp_id, COUNT(*) AS n_nodes FROM comp GROUP BY comp_id
"""


@register("b_graph_components", oracle=_COMPONENTS_ORACLE, tags=("graph", "components", "iterative"))
def b_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the minute-level co-occurrence graph
    (users linked by same event_type within the same minute — sparser
    than the hourly graph, so real component structure exists), via
    iterative min-label propagation run to CONVERGENCE: every node
    starts labeled with itself; each round takes the min of its own
    and its neighbors' labels; a round that changes nothing ends the
    loop. The result (component id = min member, component size) is a
    graph invariant — iteration order can't affect it — so the key
    carries a full hash oracle (DuckDB recursive-CTE reachability).

    Scale shape: each round is one shuffle join (edges × labels,
    keyed by node) + one min-aggregate; rounds ≈ component diameter
    (3-5 on co-occurrence graphs, where hub buckets create shortcuts).
    The convergence check is a driver-side count of changed labels —
    one scalar per round, not a data collect. For adversarial
    path-shaped graphs (diameter ~n) production would switch to
    alternating large-star/small-star (O(log n) rounds); the loop
    structure here is the same, only the propagation rule changes.
    Each round's label frame is localCheckpoint-ed (eager): a plain
    persist() caches data but the LOGICAL plan still nests one join
    deeper per round — by ~10 rounds the plan tree (and AQE's explain
    rendering of it) grows unboundedly. Checkpointing truncates the
    lineage to the materialized result, the standard move for
    iterative DataFrame algorithms (GraphX does the same with its
    RDD checkpoints)."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        "user_id", "event_type", F.date_trunc("minute", "ts").alias("m")
    ).distinct()
    edges = (
        b.alias("l")
        .join(b.alias("r"), ["event_type", "m"])
        .where(F.col("l.user_id") < F.col("r.user_id"))
        .select(F.col("l.user_id").alias("u"), F.col("r.user_id").alias("v"))
        .distinct()
    )
    bidir = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).persist()
    nodes = ev.select(F.col("user_id").alias("node")).distinct()
    lbl = nodes.select("node", F.col("node").alias("label")).localCheckpoint()
    try:
        while True:
            nbr = (
                bidir.join(lbl.withColumnRenamed("node", "u"), "u")
                .groupBy(F.col("v").alias("node"))
                .agg(F.min("label").alias("nbr_min"))
            )
            new_lbl = (
                lbl.join(nbr, "node", "left")
                .select(
                    "node",
                    F.least("label", F.coalesce("nbr_min", "label")).alias("label"),
                )
                .localCheckpoint()
            )
            changed = (
                new_lbl.join(lbl.withColumnRenamed("label", "old"), "node")
                .where(F.col("label") != F.col("old"))
                .count()
            )
            # the superseded round's checkpoint blocks are dead once the
            # convergence count has consumed them; dropping the Python
            # reference lets the ContextCleaner reclaim the orphaned
            # checkpoint RDDs (they are not CacheManager entries, so an
            # unpersist() call cannot release them — r12 ADVICE)
            lbl = new_lbl
            if changed == 0:
                break
    finally:
        # the returned plan reads the checkpointed converged label frame
        # (|nodes| rows — a bounded artifact, like the _edges persist)
        bidir.unpersist()
    return lbl.groupBy(F.col("label").alias("comp_id")).agg(
        F.count("*").alias("n_nodes")
    )


@register("b_graph_components_stars", oracle=_COMPONENTS_ORACLE, tags=("graph", "components", "iterative", "logn"))
def b_graph_components_stars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C83: connected components via alternating large-star /
    small-star (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC'14) — the O(log n)-round algorithm the
    b_graph_components docstring promises for adversarial
    (path-shaped, diameter ~n) graphs, where plain min-label
    propagation needs diameter rounds.

    One round = two node-keyed shuffles:
    - LARGE-STAR at u: connect every strictly-larger neighbor to
      m = min(N(u) ∪ {u});
    - SMALL-STAR at u: connect every ≤-neighbor (and u itself) to m.
    Each step only ever lowers a node's connection target, and small-
    star's fixpoint is the star graph per component (every node edged
    directly to its component minimum) — detected when a round leaves
    the edge set unchanged.  Same answer as min-label propagation by
    construction (both compute the component-min labeling), so it
    shares the recursive-CTE hash oracle; iteration order cannot
    matter.  Per-round localCheckpoint + eager unpersist of the
    superseded frame, as in the label-propagation twin."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        "user_id", "event_type", F.date_trunc("minute", "ts").alias("m")
    ).distinct()
    first = (
        b.alias("l")
        .join(b.alias("r"), ["event_type", "m"])
        .where(F.col("l.user_id") < F.col("r.user_id"))
        .select(F.col("l.user_id").alias("u"), F.col("r.user_id").alias("v"))
        .distinct()
        .localCheckpoint()
    )
    nodes = ev.select(F.col("user_id").alias("node")).distinct()

    def _star(edges: DataFrame, large: bool) -> DataFrame:
        bidir = edges.unionAll(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = bidir.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("mn")
        )
        nbr = bidir.join(m, "u")
        if large:
            out = nbr.where(F.col("v") > F.col("u")).select(
                F.col("v").alias("u"), F.col("mn").alias("v")
            )
        else:
            out = nbr.where(F.col("v") <= F.col("u")).select(
                F.col("v").alias("u"), F.col("mn").alias("v")
            ).unionAll(m.select("u", F.col("mn").alias("v")))
        return (
            out.where(F.col("u") != F.col("v"))
            .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
            .distinct()
        )

    edges = first
    while True:
        new_edges = _star(_star(edges, large=True), large=False).localCheckpoint()
        same = (
            new_edges.count() == edges.count()
            and new_edges.exceptAll(edges).limit(1).count() == 0
        )
        if edges is not first:
            edges.unpersist()
        edges = new_edges
        if same:
            break
    # fixpoint: every non-min node carries exactly one edge (node,
    # comp_min); min nodes and isolated nodes label themselves
    member = edges.select(F.col("u").alias("node"), F.col("v").alias("label"))
    selflbl = nodes.join(member, "node", "left_anti").select(
        "node", F.col("node").alias("label")
    )
    first.unpersist()
    return (
        member.unionByName(selflbl)
        .groupBy(F.col("label").alias("comp_id"))
        .agg(F.count("*").alias("n_nodes"))
    )


# Hop cap: part of the operator's declared contract (both engines walk
# exactly MAX_HOPS rounds), so results agree even if some node's true
# distance exceeds the cap.
_BFS_MAX_HOPS = 6

_BFS_ORACLE = f"""
WITH RECURSIVE b AS (
  SELECT DISTINCT user_id, event_type, date_trunc('minute', ts) AS m FROM events
),
e AS (
  SELECT DISTINCT a.user_id AS u, c.user_id AS v
  FROM b a JOIN b c ON a.event_type = c.event_type AND a.m = c.m
  WHERE a.user_id < c.user_id
),
bidir AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
nodes AS (SELECT DISTINCT user_id AS n FROM events),
walk AS (
  SELECT n AS node, 0 AS d FROM nodes WHERE n % 100 = 0
  UNION
  SELECT bd.v AS node, w.d + 1 AS d
  FROM walk w JOIN bidir bd ON bd.u = w.node
  WHERE w.d < {_BFS_MAX_HOPS}
),
best AS (SELECT node, MIN(d) AS hops FROM walk GROUP BY node),
lab AS (
  SELECT nodes.n, COALESCE(best.hops, -1) AS hops
  FROM nodes LEFT JOIN best ON best.node = nodes.n
)
SELECT hops, COUNT(*) AS n_users FROM lab GROUP BY hops
"""


@register("b_graph_bfs", oracle=_BFS_ORACLE, tags=("graph", "bfs", "iterative"))
def b_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C102: multi-source BFS — shortest hop distance from a seed set
    (every user with user_id % 100 == 0) over the minute-level
    co-occurrence graph, reported as a reach histogram (hops →
    users; -1 = unreached within the cap). The influence-radius /
    blast-radius primitive next to the components keys.

    Frontier expansion: round d joins ONLY the frontier (nodes first
    reached at d-1) against the adjacency list, anti-joins already-
    visited nodes, and stamps survivors with d — each round shuffles
    O(frontier × avg-degree) rows, never the whole distance table,
    and stops early when a frontier comes back empty. The
    {_BFS_MAX_HOPS}-hop cap is part of the contract (the oracle's
    recursive CTE walks the same bound), so both engines agree even
    on graphs deeper than the cap. Per-round localCheckpoint +
    unpersist of the superseded frontier, as in the components
    twins."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        "user_id", "event_type", F.date_trunc("minute", "ts").alias("m")
    ).distinct()
    edges = (
        b.alias("l")
        .join(b.alias("r"), ["event_type", "m"])
        .where(F.col("l.user_id") < F.col("r.user_id"))
        .select(F.col("l.user_id").alias("u"), F.col("r.user_id").alias("v"))
        .distinct()
    )
    bidir = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).persist()
    nodes = ev.select(F.col("user_id").alias("node")).distinct()
    dist = (
        nodes.where(F.col("node") % 100 == 0)
        .select("node", F.lit(0).alias("hops"))
        .localCheckpoint()
    )
    frontier = dist
    for d in range(1, _BFS_MAX_HOPS + 1):
        nxt = (
            bidir.join(
                frontier.select(F.col("node").alias("u")), "u"
            )
            .select(F.col("v").alias("node"))
            .distinct()
            .join(dist, "node", "left_anti")
            .select("node", F.lit(d).alias("hops"))
            .localCheckpoint()
        )
        if frontier is not dist:
            frontier.unpersist()  # consumed by nxt's checkpoint
        frontier = nxt
        if nxt.limit(1).count() == 0:
            break
        prev = dist
        dist = prev.unionByName(nxt).localCheckpoint()
        prev.unpersist()  # the union copied its rows; blocks are dead
    frontier.unpersist()
    bidir.unpersist()
    labeled = nodes.join(dist, "node", "left").select(
        F.coalesce("hops", F.lit(-1)).alias("hops")
    )
    return labeled.groupBy("hops").agg(F.count("*").alias("n_users"))


# --- degree distribution ---------------------------------------------

_DEGREE_ORACLE = """
WITH b AS (
  SELECT DISTINCT user_id, event_type, date_trunc('minute', ts) AS m FROM events
),
e AS (
  SELECT DISTINCT a.user_id AS u, c.user_id AS v
  FROM b a JOIN b c ON a.event_type = c.event_type AND a.m = c.m
  WHERE a.user_id < c.user_id
),
bidir AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
deg AS (SELECT u AS node, COUNT(*) AS degree FROM bidir GROUP BY u)
SELECT degree, COUNT(*) AS n_nodes
FROM deg GROUP BY degree
"""


@register("b_graph_degree", oracle=_DEGREE_ORACLE, tags=("graph", "degree"))
def b_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C138: degree distribution of the co-occurrence graph (same
    edge semantics as b_graph_components: users sharing an
    (event_type, minute) bucket) — the first diagnostic a graph
    pipeline computes, because the tail of this histogram decides
    every later algorithm's skew strategy (hub nodes ⇒ salting /
    star contraction). Isolated nodes have no bidir rows and drop
    out, exactly as in the oracle. Scale shape: the bucket self-join
    is bounded per bucket (the components docstring's skew guard
    applies); degree is one node-keyed count, the histogram one
    degree-keyed count — both with map-side partial aggregation."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        "user_id", "event_type", F.date_trunc("minute", "ts").alias("m")
    ).distinct()
    edges = (
        b.alias("l")
        .join(b.alias("r"), ["event_type", "m"])
        .where(F.col("l.user_id") < F.col("r.user_id"))
        .select(F.col("l.user_id").alias("u"), F.col("r.user_id").alias("v"))
        .distinct()
    )
    bidir = edges.unionAll(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = bidir.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("degree"))
    return deg.groupBy("degree").agg(F.count("*").alias("n_nodes"))


# --- Neighborhood Jaccard / link-strength scoring (C165) -------------

_JACCARD_TOPN = 20

_JACCARD_ORACLE = f"""
WITH {_EDGES_CTE},
adj AS (
  SELECT u AS a, v AS b FROM edges
  UNION ALL
  SELECT v AS a, u AS b FROM edges
),
deg AS (SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY a),
common AS (
  SELECT e.u, e.v, CAST(COUNT(*) AS BIGINT) AS cn
  FROM edges e
  JOIN adj x ON x.a = e.u
  JOIN adj y ON y.a = e.v AND y.b = x.b
  GROUP BY e.u, e.v
),
scored AS (
  SELECT c.u, c.v, c.cn, du.d AS du, dv.d AS dv,
         ROUND(CAST(c.cn AS DOUBLE) / (du.d + dv.d - c.cn), 6) AS jaccard
  FROM common c
  JOIN deg du ON du.node = c.u
  JOIN deg dv ON dv.node = c.v
)
SELECT u, v, cn, du, dv, jaccard, CAST(rn AS INT) AS rn FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY jaccard DESC, u, v) AS rn FROM scored
) WHERE rn <= {_JACCARD_TOPN}
"""


@register("b_graph_jaccard", oracle=_JACCARD_ORACLE, tags=("graph", "similarity"))
def b_graph_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C165: neighborhood Jaccard per edge — |N(u)∩N(v)| /
    |N(u)∪N(v)| — the classic link-strength / link-prediction score
    (tie-strength pruning keeps only edges whose endpoints share
    context; the same intersection count drives Adamic-Adar and
    common-neighbors scoring with one expression swap).

    The intersection count is the triangle-wedge join restricted to
    existing edges: adjacency is joined once from each endpoint and
    matched on the shared neighbor, so the intermediate is
    Σ_edges |N(u)∩N(v)| rows — triangle-census-sized, not
    degree-squared (b_graph_triangles' orientation bound applies to
    the same shape at 100 TB; hub skew salts on the shared-neighbor
    key). |N(u)∪N(v)| needs no second join: du + dv − cn from the
    degree table. Jaccard is one int/int IEEE division rounded at
    display; the top-{_JACCARD_TOPN} window runs over edge-count
    rows with exchange-safe (jaccard, u, v) total order."""
    from pyspark.sql import Window

    edges = _edges(spark, sf_dir)
    adj = edges.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        edges.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = _degrees(edges)
    common = (
        edges.alias("e")
        .join(adj.alias("x"), F.col("x.a") == F.col("e.u"))
        .join(adj.alias("y"), (F.col("y.a") == F.col("e.v")) & (F.col("y.b") == F.col("x.b")))
        .groupBy(F.col("e.u").alias("u"), F.col("e.v").alias("v"))
        .agg(F.count("*").cast("bigint").alias("cn"))
    )
    scored = (
        common.join(deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
        .select(
            "u",
            "v",
            "cn",
            "du",
            "dv",
            F.round(
                F.col("cn").cast("double") / (F.col("du") + F.col("dv") - F.col("cn")), 6
            ).alias("jaccard"),
        )
    )
    w = Window.orderBy(F.col("jaccard").desc(), "u", "v")
    return scored.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= _JACCARD_TOPN
    )


# --- Degree assortativity (C197) -------------------------------------------

# Newman's degree assortativity: the Pearson correlation of endpoint
# degrees over edges (each undirected edge contributes BOTH
# orientations, the standard convention).  Degrees are exact longs,
# so every moment sum is exact integer arithmetic; the coefficient
# itself is one sqrt+division at the display boundary — identical on
# identical longs.  Social graphs assort positive, infrastructure
# graphs negative; for the co-occurrence graph this is the
# hub-mixing diagnostic.
_ASSORT_ORACLE = f"""
WITH {_EDGES_CTE},
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
  ) GROUP BY node
),
ends AS (
  SELECT du.d AS x, dv.d AS y
  FROM edges e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
  UNION ALL
  SELECT dv.d, du.d
  FROM edges e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
),
mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy
  FROM ends
)
SELECT n, sx, sxy, sxx,
       CAST(ROUND(1000000 * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
            / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
               * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)))
            AS BIGINT) AS assort_m
FROM mom
"""


@register("b_graph_assortativity", oracle=_ASSORT_ORACLE, tags=("graph", "assortativity"))
def b_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C197: Newman degree assortativity of the co-occurrence graph —
    Pearson r of endpoint degrees over (both orientations of) the
    edge list.  The one-number mixing diagnostic: do hubs attach to
    hubs?  Complements b_graph_degree (the distribution itself) and
    b_graph_jaccard (local overlap).

    Scale shape: the degree table joins onto the edge list twice
    (node-keyed shuffles of edge-list-sized data — the triangle
    join's little sibling); moments reduce to one row.  By symmetry
    sy=sx and syy=sxx, but both are computed so the oracle and the
    engine agree on the FORMULA, not a simplification.

    Headroom bound: the emitted moments (sxx = Σ deg² over edge
    ends) are themselves the output contract, so they stay BIGINT —
    exact while Σ deg² < 2^63, i.e. up to ~1e9 edge-ends of ~1e4
    mean degree.  Past that (hub degrees ≥ ~1e6 on 100 TB event
    graphs) the moments must move to DECIMAL(38,0)/HUGEINT on BOTH
    engines — a contract change (decimal output schema), unlike the
    C244/C182/C212/C251 cases whose wide carriers are internal.
    That wide contract SHIPS as b_graph_assortativity_wide (C258),
    past-2^63-tested — this key stays the long-adds hot path."""
    edges = _edges(spark, sf_dir)
    deg = _degrees(edges).select("node", F.col("d").cast("long").alias("d"))
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("xu"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("yv"))
    both = edges.join(du, "u").join(dv, "v")
    ends = both.select(F.col("xu").alias("x"), F.col("yv").alias("y")).unionAll(
        both.select(F.col("yv").alias("x"), F.col("xu").alias("y"))
    )
    mom = ends.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    num = F.col("n").cast("double") * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = F.sqrt(
        F.col("n").cast("double") * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    ) * F.sqrt(
        F.col("n").cast("double") * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    )
    return mom.select(
        "n", "sx", "sxy", "sxx",
        F.round(1_000_000 * num / den).cast("bigint").alias("assort_m"),
    )


# C206 — bounded k-core peel at two derived thresholds.  Both ks come
# from the INITIAL mean degree (exact integer ceil), so the contract
# is scale-invariant: k_lo = ceil(mean/2) sits below this co-occurrence
# family's min degree (the peel certifies an immediate fixpoint — the
# whole graph IS a k_lo-core), k_hi = ceil(mean) sits above the bulk
# (the peel cascades to empty) — one key exercises both terminal
# behaviors of the algorithm.  Both engines run the SAME fixed number
# of rounds, so the outputs match row-for-row even where the peel has
# not converged; convergence shows as two equal consecutive rows,
# never assumed.
_KCORE_ROUNDS = 4


def _kcore_round_sql(tier: str, r: int) -> str:
    # MATERIALIZED is load-bearing: each round references the previous
    # round's edge CTE three times and its own node CTE twice, so
    # inlining would expand the base scan ~5^rounds times (DuckDB ran
    # out of file handles before it ran out of patience).
    prev_e, this_n, this_e = f"e{tier}{r - 1}", f"n{tier}{r}", f"e{tier}{r}"
    return f"""
{this_n} AS MATERIALIZED (
  SELECT node FROM (
    SELECT u AS node FROM {prev_e} UNION ALL SELECT v FROM {prev_e}
  ) GROUP BY node HAVING COUNT(*) >= (SELECT k_{tier} FROM kval)
),
{this_e} AS MATERIALIZED (
  SELECT u, v FROM {prev_e}
  WHERE u IN (SELECT node FROM {this_n}) AND v IN (SELECT node FROM {this_n})
)"""


_KCORE_ORACLE = (
    f"""
WITH {_EDGES_CTE},
elo0 AS (SELECT u, v FROM edges),
ehi0 AS (SELECT u, v FROM edges),
kval AS MATERIALIZED (
  SELECT ((SELECT COUNT(*) FROM edges) + n0.n - 1) // n0.n AS k_lo,
         (2 * (SELECT COUNT(*) FROM edges) + n0.n - 1) // n0.n AS k_hi
  FROM (
    SELECT COUNT(DISTINCT node) AS n FROM (
      SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
    )
  ) n0
),
"""
    + ",".join(
        _kcore_round_sql(tier, r)
        for tier in ("lo", "hi")
        for r in range(1, _KCORE_ROUNDS + 1)
    )
    + "\n"
    + "\nUNION ALL\n".join(
        f"""SELECT CAST('{tier}' AS VARCHAR) AS k_tier,
       (SELECT k_{tier} FROM kval) AS k,
       CAST({r} AS BIGINT) AS peel_round,
       (SELECT COUNT(*) FROM n{tier}{r}) AS n_nodes,
       (SELECT COUNT(*) FROM e{tier}{r}) AS n_edges"""
        for tier in ("lo", "hi")
        for r in range(1, _KCORE_ROUNDS + 1)
    )
    + "\nORDER BY k_tier, peel_round"
)


@register("b_graph_kcore", oracle=_KCORE_ORACLE, tags=("graph", "kcore"))
def b_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C206: k-core decomposition by bounded synchronous peeling —
    4 rounds of "drop every node whose degree in the surviving
    subgraph is < k", at k_lo = ceil(mean/2) and k_hi = ceil(mean)
    (exact integer arithmetic from Σd = 2|E|:
    (|E| + |V| − 1) div |V| and (2·|E| + |V| − 1) div |V|).

    The peel is the textbook distributed k-core algorithm (Montresor
    et al. 2013): each round is one degree aggregation plus two
    semi-joins — node-keyed shuffles of at-most-edge-list-sized data,
    and the frontier only shrinks.  Rounds are FIXED at 4 in both
    engines rather than run to fixpoint, so the hash contract never
    depends on convergence speed; equal consecutive rows certify
    convergence when it happens (the lo tier fixpoints immediately on
    this graph family, the hi tier cascades to empty — both terminal
    behaviors are in the hash).

    Scale shape: 2×4 bounded passes, each ≤ |E| shuffle; every
    round's survivor set is persisted because the next round's
    degrees, its edge filter, and its own count all re-read it.  The
    two |E|/|V| scalars are dim-sized driver aggregates (the same
    collect class as a broadcast-threshold probe), not corpus rows."""
    edges = _edges(spark, sf_dir)
    nv = _degrees(edges).count()  # |V|: tiny driver-side scalar
    ne = int(edges.agg(F.count("*").alias("ne")).collect()[0].ne)
    outs = []
    for tier, k in (("lo", (ne + nv - 1) // nv), ("hi", (2 * ne + nv - 1) // nv)):
        cur = edges
        for r in range(1, _KCORE_ROUNDS + 1):
            keep = _degrees(cur).where(F.col("d") >= k).select("node")
            # localCheckpoint (eager), NOT persist: persist leaves the
            # full logical plan in place, and Catalyst re-optimizes the
            # depth-r tree every round — measured 86 s of pure planning
            # by round 4 at sf0.01.  Checkpointing truncates the plan to
            # the materialized blocks (the same move the other iterative
            # graph ops here make), after which each round is ~1 s.
            cur = (
                cur.join(keep.select(F.col("node").alias("u")), "u")
                .join(keep.select(F.col("node").alias("v")), "v")
                .select("u", "v")
                .localCheckpoint()
            )
            # n_nodes counts KEPT nodes (incl. ones isolated by their
            # neighbors' removal this round), exactly the oracle's
            # HAVING set — cheap to recompute off the checkpointed
            # parent.
            outs.append((tier, k, r, keep.count(), cur.count()))
    return spark.createDataFrame(
        outs, "k_tier string, k long, peel_round long, n_nodes long, n_edges long"
    ).orderBy("k_tier", "peel_round")


# C207 — local clustering coefficient distribution.  Per-node triangle
# counts come from the SAME enumerate-each-triangle-once join as the
# global census (b_graph_triangles); each triangle then credits its
# three corners.  The coefficient 2·tri/(d·(d−1)) is one IEEE division
# of exact ints (correctly rounded, engine-identical), scaled to
# millionths; the output is decile-bucketed so the result is a stable
# |buckets|-row summary, not |V| rows.
_CLUSTCOEFF_ORACLE = f"""
WITH {_EDGES_CTE},
deg AS MATERIALIZED (
  SELECT node, COUNT(*) AS d
  FROM (SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges)
  GROUP BY node
),
tri AS MATERIALIZED (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM edges e1
  JOIN edges e2 ON e1.v = e2.u
  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
),
corner AS (
  SELECT node, COUNT(*) AS tri_n
  FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY node
),
coeff AS (
  SELECT deg.node,
         CAST(ROUND(
           2000000.0 * COALESCE(corner.tri_n, 0) / (deg.d * (deg.d - 1))
         ) AS BIGINT) AS coeff_m
  FROM deg LEFT JOIN corner ON deg.node = corner.node
  WHERE deg.d >= 2
)
SELECT LEAST(coeff_m // 100000, 9) AS decile,
       COUNT(*) AS n_nodes,
       CAST(SUM(coeff_m) AS BIGINT) AS sum_coeff_m
FROM coeff
GROUP BY 1
ORDER BY decile
"""


@register("b_graph_clustcoeff", oracle=_CLUSTCOEFF_ORACLE, tags=("graph", "clustering"))
def b_graph_clustcoeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C207: local clustering coefficient per node, decile-bucketed —
    Watts-Strogatz C_i = 2·tri(i)/(d_i·(d_i−1)) for d_i ≥ 2, where
    tri(i) counts triangles containing i.  Complements
    b_graph_triangles (one global ratio) with the distribution.

    Triangle enumeration is DEGREE-ORIENTED exactly as in the census
    (each triangle found once, wedge work Σ C(outdeg,2) — hub-safe);
    each found triangle then explodes to its three corners and a
    node-keyed count.  The oracle enumerates the same triangle set
    with the plain u<v three-way self-join.

    Scale shape: orientation joins + one wedge join (the bounded
    one), a 3×|triangles| explode, node-keyed count, |V|-row join
    with degrees, 10-row rollup.  Coefficients in exact millionths:
    2e6·tri and d·(d−1) are exact longs, one correctly-rounded IEEE
    division each."""
    edges = _edges(spark, sf_dir)
    deg = _degrees(edges)
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
    )
    wedges = (
        oriented.alias("e1")
        .join(oriented.alias("e2"), "s")
        .where(F.col("e1.t") < F.col("e2.t"))
        .select("s", F.col("e1.t").alias("x"), F.col("e2.t").alias("y"))
    )
    tri = wedges.join(edges, (wedges.x == edges.u) & (wedges.y == edges.v)).select(
        "s", "x", "y"
    )
    corner = (
        tri.select(F.explode(F.array("s", "x", "y")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("tri_n"))
    )
    coeff = (
        deg.where(F.col("d") >= 2)
        .join(corner, "node", "left")
        .select(
            F.round(
                2_000_000.0
                * F.coalesce(F.col("tri_n"), F.lit(0))
                / (F.col("d") * (F.col("d") - 1))
            )
            .cast("bigint")
            .alias("coeff_m")
        )
    )
    return (
        coeff.groupBy(
            F.least(F.expr("coeff_m div 100000"), F.lit(9)).alias("decile")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_nodes"),
            F.sum("coeff_m").cast("bigint").alias("sum_coeff_m"),
        )
        .orderBy("decile")
    )


# C208 — resource-allocation link prediction (Zhou, Lü & Zhang 2009):
# for each NON-adjacent pair (x, y), score = Σ_{z ∈ N(x)∩N(y)} 1/d_z.
# RA is chosen over Adamic-Adar deliberately: 1/d is rational, so the
# per-term micro-unit rounding ((2e6 + d) div 2d — round-half-up in
# pure integer arithmetic) is exact in both engines, whereas AA's
# 1/ln(d) would ride on libm's last ulp.
_LINK_RA_ORACLE = f"""
WITH {_EDGES_CTE},
und AS MATERIALIZED (
  SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
),
deg AS MATERIALIZED (
  SELECT u AS node, COUNT(*) AS d FROM und GROUP BY u
),
wedge AS MATERIALIZED (
  SELECT a.v AS x, b.v AS y, a.u AS z
  FROM und a JOIN und b ON a.u = b.u
  WHERE a.v < b.v
),
cand AS (
  SELECT w.x, w.y,
         COUNT(*) AS n_common,
         CAST(SUM((2000000 + deg.d) // (2 * deg.d)) AS BIGINT) AS score_m
  FROM wedge w
  JOIN deg ON deg.node = w.z
  WHERE NOT EXISTS (
    SELECT 1 FROM edges e WHERE e.u = w.x AND e.v = w.y
  )
  GROUP BY w.x, w.y
)
SELECT x AS u_node, y AS v_node, n_common, score_m
FROM cand
ORDER BY score_m DESC, x, y
LIMIT 20
"""


@register("b_graph_link_ra", oracle=_LINK_RA_ORACLE, tags=("graph", "linkpred"))
def b_graph_link_ra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C208: top-20 predicted links by the resource-allocation index —
    for every non-adjacent pair, the sum over common neighbors z of
    1/d_z (hubs are poor evidence, low-degree mutual friends strong).

    Scale shape: the wedge join is keyed on the shared CENTER (one
    node-keyed shuffle of the doubled edge list); a hub of degree d
    emits C(d,2) wedges, so at 100 TB the standard guard is a degree
    cap on centers before the join (hubs contribute ≤ 1e6/d per term
    anyway — dropping d > 10^4 centers changes scores by < 100 micro
    units); exact here, where max degree is bucket-bounded.  The
    existing-edge exclusion is one anti-join on the canonical (u<v)
    pair key; scores are order-independent BIGINT micro-unit sums."""
    edges = _edges(spark, sf_dir)
    und = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = und.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("d"))
    wedge = (
        und.alias("a")
        .join(und.alias("b"), "u")
        .where(F.col("a.v") < F.col("b.v"))
        .select(
            F.col("a.v").alias("x"),
            F.col("b.v").alias("y"),
            F.col("u").alias("z"),
        )
    )
    cand = (
        wedge.join(deg, wedge.z == deg.node)
        .join(
            edges,
            (wedge.x == edges.u) & (wedge.y == edges.v),
            "left_anti",
        )
        .groupBy("x", "y")
        .agg(
            F.count("*").cast("bigint").alias("n_common"),
            F.sum(F.expr("(2000000 + d) div (2 * d)"))
            .cast("bigint")
            .alias("score_m"),
        )
    )
    return (
        cand.select(
            F.col("x").alias("u_node"),
            F.col("y").alias("v_node"),
            "n_common",
            "score_m",
        )
        .orderBy(F.desc("score_m"), "u_node", "v_node")
        .limit(20)
    )


# --- Degree assortativity, wide-moment twin (C258) ---------------------------

# C197's recorded headroom debt, graduated into a key (r9 VERDICT
# next-round #5): the emitted moments (sxx = Σ deg² over edge ends)
# are the output contract, and BIGINT wraps once Σ deg² crosses 2^63
# (hub degrees ≥ ~1e6 on 100 TB event graphs).  This twin carries
# every moment as DECIMAL(38,0) (Spark) / HUGEINT-cast-DECIMAL(38,0)
# (DuckDB) end to end, so the key itself has NO SF ceiling: the
# past-2^63 case is exercised by a synthetic star-graph test on the
# shipped key (tests/test_round10.py TestWideMoments).  Endpoint
# degrees are < 2^63 by construction (they are row counts), so the
# per-edge products fit DECIMAL(38,0) exactly (two 19-digit factors).
# The moments cross the Python/pandas result boundary as exact
# DECIMAL STRINGS: pandas has no int128 dtype, so a numeric fetch of
# a 38-digit value would silently round through float64 — the string
# is the only exact transport, and both engines print scale-0
# decimals identically.
_ASSORT_WIDE_ORACLE = f"""
WITH {_EDGES_CTE},
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
  ) GROUP BY node
),
ends AS (
  SELECT du.d AS x, dv.d AS y
  FROM edges e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
  UNION ALL
  SELECT dv.d, du.d
  FROM edges e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
),
mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(x AS HUGEINT)) AS sx,
         SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM ends
)
SELECT n,
       CAST(sx AS VARCHAR) AS sx,
       CAST(sxy AS VARCHAR) AS sxy,
       CAST(sxx AS VARCHAR) AS sxx,
       CAST(ROUND(1000000 * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
            AS BIGINT) AS assort_m
FROM mom
"""


@register(
    "b_graph_assortativity_wide",
    oracle=_ASSORT_WIDE_ORACLE,
    tags=("graph", "assortativity", "wide"),
)
def b_graph_assortativity_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C258: Newman degree assortativity with DECIMAL(38,0) moment
    carriers — C197's wide-schema twin; see _ASSORT_WIDE_ORACLE note.
    Same plan shape as C197 (two node-keyed joins onto the edge list,
    one-row reduce); only the carrier types differ, which costs the
    Decimal-object adds ONLY in this twin — C197 stays the long-adds
    hot path below the documented bound."""
    edges = _edges(spark, sf_dir)
    deg = _degrees(edges).select("node", F.col("d").cast("long").alias("d"))
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("xu"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("yv"))
    both = edges.join(du, "u").join(dv, "v")
    ends = both.select(F.col("xu").alias("x"), F.col("yv").alias("y")).unionAll(
        both.select(F.col("yv").alias("x"), F.col("xu").alias("y"))
    )
    xd = F.col("x").cast("decimal(19,0)")
    yd = F.col("y").cast("decimal(19,0)")
    mom = ends.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(xd).cast("decimal(38,0)").alias("sx"),
        F.sum(yd).cast("decimal(38,0)").alias("sy"),
        F.sum(xd * yd).cast("decimal(38,0)").alias("sxy"),
        F.sum(xd * xd).cast("decimal(38,0)").alias("sxx"),
        F.sum(yd * yd).cast("decimal(38,0)").alias("syy"),
    )
    num = F.col("n").cast("double") * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double")
    den = F.sqrt(
        F.col("n").cast("double") * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    ) * F.sqrt(
        F.col("n").cast("double") * F.col("syy").cast("double")
        - F.col("sy").cast("double") * F.col("sy").cast("double")
    )
    return mom.select(
        "n",
        F.col("sx").cast("string").alias("sx"),
        F.col("sxy").cast("string").alias("sxy"),
        F.col("sxx").cast("string").alias("sxx"),
        F.round(1_000_000 * num / den).cast("bigint").alias("assort_m"),
    )


# --- label propagation communities (C266) -----------------------------

LP_ITERS = 2

_LABELPROP_ORACLE = """
WITH b AS (
  SELECT DISTINCT user_id, event_type, date_trunc('minute', ts) AS m FROM events
),
edges AS (
  SELECT a.user_id AS u, c.user_id AS v
  FROM b a JOIN b c ON a.event_type = c.event_type AND a.m = c.m
  WHERE a.user_id < c.user_id
  GROUP BY 1, 2
),
bidir AS (SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges),
i1 AS (SELECT u AS node, v AS lbl FROM bidir),
m1 AS (
  SELECT node, lbl FROM (
    SELECT node, lbl,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY COUNT(*) DESC, lbl) AS rn
    FROM i1 GROUP BY node, lbl
  ) WHERE rn = 1
),
i2 AS (SELECT bd.u AS node, m.lbl FROM bidir bd JOIN m1 m ON bd.v = m.node),
m2 AS (
  SELECT node, lbl FROM (
    SELECT node, lbl,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY COUNT(*) DESC, lbl) AS rn
    FROM i2 GROUP BY node, lbl
  ) WHERE rn = 1
)
SELECT lbl AS community, COUNT(*) AS n_members
FROM m2 GROUP BY lbl
"""


@register("b_graph_label_prop", oracle=_LABELPROP_ORACLE,
          tags=("graph", "communities", "iterative"))
def b_graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C266: synchronous label-propagation community detection (LPA,
    Raghavan et al. 2007) — LP_ITERS rounds of "adopt the most
    frequent label among your neighbors", ties broken to the smallest
    label, over the co-occurrence graph; returns community sizes.

    Synchronous + deterministic tie-break makes the trajectory
    engine-independent (classic LPA randomizes update order; that
    variant cannot be hash-checked), so the full trajectory carries a
    hash oracle that unrolls the same rounds as chained CTEs. Runs
    on the MINUTE-granular co-occurrence graph (the components keys'
    edge set): the hourly graph is so dense the whole corpus collapses
    to one community by round 2, which would make the hash vacuous.

    Scale shape: per round, ONE shuffle join keyed by neighbor id
    (labels onto the bidirectional edge list — same stage geometry as
    a PageRank step, operators/graph.py b_graph_pagerank) and one
    (node, lbl) count + per-node argmax window. Everything is keyed
    by node id: |edges|-sized shuffles, never quadratic. Fixed
    iteration count bounds the lineage (no localCheckpoint needed at
    2 rounds; the components keys document the iterate-to-fixpoint
    variant)."""
    _, labels = _lpa_labels(spark, sf_dir)
    return labels.groupBy(F.col("lbl").alias("community")).agg(
        F.count("*").alias("n_members")
    )


def _minute_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deduped undirected (u < v) edges of the MINUTE-granular
    co-occurrence graph (the components keys' sparser edge set)."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        "user_id", "event_type", F.date_trunc("minute", "ts").alias("m")
    ).distinct()
    return (
        b.alias("l")
        .join(b.alias("r"), ["event_type", "m"])
        .where(F.col("l.user_id") < F.col("r.user_id"))
        .select(F.col("l.user_id").alias("u"), F.col("r.user_id").alias("v"))
        .distinct()
    )


def _lpa_labels(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(edges, final (node, lbl) assignment) of the LP_ITERS-round
    synchronous LPA over the minute-granular graph — shared by C266
    (community sizes) and C270 (modularity of those communities)."""
    edges = _minute_edges(spark, sf_dir)
    bidir = edges.select("u", "v").unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    # round 1: a node's neighbor labels ARE the neighbor ids
    labels = _lpa_argmax(bidir.select(F.col("u").alias("node"), F.col("v").alias("lbl")))
    for _ in range(LP_ITERS - 1):
        votes = bidir.join(
            labels.select(F.col("node").alias("v"), "lbl"), "v"
        ).select(F.col("u").alias("node"), "lbl")
        labels = _lpa_argmax(votes)
    return edges, labels


# --- modularity of the LPA communities (C270) --------------------------

_MODULARITY_ORACLE = """
WITH b AS (
  SELECT DISTINCT user_id, event_type, date_trunc('minute', ts) AS m FROM events
),
edges AS (
  SELECT a.user_id AS u, c.user_id AS v
  FROM b a JOIN b c ON a.event_type = c.event_type AND a.m = c.m
  WHERE a.user_id < c.user_id
  GROUP BY 1, 2
),
bidir AS (SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges),
i1 AS (SELECT u AS node, v AS lbl FROM bidir),
m1 AS (
  SELECT node, lbl FROM (
    SELECT node, lbl,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY COUNT(*) DESC, lbl) AS rn
    FROM i1 GROUP BY node, lbl
  ) WHERE rn = 1
),
i2 AS (SELECT bd.u AS node, m.lbl FROM bidir bd JOIN m1 m ON bd.v = m.node),
m2 AS (
  SELECT node, lbl FROM (
    SELECT node, lbl,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY COUNT(*) DESC, lbl) AS rn
    FROM i2 GROUP BY node, lbl
  ) WHERE rn = 1
),
mm AS (SELECT COUNT(*) AS m_edges FROM edges),
deg AS (SELECT u AS node, COUNT(*) AS d FROM bidir GROUP BY u),
dc AS (
  SELECT m2.lbl, SUM(deg.d) AS d_c
  FROM deg JOIN m2 ON deg.node = m2.node GROUP BY m2.lbl
),
ec AS (
  SELECT lu.lbl, COUNT(*) AS e_c
  FROM edges e JOIN m2 lu ON e.u = lu.node JOIN m2 lv ON e.v = lv.node
  WHERE lu.lbl = lv.lbl GROUP BY lu.lbl
),
parts AS (
  SELECT dc.lbl,
         4 * mm.m_edges * COALESCE(ec.e_c, 0) - dc.d_c * dc.d_c AS num_c
  FROM dc CROSS JOIN mm LEFT JOIN ec ON dc.lbl = ec.lbl
)
SELECT CAST((SELECT COUNT(*) FROM dc) AS BIGINT) AS n_communities,
       CAST(mm.m_edges AS BIGINT) AS m_edges,
       CAST(SUM(parts.num_c) AS BIGINT) AS q_num,
       CAST(4 * mm.m_edges * mm.m_edges AS BIGINT) AS q_den,
       ROUND(CAST(SUM(parts.num_c) AS DOUBLE)
             / (4.0 * mm.m_edges * mm.m_edges), 6) AS q
FROM parts CROSS JOIN mm
GROUP BY mm.m_edges
"""


@register("b_graph_modularity", oracle=_MODULARITY_ORACLE,
          tags=("graph", "communities", "modularity"))
def b_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C270: Newman modularity Q of the C266 LPA communities — the
    quality metric FOR a community assignment (Q > 0 ⇔ denser inside
    communities than a degree-preserving random graph), the same
    certify-the-claim pattern as C260 for the serving rollup. On this
    corpus it reports Q ≈ 0: the minute co-occurrence graph is a
    giant quasi-clique (hub (type, minute) buckets), so LPA's
    partition has no positive modularity to find — the honest reading,
    pinned exactly by the hash.

    Q = Σ_c [ e_c/m − (d_c / 2m)² ] computed as EXACT INTEGERS over
    the common denominator 4m²: q_num = Σ_c (4·m·e_c − d_c²),
    q_den = 4m² — no float division until the final display column,
    so the hash pins the exact rational. At 100 TB-scale graphs
    (m ~ 1e9) 4m² crosses 2^63; the carriers would move to
    DECIMAL(38,0) exactly as the assortativity family did
    (b_graph_assortativity_wide documents that move).

    Plan shape: the LPA labels (two neighbor-keyed joins), then ONE
    node-keyed join for d_c, one two-sided label lookup on the edge
    list for e_c (both endpoints — same geometry as triangle
    counting's orientation joins), and a one-row reduce.  The scalars
    m and |communities| ride as ONE-ROW broadcast aggregates folded in
    lazily (the oracle's CROSS JOIN mm shape), so the builder runs no
    eager action and leaves nothing persisted behind (r11 ADVICE: the
    previous persist+count pair accumulated cached partitions across
    repeated builder invocations)."""
    edges, labels = _lpa_labels(spark, sf_dir)
    mm = edges.agg(F.count("*").cast("bigint").alias("m_edges"))
    bidir = edges.select("u", "v").unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = bidir.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("d"))
    dc = (
        deg.join(labels, "node")
        .groupBy("lbl")
        .agg(F.sum("d").cast("bigint").alias("d_c"))
    )
    ncomm = dc.agg(F.count("*").cast("bigint").alias("n_communities"))
    lu = labels.select(F.col("node").alias("u"), F.col("lbl").alias("lu"))
    lv = labels.select(F.col("node").alias("v"), F.col("lbl").alias("lv"))
    ec = (
        edges.join(lu, "u")
        .join(lv, "v")
        .where(F.col("lu") == F.col("lv"))
        .groupBy(F.col("lu").alias("lbl"))
        .agg(F.count("*").alias("e_c"))
    )
    parts = (
        dc.join(ec, "lbl", "left")
        .crossJoin(F.broadcast(mm))
        .select(
            "m_edges",
            (
                4 * F.col("m_edges") * F.coalesce(F.col("e_c"), F.lit(0))
                - F.col("d_c") * F.col("d_c")
            ).alias("num_c"),
        )
    )
    return (
        parts.groupBy("m_edges")
        .agg(F.sum("num_c").cast("bigint").alias("q_num"))
        .crossJoin(F.broadcast(ncomm))
        .select(
            "n_communities",
            F.col("m_edges").cast("bigint").alias("m_edges"),
            "q_num",
            (4 * F.col("m_edges") * F.col("m_edges")).cast("bigint").alias("q_den"),
            F.round(
                F.col("q_num").cast("double")
                / (F.lit(4.0) * F.col("m_edges") * F.col("m_edges")),
                6,
            ).alias("q"),
        )
        # edgeless corpus (sf0.001's minute graph): parts is empty, so
        # the groupBy(m_edges) aggregate yields ZERO rows — exactly the
        # oracle's empty GROUP BY over the parts×mm product
    )


# --- LPA to convergence (C274, r11 VERDICT #8) --------------------------------

# Iterate-to-fixpoint round cap, pinned in BOTH engines: the oracle
# unrolls exactly this many synchronous rounds, and the Spark loop
# stops at the cap OR at the first round that changes no label.  Both
# stop rules give the SAME answer: synchronous LPA with the smallest-
# label tie-break is a deterministic function, so a round that changes
# nothing is a fixpoint and every later round — including the oracle's
# remaining unrolled CTEs — reproduces it verbatim.  (Synchronous LPA
# can also 2-cycle; then no early exit fires and both engines stop at
# the cap on the same round — equal either way.)
LP_CONV_CAP = 4


def _lpa_conv_oracle(cap: int = LP_CONV_CAP) -> str:
    """The C266 oracle generalized: cap chained argmax CTEs."""
    ctes = [
        "b AS (\n"
        "  SELECT DISTINCT user_id, event_type, date_trunc('minute', ts) AS m"
        " FROM events\n)",
        "edges AS (\n"
        "  SELECT a.user_id AS u, c.user_id AS v\n"
        "  FROM b a JOIN b c ON a.event_type = c.event_type AND a.m = c.m\n"
        "  WHERE a.user_id < c.user_id\n  GROUP BY 1, 2\n)",
        "bidir AS (SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges)",
        "i1 AS (SELECT u AS node, v AS lbl FROM bidir)",
    ]
    for k in range(1, cap + 1):
        if k > 1:
            ctes.append(
                f"i{k} AS (SELECT bd.u AS node, m.lbl"
                f" FROM bidir bd JOIN m{k - 1} m ON bd.v = m.node)"
            )
        ctes.append(
            f"m{k} AS (\n"
            f"  SELECT node, lbl FROM (\n"
            f"    SELECT node, lbl,\n"
            f"           ROW_NUMBER() OVER (PARTITION BY node"
            f" ORDER BY COUNT(*) DESC, lbl) AS rn\n"
            f"    FROM i{k} GROUP BY node, lbl\n"
            f"  ) WHERE rn = 1\n)"
        )
    sql = (
        "WITH " + ",\n".join(ctes) + f"\n"
        f"SELECT lbl AS community, COUNT(*) AS n_members\n"
        f"FROM m{cap} GROUP BY lbl"
    )
    # AS MATERIALIZED on every CTE (r15, VERDICT #4 — the PageRank
    # oracle's pin applied here too): DuckDB otherwise re-expands the
    # shared b/edges/bidir CTEs once per unrolled round into a bushy
    # self-join tree — observed spilling >60 GB at the 300× graph tier
    # beside a warm 48g Spark session (OPTIMIZATION_r14.md).  Same
    # rows, same hash; this only pins evaluation to compute-once,
    # which is what the Spark side's per-round localCheckpoint does.
    names = ["b", "edges", "bidir"] + [
        f"{p}{k}" for k in range(1, cap + 1) for p in ("i", "m")
    ]
    for name in names:
        sql = sql.replace(f"{name} AS (", f"{name} AS MATERIALIZED (")
    return sql


@register("b_graph_label_prop_converged", oracle=_lpa_conv_oracle(),
          tags=("graph", "communities", "iterative", "eager"))
def b_graph_label_prop_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C274: synchronous LPA iterated to FIXPOINT under a pinned round
    cap (LP_CONV_CAP) — the production loop shape C266's fixed 2-round
    key deliberately avoided, now with the same full hash oracle (the
    cap is what makes the unrolled-SQL twin finite; see the cap's
    block comment for why early exit and the cap agree).

    Scale shape per round: one neighbor-keyed shuffle join (labels
    onto the bidirectional edge list) + one (node, lbl) count + the
    per-node argmax window — identical stage geometry to C266.  The
    loop discipline is b_graph_components': every round's label frame
    is localCheckpoint-ed (eager) so the logical plan does not nest
    one join deeper per round; superseded rounds' checkpoint RDD
    blocks are reclaimed by Spark's ContextCleaner once the loop's
    last reference drops (checkpoint blocks are not CacheManager
    entries, so an explicit unpersist cannot release them — r12
    ADVICE), and the convergence check is a driver-side scalar
    (count of changed labels), never a data collect.

    Tagged "eager" (b_quality_observe's harness contract): the
    iterate-to-fixpoint loop executes at BUILDER time, so the bench's
    timed unit must be builder + count — timing only the returned
    frame would measure a ~|V|-row re-aggregate of the converged
    checkpoint, not the loop."""
    labels, _ = _lpa_converged(spark, sf_dir)
    return labels.groupBy(F.col("lbl").alias("community")).agg(
        F.count("*").alias("n_members")
    )


def _lpa_argmax(votes: DataFrame) -> DataFrame:
    """Per-node most-frequent label, ties to the smallest label, as
    TWO HASH AGGREGATES instead of count + row_number window (r15
    promotion, −9.4% on the LPA key at the 300× graph tier, paired
    min-of-5; the window form pays an exchange + full sort per round):
    max over packed = n << 34 | (2^34−1 − lbl), so bigger count wins
    and count ties break to the SMALLER label — exactly the window's
    (n DESC, lbl ASC) order.  Bounds (every tier): lbl = user_id <
    2^34 (scale.replicate_table raises past factor 1717 — the same
    guard the topk packing uses) and n ≤ node degree < 2^29 (replicas
    are disjoint subgraphs, so degrees never scale with the factor)."""
    kmask = (1 << 34) - 1
    return (
        votes.groupBy("node", "lbl")
        .agg(F.count("*").alias("n"))
        .select(
            "node",
            F.shiftleft("n", 34).bitwiseOR(F.lit(kmask) - F.col("lbl")).alias("pk"),
        )
        .groupBy("node")
        .agg(F.max("pk").alias("pk"))
        .select(
            "node", (F.lit(kmask) - F.col("pk").bitwiseAND(F.lit(kmask))).alias("lbl")
        )
    )


def _lpa_converged(
    spark: SparkSession, sf_dir: str, cap: int = LP_CONV_CAP
) -> tuple[DataFrame, int]:
    """(final labels, rounds actually run) of synchronous LPA iterated
    to fixpoint under ``cap`` — the C274 loop, exposed so tests can
    assert the early-exit/fixpoint contract directly."""
    edges = _minute_edges(spark, sf_dir)
    bidir = edges.select("u", "v").unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    # Hash-partition the persisted edge list on the per-round join key
    # ONCE (r15 promotion, guide §2.4: establish the partitioning once
    # and reuse it), so each round's label join shuffles only the
    # |V|-sized label frame, not the edge list.  Paired interleaved
    # A/Bs read −2.6% (r14) and −9.4% (r15, with the packed argmax) —
    # consistent sign across two sessions, spreads 2-6 s (host waves).
    bidir = bidir.repartition(F.col("v")).persist()
    votes = bidir.select(F.col("u").alias("node"), F.col("v").alias("lbl"))
    labels, rounds = None, 0
    # Superseded rounds' localCheckpoint blocks are NOT CacheManager
    # entries, so there is no unpersist() that releases them; dropping
    # the Python reference each round lets Spark's ContextCleaner
    # reclaim the orphaned checkpoint RDDs (r12 ADVICE).  bidir IS a
    # cache entry, so its unpersist sits in a finally — a mid-round
    # failure must not leak the cached edge list for the session.
    try:
        for it in range(cap):
            if it == 0:
                # round 1's votes are the DISTINCT bidirectional pairs
                # themselves (edges is a distinct u<v set and the
                # reversed half is key-disjoint from it), so every
                # (node, lbl) count is 1 and the argmax reduces to
                # min(lbl) — one aggregate instead of two.
                mode = (
                    votes.groupBy("node").agg(F.min("lbl").alias("lbl"))
                    .localCheckpoint()
                )
            else:
                mode = _lpa_argmax(votes).localCheckpoint()
            rounds += 1
            if labels is not None:
                changed = (
                    mode.join(labels.withColumnRenamed("lbl", "old"), "node")
                    .where(F.col("lbl") != F.col("old"))
                    .count()
                )
                if changed == 0:
                    labels = mode
                    break
            labels = mode
            votes = bidir.join(
                mode.select(F.col("node").alias("v"), "lbl"), "v"
            ).select(F.col("u").alias("node"), "lbl")
    finally:
        bidir.unpersist()
    return labels, rounds


# --- maintained edge-list fold (C286) -------------------------------------------

# The round-14 LPA decomposition (SCALE.md) pinned ~59% of the graph
# depth rows' cost to the one-time EDGE-BUILD term and claimed that at
# 100 TB the edge list is a maintained artifact folded from event
# deltas.  This key certifies that claim the way C273 certified the
# dedup fold: the events log arrives as three batches (event_id % 3,
# ingested in order), and per batch the pipeline folds TWO on-disk
# artifacts —
#   memb_b{b}:  the accumulated DISTINCT (user, type, minute) bucket
#               membership after batch b;
#   edges_b{b}: the accumulated undirected (u < v) edge set.
# The fold is NOT within-batch-only (the subtlety that makes the
# certificate worth having): a new membership row pairs with EVERY
# accumulated member of its bucket — standing and same-batch alike —
# so new edges = nb ⋈ (standing ∪ nb) on the bucket key.  The oracle
# recomputes the edge set from the FULL events table in one shot, so
# the hash proves fold == full recompute: ingest order cannot create
# or lose an edge.
_EDGE_FOLD_ORACLE = """
WITH b AS (
  SELECT DISTINCT user_id, event_type, date_trunc('minute', ts) AS m FROM events
)
SELECT a.user_id AS u, c.user_id AS v
FROM b a JOIN b c ON a.event_type = c.event_type AND a.m = c.m
WHERE a.user_id < c.user_id
GROUP BY 1, 2
"""


def ensure_edge_fold(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per corpus fingerprint) the three-batch edge
    fold; returns the artifact root.  Serialized + markered like every
    layout artifact (the C273 ensure's protocol)."""
    root = warehouse_path(spark, "graph_edge_fold", sf_dir)

    def _build() -> None:
        ev = load_table(spark, sf_dir, "events").select(
            "user_id",
            "event_type",
            F.date_trunc("minute", "ts").alias("m"),
            (F.col("event_id") % 3).cast("int").alias("batch_id"),
        )
        for b in range(3):
            # nb: memberships this batch ADDS — distinct within the
            # batch, minus what earlier batches already registered
            # (a bucket membership seen twice must not re-pair).
            nb = (
                ev.where(F.col("batch_id") == b)
                .select("user_id", "event_type", "m")
                .distinct()
            )
            if b > 0:
                standing = spark.read.parquet(os.path.join(root, f"memb_b{b - 1}"))
                nb = nb.join(
                    standing, ["user_id", "event_type", "m"], "left_anti"
                )
            nb.write.mode("overwrite").parquet(os.path.join(root, f"memb_tmp_b{b}"))
            nb = spark.read.parquet(os.path.join(root, f"memb_tmp_b{b}"))
            # new edges: each new member pairs with every ACCUMULATED
            # member of its bucket (standing ∪ nb) — normalized u < v,
            # deduped against nothing (an edge's first appearance is
            # the round where its SECOND endpoint arrives, so the same
            # pair cannot be produced by two different rounds; within
            # a round the distinct covers multi-bucket repeats).
            if b > 0:
                acc = spark.read.parquet(
                    os.path.join(root, f"memb_b{b - 1}")
                ).unionByName(nb)
            else:
                acc = nb
            other = acc.select(
                F.col("user_id").alias("other_id"), "event_type", "m"
            )
            new_edges = (
                nb.join(other, ["event_type", "m"])
                .where(F.col("user_id") != F.col("other_id"))
                .select(
                    F.least("user_id", "other_id").alias("u"),
                    F.greatest("user_id", "other_id").alias("v"),
                )
                .distinct()
            )
            if b > 0:
                prev_edges = spark.read.parquet(
                    os.path.join(root, f"edges_b{b - 1}")
                )
                # nb×nb pairs appear once, but an nb-member may re-pair
                # with a standing member it ALREADY shares an older
                # bucket with via a new bucket — anti-join keeps the
                # artifact a set
                new_edges = new_edges.join(prev_edges, ["u", "v"], "left_anti")
                folded_edges = prev_edges.unionByName(new_edges)
                folded_memb = spark.read.parquet(
                    os.path.join(root, f"memb_b{b - 1}")
                ).unionByName(nb)
            else:
                folded_edges = new_edges
                folded_memb = nb
            folded_edges.write.mode("overwrite").parquet(
                os.path.join(root, f"edges_b{b}")
            )
            folded_memb.write.mode("overwrite").parquet(
                os.path.join(root, f"memb_b{b}")
            )

    ensure(root, "_EDGEFOLD_DONE", content_fingerprint(table_path(sf_dir, "events")),
           _build, published=(
               os.path.join(root, f"{kind}_b{b}")
               for b in range(3)
               for kind in ("memb", "edges")
           ))
    return root


@register("b_graph_edges_fold", oracle=_EDGE_FOLD_ORACLE,
          tags=("graph", "incremental", "served"))
def b_graph_edges_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C286: the maintained co-occurrence edge list, fold-certified —
    see the block comment above ensure_edge_fold.  Returns the final
    folded edge artifact; the oracle is the one-shot full recompute,
    so the driver hash proves fold == full recompute.

    At 100 TB: each event batch costs one batch-sized distinct + one
    anti-join against the standing membership + one bucket-keyed join
    of the NEW memberships against accumulated bucket members — never
    a full log rescan, and the expensive pair-enumeration term is
    proportional to the delta's bucket populations, not the corpus.
    This is the write path that makes the graph depth rows'
    edge-build term (59% of LPA's cost, SCALE.md round-14) a one-time
    ingest cost instead of a per-query one."""
    root = ensure_edge_fold(spark, sf_dir)
    return spark.read.parquet(os.path.join(root, "edges_b2")).select("u", "v")


# --- minute-graph PageRank (C285, r13 VERDICT #2) ------------------------------

PR_MINUTE_ROUNDS = 3


def _pr_minute_oracle(rounds: int = PR_MINUTE_ROUNDS) -> str:
    """The C-PageRank oracle re-based on the MINUTE co-occurrence
    graph (the LPA depth tier's edge set): minute-edges CTE + the same
    integer fixed-point iteration CTEs."""
    ctes = [
        "b AS (\n"
        "  SELECT DISTINCT user_id, event_type, date_trunc('minute', ts) AS m"
        " FROM events\n)",
        "edges AS (\n"
        "  SELECT a.user_id AS u, c.user_id AS v\n"
        "  FROM b a JOIN b c ON a.event_type = c.event_type AND a.m = c.m\n"
        "  WHERE a.user_id < c.user_id\n  GROUP BY 1, 2\n)",
        "und AS (SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges)",
        "dg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM und GROUP BY 1)",
        "r0 AS (SELECT node, deg, CAST(1000000 AS BIGINT) AS pr FROM dg)",
    ]
    for k in range(1, rounds + 1):
        ctes.append(_pr_iter_sql(f"r{k - 1}", f"r{k}").strip().lstrip(","))
    sql = (
        "WITH " + ",\n".join(ctes) + f"\n"
        f"SELECT node AS user_id, deg, pr AS rank_micro\n"
        f"FROM r{rounds} ORDER BY pr DESC, node LIMIT 20"
    )
    # AS MATERIALIZED on every CTE: DuckDB's planner otherwise
    # re-expands the shared edges/und CTEs once per unrolled round
    # into a bushy self-join tree — measured spilling >50 GB at the
    # 300× graph tier (6.9M edges) before dying on disk.  Same rows,
    # same hash; this only pins the evaluation to compute-once, which
    # is what the Spark side's per-round checkpoint does too.
    for name in ("b", "edges", "und", "dg", *[f"r{k}" for k in range(rounds + 1)]):
        sql = sql.replace(f"{name} AS (", f"{name} AS MATERIALIZED (")
    return sql


def _pr_minute_loop(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """The shared 3-round integer PageRank loop over a (u, v) edge
    frame: per-call persist of the bidirectional list released in a
    finally, per-round localCheckpoint (see b_graph_pagerank_minute's
    docstring for why).  Returns the top-20 frame."""
    und = (
        edges.select("u", "v")
        .unionAll(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # r15 promotion (guide §2.4, the LPA loop's move applied to the
        # shared PageRank loop): hash-partition the persisted list on
        # the per-round join key once so each round's contribution join
        # shuffles only the rank frame.  Paired interleaved A/Bs read
        # −5.6% (r14) / −8.8% (r15) at the 300× graph tier.
        .repartition(F.col("u"))
        .persist()
    )
    try:
        dg = (
            und.groupBy(F.col("u").alias("node"))
            .agg(F.count("*").alias("deg"))
            .localCheckpoint()
        )
        ranks = dg.select("node", "deg", F.lit(1000000).cast("bigint").alias("pr"))
        for _ in range(PR_MINUTE_ROUNDS):
            contrib = (
                und.join(ranks.select(F.col("node").alias("u"), "deg", "pr"), "u")
                .select(F.col("v").alias("node"), F.expr("pr div deg").alias("c"))
                .groupBy("node")
                .agg(F.sum("c").alias("s"))
            )
            ranks = dg.join(contrib, "node", "left").select(
                "node",
                "deg",
                (F.lit(150000) + F.expr("(85 * coalesce(s, 0)) div 100"))
                .cast("bigint")
                .alias("pr"),
            ).localCheckpoint()
    finally:
        und.unpersist()
    return (
        ranks.orderBy(F.col("pr").desc(), "node")
        .limit(20)
        .select(F.col("node").alias("user_id"), "deg", F.col("pr").alias("rank_micro"))
    )


@register("b_graph_pagerank_minute", oracle=_pr_minute_oracle(),
          tags=("graph", "pagerank", "iterative", "eager"))
def b_graph_pagerank_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C285: the PageRank fixed point on the MINUTE co-occurrence
    graph — the graph depth tier's second shape (r13 VERDICT #2).

    Same integer-exact iteration as b_graph_pagerank (BIGINT
    micro-unit ranks, truncating division, damping 85/100), but on
    the sparser minute graph the LPA depth row already measures, so
    the two permanent `scale_probe_graph` rows share one corpus and
    the comparison isolates the ALGORITHM term (sum-of-contributions
    vs count+argmax-window per round), not the graph.  The hourly
    graph b_graph_pagerank runs on is ~34× denser (789k vs 23k edges
    at sf0.1 — it is a 70%-density quasi-clique), which prices its
    300× tier out of the per-round bench budget; SCALE.md round-14
    carries its one-off depth measurement instead.

    Loop discipline = the LPA depth key's, NOT the hourly key's
    memoized persisted edge list: edges are rebuilt per call (the
    builder is tagged "eager", so the bench times builder + count —
    the full edges + 3-round cost, exactly what the oracle's one
    statement pays), the per-call persist of the bidirectional edge
    list is released in a finally, and each round's rank frame is
    localCheckpoint-ed so the unrolled plan neither nests one join
    deeper per round nor re-derives the edge self-join once per
    ROUND-REFERENCE (the lazy unrolled form re-computes `und` 3× and
    `dg` 4× without it)."""
    return _pr_minute_loop(spark, _minute_edges(spark, sf_dir))


@register("b_graph_pagerank_minute_served", oracle=_pr_minute_oracle(),
          tags=("graph", "pagerank", "iterative", "served", "eager"))
def b_graph_pagerank_minute_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C287: the SERVED form of the minute-graph PageRank — run the
    SAME 3-round integer fixed point over the C286-maintained edge
    artifact instead of re-deriving the edge list from the raw event
    log, completing the graph family's plain → served lineage the way
    every headline family's was completed.

    The round-14 LPA decomposition (SCALE.md) showed the edge-build
    term dominates the plain graph keys (~59% staged share); C286
    certifies that the edge artifact folds incrementally from event
    deltas (fold == full recompute, hash-proven).  This key is the
    read side of that architecture: query-time cost is the ITERATION
    term only — one column-pruned artifact scan plus the per-round
    join + destination-keyed aggregate — never the (type, minute)
    bucket self-join or its two wide distincts.  The DuckDB oracle
    still re-derives the edges from the raw parquet: the maintained
    artifact IS the Spark-side architecture being measured, the same
    contract as every served twin."""
    root = ensure_edge_fold(spark, sf_dir)
    edges = spark.read.parquet(os.path.join(root, "edges_b2")).select("u", "v")
    return _pr_minute_loop(spark, edges)
