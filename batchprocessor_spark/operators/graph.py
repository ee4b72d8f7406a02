"""Graph analytics over derived graphs (engine extension — the
reference has no graph surface at all; SURVEY.md §2.4 extension
family beside q_graph_pagerank and the dedup connected components).

The vertex/edge fixture is the ε-neighbor graph over the embeddings'
first two dimensions (edges from operators.similarity.spatial_eps_pairs
— a grid-bucketed equi-join, never O(n²)), which is sparse, scale-free
-ish, and fully deterministic, so every query here carries an exact
DuckDB value oracle (the oracle states the brute-force edge build).

Scale posture: triangle counting uses the degree-ordered orientation
(Cohen's MapReduce algorithm / Suri-Vassilvitskii "Counting triangles
and the curse of the last reducer"): orienting each edge from its
lower-(degree, id) endpoint bounds per-vertex out-degree by O(sqrt(m)),
so the wedge join is O(m^1.5) worst-case instead of Σdeg² — the hot
vertex never becomes the last reducer. Everything is equi-joins +
aggregates: one shuffle per hop, AQE-splittable, no driver data paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from batchprocessor_spark.operators.hierarchy import pointer_double
from batchprocessor_spark.operators.similarity import spatial_eps_pairs
from batchprocessor_spark.plans.registry import register
from batchprocessor_spark.sources.catalog import load_table
from batchprocessor_spark.session import iterate, materialize

# ε for the embedding-space neighbor graph: sparse but connected-ish at
# every fixture SF (sf0.01: ~5k edges / 500 nodes; sf0.1: ~80k / 2000).
_GRAPH_EPS = 0.05

# Brute-force ε-edge list in SQL (the oracle side; Spark builds the
# same set with the grid equi-join).
_EDGE_SQL = f"""
    pts AS (
      SELECT vec_id, embedding[1]::DOUBLE AS x, embedding[2]::DOUBLE AS y
      FROM embeddings),
    e AS (
      SELECT a.vec_id AS d1, b.vec_id AS d2
      FROM pts a JOIN pts b
        ON a.vec_id < b.vec_id
       AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
           < {_GRAPH_EPS} * {_GRAPH_EPS}),
    deg AS (
      SELECT v, count(*)::BIGINT AS d FROM (
        SELECT d1 AS v FROM e UNION ALL SELECT d2 FROM e)
      GROUP BY v),
    o AS (
      -- orient each edge from its lower-(degree, id) endpoint
      SELECT CASE WHEN (da.d, e.d1) < (db.d, e.d2) THEN e.d1 ELSE e.d2 END AS src,
             CASE WHEN (da.d, e.d1) < (db.d, e.d2) THEN e.d2 ELSE e.d1 END AS dst
      FROM e JOIN deg da ON da.v = e.d1 JOIN deg db ON db.v = e.d2)
"""


def _eps_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected (d1 < d2) ε-graph edge list via the grid equi-join."""
    return spatial_eps_pairs(spark, sf_dir, _GRAPH_EPS).select("d1", "d2")


def _degrees(edges: DataFrame) -> DataFrame:
    """|V|-row (v, d) degree table of the undirected edge list — ONE
    aggregate, shared by the orientation and any consumer that also
    reports degrees (q_graph_clustering_coeff), so the edge list is
    never degree-aggregated twice in one plan."""
    return (
        edges.select(F.col("d1").alias("v"))
        .unionAll(edges.select(F.col("d2").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )


def _oriented(edges: DataFrame, deg: DataFrame | None = None) -> DataFrame:
    """Degree-ordered orientation: src is the lower-(degree, id)
    endpoint, so out-degree is O(sqrt(m)) — the wedge join's skew
    bound. One degree aggregate + two joins against the |V|-row
    degree table. NO forced broadcast: the degree table is
    VERTEX-sized, so the planner must stay free to pick SMJ when |V|
    outgrows executor memory at scale (AQE demotes to broadcast on
    small fixtures by itself)."""
    if deg is None:
        deg = _degrees(edges)
    e = (
        edges.join(
            deg.select(F.col("v").alias("d1"), F.col("d").alias("da")),
            "d1",
        )
        .join(
            deg.select(F.col("v").alias("d2"), F.col("d").alias("db")),
            "d2",
        )
    )
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("d1") < F.col("d2"))
    )
    return e.select(
        F.when(lower_first, F.col("d1")).otherwise(F.col("d2")).alias("src"),
        F.when(lower_first, F.col("d2")).otherwise(F.col("d1")).alias("dst"),
    )


@register(
    "q_graph_triangle_count",
    oracle=f"""
    WITH {_EDGE_SQL},
    w AS (
      SELECT o1.src AS a, o1.dst AS b, o2.dst AS c
      FROM o o1 JOIN o o2 ON o1.dst = o2.src),
    t AS (
      SELECT w.a, w.b, w.c
      FROM w JOIN o o3 ON o3.src = w.a AND o3.dst = w.c)
    SELECT v AS vec_id, count(*)::BIGINT AS n_triangles FROM (
      SELECT a AS v FROM t UNION ALL SELECT b FROM t UNION ALL SELECT c FROM t)
    GROUP BY v
    """,
    category="graph",
)
def q_graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counts over the ε-neighbor graph — the
    local clustering signal a dedup/community pipeline uses to tell
    tight duplicate clusters from chains of borderline pairs.

    Algorithm: degree-ordered orientation (see module docstring) →
    wedge equi-join on the middle vertex → close each wedge with one
    more equi-join on the oriented (a, c) edge (with the total order,
    a ≺ b ≺ c, so the closing edge is always oriented a→c — each
    triangle is found exactly once) → scatter each triangle to its 3
    vertices and count. Edges come from the grid-bucketed ε-join,
    never a cross product. Exactness: pure integer counting on a
    deterministic edge set (the IEEE distance predicate is identical
    cross-engine), so the oracle is exact with no rounding at all.

    r12: the orientation is materialized once — it is referenced
    three times (o1/o2/o3), and each alias otherwise re-derives the
    grid ε-join plus two degree joins (the q_graph_clustering_coeff
    fix). Edge-count-sized barrier, same values."""
    o = _oriented(_eps_edges(spark, sf_dir)).transform(materialize)
    w = o.alias("o1").join(
        o.alias("o2"), F.col("o1.dst") == F.col("o2.src")
    ).select(
        F.col("o1.src").alias("a"), F.col("o1.dst").alias("b"), F.col("o2.dst").alias("c")
    )
    t = w.join(
        o.alias("o3"),
        (F.col("a") == F.col("o3.src")) & (F.col("c") == F.col("o3.dst")),
    ).select("a", "b", "c")
    verts = (
        t.select(F.col("a").alias("v"))
        .unionAll(t.select(F.col("b").alias("v")))
        .unionAll(t.select(F.col("c").alias("v")))
    )
    return verts.groupBy(F.col("v").alias("vec_id")).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


@register(
    "q_graph_link_prediction",
    oracle=f"""
    WITH {_EDGE_SQL},
    nbr AS (
      SELECT d1 AS v, d2 AS n FROM e UNION ALL SELECT d2, d1 FROM e),
    w AS (
      -- two-hop pairs through a shared neighbor, canonical a < c
      SELECT least(x.v, y.v) AS a, greatest(x.v, y.v) AS c,
             count(*)::BIGINT AS common
      FROM nbr x JOIN nbr y ON x.n = y.n AND x.v < y.v
      GROUP BY 1, 2),
    cand AS (
      SELECT w.a, w.c, w.common
      FROM w LEFT JOIN e ON e.d1 = w.a AND e.d2 = w.c
      WHERE e.d1 IS NULL),
    deg2 AS (
      SELECT v, count(*)::BIGINT AS d FROM nbr GROUP BY v),
    scored AS (
      SELECT c.a, c.c, c.common,
             round(c.common::DOUBLE / (da.d + dc.d - c.common), 6) AS jaccard
      FROM cand c JOIN deg2 da ON da.v = c.a JOIN deg2 dc ON dc.v = c.c)
    SELECT a AS v1, c AS v2, common, jaccard, rnk FROM (
      SELECT a, c, common, jaccard,
             row_number() OVER (ORDER BY jaccard DESC, a, c) AS rnk
      FROM scored) WHERE rnk <= 20
    """,
    category="graph",
)
def q_graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-Jaccard link prediction on the ε-graph: the top-20
    NON-adjacent vertex pairs ranked by |N(a)∩N(c)| / |N(a)∪N(c)| —
    the "these two documents share most of their near-dup neighbors
    but were never directly paired" signal that surfaces transitive
    duplicates candidate generation missed.

    Shape: two-hop pairs via an equi-join of the symmetric adjacency
    list on the shared neighbor (one shuffle; the per-neighbor fan-out
    is the ε-graph's bounded cell occupancy — on a corpus with
    mass-duplicated regions the hot-neighbor cap of
    skew.capped_bucket_pairs applies, same as the LSH buckets), minus
    existing edges via a left-anti join, scored with a broadcast
    degree table, ranked by orderBy+limit — TakeOrderedAndProject
    (per-partition heaps + 20-row driver merge), never a global-order
    window. Exactness: integer common/degree counts; ONE rounded
    divide per pair."""
    e = _eps_edges(spark, sf_dir)
    nbr = e.select(F.col("d1").alias("v"), F.col("d2").alias("n")).unionAll(
        e.select(F.col("d2").alias("v"), F.col("d1").alias("n"))
    )
    w = (
        nbr.alias("x")
        .join(
            nbr.alias("y"),
            (F.col("x.n") == F.col("y.n")) & (F.col("x.v") < F.col("y.v")),
        )
        .groupBy(
            F.least(F.col("x.v"), F.col("y.v")).alias("a"),
            F.greatest(F.col("x.v"), F.col("y.v")).alias("c"),
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    cand = w.join(
        e,
        (F.col("a") == F.col("d1")) & (F.col("c") == F.col("d2")),
        "left_anti",
    )
    # Degree table is |V|-sized — no forced broadcast (see _oriented).
    deg = nbr.groupBy("v").agg(F.count(F.lit(1)).alias("d"))
    scored = (
        cand.join(
            deg.select(F.col("v").alias("a"), F.col("d").alias("da")), "a"
        )
        .join(
            deg.select(F.col("v").alias("c"), F.col("d").alias("dc")), "c"
        )
        .select(
            "a",
            "c",
            "common",
            F.round(
                F.col("common").cast("double")
                / (F.col("da") + F.col("dc") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
    )
    from pyspark.sql import Window

    head = scored.orderBy(F.col("jaccard").desc(), F.col("a"), F.col("c")).limit(20)
    rnk = F.row_number().over(
        Window.orderBy(F.col("jaccard").desc(), F.col("a"), F.col("c"))
    )
    return head.withColumn("rnk", rnk).select(
        F.col("a").alias("v1"), F.col("c").alias("v2"), "common", "jaccard", "rnk"
    )


# BFS unroll depth and multi-source seed predicate (every 100th id).
_BFS_HOPS = 4
_BFS_SRC_SQL = "vec_id % 100 = 0"


def _bfs_oracle() -> str:
    """Unrolled frontier BFS in SQL: each round's frontier is DISTINCT
    and subtracted from the reached set, so every CTE is bounded by
    |V| — NOT the path-enumerating recursive-CTE form, whose row count
    is degree^hops and explodes on dense ε-graphs."""
    parts = [
        f"r0 AS (SELECT vec_id AS v FROM pts WHERE {_BFS_SRC_SQL})",
        "s0 AS (SELECT v FROM r0)",
    ]
    for h in range(1, _BFS_HOPS + 1):
        parts.append(
            f"r{h} AS (SELECT DISTINCT ed.w AS v FROM r{h-1} JOIN ed ON ed.v = r{h-1}.v"
            f" WHERE ed.w NOT IN (SELECT v FROM s{h-1}))"
        )
        parts.append(f"s{h} AS (SELECT v FROM s{h-1} UNION SELECT v FROM r{h})")
    hops = " UNION ALL ".join(
        f"SELECT v, {h}::BIGINT AS hop FROM r{h}" for h in range(_BFS_HOPS + 1)
    )
    return (
        f"WITH {_EDGE_SQL},\n"
        "    ed AS (SELECT d1 AS v, d2 AS w FROM e UNION ALL SELECT d2, d1 FROM e),\n"
        + ",\n    ".join(parts)
        + f"\n    SELECT v AS vec_id, hop FROM ({hops})"
    )


@register("q_graph_bfs_layers", oracle=_bfs_oracle(), category="graph")
def q_graph_bfs_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop layers (≤4 hops) over the ε-neighbor
    graph: every 100th vec_id seeds at hop 0, and each vertex gets the
    hop at which it is FIRST reached — the bounded-radius reachability
    primitive behind "expand a duplicate seed set outward k steps"
    and influence/contamination blast-radius queries.

    Shape: the textbook Pregel-style frontier loop — per round ONE
    equi-join of the current frontier against the symmetric adjacency
    list, a distinct, and an anti-join against the reached set; every
    intermediate is ≤|V| rows (frontiers are vertex sets, never path
    sets). materialize after each round truncates the 4-join
    lineage so no round recomputes its predecessors. The oracle
    unrolls the identical rounds as CTEs; exactness is pure integer
    set algebra on the deterministic edge set.

    Scale posture: hop-bounded BFS is shuffle-per-round on (frontier
    ⋈ adjacency) — the frontier side is always the small one, AQE
    picks broadcast when it fits; reached-set anti-joins shuffle at
    most |V| ids. Unbounded-diameter BFS would iterate the same loop
    to an empty frontier with the same per-round cost envelope."""
    pts = load_table(spark, sf_dir, "embeddings").select("vec_id")
    seeds = pts.filter(F.expr(_BFS_SRC_SQL)).select(F.col("vec_id").alias("v"))
    return _bfs_reached(spark, sf_dir, seeds).select(F.col("v").alias("vec_id"), "hop")


def _bfs_reached(spark: SparkSession, sf_dir: str, seeds: DataFrame) -> DataFrame:
    """Frontier BFS over the ε-graph for ``_BFS_HOPS`` hops: ``seeds``
    holds ``v`` plus optional key columns (``src`` keeps each seed's
    reached set independent); returns seeds at hop 0 and every
    (key, v) first reached at hop h. Per round ONE equi-join of the
    frontier against the symmetric adjacency list, a distinct, and an
    anti-join against the reached set; materialize per round truncates
    the frontier lineage."""
    edges = _eps_edges(spark, sf_dir)
    # Materialize the adjacency list ONCE: without this every round's
    # eager checkpoint job re-executes the grid-bucketed ε-self-join
    # (the dominant cost).
    ed = (
        edges.select(F.col("d1").alias("v"), F.col("d2").alias("w"))
        .unionAll(edges.select(F.col("d2").alias("v"), F.col("d1").alias("w")))
        .transform(materialize)
    )
    keys = [c for c in seeds.columns if c != "v"]
    frontier = seeds.select(*keys, "v")
    reached = frontier.select(*keys, "v", F.lit(0).cast("long").alias("hop"))
    for h in range(1, _BFS_HOPS + 1):
        nxt = (
            ed.join(frontier, "v")
            .select(*keys, F.col("w").alias("v"))
            .distinct()
            .join(reached.select(*keys, "v"), [*keys, "v"], "left_anti")
            .select(*keys, "v", F.lit(h).cast("long").alias("hop"))
            .transform(materialize)
        )
        reached = reached.unionAll(nxt)
        frontier = nxt.select(*keys, "v")
    return reached


# k-core peeling: k and the fixed number of synchronous peel rounds
# (declared semantics — both engines run EXACTLY these rounds).
_KCORE_K = 3
_KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    # Each round's edge list is read three times; MATERIALIZED keeps
    # DuckDB from inlining, and so re-expanding, every earlier round
    # at each read.
    parts = [f"e0 AS MATERIALIZED (SELECT d1, d2 FROM e)"]
    for r in range(1, _KCORE_ROUNDS + 1):
        parts.append(
            f"dg{r} AS MATERIALIZED (SELECT v, count(*)::BIGINT AS d FROM"
            f" (SELECT d1 AS v FROM e{r-1} UNION ALL SELECT d2 FROM e{r-1})"
            f" GROUP BY v)"
        )
        parts.append(f"v{r} AS MATERIALIZED (SELECT v FROM dg{r} WHERE d >= {_KCORE_K})")
        parts.append(
            f"e{r} AS MATERIALIZED (SELECT d1, d2 FROM e{r-1}"
            f" WHERE d1 IN (SELECT v FROM v{r}) AND d2 IN (SELECT v FROM v{r}))"
        )
    last = _KCORE_ROUNDS
    return (
        f"WITH {_EDGE_SQL},\n" + ",\n    ".join(parts) + f""",
    fin AS (
      SELECT v, count(*)::BIGINT AS core_deg FROM (
        SELECT d1 AS v FROM e{last} UNION ALL SELECT d2 FROM e{last})
      GROUP BY v)
    SELECT v AS vec_id, core_deg FROM fin"""
    )


@register("q_graph_kcore", oracle=_kcore_oracle(), category="graph")
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (k=3, 4 synchronous rounds) over the ε-graph:
    repeatedly delete vertices of degree < k and the edges they carry,
    then report each survivor's degree in the peeled subgraph — the
    dense-community residue that separates genuinely tight duplicate
    cliques from stars/chains (a hub with 50 borderline neighbors
    dies in round 1; a 4-clique never dies).

    The round count is part of the declared semantics (both engines
    run exactly 4 peels; a fixpoint variant is the same loop with an
    emptiness check on the peeled set — on this fixture round 4 is
    already stationary). Per round: one degree aggregate + two
    semi-joins to filter the edge list; all integer set algebra, so
    the unrolled-CTE oracle is exact.

    Scale posture: each round shuffles the shrinking edge list on its
    endpoints — monotone non-increasing work; the degree table is
    |V|-sized and never force-broadcast (same policy as _oriented).
    materialize per round keeps the 12-join lineage from
    re-executing earlier peels.

    r13, evaluated and REJECTED (measured, VERDICT r12 #5):
    checkpointing every OTHER peel (the q_graph_pagerank cadence) —
    2.331 s per-round vs 2.403 s every-other, interleaved ×4 at
    sf0.1, values identical. The edge list is referenced 4× per round
    (degree union ×2 + two semi-joins), so a skipped barrier trades
    one cheap localCheckpoint job for re-evaluating a full peel plan;
    per-round stays."""

    def peel(e: DataFrame) -> DataFrame:
        deg = (
            e.select(F.col("d1").alias("v"))
            .unionAll(e.select(F.col("d2").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.filter(F.col("d") >= _KCORE_K).select("v")
        return (
            e.join(keep.withColumnRenamed("v", "d1"), "d1", "left_semi")
            .join(keep.withColumnRenamed("v", "d2"), "d2", "left_semi")
            .select("d1", "d2")
        )

    # A peel only removes edges, so an unchanged count is a fixpoint
    # and the remaining declared rounds would return it unchanged.
    e = iterate(_eps_edges(spark, sf_dir), peel, [F.count(F.lit(1))], _KCORE_ROUNDS)
    return (
        e.select(F.col("d1").alias("v"))
        .unionAll(e.select(F.col("d2").alias("v")))
        .groupBy(F.col("v").alias("vec_id"))
        .agg(F.count(F.lit(1)).alias("core_deg"))
    )


# Synchronous label-propagation rounds (declared semantics, like
# k-core's fixed peel count).
_LPA_ROUNDS = 3


def _lpa_oracle() -> str:
    parts = [
        "ed AS (SELECT d1 AS v, d2 AS w FROM e UNION ALL SELECT d2, d1 FROM e)",
        "l0 AS (SELECT DISTINCT v, v AS lab FROM ed)",
    ]
    for r in range(1, _LPA_ROUNDS + 1):
        parts.append(
            f"""c{r} AS (
      SELECT ed.v, l.lab, count(*)::BIGINT AS cnt
      FROM ed JOIN l{r-1} l ON l.v = ed.w
      GROUP BY 1, 2)"""
        )
        parts.append(
            f"""l{r} AS (
      SELECT v, lab FROM (
        SELECT v, lab,
               row_number() OVER (PARTITION BY v
                                  ORDER BY cnt DESC, lab ASC) AS rn
        FROM c{r}) WHERE rn = 1)"""
        )
    return (
        f"WITH {_EDGE_SQL},\n"
        + ",\n    ".join(parts)
        + f""",
    sizes AS (
      SELECT lab AS community, count(*)::BIGINT AS n_members
      FROM l{_LPA_ROUNDS} GROUP BY lab)
    SELECT community, n_members FROM sizes WHERE n_members >= 2"""
    )


@register("q_graph_label_propagation", oracle=_lpa_oracle(), category="graph")
def q_graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation
    (Raghavan-Albert-Kumara) over the ε-graph: every vertex starts as
    its own label, and each of 3 synchronous rounds re-labels every
    vertex with the MOST FREQUENT label among its neighbors
    (deterministic count-desc, label-asc tie-break — the classic LPA
    coin-flip tie is the one thing a cross-engine hash gate cannot
    tolerate). Distinct from connected components (q_llm_dedup_clusters
    converges to per-component minima): LPA splits a component into
    densely-knit regions — the "which documents form a topical clique
    inside this near-dup blob" signal. Emits community sizes (≥2).

    Round count is declared semantics (synchronous LPA need not
    converge — it can oscillate on bipartite structures; a fixed
    round budget is standard practice and what the unrolled-CTE
    oracle replays). Per round: ONE edge⋈label equi-join, a
    (vertex, label) count, and a per-vertex argmax window over
    label-cardinality rows. materialize per round truncates the
    growing join lineage (the BFS/k-core discipline).

    Scale posture: the join shuffles the edge list on the neighbor
    key each round (AQE-splittable; a hot vertex contributes rows to
    ONE group per neighbor label); the argmax window partitions by
    vertex — |V|-keyed, never global."""
    edges = _eps_edges(spark, sf_dir).transform(materialize)
    ed = edges.select(F.col("d1").alias("v"), F.col("d2").alias("w")).unionAll(
        edges.select(F.col("d2").alias("v"), F.col("d1").alias("w"))
    )
    from pyspark.sql import Window

    def relabel(labels: DataFrame) -> DataFrame:
        counted = (
            ed.join(labels.select(F.col("v").alias("w"), "lab"), "w")
            .groupBy("v", "lab")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        win = Window.partitionBy("v").orderBy(F.col("cnt").desc(), F.col("lab").asc())
        return (
            counted.withColumn("rn", F.row_number().over(win))
            .filter(F.col("rn") == 1)
            .select("v", "lab")
        )

    # Round 1 runs inside the initial state, so the identity labelling
    # is never materialized on its own. A repeated labelling is a
    # fixpoint of the synchronous update, so stopping there returns
    # what the declared rounds would.
    labels = iterate(
        relabel(ed.select("v").distinct().select("v", F.col("v").alias("lab"))),
        relabel,
        [F.count(F.lit(1)), F.expr("bit_xor(xxhash64(v, lab))")],
        _LPA_ROUNDS - 1,
    )
    return (
        labels.groupBy(F.col("lab").alias("community"))
        .agg(F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") >= 2)
    )


@register(
    "q_graph_modularity",
    oracle="""
    WITH e AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    lab AS (
      SELECT e.cust, e.supp,
             c.c_nationkey AS ccom, s.s_nationkey AS scom
      FROM e
      JOIN customer c ON c.c_custkey = e.cust
      JOIN supplier s ON s.s_suppkey = e.supp),
    m AS (SELECT count(*)::BIGINT AS m FROM lab),
    internal AS (
      SELECT count(*)::BIGINT AS sum_internal
      FROM lab WHERE ccom = scom),
    degc AS (
      SELECT com, sum(d) AS dc FROM (
        SELECT ccom AS com, count(*) AS d FROM lab GROUP BY ccom, cust
        UNION ALL
        SELECT scom AS com, count(*) AS d FROM lab GROUP BY scom, supp)
      GROUP BY com),
    degsq AS (
      SELECT count(*)::BIGINT AS n_communities,
             sum(dc * dc)::BIGINT AS sum_deg_sq
      FROM degc),
    q AS (
      SELECT m.m, i.sum_internal, d.n_communities, d.sum_deg_sq,
             4 * m.m * i.sum_internal - d.sum_deg_sq AS num,
             4 * m.m * m.m AS den
      FROM m m CROSS JOIN internal i CROSS JOIN degsq d)
    SELECT m, sum_internal, n_communities, sum_deg_sq,
           (CASE WHEN num >= 0 THEN (10000 * num) // den
                 ELSE -((10000 * (-num)) // den) END)::BIGINT AS q_bp
    FROM q
    """,
    category="graph",
)
def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the customer–supplier trade graph under
    the NATION partition: Q = Σ_c [e_c/m − (d_c/2m)²] — the
    community-quality score that tells you whether an attribute (or a
    detected community assignment, e.g. q_graph_label_propagation's)
    actually concentrates edges. Computed EXACTLY in integers:
    Q = (4m·Σe_c − Σd_c²) / 4m², emitted in basis points with a
    sign-aware DIV (truncation of a negative quotient differs between
    Spark's truncating DIV and DuckDB's flooring //, so the sign is
    factored out first — same rule as q_ts_period_over_period).

    Scale posture: ONE distinct edge build (shuffle), dimension
    lookups broadcast, then degree/internal-edge aggregates over the
    edge list; output is one row. Communities here are an attribute
    label, so no iteration — plug in any label column to score a
    detected partition the same way."""
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    lab = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp"))
        .distinct()
        .join(F.broadcast(c), F.col("cust") == c.c_custkey)
        .join(F.broadcast(s), F.col("supp") == s.s_suppkey)
        .select(
            "cust",
            "supp",
            F.col("c_nationkey").alias("ccom"),
            F.col("s_nationkey").alias("scom"),
        )
        .transform(materialize)
    )
    m = lab.agg(F.count(F.lit(1)).alias("m"))
    internal = lab.where(F.col("ccom") == F.col("scom")).agg(
        F.count(F.lit(1)).alias("sum_internal")
    )
    deg = (
        lab.groupBy(F.col("ccom").alias("com"), F.col("cust").alias("node"))
        .agg(F.count(F.lit(1)).alias("d"))
        .unionAll(
            lab.groupBy(F.col("scom").alias("com"), F.col("supp").alias("node")).agg(
                F.count(F.lit(1)).alias("d")
            )
        )
        .groupBy("com")
        .agg(F.sum("d").alias("dc"))
    )
    degsq = deg.agg(
        F.count(F.lit(1)).alias("n_communities"),
        F.sum(F.col("dc") * F.col("dc")).cast("long").alias("sum_deg_sq"),
    )
    q = (
        m.crossJoin(internal)
        .crossJoin(degsq)
        .select(
            "m",
            "sum_internal",
            "n_communities",
            "sum_deg_sq",
            (4 * F.col("m") * F.col("sum_internal") - F.col("sum_deg_sq")).alias("num"),
            (4 * F.col("m") * F.col("m")).alias("den"),
        )
    )
    return q.select(
        "m",
        "sum_internal",
        "n_communities",
        "sum_deg_sq",
        F.expr(
            "CAST(CASE WHEN num >= 0 THEN (10000 * num) DIV den"
            " ELSE -((10000 * (-num)) DIV den) END AS BIGINT)"
        ).alias("q_bp"),
    )


def scc_functional(nodes: DataFrame) -> DataFrame:
    """Strongly-connected components of a FUNCTIONAL graph (every
    node has exactly one out-edge) by pointer doubling — O(log n)
    rounds instead of the O(cycle length) rounds a naive min-label
    propagation needs, which is the difference between ~17 rounds and
    ~100k rounds on a 100 TB-scale graph with long cycles.

    Input: (x BIGINT, succ BIGINT). Maintains (x, j, b) where after
    round k, ``j = succ^(2^k)(x)`` and ``b = min{x, succ(x), ...,
    succ^(2^k − 1)(x)}``; one self-equi-join per round squares the
    jump and folds the path minimum. ``b`` is monotone nonincreasing
    and stops changing exactly when every path has covered its tail
    plus one full cycle wrap, so the loop stops on b's signature
    instead of a fixed round budget. At the fixpoint ``j(x)``
    lies ON x's cycle, and for any on-cycle node ``b`` equals the
    cycle minimum — so ``scc_id(x) = b(j(x))`` lands with one final
    join, and the cycle membership set is exactly the image of ``j``
    (succ is a bijection on each cycle).

    Returns (x, scc_id, on_cycle). The doubling itself is
    ``pointer_double`` with ``b`` folded by ``min``; 64 rounds cover
    any path a BIGINT id space can hold."""
    jt = pointer_double(
        nodes.select(
            F.col("x").cast("long").alias("node"),
            F.col("succ").cast("long").alias("ptr"),
            F.least(F.col("x"), F.col("succ")).cast("long").alias("acc"),
        ),
        F.least,
        64,
    ).select(F.col("node").alias("x"), F.col("ptr").alias("j"), F.col("acc").alias("b"))
    reps = jt.select(
        "x", F.col("j").alias("far")
    )
    scc = reps.join(
        jt.select(F.col("x").alias("far"), F.col("b").alias("scc_id")), "far"
    ).select("x", "scc_id")
    cycle_nodes = jt.select(F.col("j").alias("x")).distinct()
    return scc.join(
        cycle_nodes.withColumn("on_cycle", F.lit(1)), "x", "left"
    ).select("x", "scc_id", F.coalesce(F.col("on_cycle"), F.lit(0)).alias("on_cycle"))


@register(
    "q_graph_scc",
    oracle="""
    WITH n AS (SELECT c_custkey::BIGINT AS x FROM customer)
    SELECT ((x // 10) * 10)::BIGINT AS scc_id,
           sum(CASE WHEN x % 10 < 7 THEN 1 ELSE 0 END)::BIGINT AS cycle_len,
           count(*)::BIGINT AS basin_size
    FROM n
    GROUP BY scc_id
    ORDER BY scc_id
    """,
    category="graph",
)
def q_graph_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCC decomposition of a synthetic functional graph over the
    customer keys (0-based contiguous): each 10-node block holds a
    7-cycle (residues 0–6 rotate) with residues 7–9 as tail nodes
    feeding the cycle — the rho shapes every pointer-chasing
    structure (retry chains, redirect graphs, parent links) produces.
    The builder runs the GENERIC pointer-doubling ``scc_functional``
    kernel, which knows nothing about the block structure; the oracle
    derives the expected components in closed form from it. Parity
    therefore proves the O(log n)-round algorithm lands exactly the
    right components, cycle lengths, and basin sizes.

    Scale posture: rounds are O(log(tail+cycle)) self-equi-joins on
    the jump key with convergence detection (no fixed budget), each
    materialized; output aggregates to the component table. A
    generic digraph would first contract to its condensation with
    this kernel per out-degree-1 subgraph or fall back to
    forward/backward label intersection — this query pins the
    functional-graph fast path."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("x")
    )
    r = F.col("x") % 10
    b10 = F.col("x") - r
    succ = (
        F.when(r < 7, b10 + (r + 1) % 7).otherwise(b10 + r - 7).cast("long")
    )
    nodes = c.select("x", succ.alias("succ"))
    scc = scc_functional(nodes)
    return (
        scc.groupBy("scc_id")
        .agg(
            F.sum("on_cycle").cast("long").alias("cycle_len"),
            F.count(F.lit(1)).alias("basin_size"),
        )
        .orderBy("scc_id")
    )


@register(
    "q_graph_louvain_matching",
    oracle=f"""
    WITH {_EDGE_SQL},
    m AS (SELECT count(*)::BIGINT AS m FROM e),
    directed AS (
      SELECT d1 AS u, d2 AS v FROM e
      UNION ALL SELECT d2, d1 FROM e),
    gains AS (
      SELECT d.u, d.v, 2 * m.m - ku.d * kv.d AS gain_num
      FROM directed d
      JOIN deg ku ON ku.v = d.u
      JOIN deg kv ON kv.v = d.v
      CROSS JOIN m),
    best AS (
      SELECT u, v, gain_num FROM (
        SELECT u, v, gain_num,
               row_number() OVER (PARTITION BY u
                 ORDER BY gain_num DESC, v) AS rn
        FROM gains WHERE gain_num > 0)
      WHERE rn = 1),
    merged AS (
      SELECT a.u, a.v, a.gain_num
      FROM best a JOIN best b ON a.v = b.u AND b.v = a.u
      WHERE a.u < a.v)
    SELECT (SELECT count(*) FROM deg)::BIGINT AS n_nodes,
           (SELECT m FROM m)::BIGINT AS n_edges,
           (SELECT count(*) FROM best)::BIGINT AS n_proposals,
           count(*)::BIGINT AS n_merged_pairs,
           coalesce(sum(merged.gain_num), 0)::BIGINT AS gain_num_sum
    FROM merged
    """,
    category="graph",
)
def q_graph_louvain_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One deterministic Louvain-style coarsening round by MUTUAL
    best-match merging (the matching trick distributed Louvain
    implementations use to avoid synchronous-move oscillation): from
    singleton communities, every vertex proposes to the neighbor with
    the highest modularity gain, and a merge happens iff the proposal
    is mutual. The gain for merging singletons u,v is
    ΔQ = (2m·A_uv − k_u·k_v) / (2m²); only its NUMERATOR
    2m − k_u·k_v is ever computed (A_uv = 1 on neighbors) — an exact
    BIGINT, so argmax, the positivity filter, and the reported gain
    sum are all integer-deterministic across engines (tie-break:
    smallest neighbor id). The coarsening sibling of
    q_graph_label_propagation (which refines by neighbor-majority).

    Scale posture: degrees are one map-side-combinable aggregate;
    gains are two |V|-keyed equi-joins onto the directed edge list
    (one shuffle each, AQE-splittable); m broadcasts as a 1-row
    scalar; best-proposal is a per-vertex WindowGroupLimit-shaped
    argmax; the mutuality check is a |V|-row self-equi-join. Nothing
    touches pairs beyond the existing edge list."""
    edges = _eps_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("d1").alias("v"))
        .unionAll(edges.select(F.col("d2").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    m = edges.agg(F.count(F.lit(1)).alias("m"))
    directed = edges.select(F.col("d1").alias("u"), F.col("d2").alias("vv")).unionAll(
        edges.select(F.col("d2").alias("u"), F.col("d1").alias("vv"))
    )
    gains = (
        directed.join(deg.select(F.col("v").alias("u"), F.col("d").alias("ku")), "u")
        .join(deg.select(F.col("v").alias("vv"), F.col("d").alias("kv")), "vv")
        .crossJoin(F.broadcast(m))
        .select(
            "u",
            "vv",
            (2 * F.col("m") - F.col("ku") * F.col("kv")).alias("gain_num"),
        )
        .where(F.col("gain_num") > 0)
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("u").orderBy(F.col("gain_num").desc(), "vv")
    best = (
        gains.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("u", "vv", "gain_num")
    )
    mutual = (
        best.alias("a")
        .join(
            best.select(
                F.col("u").alias("bu"), F.col("vv").alias("bv")
            ).alias("b"),
            (F.col("a.vv") == F.col("bu")) & (F.col("b.bv") == F.col("a.u")),
        )
        .where(F.col("a.u") < F.col("a.vv"))
        .select(F.col("a.gain_num").alias("gain_num"))
    )
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    n_props = best.agg(F.count(F.lit(1)).alias("n_proposals"))
    return (
        mutual.agg(
            F.count(F.lit(1)).alias("n_merged_pairs"),
            F.coalesce(F.sum("gain_num"), F.lit(0)).cast("long").alias("gain_num_sum"),
        )
        .crossJoin(F.broadcast(n_nodes))
        .crossJoin(F.broadcast(m.select(F.col("m").alias("n_edges"))))
        .crossJoin(F.broadcast(n_props))
        .select("n_nodes", "n_edges", "n_proposals", "n_merged_pairs", "gain_num_sum")
    )


# ------------------------------------------------- bipartite projection

@register(
    "q_graph_bipartite_projection",
    oracle="""
    WITH ps AS (
      SELECT DISTINCT l_partkey AS part, l_suppkey AS supp
      FROM lineitem),
    capped AS (
      SELECT part, supp
      FROM (SELECT part, supp,
                   row_number() OVER (PARTITION BY part ORDER BY supp) AS rn
            FROM ps)
      WHERE rn <= 8),
    pairs AS (
      SELECT a.supp AS supp_a, b.supp AS supp_b
      FROM capped a JOIN capped b
        ON a.part = b.part AND a.supp < b.supp)
    SELECT supp_a, supp_b, count(*)::BIGINT AS weight
    FROM pairs GROUP BY supp_a, supp_b
    ORDER BY weight DESC, supp_a, supp_b
    LIMIT 20
    """,
    category="graph",
)
def q_graph_bipartite_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-mode projection of the part–supplier bipartite graph
    (Newman 2001's collaboration-network construction): two suppliers
    become linked with weight = how many parts they co-supply — the
    co-occurrence graph behind recommender item-item similarity,
    co-authorship networks, and supplier-substitutability analysis.
    Emits the 20 heaviest projected edges (weight DESC, then the
    deterministic (supp_a, supp_b) tie-break).

    The scale hazard of every bipartite projection is the hub: a part
    carried by k suppliers expands to C(k,2) pairs, and this fixture
    averages k≈26 (C(26,2)≈325× amplification). The standard fix —
    identical to what capped_bucket_pairs does for LSH buckets and
    what large co-occurrence systems do to their hot items — is a
    deterministic per-part truncation BEFORE pairing: each part
    contributes only its first 8 suppliers in (supp) order
    (row_number <= 8 over the part partition), bounding the per-part
    expansion at C(8,2) = 28 while keeping the projection exact on
    the capped relation (both engines state the SAME cap, so the
    weights are exactly comparable; hub-truncated co-occurrence
    weights are the documented semantics, as in any production
    item-item pipeline).

    Cross-engine exactness: DISTINCT pairs, deterministic cap,
    integer weights, total-order tie-break — hash-exact.

    Scale posture: the engine never self-joins — each part's capped
    supplier set rides as ONE sorted array (collect_set → sort →
    slice 8) off a single part-keyed exchange, and the <= 28 pairs
    expand with array combinatorics inside codegen (the oracle states
    the equivalent row_number-cap + self-join formulation — a
    different mechanization of the same relation). Then one
    pair-keyed aggregate with map-side combine and
    TakeOrderedAndProject for the top-20 (never a global sort). Two
    exchanges total, zero joins, skew-immune by the cap.

    Reference scope: the reference engine has no graph surface; this
    extends SURVEY.md §2.4's graph family.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("part"), F.col("l_suppkey").alias("supp")
    )
    capped = li.groupBy("part").agg(
        F.slice(F.array_sort(F.collect_set("supp")), 1, 8).alias("supps")
    )
    pairs = capped.select(
        F.explode(
            F.flatten(
                F.transform(
                    "supps",
                    lambda x, i: F.transform(
                        F.slice(
                            "supps",
                            i + F.lit(2),
                            F.greatest(
                                F.size("supps") - i - 1, F.lit(0)
                            ),
                        ),
                        lambda y: F.struct(
                            x.alias("supp_a"), y.alias("supp_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.supp_a", "p.supp_b")
    return (
        pairs.groupBy("supp_a", "supp_b")
        .agg(F.count(F.lit(1)).cast("long").alias("weight"))
        .orderBy(F.col("weight").desc(), "supp_a", "supp_b")
        .limit(20)
    )


# ------------------------------------------------------------------ HITS

_HITS_SCALE = 10**12


@register(
    "q_graph_hits",
    oracle=f"""
    WITH edges AS (
      SELECT DISTINCT l.l_suppkey AS src, o.o_custkey AS dst
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    nsrc AS (SELECT count(DISTINCT src)::BIGINT AS n FROM edges),
    h0 AS (
      SELECT src AS node, ({_HITS_SCALE} // nsrc.n)::BIGINT AS h
      FROM (SELECT DISTINCT src FROM edges) CROSS JOIN nsrc),
    a1p AS (
      SELECT e.dst AS node, sum(h0.h)::BIGINT AS s
      FROM edges e JOIN h0 ON h0.node = e.src GROUP BY e.dst),
    a1 AS (
      SELECT node, ((s::HUGEINT * {_HITS_SCALE}) // t.sa)::BIGINT AS a
      FROM a1p CROSS JOIN (SELECT sum(s)::BIGINT AS sa FROM a1p) t),
    h1p AS (
      SELECT e.src AS node, sum(a1.a)::BIGINT AS s
      FROM edges e JOIN a1 ON a1.node = e.dst GROUP BY e.src),
    h1 AS (
      SELECT node, ((s::HUGEINT * {_HITS_SCALE}) // t.sh)::BIGINT AS h
      FROM h1p CROSS JOIN (SELECT sum(s)::BIGINT AS sh FROM h1p) t),
    a2p AS (
      SELECT e.dst AS node, sum(h1.h)::BIGINT AS s
      FROM edges e JOIN h1 ON h1.node = e.src GROUP BY e.dst),
    a2 AS (
      SELECT node, ((s::HUGEINT * {_HITS_SCALE}) // t.sa)::BIGINT AS a
      FROM a2p CROSS JOIN (SELECT sum(s)::BIGINT AS sa FROM a2p) t),
    h2p AS (
      SELECT e.src AS node, sum(a2.a)::BIGINT AS s
      FROM edges e JOIN a2 ON a2.node = e.dst GROUP BY e.src),
    h2 AS (
      SELECT node, ((s::HUGEINT * {_HITS_SCALE}) // t.sh)::BIGINT AS h
      FROM h2p CROSS JOIN (SELECT sum(s)::BIGINT AS sh FROM h2p) t),
    top_a AS (
      SELECT 'authority' AS role, node, a AS score
      FROM a2 ORDER BY a DESC, node LIMIT 10),
    top_h AS (
      SELECT 'hub' AS role, node, h AS score
      FROM h2 ORDER BY h DESC, node LIMIT 10)
    SELECT * FROM top_a UNION ALL SELECT * FROM top_h
    """,
    category="graph",
)
def q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over the
    supplier→customer trade graph: suppliers are hubs, customers are
    authorities; two mutual-reinforcement rounds (a ← Σ h over
    in-edges, h ← Σ a over out-edges, L1-renormalized each half-step)
    and the top-10 of each role — the OTHER classic link-analysis
    eigenvector beside q_graph_pagerank, with a different fixed
    point: PageRank rewards being pointed at by few-out-degree
    nodes, HITS rewards dense bipartite cores.

    Cross-engine exactness: the q_graph_pagerank fixed-point
    discipline — scores live in integer 1e-12 units, every
    renormalization is (10¹²·s) DIV Σs computed in a WIDE-integer
    intermediate (Spark DECIMAL(38,0), DuckDB HUGEINT: the raw sums
    reach the 10¹² scale themselves, so the product overflows BIGINT)
    with one floor division back to BIGINT — both engines walk
    identical integer sequences; the top-10 tie-break is
    (score DESC, node).

    Scale posture: the distinct edge list materializes once
    (materialize, the pagerank hygiene); each half-step is ONE
    equi-join of scores onto edges + ONE aggregate onto the other
    side, with the L1 mass as a 1-row broadcast — work is O(|E|) per
    round, the driver holds only loop control (no collect inside the
    loop), and top-10s are TakeOrderedAndProject.

    Reference scope: the reference engine has no graph surface; this
    extends SURVEY.md §2.4's graph family.
    """
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .select(F.col("l_suppkey").alias("src"), F.col("o_custkey").alias("dst"))
        .distinct()
        .transform(materialize)
    )
    n_src = edges.select("src").distinct().count()
    h = edges.select("src").distinct().select(
        F.col("src").alias("node"),
        F.lit(_HITS_SCALE // n_src).cast("long").alias("score"),
    )

    def half_step(scores: DataFrame, from_col: str, to_col: str) -> DataFrame:
        raw = (
            edges.join(
                scores.select(F.col("node").alias(from_col), "score"), from_col
            )
            .groupBy(F.col(to_col).alias("node"))
            .agg(F.sum("score").cast("long").alias("s"))
        )
        total = raw.agg(F.sum("s").cast("long").alias("t"))
        return raw.crossJoin(F.broadcast(total)).select(
            "node",
            F.expr(
                f"CAST((CAST(s AS DECIMAL(38, 0)) * {_HITS_SCALE})"
                " DIV t AS BIGINT)"
            ).alias("score"),
        )

    a = half_step(h, "src", "dst")          # authorities round 1
    h = half_step(a, "dst", "src")          # hubs round 1
    a = half_step(h, "src", "dst")          # authorities round 2
    h = half_step(a, "dst", "src")          # hubs round 2
    top_a = (
        a.select(F.lit("authority").alias("role"), "node", "score")
        .orderBy(F.col("score").desc(), "node")
        .limit(10)
    )
    top_h = (
        h.select(F.lit("hub").alias("role"), "node", "score")
        .orderBy(F.col("score").desc(), "node")
        .limit(10)
    )
    return top_a.unionAll(top_h)


@register(
    "q_graph_clustering_coeff",
    oracle=f"""
    WITH {_EDGE_SQL},
    w AS (
      SELECT o1.src AS a, o1.dst AS b, o2.dst AS c
      FROM o o1 JOIN o o2 ON o1.dst = o2.src),
    t AS (
      SELECT w.a, w.b, w.c
      FROM w JOIN o o3 ON o3.src = w.a AND o3.dst = w.c),
    tri AS (
      SELECT v, count(*)::BIGINT AS n_triangles FROM (
        SELECT a AS v FROM t UNION ALL SELECT b FROM t
        UNION ALL SELECT c FROM t)
      GROUP BY v),
    cc AS (
      SELECT deg.v, deg.d, coalesce(tri.n_triangles, 0)::BIGINT AS n_tri
      FROM deg LEFT JOIN tri ON tri.v = deg.v),
    tot AS (
      SELECT sum(n_tri)::BIGINT AS closed2,
             sum(d * (d - 1))::BIGINT AS wedges2
      FROM cc)
    SELECT cc.v AS vec_id, cc.d AS degree, cc.n_tri AS n_triangles,
           CASE WHEN cc.d >= 2
                THEN ((2000000 * cc.n_tri) // (cc.d * (cc.d - 1)))::BIGINT
                ELSE NULL END AS local_cc_ppm,
           ((2000000 * tot.closed2) // nullif(tot.wedges2, 0))::BIGINT
             AS transitivity_ppm
    FROM cc CROSS JOIN tot
    """,
    category="graph",
)
def q_graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per vertex plus the graph's global
    transitivity over the ε-neighbor graph — the cohesion profile
    that separates tight near-duplicate communities (cc → 1) from
    star-shaped hub artifacts (high degree, cc → 0), the diagnostic
    read AFTER q_graph_triangle_count says triangles exist at all.
    Per vertex: degree, triangle count, and cc = 2·T_v / (d_v(d_v−1))
    in exact integer ppm (NULL for degree-1 vertices — undefined, not
    zero); the global transitivity Σ2T_v / Σd(d−1) (= 3·triangles /
    wedges) repeats on every row so the report reads standalone.

    Cross-engine exactness: pure integer counting over the
    deterministic ε-edge set (the IEEE distance predicate is
    identical cross-engine); both ratios are exact integer DIV in
    ppm — no floats anywhere.

    Scale posture: reuses the degree-ordered orientation (module
    docstring — wedge join bounded O(m^1.5), the hot vertex never
    the last reducer); the degree and triangle tables are
    vertex-sized, their join and the 1-row total are metadata-scale.
    No windows over edges, no Python, no hints.

    r12 (guide §2.4 "remove shuffles outright"): the edge list and
    the orientation are materialized once. The oriented table is
    referenced THREE times (o1⋈o2 wedge, ⋈o3 close) and the edge
    list twice more (degrees, orientation build) — without the
    barrier each reference re-derived the grid ε-join and the two
    degree joins (exchange reuse does not cover the differently-
    projected aliases). Edge/orientation tables are edge-count-sized
    (~80k rows at sf0.1). Measured interleaved: 7.4 s → ~4.5 s.

    Reference scope: the reference engine has no graph surface; this
    extends SURVEY.md §2.4's graph family
    (cf. q_graph_triangle_count at operators/graph.py:96).
    """
    edges = _eps_edges(spark, sf_dir).transform(materialize)
    deg = _degrees(edges).select("v", F.col("d").cast("long").alias("d"))
    o = _oriented(edges, deg.select("v", F.col("d"))).transform(materialize)
    w = o.alias("o1").join(
        o.alias("o2"), F.col("o1.dst") == F.col("o2.src")
    ).select(
        F.col("o1.src").alias("a"),
        F.col("o1.dst").alias("b"),
        F.col("o2.dst").alias("c"),
    )
    t = w.join(
        o.alias("o3"),
        (F.col("a") == F.col("o3.src")) & (F.col("c") == F.col("o3.dst")),
    ).select("a", "b", "c")
    tri = (
        t.select(F.col("a").alias("v"))
        .unionAll(t.select(F.col("b").alias("v")))
        .unionAll(t.select(F.col("c").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("n_tri"))
    )
    cc = deg.join(tri, "v", "left").select(
        "v", "d", F.coalesce("n_tri", F.lit(0)).cast("long").alias("n_tri")
    )
    tot = cc.agg(
        F.sum("n_tri").cast("long").alias("closed2"),
        F.sum(F.expr("d * (d - 1)")).cast("long").alias("wedges2"),
    )
    return cc.crossJoin(tot).selectExpr(
        "v AS vec_id",
        "d AS degree",
        "n_tri AS n_triangles",
        "CASE WHEN d >= 2 THEN CAST((2000000 * n_tri) DIV (d * (d - 1))"
        " AS BIGINT) ELSE NULL END AS local_cc_ppm",
        # nullif: a wedge-free graph (all isolated edges) must read
        # NULL on BOTH engines, not raise under ANSI Spark
        "CAST((2000000 * closed2) DIV nullif(wedges2, 0) AS BIGINT)"
        " AS transitivity_ppm",
    )


_CLOSENESS_SRC_SQL = "vec_id % 200 = 0"


def _closeness_oracle() -> str:
    """Unrolled per-source frontier BFS: the q_graph_bfs_layers CTE
    discipline with (src, v) PAIR states, so each seed's reached set
    stays independent — every CTE is bounded by |sources|·|V|."""
    parts = [
        f"r0 AS (SELECT vec_id AS src, vec_id AS v FROM pts"
        f" WHERE {_CLOSENESS_SRC_SQL})",
        "s0 AS (SELECT src, v FROM r0)",
    ]
    for h in range(1, _BFS_HOPS + 1):
        parts.append(
            f"r{h} AS (SELECT DISTINCT r.src, ed.w AS v"
            f" FROM r{h-1} r JOIN ed ON ed.v = r.v"
            f" WHERE NOT EXISTS (SELECT 1 FROM s{h-1} s"
            f" WHERE s.src = r.src AND s.v = ed.w))"
        )
        parts.append(
            f"s{h} AS (SELECT src, v FROM s{h-1}"
            f" UNION SELECT src, v FROM r{h})"
        )
    hops = " UNION ALL ".join(
        f"SELECT src, {h}::BIGINT AS hop FROM r{h}"
        for h in range(1, _BFS_HOPS + 1)
    )
    return (
        f"WITH {_EDGE_SQL},\n"
        "    ed AS (SELECT d1 AS v, d2 AS w FROM e"
        " UNION ALL SELECT d2, d1 FROM e),\n"
        + ",\n    ".join(parts)
        + f""",
    reach AS ({hops}),
    agg AS (
      SELECT src,
             sum(CASE WHEN hop = 1 THEN 1 ELSE 0 END)::BIGINT AS n_h1,
             sum(CASE WHEN hop = 2 THEN 1 ELSE 0 END)::BIGINT AS n_h2,
             sum(CASE WHEN hop = 3 THEN 1 ELSE 0 END)::BIGINT AS n_h3,
             sum(CASE WHEN hop = 4 THEN 1 ELSE 0 END)::BIGINT AS n_h4
      FROM reach GROUP BY src)
    SELECT r0.src AS vec_id,
           coalesce(a.n_h1, 0)::BIGINT AS n_h1,
           coalesce(a.n_h2, 0)::BIGINT AS n_h2,
           coalesce(a.n_h3, 0)::BIGINT AS n_h3,
           coalesce(a.n_h4, 0)::BIGINT AS n_h4,
           (coalesce(a.n_h1, 0) + coalesce(a.n_h2, 0) + coalesce(a.n_h3, 0)
            + coalesce(a.n_h4, 0))::BIGINT AS n_reached,
           (12 * coalesce(a.n_h1, 0) + 6 * coalesce(a.n_h2, 0)
            + 4 * coalesce(a.n_h3, 0) + 3 * coalesce(a.n_h4, 0))::BIGINT
             AS harmonic_x12
    FROM (SELECT DISTINCT src FROM s0) r0 LEFT JOIN agg a ON a.src = r0.src
"""
    )


@register("q_graph_closeness_bfs", oracle=_closeness_oracle(), category="graph")
def q_graph_closeness_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-bounded HARMONIC closeness centrality for a seed set
    (every 200th vec_id) over the ε-neighbor graph: per seed, the
    number of vertices first reached at hops 1–4 and the harmonic
    centrality Σ_reached 1/d — the centrality that stays
    well-defined on DISCONNECTED graphs (unreached vertices
    contribute 0, no infinite-distance convention needed), which is
    why it replaced classic closeness in large-graph practice
    (Boldi & Vigna 2014). Carried as the exact integer ×12 lattice:
    12·n₁ + 6·n₂ + 4·n₃ + 3·n₄ (LCM(1..4) = 12 clears every
    denominator — no floats anywhere).

    Shape: q_graph_bfs_layers' Pregel frontier loop lifted to
    (src, v) PAIR states — per round one equi-join of the frontier
    against the symmetric adjacency list, a distinct, and an
    anti-join against the per-source reached set; every intermediate
    is ≤ |seeds|·|V| rows. materialize truncates lineage per
    round. The oracle unrolls identical rounds with NOT EXISTS
    subtraction; exactness is pure integer set algebra on the
    deterministic edge set.

    Scale posture: at 100 TB the seed set is the work-list knob
    (|seeds|·|V| state, embarrassingly parallel across seeds); the
    per-round shuffle is the frontier⋈adjacency equi-join, AQE free
    to broadcast the frontier side.

    r13, evaluated and REJECTED (measured, VERDICT r12 #5):
    checkpointing every other hop — 3.127 s per-round vs 3.108 s
    every-other, interleaved ×4 at sf0.1 (a wash), values identical.
    An uncheckpointed frontier is re-read by every later anti-join
    through the growing `reached` union, so the saved barrier job is
    paid back in re-evaluation; per-round stays.

    Reference scope: the reference engine has no graph surface; this
    extends SURVEY.md §2.4's graph family beside q_graph_bfs_layers.
    """
    pts = load_table(spark, sf_dir, "embeddings").select("vec_id")
    seeds = pts.filter(F.expr(_CLOSENESS_SRC_SQL)).select(
        F.col("vec_id").alias("src")
    )
    reached = _bfs_reached(spark, sf_dir, seeds.select("src", F.col("src").alias("v")))
    agg = (
        reached.where(F.col("hop") > 0)
        .groupBy("src")
        .agg(
            *[
                F.sum(F.expr(f"CASE WHEN hop = {h} THEN 1 ELSE 0 END"))
                .cast("long")
                .alias(f"n_h{h}")
                for h in range(1, _BFS_HOPS + 1)
            ]
        )
    )
    return (
        seeds.join(agg, "src", "left")
        .selectExpr(
            "src AS vec_id",
            *[f"coalesce(n_h{h}, 0) AS n_h{h}" for h in range(1, 5)],
        )
        .selectExpr(
            "vec_id",
            "n_h1",
            "n_h2",
            "n_h3",
            "n_h4",
            "CAST(n_h1 + n_h2 + n_h3 + n_h4 AS BIGINT) AS n_reached",
            "CAST(12 * n_h1 + 6 * n_h2 + 4 * n_h3 + 3 * n_h4 AS BIGINT)"
            " AS harmonic_x12",
        )
    )
