"""Hierarchy / recursive-closure operators.

Spark has no recursive CTE; hierarchical queries (org charts, BOM
explosions, category trees) are run as ITERATIVE joins with
logarithmic round counts. The engine ships pointer jumping (path
doubling): each round every node's ancestor pointer jumps to its
ancestor's ancestor while accumulating hop counts, reaching the root
of any depth-D tree in ceil(log2 D) rounds — the textbook PRAM
technique (Wyllie's list ranking), which is also how Spark-side graph
libraries bound deep traversals. The DuckDB oracle states the same
semantics declaratively with WITH RECURSIVE.

The reference has no graph/hierarchy surface at all (its pipeline is
T-agnostic batching, batchprocessor-core/src/main/java/.../v2/
BatchProcessor.java:24); this extends the engine the same way the
connected-components resolvers in operators/dedup.py do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from batchprocessor_spark.plans.registry import register
from batchprocessor_spark.sources.catalog import load_table
from batchprocessor_spark.session import materialize

_N_ROOTS = 3  # doc_id 0..2 are forest roots; parent(v) = v // 3 otherwise


def pointer_jump_ancestry(nodes: DataFrame, max_rounds: int = 40) -> DataFrame:
    """(node, parent nullable) → (node, root_id, depth) by pointer
    jumping. Roots carry parent NULL.

    Per round: self-join state on ptr = other.node; each node's
    pointer jumps to its pointer's pointer, depth accumulates the
    jumped-over hop count. Roots self-loop with hop 0, so converged
    nodes are fixpoints. Rounds needed: ceil(log2(max depth)) —
    depth 1e6 chains finish in 20 rounds, each ONE equi-join + ONE
    projection, fully distributed; the driver holds only the
    convergence counter. materialize per round keeps the plan
    from growing exponentially (same hygiene as
    connected_components in operators/dedup.py).
    """
    state = nodes.select(
        "node",
        F.coalesce("parent", F.col("node")).alias("ptr"),
        F.when(F.col("parent").isNull(), 0).otherwise(1).alias("d"),
    ).transform(materialize)
    for _ in range(max_rounds):
        nxt = state.select(
            F.col("node").alias("j_node"),
            F.col("ptr").alias("j_ptr"),
            F.col("d").alias("j_d"),
        )
        jumped = (
            state.join(nxt, state.ptr == nxt.j_node)
            .select(
                "node",
                F.col("j_ptr").alias("ptr"),
                (F.col("d") + F.col("j_d")).alias("d"),
            )
            .transform(materialize)
        )
        moved = (
            jumped.join(
                state.select("node", F.col("ptr").alias("old_ptr")), "node"
            )
            .where(F.col("ptr") != F.col("old_ptr"))
            .count()
        )
        state.unpersist()
        state = jumped
        if moved == 0:
            break
    return state.select("node", F.col("ptr").alias("root_id"), F.col("d").alias("depth"))


@register(
    "q_hier_ancestry",
    oracle=f"""
    WITH RECURSIVE walk AS (
      SELECT doc_id, doc_id AS root_id, 0 AS depth
      FROM documents WHERE doc_id < {_N_ROOTS}
      UNION ALL
      SELECT d.doc_id, w.root_id, w.depth + 1
      FROM documents d JOIN walk w ON (d.doc_id // {_N_ROOTS}) = w.doc_id
      WHERE d.doc_id >= {_N_ROOTS})
    SELECT doc_id, root_id::BIGINT AS root_id, depth::INT AS depth FROM walk
    """,
    category="graph",
)
def q_hier_ancestry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive hierarchy closure: every document's forest root and
    depth, where the synthetic forest is parent(v) = v // 3 with
    doc_id 0..2 as roots (depth ~log3 n — deep enough to force
    multiple jump rounds). Spark runs pointer jumping (see
    pointer_jump_ancestry); the oracle is the WITH RECURSIVE walk —
    the declarative statement of the same closure.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    nodes = d.select(
        F.col("doc_id").alias("node"),
        F.when(
            F.col("doc_id") >= _N_ROOTS, F.expr(f"doc_id div {_N_ROOTS}")
        ).alias("parent"),
    )
    out = pointer_jump_ancestry(nodes)
    return out.select(
        F.col("node").alias("doc_id"),
        F.col("root_id"),
        F.col("depth").cast("int").alias("depth"),
    )


@register(
    "q_hier_rollup",
    oracle=f"""
    WITH RECURSIVE walk AS (
      SELECT doc_id, doc_id AS root_id, 0 AS depth
      FROM documents WHERE doc_id < {_N_ROOTS}
      UNION ALL
      SELECT d.doc_id, w.root_id, w.depth + 1
      FROM documents d JOIN walk w ON (d.doc_id // {_N_ROOTS}) = w.doc_id
      WHERE d.doc_id >= {_N_ROOTS})
    SELECT w.root_id::BIGINT AS root_id,
           count(*)::BIGINT AS n_nodes,
           max(w.depth)::INT AS max_depth,
           sum(d.n_chars)::BIGINT AS subtree_chars
    FROM walk w JOIN documents d ON w.doc_id = d.doc_id
    GROUP BY w.root_id
    """,
    category="graph",
)
def q_hier_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtree rollup per forest root (the BOM-explosion aggregate):
    node count, max depth, and total n_chars of every tree, computed
    from the pointer-jumping closure + one join + one aggregate. The
    oracle recomputes it from the recursive walk.

    Scale posture: the closure is the log-round kernel; everything
    after is a broadcast-or-shuffle join on doc_id and a 3-row
    aggregate — no per-level passes.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    nodes = d.select(
        F.col("doc_id").alias("node"),
        F.when(
            F.col("doc_id") >= _N_ROOTS, F.expr(f"doc_id div {_N_ROOTS}")
        ).alias("parent"),
    )
    anc = pointer_jump_ancestry(nodes).withColumnRenamed("node", "doc_id")
    return (
        anc.join(d, "doc_id")
        .groupBy("root_id")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.max("depth").cast("int").alias("max_depth"),
            F.sum("n_chars").alias("subtree_chars"),
        )
    )


@register(
    "q_hier_paths",
    oracle=f"""
    WITH RECURSIVE walk AS (
      SELECT doc_id, doc_id AS cur, doc_id::VARCHAR AS path
      FROM documents
      UNION ALL
      SELECT w.doc_id, (w.cur // {_N_ROOTS}),
             w.path || '/' || (w.cur // {_N_ROOTS})::VARCHAR
      FROM walk w WHERE w.cur >= {_N_ROOTS})
    SELECT doc_id, cur::BIGINT AS root_id, path
    FROM walk WHERE cur < {_N_ROOTS}
    """,
    category="graph",
)
def q_hier_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-path build: every document's full ancestor chain
    node/…/root as a string — the denormalization that turns
    subtree queries into prefix filters (LIKE 'root/%') and powers
    breadcrumbs without per-query traversal.

    Unlike q_hier_ancestry/q_hier_rollup (whose oracles walk only
    through EXISTING document rows — pointer jumping's natural
    contract), this oracle derives every ancestor ARITHMETICALLY
    (`cur // 3` from the walk row itself): a document whose numeric
    ancestors are absent from the table still gets its full chain.
    The r12 sf1 twin sweep caught the old pointer-jumping builder
    silently dropping exactly those rows (key-shifted sf1 doc_ids
    are not parent-closed — and neither is any real hierarchy with
    deleted intermediate nodes).

    Scale posture: the chain is a bounded per-row Catalyst fold —
    40 div-steps cover any BIGINT id (3^40 > 2^63) and the fold
    stops appending at the root, so the plan is one projection:
    no join, no shuffle, nothing to skew. Strictly better at 100 TB
    than the log-round join kernel it replaced.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    chain = F.expr(
        f"aggregate(sequence(1, 40), "
        f"struct(CAST(doc_id AS BIGINT) AS cur, "
        f"array(CAST(doc_id AS BIGINT)) AS arr), "
        f"(s, _i) -> IF(s.cur >= {_N_ROOTS}, "
        f"struct(s.cur DIV {_N_ROOTS} AS cur, "
        f"array_append(s.arr, s.cur DIV {_N_ROOTS}) AS arr), s), "
        f"s -> s.arr)"
    )
    return d.select("doc_id", chain.alias("_chain")).select(
        "doc_id",
        F.element_at("_chain", -1).alias("root_id"),
        F.array_join(
            F.transform("_chain", lambda x: x.cast("string")), "/"
        ).alias("path"),
    )


# Fixed-point PageRank: ranks live in integer units of 1e-12 ("pico-
# rank"), every step is integer DIV/MOD arithmetic — bit-identical
# across engines by construction, so the driver hash gate needs no
# float rounding at all. Mass lost to integer truncation is ≤ N·1e-12
# per round (documented, deterministic on both sides).
_PR_SCALE = 1_000_000_000_000
_PR_ROUNDS = 5


def _pagerank_oracle() -> str:
    prev = "r0"
    iters = []
    for k in range(1, _PR_ROUNDS + 1):
        iters.append(f"""
    dang{k} AS (
      SELECT coalesce(sum(pr), 0)::BIGINT AS m FROM {prev}
      WHERE node NOT IN (SELECT node FROM deg)),
    infl{k} AS (
      SELECT e.dst AS node, sum(p.pr // d.outdeg)::BIGINT AS s
      FROM edges e JOIN {prev} p ON e.src = p.node
      JOIN deg d ON e.src = d.node
      GROUP BY 1),
    r{k} AS (
      SELECT n.node,
             ((15 * (SELECT b FROM base)
               + 85 * (coalesce(i.s, 0) + (SELECT m FROM dang{k}) // (SELECT n FROM base)))
              // 100)::BIGINT AS pr
      FROM nodes n LEFT JOIN infl{k} i ON n.node = i.node)""")
        prev = f"r{k}"
    return f"""
    WITH edges AS (
      SELECT DISTINCT l.l_suppkey * 2 + 1 AS src, o.o_custkey * 2 AS dst
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
    deg AS (SELECT src AS node, count(*)::BIGINT AS outdeg FROM edges GROUP BY 1),
    base AS (SELECT ({_PR_SCALE} // count(*))::BIGINT AS b,
                    count(*)::BIGINT AS n FROM nodes),
    r0 AS (SELECT node, (SELECT b FROM base) AS pr FROM nodes),
    {",".join(iters)}
    SELECT node, pr FROM {prev}
    """


@register(
    "q_graph_pagerank",
    oracle=_pagerank_oracle(),
    category="graph",
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PageRank (5 fixed iterations, damping 0.85, dangling
    mass redistributed uniformly) over the supplier→customer sales
    graph (distinct lineitem⋈orders edges; node ids namespaced
    2·cust / 2·supp+1 since the key spaces overlap).

    Per iteration: ONE shuffle join of ranks onto edges (on src) + ONE
    aggregate onto dst + a 1-row dangling-mass aggregate crossJoined
    back (broadcast, no driver collect inside the loop) — the standard
    scale shape where work is O(|E|) per round and the driver holds
    only loop control. materialize per round stops lineage growth
    (same hygiene as pointer_jump_ancestry above). The only driver
    scalar is N (node count, one count job), the same model-sized
    allowance as k-means' centroids.

    Exactness: fixed-point integer arithmetic (units of 1e-12) — every
    contribution is pr DIV outdeg, every update
    (15·base + 85·(inflow + dangling DIV N)) DIV 100 — so both engines
    walk identical integer sequences and the result needs no float
    rounding at all. Truncation loses ≤ N·1e-12 mass per round,
    identically on both sides.

    r13, evaluated and REJECTED (measured, VERDICT r12 #5): dropping
    the two barriers whose inputs are already checkpointed — the
    ranks-init materialize (pure projection over nodes_deg) and the
    final-round checkpoint (single consumer) — measured SLOWER:
    4.983 s current vs 5.198 s lean, interleaved ×5 at sf0.1, losing
    5/5 reps, values identical. The saved localCheckpoint jobs are
    cheaper than the duplicate evaluation the dang/contrib double
    reference pays on the uncheckpointed rounds; the every-other
    cadence already sits at the measured optimum."""
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .select(
            (F.col("l_suppkey") * 2 + 1).alias("src"),
            (F.col("o_custkey") * 2).alias("dst"),
        )
        .distinct()
        .transform(materialize)
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    # Fold outdeg into the node state ONCE: every round reads it from
    # the checkpointed state instead of re-aggregating edges and
    # re-joining deg (2 operators × 5 rounds saved — VERDICT r3 #7).
    nodes_deg = nodes.join(deg, "node", "left").transform(materialize)
    n_nodes = nodes_deg.count()
    base = _PR_SCALE // n_nodes
    ranks = nodes_deg.select(
        "node", "outdeg", F.lit(base).cast("long").alias("pr")
    ).transform(materialize)
    # Track the live checkpointed frame explicitly: `ranks` itself is
    # NOT checkpointed on the skipped rounds, so unpersisting `ranks`
    # when the next checkpoint lands would usually be a no-op and the
    # earlier checkpoint blocks would wait for ContextCleaner GC
    # (ADVICE r4). Unpersist the PREVIOUS checkpoint instead.
    last_ckpt = ranks
    for i in range(_PR_ROUNDS):
        dang = ranks.where(F.col("outdeg").isNull()).agg(
            F.coalesce(F.sum("pr"), F.lit(0)).cast("long").alias("m")
        )
        contrib = (
            edges.join(
                ranks.where(F.col("outdeg").isNotNull()).select(
                    F.col("node").alias("src"),
                    F.expr("pr DIV outdeg").alias("c"),
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").cast("long").alias("s"))
        )
        nxt = (
            nodes_deg.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                "outdeg",
                F.expr(
                    f"CAST((15 * CAST({base} AS BIGINT)"
                    f" + 85 * (coalesce(s, CAST(0 AS BIGINT)) + m DIV {n_nodes}))"
                    " DIV 100 AS BIGINT)"
                ).alias("pr"),
            )
        )
        # Checkpoint every SECOND round (and the last): all loop
        # inputs are themselves checkpointed, so one un-checkpointed
        # round only doubles a shallow plan, while halving the
        # materialization jobs — the dominant per-round cost at scale
        # (VERDICT r3 #7). ranks is referenced twice per round (dang +
        # contrib), so unbounded skipping would grow re-evaluation
        # 2^k; every-other bounds it at one re-evaluation.
        if i % 2 == 1 or i == _PR_ROUNDS - 1:
            nxt = nxt.transform(materialize)
            last_ckpt.unpersist()
            last_ckpt = nxt
        ranks = nxt
    return ranks.select("node", "pr")


@register(
    "q_sql_recursive_cte",
    # Same closure as q_hier_ancestry's oracle, re-stated (the oracle
    # dialect uses // for integer division).
    oracle=f"""
    WITH RECURSIVE walk AS (
      SELECT doc_id, doc_id AS root_id, 0 AS depth
      FROM documents WHERE doc_id < {_N_ROOTS}
      UNION ALL
      SELECT d.doc_id, w.root_id, w.depth + 1
      FROM documents d JOIN walk w ON (d.doc_id // {_N_ROOTS}) = w.doc_id
      WHERE d.doc_id >= {_N_ROOTS})
    SELECT root_id::BIGINT AS root_id, count(*)::BIGINT AS n_nodes,
           max(depth)::INT AS max_depth, sum(doc_id)::BIGINT AS id_sum
    FROM walk GROUP BY root_id
    """,
    category="graph",
)
def q_sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE through Spark's OWN SQL front end (new in Spark
    4) — the declarative twin of the pointer-jumping closure
    (q_hier_ancestry): the same forest walk as a recursive CTE
    executed BY SPARK, aggregated to per-root subtree size, max depth
    and an id checksum. Completes the SQL-surface story: a user
    porting recursive warehouse SQL can run it verbatim, and the
    engine's iterative DataFrame formulation (O(log n) pointer
    jumping) remains the scale path for deep hierarchies — the CTE
    executes one join per LEVEL (~log₃ n rounds here, ~7 at sf0.1),
    while pointer jumping doubles the horizon per round.

    Exactness: pure integer walk — counts, depths, id sums."""
    from batchprocessor_spark.sources.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        f"""
        WITH RECURSIVE walk AS (
          SELECT doc_id, doc_id AS root_id, 0 AS depth
          FROM documents WHERE doc_id < {_N_ROOTS}
          UNION ALL
          SELECT d.doc_id, w.root_id, w.depth + 1
          FROM documents d JOIN walk w ON (d.doc_id DIV {_N_ROOTS}) = w.doc_id
          WHERE d.doc_id >= {_N_ROOTS})
        SELECT root_id, count(*) AS n_nodes,
               CAST(max(depth) AS INT) AS max_depth,
               sum(doc_id) AS id_sum
        FROM walk GROUP BY root_id
        """
    )


_ASSORT_CORR = (
    "((n * s_xy - s_x * s_y)"
    " / (sqrt(n * s_xx - s_x * s_x) * sqrt(n * s_yy - s_y * s_y)))"
)


@register(
    "q_graph_assortativity",
    oracle=f"""
    WITH edges AS (
      SELECT DISTINCT l.l_suppkey AS src, o.o_custkey AS dst
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    outdeg AS (SELECT src, count(*)::BIGINT AS od FROM edges GROUP BY src),
    indeg AS (SELECT dst, count(*)::BIGINT AS id FROM edges GROUP BY dst),
    j AS (
      SELECT od.od AS x, id.id AS y
      FROM edges e
      JOIN outdeg od ON e.src = od.src
      JOIN indeg id ON e.dst = id.dst),
    s AS (
      SELECT count(*)::BIGINT AS n,
             sum(x)::DOUBLE AS s_x, sum(y)::DOUBLE AS s_y,
             sum(x * x)::DOUBLE AS s_xx, sum(y * y)::DOUBLE AS s_yy,
             sum(x * y)::DOUBLE AS s_xy
      FROM j)
    SELECT n AS n_edges, round({_ASSORT_CORR}, 6) AS assortativity
    FROM s
    """,
    category="graph",
)
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the supplier→customer trade graph —
    Newman's r: the Pearson correlation, over EDGES, between the
    source's out-degree and the destination's in-degree (r > 0: hubs
    trade with hubs; r < 0: hub-and-spoke). Complements
    q_graph_modularity (community strength) and q_graph_pagerank
    (centrality) with the mixing-structure metric. Degrees are exact
    integer aggregates; the correlation is the shared-formula-text
    moment expression (q_agg_corr_matrix's kernel) over exact sums,
    6-dp belt.

    Scale posture: the edge list materializes ONCE (materialize,
    the q_graph_pagerank discipline), degree tables are node-sized
    aggregates joined back onto edges (broadcast at fixture scale;
    shuffle equi-joins on node id at 100 TB — never a window over
    the edge list), one moment fold to a single row."""
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .select(F.col("l_suppkey").alias("src"), F.col("o_custkey").alias("dst"))
        .distinct()
        .transform(materialize)
    )
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    indeg = edges.groupBy("dst").agg(F.count(F.lit(1)).alias("id"))
    j = (
        edges.join(outdeg, "src")
        .join(indeg, "dst")
        .select(F.col("od").alias("x"), F.col("id").alias("y"))
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("x"))).cast("double").alias("s_x"),
        F.sum(dec(F.col("y"))).cast("double").alias("s_y"),
        F.sum(dec(F.col("x") * F.col("x"))).cast("double").alias("s_xx"),
        F.sum(dec(F.col("y") * F.col("y"))).cast("double").alias("s_yy"),
        F.sum(dec(F.col("x") * F.col("y"))).cast("double").alias("s_xy"),
    )
    return s.selectExpr(
        "n AS n_edges", f"round({_ASSORT_CORR}, 6) AS assortativity"
    )


def _rw_hash(walk: str, step: int, nbr: str) -> str:
    """Shared seeded-hash text: deterministic edge choice per
    (walk, step) — first 15 md5 hex digits as an integer (engine-
    agnostic, same as the sampling lane)."""
    return (
        f"('0x' || substring(md5('rw{step}:' || {walk}::VARCHAR "
        f"|| ':' || {nbr}::VARCHAR), 1, 15))::BIGINT"
    )


def _rw_hash_spark(walk: str, step: int, nbr: str):
    from pyspark.sql import functions as F

    return F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(f"rw{step}:"),
                    F.col(walk).cast("string"),
                    F.lit(":"),
                    F.col(nbr).cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")


def _rw_oracle(steps: int = 3) -> str:
    ctes = [
        """edges AS (
      SELECT DISTINCT l.l_suppkey AS src, o.o_custkey AS dst
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    back AS (SELECT dst AS src, src AS dst FROM edges),
    und AS (SELECT src, dst, 0 AS dstside FROM edges
            UNION ALL SELECT src, dst, 1 FROM back),
    w0 AS (SELECT DISTINCT src AS walk_id, src AS node, 0 AS side
           FROM edges)""",
    ]
    prev = "w0"
    for s in range(1, steps + 1):
        h = _rw_hash("w.walk_id", s, "e.dst")
        ctes.append(
            f"""c{s} AS (
      SELECT w.walk_id, e.dst AS node, 1 - w.side AS side,
             row_number() OVER (PARTITION BY w.walk_id
                                ORDER BY {h}, e.dst) AS rn
      FROM {prev} w JOIN und e
        ON e.src = w.node AND e.dstside = w.side),
    w{s} AS (SELECT walk_id, node, side FROM c{s} WHERE rn = 1)"""
        )
        prev = f"w{s}"
    hops = ", ".join(
        f"(SELECT node FROM w{s} WHERE w{s}.walk_id = w0.walk_id) AS hop{s}"
        for s in range(1, steps + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT w0.walk_id, {hops} FROM w0"
    )


@register("q_graph_random_walk", oracle=_rw_oracle(), category="graph")
def q_graph_random_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 3-step random walks from every supplier over the
    (undirected) trade graph — the sampling kernel of
    node2vec/DeepWalk graph embeddings, made reproducible the way a
    distributed pipeline needs: the 'random' neighbor at step s of
    walk w is argmin over neighbors of a seeded md5 hash of
    (walk, step, neighbor), so reruns, retries and both engines pick
    identical walks (no RNG state anywhere). The bipartite graph is
    walked supplier→customer→supplier→customer via an explicit side
    bit (nodes keep their natural ids; no namespacing needed).

    Scale posture: per step ONE equi-join of the walk frontier onto
    the edge list + a per-walk WindowGroupLimit argmin (rn = 1 —
    Spark prunes to the group-limit operator, never materializing
    all neighbors through a full sort); 3 steps = 3 joins, frontier
    never exceeds |start nodes|. The oracle unrolls the same argmin
    per step."""
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .select(F.col("l_suppkey").alias("src"), F.col("o_custkey").alias("dst"))
        .distinct()
        .transform(materialize)
    )
    und = edges.select("src", "dst", F.lit(0).alias("dstside")).unionAll(
        edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"),
            F.lit(1).alias("dstside"),
        )
    )
    walks = edges.select(F.col("src").alias("walk_id")).distinct().select(
        "walk_id", F.col("walk_id").alias("node"), F.lit(0).alias("side")
    )
    # The walk state carries its hop history, so the whole traversal
    # is ONE lineage (3 joins + 3 group-limit argmins) instead of
    # re-deriving the prefix once per emitted hop column.
    cur = walks
    hop_cols: list[str] = []
    for s in range(1, 4):
        # Fresh aliases per step: re-joining the same `und` lineage
        # would otherwise trip Spark's ambiguous-self-join check.
        e = und.select(
            F.col("src").alias("e_src"),
            F.col("dst").alias("e_dst"),
            F.col("dstside").alias("e_side"),
        )
        joined = cur.join(
            e,
            (F.col("e_src") == F.col("node"))
            & (F.col("e_side") == F.col("side")),
        ).select(
            "walk_id",
            *hop_cols,
            F.col("e_dst").alias("nxt"),
            (1 - F.col("side")).alias("nside"),
        )
        w = Window.partitionBy("walk_id").orderBy(
            _rw_hash_spark("walk_id", s, "nxt"), F.col("nxt")
        )
        cur = (
            joined.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(
                "walk_id",
                *hop_cols,
                F.col("nxt").alias(f"hop{s}"),
                F.col("nxt").alias("node"),
                F.col("nside").alias("side"),
            )
        )
        hop_cols.append(f"hop{s}")
    return cur.select("walk_id", *hop_cols)


# Personalized-PageRank seed predicate over the namespaced node ids
# (node = 2*custkey for customers): every 10th customer seeds.
_PPR_SEED_SQL = "node % 20 = 0"


def _ppr_oracle() -> str:
    prev = "r0"
    iters = []
    seed_n = _PPR_SEED_SQL.replace("node", "n.node")
    for k in range(1, _PR_ROUNDS + 1):
        iters.append(f"""
    infl{k} AS (
      SELECT e.dst AS node, sum(p.pr // d.outdeg)::BIGINT AS s
      FROM edges e JOIN {prev} p ON e.src = p.node
      JOIN deg d ON e.src = d.node
      GROUP BY 1),
    r{k} AS (
      SELECT n.node,
             ((15 * (CASE WHEN {seed_n}
                          THEN (SELECT b FROM base) ELSE 0 END)
               + 85 * coalesce(i.s, 0))
              // 100)::BIGINT AS pr
      FROM nodes n LEFT JOIN infl{k} i ON n.node = i.node)""")
        prev = f"r{k}"
    # nullif: an empty seed set (no node matches the predicate) must
    # yield NULL base -> NULL ranks -> EMPTY result on both engines,
    # never a division error (code-review r9s2 finding #2)
    return f"""
    WITH edges AS (
      SELECT DISTINCT l.l_suppkey * 2 + 1 AS src, o.o_custkey * 2 AS dst
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      UNION
      SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
    deg AS (SELECT src AS node, count(*)::BIGINT AS outdeg
            FROM edges GROUP BY 1),
    base AS (
      SELECT ({_PR_SCALE}
              // nullif(count(*) FILTER ({_PPR_SEED_SQL}), 0))::BIGINT AS b
      FROM nodes),
    r0 AS (
      SELECT node, (CASE WHEN {_PPR_SEED_SQL}
                         THEN (SELECT b FROM base) ELSE 0 END)::BIGINT AS pr
      FROM nodes),
    {",".join(iters)}
    SELECT node, pr FROM {prev} WHERE pr > 0
    """


@register("q_graph_ppr", oracle=_ppr_oracle(), category="graph")
def q_graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-set personalized PageRank over the UNDIRECTED trade graph
    (both edge directions of the supplier↔customer relation) — the
    "related entities" primitive behind recommendation expansion and
    label propagation from a trusted whitelist: teleport mass returns
    ONLY to the seed set (every 10th customer), so rank concentrates
    in the seeds' graph neighborhood instead of spreading globally
    like q_graph_pagerank. 5 fixed iterations, damping 0.85. The
    symmetrized edge set has NO dangling nodes by construction
    (every node appears as a src), so unlike q_graph_pagerank there
    is no dangling-mass term — mass leaves only through the (1−d)
    non-teleport decay at non-seeds, which is what concentrates rank
    near the seeds.

    Cross-engine exactness: the q_graph_pagerank fixed-point
    discipline — integer mass units of 1e-12 with seed base
    SCALE DIV |S|, per-edge contribution pr DIV outdeg, update
    (15·seed_base·[v∈S] + 85·inflow) DIV 100 — identical integer
    sequences on both engines, no float rounding anywhere.
    Zero-mass rows are dropped on both sides (the interesting output
    is the reached neighborhood); an EMPTY seed set yields an empty
    result on both engines (guarded, never a division error).

    Scale posture: O(|E|) per round — one shuffle join of ranks onto
    edges, one aggregate onto dst; materialize every second
    round bounds lineage; driver holds only loop control and the
    node/seed counts (model-sized scalars, the k-means allowance).

    Reference scope: the reference engine has no graph surface; this
    extends SURVEY.md §2.4's graph family beside q_graph_pagerank
    and q_graph_hits.
    """
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    directed = l.join(o, l.l_orderkey == o.o_orderkey).select(
        (F.col("l_suppkey") * 2 + 1).alias("src"),
        (F.col("o_custkey") * 2).alias("dst"),
    )
    # r12: distinct BEFORE symmetrizing — src is always odd (2s+1) and
    # dst always even (2c), so the forward and reversed edge sets are
    # disjoint and the union of two distinct sets needs no second
    # distinct; the dedup shuffle runs over half the rows
    # (edge build 1.79 → 1.20 s interleaved at sf0.1, same edge set).
    directed = directed.distinct()
    edges = (
        directed.unionAll(directed.select(F.col("dst").alias("src"),
                                          F.col("src").alias("dst")))
        .transform(materialize)
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    nodes_deg = nodes.join(deg, "node", "left").transform(materialize)
    n_seeds = nodes_deg.where(F.expr(_PPR_SEED_SQL)).count()
    if n_seeds == 0:
        # no node matches the seed predicate (small/filtered corpora):
        # empty result, matching the oracle's nullif-NULL base lane
        # (code-review r9s2 finding #2 — the bare DIV raised here)
        return spark.createDataFrame([], "node BIGINT, pr BIGINT")
    base = _PR_SCALE // n_seeds
    seed_case = f"CASE WHEN {_PPR_SEED_SQL} THEN 1 ELSE 0 END"
    # NOTE: the symmetrized edge list has no dangling nodes (every
    # node is a src), so there is no dangling-mass aggregate here —
    # q_graph_pagerank needs one because its directed graph has sinks
    ranks = nodes_deg.selectExpr(
        "node",
        "outdeg",
        f"CAST(({seed_case}) * CAST({base} AS BIGINT) AS BIGINT) AS pr",
    ).transform(materialize)
    last_ckpt = ranks
    for i in range(_PR_ROUNDS):
        contrib = (
            edges.join(
                ranks.where(F.col("outdeg").isNotNull()).select(
                    F.col("node").alias("src"),
                    F.expr("pr DIV outdeg").alias("c"),
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").cast("long").alias("s"))
        )
        nxt = nodes_deg.join(contrib, "node", "left").selectExpr(
            "node",
            "outdeg",
            f"CAST((15 * ({seed_case}) * CAST({base} AS BIGINT)"
            f" + 85 * coalesce(s, CAST(0 AS BIGINT)))"
            " DIV 100 AS BIGINT) AS pr",
        )
        if i % 2 == 1 or i == _PR_ROUNDS - 1:
            nxt = nxt.transform(materialize)
            last_ckpt.unpersist()
            last_ckpt = nxt
        ranks = nxt
    return ranks.where(F.col("pr") > 0).select("node", "pr")
