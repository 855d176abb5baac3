"""Graph analytics over relational facts: iterative fixed-point
(PageRank) and pattern counting (triangles).

The graph is derived, not stored: nation-level trade edges are
aggregated from the lineitem->supplier/orders->customer join (the q97
role-playing-dimension shape), then the graph algorithms run on the
25-node edge list. That mirrors the 100 TB deployment: the expensive
part is the ONE aggregation that collapses billions of fact rows into
a bounded edge list; the iterations then run on edges, never on facts.

Iteration strategy (PageRank): a driver-side loop over DataFrame
joins - each pass is ranks JOIN edges -> groupBy(dst) - with the
classic caveats handled the way a cluster job would: the edge list is
persisted once (reused every pass), and lineage is cut per iteration
(``localCheckpoint``) so the plan does not grow exponentially with
iteration count. Dedup's connected components (plans/dedup.py q78)
uses the same pattern for label propagation.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from .common import degenerate_frame, shared_stage, t, transient_persist
from .registry import query

_DAMP = 0.85
_ITERS = 3

#: directed weighted edge list: supplier nation -> customer nation,
#: weight = discounted trade volume; self-loops dropped.
_EDGES_SQL = """
    edges AS (
      SELECT sn.n_name AS src, cn.n_name AS dst,
             SUM(l_extendedprice * (1 - l_discount)) AS w
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      -- self-loop test on the NAME, not the key: graph nodes ARE
      -- nation names (both engines group edges by name), so an edge
      -- between two keys sharing one name is a self-loop in the name
      -- graph. The Spark side always filtered src <> dst on names;
      -- on real data key<->name is 1:1 so the two were identical -
      -- the r12 constant-value census (pinned lineitem kept-set)
      -- made 25 keys share one name and exposed the divergence.
      WHERE sn.n_name <> cn.n_name
      GROUP BY 1, 2
    ),
    nodes AS (
      SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ),
    outw AS (SELECT src, SUM(w) AS total FROM edges GROUP BY src)
"""

#: one unrolled PageRank pass: r{k} from r{k-1}. The oracle unrolls
#: _ITERS of these (DuckDB has no loop construct; the unrolled CTE
#: chain IS the spec of the driver-side loop).
_PASS_SQL = """
    r{k} AS (
      SELECT n.node,
             (1 - 0.85) / (SELECT COUNT(*) FROM nodes)
             + 0.85 * COALESCE(SUM(p.pr * e.w / o.total), 0) AS pr
      FROM nodes n
      LEFT JOIN edges e ON e.dst = n.node
      LEFT JOIN r{prev} p ON p.node = e.src
      LEFT JOIN outw o ON o.src = e.src
      GROUP BY n.node
    )
"""


def _edges(spark, sf_dir):
    def build():
        li = t(spark, sf_dir, "lineitem")
        s = t(spark, sf_dir, "supplier")
        o = t(spark, sf_dir, "orders")
        c = t(spark, sf_dir, "customer")
        n = t(spark, sf_dir, "nation")
        sn = n.select(
            F.col("n_nationkey").alias("sn_key"),
            F.col("n_name").alias("src"),
        )
        cn = n.select(
            F.col("n_nationkey").alias("cn_key"),
            F.col("n_name").alias("dst"),
        )
        return (
            li.join(s, li.l_suppkey == s.s_suppkey)
            .join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
            .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
            .filter(F.col("src") != F.col("dst"))
            .groupBy("src", "dst")
            .agg(
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).alias("w")
            )
        )

    return shared_stage(spark, sf_dir, "trade_edges", build)


@query(
    "q177_pagerank",
    oracle="WITH "
    + _EDGES_SQL
    + ", r0 AS (SELECT node, 1.0 / (SELECT COUNT(*) FROM nodes) AS pr"
    "             FROM nodes),"
    + ",".join(
        _PASS_SQL.format(k=k, prev=k - 1) for k in range(1, _ITERS + 1)
    )
    + f"""
    SELECT node, ROUND(pr, 6) AS pagerank
    FROM r{_ITERS}
    """,
)
def q177_pagerank(spark, sf_dir):
    """PageRank (damping 0.85, 3 synchronous iterations, uniform init)
    over the nation trade graph - the iterative-fixed-point operator
    family, spec'd by the oracle as an unrolled CTE chain.

    Scale: facts collapse to the edge list ONCE (persisted via
    shared_stage); each iteration is edges JOIN ranks (a join on the
    rank side's key) + one aggregation on dst - cost proportional to
    |edges|, independent of the fact tables. ``localCheckpoint``
    truncates lineage each pass so plan size stays constant in the
    iteration count (without it, iteration k replans k copies of the
    whole upstream DAG). Dangling-mass redistribution is omitted on
    both sides alike (documented simplification; the oracle IS the
    spec)."""
    edges = _edges(spark, sf_dir)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        # degenerate corpus: no facts -> no edges -> the oracle's
        # nodes CTE is empty and every r{k} CTE with it; the uniform
        # init 1/n is undefined, so return the same 0-row frame
        # instead of dividing by zero at construction (VERDICT r11
        # item 3 - the last 1-row-census ledger entries).
        nodes.unpersist()
        return degenerate_frame(spark, "node string, pagerank double")
    outw = edges.groupBy("src").agg(F.sum("w").alias("total"))
    contrib_edges = F.broadcast(
        edges.join(outw, "src").select(
            "src", "dst", (F.col("w") / F.col("total")).alias("share")
        )
    )
    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("pr"))
    for _ in range(_ITERS):
        contribs = (
            contrib_edges.join(
                ranks, contrib_edges.src == ranks.node
            )
            .groupBy("dst")
            .agg(F.sum(F.col("pr") * F.col("share")).alias("mass"))
        )
        ranks = (
            nodes.join(contribs, nodes.node == contribs.dst, "left")
            .select(
                "node",
                (
                    F.lit((1 - _DAMP) / n_nodes)
                    + F.lit(_DAMP) * F.coalesce(F.col("mass"), F.lit(0.0))
                ).alias("pr"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.select("node", F.round("pr", 6).alias("pagerank"))


@query(
    "q178_triangle_count",
    oracle="WITH "
    + _EDGES_SQL
    + """
    , und AS (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM edges
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM und e1
    JOIN und e2 ON e2.a = e1.b
    JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    """,
)
def q178_triangle_count(spark, sf_dir):
    """Triangle counting on the undirected trade graph: canonicalize
    edges to (a < b), then the two-join edge-iterator pattern - e1
    (a,b), e2 (b,c), closing edge (a,c) - so each triangle is counted
    exactly once in its sorted orientation.

    Scale: the canonical a<b orientation IS the classic degree-style
    pruning trick's cheap cousin: every wedge is enumerated once, not
    six times. Cost is dominated by the wedge join (e1.b = e2.a); on a
    skewed graph the hub vertex's wedge count is the hot key, handled
    by AQE skew splitting, and the closing-edge join is a semi-join
    against the (broadcastable) edge list."""
    edges = _edges(spark, sf_dir)
    und = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
        .persist()
    )
    e1 = und.select(F.col("a").alias("a"), F.col("b").alias("b"))
    e2 = und.select(F.col("a").alias("b2"), F.col("b").alias("c"))
    e3 = und.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    wedges = e1.join(e2, e1.b == e2.b2)
    closed = wedges.join(
        e3, (wedges.a == e3.a3) & (wedges.c == e3.c3), "left_semi"
    )
    return closed.agg(F.count("*").alias("n_triangles"))


#: synthetic 4-ary part hierarchy: parent(p) = (p - 1) DIV 4 for p > 0
#: (deterministic, both engines derive it identically from p_partkey).


def _tree_depth(max_key: int) -> int:
    """Exact depth of the deepest node: walk parent() from the largest
    key to the root. Derived from the DATA, not hardcoded - a fixed
    constant silently under-accumulates deep subtrees the moment the
    part table outgrows it (4-ary keys > 21844 need depth 8+)."""
    d, k = 0, max(int(max_key), 0)
    while k > 0:
        k = (k - 1) // 4
        d += 1
    return d


@query(
    "q197_subtree_rollup",
    oracle="""
    WITH RECURSIVE nodes AS (
      SELECT p_partkey AS node, p_retailprice AS own FROM part
    ),
    pairs AS (
      SELECT node AS root, node FROM nodes
      UNION ALL
      SELECT p.root, n.node
      FROM pairs p
      JOIN nodes n ON n.node > 0 AND (n.node - 1) // 4 = p.node
    )
    SELECT p.root AS p_partkey,
           ROUND(SUM(n.own), 2) AS subtree_value,
           CAST(COUNT(*) AS BIGINT) AS subtree_size
    FROM pairs p JOIN nodes n ON n.node = p.node
    GROUP BY p.root
    """,
)
def q197_subtree_rollup(spark, sf_dir):
    """Recursive hierarchy rollup (bill-of-materials shape): every
    node's subtree total over a synthetic 4-ary part tree
    (parent = (key-1) DIV 4) - the recursive-CTE query family,
    computed in Spark as a bottom-up driver loop: sum_0 = own value;
    sum_{k+1}(p) = own(p) + SUM over children of sum_k(child). The
    iteration count is the tree's exact depth, derived from
    max(p_partkey) at plan time (one scalar job), so the rollup is
    correct at every scale factor.

    Scale: each pass is one equi-join (child -> parent key, derived
    arithmetically) + one aggregation - cost is O(depth x |edges|),
    the standard fixed-point translation of recursion; lineage is cut
    per pass like q177's PageRank loop. The oracle is the genuine
    WITH RECURSIVE transitive closure, so the hash match proves the
    loop == the recursion."""
    p = transient_persist(
        t(spark, sf_dir, "part").select(
            F.col("p_partkey").alias("node"),
            F.col("p_retailprice").alias("own"),
        )
    )
    totals = p.select(
        "node",
        F.col("own").alias("subtree_value"),
        F.lit(1).cast("long").alias("subtree_size"),
    )
    max_key = p.agg(F.max("node")).first()[0] or 0
    for _ in range(_tree_depth(max_key)):
        child_sums = (
            totals.filter(F.col("node") > 0)
            .select(
                F.expr("(node - 1) DIV 4").alias("parent"),
                "subtree_value",
                "subtree_size",
            )
            .groupBy("parent")
            .agg(
                F.sum("subtree_value").alias("cv"),
                F.sum("subtree_size").alias("cs"),
            )
        )
        totals = (
            p.join(child_sums, p.node == child_sums.parent, "left")
            .select(
                "node",
                # SQL-SUM null semantics through the fixed-point loop:
                # a NULL own value is SKIPPED (not propagated - bare
                # `own + cv` would NULL every ancestor of a partial
                # record, r13 partial-records census), and a subtree
                # with NO non-null values sums to NULL, exactly like
                # the oracle's SUM(n.own) over the closure.
                F.when(
                    F.col("own").isNull() & F.col("cv").isNull(),
                    F.lit(None).cast("double"),
                )
                .otherwise(
                    F.coalesce(F.col("own"), F.lit(0.0))
                    + F.coalesce(F.col("cv"), F.lit(0.0))
                )
                .alias("subtree_value"),
                (
                    F.lit(1).cast("long")
                    + F.coalesce(F.col("cs"), F.lit(0).cast("long"))
                ).alias("subtree_size"),
            )
            .localCheckpoint(eager=False)
        )
    return totals.select(
        F.col("node").alias("p_partkey"),
        F.round("subtree_value", 2).alias("subtree_value"),
        "subtree_size",
    )


# ---------------------------------------------------------------------------
# q274: NATIVE recursive CTE (Spark 4 WITH RECURSIVE)
# ---------------------------------------------------------------------------


@query(
    "q274_recursive_ancestors",
    oracle="""
    WITH RECURSIVE walk AS (
      SELECT p_partkey AS node, p_partkey AS cur,
             CAST(0 AS BIGINT) AS depth
      FROM part
      UNION ALL
      SELECT node, (cur - 1) // 4, depth + 1
      FROM walk WHERE (cur - 1) // 4 > 0
    )
    SELECT node AS p_partkey,
           CAST(cur AS BIGINT) AS root_key,
           depth
    FROM walk WHERE (cur - 1) // 4 = 0
    """,
)
def q274_recursive_ancestors(spark, sf_dir):
    """NATIVE ``WITH RECURSIVE`` (landed in Spark 4) walking every
    part up the synthetic 4-ary hierarchy (parent = (key-1) DIV 4) to
    its root, reporting (root_key, depth) per node - the
    org-chart/BOM ancestor resolution that q197 computes as an
    explicit driver loop, here expressed declaratively and executed
    by the engine's own recursion operator. Both engines run the
    SAME recursive SQL (dialect differs only in the integer-division
    spelling), so this pins Spark's recursion semantics - step
    union, termination on the empty increment - against an
    independent implementation.

    Scale: each recursion step is one equi-free map (the parent is
    computed arithmetically, no join needed) over the previous
    step's frontier; total work is O(depth x |nodes|) with depth =
    log4(max key) (~9 at 200k parts, ~16 at any conceivable key
    space). Spark's cteRecursionLevelLimit (default 100) sits far
    above that; an unbounded-depth hierarchy would hit the limit
    loudly rather than loop."""
    t(spark, sf_dir, "part").createOrReplaceTempView("q274_part")
    return spark.sql(
        """
        WITH RECURSIVE walk AS (
          SELECT p_partkey AS node, p_partkey AS cur,
                 CAST(0 AS BIGINT) AS depth
          FROM q274_part
          UNION ALL
          SELECT node, (cur - 1) DIV 4, depth + 1
          FROM walk WHERE (cur - 1) DIV 4 > 0
        )
        SELECT node AS p_partkey,
               CAST(cur AS BIGINT) AS root_key,
               depth
        FROM walk WHERE (cur - 1) DIV 4 = 0
        """
    )


# ---------------------------------------------------------------------------
# q379: HITS hubs/authorities on the user -> item click graph
# ---------------------------------------------------------------------------

_HITS_ROUNDS = 4
_HITS_TOPK = 10


def _hits_oracle() -> str:
    head = """
    WITH edges AS MATERIALIZED (
      SELECT DISTINCT user_id AS u,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS i
      FROM events WHERE event_type = 'click'
    ),
    h0 AS MATERIALIZED (
      SELECT DISTINCT u, CAST(1000000 AS BIGINT) AS h FROM edges
    )"""
    parts = [head]
    for r in range(1, _HITS_ROUNDS + 1):
        parts.append(
            f"""
    a{r}raw AS MATERIALIZED (
      SELECT e.i, CAST(SUM(h.h) AS BIGINT) AS a
      FROM edges e JOIN h{r - 1} h ON h.u = e.u GROUP BY e.i
    ),
    a{r} AS MATERIALIZED (
      SELECT i, (a * 1000000) // (SELECT MAX(a) FROM a{r}raw) AS a
      FROM a{r}raw
    ),
    h{r}raw AS MATERIALIZED (
      SELECT e.u, CAST(SUM(a.a) AS BIGINT) AS h
      FROM edges e JOIN a{r} a ON a.i = e.i GROUP BY e.u
    ),
    h{r} AS MATERIALIZED (
      SELECT u, (h * 1000000) // (SELECT MAX(h) FROM h{r}raw) AS h
      FROM h{r}raw
    )"""
        )
    r = _HITS_ROUNDS
    return (
        ",".join(parts)
        + f"""
    SELECT kind, node_id, score_micro, rank FROM (
      SELECT 'authority' AS kind, i AS node_id, a AS score_micro,
             CAST(ROW_NUMBER() OVER (ORDER BY a DESC, i) AS BIGINT) AS rank
      FROM a{r}
      UNION ALL
      SELECT 'hub', u, h,
             CAST(ROW_NUMBER() OVER (ORDER BY h DESC, u) AS BIGINT)
      FROM h{r}
    ) WHERE rank <= {_HITS_TOPK}
    """
    )


@query("q379_hits_hubs_authorities", oracle=_hits_oracle())
def q379_hits_hubs_authorities(spark, sf_dir):
    """HITS (Kleinberg 1999) on the bipartite user -> item click
    graph: 4 mutual-reinforcement rounds (authority =
    sum of pointing hubs, hub = sum of pointed authorities) with
    MAX-normalization each half-step, reporting the top-10
    of each side - the eigenvector companion to q177's PageRank
    (random-walk centrality) for "which items concentrate strong
    users' attention, and which users' attention is predictive".

    Exactness - INTEGER HITS: scores live in micro-units and each
    normalization is ``(x * 1e6) DIV max(x)`` - max-norm instead of
    the textbook L2 so the whole iteration stays bigint (no sqrt, no
    float drift across rounds; the fixed-point RANKING converges the
    same). Both engines run the identical integer recursion; ties
    break on node id.

    Scale: the edge list shuffles once per half-step keyed by the
    joining side (u then i) with map-side combine; score frames are
    bounded by |users| / |items|; the max is a 1-row broadcast. The
    driver holds nothing - rounds are chained lazy plans over the
    persisted edge frame with the per-round frames persisted to cut
    lineage (the q177 discipline)."""
    ev = t(spark, sf_dir, "events")
    edges = transient_persist(
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("u"),
            F.get_json_object("props", "$.k").cast("long").alias("i"),
        )
        .distinct()
    )
    h = edges.select("u").distinct().select(
        "u", F.lit(1_000_000).cast("long").alias("h")
    )
    a = None
    for _ in range(_HITS_ROUNDS):
        # localCheckpoint(eager) per half-step: the score frames are
        # |items|/|users|-bounded, and cutting lineage here keeps the
        # round-R plan from re-executing rounds 1..R-1 per consumer
        # (lazy chaining measured 65s; checkpointed ~5s).
        araw = (
            edges.join(h, "u")
            .groupBy("i")
            .agg(F.sum("h").cast("long").alias("a"))
        )
        amax = araw.agg(F.max("a").alias("amax"))
        a = (
            araw.crossJoin(F.broadcast(amax))
            .select("i", F.expr("(a * 1000000) DIV amax").alias("a"))
            .localCheckpoint(eager=True)
        )
        hraw = (
            edges.join(a, "i")
            .groupBy("u")
            .agg(F.sum("a").cast("long").alias("h"))
        )
        hmax = hraw.agg(F.max("h").alias("hmax"))
        h = (
            hraw.crossJoin(F.broadcast(hmax))
            .select("u", F.expr("(h * 1000000) DIV hmax").alias("h"))
            .localCheckpoint(eager=True)
        )
    wa = Window.orderBy(F.col("a").desc(), "i")
    wh = Window.orderBy(F.col("h").desc(), "u")
    auth = a.select(
        F.lit("authority").alias("kind"),
        F.col("i").alias("node_id"),
        F.col("a").alias("score_micro"),
        F.row_number().over(wa).cast("long").alias("rank"),
    ).filter(F.col("rank") <= _HITS_TOPK)
    hubs = h.select(
        F.lit("hub").alias("kind"),
        F.col("u").alias("node_id"),
        F.col("h").alias("score_micro"),
        F.row_number().over(wh).cast("long").alias("rank"),
    ).filter(F.col("rank") <= _HITS_TOPK)
    return auth.unionByName(hubs)


# ---------------------------------------------------------------------------
# q383: degree assortativity of the kNN graph
# ---------------------------------------------------------------------------


@query(
    "q383_degree_assortativity",
    oracle="""
    WITH edges AS MATERIALIZED (
      SELECT DISTINCT user_id AS u,
             CAST(json_extract_string(props, '$.k') AS BIGINT) + 1000000
               AS v
      FROM events WHERE event_type = 'click'
    ),
    und AS MATERIALIZED (
      SELECT u, v FROM edges
    ),
    deg AS MATERIALIZED (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d
      FROM (SELECT u AS node FROM und UNION ALL SELECT v FROM und)
      GROUP BY node
    ),
    samples AS (
      SELECT da.d AS x, db.d AS y
      FROM und JOIN deg da ON da.node = und.u
               JOIN deg db ON db.node = und.v
      UNION ALL
      SELECT db.d, da.d
      FROM und JOIN deg da ON da.node = und.u
               JOIN deg db ON db.node = und.v
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM samples
    )
    SELECT n AS n_edge_ends, sx AS degree_sum,
           ROUND(CAST(n * sxy - sx * sx AS DOUBLE)
                 / (n * sxx - sx * sx), 6) AS assortativity
    FROM m
    """,
)
def q383_degree_assortativity(spark, sf_dir):
    """DEGREE ASSORTATIVITY (Newman 2002) of the bipartite user-item
    click graph: the Pearson correlation of endpoint degrees over all
    edges - negative (disassortative) means heavy users spread over
    niche items and hubs avoid hubs (the usual bipartite/web shape),
    positive means a rich-club core. The one-number structural
    summary that decides whether degree-targeted sampling or
    hub-capping (the q43 hot-bucket discipline's graph cousin) will
    change anything. Item ids are offset by 1e6 so the two node
    namespaces cannot collide.

    Exactness: each undirected edge contributes BOTH orderings, which
    makes the x and y marginals identical, collapsing Pearson to
    (n*Sxy - Sx^2) / (n*Sxx - Sx^2) - every moment an exact bigint;
    ONE rounded division at the end.

    Scale: degrees are one groupBy over the edge list; the sample
    relation is two degree joins keyed by node; moments fold in one
    aggregate. Edge-linear throughout."""
    ev = t(spark, sf_dir, "events")
    und = transient_persist(
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("u"),
            (
                F.get_json_object("props", "$.k").cast("long") + 1_000_000
            ).alias("v"),
        )
        .distinct()
    )
    deg = transient_persist(
        # persisted: both endpoint joins broadcast THIS frame; without
        # the persist each broadcast build recomputed the union +
        # groupBy from scratch (optimization r14, guide section 2.4).
        und.select(F.col("u").alias("node"))
        .union(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("d"))
    )
    da = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    db = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    joined = und.join(da, "u").join(db, "v")
    # both orderings folded into symmetric moment algebra over ONE
    # pass of the joined edge list (optimization r14, guide section
    # 2.4): the old unionAll(joined, joined-swapped) executed the
    # two-join subtree twice. n = 2|E|, Sx = sum(du+dv),
    # Sxx = sum(du^2+dv^2), Sxy = 2*sum(du*dv) - identical exact
    # bigints by commutativity of integer addition.
    return joined.agg(
        (F.count("*") * 2).cast("long").alias("n"),
        F.sum(F.col("du") + F.col("dv")).cast("long").alias("sx"),
        F.sum(
            F.col("du") * F.col("du") + F.col("dv") * F.col("dv")
        )
        .cast("long")
        .alias("sxx"),
        (F.sum(F.col("du") * F.col("dv")) * 2).cast("long").alias("sxy"),
    ).select(
        F.col("n").alias("n_edge_ends"),
        F.col("sx").alias("degree_sum"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sx")).cast(
                "double"
            )
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")),
            6,
        ).alias("assortativity"),
    )
