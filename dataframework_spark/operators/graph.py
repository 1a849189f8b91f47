"""Graph analytics on DataFrames: weighted PageRank over the nation trade
graph (SURVEY.md §2.10 extension family; the cluster-resolution /
connected-components sibling lives in ``operators/dedup.py``).

No reference counterpart (Alrash/DataFramework has no joins at all —
SURVEY.md §2.3); this demonstrates the iterative-algorithm pattern the
north star needs beyond one-shot relational plans: synchronous rounds
of join + aggregate (sparse matrix-vector products, votes, peels), each
driven by :func:`~dataframework_spark.functions.iterate.fixpoint`.

Scale design (100 TB): the expensive part is EDGE AGGREGATION — the
four-way fact join that collapses lineitem-scale data down to a
|nations|² ≤ 625-row weighted adjacency.  Everything iterative happens
AFTER that collapse, on broadcast-sized tables, so iteration count never
multiplies big-data shuffles.  The same shape holds for any entity graph:
aggregate edges first, iterate on the contracted graph.  (For graphs
whose contracted form is still huge, each iteration is one
shuffle-on-dst join — PageRank's classic Pregel shape — and the loops
below work unchanged; only the broadcast hints go.)  Every builder starts
from the same fact contraction, :func:`_trade_revenue`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dataframework_spark.catalog import load_table
from dataframework_spark.functions.iterate import fixpoint
from dataframework_spark.registry import register

_N = 25  # |nation| — fixed-size TPC-H dimension at every scale factor
_DAMP = 0.85
_ITERS = 3


def _trade_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fact contraction every graph builder starts from: lineitem ⋈
    orders ⋈ broadcast(customer) ⋈ broadcast(supplier), one row per line
    with its buyer nation ``c_nationkey``, seller nation ``s_nationkey``
    and revenue ``rev``.  Callers group it into their edge list."""
    li = load_table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"])
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderkey", "o_custkey"])
    cust = load_table(spark, sf_dir, "customer", columns=["c_custkey", "c_nationkey"])
    supp = load_table(spark, sf_dir, "supplier", columns=["s_suppkey", "s_nationkey"])
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .select("c_nationkey", "s_nationkey", rev.alias("rev"))
    )


def _threshold_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The undirected cross-nation trade graph ``(a, b)``, ``a < b``, kept
    where the pair's revenue exceeds the mean pair revenue (non-complete at
    every scale factor); tiny, and checkpointed for callers that reread it."""
    raw = (
        _trade_revenue(spark, sf_dir)
        .where(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.least("c_nationkey", "s_nationkey").alias("a"),
            F.greatest("c_nationkey", "s_nationkey").alias("b"),
        )
        # Round w (and the mean below) to 2dp before the threshold compare:
        # Spark's partial-aggregation order is nondeterministic, so an edge
        # within float noise of the mean could otherwise flip cross-engine.
        .agg(F.round(F.sum("rev"), 2).alias("w"))
    )
    raw = raw.cache()  # consumed twice: threshold + edge list (≤300 rows)
    mean_w = raw.agg(F.round(F.avg("w"), 2).alias("mean_w"))
    e = raw.crossJoin(F.broadcast(mean_w)).where(F.col("w") > F.col("mean_w"))
    return e.select("a", "b").localCheckpoint()


# One PageRank step as a DuckDB CTE pair: contribution join + dangling mass.
_DUCK_STEP = """
    {next} AS (
      SELECT n.n_nationkey AS node,
             ROUND(0.15 / {N} + {damp} * (
               COALESCE((SELECT SUM(e.w_norm * r.r) FROM e
                         JOIN {prev} r ON r.node = e.src WHERE e.dst = n.n_nationkey), 0)
               + (SELECT COALESCE(SUM(r.r), 0) FROM {prev} r
                  WHERE r.node NOT IN (SELECT DISTINCT src FROM e)) / {N}), 10) AS r
      FROM nation n)
"""


def _duck_oracle() -> str:
    steps = ",\n".join(
        _DUCK_STEP.format(next=f"r{i + 1}", prev=f"r{i}", N=_N, damp=_DAMP)
        for i in range(_ITERS)
    )
    return f"""
    WITH raw AS (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
             SUM(l.l_extendedprice * (1 - l.l_discount)) AS w
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey  = c.c_custkey
      JOIN supplier s ON l.l_suppkey  = s.s_suppkey
      GROUP BY 1, 2),
    e AS (
      SELECT src, dst, w / SUM(w) OVER (PARTITION BY src) AS w_norm FROM raw),
    r0 AS (SELECT n_nationkey AS node, 1.0 / {_N} AS r FROM nation),
    {steps}
    SELECT node, ROUND(r, 6) AS pagerank FROM r{_ITERS}
    """


def _pagerank_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The directed trade graph ``(src, dst, w_norm)``: customer-nation →
    supplier-nation revenue, normalised over each source's out-edges by a
    window over the ≤625-row adjacency.  Cached: every round reads it."""
    raw = (
        _trade_revenue(spark, sf_dir)
        .groupBy(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
        .agg(F.sum("rev").alias("w"))
    )
    w_norm = F.col("w") / F.sum("w").over(Window.partitionBy("src"))
    return raw.select("src", "dst", w_norm.alias("w_norm")).cache()


def _pagerank_step(e: DataFrame, r: DataFrame) -> DataFrame:
    """One synchronous PageRank round: the rank ``r`` (node, r) of every
    node pushed along ``e``, plus the dangling mass spread uniformly.
    Every join broadcasts its ≤25-row side; rounded at 10 dp so chained
    float folds cannot drift across engines."""
    contrib = (
        e.join(F.broadcast(r.withColumnRenamed("node", "src_node")), F.col("src") == F.col("src_node"))
        .groupBy("dst")
        .agg(F.sum(F.col("w_norm") * F.col("r")).alias("c"))
    )
    dang = (
        r.join(e.select(F.col("src").alias("node")).distinct(), "node", "left_anti")
        .agg(F.coalesce(F.sum("r"), F.lit(0.0)).alias("dang"))
    )
    return (
        r.join(F.broadcast(contrib), r.node == contrib.dst, "left")
        .crossJoin(F.broadcast(dang))
        .select(
            "node",
            F.round(
                0.15 / _N
                + _DAMP * (F.coalesce(F.col("c"), F.lit(0.0)) + F.col("dang") / _N),
                10,
            ).alias("r"),
        )
    )


@register("graph_pagerank_nations", eager=True, oracle=_duck_oracle())
def graph_pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (damping 0.85, 3 iterations, dangling mass
    redistributed uniformly) over the directed trade graph whose edges are
    customer-nation → supplier-nation revenue flows — "which nations'
    suppliers attract the trade network's money" — the influence-ranking
    primitive behind seller/domain authority scores.

    Plan: one lineitem-scale join pipeline (dimensions broadcast) collapses
    the facts to a ≤625-row adjacency; out-edge normalization is a window
    over that tiny table; each iteration (:func:`_pagerank_step`) is then a
    broadcast join + 25-row aggregate.  Intermediate ranks round at 10 dp
    (final at 6).  :func:`fixpoint` runs exactly ``_ITERS`` rounds with no
    halt test — ranks never reach an exact fixpoint — and checkpoints each
    round's rank vector, which the next round reads twice."""
    e = _pagerank_edges(spark, sf_dir)
    nation = load_table(spark, sf_dir, "nation", columns=["n_nationkey"])
    r0 = nation.select(F.col("n_nationkey").alias("node"), (F.lit(1.0) / _N).alias("r"))
    r = fixpoint(r0, lambda r: _pagerank_step(e, r), _ITERS)
    return r.select("node", F.round("r", 6).alias("pagerank"))


_TRIANGLE_ORACLE = """
WITH raw AS (
  SELECT LEAST(c.c_nationkey, s.s_nationkey)    AS a,
         GREATEST(c.c_nationkey, s.s_nationkey) AS b,
         ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS w
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey  = c.c_custkey
  JOIN supplier s ON l.l_suppkey  = s.s_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
  GROUP BY 1, 2),
e AS (SELECT a, b FROM raw WHERE w > (SELECT ROUND(AVG(w), 2) FROM raw)),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
node_tri AS (
  SELECT node, COUNT(*) AS n_tri
  FROM (SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri)
  GROUP BY node),
deg AS (
  SELECT node, COUNT(*) AS degree
  FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
  GROUP BY node)
SELECT d.node,
       d.degree,
       CAST(COALESCE(n.n_tri, 0) AS BIGINT) AS n_triangles,
       ROUND(CASE WHEN d.degree >= 2
                  THEN COALESCE(n.n_tri, 0) * 2.0 / (d.degree * (d.degree - 1))
                  ELSE 0.0 END, 6) AS clustering
FROM deg d LEFT JOIN node_tri n ON n.node = d.node
"""


@register("graph_triangle_count", eager=True, oracle=_TRIANGLE_ORACLE)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle count + local clustering coefficient over the
    undirected nation trade graph (:func:`_threshold_edges`).  Triangle
    density is the community-structure primitive behind spam-graph
    detection and dedup-cluster audits.

    Scale design (100 TB): identical contraction shape to
    ``graph_pagerank_nations`` above — ONE lineitem-scale join pipeline
    (dimensions broadcast) collapses the facts to a ≤300-row weighted
    adjacency; the cubic part (the triangle enumeration's two self-joins)
    runs entirely on that contracted, broadcast-sized edge list, so its
    cost is independent of fact-table size.  For entity graphs whose
    contracted form is still large, the same enumeration holds with the
    standard degree-orientation bound (orient each edge low→high degree,
    join out-edges only: work = Σ out-deg² ≤ m·√m) — the threshold filter
    here plays that sparsifier role.  No reference counterpart
    (Alrash/DataFramework has no joins — SURVEY.md §2.3)."""
    e = _threshold_edges(spark, sf_dir)  # read 5× below

    # Triangle enumeration a<b<c: wedge join then closing-edge join.  Both
    # sides are the contracted edge list, so broadcast keeps it shuffle-free.
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y2"), F.col("b").alias("z"))
    e3 = e.select(F.col("a").alias("x3"), F.col("b").alias("z3"))
    tri = (
        e1.join(F.broadcast(e2), F.col("y") == F.col("y2"))
        .join(
            F.broadcast(e3),
            (F.col("x") == F.col("x3")) & (F.col("z") == F.col("z3")),
        )
        .select("x", "y", "z")
    )
    node_tri = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        deg.join(F.broadcast(node_tri), "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("bigint").alias("n_triangles"),
            F.round(
                F.when(
                    F.col("degree") >= 2,
                    F.coalesce(F.col("n_tri"), F.lit(0))
                    * 2.0
                    / (F.col("degree") * (F.col("degree") - 1)),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("clustering"),
        )
    )


# ---------------------------------------------------------------------------
# Label propagation communities — planted-partition recovery benchmark
# ---------------------------------------------------------------------------

_LPA_ITERS = 3
_LPA_TOPK = 3           # keep each node's 3 strongest neighbors
_LPA_GROUPS = 5         # planted partition: node % 5
_LPA_BONUS = 10_000_000_000  # same-group bonus (cents) — dominates any trade edge

_LPA_EDGES_DUCK = f"""
    raw AS (
      SELECT c.c_nationkey AS a, s.s_nationkey AS b,
             CAST(ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) * 100
                  AS BIGINT) AS wc
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey  = c.c_custkey
      JOIN supplier s ON l.l_suppkey  = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
      GROUP BY 1, 2),
    sym AS (
      SELECT a AS src, b AS dst,
             SUM(wc) + CASE WHEN a % {_LPA_GROUPS} = b % {_LPA_GROUPS}
                            THEN {_LPA_BONUS} ELSE 0 END AS wc
      FROM (
        SELECT a, b, wc FROM raw
        UNION ALL
        SELECT b AS a, a AS b, wc FROM raw) u
      GROUP BY 1, 2),
    e AS (
      SELECT src, dst, wc FROM (
        SELECT src, dst, wc,
               ROW_NUMBER() OVER (PARTITION BY src
                                  ORDER BY wc DESC, dst) AS rk
        FROM sym) t
      WHERE rk <= {_LPA_TOPK})
"""

_LPA_STEP_DUCK = """
    {nxt} AS (
      SELECT cur.node,
             COALESCE(
               (SELECT t.lab FROM (
                  SELECT l2.lab AS lab, SUM(e.wc) AS s
                  FROM e JOIN {prev} l2 ON l2.node = e.dst
                  WHERE e.src = cur.node
                  GROUP BY l2.lab
                  ORDER BY s DESC, lab
                  LIMIT 1) t),
               cur.lab) AS lab
      FROM {prev} cur)
"""


def _lpa_oracle() -> str:
    steps = ",\n".join(
        _LPA_STEP_DUCK.format(nxt=f"l{i + 1}", prev=f"l{i}")
        for i in range(_LPA_ITERS)
    )
    return f"""
    WITH {_LPA_EDGES_DUCK},
    l0 AS (SELECT n_nationkey AS node, n_nationkey AS lab FROM nation),
    {steps}
    SELECT f.node,
           CAST(f.lab AS BIGINT) AS community,
           CAST(COUNT(*) OVER (PARTITION BY f.lab) AS BIGINT) AS community_size,
           CAST(f.node % {_LPA_GROUPS} AS BIGINT) AS planted_group,
           (COUNT(DISTINCT f.node % {_LPA_GROUPS}) OVER (PARTITION BY f.lab) = 1)
             AS community_pure
    FROM l{_LPA_ITERS} f
    """


@register("graph_label_propagation", eager=True, oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation, verified as
    a PLANTED-PARTITION recovery benchmark: the nation trade graph's
    real revenue weights (integer cents — the ``graph_triangle_count``
    rounding lesson) are overlaid with a dominant same-group bonus
    (node % 5 — the planted truth), the graph is sparsified to each
    node's 3 strongest neighbors, and 3 synchronous LPA rounds (vote =
    weighted neighbor-label sum, ties to the smallest label) must
    recover the partition — the unplanted graph is measured-structureless
    (every variant collapses to one hub community, the honest reading of
    a uniform generator), so recovery of planted structure is the only
    falsifiable test of the ALGORITHM.  ``community_pure`` bills per
    node whether its community contains exactly one planted group.

    Plan: contract-then-iterate (the graph family's shape) — one
    lineitem-scale join pipeline collapses facts to a ≤75-edge kNN
    list; each LPA round is a broadcast join + 25-row argmax.
    :func:`fixpoint` checkpoints every round and stops early at the
    first round that moves no label (later rounds would be the
    identity), capped at ``_LPA_ITERS`` as the oracle's unrolled chain
    is.  At 100 TB the contraction is the whole cost; LPA never touches
    fact data."""
    nation = load_table(spark, sf_dir, "nation", columns=["n_nationkey"])
    raw = (
        _trade_revenue(spark, sf_dir)
        .where(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(F.col("c_nationkey").alias("a"), F.col("s_nationkey").alias("b"))
        .agg((F.round(F.sum("rev"), 2) * 100).cast("bigint").alias("wc"))
    )
    bonus = F.when(
        F.col("a") % _LPA_GROUPS == F.col("b") % _LPA_GROUPS, F.lit(_LPA_BONUS)
    ).otherwise(F.lit(0))
    sym = (
        raw.select("a", "b", "wc")
        .unionAll(raw.select(F.col("b").alias("a"), F.col("a").alias("b"), "wc"))
        .groupBy("a", "b")
        .agg((F.sum("wc") + F.first(bonus)).alias("wc"))
        .select(F.col("a").alias("src"), F.col("b").alias("dst"), "wc")
    )
    rk = F.row_number().over(Window.partitionBy("src").orderBy(F.col("wc").desc(), "dst"))
    e = sym.withColumn("rk", rk).where(F.col("rk") <= _LPA_TOPK).drop("rk")
    e = e.cache()

    def vote(labels: DataFrame) -> DataFrame:
        votes = (
            e.join(
                F.broadcast(labels.select(F.col("node").alias("dst_node"), F.col("lab").alias("nlab"))),
                F.col("dst") == F.col("dst_node"),
            )
            .groupBy(F.col("src").alias("vnode"), F.col("nlab"))
            .agg(F.sum("wc").alias("s"))
        )
        win = Window.partitionBy("vnode").orderBy(F.col("s").desc(), F.col("nlab"))
        best = votes.withColumn("vr", F.row_number().over(win)).where(F.col("vr") == 1)
        return labels.join(
            F.broadcast(best.select("vnode", "nlab")), labels.node == F.col("vnode"), "left"
        ).select("node", F.coalesce("nlab", "lab").alias("lab"), F.col("lab").alias("prev"))

    labels0 = nation.select(F.col("n_nationkey").alias("node"), F.col("n_nationkey").alias("lab"))
    labels = fixpoint(labels0, vote, _LPA_ITERS, changed=F.col("lab") != F.col("prev"))
    cw = Window.partitionBy("lab")
    return labels.select(
        "node",
        F.col("lab").cast("bigint").alias("community"),
        F.count(F.lit(1)).over(cw).cast("bigint").alias("community_size"),
        (F.col("node") % _LPA_GROUPS).cast("bigint").alias("planted_group"),
        (F.size(F.collect_set(F.col("node") % _LPA_GROUPS).over(cw)) == 1).alias(
            "community_pure"
        ),
    )


# ---------------------------------------------------------------------------
# k-core decomposition — iterative peeling on the contracted trade graph
# (the degeneracy structure LPA/triangles don't expose: how deep does a
# node sit in the mutually-dense region?)
# ---------------------------------------------------------------------------

_KC_MAX = 6     # coreness capped here (graph has <= 24 degrees anyway)
_KC_ROUNDS = 4  # peel-round cap per k; the oracle unrolls this many

_KC_EDGES = """
WITH raw AS MATERIALIZED (
  SELECT LEAST(c.c_nationkey, s.s_nationkey)    AS a,
         GREATEST(c.c_nationkey, s.s_nationkey) AS b,
         ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS w
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey  = c.c_custkey
  JOIN supplier s ON l.l_suppkey  = s.s_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
  GROUP BY 1, 2),
e AS MATERIALIZED (SELECT a, b FROM raw WHERE w > (SELECT ROUND(AVG(w), 2) FROM raw)),
deg AS MATERIALIZED (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
  FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
  GROUP BY node)"""


def _kcore_oracle() -> str:
    ctes = []
    for k in range(2, _KC_MAX + 1):
        ctes.append(f"a{k}_0 AS MATERIALIZED (SELECT node FROM deg)")
        for t in range(_KC_ROUNDS):
            ctes.append(
                f"""a{k}_{t + 1} AS MATERIALIZED (
      SELECT n.node FROM a{k}_{t} n
      WHERE (SELECT COUNT(*) FROM e
             WHERE (e.a = n.node AND e.b IN (SELECT node FROM a{k}_{t}))
                OR (e.b = n.node AND e.a IN (SELECT node FROM a{k}_{t})))
            >= {k})"""
            )
    final_cases = ", ".join(
        f"CASE WHEN d.node IN (SELECT node FROM a{k}_{_KC_ROUNDS}) "
        f"THEN {k} ELSE 0 END"
        for k in range(2, _KC_MAX + 1)
    )
    return (
        _KC_EDGES
        + ",\n"
        + ",\n".join(ctes)
        + f"""
    SELECT d.node, d.degree,
           CAST(GREATEST(1, {final_cases}) AS BIGINT) AS coreness
    FROM deg d
    """
    )


@register("graph_kcore", eager=True, oracle=_kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition of the thresholded nation trade graph: each
    node's coreness (capped at {_KC_MAX}) — the largest k such that the
    node survives repeatedly deleting all nodes of degree < k.  Coreness
    is the standard "how deep in the dense region" measure behind
    community cores, spam-ring peeling, and graph-degeneracy orderings —
    the structure triangles (local) and label propagation (partition)
    don't expose.  Peeling for each k in 2..{_KC_MAX} runs :func:`fixpoint`
    rounds over every node with an ``alive`` flag until a round drops no
    node (the identity), capped at {_KC_ROUNDS} rounds as the oracle's
    unrolled CTE chain is (the LPA/BPE discipline); a test checks the cap
    against exact uncapped peeling.

    Scale design (100 TB): the contract-then-iterate shape of the whole
    graph family — ONE broadcast-dimension fact join collapses lineitem
    to the ≤300-row weighted adjacency, and every peel round is a
    semi-join + degree count on that contracted, localCheckpoint'ed edge
    list (cost independent of fact size).  For entity graphs whose
    contracted form is still large, each round is the same semi-join
    keyed on node — the classic distributed peeling sweep — and the
    round count is bounded by the degeneracy, not |V|."""
    e = _threshold_edges(spark, sf_dir)  # read in every peel round
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
        .localCheckpoint()
    )

    def peel(s: DataFrame, k: int) -> DataFrame:
        # One synchronous round: every alive node counts its alive
        # neighbours and drops out below k; ``dropped`` marks this round's.
        live = s.where("alive").select("node")
        ealive = e.join(F.broadcast(live.withColumnRenamed("node", "a")), "a", "leftsemi").join(
            F.broadcast(live.withColumnRenamed("node", "b")), "b", "leftsemi"
        )
        ends = ealive.select(F.col("a").alias("node")).unionAll(ealive.select(F.col("b").alias("node")))
        d = (
            s.select("node", F.lit(0).alias("d"), "alive")
            .unionByName(ends.select("node", F.lit(1).alias("d")), allowMissingColumns=True)
            .groupBy("node")
            .agg(F.sum("d").alias("d"), F.max("alive").alias("was"))
        )
        was, keep = F.col("was"), F.col("d") >= k
        return d.select("node", (was & keep).alias("alive"), (was & ~keep).alias("dropped"))

    marks = deg.select("node", F.lit(1).alias("kk"))
    for k in range(2, _KC_MAX + 1):
        everyone = deg.select("node", F.lit(True).alias("alive"))
        peeled = fixpoint(everyone, lambda s: peel(s, k), _KC_ROUNDS, changed=F.col("dropped"))
        marks = marks.unionAll(peeled.where("alive").select("node", F.lit(k).alias("kk")))
    cor = marks.groupBy("node").agg(F.max("kk").cast("bigint").alias("coreness"))
    return deg.join(F.broadcast(cor), "node").select("node", "degree", "coreness")


# ---------------------------------------------------------------------------
# Link prediction — common-neighbors / Jaccard / Adamic-Adar / preferential
# attachment on the contracted trade graph (the classic unsupervised
# link-prediction scores; completes the graph family: pagerank = global
# importance, triangles = local density, LPA = partition, k-core = depth,
# THIS = where the missing edges are)
# ---------------------------------------------------------------------------

_LP_SCALE = 1_000_000_000  # Adamic-Adar summed in integer nano-units


@register(
    "graph_link_prediction",
    eager=True,
    oracle=_KC_EDGES
    + f""",
    und AS MATERIALIZED (
      SELECT a AS x, b AS n FROM e UNION ALL SELECT b AS x, a AS n FROM e),
    cn AS (
      SELECT u1.x AS a, u2.x AS b,
             CAST(COUNT(*) AS BIGINT) AS common_neighbors,
             SUM(CAST(ROUND({_LP_SCALE} / LN(d.degree), 0) AS BIGINT)) AS aa_nano
      FROM und u1
      JOIN und u2 ON u1.n = u2.n AND u1.x < u2.x
      JOIN deg d ON d.node = u1.n
      GROUP BY 1, 2),
    nonedge AS (
      SELECT cn.* FROM cn
      WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = cn.a AND e.b = cn.b))
    SELECT ne.a, ne.b, ne.common_neighbors,
           CAST(da.degree * db.degree AS BIGINT) AS preferential_attachment,
           ROUND(ne.common_neighbors * 1.0
                 / (da.degree + db.degree - ne.common_neighbors), 6) AS jaccard,
           ROUND(ne.aa_nano / {_LP_SCALE}.0, 6) AS adamic_adar
    FROM nonedge ne
    JOIN deg da ON da.node = ne.a
    JOIN deg db ON db.node = ne.b
    """,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unsupervised link prediction on the thresholded nation trade
    graph: for every NON-adjacent node pair sharing at least one
    neighbor, the four classic scores — common-neighbor count, Jaccard
    of neighborhoods, Adamic-Adar (rare shared neighbors weigh more,
    1/ln(deg)), and preferential attachment (deg x deg).  These are the
    recommender/graph-completion baselines (Liben-Nowell & Kleinberg
    2007) and the feature set entity-resolution pipelines feed a ranker.

    Adamic-Adar is an order-dependent float sum in its textbook form;
    here each 1/ln(degree) contribution is scaled to INTEGER nano-units
    and rounded BEFORE the sum (the LPA integer-cents discipline), so
    the cross-engine aggregate is exact regardless of partial-agg order.
    A shared neighbor always has degree >= 2 (it touches both endpoints)
    so ln(degree) is never 0.

    Scale design (100 TB): same contract-then-enumerate shape as the
    rest of the family — facts collapse to the <=300-row edge list once,
    the wedge join (common-neighbor enumeration) runs on the broadcast
    contracted graph.  On entity graphs whose contracted form is still
    large, the wedge join keyed on the shared neighbor IS the standard
    distributed form, with the same degree-orientation bound as the
    triangle op; the threshold filter plays the sparsifier."""
    e = _threshold_edges(spark, sf_dir)  # read by und, deg, and the anti-join
    und = e.select(F.col("a").alias("x"), F.col("b").alias("n")).unionAll(
        e.select(F.col("b").alias("x"), F.col("a").alias("n"))
    )
    deg = und.groupBy("n").agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    aa_contrib = F.round(F.lit(_LP_SCALE) / F.log(F.col("degree")), 0).cast("bigint")
    u1 = und.select(F.col("x").alias("pa"), "n")
    u2 = und.select(F.col("x").alias("pb"), F.col("n").alias("n2"))
    cn = (
        u1.join(F.broadcast(u2), (F.col("n") == F.col("n2")) & (F.col("pa") < F.col("pb")))
        .join(F.broadcast(deg), "n")
        .groupBy(F.col("pa").alias("a"), F.col("pb").alias("b"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("common_neighbors"),
            F.sum(aa_contrib).alias("aa_nano"),
        )
    )
    nonedge = cn.join(F.broadcast(e), ["a", "b"], "left_anti")
    da = deg.select(F.col("n").alias("a"), F.col("degree").alias("deg_a"))
    db = deg.select(F.col("n").alias("b"), F.col("degree").alias("deg_b"))
    return (
        nonedge.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            "a",
            "b",
            "common_neighbors",
            (F.col("deg_a") * F.col("deg_b")).cast("bigint").alias("preferential_attachment"),
            F.round(
                F.col("common_neighbors")
                / (F.col("deg_a") + F.col("deg_b") - F.col("common_neighbors")),
                6,
            ).alias("jaccard"),
            F.round(F.col("aa_nano") / F.lit(float(_LP_SCALE)), 6).alias("adamic_adar"),
        )
    )
