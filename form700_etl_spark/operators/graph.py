"""Graph operator library: the one copy of what the graph queries share.

The eleven ``graph_*`` queries in ``queries/scale.py`` are thin callers
of these.  An adjacency is the symmetric ``(w, nbr)`` edge list (one row
per direction), a degree table is ``(w, d)``.

Shared edge tables, each computed once per session and fixture
directory (``io.session_cached`` over one ``io.materialize``, so every
consumer's plan starts at a ``Scan ExistingRDD`` leaf):

- ``co_pairs``: DISTINCT (u < v) part co-purchase pairs (triangle, BFS,
  Adamic-Adar, Jaccard).
- ``stable_co``: the pairs co-purchased in >= 2 distinct orders, kept
  as their adjacency (k-core, local clustering, LPA, modularity).
- ``purchases``: DISTINCT (c, s) customer -> supplier purchase edges
  (PageRank, personalized PageRank, HITS).

The two co-purchase tables share one per-order pair explode,
``_order_pairs``.

The shapes the queries share:

- ``adjacency``: (u, v) pairs -> both directions as (w, nbr).
- ``degrees``: adjacency -> (w, d).
- ``capped_wedges``: the hub-capped wedge self-join of the link
  predictors.
- ``bipartite`` / ``top_ranked``: the purchase graph in one node space
  (customer c is node 2c, supplier s node 2s + 1) and the top-20 of its
  node ranks, decoded back to (node_type, key, rank_micro).

Oracle SQL, one copy each: ``CO_SQL`` / ``ADJ_SQL`` / ``DEG_SQL`` (the
co-purchase graph), ``STABLE_CO_SQL``, ``PURCHASE_SQL`` and
``top_ranked_sql`` (the bipartite PageRank graph and its top-20), and
``components_sql`` (the recursive-reachability components chain of the
dedup, split and cluster oracles).

Constant: ``MAX_CENTER_DEGREE`` = 64 the wedge-center degree cap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..io import materialize, session_cached, table

# Link prediction caps wedge centers at this degree (standard practice:
# a center of degree d contributes 1/ln(d) ~ 0 when d is large but costs
# d^2 wedges to enumerate, so the cap removes the quadratic hub blowup
# while discarding near-zero signal).  64 sits just above the co-purchase
# graph's minimum degree (38-42, SF-stable since basket sizes don't grow
# with SF), keeping the informative low-degree centers while excluding
# the 115-220-degree bulk; measured at sf0.01 -> sf0.1 the wedge count
# grows 13k -> 252k (~linear in edges).  Mirrored verbatim in the
# oracles.
MAX_CENTER_DEGREE = 64


def _order_pairs(spark, sf_dir) -> DataFrame:
    """(u < v) part pairs, one row per order that bought both.  Per-order
    sorted part arrays -> ONE shuffle of the fact table (groupBy
    orderkey) instead of a self-join's two, pairs emitted by an array
    transform inside codegen (measured 1.4x faster than the
    equi-self-join at sf0.1).  Order baskets are small (<= ~7 parts), so
    the per-row quadratic transform is constant-bounded."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .select(F.explode(F.expr(
            "flatten(transform(ps, (x, i) ->"
            " transform(slice(ps, i+2, size(ps)), y -> struct(x AS u, y AS v))))"
        )).alias("p"))
        .select("p.u", "p.v")
    )


def co_pairs(spark, sf_dir) -> DataFrame:
    """DISTINCT (u < v) part co-purchase pairs, once per session."""
    return session_cached(spark, ("co_pairs", sf_dir), lambda: materialize(
        _order_pairs(spark, sf_dir).distinct(),
        "graph co-purchase pairs: triangle, BFS, Adamic-Adar and Jaccard",
    ))


def stable_co(spark, sf_dir) -> tuple[DataFrame, DataFrame]:
    """(co, adj): the (u < v) part pairs co-purchased in >= 2 distinct
    orders and their adjacency, the adjacency computed once per session
    (``co`` is its u < v half).  The support count needs one row per
    co-purchasing order, so it is not derivable from ``co_pairs``, which
    has already collapsed them."""
    adj = session_cached(spark, ("stable_co", sf_dir), lambda: materialize(
        adjacency(
            _order_pairs(spark, sf_dir)
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("support"))
            .filter(F.col("support") >= 2)
        ),
        "graph stable co-purchase adjacency: k-core, local clustering, LPA and modularity",
    ))
    co = adj.filter(F.col("w") < F.col("nbr")).select(
        F.col("w").alias("u"), F.col("nbr").alias("v")
    )
    return co, adj


def purchases(spark, sf_dir) -> DataFrame:
    """DISTINCT (c, s) customer -> supplier purchase edges, once per
    session."""

    def build():
        o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        l = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
        return materialize(
            o.join(l, o.o_orderkey == l.l_orderkey)
            .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
            .distinct(),
            "graph purchase edges: PageRank, personalized PageRank and HITS",
        )

    return session_cached(spark, ("purchases", sf_dir), build)


def adjacency(pairs: DataFrame) -> DataFrame:
    """Both directions of the (u, v) edges as (w, nbr)."""
    return pairs.select(F.col("u").alias("w"), F.col("v").alias("nbr")).unionAll(
        pairs.select(F.col("v").alias("w"), F.col("u").alias("nbr"))
    )


def degrees(adj: DataFrame) -> DataFrame:
    """(w, d): each node's degree in the adjacency."""
    return adj.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("d"))


def capped_wedges(adj: DataFrame, deg: DataFrame) -> DataFrame:
    """(u, v, d): every neighbor pair u < v of a center whose degree d
    lies in 2..``MAX_CENTER_DEGREE``, one row per (center, pair) — the
    self-join hashes on the center."""
    capped = adj.join(deg, "w").filter(F.col("d").between(2, MAX_CENTER_DEGREE))
    x = capped.alias("x")
    y = capped.alias("y")
    return x.join(
        y, (F.col("x.w") == F.col("y.w")) & (F.col("x.nbr") < F.col("y.nbr"))
    ).select(F.col("x.nbr").alias("u"), F.col("y.nbr").alias("v"), F.col("x.d").alias("d"))


def bipartite(edges: DataFrame) -> DataFrame:
    """The adjacency of the (c, s) purchase edges in one node space:
    customer c is node 2c, supplier s node 2s + 1."""
    return adjacency(edges.select(
        (F.col("c") * 2).alias("u"), (F.col("s") * 2 + 1).alias("v")
    ))


def top_ranked(ranks: DataFrame) -> DataFrame:
    """The top 20 (node, rank) rows of a ``bipartite`` node space as
    (node_type, key, rank_micro), ties broken by node."""
    return (
        ranks.select(
            F.when(F.col("node") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("node_type"),
            F.expr("CAST(node DIV 2 AS BIGINT)").alias("key"),
            F.col("rank").alias("rank_micro"),
        )
        .orderBy(
            F.desc("rank_micro"),
            F.asc(F.expr("key * 2 + CAST(node_type = 'supplier' AS INT)")),
        )
        .limit(20)
    )


CO_SQL = """co AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )"""
ADJ_SQL = "adj AS (SELECT u AS w, v AS nbr FROM co UNION ALL SELECT v, u FROM co)"
DEG_SQL = "deg AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY w)"

# co/adj MATERIALIZED: consumers reference them many times (the k-core
# oracle's 10 unrolled layers each hit adj), and DuckDB inlines plain
# CTEs — materializing keeps the base scans O(1) instead of O(layers).
STABLE_CO_SQL = """
    op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    co AS MATERIALIZED (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    adj AS MATERIALIZED (SELECT u AS w, v AS nbr FROM co UNION ALL SELECT v, u FROM co)
"""

PURCHASE_SQL = """pairs AS (
        SELECT DISTINCT o.o_custkey * 2 AS u, l.l_suppkey * 2 + 1 AS v
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    edges AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY u)"""


def top_ranked_sql(ranks: str) -> str:
    """The ``top_ranked`` projection over CTE ``ranks`` (node, rank)."""
    return f"""
    SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
           CAST(node // 2 AS BIGINT) AS key, rank AS rank_micro
    FROM {ranks} ORDER BY rank_micro DESC, node LIMIT 20
    """


def components_sql(pairs: str, a: str = "doc1", b: str = "doc2",
                   node: str = "doc_id", label: str = "component_id") -> str:
    """Connected components by true reachability, as three CTEs over
    the undirected (``a``, ``b``) pairs of CTE ``pairs``: ``edges``
    (both directions), ``reach`` (every node with each label it reaches,
    itself included, by a recursive walk) and ``comp`` (``node``, the
    minimum reachable id as ``label``) — the labels
    ``operators.dedup.connected_components`` computes."""
    return f"""edges AS (
        SELECT {a} AS a, {b} AS b FROM {pairs}
        UNION ALL SELECT {b}, {a} FROM {pairs}
    ),
    reach AS (
        SELECT DISTINCT a AS doc, a AS label FROM edges
        UNION
        (
            WITH RECURSIVE walk(doc, label) AS (
                SELECT DISTINCT a, a FROM edges
                UNION
                SELECT e.a, w.label FROM edges e JOIN walk w ON e.b = w.doc
            )
            SELECT doc, label FROM walk
        )
    ),
    comp AS (
        SELECT doc AS {node}, CAST(MIN(label) AS BIGINT) AS {label}
        FROM reach GROUP BY doc
    )"""
