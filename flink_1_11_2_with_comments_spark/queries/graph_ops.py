"""Graph operator queries — SURVEY §2.11 (Gelly / DataSet iterations).

The graph is derived from the star schema: supplier→nation,
customer→nation, nation→region edges over disjoint node-id ranges.
Connected components = the five region clusters; PageRank mass flows
customers/suppliers → nations → regions.

Oracles: connected components via a recursive CTE (min reachable
label — the declarative fixpoint of the same label propagation);
PageRank and label propagation via unrolled iterations of identical
math; Jaccard/Adamic-Adar/clustering-coefficient via the same wedge
joins (Adamic-Adar terms in exact decimal). Clustering coefficient
runs on the part co-purchase graph, where triangle structure is
non-vacuous (the star graph is a forest).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import _REGISTRY, register
from ._util import dsum, sql_dsum, t

_EDGE_SQL = """
      SELECT CAST(n_nationkey + 2000 AS BIGINT) AS src,
             CAST(n_regionkey + 1000 AS BIGINT) AS dst FROM nation
      UNION ALL
      SELECT CAST(s_suppkey + 3000 AS BIGINT), CAST(s_nationkey + 2000 AS BIGINT)
      FROM supplier
      UNION ALL
      SELECT CAST(c_custkey + 4000 AS BIGINT), CAST(c_nationkey + 2000 AS BIGINT)
      FROM customer WHERE c_custkey <= 300
"""


def _edges(spark, sf_dir):
    nation = t(spark, sf_dir, "nation")
    supp = t(spark, sf_dir, "supplier")
    cust = t(spark, sf_dir, "customer").where(F.col("c_custkey") <= 300)
    e1 = nation.select((F.col("n_nationkey") + 2000).cast("bigint").alias("src"),
                       (F.col("n_regionkey") + 1000).cast("bigint").alias("dst"))
    e2 = supp.select((F.col("s_suppkey") + 3000).cast("bigint").alias("src"),
                     (F.col("s_nationkey") + 2000).cast("bigint").alias("dst"))
    e3 = cust.select((F.col("c_custkey") + 4000).cast("bigint").alias("src"),
                     (F.col("c_nationkey") + 2000).cast("bigint").alias("dst"))
    return e1.unionAll(e2).unionAll(e3)


@register(
    "graph_connected_components",
    f"""
    WITH RECURSIVE edges AS ({_EDGE_SQL}),
    undirected AS (
      SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
    ),
    reach(node, lbl) AS (
      SELECT DISTINCT src, src FROM undirected
      UNION
      SELECT u.dst, r.lbl FROM reach r JOIN undirected u ON u.src = r.node
    )
    SELECT node, MIN(lbl) AS component FROM reach GROUP BY node
    """,
    doc="Connected components via frontier-delta label propagation — "
        "Gelly ConnectedComponents / DataSet.iterateDelta "
        "(DataSet.java:1179): solution set + shrinking workset, each "
        "round joins only the changed nodes. The five region clusters "
        "emerge as components. operators/graph.connected_components is "
        "one call into the generic operators/graph.pregel loop "
        "(known-answer pin: tests/test_semantics.py). Oracle: "
        "recursive-CTE transitive closure of the same fixpoint.",
)
def graph_connected_components(spark, sf_dir):
    from ..operators.graph import connected_components
    return connected_components(_edges(spark, sf_dir))


def _pagerank_oracle() -> str:
    prev = "r0"
    ctes = [f"edges AS ({_EDGE_SQL})",
            """deg AS (SELECT src AS n, COUNT(*) AS deg FROM edges GROUP BY src)""",
            """nodes AS (SELECT DISTINCT src AS node FROM edges
                 UNION SELECT DISTINCT dst FROM edges)""",
            "r0 AS (SELECT node, 1.0 AS rank FROM nodes)"]
    for i in (1, 2, 3):
        ctes.append(f"""
    r{i} AS (
      SELECT nodes.node,
             ROUND(0.15 + 0.85 * COALESCE(s.inflow, 0.0), 9) AS rank
      FROM nodes LEFT JOIN (
        SELECT e.dst AS node,
               CAST(SUM(CAST(p.rank / deg.deg AS DECIMAL(38,10))) AS DOUBLE)
                 AS inflow
        FROM edges e
        JOIN {prev} p ON e.src = p.node
        JOIN deg ON e.src = deg.n
        GROUP BY e.dst
      ) s ON nodes.node = s.node
    )""")
        prev = f"r{i}"
    return ("WITH " + ",\n".join(ctes)
            + "\n    SELECT node, rank FROM r3")


@register(
    "graph_pagerank",
    _pagerank_oracle(),
    doc="PageRank, 3 fixed iterations, damping 0.85 (simple variant, "
        "dangling mass dropped) — Gelly PageRank / DataSet.iterate "
        "(DataSet.java:1131). Decimal-summed contributions rounded per "
        "iteration make the ranks engine-exact; oracle unrolls the same "
        "three iterations in SQL.",
)
def graph_pagerank(spark, sf_dir):
    from ..operators.graph import pagerank
    return pagerank(_edges(spark, sf_dir), iterations=3, damping=0.85)


# Reversed (region → nation → supplier/customer) weighted DAG, plus
# region→supplier shortcut edges so supplier distances have competing
# paths and the min is non-trivial. Weights are deterministic small
# integers derived from keys — path sums stay exact in double.
_SSSP_EDGE_SQL = """
      SELECT CAST(n_regionkey + 1000 AS BIGINT) AS src,
             CAST(n_nationkey + 2000 AS BIGINT) AS dst,
             CAST(n_nationkey % 3 + 1 AS DOUBLE) AS weight FROM nation
      UNION ALL
      SELECT CAST(s_nationkey + 2000 AS BIGINT),
             CAST(s_suppkey + 3000 AS BIGINT),
             CAST(s_suppkey % 4 + 1 AS DOUBLE) FROM supplier
      UNION ALL
      SELECT CAST(s_suppkey % 5 + 1000 AS BIGINT),
             CAST(s_suppkey + 3000 AS BIGINT),
             CAST(6 AS DOUBLE) FROM supplier
      UNION ALL
      SELECT CAST(c_nationkey + 2000 AS BIGINT),
             CAST(c_custkey + 4000 AS BIGINT),
             CAST(c_custkey % 5 + 1 AS DOUBLE) FROM customer
      WHERE c_custkey <= 300
"""


def _sssp_edges(spark, sf_dir):
    nation = t(spark, sf_dir, "nation")
    supp = t(spark, sf_dir, "supplier")
    cust = t(spark, sf_dir, "customer").where(F.col("c_custkey") <= 300)
    e1 = nation.select(
        (F.col("n_regionkey") + 1000).cast("bigint").alias("src"),
        (F.col("n_nationkey") + 2000).cast("bigint").alias("dst"),
        (F.col("n_nationkey") % 3 + 1).cast("double").alias("weight"))
    e2 = supp.select(
        (F.col("s_nationkey") + 2000).cast("bigint").alias("src"),
        (F.col("s_suppkey") + 3000).cast("bigint").alias("dst"),
        (F.col("s_suppkey") % 4 + 1).cast("double").alias("weight"))
    e3 = supp.select(
        (F.col("s_suppkey") % 5 + 1000).cast("bigint").alias("src"),
        (F.col("s_suppkey") + 3000).cast("bigint").alias("dst"),
        F.lit(6.0).alias("weight"))
    e4 = cust.select(
        (F.col("c_nationkey") + 2000).cast("bigint").alias("src"),
        (F.col("c_custkey") + 4000).cast("bigint").alias("dst"),
        (F.col("c_custkey") % 5 + 1).cast("double").alias("weight"))
    return e1.unionAll(e2).unionAll(e3).unionAll(e4)


def _pregel_sssp(spark, sf_dir):
    """SSSP from region node 1000 as one pregel call: scatter =
    distance + weight, combine = MIN, update = LEAST."""
    from ..operators.graph import pregel
    initial = spark.createDataFrame([(1000, 0.0)],
                                    "node bigint, value double")
    out = pregel(
        _sssp_edges(spark, sf_dir), initial,
        send_msg=F.col("value") + F.col("weight"),
        merge_msg=F.min, update=F.least, max_iter=10, algo="sssp")
    return out.select("node", F.col("value").alias("distance"))


@register(
    "graph_sssp",
    f"""
    WITH RECURSIVE edges AS ({_SSSP_EDGE_SQL}),
    paths(node, d) AS (
      SELECT CAST(1000 AS BIGINT), CAST(0 AS DOUBLE)
      UNION ALL
      SELECT e.dst, p.d + e.weight FROM paths p JOIN edges e ON e.src = p.node
    )
    SELECT node, MIN(d) AS distance FROM paths GROUP BY node
    """,
    doc="Single-source shortest paths from region node 1000 over the "
        "weighted reversed star DAG (+ shortcut edges so supplier "
        "distances pick the cheaper of nation-path vs shortcut) — Gelly "
        "SingleSourceShortestPaths via frontier-delta relax rounds on "
        "the generic operators/graph.pregel loop (scatter = distance + "
        "weight, combine = MIN, update = LEAST; the same call as "
        "graph_pregel_sssp). Oracle: recursive-CTE path enumeration "
        "+ MIN (safe: DAG, depth ≤ 2).",
)
def graph_sssp(spark, sf_dir):
    return _pregel_sssp(spark, sf_dir)


@register(
    "graph_triangle_count",
    f"""
    WITH base AS ({_EDGE_SQL}),
    und AS (
      SELECT src, dst FROM base UNION SELECT dst, src FROM base
    ),
    canon AS (
      SELECT DISTINCT src AS a, dst AS b FROM und WHERE src < dst
    )
    SELECT COUNT(*) AS n_triangles FROM canon e1
    JOIN canon e2 ON e1.b = e2.a
    JOIN canon e3 ON e1.a = e3.a AND e2.b = e3.b
    """,
    doc="Triangle counting — Gelly TriangleEnumerator/TriangleCount "
        "(flink-libraries/flink-gelly/.../library/TriangleEnumerator."
        "java): canonical a<b<c edge orientation, two joins enumerate "
        "wedges then close them. Star-schema graph has 0 triangles "
        "until customer-supplier co-nation shortcuts are added — the "
        "oracle proves the zero; operators/graph.triangle_count is the "
        "general operator (tests add a triangulated graph).",
)
def graph_triangle_count(spark, sf_dir):
    from ..operators.graph import triangle_count
    return triangle_count(_edges(spark, sf_dir))


def _lp_round(prev: str, cur: str) -> str:
    return f"""
    n{cur} AS (
      SELECT u.src AS node, l.lbl, COUNT(*) AS c
      FROM und u JOIN l{prev} l ON l.node = u.dst
      GROUP BY 1, 2
    ), l{cur} AS (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY c DESC, lbl) AS rn
        FROM n{cur}) WHERE rn = 1
    )"""


@register(
    "graph_label_propagation",
    f"""
    WITH edges AS ({_EDGE_SQL}),
    und AS (
      SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
    ),
    l0 AS (
      SELECT DISTINCT src AS node, src AS lbl FROM und
    ),{_lp_round('0', '1')},{_lp_round('1', '2')},{_lp_round('2', '3')}
    SELECT node, lbl FROM l3
    """,
    doc="Community detection by synchronous label propagation, 3 "
        "fixed rounds — Gelly's library algorithm "
        "(flink-gelly/.../library/LabelPropagation.java): each node "
        "adopts the most frequent neighbor label, ties to the "
        "smallest (fully deterministic). Per round: one |E|-sized "
        "join + one map-side-combinable count + one per-node top-1 "
        "window, lineage truncated per superstep "
        "(operators/graph.py label_propagation); the oracle unrolls "
        "the identical three rounds.",
)
def graph_label_propagation(spark, sf_dir):
    from ..operators.graph import label_propagation
    return label_propagation(_edges(spark, sf_dir), iterations=3)


@register(
    "graph_jaccard_index",
    f"""
    WITH edges AS ({_EDGE_SQL}),
    und AS (
      SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
    ),
    deg AS (SELECT src AS node, COUNT(*) AS d FROM und GROUP BY 1),
    common AS (
      SELECT u1.src AS a, u2.src AS b, COUNT(*) AS c
      FROM und u1 JOIN und u2
        ON u1.dst = u2.dst AND u1.src < u2.src
      GROUP BY 1, 2
    )
    SELECT c.a, c.b, CAST(c.c AS BIGINT) AS n_common,
           CAST(ROUND(c.c * 1.0 / (da.d + db.d - c.c), 6) AS DOUBLE)
             AS jaccard
    FROM common c JOIN deg da ON da.node = c.a
                  JOIN deg db ON db.node = c.b
    """,
    doc="Neighborhood Jaccard similarity for link prediction — "
        "Gelly's library JaccardIndex "
        "(flink-gelly/.../library/similarity/JaccardIndex.java): for "
        "every vertex pair sharing at least one neighbor, "
        "|N(a) n N(b)| / |N(a) u N(b)|. One wedge self-join keyed by "
        "the shared neighbor (never all-pairs: pair volume is "
        "sum-of-squared-degrees), hub-salted via "
        "operators/graph.salted_wedge_pairs — the Spark form of "
        "Gelly's adjacency-group splitting (JaccardIndex.java "
        "setGroupSize), so one hub cannot put d^2 candidate pairs on "
        "one task — then one count and two node-sized degree joins.",
)
def graph_jaccard_index(spark, sf_dir):
    from ..operators.graph import salted_wedge_pairs
    und = _edges(spark, sf_dir)
    und = und.select("src", "dst").union(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = und.groupBy(F.col("src").alias("node")) \
        .agg(F.count("*").alias("d"))
    common = (salted_wedge_pairs(und, center="dst", endpoint="src")
              .groupBy("a", "b")
              .agg(F.count("*").alias("c")))
    da = deg.select(F.col("node").alias("ka"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("kb"), F.col("d").alias("db"))
    return (common.join(da, common.a == da.ka)
            .join(db, common.b == db.kb)
            .select("a", "b", F.col("c").cast("bigint").alias("n_common"),
                    F.round(F.col("c")
                            / (F.col("da") + F.col("db") - F.col("c")),
                            6).cast("double").alias("jaccard")))


@register(
    "graph_jaccard_index_salted",
    _REGISTRY["graph_jaccard_index"].oracle,
    doc="graph_jaccard_index with the hub-salting cap forced DOWN to 4 "
        "so the bucket-pair block join actually engages on testdata "
        "degrees (the default 2048 cap degenerates to the plain wedge "
        "join there): proves the salted enumeration is result-identical "
        "against the same DuckDB oracle while spreading a degree-d "
        "center over ceil(d/4)^2-ish block tasks. Gelly precedent: "
        "JaccardIndex.setGroupSize "
        "(flink-gelly/.../library/similarity/JaccardIndex.java).",
)
def graph_jaccard_index_salted(spark, sf_dir):
    from ..operators.graph import salted_wedge_pairs
    und = _edges(spark, sf_dir)
    und = und.select("src", "dst").union(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = und.groupBy(F.col("src").alias("node")) \
        .agg(F.count("*").alias("d"))
    common = (salted_wedge_pairs(und, center="dst", endpoint="src", cap=4)
              .groupBy("a", "b")
              .agg(F.count("*").alias("c")))
    da = deg.select(F.col("node").alias("ka"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("kb"), F.col("d").alias("db"))
    return (common.join(da, common.a == da.ka)
            .join(db, common.b == db.kb)
            .select("a", "b", F.col("c").cast("bigint").alias("n_common"),
                    F.round(F.col("c")
                            / (F.col("da") + F.col("db") - F.col("c")),
                            6).cast("double").alias("jaccard")))


@register(
    "graph_adamic_adar",
    f"""
    WITH edges AS ({_EDGE_SQL}),
    und AS (
      SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
    ),
    deg AS (SELECT src AS node, COUNT(*) AS d FROM und GROUP BY 1)
    SELECT u1.src AS a, u2.src AS b,
           {sql_dsum('1.0 / ln(dn.d)', 6)} AS aa_score
    FROM und u1
    JOIN und u2 ON u1.dst = u2.dst AND u1.src < u2.src
    JOIN deg dn ON dn.node = u1.dst
    WHERE dn.d > 1
    GROUP BY 1, 2
    """,
    doc="Adamic-Adar link-prediction score — Gelly's library "
        "AdamicAdar (flink-gelly/.../library/similarity/"
        "AdamicAdar.java): sum over common neighbors n of "
        "1/ln(deg(n)), weighting rare shared neighbors higher. Same "
        "hub-salted wedge enumeration as Jaccard "
        "(operators/graph.salted_wedge_pairs) — and since the helper "
        "already annotates the CENTER degree, the old post-wedge "
        "degree join disappears entirely. The per-term doubles "
        "accumulate in exact decimal (queries/_util.py discipline) so "
        "both engines sum bit-identically in any order. Degree-1 "
        "centers are excluded (ln 1 = 0 — Gelly filters them the "
        "same way).",
)
def graph_adamic_adar(spark, sf_dir):
    from ..operators.graph import salted_wedge_pairs
    und = _edges(spark, sf_dir)
    und = und.select("src", "dst").union(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return (salted_wedge_pairs(und, center="dst", endpoint="src")
            .where(F.col("center_degree") > 1)
            .groupBy("a", "b")
            .agg(dsum(1.0 / F.log(F.col("center_degree")), 6)
                 .alias("aa_score")))


def _copurchase_pairs(spark, sf_dir, persist=True):
    """Distinct part pairs sharing an order — ONE shuffle via
    cooccurrence_pairs (order baskets are <= 13 items, so the
    map-side expansion is skew-safe) instead of the lineitem
    self-join that shuffles the fact table twice.

    persist=True caches the pair table for consumers that read it
    several times in one plan (clustering coefficient: both edge
    orientations + the triangle probe) — one fact scan, not one per
    use. graph_k_core passes False: k_core_pairs checkpoints its own
    edge list immediately, so a persist would only add a redundant
    copy."""
    from ..operators.graph import cooccurrence_pairs
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = (cooccurrence_pairs(li, "l_orderkey", "l_partkey")
             .select("a", "b").distinct())
    return pairs.persist() if persist else pairs


@register(
    "graph_clustering_coefficient",
    """
    WITH pairs AS (
      SELECT DISTINCT LEAST(a.l_partkey, b.l_partkey) AS a,
             GREATEST(a.l_partkey, b.l_partkey) AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    und AS (
      SELECT a AS src, b AS dst FROM pairs
      UNION ALL SELECT b, a FROM pairs
    ),
    deg AS (SELECT src AS node, COUNT(*) AS d FROM und GROUP BY 1),
    tri AS (
      SELECT u1.src AS node, COUNT(*) AS t
      FROM und u1
      JOIN und u2 ON u1.src = u2.src AND u1.dst < u2.dst
      JOIN pairs e ON e.a = u1.dst AND e.b = u2.dst
      GROUP BY 1
    )
    SELECT d.node, CAST(d.d AS BIGINT) AS degree,
           CAST(COALESCE(t.t, 0) AS BIGINT) AS n_triangles,
           CAST(ROUND(2.0 * COALESCE(t.t, 0) / (d.d * (d.d - 1)), 6)
                AS DOUBLE) AS lcc
    FROM deg d LEFT JOIN tri t ON t.node = d.node
    WHERE d.d > 1
    """,
    doc="Local clustering coefficient — Gelly's library "
        "LocalClusteringCoefficient (flink-gelly/.../library/"
        "clustering/undirected/LocalClusteringCoefficient.java) — "
        "over the PART CO-PURCHASE graph (parts sharing an order; "
        "the star-schema graph is a forest, so the metric would be "
        "vacuously zero there): per vertex, closed wedges / possible "
        "wedges = 2T(v)/(d(v)(d(v)-1)). Edge build is ONE shuffle "
        "(per-order item sets expanded to pairs map-side, "
        "operators/graph.cooccurrence_pairs) + DISTINCT — not the "
        "self-join that shuffles lineitem twice; the wedge enumeration is "
        "keyed by the center vertex and hub-salted "
        "(operators/graph.salted_wedge_pairs), so a high-degree part "
        "cannot put its d^2 neighbor pairs on one task — the "
        "degree-aware enumeration Gelly's implementation gets by "
        "annotating degrees first.",
)
def graph_clustering_coefficient(spark, sf_dir):
    from ..operators.graph import salted_wedge_pairs
    pairs = _copurchase_pairs(spark, sf_dir)
    und = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")) \
        .unionAll(pairs.select(F.col("b").alias("src"),
                               F.col("a").alias("dst")))
    deg = und.groupBy(F.col("src").alias("node")) \
        .agg(F.count("*").alias("d"))
    w = salted_wedge_pairs(und, center="src", endpoint="dst")
    e = pairs.select(F.col("a").alias("ea"), F.col("b").alias("eb"))
    tri = (w.join(e, (w.a == F.col("ea")) & (w.b == F.col("eb")))
           .groupBy(F.col("center").alias("tn"))
           .agg(F.count("*").alias("t")))
    return (deg.where(F.col("d") > 1)
            .join(tri, deg.node == tri.tn, "left")
            .select("node", F.col("d").cast("bigint").alias("degree"),
                    F.coalesce(F.col("t"), F.lit(0)).cast("bigint")
                    .alias("n_triangles"),
                    F.round(2.0 * F.coalesce(F.col("t"), F.lit(0))
                            / (F.col("d") * (F.col("d") - 1)), 6)
                    .cast("double").alias("lcc")))


def _hits_oracle(iterations: int = 3) -> str:
    """Unrolled HITS: each round replays the identical decimal-summed
    mat-vec + L2 normalization at the same rounding, so DuckDB
    reproduces the Spark trajectory bit-exactly."""
    ctes = [f"edges AS ({_EDGE_SQL})",
            """nodes AS (SELECT DISTINCT src AS node FROM edges
                 UNION SELECT DISTINCT dst FROM edges)""",
            "h0 AS (SELECT node, 1.0 AS hub FROM nodes)"]
    phase = """
    {out}_raw AS (
      SELECT nodes.node, COALESCE(s.raw, 0.0) AS raw
      FROM nodes LEFT JOIN (
        SELECT e.{to_col} AS node,
               CAST(ROUND(SUM(CAST(p.{score} AS DECIMAL(38,10))), 12)
                    AS DOUBLE) AS raw
        FROM edges e JOIN {prev} p ON e.{from_col} = p.node
        GROUP BY e.{to_col}
      ) s ON nodes.node = s.node
    ), {out}_n AS (
      SELECT ROUND(sqrt(CAST(ROUND(SUM(CAST(raw * raw
                                            AS DECIMAL(38,10))), 12)
                             AS DOUBLE)), 12) AS nrm
      FROM {out}_raw
    ), {out} AS (
      SELECT node, ROUND(raw / nrm, 9) AS {alias}
      FROM {out}_raw, {out}_n
    )"""
    for r in range(1, iterations + 1):
        ctes.append(phase.format(out=f"a{r}", prev=f"h{r - 1}",
                                 score="hub", from_col="src",
                                 to_col="dst", alias="auth"))
        ctes.append(phase.format(out=f"h{r}", prev=f"a{r}",
                                 score="auth", from_col="dst",
                                 to_col="src", alias="hub"))
    return ("WITH " + ",\n".join(ctes)
            + f"""
    SELECT h.node, h.hub, a.auth AS authority
    FROM h{iterations} h JOIN a{iterations} a ON h.node = a.node""")


@register(
    "graph_hits",
    _hits_oracle(3),
    doc="HITS hubs & authorities, 3 fixed iterations with per-round "
        "L2 normalization — Gelly's link-analysis library algorithm "
        "(flink-gelly/.../library/linkanalysis/HITS.java:66). "
        "Authority mass concentrates on nations/regions (in-degree "
        "hubs of the star schema), hub mass on the leaf suppliers/"
        "customers. Decimal-summed contributions and rounded "
        "iterates (12/9 dp) make the trajectory engine-exact; the "
        "oracle unrolls the same six half-steps in SQL.",
)
def graph_hits(spark, sf_dir):
    from ..operators.graph import hits
    return hits(_edges(spark, sf_dir), iterations=3)


@register(
    "graph_summarization",
    f"""
    WITH edges AS ({_EDGE_SQL}),
    nodes AS (
      SELECT DISTINCT src AS node FROM edges
      UNION SELECT DISTINCT dst FROM edges
    ),
    groups AS (
      SELECT node, CAST(node // 1000 AS BIGINT) AS grp FROM nodes
    ),
    members AS (
      SELECT grp, COUNT(*) AS n_members FROM groups GROUP BY grp
    ),
    sedges AS (
      SELECT gs.grp AS src_grp, gd.grp AS dst_grp,
             COUNT(*) AS n_edges
      FROM edges e
      JOIN groups gs ON e.src = gs.node
      JOIN groups gd ON e.dst = gd.node
      GROUP BY 1, 2
    )
    SELECT s.src_grp, s.dst_grp, s.n_edges,
           ms.n_members AS src_members, md.n_members AS dst_members
    FROM sedges s
    JOIN members ms ON s.src_grp = ms.grp
    JOIN members md ON s.dst_grp = md.grp
    """,
    doc="Graph summarization — Gelly's Summarization library "
        "algorithm (flink-gelly/.../library/Summarization.java:70): "
        "collapse vertices into their group value (node-id band = "
        "entity type: region/nation/supplier/customer), emit one "
        "summary edge per (source group, target group) with the "
        "original edge count plus both groups' member counts. Two "
        "joins against the vertex-group map + three aggregates; "
        "group cardinality is tiny so the summary joins broadcast.",
)
def graph_summarization(spark, sf_dir):
    from ..operators.graph import summarize
    edges = _edges(spark, sf_dir)
    nodes = (edges.select(F.col("src").alias("node"))
             .union(edges.select(F.col("dst").alias("node"))).distinct())
    groups = nodes.select(
        "node", F.floor(F.col("node") / 1000).cast("bigint").alias("grp"))
    s = summarize(edges, groups)
    sv = s["vertices"]
    se = s["edges"]
    ms = sv.select(F.col("grp").alias("g1"),
                   F.col("n_members").alias("src_members"))
    md = sv.select(F.col("grp").alias("g2"),
                   F.col("n_members").alias("dst_members"))
    return (se.join(F.broadcast(ms), se.src_grp == F.col("g1"))
            .join(F.broadcast(md), se.dst_grp == F.col("g2"))
            .select("src_grp", "dst_grp", "n_edges",
                    "src_members", "dst_members"))


@register(
    "graph_pregel_sssp",
    _REGISTRY["graph_sssp"].oracle,
    doc="SSSP re-derived through the GENERIC vertex-centric iteration "
        "(operators/graph.pregel — Gelly's VertexCentricIteration.java"
        ":88 / ScatterGatherIteration.java:90 abstraction): scatter = "
        "value + edge weight, combine = MIN, update = LEAST(old, msg),"
        " frontier-delta supersteps (only changed vertices scatter). "
        "Same recursive-CTE oracle as graph_sssp — the abstraction "
        "must reproduce the library algorithm exactly.",
)
def graph_pregel_sssp(spark, sf_dir):
    return _pregel_sssp(spark, sf_dir)


@register(
    "graph_pregel_components",
    _REGISTRY["graph_connected_components"].oracle,
    doc="Connected components through the same generic pregel "
        "operator: every vertex starts with its own id, scatters its "
        "current label along (undirected) edges, combine = MIN, "
        "update = LEAST — the label-flood formulation Gelly's "
        "ConnectedComponents library algorithm runs on its "
        "scatter-gather iteration. Same min-reachable-label "
        "recursive-CTE oracle as graph_connected_components.",
)
def graph_pregel_components(spark, sf_dir):
    from ..operators.graph import pregel
    edges = _edges(spark, sf_dir)
    und = edges.unionAll(edges.select(F.col("dst").alias("src"),
                                      F.col("src").alias("dst")))
    initial = (und.select(F.col("src").alias("node")).distinct()
               .withColumn("value", F.col("node")))
    out = pregel(
        und, initial,
        send_msg=F.col("value"),
        merge_msg=lambda c: F.min(c),
        update=lambda old, msg: F.least(old, msg),
        max_iter=20, algo="pregel_components")
    return out.select("node", F.col("value").alias("component"))


def _k_core_oracle(k: int, rounds: int) -> str:
    ctes = ["""pairs AS MATERIALIZED (
      SELECT DISTINCT LEAST(a.l_partkey, b.l_partkey) AS a,
             GREATEST(a.l_partkey, b.l_partkey) AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )""", """und AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM pairs
      UNION ALL SELECT b, a FROM pairs
    )""", "alive0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM und)"]
    for i in range(rounds):
        ctes.append(f"""alive{i + 1} AS MATERIALIZED (
      SELECT u.src AS node FROM und u
      JOIN alive{i} s ON u.src = s.node
      JOIN alive{i} d ON u.dst = d.node
      GROUP BY u.src HAVING COUNT(*) >= {k}
    )""")
    return ("WITH " + ",\n    ".join(ctes) + f"""
    SELECT u.src AS node, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM und u
    JOIN alive{rounds} s ON u.src = s.node
    JOIN alive{rounds} d ON u.dst = d.node
    GROUP BY u.src""")


@register(
    "graph_k_core",
    _k_core_oracle(k=80, rounds=8),
    doc="k-core decomposition (k=80) over the part co-purchase graph "
        "— Gelly's iterative vertex-removal pattern "
        "(Graph.filterOnVertices under DataSet.iterate): peel "
        "vertices with in-subgraph degree < k until fixpoint, report "
        "the surviving core and each member's WITHIN-core degree. "
        "The co-purchase graph peels 143 of 2000 parts over 5 rounds "
        "at sf0.01 (the cascade: removing weakly-connected parts "
        "drops neighbors below k in turn) — the dense-cohort "
        "extraction used for community seeds and graph sparsification. "
        "operators/graph.k_core_pairs peels over the half-edge cache "
        "with lineage truncation; peeling only shrinks, so extra rounds "
        "are no-ops, which is exactly what lets the oracle UNROLL 8 "
        "identical SQL rounds past the fixpoint (the established "
        "iterative-oracle discipline of the Pregel/PageRank queries). "
        "Scale: each round is O(|E_alive|) keyed shuffles, no "
        "driver-side adjacency; the alive set only shrinks.",
)
def graph_k_core(spark, sf_dir):
    from ..operators.graph import k_core_pairs
    pairs = _copurchase_pairs(spark, sf_dir, persist=False)
    return k_core_pairs(pairs, k=80)
